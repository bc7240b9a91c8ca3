"""Shared pytest fixtures (SURVEY.md §5: tiny in-memory row fixtures
in the reference's unit-test style, plus the driver-generated sf0.001
parquet for recall/property checks)."""

from __future__ import annotations

import pytest

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from bubbles_spark.session import get_spark

    s = get_spark("bubbles_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def fold_calls(monkeypatch):
    """Record every call of ``core._one_task_fold``, the harness behind
    every small-input fast path; the list grows by one per call."""
    from bubbles_spark.ops import core

    calls: list = []
    real = core._one_task_fold

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(core, "_one_task_fold", spy)
    return calls


@pytest.fixture(scope="session")
def people(spark):
    """The reference's canonical tiny fixture shape: (id, label, amount)."""
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, "a", 30.0),
            (4, None, 40.0),
            (5, "c", None),
            (6, "a", 10.0),
        ],
        "id long, label string, amount double",
    )


@pytest.fixture(scope="session")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content with unique words here"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, ""),
        ],
        "doc_id long, text string",
    )
