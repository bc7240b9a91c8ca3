"""Schema-once table loads: ``io.load_table`` infers a table's schema
once per file identity, and the read-after-write sites pass the schema
they wrote instead of inferring it back."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from bubbles_spark import io as bio


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted through a
    fresh job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, n_first = _jobs(spark, lambda: bio.load_table(spark, str(tmp_path), "t"))
    second, n_second = _jobs(spark, lambda: bio.load_table(spark, str(tmp_path), "t"))
    assert n_first >= 1
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewrite_with_added_column_sees_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert bio.load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [0.5, 1.5]}), path)
    df, n = _jobs(spark, lambda: bio.load_table(spark, str(tmp_path), "t"))
    assert n >= 1
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, 0.5), (2, 1.5)]


def test_added_part_file_invalidates_directory_entry(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    assert bio.load_table(spark, str(tmp_path), "t").count() == 5
    _, n_hit = _jobs(spark, lambda: bio.load_table(spark, str(tmp_path), "t"))
    assert n_hit == 0
    spark.range(5, 8).write.mode("append").parquet(path)
    df, n_miss = _jobs(spark, lambda: bio.load_table(spark, str(tmp_path), "t"))
    assert n_miss >= 1
    assert sorted(r.id for r in df.collect()) == list(range(8))


def test_nanos_events_ts_same_on_miss_and_hit(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` reads as long and truncates to
    µs, with identical values whether the schema was just inferred or
    came from the cache."""
    ns = [1_704_067_200_123_456_789, 1_704_067_260_000_000_999, 1_704_153_600_999_999_999]
    table = pa.table(
        {"event_id": pa.array([1, 2, 3], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}
    )
    pq.write_table(table, tmp_path / "events.parquet")
    ts_type = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1).logical_type
    assert "timeUnit=nanoseconds" in str(ts_type)

    def ts_micros():
        df = bio.load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return [
            r.us for r in df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
        ]

    miss, n_miss = _jobs(spark, ts_micros)
    hit, n_hit = _jobs(spark, ts_micros)
    assert n_miss > n_hit
    assert miss == hit == [v // 1000 for v in ns]


def _explicit_vs_inferred(monkeypatch) -> list:
    """Patch ``DataFrameReader.parquet`` so every read records
    ``(schema it returned, schema Spark infers for the same files)``."""
    seen = []
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        df = orig(self, *paths, **options)
        seen.append((df.schema, orig(df.sparkSession.read, *paths).schema))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return seen


@pytest.mark.parametrize("partition_by", [None, ["event_type"]])
def test_stream_to_parquet_schema_matches_inferred(spark, tmp_path, partition_by):
    from bubbles_spark.streaming import events as sevents

    src = tmp_path / "src"
    src.mkdir()
    us = [1_704_067_200_000_000 + 60_000_000 * i for i in range(6)]
    events = {
        "event_id": pa.array(range(6), pa.int64()),
        "ts": pa.array(us, pa.timestamp("us")),
        "user_id": pa.array([1, 2, 1, 3, 2, 1], pa.int64()),
        "event_type": ["view", "click", "view", "buy", "click", "view"],
        "value": [0.5, 1.0, 1.5, 2.0, 2.5, 3.0],
        "props": ["{}"] * 6,
    }
    pq.write_table(pa.table(events), src / "events.parquet")
    stream = sevents.read_testdata_event_stream(spark, str(src))
    got = sevents.stream_to_parquet(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), partition_by=partition_by
    )
    inferred = spark.read.parquet(str(tmp_path / "out")).schema
    assert got.schema == inferred  # StructField equality includes nullability
    assert sorted(r.event_id for r in got.collect()) == list(range(6))


def test_connected_components_cut_schema_matches_inferred(spark, monkeypatch):
    """Every iteration cut of the iterative path reads its state file
    back with the schema it wrote; each must equal what Spark would
    infer from that file, nullability included (NOT NULL input columns
    read back nullable either way)."""
    from bubbles_spark.ops import dedup, graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long not null, id_b long not null"
    )
    monkeypatch.setattr(graph, "_SMALL_GRAPH_MAX_EDGES", -1)
    seen = _explicit_vs_inferred(monkeypatch)
    comp = {r["node_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert len(seen) >= 2
    for explicit, inferred in seen:
        assert explicit == inferred


def test_table_schema_path_forms_share_one_entry(spark, tmp_path):
    """Relative and absolute spellings of one table hit the same
    entry."""
    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    first = bio.table_schema(spark, str(tmp_path / "t.parquet"))
    rel = os.path.relpath(tmp_path / "t.parquet")
    again, n = _jobs(spark, lambda: bio.table_schema(spark, rel))
    assert n == 0
    assert again is first
