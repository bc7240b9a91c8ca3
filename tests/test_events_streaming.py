"""Batch event-time windows + sessionization + the streaming twin."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from bubbles_spark.ops import events


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def _fixture(spark):
    rows = [
        (1, _ts(0), 10, "a", 1.0),
        (2, _ts(5), 10, "a", 2.0),
        (3, _ts(65), 10, "b", 3.0),   # next hour; 60-min gap from prev
        (4, _ts(70), 20, "a", 4.0),
        (5, _ts(130), 20, "a", 5.0),  # exactly 60 min after event 4
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_tumbling_window(spark):
    df = _fixture(spark)
    out = events.tumbling_window(df, "ts", "1 hour", measures=[("value", "sum")])
    got = {r["window_start"].minute + 60 * r["window_start"].hour: r for r in out.collect()}
    assert got[0]["value_sum"] == 3.0 and got[0]["record_count"] == 2
    assert got[60]["value_sum"] == 7.0
    assert got[120]["value_sum"] == 5.0


def test_sliding_window_counts(spark):
    df = _fixture(spark)
    out = events.sliding_window(df, "ts", "2 hours", "1 hour", measures=[("value", "sum")])
    # every event lands in exactly 2 windows
    assert sum(r["record_count"] for r in out.collect()) == 2 * df.count()


def test_session_window_and_sessionize_agree(spark):
    df = _fixture(spark)
    sw = events.session_window(df, "ts", "30 minutes", keys=["user_id"])
    # user 10: [0,5] then [65]; user 20: [70], [130]
    assert sw.count() == 4
    lab = events.sessionize(df, "ts", "user_id", 30.0)
    sessions = (
        lab.groupBy("user_id", "session_id").count().orderBy("user_id", "session_id")
    ).collect()
    assert [(r["user_id"], r["count"]) for r in sessions] == [
        (10, 2), (10, 1), (20, 1), (20, 1),
    ]


def test_parse_props(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, "not json"), (3, None)], "event_id long, props string"
    )
    got = {r["event_id"]: r["k"] for r in events.parse_props(df).collect()}
    assert got == {1: 7, 2: None, 3: None}


def test_streaming_twin_tumbling(spark, tmp_path):
    """The same window plan runs as a Structured Streaming query
    (availableNow trigger + memory sink, driven to completion)."""
    from bubbles_spark.streaming import events as sevents

    df = _fixture(spark).withColumn("props", F.lit('{"k": 1}'))
    src_dir = str(tmp_path / "src")
    df.write.parquet(src_dir)
    stream = sevents.read_event_stream(spark, src_dir)
    agg = sevents.windowed_agg_stream(
        stream, "ts", "1 hour", keys=(), watermark="2 hours"
    )
    out = sevents.run_batchlike(agg, "t_tumbling", output_mode="complete").collect()
    assert sum(r["record_count"] for r in out) == df.count()
    assert sum(r["value_sum"] for r in out) == 15.0


def test_streaming_dedup(spark, tmp_path):
    from bubbles_spark.streaming import events as sevents

    df = _fixture(spark).withColumn("props", F.lit("{}"))
    dup = df.union(df)  # every event twice
    src_dir = str(tmp_path / "dupsrc")
    dup.write.parquet(src_dir)
    stream = sevents.read_event_stream(spark, src_dir)
    clean = sevents.dedup_stream(stream, keys=("event_id",))
    out = sevents.run_batchlike(clean, "t_dedup", output_mode="append").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2, 3, 4, 5]


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization emits the same closed
    sessions as the batch gap-and-island operator (final open sessions
    flush via the event-time timeout once the watermark passes)."""
    from bubbles_spark.streaming import events as sevents

    df = _fixture(spark).withColumn("props", F.lit("{}"))
    # a far-future heartbeat event per user advances the watermark past
    # every real session's gap so timeouts fire within the run
    flush = spark.createDataFrame(
        [(98, _ts(10_000), 10, "x", 0.0, "{}"), (99, _ts(10_000), 20, "x", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    src_dir = str(tmp_path / "sess_src")
    # one micro-batch holding data + heartbeats: the per-user in-batch
    # gap logic closes every real session (heartbeat is 30+ min later),
    # so emission does not depend on file ordering or timeout batches
    df.unionByName(flush).coalesce(1).write.parquet(src_dir)
    stream = sevents.read_event_stream(spark, src_dir)
    sess = sevents.sessionize_stream(
        stream, gap_minutes=30.0, watermark="0 seconds"
    )
    out = sevents.run_batchlike(sess, "t_sess", output_mode="append").collect()
    got = {
        (r["user_id"], r["session_start"].minute + 60 * r["session_start"].hour):
        (r["record_count"], r["value_sum"])
        for r in out
    }
    # batch truth: user 10 -> [0,5] (2 ev, 3.0) + [65] (1 ev, 3.0);
    # user 20 -> [70] (4.0), [130] (5.0); heartbeats form their own sessions
    assert got[(10, 0)] == (2, 3.0)
    assert got[(10, 65)] == (1, 3.0)
    assert got[(20, 70)] == (1, 4.0)
    assert got[(20, 130)] == (1, 5.0)


def test_read_testdata_event_stream(spark):
    """Streaming read of the driver testdata (single-file layout)
    matches the batch loader's row count, ts dtype, and timestamp
    range — whatever physical ts type the driver wrote (ns or µs)."""
    import os

    from bubbles_spark.io import load_table
    from bubbles_spark.streaming import events as sevents

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    stream = sevents.read_testdata_event_stream(spark, sf_dir)
    assert stream.isStreaming
    out = sevents.run_batchlike(stream, "t_testdata_stream")
    batch = load_table(spark, sf_dir, "events")
    assert out.count() == batch.count()
    # reader always emits a watermark-compatible TIMESTAMP (NTZ files
    # are cast under the pinned UTC session tz — same wall-clock)
    assert dict(out.dtypes)["ts"] == "timestamp"
    s_min = out.agg(F.min("ts"), F.max("ts")).collect()[0]
    b_min = batch.agg(F.min("ts"), F.max("ts")).collect()[0]
    assert tuple(s_min) == tuple(b_min)


def test_stream_to_parquet_sink(spark, tmp_path):
    """Streaming file sink: drains the stream to a partitioned parquet
    directory with exactly-once checkpointing and reads back the same
    rows; a second run with the same checkpoint writes nothing new."""
    import os

    from bubbles_spark.streaming import events as sevents

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    stream = sevents.read_testdata_event_stream(spark, sf_dir)
    got = sevents.stream_to_parquet(
        stream, out_dir, ckpt, partition_by=["event_type"]
    )
    from bubbles_spark.io import load_table

    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.count()
    # partition layout materialized for pruning
    assert any(p.startswith("event_type=") for p in os.listdir(out_dir))

    # exactly-once: same checkpoint, no new input -> no duplicate rows
    stream2 = sevents.read_testdata_event_stream(spark, sf_dir)
    again = sevents.stream_to_parquet(stream2, out_dir, ckpt)
    assert again.count() == batch.count()


def test_docs_ingest_dedup_stream(spark, tmp_path):
    """Streaming quality-gate + per-shard exact dedup: within-shard
    duplicates collapse, cross-shard duplicates survive (global dedup
    is the batch pass's job), junk quality is filtered."""
    from bubbles_spark.streaming import events as sevents

    good = (
        "the quick brown fox jumps over the lazy dog and then walks "
        "back home to rest for a while before dinner is served"
    )
    rows = [
        (1, good, "web"),
        (2, good, "web"),        # within-shard dup of 1
        (3, good, "books"),      # cross-shard dup: KEPT
        (4, "zzz", "web"),       # junk: fails the quality gate
        (5, good + " extended with more words", "web"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "stream_src"
    src.mkdir()
    # single-FILE layout (like the driver testdata), not a spark dir
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "source": [r[2] for r in rows],
            }
        ),
        str(src / "documents.parquet"),
    )

    stream = sevents.read_testdata_table_stream(spark, str(src), "documents")
    clean = sevents.docs_ingest_dedup_stream(stream)
    got = sevents.run_batchlike(clean, "t_docs_ingest")
    kept = {(r["source"], r["text"][:20]) for r in got.collect()}
    assert got.count() == 3
    assert ("web", good[:20]) in kept and ("books", good[:20]) in kept


def test_docs_ingest_dedup_across_microbatches(spark, tmp_path):
    """Dedup state must persist ACROSS micro-batches: the same content
    arriving in a later file (maxFilesPerTrigger=1 forces one file per
    batch) is dropped by the state store, not just within-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bubbles_spark.streaming import events as sevents

    good = (
        "the quick brown fox jumps over the lazy dog and then walks "
        "back home to rest for a while before dinner is served"
    )
    src = tmp_path / "mb_src"
    src.mkdir()

    def write(fname, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "source": [r[2] for r in rows],
                }
            ),
            str(src / fname),
        )

    write("documents.parquet", [(1, good, "web")])
    write("documents2.parquet", [(2, good, "web"), (3, good + " but longer now", "web")])

    probe_schema = spark.read.parquet(str(src / "documents.parquet")).schema
    stream = (
        spark.readStream.schema(probe_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    clean = sevents.docs_ingest_dedup_stream(stream)
    got = sevents.run_batchlike(clean, "t_docs_mb")
    assert {r["doc_id"] for r in got.collect()} == {1, 3}


def test_asof_join_stream_matches_batch(spark, tmp_path):
    """Streaming point-in-time join emits the same matches as the
    batch asof_join on the same data (single availableNow drain; the
    final timeout batch flushes lefts still above the watermark)."""
    from bubbles_spark.ops import core
    from bubbles_spark.streaming import events as sevents

    rows = [
        (1, _ts(10), 10, "purchase", 100.0),
        (2, _ts(30), 10, "purchase", 200.0),
        (3, _ts(5), 20, "purchase", 300.0),   # no earlier click -> NULL
        (4, _ts(8), 10, "click", 1.0),
        (5, _ts(10), 10, "click", 2.0),       # equal ts matches (backward)
        (6, _ts(29), 10, "click", 3.0),
        (7, _ts(50), 20, "click", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).withColumn("props", F.lit("{}"))
    src_dir = str(tmp_path / "asof_src")
    df.coalesce(1).write.parquet(src_dir)
    stream = sevents.read_event_stream(spark, src_dir)

    def split(d):
        l = d.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        r = d.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
        return l, r

    sl, sr = split(stream)
    got_stream = sevents.run_batchlike(
        sevents.asof_join_stream(sl, sr, on="ts", by="user_id"), "t_asof_stream"
    )
    bl, br = split(df)
    want = core.asof_join(bl, br, on="ts", by="user_id")
    g = {r["event_id"]: (r["r_ts"], r["r_value"]) for r in got_stream.collect()}
    w = {r["event_id"]: (r["r_ts"], r["r_value"]) for r in want.collect()}
    assert g == w
    assert g[1] == (_ts(10), 2.0) and g[3] == (None, None)

    # tolerance: click@29 is 60s before purchase@30 -> nulled at tol=30
    got_tol = sevents.run_batchlike(
        sevents.asof_join_stream(
            sl, sr, on="ts", by="user_id", tolerance_seconds=30.0
        ),
        "t_asof_stream_tol",
    )
    gt = {r["event_id"]: r["r_value"] for r in got_tol.collect()}
    assert gt == {1: 2.0, 2: None, 3: None}


def test_time_bucket_rollup_distinct_pyramid(spark):
    """HLL-sketch rollup: tiny cardinalities estimate exactly, and the
    day grain must equal the distinct over the WHOLE day (not the sum
    of hourly distincts — that's why plain count_distinct refuses)."""
    rows = []
    # hour 0: users 1,2; hour 1: users 2,3 -> day distinct = 3, not 4
    for eid, (minute, uid) in enumerate(
        [(0, 1), (10, 2), (20, 2), (70, 2), (80, 3)]
    ):
        rows.append((eid, _ts(minute), uid, "a", 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = events.time_bucket_rollup_distinct(df, "ts", ["1 hour", "1 day"], "user_id")
    got = {
        (r["grain"], r["window_start"].hour): r["approx_distinct"]
        for r in out.collect()
    }
    assert got[("1 hour", 0)] == 2
    assert got[("1 hour", 1)] == 2
    assert got[("1 day", 0)] == 3  # union of sketches, not sum (2+2)


def test_asof_join_stream_state_survives_restart(spark, tmp_path):
    """Checkpointed restart: rights seen before a shutdown must still
    match lefts that arrive after the restart — per-key state (the
    right buffer and pending lefts) restores from the checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bubbles_spark.streaming import events as sevents

    src = tmp_path / "restart_src"
    src.mkdir()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write(fname, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": [r[0] for r in rows],
                    "ts": [r[1] for r in rows],
                    "user_id": [r[2] for r in rows],
                    "event_type": [r[3] for r in rows],
                    "value": [float(r[4]) for r in rows],
                    "props": ["{}" for _ in rows],
                }
            ),
            str(src / fname),
        )

    def run_once():
        stream = sevents.read_event_stream(spark, str(src))
        lefts = stream.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        rights = stream.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        joined = sevents.asof_join_stream(lefts, rights, on="ts", by="user_id")
        return sevents.stream_to_parquet(joined, out_dir, ckpt)

    # run 1: a click and one purchase; purchase@30 emits only via the
    # final timeout batch OR stays pending — either way the click must
    # survive in state for run 2's purchase
    write("f1.parquet", [(4, _ts(8), 10, "click", 1.0), (1, _ts(30), 10, "purchase", 100.0)])
    run_once()

    # run 2 (same checkpoint = restart): a later purchase, no new
    # clicks — must still match the run-1 click from restored state
    write("f2.parquet", [(2, _ts(60), 10, "purchase", 200.0)])
    got = run_once()
    rows = {r["event_id"]: (r["r_ts"], r["r_value"]) for r in got.collect()}
    assert rows.get(1) == (_ts(8), 1.0)
    assert rows.get(2) == (_ts(8), 1.0)


def test_streaming_histogram_quantiles_match_batch(spark):
    """histogram_stream + finish_quantiles over the event stream must
    equal the batch time_bucket_rollup_quantiles at the same
    bins/bounds — both are the identical deterministic sketch, so the
    match is exact, not approximate."""
    from bubbles_spark.ops import events as bevents
    from bubbles_spark.streaming import events as sevents

    sf_dir = "/root/testdata/sf0.001"
    bins, bounds = 500, (0.0, 500.0)
    stream = sevents.read_testdata_event_stream(spark, sf_dir)
    hist = sevents.histogram_stream(
        stream, "ts", "value", "1 hour", bins=bins, bounds=bounds
    )
    sunk = sevents.run_batchlike(hist, "t_hist_q", output_mode="complete")
    got = sevents.finish_quantiles(
        sunk, qs=(0.5, 0.95), bins=bins, bounds=bounds
    ).collect()

    from bubbles_spark.io import load_table

    batch = bevents.time_bucket_rollup_quantiles(
        load_table(spark, sf_dir, "events"),
        "ts",
        ["1 hour"],
        "value",
        qs=(0.5, 0.95),
        bins=bins,
        bounds=bounds,
    ).collect()
    key = lambda rows: sorted(
        (r.window_start, r.p50, r.p95, r.record_count) for r in rows
    )
    assert len(got) > 0
    assert key(got) == key(batch)


def test_histogram_stream_rejects_bad_bounds(spark):
    from bubbles_spark.streaming import events as sevents

    stream = sevents.read_testdata_event_stream(spark, "/root/testdata/sf0.001")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sevents.histogram_stream(stream, bounds=(1.0, 1.0))


def test_funnel_ordering_and_window(spark):
    from bubbles_spark.ops import events

    rows = [
        # u1 completes view->click->purchase in order
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:05:00", 1, "click"),
        (3, "2024-01-01 10:10:00", 1, "purchase"),
        # u2 clicks BEFORE viewing: click must not count
        (4, "2024-01-01 09:00:00", 2, "click"),
        (5, "2024-01-01 10:00:00", 2, "view"),
        # u3 views only
        (6, "2024-01-01 11:00:00", 3, "view"),
        # u4 converts but outside a 1-hour window
        (7, "2024-01-01 08:00:00", 4, "view"),
        (8, "2024-01-01 12:00:00", 4, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    )
    out = {
        r.step_name: r.users
        for r in events.funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert out == {"view": 4, "click": 2, "purchase": 1}
    within = {
        r.step_name: r.users
        for r in events.funnel(
            df, ["view", "click", "purchase"], within_seconds=3600
        ).collect()
    }
    assert within == {"view": 4, "click": 1, "purchase": 1}


def test_funnel_validation(spark):
    from bubbles_spark.ops import events

    df = spark.createDataFrame([(1,)], "user_id long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        events.funnel(df, [])


def test_retention_cohorts(spark):
    from bubbles_spark.ops import events

    rows = [
        (1, "2024-01-01 10:00:00", 1),   # cohort day 1, period 0
        (2, "2024-01-09 10:00:00", 1),   # 8 days later -> period 1
        (3, "2024-01-22 10:00:00", 1),   # 21 days -> period 3
        (4, "2024-01-02 10:00:00", 2),   # cohort day 2, period 0
        (5, "2024-01-02 23:00:00", 2),   # same day -> still period 0
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long")
    out = events.retention_cohorts(df).collect()
    got = {(str(r.cohort_day)[:10], r.period): r.active_users for r in out}
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 3): 1,
        ("2024-01-02", 0): 1,
    }


def test_streaming_distinct_count_matches_batch_sketch(spark):
    """The streaming HLL per window must equal the BATCH HLL at the
    same rsd — same sketch, same merges, deterministic — and sit
    within the documented 5% of exact."""
    from bubbles_spark.io import load_table
    from bubbles_spark.streaming import events as sevents

    sf_dir = "/root/testdata/sf0.001"
    stream = sevents.read_testdata_event_stream(spark, sf_dir)
    agg = sevents.distinct_count_stream(stream, "ts", "user_id", "1 hour", rsd=0.01)
    got = {
        r.window_start: (r.approx_users, r.record_count)
        for r in sevents.run_batchlike(
            agg, "t_distinct_hll", output_mode="complete"
        ).collect()
    }
    e = load_table(spark, sf_dir, "events")
    batch = {
        r.ws: (r.a, r.ex, r.n)
        for r in e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("a"),
            F.count_distinct("user_id").alias("ex"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("ws"), "a", "ex", "n")
        .collect()
    }
    assert set(got) == set(batch)
    for ws, (a, n) in got.items():
        ba, ex, bn = batch[ws]
        assert a == ba, ws          # identical sketch result
        assert n == bn, ws          # no dropped rows
        assert abs(a - ex) <= 0.05 * ex + 1, (ws, a, ex)


def test_funnel_stream_matches_batch(spark, tmp_path):
    """Watermark-final streaming funnel == batch funnel counts on the
    real event table, regardless of arrival order."""
    from bubbles_spark.io import load_table
    from bubbles_spark.ops import events as bevents
    from bubbles_spark.streaming import events as sevents

    sf_dir = "/root/testdata/sf0.001"
    steps = ["view", "click", "purchase"]
    stream = sevents.read_testdata_event_stream(spark, sf_dir)
    fs = sevents.funnel_stream(stream, steps)
    out = sevents.run_batchlike(fs, "t_funnel_stream", output_mode="append")
    got = {
        r.step: r.n
        for r in out.groupBy("step").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batch = {
        r.step: r.users
        for r in bevents.funnel(load_table(spark, sf_dir, "events"), steps).collect()
    }
    assert got == {k: v for k, v in batch.items() if v > 0}


def test_funnel_stream_within_window(spark, tmp_path):
    from bubbles_spark.io import load_table
    from bubbles_spark.ops import events as bevents
    from bubbles_spark.streaming import events as sevents

    sf_dir = "/root/testdata/sf0.001"
    steps = ["view", "click", "purchase"]
    stream = sevents.read_testdata_event_stream(spark, sf_dir)
    fs = sevents.funnel_stream(stream, steps, within_seconds=86400.0)
    out = sevents.run_batchlike(fs, "t_funnel_within", output_mode="append")
    got = {
        r.step: r.n
        for r in out.groupBy("step").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batch = {
        r.step: r.users
        for r in bevents.funnel(
            load_table(spark, sf_dir, "events"), steps, within_seconds=86400.0
        ).collect()
    }
    assert got == {k: v for k, v in batch.items() if v > 0}


def test_funnel_stream_no_restart_after_conversion(spark, tmp_path):
    """Events after full conversion must not re-open the funnel."""
    from bubbles_spark.streaming import events as sevents

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 10:01:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-01 10:02:00", 1, "view", 0.0, "{}"),
        (4, "2024-01-01 10:03:00", 1, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "funnel_src")
    df.write.parquet(src)
    stream = sevents.read_event_stream(spark, src)
    fs = sevents.funnel_stream(stream, ["view", "click"])
    out = sevents.run_batchlike(fs, "t_funnel_once", output_mode="append").collect()
    assert sorted((r.step for r in out)) == [0, 1]


def test_resample_time_gap_fill(spark):
    from bubbles_spark.ops import events as ev

    rows = [
        (1, "2024-01-01 10:15:00", 1.0),
        (2, "2024-01-01 10:45:00", 2.0),
        # 11:00 and 12:00 hours empty
        (3, "2024-01-01 13:05:00", 8.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").withColumn(
        "user_id", F.lit(7)
    )
    out = {
        str(r.bucket_start): (r.value, r.is_gap)
        for r in ev.resample_time(df, "ts", "user_id", "1 hour").collect()
    }
    assert out == {
        "2024-01-01 10:00:00": (3.0, False),
        "2024-01-01 11:00:00": (3.0, True),   # forward-filled
        "2024-01-01 12:00:00": (3.0, True),
        "2024-01-01 13:00:00": (8.0, False),
    }
    zero = {
        str(r.bucket_start): r.value
        for r in ev.resample_time(df, "ts", "user_id", "1 hour", fill="zero").collect()
    }
    assert zero["2024-01-01 11:00:00"] == 0.0
    nulls = {
        str(r.bucket_start): r.value
        for r in ev.resample_time(df, "ts", "user_id", "1 hour", fill="null").collect()
    }
    assert nulls["2024-01-01 12:00:00"] is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ev.resample_time(df, "ts", "user_id", fill="bogus")


def test_resample_time_interp(spark):
    from bubbles_spark.ops import events as ev

    rows = [
        (1, "2024-01-01 10:30:00", 2.0),
        # 11,12,13 empty -> interpolate 2 -> 10 over 4 hours
        (2, "2024-01-01 14:10:00", 10.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").withColumn(
        "user_id", F.lit(1)
    )
    out = {
        str(r.bucket_start): r.value
        for r in ev.resample_time(df, "ts", "user_id", "1 hour", fill="interp").collect()
    }
    assert out == {
        "2024-01-01 10:00:00": 2.0,
        "2024-01-01 11:00:00": 4.0,
        "2024-01-01 12:00:00": 6.0,
        "2024-01-01 13:00:00": 8.0,
        "2024-01-01 14:00:00": 10.0,
    }


def test_admit_stream_against_index(spark, tmp_path):
    """Streaming admission vs static index: copies rejected, novel
    admitted; retry with same checkpoint does not duplicate."""
    from bubbles_spark.ops import dedup
    from bubbles_spark.streaming import events as sevents

    hist = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely separate document about databases"),
        ],
        "doc_id long, text string",
    )
    index = dedup.minhash_index(hist)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (101, "novel words never before seen in this corpus"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got = sevents.admit_stream_against_index(
        stream, index, out_dir, ckpt, threshold=0.9
    )
    assert [r["doc_id"] for r in got.collect()] == [101]

    # replay with the same checkpoint: no new input -> same rows
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    again = sevents.admit_stream_against_index(
        stream2, index, out_dir, ckpt, threshold=0.9
    )
    assert [r["doc_id"] for r in again.collect()] == [101]

    # a STALE admit_batch dir from some earlier run (a batch id this
    # checkpoint never committed) must not be unioned into the result
    spark.createDataFrame([(999, "stale leftovers")], "doc_id long, text string").write.parquet(
        out_dir + "/admit_batch=999"
    )
    stream3 = spark.readStream.schema("doc_id long, text string").parquet(src)
    third = sevents.admit_stream_against_index(
        stream3, index, out_dir, ckpt, threshold=0.9
    )
    assert [r["doc_id"] for r in third.collect()] == [101]


def test_admission_drops_state_shard_hint(spark, tmp_path):
    """A testdata stream reader leaves a state-shard size hint for the
    next drain on its thread.  Admission runs no stateful operator, so
    it must drop the hint: otherwise the next drain on the thread
    narrows its state shards from the admitted file's size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bubbles_spark.ops import dedup
    from bubbles_spark.streaming import events as sevents

    dog = "the quick brown fox jumps over the lazy dog"
    pq.write_table(
        pa.table({
            "doc_id": [1, 2],
            "text": [dog, "novel words never before seen in this corpus"],
        }),
        tmp_path / "documents.parquet",
    )
    index = dedup.minhash_index(
        spark.createDataFrame([(1, dog)], "doc_id long, text string")
    )
    stream = sevents.read_testdata_table_stream(spark, str(tmp_path), "documents")
    got = sevents.admit_stream_against_index(
        stream, index, str(tmp_path / "out"), str(tmp_path / "ckpt"), threshold=0.9
    )
    assert [r["doc_id"] for r in got.collect()] == [2]
    token = sevents._sane_state_shards(spark)
    try:
        assert token is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        sevents._restore_state_shards(spark, token)


def test_drain_admitted_survives_commit_log_purge(spark, tmp_path):
    """Spark purges commit-log entries older than minBatchesToRetain;
    the drain must keep every admit_batch dir with id ≤ the LAST
    committed id, not just ids whose own commit file survived —
    otherwise early batches silently vanish on long-lived
    checkpoints."""
    import glob
    import os

    from bubbles_spark.ops import dedup
    from bubbles_spark.streaming import events as sevents

    index = dedup.minhash_index(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
    )
    src = str(tmp_path / "src")
    # two source files + maxFilesPerTrigger=1 -> at least two
    # micro-batches, so there is an "old" commit to purge
    spark.createDataFrame(
        [(100, "novel words never before seen in this corpus")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(101, "a second entirely unrelated novel document here")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got = sevents.admit_stream_against_index(
        stream, index, out_dir, ckpt, threshold=0.9
    )
    assert sorted(r["doc_id"] for r in got.collect()) == [100, 101]
    commits = sorted(glob.glob(ckpt + "/commits/[0-9]*"))
    assert len(commits) >= 2, "need two micro-batches for this test"
    os.remove(commits[0])  # simulate minBatchesToRetain purge
    drained = sevents._drain_admitted(
        spark, out_dir, ckpt, "doc_id long, text string"
    )
    assert sorted(r["doc_id"] for r in drained.collect()) == [100, 101]


def test_seasonal_gate_stream_matches_batch(spark, tmp_path):
    """The drained streaming gate must equal the batch detector
    (stream-static broadcast join, no state)."""
    import bubbles_spark.streaming.events as sevents
    from bubbles_spark.ops import events as bevents
    from pyspark.sql import functions as F

    rows = [(i, f"2024-01-01 00:{i:02d}:00", 10.0) for i in range(10)]
    rows += [(99, "2024-01-08 00:30:00", 100.0)]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev")
    batch.write.parquet(path)

    base = bevents.seasonal_baseline(batch, "ts", "value")
    stream = sevents.read_event_stream(
        spark, path,
        schema=spark.read.parquet(path).schema,
    )
    gated = sevents.seasonal_gate_stream(stream, base, k=3.0)
    out = sevents.run_batchlike(gated, "t_seasonal_gate")
    assert [r["event_id"] for r in out.collect()] == [99]
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"


def test_gap_report_stream_state_spans_batches(spark, tmp_path):
    """The silence between the LAST event of file 1 and the FIRST of
    file 2 must be detected — only cross-batch state can see it."""
    import bubbles_spark.streaming.events as sevents
    from bubbles_spark.ops import events as bevents
    from pyspark.sql import functions as F

    rows1 = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 01:00:00")]
    rows2 = [(1, "2024-01-03 00:00:00"), (1, "2024-01-03 00:30:00")]
    path = str(tmp_path / "ev")
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(
            rows, "user_id long, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(path)

    batch = spark.read.parquet(path)
    expect = sorted(
        tuple(r) for r in bevents.gap_report(
            batch, "ts", "user_id", 3600.0
        ).collect()
    )
    stream = sevents.read_event_stream(
        spark, path, schema=batch.schema, max_files_per_trigger=1
    )
    got = sevents.run_batchlike(
        sevents.gap_report_stream(stream, threshold_seconds=3600.0),
        "t_gap_stream",
    )
    assert sorted(tuple(r) for r in got.collect()) == expect
    # exactly one qualifying gap, and it spans the two files
    assert len(expect) == 1 and expect[0][3] == 47 * 3600 * 1000
    assert dict(got.dtypes)["gap_start"] == "timestamp_ntz"


def test_ewma_stream_state_spans_batches(spark, tmp_path):
    """The smoothing level must carry from file 1 into file 2 — a
    per-batch restart would re-seed l=x on the first row of batch 2."""
    import bubbles_spark.streaming.events as sevents
    from bubbles_spark.ops import events as bevents
    from pyspark.sql import functions as F

    rows1 = [(1, 1, "2024-01-01 00:00:00", 10.0),
             (2, 1, "2024-01-01 01:00:00", 20.0)]
    rows2 = [(3, 1, "2024-01-02 00:00:00", 30.0),
             (4, 2, "2024-01-02 01:00:00", 7.0)]
    path = str(tmp_path / "ev")
    for rows in (rows1, rows2):
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(path)

    batch = spark.read.parquet(path)
    expect = {
        (r["event_id"]): r["ewma"]
        for r in bevents.ewma(
            batch, "user_id", "ts", "value", alpha=0.25,
            tiebreak_col="event_id",
        ).collect()
    }
    stream = sevents.read_event_stream(
        spark, path, schema=batch.schema, max_files_per_trigger=1
    )
    got = sevents.run_batchlike(
        sevents.ewma_stream(stream, alpha=0.25), "t_ewma_stream"
    )
    got_map = {r["event_id"]: r["ewma"] for r in got.collect()}
    assert got_map == expect  # bitwise — level crossed the batch seam
    # event 3 depends on events 1+2 from the earlier batch:
    l2 = 0.75 * 10.0 + 0.25 * 20.0
    assert got_map[3] == 0.75 * l2 + 0.25 * 30.0
    assert got_map[4] == 7.0  # new key seeds fresh in batch 2
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"


def test_stateful_helpers_non_default_schema(spark, tmp_path):
    """gap_report_stream / ewma_stream / debounce_stream must build
    their output schemas from the INPUT (string key, int tiebreak,
    renamed columns) — round-6 ADVICE: the shapes were hardcoded to
    'user_id long, event_id long'."""
    import bubbles_spark.streaming.events as sevents
    from pyspark.sql import functions as F

    rows = [(1, "dev-a", "2024-01-01 00:00:00", 10.0),
            (2, "dev-a", "2024-01-01 00:00:10", 20.0),
            (3, "dev-a", "2024-01-01 09:00:00", 30.0),
            (4, "dev-b", "2024-01-01 00:00:05", 7.0)]
    path = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "seq int, device string, t string, v double"
    ).withColumn("t", F.col("t").cast("timestamp")).coalesce(
        1
    ).write.parquet(path)
    schema = spark.read.parquet(path).schema

    def stream():
        return sevents.read_event_stream(spark, path, schema=schema)

    gaps = sevents.run_batchlike(
        sevents.gap_report_stream(
            stream(), ts_col="t", key_col="device",
            threshold_seconds=3600.0,
        ),
        "t_gap_nds",
    )
    assert [f.name for f in gaps.schema.fields] == [
        "device", "gap_start", "gap_end", "gap_ms"
    ]
    g = gaps.collect()
    assert [(r["device"], r["gap_ms"]) for r in g] == [
        ("dev-a", (9 * 3600 - 10) * 1000)
    ]

    ew = sevents.run_batchlike(
        sevents.ewma_stream(
            stream(), key_col="device", ts_col="t", value_col="v",
            alpha=0.5, tiebreak_col="seq",
        ),
        "t_ewma_nds",
    )
    assert [f.name for f in ew.schema.fields] == [
        "device", "seq", "t", "value", "ewma"
    ]
    got = {r["seq"]: r["ewma"] for r in ew.collect()}
    assert got == {1: 10.0, 2: 15.0, 3: 22.5, 4: 7.0}
    assert dict(ew.dtypes)["seq"] == "int"

    db = sevents.run_batchlike(
        sevents.debounce_stream(
            stream(), key_col="device", ts_col="t",
            gap_seconds=3600.0, tiebreak_col="seq",
        ),
        "t_db_nds",
    )
    assert [f.name for f in db.schema.fields] == ["device", "t", "seq"]
    assert sorted(r["seq"] for r in db.collect()) == [1, 3, 4]


def test_rate_monitor_stream_matches_batch(spark, tmp_path):
    """Drained windowed counts equal the batch aggregation; the
    Wilson finisher applies the rate_confidence closed form."""
    import math

    import bubbles_spark.streaming.events as sevents
    from pyspark.sql import functions as F

    rows = [(i, f"2024-01-01 00:{i:02d}:00", 1 if i % 3 == 0 else 0)
            for i in range(30)]
    rows += [(99, "2024-01-01 01:30:00", 1)]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, conv int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev")
    batch.write.parquet(path)
    stream = sevents.read_event_stream(
        spark, path, schema=spark.read.parquet(path).schema
    )
    mon = sevents.rate_monitor_stream(stream, "ts", "conv", "1 hour")
    sunk = sevents.run_batchlike(
        mon, "t_ratemon", output_mode="complete"
    )
    out = {str(r["window_start"]): r
           for r in sevents.finish_wilson(sunk).collect()}
    h0 = out["2024-01-01 00:00:00"]
    assert h0["n"] == 30 and h0["successes"] == 10
    z, n, p = 1.96, 30.0, 10.0 / 30.0
    z2n = z * z / n
    denom = 1.0 + z2n
    center = (p + z2n / 2.0) / denom
    half = z * math.sqrt(p * (1 - p) / n + z2n / (4.0 * n)) / denom
    assert h0["rate"] == p
    assert h0["wilson_lo"] == center - half
    assert h0["wilson_hi"] == center + half
    assert out["2024-01-01 01:00:00"]["n"] == 1
    assert dict(sunk.dtypes)["window_start"] == "timestamp_ntz"


def test_finish_srm_stream_matches_hand(spark, tmp_path):
    """Drained windowed arm counts through the SRM finisher: exact
    expected counts from rational weights, NULL expectation for the
    unintended arm, n_obs=0 for the intended-but-missing arm."""
    import bubbles_spark.streaming.events as sevents
    from pyspark.sql import functions as F

    # hour 0: a x6, b x3, zz x1 (unintended); hour 1: a x2 only
    rows = (
        [(i, "2024-01-01 00:%02d:00" % i, "a", 1.0) for i in range(6)]
        + [(10 + i, "2024-01-01 00:2%d:00" % i, "b", 1.0) for i in range(3)]
        + [(20, "2024-01-01 00:45:00", "zz", 1.0)]
        + [(30, "2024-01-01 01:05:00", "a", 1.0),
           (31, "2024-01-01 01:06:00", "a", 1.0)]
    )
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev")
    batch.write.parquet(path)
    stream = sevents.read_event_stream(
        spark, path, schema=spark.read.parquet(path).schema
    )
    agg = sevents.windowed_agg_stream(stream, "ts", "1 hour")
    sunk = sevents.run_batchlike(agg, "t_srm", output_mode="complete")
    out = sevents.finish_srm(sunk, {"a": 0.5, "b": 0.5}).collect()
    got = {(str(r["window_start"]), r["event_type"]): r for r in out}
    # hour 0 total counts ALL arms (10 rows): e = 10 * 1/2 = 5
    h0a = got[("2024-01-01 00:00:00", "a")]
    assert h0a["n_obs"] == 6 and h0a["expected"] == 5.0
    assert h0a["chi2_contrib"] == (6.0 - 5.0) ** 2 / 5.0
    h0b = got[("2024-01-01 00:00:00", "b")]
    assert h0b["n_obs"] == 3 and h0b["chi2_contrib"] == (3.0 - 5.0) ** 2 / 5.0
    # unintended arm surfaces with NULL expectation
    h0z = got[("2024-01-01 00:00:00", "zz")]
    assert h0z["n_obs"] == 1 and h0z["expected"] is None
    # hour 1: b intended but absent -> n_obs 0, expected 1.0, contrib 1.0
    h1b = got[("2024-01-01 01:00:00", "b")]
    assert h1b["n_obs"] == 0 and h1b["expected"] == 1.0
    assert h1b["chi2_contrib"] == 1.0
    assert len(got) == 5

    import pytest as _pt
    with _pt.raises(ValueError):
        sevents.finish_srm(sunk, {})


def test_finish_cusum_stream_matches_batch_recurrence(spark, tmp_path):
    """Drained windowed counts through the CUSUM finisher equal the
    hand recurrence S_t = max(0, S_{t-1} + x_t - (mu +/- K)) per key —
    the drained-equals-batch contract for the sequential chart."""
    import bubbles_spark.streaming.events as sevents
    from pyspark.sql import functions as F

    # key a hourly counts: 3, 1, 6, 6; key b: 2, 2
    per_hour = {"a": [3, 1, 6, 6], "b": [2, 2]}
    rows = []
    eid = 0
    for key, counts in per_hour.items():
        for h, n in enumerate(counts):
            for m in range(n):
                rows.append(
                    (eid, "2024-01-01 %02d:%02d:00" % (h, m), key, 1.0)
                )
                eid += 1
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev")
    batch.write.parquet(path)
    stream = sevents.read_event_stream(
        spark, path, schema=spark.read.parquet(path).schema
    )
    agg = sevents.windowed_agg_stream(stream, "ts", "1 hour")
    sunk = sevents.run_batchlike(agg, "t_cusum", output_mode="complete")
    out = sevents.finish_cusum(
        sunk, target=3.0, allowance=0.5, threshold=2.0
    ).collect()
    got = {
        (r["event_type"], str(r["window_start"])): r for r in out
    }
    assert len(got) == 6
    for key, counts in per_hour.items():
        sp = sn = 0.0
        for h, n in enumerate(counts):
            sp = max(0.0, sp + n - 3.5)
            sn = max(0.0, sn + 2.5 - n)
            r = got[(key, "2024-01-01 %02d:00:00" % h)]
            assert r["n_obs"] == float(n)
            assert r["cusum_pos"] == sp and r["cusum_neg"] == sn
            assert r["alarm_pos"] == (sp > 2.0)
            assert r["alarm_neg"] == (sn > 2.0)
    # key a: the double 6-count hours must trip the positive alarm
    assert got[("a", "2024-01-01 03:00:00")]["alarm_pos"]


def test_finish_pettitt_stream_matches_batch(spark, tmp_path):
    """Drained windowed counts through the Pettitt finisher locate
    the same split the batch rank statistic does — counts are
    associative, so drained == batch exactly."""
    import bubbles_spark.streaming.events as sevents
    from pyspark.sql import functions as F

    # volume level shift at hour 4: 2/hour then 6/hour
    per_hour = [2, 2, 2, 2, 6, 6, 6, 6]
    rows = []
    eid = 0
    for h, n in enumerate(per_hour):
        for m in range(n):
            rows.append((eid, "2024-01-01 %02d:%02d:00" % (h, m), "a", 1.0))
            eid += 1
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev")
    batch.write.parquet(path)
    stream = sevents.read_event_stream(
        spark, path, schema=spark.read.parquet(path).schema
    )
    agg = sevents.windowed_agg_stream(stream, "ts", "1 hour")
    sunk = sevents.run_batchlike(agg, "t_pettitt", output_mode="complete")
    out = sevents.finish_pettitt(sunk).collect()[0]
    assert out["n_buckets"] == 8
    # split after hour 3 (last left bucket), K = brute-force max |U|
    assert str(out["split_ts"]).startswith("2024-01-01 03:00")
    n = len(per_hour)
    best = 0
    for t in range(1, n):
        u = sum(
            (per_hour[i] > per_hour[j]) - (per_hour[i] < per_hour[j])
            for i in range(t)
            for j in range(t, n)
        )
        best = max(best, abs(u))
    assert out["k_stat"] == best
