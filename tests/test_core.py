"""Core operator unit tests (SURVEY.md §5: tiny-fixture style +
property checks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bubbles_spark.ops import core


def test_field_filter_keep_drop_rename(people):
    out = core.field_filter(people, keep=["id", "label"], rename={"label": "tag"})
    assert out.columns == ["id", "tag"]
    out2 = core.field_filter(people, drop=["amount"])
    assert out2.columns == ["id", "label"]


def test_filter_partition_property(people):
    """|keep| + |discard| == |input| for every filter op."""
    n = people.count()
    keep = core.filter_by_value(people, "label", "a").count()
    disc = core.filter_by_value(people, "label", "a", discard=True).count()
    # NULL label rows satisfy neither side (SQL three-valued logic)
    nulls = people.filter(F.col("label").isNull()).count()
    assert keep + disc + nulls == n

    keep = core.filter_by_range(people, "amount", 10, 30).count()
    disc = core.filter_by_range(people, "amount", 10, 30, discard=True).count()
    nulls = people.filter(F.col("amount").isNull()).count()
    assert keep + disc + nulls == n


def test_filter_by_range_half_open(people):
    got = {
        r["id"]
        for r in core.filter_by_range(people, "amount", 10, 30).select("id").collect()
    }
    assert got == {1, 2, 6}  # 30 excluded (half-open), NULL excluded


def test_filter_not_empty(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, None)], "id long, s string"
    )
    assert {r["id"] for r in core.filter_not_empty(df, "s").collect()} == {1}


def test_filter_by_predicate(people):
    out = core.filter_by_predicate(
        people.filter(F.col("amount").isNotNull()),
        lambda a: a >= 20,
        ["amount"],
    )
    assert {r["id"] for r in out.collect()} == {2, 3, 4}


def test_distinct_idempotent(people):
    d1 = core.distinct(people, "label")
    assert sorted(r["label"] for r in d1.collect() if r["label"]) == ["a", "b", "c"]
    assert core.distinct(d1, "label").count() == d1.count()


def test_duplicates_and_stats(people):
    dups = core.duplicates(people, "label")
    rows = {r["label"]: r["record_count"] for r in dups.collect()}
    assert rows == {"a": 3}
    stats = core.duplicate_stats(people, "label").collect()[0]
    assert stats["duplicate_key_count"] == 1
    assert stats["surplus_record_count"] == 2


def test_sample_first_nth_discard(people):
    first2 = core.sample(people, 2, mode="first", order_by=["id"])
    assert [r["id"] for r in first2.orderBy("id").collect()] == [1, 2]
    rest = core.sample(people, 2, mode="first", discard=True, order_by=["id"])
    assert [r["id"] for r in rest.orderBy("id").collect()] == [3, 4, 5, 6]
    nth = core.sample(people, 2, mode="nth", order_by=["id"])
    assert [r["id"] for r in nth.orderBy("id").collect()] == [1, 3, 5]
    nth_d = core.sample(people, 2, mode="nth", discard=True, order_by=["id"])
    assert [r["id"] for r in nth_d.orderBy("id").collect()] == [2, 4, 6]


def test_sample_requires_order(people):
    with pytest.raises(ValueError):
        core.sample(people, 2, mode="first")


def test_sample_random_bounds(people):
    n = core.sample(people, 0.5, mode="random", seed=7).count()
    assert 0 <= n <= people.count()


def test_two_phase_rank_matches_window(spark):
    """The distributed two-phase global rank must equal a naive rank."""
    df = spark.range(0, 1000).withColumn("k", (F.col("id") * 37) % 1000)
    ranked = core._with_global_row_number(df, ["k"])
    rows = ranked.select("k", "__rn").collect()
    expect = {r["k"]: i + 1 for i, r in enumerate(sorted(rows, key=lambda r: r["k"]))}
    for r in rows:
        assert r["__rn"] == expect[r["k"]]


def test_two_phase_rank_partitioning_invariant(spark):
    """Bucket assignment is a function of row VALUES (literal
    boundaries), so the rank must be identical for any physical
    partitioning of the same input — the round-7 driver-divergence
    class (range-partitioner resampling after cache eviction)."""
    df = spark.range(0, 500).withColumn("k", (F.col("id") * 37) % 500)
    base = {
        r["k"]: r["__rn"]
        for r in core._with_global_row_number(df, ["k"]).collect()
    }
    for parts in (1, 3, 17):
        again = {
            r["k"]: r["__rn"]
            for r in core._with_global_row_number(
                df.repartition(parts), ["k"]
            ).collect()
        }
        assert again == base
    # desc + NULLs: nulls sort last under desc(), rank still total
    dfn = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, 20)], "id long, k int"
    )
    got = {
        r["id"]: r["__rn"]
        for r in core._with_global_row_number(
            dfn, [("k", "desc"), ("id", "asc")]
        ).collect()
    }
    assert got == {4: 1, 1: 2, 3: 3, 2: 4}


def test_two_phase_rank_big_path_forced(spark, monkeypatch):
    """Inputs under _SMALL_RANK_ROWS take the single-window fast path,
    so the two-phase machinery (binary-search value buckets, offsets,
    checkpoint pin) would otherwise go untested: force it by shrinking
    the threshold and require bit-identical ranks on both paths —
    including desc order, ties with a tiebreak, and NULLs."""
    monkeypatch.setattr(core, "_SMALL_RANK_ROWS", 10)
    df = spark.range(0, 400).select(
        F.col("id"), ((F.col("id") * 37) % 97).alias("k")
    )
    big = {
        (r["id"],): r["__rn"]
        for r in core._with_global_row_number(df, ["k", "id"]).collect()
    }
    monkeypatch.setattr(core, "_SMALL_RANK_ROWS", 2_000_000)
    small = {
        (r["id"],): r["__rn"]
        for r in core._with_global_row_number(df, ["k", "id"]).collect()
    }
    assert big == small
    # desc + NULLs through the forced big path
    monkeypatch.setattr(core, "_SMALL_RANK_ROWS", 2)
    dfn = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, 20), (5, 10)], "id long, k int"
    )
    got = {
        r["id"]: r["__rn"]
        for r in core._with_global_row_number(
            dfn, [("k", "desc"), ("id", "asc")]
        ).collect()
    }
    assert got == {4: 1, 1: 2, 5: 3, 3: 4, 2: 5}
    # a string first sort column (no numeric proxy) and a double one
    # with NaN (Spark's largest double, first under desc): desc, NULLs
    # (last under desc) and an id tiebreak, on both paths; the sort
    # column is named like insights.rfm_segments' ("__o")
    ids = spark.range(0, 300)
    for col, kind in (
        (F.format_string("s%02d", (F.col("id") * 37) % 29), "str"),
        (
            F.when(F.col("id") % 7 == 0, F.lit(float("nan"))).otherwise(
                ((F.col("id") * 37) % 29).cast("double")
            ),
            "dbl",
        ),
    ):
        dfs = ids.select(
            F.col("id"),
            F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(col).alias("__o"),
        )
        order = [("__o", "desc"), ("id", "asc")]

        def ranks():
            return {
                r["id"]: r["__rn"]
                for r in core._with_global_row_number(dfs, order).collect()
            }

        monkeypatch.setattr(core, "_SMALL_RANK_ROWS", 2)
        big = ranks()
        monkeypatch.setattr(core, "_SMALL_RANK_ROWS", 2_000_000)
        small = ranks()
        rows = sorted((r["id"], r["__o"]) for r in dfs.collect())
        # desc, NULLs last, NaN above every double; stable on id
        rows.sort(
            key=lambda r: (r[1] is not None, r[1] != r[1], r[1] == r[1] and r[1]),
            reverse=True,
        )
        want = {i: rn for rn, (i, _) in enumerate(rows, 1)}
        assert big == small == want, kind


def test_grouped_cum_counts_big_path_forced(spark, monkeypatch):
    from bubbles_spark.ops import core as _core
    from bubbles_spark.ops.drift import _grouped_cum_counts

    num = spark.createDataFrame(
        [("g", float(v % 13)) for v in range(200)]
        + [("h", float(v % 7)) for v in range(50)],
        "g string, v double",
    )
    # a string value column has no numeric proxy
    txt = num.select("g", F.format_string("v%02d", F.col("v").cast("int")).alias("v"))

    def snap(df):
        return {
            (r["g"], r["v"]): (r["__c"], r["__cum"], r["__n"])
            for r in _grouped_cum_counts(df, "g", "v").collect()
        }

    for df, lo, hi in ((num, 0.0, 6.0), (txt, "v00", "v06")):
        monkeypatch.setattr(_core, "_SMALL_RANK_ROWS", 2_000_000)
        small = snap(df)
        monkeypatch.setattr(_core, "_SMALL_RANK_ROWS", 3)
        big = snap(df)
        assert big == small
        # sanity: counts and per-group totals match the construction
        assert small[("g", lo)] == (16, 16, 200)
        assert small[("h", lo)][2] == small[("h", hi)][1] == 50


def test_two_phase_carry_keeps_null_group(spark, monkeypatch):
    """The carry joins back on the group key NULL-safely: a NULL group
    survives the two-phase path as it survives the one-window path."""
    from bubbles_spark.ops import core as _core
    from bubbles_spark.ops.drift import group_quantiles

    df = spark.createDataFrame(
        [("a" if i < 24 else "b" if i < 48 else None, float(i % 17)) for i in range(60)],
        "g string, v double",
    )

    def snap():
        return {(r["g"], r["q"]): tuple(r) for r in group_quantiles(df, "g", "v").collect()}

    small = snap()
    monkeypatch.setattr(_core, "_SMALL_RANK_ROWS", 0)
    big = snap()
    assert {g for g, _ in small} == {"a", "b", None}
    assert big == small


def _ks_ref(pdf):
    ref, cur = pdf[pdf.side == 0].v, pdf[pdf.side == 1].v
    pts = sorted(set(pdf.v))
    ks = max(
        abs(float((ref <= v).sum()) / len(ref) - float((cur <= v).sum()) / len(cur))
        for v in pts
    )
    return [(ks, len(ref), len(cur))]


def _auc_ref(pdf):
    per = pdf.groupby("v").agg(cnt=("y", "size"), pos=("y", "sum")).sort_index()
    before = per.cnt.cumsum() - per.cnt
    s = int((per.pos * (2 * before + per.cnt + 1)).sum())
    n_pos = int(per.pos.sum())
    n_neg = int(per.cnt.sum()) - n_pos
    auc = float(s - n_pos * (n_pos + 1)) / float(2 * n_pos * n_neg)
    return [(auc, n_pos, n_neg)]


def _qn_ref(pdf):
    n = len(pdf)
    return sorted(
        (int(i), float((pdf.v <= v).sum()) / float(n))
        for i, v in zip(pdf.id, pdf.v)
    )


def _abc_ref(pdf):
    from decimal import Decimal

    rows = sorted(
        ((Decimal(str(v)), int(i)) for i, v in zip(pdf.id, pdf.v)),
        key=lambda t: (-t[0], t[1]),
    )
    total = sum(v for v, _ in rows)
    out, cum = [], Decimal(0)
    for rank, (v, i) in enumerate(rows, 1):
        prior = float(cum) / float(total)
        cum += v
        cls = "A" if prior < 0.8 else "B" if prior < 0.95 else "C"
        out.append((i, rank, cum, float(cum) / float(total), cls))
    return sorted(out)


def _conc_ref(pdf):
    d: dict[int, int] = {}
    for s, e in zip(pdf.s, pdf.e):
        d[s] = d.get(s, 0) + 1
        d[e] = d.get(e, 0) - 1
    out, run = [], 0
    for t in sorted(d):
        run += d[t]
        if d[t]:
            out.append((t, d[t], run))
    return out


def _ks_run(spark, pdf):
    from bubbles_spark.ops import drift

    df = spark.createDataFrame(pdf)
    rows = drift.ks_distance(
        df.filter("side = 0"), df.filter("side = 1"), "v"
    ).collect()
    return [(r["ks"], r["n_ref"], r["n_cur"]) for r in rows]


def _auc_run(spark, pdf):
    from bubbles_spark.ops import drift

    rows = drift.auc_score(spark.createDataFrame(pdf), "v", "y").collect()
    return [(r["auc"], r["n_pos"], r["n_neg"]) for r in rows]


def _qn_run(spark, pdf):
    from bubbles_spark.ops import drift

    out = drift.quantile_normalize(spark.createDataFrame(pdf), "v")
    return sorted((r["id"], r["v"]) for r in out.collect())


def _abc_run(spark, pdf):
    from bubbles_spark.ops import insights

    out = insights.abc_classification(spark.createDataFrame(pdf), "id", "v")
    return sorted(
        (r["id"], r["rank"], r["cum_value"], r["cum_share"], r["abc_class"])
        for r in out.collect()
    )


def _conc_run(spark, pdf):
    from datetime import datetime

    from bubbles_spark.ops import events

    # TIMESTAMP_NTZ bounds, as the registered queries pass them
    df = spark.createDataFrame(pdf).select(
        *[F.timestamp_seconds(c).cast("timestamp_ntz").alias(c) for c in ("s", "e")]
    )
    out = events.concurrency_report(df, "s", "e")
    return [
        (int((r["ts"] - datetime(1970, 1, 1)).total_seconds()), r["delta"], r["concurrent"])
        for r in out.collect()
    ]


def _cumsum_input(name):
    import pandas as pd

    ids = list(range(240))
    if name == "ks":
        return pd.DataFrame(
            {"side": [i % 2 for i in ids], "v": [float((i * 37) % 53) for i in ids]}
        )
    if name == "auc":
        return pd.DataFrame(
            {"v": [float((i * 37) % 41) for i in ids], "y": [(i * 7) % 3 % 2 for i in ids]}
        )
    if name in ("qn", "abc"):
        return pd.DataFrame(
            {"id": ids, "v": [float((i * 37) % 61) / 4 for i in ids]}
        )
    return pd.DataFrame(
        {"s": [(i * 37) % 97 for i in ids], "e": [(i * 37) % 97 + i % 9 for i in ids]}
    )


@pytest.mark.parametrize(
    "run, ref, name",
    [
        (_ks_run, _ks_ref, "ks"),
        (_auc_run, _auc_ref, "auc"),
        (_qn_run, _qn_ref, "qn"),
        (_abc_run, _abc_ref, "abc"),
        (_conc_run, _conc_ref, "concurrency"),
    ],
    ids=["ks_distance", "auc_score", "quantile_normalize", "abc_classification",
         "concurrency_report"],
)
def test_partitioned_cumsum_callers_both_paths(spark, monkeypatch, run, ref, name):
    """Every global cumulative-sum caller gives the pandas reference's
    values bit-for-bit at the default threshold and with the
    two-phase path forced (threshold 0)."""
    pdf = _cumsum_input(name)
    want = ref(pdf)
    default = run(spark, pdf)
    monkeypatch.setattr(core, "_SMALL_RANK_ROWS", 0)
    forced = run(spark, pdf)
    assert default == forced == want


def test_top_k(people):
    out = core.top_k(people, [("amount", "desc"), ("id", "asc")], 2).collect()
    assert [r["id"] for r in out] == [4, 3]


def test_aggregate_naming_and_nulls(people):
    agg = core.aggregate(people, "label", [("amount", "sum"), ("amount", "avg")])
    row = {r["label"]: r for r in agg.collect()}
    assert row["a"]["amount_sum"] == 50.0
    assert row["a"]["record_count"] == 3
    # NULL amounts are skipped (SQL semantics)
    assert row["c"]["amount_sum"] is None
    glob = core.aggregate(people, None, [("amount", "max")]).collect()[0]
    assert glob["amount_max"] == 40.0


def test_join_details_inner_and_prefix(spark, people):
    dim = spark.createDataFrame(
        [("a", "Alpha"), ("b", "Beta")], "label string, name string"
    )
    out = core.join_details(people, dim, "label")
    assert set(out.columns) == {"id", "label", "amount", "name"}
    assert out.count() == 4  # inner: NULL + 'c' rows dropped
    # colliding detail columns need a prefix
    dim2 = spark.createDataFrame([("a", 1.0)], "label string, amount double")
    with pytest.raises(ValueError):
        core.join_details(people, dim2, "label")
    pre = core.join_details(people, dim2, "label", prefix="d_")
    assert "d_amount" in pre.columns


def test_append_additivity(people):
    assert core.append([people, people]).count() == 2 * people.count()


def test_intersect_except(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "x long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "x long")
    assert {r["x"] for r in core.intersect(a, b).collect()} == {2, 3}
    assert sorted(r["x"] for r in core.except_all(a, b).collect()) == [1, 2]


def test_cdc_ops(spark):
    src = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, v string"
    )
    tgt = spark.createDataFrame(
        [(1, "x"), (2, "OLD")], "k long, v string"
    )
    assert {r["k"] for r in core.added_keys(src, tgt, "k").collect()} == {3}
    assert {r["k"] for r in core.added_rows(src, tgt, "k").collect()} == {3}
    assert {r["k"] for r in core.changed_rows(src, tgt, "k", ["v"]).collect()} == {2}


def test_changed_rows_null_safe(spark):
    src = spark.createDataFrame([(1, None), (2, "b")], "k long, v string")
    tgt = spark.createDataFrame([(1, "a"), (2, None)], "k long, v string")
    assert {r["k"] for r in core.changed_rows(src, tgt, "k", ["v"]).collect()} == {1, 2}


def test_grouped_apply(spark, people):
    import pandas as pd

    def count_rows(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame({"label": [pdf["label"].iloc[0]], "n": [len(pdf)]})

    out = core.grouped_apply(
        people.filter(F.col("label").isNotNull()), "label", count_rows,
        "label string, n long",
    )
    assert {r["label"]: r["n"] for r in out.collect()} == {"a": 3, "b": 1, "c": 1}


# --- window-analytics extensions (§2.6) --------------------------------


def test_rank_in_group_topk(people):
    out = core.rank_in_group(
        people.filter(F.col("label").isNotNull() & F.col("amount").isNotNull()),
        "label",
        [("amount", "desc"), ("id", "asc")],
        k=1,
    )
    got = {(r["label"], r["id"]) for r in out.collect()}
    assert got == {("a", 3), ("b", 2)}  # c's only row has NULL amount... filtered


def test_running_agg_cumulative(people):
    out = core.running_agg(
        people.filter(F.col("label") == "a"), "label", ["id"], "amount", "sum"
    )
    vals = [r["amount_running_sum"] for r in out.orderBy("id").collect()]
    assert vals == [10.0, 40.0, 50.0]


def test_lag_delta_first_row_null(people):
    out = core.lag_delta(
        people.filter(F.col("label") == "a"), "label", ["id"], "amount"
    )
    vals = [r["amount_delta"] for r in out.orderBy("id").collect()]
    assert vals == [None, 20.0, -20.0]


def test_rollup_and_cube_row_counts(people):
    df = people.filter(F.col("label").isNotNull())
    # rollup on 1 key: one row per label + grand total
    r = core.rollup_aggregate(df, ["label"], [("amount", "sum")])
    assert r.count() == 3 + 1
    c = core.rollup_aggregate(df, ["label"], [("amount", "sum")], mode="cube")
    assert c.count() == 3 + 1  # cube == rollup for a single key
    total = {r2["label"]: r2["amount_sum"] for r2 in r.collect()}
    assert total[None] == 70.0  # grand-total row (10+20+30+10; NULL amount skipped)


def test_pivot_aggregate(people):
    out = core.pivot_aggregate(
        people.filter(F.col("amount").isNotNull()),
        "amount", "label", ["a", "b"], "id", func="count",
    )
    by_amount = {r["amount"]: (r["a"], r["b"]) for r in out.collect()}
    assert by_amount[10.0] == (2, None)  # ids 1 and 6; no b at 10.0


# --- as-of join --------------------------------------------------------


def _asof_fixture(spark):
    import datetime as dt

    def ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, ts(10), "p1"), (1, ts(30), "p2"), (2, ts(5), "p3")],
        "uid long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(8), 1.0), (1, ts(10), 2.0), (1, ts(29), 3.0), (2, ts(50), 4.0)],
        "uid long, ts timestamp, quote double",
    )
    return left, right


def test_asof_backward(spark):
    left, right = _asof_fixture(spark)
    out = core.asof_join(left, right, on="ts", by="uid")
    got = {r["tag"]: r["r_quote"] for r in out.collect()}
    # p1@10 matches quote@10 (equal ts included), p2@30 -> quote@29,
    # p3@5 has no earlier quote -> NULL
    assert got == {"p1": 2.0, "p2": 3.0, "p3": None}


def test_asof_forward_and_tolerance(spark):
    left, right = _asof_fixture(spark)
    out = core.asof_join(left, right, on="ts", by="uid", direction="forward")
    got = {r["tag"]: r["r_quote"] for r in out.collect()}
    assert got == {"p1": 2.0, "p2": None, "p3": 4.0}

    out = core.asof_join(
        left, right, on="ts", by="uid", tolerance_seconds=30.0
    )
    got = {r["tag"]: r["r_quote"] for r in out.collect()}
    # p2@30 -> quote@29 is 60s away > 30s tolerance -> nulled, row kept
    assert got == {"p1": 2.0, "p2": None, "p3": None}


def test_asof_tolerance_ntz(spark):
    """tolerance on a TIMESTAMP_NTZ `on` column (the driver testdata's
    events.ts type) — used to crash with an NTZ->DOUBLE cast error."""
    left, right = _asof_fixture(spark)
    left = left.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = right.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = core.asof_join(
        left, right, on="ts", by="uid", tolerance_seconds=30.0
    )
    got = {r["tag"]: r["r_quote"] for r in out.collect()}
    assert got == {"p1": 2.0, "p2": None, "p3": None}


def test_salted_join_matches_plain(spark):
    left = spark.range(0, 500).withColumn("k", (F.col("id") % 3).cast("long"))
    right = spark.createDataFrame(
        [(0, "x"), (1, "y"), (5, "z")], "k long, v string"
    )
    plain = left.join(right, "k", "inner")
    salted = core.salted_join(left, right, "k", salt=8)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain.select(*salted.columns)).isEmpty()
    # left join keeps unmatched left rows exactly once
    lplain = left.join(right, "k", "left")
    lsalted = core.salted_join(left, right, "k", how="left", salt=8)
    assert lsalted.count() == lplain.count() == 500
    import pytest as _pt
    with _pt.raises(ValueError):
        core.salted_join(left, right, "k", how="full")


def test_stratified_sample(spark):
    df = spark.range(0, 2000).withColumn(
        "src", F.when(F.col("id") % 4 == 0, "rare").otherwise("common")
    )
    out = core.stratified_sample(df, "src", {"rare": 1.0, "common": 0.1}, seed=3)
    counts = {r["src"]: r["count"] for r in out.groupBy("src").count().collect()}
    assert counts["rare"] == 500            # fraction 1.0 keeps all
    assert 50 <= counts["common"] <= 350    # Bernoulli around 150
    # absent stratum is dropped
    out2 = core.stratified_sample(df, "src", {"rare": 1.0}, seed=3)
    assert out2.filter(F.col("src") == "common").count() == 0


def test_sample_reservoir_exact_size_and_plan(spark):
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    got = core.sample(df, 37, mode="reservoir")
    rows = got.collect()
    assert len(rows) == 37
    assert {r["id"] for r in rows} <= set(range(1000))
    # deterministic under a fixed seed
    again = core.sample(df, 37, mode="reservoir").collect()
    assert {r["id"] for r in rows} == {r["id"] for r in again}
    # top-k, not a global sort
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # k > n returns everything
    assert core.sample(df, 5000, mode="reservoir").count() == 1000


def test_sample_weighted_proportional(spark):
    import pytest

    rows = [(i, 1000.0 if i < 10 else 0.001) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = core.sample(df, 10, mode="weighted", weight_col="w").collect()
    assert len(got) == 10
    # the 10 heavy rows carry ~all the mass -> expect (nearly) all picked
    heavy = sum(1 for r in got if r["id"] < 10)
    assert heavy >= 8
    # zero/negative/null weights never selected
    df2 = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -5.0), (4, None)], "id long, w double"
    )
    picked = {r["id"] for r in core.sample(df2, 4, mode="weighted", weight_col="w").collect()}
    assert picked == {1}
    with pytest.raises(ValueError):
        core.sample(df, 5, mode="weighted")
    with pytest.raises(ValueError):
        core.sample(df, 5, mode="reservoir", discard=True)


def test_sample_threshold_select_path(spark):
    # takeordered_cutoff=0 forces the large-k two-phase threshold
    # select; same guarantees must hold: exact size, subset of input,
    # deterministic under a fixed seed, no TakeOrdered in the plan
    df = spark.range(0, 20000).withColumn("v", F.col("id") * 3)
    got = core.sample(df, 5000, mode="reservoir", takeordered_cutoff=0)
    ids = {r["id"] for r in got.collect()}
    assert len(ids) == 5000
    assert ids <= set(range(20000))
    again = core.sample(df, 5000, mode="reservoir", takeordered_cutoff=0)
    assert {r["id"] for r in again.collect()} == ids
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    # both paths draw the SAME sample (key is path-independent)
    small = core.sample(df, 5000, mode="reservoir")
    assert {r["id"] for r in small.collect()} == ids
    # weighted threshold path: heavy rows dominate, exact k
    w = df.withColumn(
        "w", F.when(F.col("id") < 6000, 1e9).otherwise(1e-9)
    )
    got_w = core.sample(
        w, 5000, mode="weighted", weight_col="w", takeordered_cutoff=0
    )
    rows = got_w.collect()
    assert len(rows) == 5000
    assert all(r["id"] < 6000 for r in rows)
    # k >= n returns everything
    assert (
        core.sample(df, 30000, mode="reservoir", takeordered_cutoff=0).count()
        == 20000
    )


def test_moving_agg_time_trailing_window(spark):
    from bubbles_spark.ops import core

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (2, "2024-01-01 10:30:00", 2.0),
        (3, "2024-01-01 11:00:00", 4.0),   # includes 10:00 (inclusive edge)
        (4, "2024-01-01 12:30:00", 8.0),   # alone
    ]
    df = spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "u", F.lit(1)
    )
    out = {
        r.id: r.v_trailing_sum
        for r in core.moving_agg_time(df, "ts", "u", "v", 3600.0).collect()
    }
    assert out == {1: 1.0, 2: 3.0, 3: 7.0, 4: 8.0}


def test_moving_agg_time_all_null_window_is_null(spark):
    """A trailing window whose rows are all NULL must yield NULL, not
    0, even when earlier out-of-window rows were non-null — the
    prefix-difference rewrite's S − S = 0 hole (round-7 advisory)."""
    from bubbles_spark.ops import core

    rows = [
        (1, "2024-01-01 10:00:00", 5.0),
        (2, "2024-01-01 13:00:00", None),  # 1h window holds only NULL
        (3, "2024-01-01 13:30:00", None),
    ]
    df = spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "u", F.lit(1)
    )
    out = {
        r.id: r.v_trailing_sum
        for r in core.moving_agg_time(df, "ts", "u", "v", 3600.0).collect()
    }
    assert out == {1: 5.0, 2: None, 3: None}
    avg = {
        r.id: r.v_trailing_avg
        for r in core.moving_agg_time(
            df, "ts", "u", "v", 3600.0, func="avg"
        ).collect()
    }
    assert avg == {1: 5.0, 2: None, 3: None}


def test_rolling_features_all_null_window_is_null(spark):
    from bubbles_spark.ops import events

    rows = [
        (1, "2024-01-01 10:00:00", 5.0),
        (2, "2024-01-01 13:00:00", None),
    ]
    df = spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "u", F.lit(1)
    )
    out = {
        r.id: (r.v_sum_1h, r.v_count_1h)
        for r in events.rolling_features(
            df, "ts", "u", "v", windows_seconds=(3600,), funcs=("sum", "count")
        ).collect()
    }
    assert out == {1: (5.0, 1), 2: (None, 0)}


def test_rank_in_group_ntile_and_percent_rank(spark):
    from bubbles_spark.ops import core

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(10)], "id long, g string, v double"
    )
    deciles = {
        r.id: r.rank
        for r in core.rank_in_group(df, "g", ["v"], method="ntile:5").collect()
    }
    assert sorted(deciles.values()) == [1, 1, 2, 2, 3, 3, 4, 4, 5, 5]
    pr = {
        r.id: r.rank
        for r in core.rank_in_group(df, "g", ["v"], method="percent_rank").collect()
    }
    assert pr[0] == 0.0 and pr[9] == 1.0


def test_interval_join_matches_brute_force(spark):
    from bubbles_spark.ops import core

    import random

    rng = random.Random(7)
    lrows = [
        (i, rng.uniform(0, 100), 0.0) for i in range(40)
    ]
    lrows = [(i, s, s + rng.uniform(0.1, 25)) for i, s, _ in lrows]
    rrows = [
        (j, rng.uniform(0, 100), 0.0) for j in range(30)
    ]
    rrows = [(j, s, s + rng.uniform(0.1, 25)) for j, s, _ in rrows]
    ldf = spark.createDataFrame(lrows, "lid long, ls double, le double")
    rdf = spark.createDataFrame(rrows, "rid long, rs double, re double")
    for bw in (None, 5.0, 50.0):
        got = {
            (r.lid, r.r_rid)
            for r in core.interval_join(
                ldf, rdf, "ls", "le", "rs", "re", bucket_width=bw
            ).collect()
        }
        truth = {
            (i, j)
            for i, ls, le in lrows
            for j, rs, re in rrows
            if ls < re and rs < le
        }
        assert got == truth, bw


def test_interval_join_with_by_key(spark):
    from bubbles_spark.ops import core

    ldf = spark.createDataFrame(
        [(1, "a", 0.0, 10.0), (2, "b", 0.0, 10.0)], "lid long, k string, ls double, le double"
    )
    rdf = spark.createDataFrame(
        [(7, "a", 5.0, 6.0), (8, "b", 20.0, 30.0)], "rid long, k string, rs double, re double"
    )
    got = {
        (r.lid, r.r_rid)
        for r in core.interval_join(
            ldf, rdf, "ls", "le", "rs", "re", by="k", bucket_width=4.0
        ).collect()
    }
    assert got == {(1, 7)}  # same-key overlap only; (2,8) doesn't overlap


def test_train_test_split_deterministic_and_grouped(spark):
    from bubbles_spark.ops import core

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r.doc_id: r.split for r in core.train_test_split(df, key_col="doc_id").collect()}
    b = {r.doc_id: r.split for r in core.train_test_split(df, key_col="doc_id").collect()}
    assert a == b
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert 0.7 < c["train"] / n < 0.9  # ~0.8 multinomial

    g = core.train_test_split(df, group_col="source").collect()
    by_src = {}
    for r in g:
        by_src.setdefault(r.source, set()).add(r.split)
    assert all(len(s) == 1 for s in by_src.values())  # no group straddles

    c2 = {
        r.doc_id: r.split
        for r in core.train_test_split(df, key_col="doc_id", seed=7).collect()
    }
    assert a != c2  # seed changes the assignment


def test_train_test_split_validation(spark):
    from bubbles_spark.ops import core

    df = spark.createDataFrame([(1,)], "id long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        core.train_test_split(df, weights=[])
    with _pytest.raises(ValueError):
        core.train_test_split(df, key_col="id", weights=[0.5, 0.5], split_names=["a"])
    with _pytest.raises(ValueError):
        core.train_test_split(df)


def test_cdc_diff_tags_all_ops(spark):
    from bubbles_spark.ops import core

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "id long, s string, v double",
    )
    src = spark.createDataFrame(
        [(2, "b", 25.0),   # update (v changed)
         (3, "c", None),   # unchanged -> excluded
         (4, "d", 40.0)],  # insert
        "id long, s string, v double",
    )
    out = {r.id: (r.op, r.s, r.v) for r in core.cdc_diff(src, target, "id", ["s", "v"]).collect()}
    assert out == {
        2: ("update", "b", 25.0),
        4: ("insert", "d", 40.0),
        1: ("delete", "a", 10.0),
    }


def test_cdc_diff_null_transitions_are_updates(spark):
    from bubbles_spark.ops import core

    target = spark.createDataFrame([(1, None)], "id long, v double")
    src = spark.createDataFrame([(1, 5.0)], "id long, v double")
    [r] = core.cdc_diff(src, target, "id", ["v"]).collect()
    assert (r.op, r.v) == ("update", 5.0)


def test_hash_sample_deterministic_and_complement(spark):
    from bubbles_spark.ops import core as core_ops

    df = spark.range(0, 2000).withColumn("k", F.col("id").cast("string"))
    a = core_ops.hash_sample(df, 0.25, ["k"])
    b = core_ops.hash_sample(df, 0.25, ["k"])
    ids_a = sorted(r["id"] for r in a.collect())
    assert ids_a == sorted(r["id"] for r in b.collect())  # run-to-run stable
    # roughly a quarter (binomial bounds, generous)
    assert 380 <= len(ids_a) <= 620
    comp = core_ops.hash_sample(df, 0.25, ["k"], discard=True)
    assert len(ids_a) + comp.count() == 2000
    assert not set(ids_a) & {r["id"] for r in comp.collect()}


def test_hash_sample_fraction_edges_and_salt(spark):
    from bubbles_spark.ops import core as core_ops

    df = spark.range(0, 300).withColumn("k", F.col("id").cast("string"))
    assert core_ops.hash_sample(df, 1.0, ["k"]).count() == 300
    assert core_ops.hash_sample(df, 0.0, ["k"]).count() == 0
    s0 = {r["id"] for r in core_ops.hash_sample(df, 0.5, ["k"], salt=0).collect()}
    s1 = {r["id"] for r in core_ops.hash_sample(df, 0.5, ["k"], salt=1).collect()}
    assert s0 != s1  # different replica
    with pytest.raises(ValueError):
        core_ops.hash_sample(df, 1.5, ["k"])


def test_asof_join_nearest_picks_closer_side(spark):
    from pyspark.sql import functions as F

    from bubbles_spark.ops import core

    L = spark.createDataFrame(
        [(1, 10.0), (2, 95.0), (3, 50.0)], "id long, t double"
    )
    R = spark.createDataFrame(
        [(100, 0.0), (200, 60.0), (300, 90.0)], "rid long, t double"
    )
    got = {r["id"]: r for r in core.asof_join(
        L, R, on="t", direction="nearest"
    ).collect()}
    assert got[1]["r_rid"] == 100      # |10-0|=10 < |60-10|=50
    assert got[2]["r_rid"] == 300      # forward none; 90 closest
    assert got[3]["r_rid"] == 200      # |50-60|=10 < |50-0|=50


def test_asof_join_nearest_tie_prefers_backward_and_tolerance(spark):
    from bubbles_spark.ops import core

    L = spark.createDataFrame([(1, 50.0)], "id long, t double")
    R = spark.createDataFrame(
        [(7, 40.0), (8, 60.0)], "rid long, t double"
    )
    got = core.asof_join(L, R, on="t", direction="nearest").collect()[0]
    assert got["r_rid"] == 7           # equal gap 10 -> backward
    # tolerance kills both candidates -> NULL match
    none = core.asof_join(
        L, R, on="t", direction="nearest", tolerance_seconds=5.0
    ).collect()[0]
    assert none["r_rid"] is None


def test_asof_join_nearest_equal_ts_is_gap_zero(spark):
    from bubbles_spark.ops import core

    L = spark.createDataFrame([(1, 50.0)], "id long, t double")
    R = spark.createDataFrame(
        [(7, 50.0), (8, 51.0)], "rid long, t double"
    )
    got = core.asof_join(L, R, on="t", direction="nearest").collect()[0]
    assert got["r_rid"] == 7


def test_point_in_time_join_versions(spark):
    from pyspark.sql import functions as F

    from bubbles_spark.ops import core

    dim = spark.createDataFrame(
        [
            (1, "v1", "2024-01-01", "2024-02-01"),
            (1, "v2", "2024-02-01", None),
        ],
        "k long, val string, valid_from string, valid_to string",
    ).select(
        "k", "val",
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
    )
    facts = spark.createDataFrame(
        [(10, 1, "2024-01-15"), (11, 1, "2024-02-01"),
         (12, 1, "2023-12-01"), (13, 2, "2024-01-15")],
        "fid long, k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {r["fid"]: r["r_val"] for r in core.point_in_time_join(
        facts, dim, "ts", "k"
    ).collect()}
    assert got[10] == "v1"        # inside v1's interval
    assert got[11] == "v2"        # boundary is half-open: v2 starts
    assert got[12] is None        # before any version
    assert got[13] is None        # unknown key, left-outer


def test_cdc_column_diff_cells_and_null_transitions(spark):
    from bubbles_spark.ops import core

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30)],
        "k long, s string, x int",
    )
    new = spark.createDataFrame(
        [(1, "a", 11), (2, "B", 20), (4, "d", 40)],
        "k long, s string, x int",
    )
    got = sorted(
        (r["k"], r["col_name"], r["old_value"], r["new_value"])
        for r in core.cdc_column_diff(old, new, "k").collect()
    )
    # key 3 (removed) and key 4 (added) are out of scope here —
    # added_keys/changed_rows cover membership; this names the cells
    assert got == [
        (1, "x", "10", "11"),
        (2, "s", "b", "B"),
        (2, "x", None, "20"),
    ]


def test_surrogate_key_stable_and_null_safe(spark):
    import pytest as _pytest

    from bubbles_spark.ops import core

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", None)],
        "id long, x string, y string",
    )
    got = {r["id"]: r["sk"] for r in core.surrogate_key(
        df, ["x", "y"]
    ).collect()}
    assert got[1] == got[3] and len(got[1]) == 16
    # (NULL,'a') must NOT collide with ('a',NULL)
    assert got[1] != got[2]
    # separator injection: ('a\x1fb','c') vs ('a','b\x1fc') and a
    # literal 'N' vs NULL must all stay distinct (injective encoding)
    inj = spark.createDataFrame(
        [(1, "a\x1fb", "c"), (2, "a", "b\x1fc"), (3, "N", "c"),
         (4, None, "c")],
        "id long, x string, y string",
    )
    sks = {r["id"]: r["sk"] for r in core.surrogate_key(
        inj, ["x", "y"]
    ).collect()}
    assert len(set(sks.values())) == 4
    assert core.surrogate_key_collisions(df, ["x", "y"]).count() == 0
    with _pytest.raises(ValueError, match="cols"):
        core.surrogate_key(df, [])


def test_stratified_sample_n_exact_and_deterministic(spark):
    from bubbles_spark.ops import core

    rows = [(i, "a" if i <= 30 else "b") for i in range(1, 36)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = core.stratified_sample_n(df, "s", 10, ["id"]).collect()
    by = {}
    for r in got:
        by.setdefault(r["s"], set()).add(r["id"])
    assert len(by["a"]) == 10          # exactly n from the big stratum
    assert len(by["b"]) == 5           # small stratum kept whole
    # deterministic: same pick every run; salt redraws
    again = core.stratified_sample_n(df, "s", 10, ["id"]).collect()
    assert {r["id"] for r in again} == by["a"] | by["b"]
    other = core.stratified_sample_n(df, "s", 10, ["id"], salt=1).collect()
    assert {r["id"] for r in other if r["s"] == "a"} != by["a"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_per_stratum"):
        core.stratified_sample_n(df, "s", 0, ["id"])


def test_stratified_sample_n_null_keys_distinct(spark):
    """('a', NULL) and (NULL, 'a') must hash to different pick keys —
    the bare-concat_ws collapse the injective encoding removes
    (round-7 advisory)."""
    from bubbles_spark.ops import core

    rows = [("a", None), (None, "a"), ("x\x1fy", "z"), ("x", "y\x1fz")]
    df = spark.createDataFrame(rows, "k1 string, k2 string").withColumn(
        "s", F.lit(1)
    )
    # n=2 must pick a deterministic, partitioning-invariant pair
    picks = [
        {(r["k1"], r["k2"]) for r in core.stratified_sample_n(
            df.repartition(p), "s", 2, ["k1", "k2"]
        ).collect()}
        for p in (1, 2, 4)
    ]
    assert picks[0] == picks[1] == picks[2]
    assert len(picks[0]) == 2


def test_lookup_with_default_flags_and_fills(spark):
    from bubbles_spark.ops import core

    facts = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "fid long, k long"
    )
    dim = spark.createDataFrame(
        [(10, "ten", None), (20, "twenty", 2)],
        "k long, name string, grp int",
    )
    out = {r["fid"]: r for r in core.lookup_with_default(
        facts, dim, "k", defaults={"name": "UNKNOWN"}
    ).collect()}
    assert out[1]["name"] == "ten" and out[1]["dim_matched"] is True
    # matched row with a legitimately-NULL dim value stays NULL (the
    # planted marker, not a NULL test, drives the flag)
    assert out[1]["grp"] is None and out[1]["dim_matched"] is True
    assert out[3]["name"] == "UNKNOWN" and out[3]["dim_matched"] is False
    assert out[3]["grp"] is None  # no default -> NULL
    import pytest as _pytest

    with _pytest.raises(ValueError, match="defaults"):
        core.lookup_with_default(facts, dim, "k", defaults={"nope": 1})
    # collision raises without prefix; prefix resolves it
    facts2 = facts.withColumn("name", F.lit("f"))
    with _pytest.raises(ValueError, match="collide"):
        core.lookup_with_default(facts2, dim, "k")
    pre = core.lookup_with_default(
        facts2, dim, "k", prefix="d_", defaults={"name": "UNKNOWN"}
    )
    assert "d_name" in pre.columns


def test_scd2_snapshot_point_in_time(spark):
    """Half-open [from, to): the version closed AT the cut instant is
    superseded; open-ended current versions survive."""
    from bubbles_spark.ops import core

    dim = spark.createDataFrame(
        [(1, "v1", "2024-01-01", "2024-02-01"),
         (1, "v2", "2024-02-01", None),
         (2, "w1", "2024-03-01", None)],
        "k long, v string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "v", "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
    )
    got = {r["k"]: r["v"] for r in core.scd2_snapshot(
        dim, "2024-02-01"
    ).collect()}
    assert got == {1: "v2"}   # v1 closed AT the cut; key 2 not born yet
    got2 = {r["k"]: r["v"] for r in core.scd2_snapshot(
        dim, "2024-03-15"
    ).collect()}
    assert got2 == {1: "v2", 2: "w1"}


def test_temporal_split_boundaries_and_embargo(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 10)),   # train
        (2, datetime(2024, 1, 18, 23, 59, 59)),  # last train instant
        (3, datetime(2024, 1, 19)),   # embargo (1d before val_start)
        (4, datetime(2024, 1, 20)),   # first val instant
        (5, datetime(2024, 1, 24, 23, 59, 59)),  # last val instant
        (6, datetime(2024, 1, 25)),   # embargo before test
        (7, datetime(2024, 1, 26)),   # first test instant
        (8, None),                    # NULL stays NULL
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    out = {
        r["id"]: r["split"]
        for r in core.temporal_split(
            df, "ts", "2024-01-20", "2024-01-26", embargo_seconds=86400
        ).collect()
    }
    assert out == {
        1: "train", 2: "train", 3: "embargo", 4: "val",
        5: "val", 6: "embargo", 7: "test", 8: None,
    }


def test_temporal_split_validation(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1))], "id long, ts timestamp_ntz"
    )
    with pytest.raises(ValueError):
        core.temporal_split(df, "ts", "2024-02-01", "2024-01-01")
    with pytest.raises(ValueError):
        core.temporal_split(df, "ts", "2024-01-20", "2024-01-26",
                            embargo_seconds=-1)
    with pytest.raises(ValueError):
        # 1-day val window, 2-day embargo: nothing can be val
        core.temporal_split(df, "ts", "2024-01-20", "2024-01-21",
                            embargo_seconds=2 * 86400)


def test_pushdown_fence_blocks_predicate_and_preserves_rows(spark):
    """r13: a filter on an expensive derived column gets pushed below
    the defining projections with the whole expression tree re-inlined
    into the predicate (Spark 4 pushes even non-deterministic
    predicates through deterministic Projects).  The fence must (a)
    keep the frame row-for-row identical, (b) actually stop the push:
    the optimized plan keeps a Generate, and the filter sits above it
    referencing the fenced column, never the inlined expression."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "w " * (i % 7)) for i in range(100)], "id long, text string"
    )
    heavy = F.length(F.regexp_replace(F.col("text"), r"\s+", " "))
    scored = df.withColumn("score", heavy)
    plain = scored.filter(F.col("score") >= 5)
    fenced = core.pushdown_fence(scored, "score").filter(F.col("score") >= 5)

    assert fenced.columns == plain.columns
    assert sorted(map(tuple, fenced.collect())) == sorted(
        map(tuple, plain.collect())
    )

    plan = fenced._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan
    # the pushed-plain plan inlines regexp_replace into the Filter;
    # the fenced plan's Filter must reference the generate output only
    filter_lines = [l for l in plan.splitlines() if "Filter" in l]
    assert filter_lines and all(
        "regexp_replace" not in l for l in filter_lines
    )

    # multi-column fence keeps every fenced column's values
    two = core.pushdown_fence(
        scored.withColumn("score2", F.col("score") * 2), "score", "score2"
    )
    assert sorted(map(tuple, two.collect())) == sorted(
        map(tuple, scored.withColumn("score2", F.col("score") * 2).collect())
    )

    # zero columns: identity
    assert core.pushdown_fence(scored) is scored
