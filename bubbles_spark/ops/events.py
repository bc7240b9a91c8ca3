"""Batch event-time window operators (SURVEY.md §2.13).

The reference has NO streaming/window support at all — these are
pure-Spark extensions over the `events` table shape
(event_id, ts, user_id, event_type, value, props-json).

Batch mode here; the same groupBy(window(...)) plans run unchanged
as Structured Streaming queries (see bubbles_spark/streaming/) with a
watermark added — that's the point of designing on F.window /
F.session_window rather than hand-rolled bucketing.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bubbles_spark.ops.core import _AGG_FUNCS


def _window_aggs(measures: Sequence[tuple[str, str]], include_count: bool):
    aggs = []
    for field, func in measures:
        fn = _AGG_FUNCS[func.lower()]
        aggs.append(fn(field).alias(f"{field}_{func.lower()}"))
    if include_count:
        aggs.append(F.count(F.lit(1)).alias("record_count"))
    return aggs


def tumbling_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str] = (),
    measures: Sequence[tuple[str, str]] = (),
    include_count: bool = True,
) -> DataFrame:
    """Fixed-width event-time windows: groupBy(F.window(ts, duration)).
    Output: window_start, window_end, *keys, measures."""
    g = df.groupBy(F.window(ts_col, duration).alias("__w"), *keys)
    out = g.agg(*_window_aggs(measures, include_count))
    return out.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )


def sliding_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str] = (),
    measures: Sequence[tuple[str, str]] = (),
    include_count: bool = True,
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows.
    Spark expands the window assignment inline (no self-join)."""
    g = df.groupBy(F.window(ts_col, duration, slide).alias("__w"), *keys)
    out = g.agg(*_window_aggs(measures, include_count))
    return out.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )


def session_window(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    measures: Sequence[tuple[str, str]] = (),
    include_count: bool = True,
) -> DataFrame:
    """Session windows (gap-based): F.session_window in batch mode.
    A session closes when no event arrives within ``gap``."""
    g = df.groupBy(F.session_window(ts_col, gap).alias("__w"), *keys)
    out = g.agg(*_window_aggs(measures, include_count))
    return out.select(
        F.col("__w.start").alias("session_start"),
        F.col("__w.end").alias("session_end"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )


def epoch_seconds(df: DataFrame, ts_col: str):
    """NTZ-safe epoch-seconds Column for ``ts_col``.

    TIMESTAMP_NTZ cannot cast straight to DOUBLE; route it through
    TIMESTAMP first (session tz is pinned UTC, and only *differences*
    matter for gap logic anyway).  Numeric columns pass through.
    """
    dt = dict(df.dtypes).get(ts_col, "")
    c = F.col(ts_col)
    if dt.startswith("timestamp") or dt == "date":
        return c.cast("timestamp").cast("double")
    return c.cast("double")


def sessionize(
    df: DataFrame, ts_col: str, user_col: str, gap_minutes: float
) -> DataFrame:
    """Assign a session_id per user via gap-and-island (lag + running
    count of gap breaks).  Unlike session_window this keeps the
    original rows (one output row per event, labeled).  One shuffle on
    user, ordered within partition — the classic sessionization plan.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60.0
    sec = epoch_seconds(df, ts_col)
    tagged = df.withColumn("__ts_s", sec)
    prev = F.lag("__ts_s").over(w)
    # >= gap starts a new session — the same closure as
    # F.session_window, whose [start, last+gap) interval is half-open
    is_new = F.when(
        prev.isNull() | (F.col("__ts_s") - prev >= gap_s), 1
    ).otherwise(0)
    return tagged.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w)
    ).drop("__new", "__ts_s")


def time_bucket_rollup(
    df: DataFrame,
    ts_col: str,
    granularities: Sequence[str],
    keys: Sequence[str] = (),
    measures: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Multi-granularity time rollup (the hypertable continuous-
    aggregate pattern): ONE result holding the same measures bucketed
    at each granularity, tagged by a ``grain`` column.

    Scale shape: the raw input is aggregated ONCE at the finest
    granularity; every coarser grain re-aggregates the (tiny) fine
    result, not the raw data — the rollup pyramid.  At 100 TB that is
    one full shuffle + k-1 metadata-sized shuffles instead of k full
    passes.  Requires pyramid-compatible measures: sum/min/max/count
    re-aggregate exactly (avg would need sum+count carried — refused).

    ``granularities`` must be coarsening multiples, finest first
    (e.g. ["1 hour", "1 day"]).  Output: grain, window_start, *keys,
    ``{field}_{func}``, record_count.
    """
    allowed = {"sum", "min", "max", "count"}
    bad = [f for _, f in measures if f.lower() not in allowed]
    if bad:
        raise ValueError(
            f"time_bucket_rollup needs pyramid-safe measures (sum/min/max/count), got {bad}"
        )
    finest, *coarser = list(granularities)

    fine = (
        df.groupBy(F.window(ts_col, finest).alias("__w"), *keys)
        .agg(*_window_aggs(measures, include_count=True))
        .select(
            F.lit(finest).alias("grain"),
            F.col("__w.start").alias("window_start"),
            *keys,
            *[f"{f}_{fn.lower()}" for f, fn in measures],
            "record_count",
        )
    )

    out = fine
    level = fine
    for g in coarser:
        reaggs = []
        for f, fn in measures:
            name = f"{f}_{fn.lower()}"
            refn = _AGG_FUNCS["sum" if fn.lower() == "count" else fn.lower()]
            reaggs.append(refn(name).alias(name))
        reaggs.append(F.sum("record_count").alias("record_count"))
        level = (
            level.groupBy(F.window("window_start", g).alias("__w"), *keys)
            .agg(*reaggs)
            .select(
                F.lit(g).alias("grain"),
                F.col("__w.start").alias("window_start"),
                *keys,
                *[f"{f}_{fn.lower()}" for f, fn in measures],
                "record_count",
            )
        )
        out = out.unionByName(level)
    return out


def time_bucket_rollup_distinct(
    df: DataFrame,
    ts_col: str,
    granularities: Sequence[str],
    distinct_col: str,
    keys: Sequence[str] = (),
    lgk: int = 12,
) -> DataFrame:
    """Multi-granularity APPROX-DISTINCT rollup via mergeable HLL
    sketches (Apache DataSketches, built into Spark) — the measure
    time_bucket_rollup must refuse (plain count_distinct does not
    re-aggregate: distinct-per-hour can't sum to distinct-per-day).

    Pyramid shape, same as time_bucket_rollup: the raw input is
    sketched ONCE at the finest grain (hll_sketch_agg — partial-
    aggregates map-side like any agg); every coarser grain UNIONS the
    fine sketches (hll_union_agg over kilobyte-sized binaries), so at
    100 TB the k-grain rollup costs one full pass + k-1 sketch-sized
    shuffles, and the same sketch column can keep merging upward
    (day → month → year) without ever rescanning raw data.

    ``lgk`` = log2 of sketch buckets (12 → ~1.6% rel. std. error).
    Output: grain, window_start, *keys, approx_distinct.
    """
    finest, *coarser = list(granularities)

    fine_sk = (
        df.groupBy(F.window(ts_col, finest).alias("__w"), *keys)
        .agg(F.hll_sketch_agg(distinct_col, F.lit(lgk)).alias("__sk"))
        .select(
            F.col("__w.start").alias("window_start"), *keys, "__sk"
        )
    )

    def finish(level: DataFrame, grain: str) -> DataFrame:
        return level.select(
            F.lit(grain).alias("grain"),
            "window_start",
            *keys,
            F.hll_sketch_estimate("__sk").alias("approx_distinct"),
        )

    out = finish(fine_sk, finest)
    level = fine_sk
    for g in coarser:
        level = (
            level.groupBy(F.window("window_start", g).alias("__w"), *keys)
            .agg(F.hll_union_agg("__sk").alias("__sk"))
            .select(F.col("__w.start").alias("window_start"), *keys, "__sk")
        )
        out = out.unionByName(finish(level, g))
    return out


def time_bucket_rollup_quantiles(
    df: DataFrame,
    ts_col: str,
    granularities: Sequence[str],
    value_col: str,
    keys: Sequence[str] = (),
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    bins: int = 4096,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Multi-granularity APPROX-QUANTILE rollup via a mergeable
    histogram sketch — the quantile twin of
    ``time_bucket_rollup_distinct``'s HLL pyramid, completing the
    mergeable-sketch story (quantiles, like count-distinct, are a
    measure ``time_bucket_rollup`` must refuse: a p95-per-hour can't
    re-aggregate into a p95-per-day).

    The sketch is an equi-width bin-count histogram over the value
    domain: rows bin map-side, the raw input aggregates ONCE at the
    finest grain into (window, key, bin) counts, and every coarser
    grain just SUMS the fine counts — vector addition, the exact
    mergeability property, so day → month → year keeps rolling up
    without rescanning raw data.  At 100 TB: one full shuffle +
    (k-1) histogram-sized shuffles.

    The estimate is DETERMINISTIC, not sampled: quantile q of a
    group with N rows is the lower edge of the first bin whose
    cumulative count reaches ceil(q·N).  Value error is bounded by
    one bin width, (hi−lo)/bins; rank error is zero at bin
    granularity.  The binning formula is plain IEEE arithmetic
    (floor((v−lo)/step)) so an external SQL engine reproduces the
    output exactly — the operator is hash-checkable, unlike a
    randomized KLL/t-digest.

    ``bounds``: optional (lo, hi) domain override; default probes
    min/max with one metadata-sized pre-pass (two scalars to the
    driver).  Values outside a supplied domain clamp to the edge
    bins.  NULL values are excluded.  Output: grain, window_start,
    *keys, p<pct> per quantile, record_count.
    """
    if bounds is None:
        row = df.select(
            F.min(F.col(value_col).cast("double")).alias("lo"),
            F.max(F.col(value_col).cast("double")).alias("hi"),
        ).first()
        lo, hi = row["lo"], row["hi"]
        if lo is None:  # all-null input: empty result, schema intact
            lo, hi = 0.0, 0.0
    else:
        lo, hi = float(bounds[0]), float(bounds[1])
    step = (hi - lo) / bins if hi > lo else 0.0

    v = F.col(value_col).cast("double")
    if step > 0.0:
        bin_col = F.least(
            F.greatest(
                F.floor((v - F.lit(lo)) / F.lit(step)).cast("int"), F.lit(0)
            ),
            F.lit(bins - 1),
        )
    else:
        bin_col = F.lit(0)

    finest, *coarser = list(granularities)
    fine = (
        df.filter(v.isNotNull())
        .withColumn("__bin", bin_col)
        .groupBy(F.window(ts_col, finest).alias("__w"), *keys, F.col("__bin"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            F.col("__w.start").alias("window_start"), *keys, "__bin", "__cnt"
        )
    )

    def names() -> list[str]:
        out = []
        for q in qs:
            pct = q * 100
            out.append(
                f"p{int(pct)}" if float(pct).is_integer() else
                f"p{str(pct).replace('.', '_')}"
            )
        return out

    qnames = names()

    def finish(level: DataFrame, grain: str) -> DataFrame:
        grp = ["window_start", *keys]
        w_cum = (
            Window.partitionBy(*grp)
            .orderBy("__bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*grp)
        lvl = level.withColumn("__cum", F.sum("__cnt").over(w_cum)).withColumn(
            "__tot", F.sum("__cnt").over(w_all)
        )
        aggs = []
        for q, name in zip(qs, qnames):
            rank = F.ceil(F.lit(float(q)) * F.col("__tot"))
            aggs.append(
                F.min(
                    F.when(F.col("__cum") >= rank, F.col("__bin"))
                ).alias(f"__b_{name}")
            )
        aggs.append(F.sum("__cnt").alias("record_count"))
        done = lvl.groupBy(*grp).agg(*aggs)
        sel = [F.lit(grain).alias("grain"), "window_start", *keys]
        for name in qnames:
            est = F.lit(lo) + F.col(f"__b_{name}") * F.lit(step)
            sel.append(F.round(est, 6).alias(name))
        sel.append("record_count")
        return done.select(*sel)

    out = finish(fine, finest)
    level = fine
    for g in coarser:
        level = (
            level.groupBy(
                F.window("window_start", g).alias("__w"), *keys, "__bin"
            )
            .agg(F.sum("__cnt").alias("__cnt"))
            .select(
                F.col("__w.start").alias("window_start"), *keys, "__bin", "__cnt"
            )
        )
        out = out.unionByName(finish(level, g))
    return out


def parse_props(
    df: DataFrame, props_col: str = "props", schema: str = "k INT"
) -> DataFrame:
    """Parse the JSON props column into typed fields (SURVEY.md §7.5:
    the reference era carried nesting as strings; from_json with an
    explicit schema is the scale path — no schema inference scan)."""
    return df.withColumn("__p", F.from_json(F.col(props_col), schema)).select(
        *df.columns, "__p.*"
    ).drop("__p")


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    within_seconds: float | None = None,
) -> DataFrame:
    """Ordered funnel analysis (first-touch semantics): for each step
    i, count the users who performed steps[0..i] in timestamp order —
    step i must occur strictly AFTER the user's earliest completion
    of step i-1, and (with ``within_seconds``) no later than
    ``within_seconds`` after their step-0 time.

    Returns (step int, step_name, users bigint), step 0-indexed; a
    user converts greedily on earliest timestamps, the standard
    product-analytics funnel definition, which makes the result
    deterministic and SQL-expressible (the driver oracle replays the
    same stepwise mins).

    Scale shape: one filtered groupBy per step (k tiny) + an equi
    join per step on the user key — k·2 shuffles of (user, ts) pairs
    only; no windows over the full event stream, no collect."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    ts = F.col(ts_col).cast("timestamp")
    reached = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts).alias("__t0"))
    )
    prev_t = "__t0"
    levels = [reached]
    for i, step in enumerate(steps[1:], start=1):
        cand = df.filter(F.col(type_col) == step).select(
            user_col, ts.alias("__ts")
        )
        joined = cand.join(reached, user_col).filter(F.col("__ts") > F.col(prev_t))
        if within_seconds is not None:
            joined = joined.filter(
                F.col("__ts").cast("double") - F.col("__t0").cast("double")
                <= float(within_seconds)
            )
        reached = joined.groupBy(user_col, "__t0").agg(
            F.min("__ts").alias(f"__t{i}")
        )
        prev_t = f"__t{i}"
        levels.append(reached)
    # one lazy plan: a union of per-step count aggregates.  Branch i
    # re-derives steps 0..i (O(k²) filtered scans for a k-step
    # funnel) — k is 3-5 in practice and each branch reads only its
    # step's rows; persist the shared prefixes if k ever grows.
    parts = [
        lvl.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(i).cast("int").alias("step"),
            F.lit(s).alias("step_name"),
            F.col("users").cast("long"),
        )
        for i, (s, lvl) in enumerate(zip(steps, levels))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def retention_cohorts(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the DAY of
    their first event; for each (cohort_day, period) — period =
    floor(days-since-cohort / period_days) — count the distinct
    cohort users active in that period.

    Day truncation (not week buckets) keeps the arithmetic
    origin-free: Spark's window origin (1970-01-01, a Thursday) and
    DuckDB's time_bucket origin (2000-01-03, a Monday) disagree on
    week alignment, but both truncate days at midnight, and the
    period index is plain integer arithmetic from there — exact
    cross-engine.

    Scale shape: one groupBy(user) for first-events, one shuffle join
    back on the user key (at 100 TB: sort-merge on user, or broadcast
    when the cohort table is filtered small), one partial-aggregated
    count-distinct per (cohort, period).

    All arithmetic stays in the column's own wall-clock space: an NTZ
    input truncates and cohorts as NTZ (no session-zone cast, so the
    output renders identically in every timezone and the period index
    — integer DAY differences — can't shift at a DST transition the
    way epoch-seconds differences of zone-local midnights could)."""
    # date_trunc coerces NTZ→instant, so truncate via the DATE cast
    # (wall-clock midnight, NTZ-typed — TZ-free in every session)
    day = F.col(ts_col).cast("date").cast("timestamp_ntz")
    firsts = df.groupBy(user_col).agg(F.min(day).alias("__cohort"))
    period = F.floor(
        F.datediff(day.cast("date"), F.col("__cohort").cast("date"))
        / F.lit(period_days)
    ).cast("int")
    return (
        df.join(firsts, user_col)
        .select(F.col("__cohort").alias("cohort_day"), period.alias("period"), user_col)
        .groupBy("cohort_day", "period")
        .agg(F.count_distinct(F.col(user_col)).alias("active_users"))
    )


def rolling_features(
    df: DataFrame,
    ts_col: str,
    partition_by: str | Sequence[str],
    value_col: str,
    windows_seconds: Sequence[int] = (3600, 86400, 604800),
    funcs: Sequence[str] = ("sum", "count"),
) -> DataFrame:
    """Multi-horizon trailing FEATURE MATRIX — the feature-store shape
    behind churn/fraud/forecast models: for every row, each requested
    aggregate of ``value_col`` over the trailing 1h/24h/7d/… windows
    of its partition, all horizons in ONE pass.

    Every (window, func) pair is a RANGE frame over the SAME
    partition/order, so Catalyst plans one hash shuffle + one sort
    and slides all frames over it — k horizons cost one extra frame
    each, never k self-joins or k sorts (`.explain` shows a single
    Window node).  The sort key is wall-clock-pinned epoch
    milliseconds (``core.epoch_ms_wallclock``), so frame membership
    is identical in every session timezone.

    Exactness: ``sum`` over float columns aggregates decimal-cast
    terms (frame sums re-aggregate per row — double rounding would be
    partitioning-dependent); ``avg`` is that exact decimal sum ÷ the
    exact count in one IEEE division.  Column names:
    ``{value}_{func}_{horizon}`` with humanized horizons (3600 →
    '1h', 86400 → '1d').  Funcs: sum/count/min/max/avg."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    is_float = dict(df.dtypes).get(value_col) in ("double", "float")
    order = epoch_ms_wallclock(
        F.col(ts_col), dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    )
    base = Window.partitionBy(*parts).orderBy(order)

    def _label(s: int) -> str:
        if s % 86400 == 0:
            return f"{s // 86400}d"
        if s % 3600 == 0:
            return f"{s // 3600}h"
        if s % 60 == 0:
            return f"{s // 60}m"
        return f"{s}s"

    allowed = {"sum", "count", "min", "max", "avg"}
    bad = [f for f in funcs if f.lower() not in allowed]
    if bad:
        raise ValueError(f"rolling_features supports {sorted(allowed)}, got {bad}")

    # build every feature in ONE projection: chained withColumns would
    # interleave Projects between the Window expressions and defeat
    # CollapseWindow — one select keeps all frames in a single pass
    c = F.col(value_col)
    feats = []
    for s in windows_seconds:
        # sum/count/avg as prefix-frame differences (incremental
        # O(n) evaluation; exact decimal subtraction ⇒ bit-identical
        # to the direct frame) — min/max can't decompose and keep
        # the sliding frame.  All frames share one sort/Window node.
        win_ms = int(s) * 1000
        w = base.rangeBetween(-win_ms, 0)
        w_cur = base.rangeBetween(Window.unboundedPreceding, 0)
        w_prev = base.rangeBetween(Window.unboundedPreceding, -win_ms - 1)
        cd = c.cast("decimal(20,6)")
        psum = F.sum(cd).over(w_cur) - F.coalesce(
            F.sum(cd).over(w_prev), F.lit(0).cast("decimal(20,6)")
        )
        pcnt = F.count(c).over(w_cur) - F.count(c).over(w_prev)
        lab = _label(int(s))
        for fn in funcs:
            name = f"{value_col}_{fn.lower()}_{lab}"
            f = fn.lower()
            if f == "sum" and is_float:
                # gate on the frame's non-null count: the prefix
                # difference alone gives 0 (S − S) for an all-NULL
                # frame with non-null history; the direct frame
                # gives NULL there
                col = F.when(pcnt > 0, psum.cast("double"))
            elif f == "avg" and is_float:
                # exact decimal sum → one double cast → one IEEE
                # division by the exact count (decimal DIVISION would
                # pick engine-specific result scales); NULL when the
                # frame holds no non-null values
                col = F.when(pcnt > 0, psum.cast("double") / pcnt)
            elif f == "count":
                col = pcnt
            else:
                col = _AGG_FUNCS[f](value_col).over(w)
            feats.append(col.alias(name))
    return df.select("*", *feats)


def transition_matrix(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences — the path-analysis primitive behind "what do users do
    after a click?", session-flow dashboards, and behavioural
    anomaly baselines: count every consecutive (prev_state →
    next_state) pair within a key's timeline and report each row's
    share of its prev_state's outgoing transitions.

    Ordering is a TOTAL order (ts, then ``tiebreak_col`` — required
    when timestamps can tie, or shares would be run-dependent).
    Exactness: BIGINT pair counts + one IEEE division per row.

    Scale shape: one hash shuffle on the key for the lag window
    (each key's timeline sorts within its partition — user timelines
    are short; pre-bucket by key for pathological single-key tables),
    then the pair counts aggregate map-side and the per-prev totals
    join back onto a states²-sized table — trivia at any corpus
    size.  Output: prev_state, next_state, n_transitions, share."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    steps = (
        df.select(
            F.col(key_col).alias("__k"),
            F.col(state_col).alias("next_state"),
            *([F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])),
        )
        .withColumn("prev_state", F.lag("next_state").over(
            Window.partitionBy("__k").orderBy(*order)
        ))
        .filter(F.col("prev_state").isNotNull())
    )
    counts = steps.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    outgoing = counts.groupBy("prev_state").agg(
        F.sum("n_transitions").alias("__out")
    )
    return (
        counts.join(outgoing, "prev_state")
        .select(
            "prev_state",
            "next_state",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.col("__out").cast("double")
            ).alias("share"),
        )
    )


def frequent_sequences(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    state_col: str,
    k: int = 3,
    tiebreak_col: str | None = None,
    min_count: int = 2,
) -> DataFrame:
    """Consecutive k-gram sequence mining over per-key timelines —
    the order-k generalization of ``transition_matrix``: count every
    run of ``k`` consecutive states within a key's ordered events,
    with how many distinct keys exhibit it.  The "what 3-step flows
    are common?" primitive for funnel discovery and sequence-model
    training-data curation (the GSP/PrefixSpan literature mines
    gapped subsequences; CONSECUTIVE k-grams are the exact, shuffle-
    light variant that answers the same product question).

    Ordering is a TOTAL order (ts, then ``tiebreak_col`` — required
    when timestamps can tie).  Rows with NULL state are dropped
    FIRST, so a NULL lead marks only sequence end, never a NULL
    state.  Exactness: BIGINT counts only.

    Scale shape: ONE hash shuffle on the key for the lead window
    (timelines sort within partitions; keys are independent), then
    the k-gram counts aggregate map-side onto a |states|^k-bounded
    table.  Output: step_1..step_k, n_occurrences, n_keys (distinct
    keys), filtered to n_occurrences >= min_count."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy("__k").orderBy(*order)
    base = df.filter(F.col(state_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.col(state_col).alias("step_1"),
        *([F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])),
    )
    steps = ["step_1"]
    for i in range(1, k):
        name = f"step_{i + 1}"
        base = base.withColumn(name, F.lead("step_1", i).over(w))
        steps.append(name)
    grams = base.filter(
        reduce(lambda a, b: a & b, [F.col(s).isNotNull() for s in steps[1:]])
    )
    return (
        grams.groupBy(*steps)
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("__k").alias("n_keys"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def top_paths(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    state_col: str,
    n: int = 3,
    k: int = 20,
    tiebreak_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Top-k most frequent length-``n`` state PATHS (consecutive
    event subsequences per key) — the sequence-mining step behind
    "what are the dominant user journeys?" and funnel discovery
    (``transition_matrix`` is the n=2 marginal of this).

    Per key, a sliding window of ``n`` consecutive states (lead
    chain under the TOTAL (ts, tiebreak) order); paths crossing a
    key's end are dropped.  Counting keys on the STATE TUPLE, not
    the rendered string, so a state value containing ``sep`` can
    never collapse two distinct paths into one count — the string is
    rendered only for output (two distinct tuples that happen to
    render identically appear as two rows, each correctly counted).
    Ranking is DETERMINISTIC — (count DESC, path ASC, then the raw
    state tuple) — so the top-k SET is identical across runs and
    engines even at count ties.

    Scale: one key shuffle for the lead window, map-side-combined
    tuple counts, TakeOrdered top-k (per-partition heaps + driver
    merge — no global sort).  Output: path, n_occurrences."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    s = F.col(state_col)
    steps = [s.alias("__s0")] + [
        F.lead(s, i).over(w).alias(f"__s{i}") for i in range(1, n)
    ]
    step_cols = [f"__s{i}" for i in range(n)]
    tuples = df.select(*steps).filter(F.col(step_cols[-1]).isNotNull())
    counts = tuples.groupBy(*step_cols).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    path = F.concat_ws(sep, *[F.col(c) for c in step_cols])
    return (
        counts.orderBy(
            F.col("n_occurrences").desc(), path,
            *[F.col(c) for c in step_cols],
        )
        .limit(k)
        .select(path.alias("path"), "n_occurrences")
    )


def changepoint_report(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> DataFrame:
    """At-most-one-changepoint (AMOC) detection on a time series via
    the CUSUM statistic: bucket the series to ``interval`` means,
    then find the boundary t maximizing |S_t − (t/N)·S_N| (the
    centered cumulative sum), the classic "where did the level
    shift?" question for a metrics/ingest-volume series.  The report
    is ONE row: the split bucket, the statistic, left/right means
    and counts — feed it to a drift gate or alert rule.

    Exactness: bucket sums in exact decimal, the cusum walk and the
    argmax over |·| in identical IEEE steps both engines;
    deterministic tie-break to the EARLIEST maximizing boundary.

    Scale: the raw table folds to a buckets-sized series in one
    map-side-combined pass; the cusum window runs over that bucket
    table (time-range-sized — hours/days, bounded by the calendar,
    not the corpus), so the single-partition window is metadata
    work at any corpus size.  Output: split_ts (last bucket of the
    left segment), cusum_stat, n_left, n_right, mean_left,
    mean_right."""
    v = F.col(value_col)
    buckets = (
        df.filter(v.isNotNull())
        .groupBy(F.window(ts_col, interval).alias("__w"))
        .agg(
            F.sum(v.cast("decimal(28,8)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(F.col("__w.start").alias("__t"), "__s", "__n")
    )
    w_cum = Window.partitionBy(F.lit(0)).orderBy("__t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    # per-bucket mean (exact decimal sum → one IEEE division) rounded
    # once into decimal, so the CUMULATIVE sums are exact decimal —
    # order-independent: a float running sum would expose the engines'
    # different window-aggregation orders (segment tree vs sequential)
    lvl = (
        buckets.withColumn(
            "__md",
            (
                F.col("__s").cast("double") / F.col("__n").cast("double")
            ).cast("decimal(38,10)"),
        )
        .withColumn("__i", F.count(F.lit(1)).over(w_cum))
        .withColumn("__cm", F.sum("__md").over(w_cum))
        .withColumn("__nb", F.count(F.lit(1)).over(w_all))
        .withColumn("__totm", F.sum("__md").over(w_all))
        .withColumn("__cs", F.sum("__s").over(w_cum).cast("double"))
        .withColumn("__tot", F.sum("__s").over(w_all).cast("double"))
        .withColumn("__cn", F.sum("__n").over(w_cum))
        .withColumn("__tn", F.sum("__n").over(w_all))
    )
    stat = F.abs(
        F.col("__cm").cast("double")
        - F.col("__i").cast("double")
        / F.col("__nb").cast("double")
        * F.col("__totm").cast("double")
    )
    cand = lvl.filter(F.col("__i") < F.col("__nb")).select(
        F.col("__t").alias("split_ts"),
        stat.alias("cusum_stat"),
        F.col("__cn").cast("bigint").alias("n_left"),
        (F.col("__tn") - F.col("__cn")).cast("bigint").alias("n_right"),
        (F.col("__cs") / F.col("__cn").cast("double")).alias("mean_left"),
        (
            (F.col("__tot") - F.col("__cs"))
            / (F.col("__tn") - F.col("__cn")).cast("double")
        ).alias("mean_right"),
    )
    return (
        cand.orderBy(F.col("cusum_stat").desc(), F.col("split_ts"))
        .limit(1)
    )


def season_bucket(ts_col: str, bucket: str = "hour_of_week") -> Column:
    """The seasonal-bucket expression shared by the batch detector and
    the streaming gate (wall-clock derived — TZ-free for NTZ input)."""
    if bucket == "hour_of_week":
        b = (F.dayofweek(F.col(ts_col)) - 1) * 24 + F.hour(F.col(ts_col))
    elif bucket == "hour_of_day":
        b = F.hour(F.col(ts_col))
    else:
        raise ValueError(
            f"bucket must be hour_of_week|hour_of_day, got {bucket!r}"
        )
    return b.cast("int")


def seasonal_baseline(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket: str = "hour_of_week",
) -> DataFrame:
    """The TRAINED per-bucket (mean, population σ) table behind
    ``seasonal_anomalies`` — persist it and the streaming gate
    (``streaming.events.seasonal_gate_stream``) scores live events
    against it map-only.  Σv / Σv² as EXACT decimal sums of
    decimal-cast doubles (v·v is one IEEE multiply — identical in any
    engine; a decimal·decimal product would hit engine-specific
    result-scale reduction past p=38), variance in identical IEEE
    steps.  Output: bucket, bucket_mean, bucket_std (≤ 168 rows)."""
    v = F.col(value_col)
    return (
        df.withColumn("bucket", season_bucket(ts_col, bucket))
        .filter(v.isNotNull())
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v.cast("decimal(28,8)")).alias("__s"),
            F.sum((v * v).cast("decimal(38,8)")).alias("__ss"),
        )
        .select(
            "bucket",
            (F.col("__s").cast("double") / F.col("__n")).alias("bucket_mean"),
            F.sqrt(
                F.greatest(
                    F.col("__ss").cast("double") / F.col("__n")
                    - (F.col("__s").cast("double") / F.col("__n"))
                    * (F.col("__s").cast("double") / F.col("__n")),
                    F.lit(0.0),
                )
            ).alias("bucket_std"),
        )
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    k: float = 3.0,
    bucket: str = "hour_of_week",
) -> DataFrame:
    """Seasonal anomaly flags: learn a per-seasonal-bucket baseline
    (mean, population std of ``value_col`` per hour-of-week or
    hour-of-day) over the table, then keep the rows whose value sits
    more than ``k`` standard deviations from THEIR bucket's mean —
    the time-of-day-aware outlier gate a flat zscore gets wrong
    (3 AM traffic is not anomalous for being below the daily mean).

    Cross-engine exactness: the baseline is computed from EXACT
    decimal sums (Σv, Σv² at the input's decimal width) cast to
    double once, then mean = Σv/n and var = Σv²/n − mean² in plain
    IEEE steps — identical in any engine, unlike builtin
    stddev_pop/var_pop whose streaming formulations differ.  Buckets
    derive from the NTZ wall-clock (TZ-free).  Scale: one keyed agg
    (≤ 168 buckets) broadcast-joined back, map-only flagging.

    Output: the anomalous rows + bucket, bucket_mean, bucket_std."""
    v = F.col(value_col)
    tagged = df.withColumn("bucket", season_bucket(ts_col, bucket))
    base = seasonal_baseline(df, ts_col, value_col, bucket)
    joined = tagged.join(F.broadcast(base), "bucket", "inner")
    return joined.filter(
        v.isNotNull()
        & (F.abs(v - F.col("bucket_mean")) > F.lit(float(k)) * F.col("bucket_std"))
    )


def resample_time(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    interval: str = "1 hour",
    value_col: str = "value",
    agg: str = "sum",
    fill: str = "prev",
) -> DataFrame:
    """Regularize an irregular event stream onto a fixed time grid —
    the resample/gap-fill step every timeseries consumer (forecasting
    features, dashboards, rate alerting) needs before window math is
    meaningful: per key, aggregate events into ``interval`` buckets,
    MATERIALIZE the empty buckets between each key's first and last
    event, and fill them (``fill``: 'prev' = forward-fill last seen
    value, 'interp' = linear interpolation between the neighboring
    observed buckets (every gap has both neighbors — the grid spans
    each key's first..last OBSERVED bucket), 'zero', or 'null').

    Scale shape: one groupBy to buckets, one tiny per-key span agg,
    the grid generates with sequence+explode (rows ∝ output, never a
    cross join), one left join back on (key, bucket), and the forward
    fill is a partitioned ordered window — each key's timeline sorts
    independently after one hash shuffle.

    Aggregated float sums are decimal-cast (order-independent — the
    same determinism discipline as the TPC-H revenue sums).  Output:
    (key, bucket_start, value, is_gap)."""
    from bubbles_spark.ops.core import _AGG_FUNCS

    if fill not in ("prev", "interp", "zero", "null"):
        raise ValueError("fill must be 'prev', 'interp', 'zero' or 'null'")
    v = F.col(value_col)
    if agg == "sum" and dict(df.dtypes).get(value_col) in ("double", "float"):
        agg_col = F.sum(v.cast("decimal(20,6)")).cast("double")
    elif agg == "count":
        agg_col = F.count(F.lit(1)).cast("long")
    else:
        agg_col = _AGG_FUNCS[agg.lower()](value_col)

    bucket = F.window(ts_col, interval)["start"]
    b = (
        df.groupBy(F.col(key_col).alias("__k"), bucket.alias("__bk"))
        .agg(agg_col.alias("__v"))
    )
    span = b.groupBy("__k").agg(
        F.min("__bk").alias("__lo"), F.max("__bk").alias("__hi")
    )
    grid = span.select(
        "__k",
        F.explode(
            F.sequence("__lo", "__hi", F.expr(f"interval {interval}"))
        ).alias("__bk"),
    )
    j = grid.join(b, ["__k", "__bk"], "left")
    is_gap = F.col("__v").isNull()
    if fill == "prev":
        w = (
            Window.partitionBy("__k")
            .orderBy("__bk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = F.last("__v", ignorenulls=True).over(w)
    elif fill == "interp":
        past = (
            Window.partitionBy("__k")
            .orderBy("__bk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # next-known lookup via a DESCENDING growing frame: Spark
        # evaluates [unbounded preceding, current] incrementally but
        # re-aggregates a [current, unbounded following] frame from
        # scratch per row (O(n²) per key — measured); last() under
        # the reversed order is the same "first known at or after"
        futr = (
            Window.partitionBy("__k")
            .orderBy(F.col("__bk").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        vcol = F.col("__v").cast("double")
        known_bk = F.when(vcol.isNotNull(), F.col("__bk"))
        pv = F.last(vcol, ignorenulls=True).over(past)
        pb = F.last(known_bk, ignorenulls=True).over(past)
        nv = F.last(vcol, ignorenulls=True).over(futr)
        nb = F.last(known_bk, ignorenulls=True).over(futr)
        span = nb.cast("timestamp").cast("double") - pb.cast("timestamp").cast(
            "double"
        )
        frac = (
            F.col("__bk").cast("timestamp").cast("double")
            - pb.cast("timestamp").cast("double")
        ) / span
        # NO final round: the interpolated double is bit-identical in
        # any engine evaluating the same parenthesization, while a 6dp
        # round can straddle a half boundary where rounding MODES
        # differ (observed: Spark HALF_UP vs DuckDB half-even at
        # x.5578125)
        filled = F.when(vcol.isNotNull(), vcol).otherwise(pv + (nv - pv) * frac)
    elif fill == "zero":
        filled = F.coalesce(F.col("__v"), F.lit(0).cast("double"))
    else:
        filled = F.col("__v")
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__bk").alias("bucket_start"),
        filled.alias(value_col),
        is_gap.alias("is_gap"),
    )


def attribution(
    df: DataFrame,
    conversion: str = "purchase",
    model: str = "first_touch",
    lookback_seconds: float = 7 * 86400.0,
    half_life_seconds: float = 86400.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Marketing-style conversion attribution: credit each
    ``conversion`` event to earlier touch events by the same user
    inside the lookback window — ``first_touch`` credits the
    earliest such touch (one row per attributed conversion),
    ``last_touch`` the latest, ``linear`` splits credit equally
    across ALL in-window touches (one row per touch, ``credit`` =
    1/n — the single IEEE division keeps it bit-exact, and per-
    conversion credits sum to exactly 1.0 only when n is a power of
    two; sum the column for fractional channel totals as every
    marketing stack does), ``u_shaped`` gives the position-based
    40/20/40 split (first and last touch 0.4 each, middles share 0.2;
    n=1 → 1.0, n=2 → 0.5 each — integer-rank CASE + one IEEE division,
    deterministic under the total order), and ``time_decay`` weights each in-window
    touch by ``0.5^floor(Δt / half_life_seconds)`` — credit halves per
    WHOLE half-life elapsed.  The discretized exponent is deliberate:
    an integer power of two is bit-exact in every engine, where the
    continuous ``0.5^(Δt/hl)`` hits the 1-ulp disagreement between
    libm pow implementations (measured: JVM vs glibc differ at
    0.5^0.123456789).  Weights are UNNORMALIZED (each row's credit is
    a pure per-row function of its own Δt; a per-conversion weight-sum
    denominator would be an accumulation-order-dependent double —
    divide by a windowed sum yourself if your stack wants shares).  Output columns: (conversion_id, user,
    conversion_ts, channel, touch_ts[, credit]); conversions with no
    in-window touch are omitted (aggregate and compare against the
    conversion count for an "unattributed" share).

    Deterministic: the credited touch is picked under a TOTAL order
    (timestamp, then event id — unique), so ties cannot flip between
    runs or engines; the window bound is an epoch-seconds double
    DIFFERENCE (timezone shifts cancel — the funnel family's pinned
    arithmetic), and output timestamps keep the source column's type
    (NTZ stays NTZ; no session-timezone reinterpretation).

    Scale shape: conversions ⋈ touches is a per-user equi-join (one
    key shuffle each side; touches pre-filtered to non-conversion
    events) with the time bounds as post-join predicates — no theta
    join — then one window per conversion id keeps the single
    credited row.  Per-user candidate fan-out is bounded by the
    lookback horizon."""
    if model not in (
        "first_touch", "last_touch", "linear", "time_decay", "u_shaped"
    ):
        raise ValueError(f"unknown attribution model: {model!r}")
    is_ts = dict(df.dtypes).get(ts_col, "").startswith("timestamp")
    ts = F.col(ts_col) if is_ts else F.col(ts_col).cast("timestamp")
    conv = df.filter(F.col(type_col) == conversion).select(
        F.col(id_col).alias("conversion_id"),
        F.col(user_col).alias(user_col),
        ts.alias("conversion_ts"),
    )
    touch = df.filter(F.col(type_col) != conversion).select(
        F.col(user_col).alias(user_col),
        F.col(type_col).alias("channel"),
        ts.alias("touch_ts"),
        F.col(id_col).alias("__touch_id"),
    )

    ts_is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"

    def _epoch(c):
        # NTZ: pin the wall-clock to UTC before the instant cast — a
        # bare NTZ→LTZ cast uses the SESSION zone, and when a
        # conversion/touch pair straddles a DST transition the two
        # offsets differ, shifting the epoch DIFFERENCE (and thus
        # in-window membership at the lookback edge) by an hour
        # between sessions in different zones.  UTC has no DST, so
        # this diff is purely wall-clock in every session.  Instant
        # inputs are already zone-free epochs.
        if ts_is_ntz:
            c = F.convert_timezone(
                F.lit("UTC"), F.expr("current_timezone()"), c
            ).cast("timestamp")
        return c.cast("double")

    j = conv.join(touch, user_col).filter(
        (F.col("touch_ts") < F.col("conversion_ts"))
        & (
            _epoch(F.col("conversion_ts")) - _epoch(F.col("touch_ts"))
            <= F.lit(float(lookback_seconds))
        )
    )
    if model == "linear":
        # equal split over in-window touches: one unordered window
        # count per conversion + one IEEE division — no sort needed
        wc = Window.partitionBy("conversion_id")
        return j.select(
            "conversion_id",
            user_col,
            "conversion_ts",
            "channel",
            "touch_ts",
            (
                F.lit(1.0)
                / F.count(F.lit(1)).over(wc).cast("double")
            ).alias("credit"),
        )
    if model == "u_shaped":
        # position-based 40/20/40: first and last in-window touches
        # get 0.4 each, middles split the remaining 0.2 equally
        # (n=1 → 1.0, n=2 → 0.5/0.5).  One ordered window (rank) +
        # one unordered count; every credit is one IEEE division on
        # integers — deterministic under the (ts, id) total order
        wp = Window.partitionBy("conversion_id")
        wo = wp.orderBy(F.col("touch_ts").asc(), F.col("__touch_id").asc())
        rn = F.row_number().over(wo)
        n = F.count(F.lit(1)).over(wp)
        credit = (
            F.when(n == 1, F.lit(1.0))
            .when((rn == 1) | (rn == n), F.when(n == 2, F.lit(0.5)).otherwise(F.lit(0.4)))
            .otherwise(F.lit(0.2) / (n - F.lit(2)).cast("double"))
        )
        return j.select(
            "conversion_id",
            user_col,
            "conversion_ts",
            "channel",
            "touch_ts",
            credit.alias("credit"),
        )
    if model == "time_decay":
        # per-row step decay: map-only after the join, no window at
        # all; Δt is the exact epoch-seconds double and the floor'd
        # exponent makes the power of two bit-exact (see docstring)
        dt = _epoch(F.col("conversion_ts")) - _epoch(F.col("touch_ts"))
        k = F.floor(dt / F.lit(float(half_life_seconds))).cast("double")
        return j.select(
            "conversion_id",
            user_col,
            "conversion_ts",
            "channel",
            "touch_ts",
            F.pow(F.lit(0.5), k).alias("credit"),
        )
    order = (
        [F.col("touch_ts").asc(), F.col("__touch_id").asc()]
        if model == "first_touch"
        else [F.col("touch_ts").desc(), F.col("__touch_id").desc()]
    )
    w = Window.partitionBy("conversion_id").orderBy(*order)
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "conversion_id", user_col, "conversion_ts", "channel", "touch_ts"
        )
    )


def merge_rollups(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    measures: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Merge two rollup tables (``time_bucket_rollup`` output shape)
    bucket-by-bucket: sums and counts add, mins/maxes fold — the
    partial-aggregate merge that makes the rollup family mergeable in
    the first place.  Union + ONE keyed aggregation; exact for
    decimal/integer sums (use a decimal measure column if incremental
    totals must equal a full recompute to the last bit — double sums
    merge associatively only in exact arithmetic)."""
    folders = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.sum}
    bad = [(f, fn) for f, fn in measures if fn.lower() not in folders]
    if bad:
        raise ValueError(
            "merge_rollups needs pyramid-safe measures "
            f"(sum/min/max/count), got {bad} — non-decomposable "
            "aggregates (avg/distinct/quantile) can't merge; see "
            "time_bucket_rollup_distinct/_quantiles for sketch-based "
            "alternatives"
        )
    merge_aggs = []
    for f, fn in measures:
        col = f"{f}_{fn.lower()}"
        merge_aggs.append(folders[fn.lower()](col).alias(col))
    merge_aggs.append(F.sum("record_count").alias("record_count"))
    return a.unionByName(b).groupBy(*keys).agg(*merge_aggs)


def rollup_upsert(
    store,
    name: str,
    batch: DataFrame,
    ts_col: str,
    granularities: Sequence[str],
    keys: Sequence[str] = (),
    measures: Sequence[tuple[str, str]] = (),
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """Incrementally maintain a PERSISTED multi-granularity rollup
    (the continuous-aggregate / materialized-view-maintenance shape):
    fold one new batch of raw events into the stored rollup and
    return the updated table.  After any sequence of batches the
    stored rollup equals ``time_bucket_rollup`` over the union of all
    batches — by construction, because every measure is mergeable
    (the same property the streaming histogram family exploits).

    The 100 TB contract: each batch pays (a) ONE rollup pass over the
    BATCH (raw history is never re-read), (b) a semi-join read of only
    the AFFECTED buckets of the stored rollup (bucket keys are
    rollup-sized — tiny), (c) a bucket-keyed merge aggregation, and
    (d) ``FileStore.upsert`` which replaces exactly the merged rows —
    with ``partition_by`` the rewrite is partition-pruned, untouched
    partitions stay byte-identical.  First call creates the object.

    Exactness: use decimal/integer measure columns if "incremental ≡
    full recompute" must hold bit-for-bit (see ``merge_rollups``)."""
    delta = time_bucket_rollup(batch, ts_col, granularities, keys, measures)
    key_cols = ["grain", "window_start", *keys]
    if not store.exists(name):
        store.create(name, from_obj=delta, partition_by=partition_by)
        return store.get_object(name)
    existing = store.get_object(name)
    affected = existing.join(
        delta.select(*key_cols).distinct(), key_cols, "left_semi"
    )
    merged = merge_rollups(affected, delta, key_cols, measures)
    # materialize BEFORE the upsert rewrites the parquet this plan
    # reads from (self-overwrite hazard — same contract as
    # dedup.admit_batch_to_index_store)
    merged = merged.localCheckpoint(eager=True)
    store.upsert(name, merged, keys=key_cols, partition_by=partition_by)
    return store.get_object(name)


def decompose_additive(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str | None = None,
    trend_halfwidth_seconds: int = 43200,
    bucket: str = "hour_of_day",
) -> DataFrame:
    """Classical additive time-series decomposition
    ``value = trend + seasonal + residual`` — the first chart every
    monitoring/forecasting workflow draws:

    - **trend**: centered moving average over the ±``halfwidth``
      RANGE frame (works on irregular series; edges use the
      truncated frame — same semantics in any engine),
    - **seasonal**: per-``bucket`` mean of the detrended series
      (hour-of-day/-week via ``season_bucket``; UNCENTERED — trend
      already carries the level, so detrended means are ≈0-centered
      by construction),
    - **residual**: what neither explains.

    Exactness: trend = exact DECIMAL(20,6) frame sum → double → one
    IEEE division by the exact frame count; detrended = one IEEE
    subtraction.  The seasonal mean quantizes the detrended doubles
    to integer MICRO-units first (``round(det·1e6)`` — one shared
    IEEE multiply, and both engines round exact .5 ties away from
    zero) and sums those exactly in DECIMAL(38,0): a direct
    double→high-scale-decimal cast needs ~21 significant digits,
    past double precision, where the engines' conversion tails
    differ (measured: 1-ulp skew on half the bins).  The ≤5e-7
    quantization is statistically irrelevant and bit-reproducible.
    residual = one more subtraction on the FULL-precision detrended
    value.  The frame key is wall-clock-pinned epoch ms
    (``core.epoch_ms_wallclock`` — DST-proof), buckets derive from
    the NTZ wall-clock.

    Scale shape: one hash shuffle + one sort for the Window (per-key
    series sort within partitions), one keyed agg (≤ 168·keys rows)
    broadcast-joined back — no self-joins, no global sort.
    Parallelism is bounded by the SERIES COUNT (a per-series moving
    average is inherently sequential per key): with fewer series than
    cores, pre-split long series into chunks overlapping by one
    trend halfwidth and drop the warm-up edge, or accept the bounded
    parallelism — at 100 TB you decompose many series, not one.

    Output: input rows + bucket, trend, seasonal, residual."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    v = F.col(value_col)
    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    order = epoch_ms_wallclock(F.col(ts_col), is_ntz)
    parts = [key_col] if key_col else []
    hw_ms = int(trend_halfwidth_seconds) * 1000
    # The centered ±hw frame as a DIFFERENCE of two prefix frames:
    # sum[-hw,+hw] = sum(-∞,+hw] − sum(-∞,-hw).  Spark evaluates a
    # bounded-both-sides range frame by RESCANNING the frame per row
    # (SlidingWindowFunctionFrame — O(n·frame)), but an
    # unbounded-preceding frame incrementally (O(n)); both prefix
    # frames ride the SAME sort in one Window node, and the decimal
    # subtraction is exact, so the trend is bit-identical to the
    # direct frame at a fraction of the cost (measured 19.0s → O(n)
    # at sf0.1 on the hourly events series).
    wb = Window.partitionBy(*parts).orderBy(order)
    w_hi = wb.rangeBetween(Window.unboundedPreceding, hw_ms)
    w_lo = wb.rangeBetween(Window.unboundedPreceding, -hw_ms - 1)
    base = df.filter(v.isNotNull()).withColumn(
        "bucket", season_bucket(ts_col, bucket)
    )
    vd = v.cast("decimal(20,6)")
    frame_sum = (
        F.sum(vd).over(w_hi)
        - F.coalesce(F.sum(vd).over(w_lo), F.lit(0).cast("decimal(20,6)"))
    )
    frame_cnt = F.count(v).over(w_hi) - F.count(v).over(w_lo)
    trended = base.withColumn(
        "trend",
        frame_sum.cast("double") / frame_cnt.cast("double"),
    ).withColumn("__det", v - F.col("trend"))
    units = F.round(F.col("__det") * F.lit(1e6), 0).cast("decimal(38,0)")
    seasonal = (
        trended.groupBy(*(parts + ["bucket"]))
        .agg(
            (
                F.sum(units).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e6)
            ).alias("seasonal")
        )
    )
    return (
        trended.join(F.broadcast(seasonal), parts + ["bucket"])
        .withColumn("residual", F.col("__det") - F.col("seasonal"))
        .drop("__det")
    )


def decomposition_strength(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str | None = None,
    trend_halfwidth_seconds: int = 43200,
    bucket: str = "hour_of_day",
) -> DataFrame:
    """Trend/seasonal STRENGTH per series (Wang–Smith–Hyndman, the
    feature the forecasting literature uses to route series to
    models): from the additive decomposition ``value = T + S + R``,

        trend_strength    = max(0, 1 − Var(R) / Var(value − S))
        seasonal_strength = max(0, 1 − Var(R) / Var(value − T))

    — near 1 when the component explains the series, near 0 when it
    is noise.  The one-row-per-series summary of what
    ``decompose_additive`` charts.

    Exactness: each variance input quantizes to MILLI-units
    (``round(x·1e3)`` — sums of squares stay < 2^53, the value-exact
    decimal→double budget; 1e6 would cross 2^63 where DuckDB's
    int128→double cast rounds off-IEEE) and the population-variance
    closed form ``(n·Sxx − Sx²)/(n·n)`` runs in fixed IEEE steps;
    the milli scale cancels in each ratio.  Degenerate series
    (zero Var(value−S) or Var(value−T)) emit NULL for that strength.

    Scale: ``decompose_additive``'s plan + ONE keyed aggregate to a
    series-count-sized table.  Output: [key_col,] n_rows,
    trend_strength, seasonal_strength."""
    dec = decompose_additive(
        df, ts_col, value_col, key_col, trend_halfwidth_seconds, bucket
    )
    parts = [key_col] if key_col else []

    def _u(c):
        return F.round(c * F.lit(1e3), 0).cast("decimal(19,0)")

    r = _u(F.col("residual"))
    ts_ = _u(F.col(value_col) - F.col("seasonal"))
    ds = _u(F.col(value_col) - F.col("trend"))
    agg = dec.groupBy(*parts).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(r).alias("__sr"),
        F.sum(r * r).alias("__srr"),
        F.sum(ts_).alias("__st"),
        F.sum(ts_ * ts_).alias("__stt"),
        F.sum(ds).alias("__sd"),
        F.sum(ds * ds).alias("__sdd"),
    )
    n = F.col("n_rows").cast("double")

    def _var(s, ss):
        s, ss = F.col(s).cast("double"), F.col(ss).cast("double")
        return (n * ss - s * s) / (n * n)

    var_r = _var("__sr", "__srr")
    var_ts = _var("__st", "__stt")
    var_ds = _var("__sd", "__sdd")
    return agg.select(
        *(parts + ["n_rows"]),
        F.when(
            var_ts > 0, F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_ts)
        ).alias("trend_strength"),
        F.when(
            var_ds > 0, F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_ds)
        ).alias("seasonal_strength"),
    )


def acf_by_lag(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 3),
    interval_seconds: int = 3600,
    key_col: str | None = None,
) -> DataFrame:
    """Autocorrelation of a time series at each requested lag — the
    seasonality/persistence diagnostic behind "is this metric hourly-
    periodic?" and ARIMA order picking: bucket the series to
    ``interval_seconds`` means, then for each lag k compute the
    Pearson correlation between the bucket-mean series and itself
    shifted k buckets (pairs align on BUCKET INDEX, so calendar gaps
    drop out of the pair set instead of misaligning it — the
    gap-robust definition).

    Exactness: bucket means from exact decimal sums; the means then
    QUANTIZE to integer milli-units (``round(m·1e3)`` — the
    ``decompose_additive`` discipline at a scale that keeps every
    Pearson sum under 2^53, where decimal→double casts are
    value-exact in ANY engine; at 1e6 the squared-term sums cross
    2^63 and DuckDB's int128→double cast rounds differently than
    IEEE) so all five sums accumulate exactly in DECIMAL and the
    correlation is a fixed IEEE closed form both engines replay
    bit-for-bit (r is scale-invariant, so the 1e3 factor cancels;
    ≤5e-4 quantization on the means is deterministic and
    statistically irrelevant for a correlation diagnostic).
    Constant or too-short series emit NULL acf.

    Scale: the raw table folds to a buckets-sized series (map-side
    combined), lags explode that tiny table ``len(lags)``×, ONE
    equi-join on (key, idx) aligns every lag's pairs, and the keyed
    agg is len(lags)·keys rows.  The heavy input never self-joins.
    Output: [key_col,] lag, n_pairs, acf."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    lags = [int(k) for k in lags]
    if not lags or any(k < 1 for k in lags):
        raise ValueError(f"lags must be positive ints, got {lags}")
    ims = int(interval_seconds) * 1000
    v = F.col(value_col)
    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    idx = F.floor(
        epoch_ms_wallclock(F.col(ts_col), is_ntz) / F.lit(float(ims))
    ).cast("long")
    parts = [key_col] if key_col else []
    series = (
        df.filter(v.isNotNull())
        .groupBy(*(parts + [idx.alias("__idx")]))
        .agg(
            (
                F.sum(v.cast("decimal(20,6)")).cast("double")
                / F.count(v).cast("double")
            ).alias("__m")
        )
        .withColumn(
            "__mu", F.round(F.col("__m") * F.lit(1e3), 0).cast("decimal(19,0)")
        )
    )
    lag_lit = F.explode(
        F.array(*[F.lit(k) for k in lags])
    ).alias("lag")
    lagged = series.select(
        *parts, "__idx", F.col("__mu").alias("__xu"), lag_lit
    ).withColumn("__tidx", F.col("__idx") + F.col("lag"))
    pairs = lagged.join(
        series.select(
            *parts,
            F.col("__idx").alias("__tidx"),
            F.col("__mu").alias("__yu"),
        ),
        parts + ["__tidx"],
    )
    xu, yu = F.col("__xu"), F.col("__yu")
    agg = pairs.groupBy(*(parts + ["lag"])).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(xu).alias("__sx"),
        F.sum(yu).alias("__sy"),
        F.sum(xu * yu).alias("__sxy"),
        F.sum(xu * xu).alias("__sxx"),
        F.sum(yu * yu).alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    return agg.select(
        *(parts + ["lag", "n_pairs"]),
        F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)).alias("acf"),
    )


def xcf_by_lag(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    label_col: str,
    label_x: str,
    label_y: str,
    lags: Sequence[int] = (0, 1, 2),
    interval_seconds: int = 3600,
) -> DataFrame:
    """Cross-correlation between two labeled series at each lag k:
    Pearson r between the ``label_x`` bucket-mean series at t−k and
    the ``label_y`` series at t — the lead/lag diagnostic behind
    "do clicks predict purchases an hour later?" and metric
    causality triage (``acf_by_lag`` is the self-paired special
    case; lag 0 is plain contemporaneous correlation).

    Same exactness/scale contract as ``acf_by_lag``: bucket means
    from exact decimal sums, milli-unit quantization keeps every
    Pearson sum under 2^53 (value-exact decimal→double casts in any
    engine), pairs align on bucket INDEX so calendar gaps drop out,
    the heavy input folds to two buckets-sized series before the one
    equi-join.  Output: lag, n_pairs, xcf."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    lags = [int(k) for k in lags]
    if not lags or any(k < 0 for k in lags):
        raise ValueError(f"lags must be non-negative ints, got {lags}")
    ims = int(interval_seconds) * 1000
    v = F.col(value_col)
    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    idx = F.floor(
        epoch_ms_wallclock(F.col(ts_col), is_ntz) / F.lit(float(ims))
    ).cast("long")

    def _series(label):
        return (
            df.filter(v.isNotNull() & (F.col(label_col) == label))
            .groupBy(idx.alias("__idx"))
            .agg(
                (
                    F.sum(v.cast("decimal(20,6)")).cast("double")
                    / F.count(v).cast("double")
                ).alias("__m")
            )
            .withColumn(
                "__mu",
                F.round(F.col("__m") * F.lit(1e3), 0).cast("decimal(19,0)"),
            )
        )
    lag_lit = F.explode(F.array(*[F.lit(k) for k in lags])).alias("lag")
    lagged_x = _series(label_x).select(
        "__idx", F.col("__mu").alias("__xu"), lag_lit
    ).withColumn("__tidx", F.col("__idx") + F.col("lag"))
    pairs = lagged_x.join(
        _series(label_y).select(
            F.col("__idx").alias("__tidx"), F.col("__mu").alias("__yu")
        ),
        "__tidx",
    )
    xu, yu = F.col("__xu"), F.col("__yu")
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(xu).alias("__sx"),
        F.sum(yu).alias("__sy"),
        F.sum(xu * yu).alias("__sxy"),
        F.sum(xu * xu).alias("__sxx"),
        F.sum(yu * yu).alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    return agg.select(
        "lag",
        "n_pairs",
        F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)).alias("xcf"),
    )


def twap(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str | None = None,
    value_scale: int = 2,
) -> DataFrame:
    """Time-weighted average of a sampled metric per key — the
    step-interpolation TWAP every market-data / metrics pipeline
    means by "average price over the window" when samples arrive
    irregularly (a plain AVG over-weights bursts):

        twap = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first)

    Each sample holds until the next one; the last sample has no
    holding interval and contributes only its timestamp.  Keys with
    fewer than 2 samples drop (zero holding time).

    Exactness: interval lengths are exact BIGINT wall-clock epoch-ms
    differences (DST-proof); each v·Δt is one exact decimal product
    at scale ``value_scale``; per-key sums are exact decimals; twap
    is one IEEE division of the two casts.  ``value_scale`` must
    cover the data's decimal width (rule #1 of the exactness
    contract) AND keep Σ|v|·Δt·10^scale under 2^53 per key — above
    that, the decimal→double cast itself needs >15 significant
    digits and the engines' conversion tails diverge (the same
    failure mode as exactness rule #5, measured here at scale 6 on
    month-long ms series).  Ties in ``ts`` get a deterministic
    secondary order on value so the lead is run-independent.

    Scale: one hash shuffle on the key + per-key sort for the lead
    window, then a keyed decimal agg — map-side partial.  Output:
    (key), twap, n_intervals, total_ms."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    ms = epoch_ms_wallclock(F.col(ts_col), is_ntz)
    parts = [key_col] if key_col else []
    w = Window.partitionBy(*parts).orderBy(ms, F.col(value_col))
    stepped = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("__ms", ms)
        .withColumn("__next", F.lead("__ms").over(w))
        .filter(F.col("__next").isNotNull())
        .withColumn("__dt", (F.col("__next") - F.col("__ms")).cast("decimal(18,0)"))
    )
    vdec = f"decimal({12 + int(value_scale)},{int(value_scale)})"
    grouped = stepped.groupBy(*parts) if parts else stepped.groupBy()
    return grouped.agg(
        (
            F.sum(
                F.col(value_col).cast(vdec) * F.col("__dt")
            ).cast("double")
            / F.sum("__dt").cast("double")
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__dt").cast("bigint").alias("total_ms"),
    )


def conversion_latency(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    from_event: str,
    to_event: str,
    event_col: str = "event_type",
) -> DataFrame:
    """Per-key conversion latency: milliseconds from the FIRST
    ``from_event`` to the FIRST ``to_event`` at-or-after it — the
    "how long from signup to purchase?" distribution feeding funnel
    SLOs (pipe the output into ``drift.exact_quantiles`` for the
    p50/p95).  Keys that never fire both events in order drop.

    Exactness: the latency is an exact BIGINT difference of
    wall-clock epoch-ms (DST-proof — midnight arithmetic on NTZ
    values shifts with the session zone otherwise).

    Scale: two filtered keyed MIN aggregations (map-side partial)
    and one key equi-join — no window, no self-join of raw rows.
    Output: key, from_ts, to_ts, latency_ms."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    ms = epoch_ms_wallclock(F.col(ts_col), is_ntz)
    tagged = df.select(
        F.col(key_col).alias("__k"),
        F.col(event_col).alias("__e"),
        F.col(ts_col),
        ms.alias("__ms"),
    )
    # min(ts) and min(ms) agree because ms is nondecreasing in ts —
    # min_by(ts, ms) would tie-break arbitrarily when µs-distinct
    # timestamps truncate to the same millisecond
    firsts = (
        tagged.filter(F.col("__e") == from_event)
        .groupBy("__k")
        .agg(
            F.min("__ms").alias("__from_ms"),
            F.min(ts_col).alias("from_ts"),
        )
    )
    target = tagged.filter(F.col("__e") == to_event).join(firsts, "__k")
    landed = (
        target.filter(F.col("__ms") >= F.col("__from_ms"))
        .groupBy("__k", "__from_ms", "from_ts")
        .agg(
            F.min("__ms").alias("__to_ms"),
            F.min(ts_col).alias("to_ts"),
        )
    )
    return landed.select(
        F.col("__k").alias(key_col),
        "from_ts",
        "to_ts",
        (F.col("__to_ms") - F.col("__from_ms")).cast("bigint").alias("latency_ms"),
    )


def coalesce_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    key_col: str | None = None,
) -> DataFrame:
    """Merge overlapping or touching ``[start, end)`` intervals per
    key (gaps-and-islands) — downtime stitching, availability-window
    consolidation, session-interval cleanup: an interval joins the
    current island when its start is ≤ the running max end of every
    interval before it; a strictly later start opens a new island.

    Exactness: pure comparisons + MIN/MAX on the original timestamp
    (or numeric) columns — no arithmetic, no rendering change, so
    the output is bit-identical in any engine and timezone.

    Scale: one hash shuffle on the key + per-key sort; the island id
    is a running sum over the same window; one keyed agg after.
    Output: (key), start, end, n_merged."""
    parts = [key_col] if key_col else []
    s, e = F.col(start_col), F.col(end_col)
    w = Window.partitionBy(*parts).orderBy(s, e)
    prev_max_end = F.max(e).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (s > prev_max_end), 1
    ).otherwise(0)
    tagged = df.withColumn("__isl", F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ))
    return (
        tagged.groupBy(*(parts + ["__isl"]))
        .agg(
            F.min(s).alias(start_col),
            F.max(e).alias(end_col),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__isl")
    )


def gap_report(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    threshold_seconds: float,
) -> DataFrame:
    """Silence/downtime report: every consecutive-event gap longer
    than ``threshold_seconds`` per key — heartbeat monitoring, sensor
    dropout detection, SLA blackout audits.

    Exactness: gaps are exact BIGINT wall-clock epoch-ms differences
    (DST-proof); the threshold compares in ms (``threshold·1000``
    floored — sub-ms thresholds make no sense at ms resolution).

    Scale: one hash shuffle on the key + per-key sort for the lag
    window; ties order on the timestamp only (equal timestamps have
    gap 0 — never above threshold — so tie order cannot change the
    result).  Output: key, gap_start, gap_end, gap_ms."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    ms = epoch_ms_wallclock(F.col(ts_col), is_ntz)
    # order on the raw timestamp (µs), not the ms key — µs-distinct
    # rows that share a millisecond would otherwise tie arbitrarily
    # and render different gap_start values per run
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col))
    thr_ms = int(float(threshold_seconds) * 1000)
    tagged = (
        df.select(F.col(key_col), F.col(ts_col), ms.alias("__ms"))
        .withColumn("__prev_ms", F.lag("__ms").over(w))
        .withColumn("__prev_ts", F.lag(ts_col).over(w))
    )
    return (
        tagged.filter(
            F.col("__prev_ms").isNotNull()
            & ((F.col("__ms") - F.col("__prev_ms")) > thr_ms)
        )
        .select(
            key_col,
            F.col("__prev_ts").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            (F.col("__ms") - F.col("__prev_ms")).cast("bigint").alias("gap_ms"),
        )
    )


def cumulative_distinct(
    df: DataFrame, ts_col: str, id_col: str
) -> DataFrame:
    """Daily audience growth — per day, how many entities appeared for
    the FIRST time, and the cumulative distinct count to date.  The
    "distinct users ever" curve a naive windowed COUNT(DISTINCT)
    cannot compute scalably (its state grows with the full id set per
    window frame).

    The first-seen trick makes it one pass: min(day) per entity, then
    a keyed count per first-day, then a running sum over the per-DAY
    aggregate — cumulative-distinct becomes cumulative-SUM, carrying
    #days rows instead of #ids state.  Day truncation happens in the
    timestamp's own wall-clock space (NTZ-safe DATE cast, no
    session-zone shift).

    Scale: one groupBy(id) (map-side partial min), one keyed count;
    the ordered window runs over the days-sized aggregate only.
    Days with activity but no NEW entities still appear (new = 0) via
    the distinct-day spine, so the cumulative series is complete for
    every active day.

    Output: day (date), new_entities, cum_entities."""
    day = F.col(ts_col).cast("date")
    firsts = (
        df.groupBy(F.col(id_col).alias("__id"))
        .agg(F.min(day).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_entities"))
    )
    spine = df.select(day.alias("day")).distinct()
    w = Window.partitionBy(F.lit(0)).orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(firsts, "day", "left")
        .withColumn(
            "new_entities", F.coalesce(F.col("new_entities"), F.lit(0).cast("bigint"))
        )
        .withColumn("cum_entities", F.sum("new_entities").over(w).cast("bigint"))
    )


def _keyed_ordered_map(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    fn,
    schema,
) -> DataFrame:
    """Partition-fused replacement for ``groupBy(keys).applyInPandas``
    for per-key ORDERED recurrences: hash-repartition by the keys at
    EXPLICIT width (AQE sizes coalescing by exchange bytes — a small
    input would collapse to one partition and serialize the Python
    work; same pin as ``fuzzy_join``), sort within partitions by
    (keys, *order_cols), and call ``fn`` ONCE per partition over the
    whole partition's rows.  Every key's rows are contiguous and
    already in order, so ``fn`` segments by key itself (pandas
    ``groupby(..., dropna=False, sort=False)`` — dropna=False because
    Spark's groupBy treats NULL keys as one group).

    Why: FlatMapGroupsInPandas pays one Python invocation + Arrow
    frame per GROUP.  Measured r13 on 100k events / 1500 user-sized
    groups: 3.1s per-group vs 0.7s fused over identical rows — the
    recurrence itself is C-speed either way; the per-group seam was
    the cost.  Results are bit-identical: each key sees the same rows
    in the same (order_cols) order the per-group path sorted to, and
    the per-step arithmetic is unchanged."""
    from bubbles_spark.ops.core import shuffle_partitions

    n = shuffle_partitions(df.sparkSession)
    part = df.repartition(n, *key_cols).sortWithinPartitions(
        *key_cols, *order_cols
    )

    def run(it):
        import pandas as pd

        pdfs = [p for p in it if len(p)]
        if not pdfs:
            return
        out = fn(pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0])
        # bounded yield: one partition may exceed a healthy Arrow
        # batch — hand back fixed-size slices
        step = 65536
        for i in range(0, len(out), step):
            yield out.iloc[i : i + step]

    return part.mapInPandas(run, schema=schema)


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    out: str = "ewma",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key exponential smoothing (EWMA, ``adjust=False``):
    ``l_1 = x_1;  l_t = (1−α)·l_{t−1} + α·x_t`` in event order — the
    classic online smoother behind monitoring baselines and simple
    forecasts.

    The recurrence is inherently sequential PER KEY, so this is an
    honest Arrow seam (C-speed inside via ``Series.ewm`` — verified
    bit-identical to the explicit loop): one shuffle on the key, a
    partition-fused scan over key-contiguous sorted rows
    (``_keyed_ordered_map`` — one Python call per PARTITION, not per
    group; measured r13: 3.1s → 0.7s on 1500 user groups).  This is
    exactly the shape Catalyst cannot express — a linear recurrence
    is not a window aggregate (SUM/AVG frames cannot carry
    multiplicative state).

    Exactness: every step is two IEEE multiplies and one add on the
    same operands in the same order any engine's recursive evaluation
    performs — a SQL mirror via RECURSIVE CTE reproduces it
    bit-for-bit (write α as CAST(... AS DOUBLE); bare SQL decimals
    parse as DECIMAL).  NULL values are dropped first (a NULL would
    poison every later level of its key).

    Output: input columns + ``out`` (double)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    base = df.filter(F.col(value_col).isNotNull())
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    schema = T.StructType(
        list(base.schema.fields) + [T.StructField(out, T.DoubleType())]
    )
    a = float(alpha)

    def _smooth(pdf):
        pdf = pdf.copy()
        pdf[out] = pdf.groupby(key_col, dropna=False, sort=False)[
            value_col
        ].transform(
            lambda s: s.astype("float64").ewm(alpha=a, adjust=False).mean()
        )
        return pdf

    return _keyed_ordered_map(base, [key_col], order, _smooth, schema)


def holt_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    horizon: int = 1,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per
    key, emitting the final state and the ``horizon``-step-ahead
    forecast — the one-line baseline forecaster next to ``ewma``.

    Recurrence (initialized ``l_1 = x_1, b_1 = 0`` — no lookahead):
    ``l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})``,
    ``b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}``;
    forecast = ``l_n + horizon·b_n``.

    Like ``ewma`` this is an honest Arrow ``applyInPandas`` seam (two
    COUPLED recurrences — even further from a window aggregate); one
    key shuffle, keys in parallel.  Each step is a fixed IEEE
    sequence, so a SQL RECURSIVE CTE replays it bit-for-bit (write
    the SAME expression shapes: ``α·x + (1−α)·(l + b)`` and
    ``β·(l_new − l_old) + (1−β)·b``, constants CAST AS DOUBLE).

    Output: key, n_obs, level, trend, forecast (one row per key)."""
    for nm, v in (("alpha", alpha), ("beta", beta)):
        if not 0.0 < v <= 1.0:
            raise ValueError(f"holt_forecast: {nm} must be in (0, 1], got {v}")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__t"),
        *([F.col(tiebreak_col).alias("__tb")] if tiebreak_col else []),
        F.col(value_col).cast("double").alias("__v"),
    )
    a, b_ = float(alpha), float(beta)
    h = int(horizon)
    order = ["__t"] + (["__tb"] if tiebreak_col else [])
    schema = T.StructType(
        [
            T.StructField("key", base.schema["__k"].dataType),
            T.StructField("n_obs", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def _fit_all(pdf):
        import pandas as pd

        keys, ns, lvls, trds, fcs = [], [], [], [], []
        # rows arrive key-contiguous and (order)-sorted; fit each run
        for key, g in pdf.groupby("__k", dropna=False, sort=False):
            xs = g["__v"].to_numpy()
            lvl = float(xs[0])
            trd = 0.0
            for x in xs[1:]:
                prev = lvl
                lvl = a * float(x) + (1.0 - a) * (lvl + trd)
                trd = b_ * (lvl - prev) + (1.0 - b_) * trd
            keys.append(key)
            ns.append(len(xs))
            lvls.append(lvl)
            trds.append(trd)
            fcs.append(lvl + h * trd)
        return pd.DataFrame(
            {
                "key": pd.Series(keys, dtype=pdf["__k"].dtype),
                "n_obs": ns,
                "level": lvls,
                "trend": trds,
                "forecast": fcs,
            }
        )

    return _keyed_ordered_map(
        base, ["__k"], order, _fit_all, schema
    ).withColumnRenamed("key", key_col)


def bounded_running_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    delta_col: str,
    lo,
    hi,
    init=0,
    out: str = "balance",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Clamped running balance per key:
    ``s_t = min(hi, max(lo, s_{t−1} + Δ_t))`` starting from ``init``
    — inventory on-hand (never below 0, never above capacity), token
    buckets, rate limiters, bounded scores.

    The clamp makes the recurrence NON-associative: unlike a plain
    running sum, no window frame or prefix trick can express it —
    saturating at the cap erases information a later refund cannot
    restore.  So, like ``ewma``/``holt_forecast``, this is an honest
    Arrow ``applyInPandas`` seam: one key shuffle, keys in parallel,
    an int64 numpy loop inside.

    Exactness: with integer deltas (cast your 2-dp money to cents
    first) every step is integer add + compare — bit-exact, and a SQL
    RECURSIVE CTE with ``LEAST(hi, GREATEST(lo, s + d))`` replays it
    identically.

    Output: input columns + ``out`` (bigint)."""
    if not hi > lo:
        raise ValueError(f"bounded_running_sum: need hi > lo, got [{lo}, {hi}]")
    base = df.filter(F.col(delta_col).isNotNull())
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    schema = T.StructType(
        list(base.schema.fields) + [T.StructField(out, T.LongType())]
    )
    lo_i, hi_i, init_i = int(lo), int(hi), int(init)

    def _run_all(pdf):
        import numpy as np

        pdf = pdf.copy()
        # rows arrive key-contiguous and (order)-sorted: one linear
        # scan, resetting state at key boundaries.  NULL keys are one
        # group (Spark groupBy semantics) — contiguous after the sort,
        # and NaN != NaN would reset per row, so compare via isna.
        keys = pdf[key_col]
        na = keys.isna().to_numpy()
        kv = keys.to_numpy()
        deltas = pdf[delta_col].to_numpy()
        acc = np.empty(len(pdf), dtype=np.int64)
        s = init_i
        have_prev = False
        prev_k = None
        prev_na = False
        for i in range(len(pdf)):
            k, is_na = kv[i], bool(na[i])
            if not have_prev or (
                is_na != prev_na or (not is_na and k != prev_k)
            ):
                s = init_i
                have_prev, prev_k, prev_na = True, k, is_na
            s = s + int(deltas[i])
            if s < lo_i:
                s = lo_i
            elif s > hi_i:
                s = hi_i
            acc[i] = s
        pdf[out] = acc
        return pdf

    return _keyed_ordered_map(base, [key_col], order, _run_all, schema)


def rolling_corr(
    df: DataFrame,
    ts_col: str,
    partition_by: str | Sequence[str],
    x_col: str,
    y_col: str,
    window_seconds: float,
    out: str = "rolling_corr",
) -> DataFrame:
    """Trailing-window Pearson correlation between two series per key
    — "are quantity and price moving together this month?" for every
    row, over the rows with ts in [t − window, t].

    All six sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) come
    from ONE window pass sharing a RANGE frame on integer epoch
    milliseconds (``core.epoch_ms_wallclock`` — NTZ-pinned, exact
    where an epoch double would round).  The sums accumulate as exact
    DECIMALs — frame sums are recomputed per row, so order-dependent
    double rounding would make results partitioning-dependent — and
    the closed form is a fixed IEEE sequence (divisions + one sqrt)
    a SQL mirror reproduces bit-for-bit.  Degenerate frames (single
    row, zero variance) emit NULL.

    One hash shuffle on the key, one in-partition sort, six frame
    aggregates sliding together — no self-join, no explode.

    Output: input columns + ``out`` (double)."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order = epoch_ms_wallclock(
        F.col(ts_col), dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    )
    # every term is a prefix-frame difference (incremental O(n)
    # evaluation vs the per-row frame rescan of a bounded-both-sides
    # frame); decimal/BIGINT subtraction is exact, so each term — and
    # the closed form built from them — is bit-identical to the
    # direct sliding frame
    win_ms = int(window_seconds * 1000)
    wb = Window.partitionBy(*parts).orderBy(order)
    w_cur = wb.rangeBetween(Window.unboundedPreceding, 0)
    w_prev = wb.rangeBetween(Window.unboundedPreceding, -win_ms - 1)

    def _pd(c, zero_scale):
        return (
            F.sum(c).over(w_cur)
            - F.coalesce(F.sum(c).over(w_prev), F.lit(0).cast(zero_scale))
        ).cast("double")

    x = F.col(x_col).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")
    n = (
        F.count(F.lit(1)).over(w_cur) - F.count(F.lit(1)).over(w_prev)
    ).cast("double")
    sx = _pd(x, "decimal(18,2)")
    sy = _pd(y, "decimal(18,2)")
    sxy = _pd(x * y, "decimal(37,4)")
    sxx = _pd(x * x, "decimal(37,4)")
    syy = _pd(y * y, "decimal(37,4)")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    return df.withColumn(
        out,
        F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)),
    )


def calendar_features(
    df: DataFrame, ts_col: str, prefix: str = ""
) -> DataFrame:
    """Calendar feature extraction — the model-feature columns every
    time-aware training set starts with: date, year, month, day,
    hour, weekday (0 = Monday — the ISO convention both engines can
    express; Spark's ``dayofweek`` and SQL's ``dow`` disagree on
    Sunday), and an ``is_weekend`` flag.

    Map-only codegen in the timestamp's own wall-clock space (an NTZ
    column extracts identically in every session zone).  Output:
    input + ``{prefix}date/year/month/day/hour/weekday/is_weekend``."""
    c = F.col(ts_col)
    wd = F.weekday(c)
    return (
        df.withColumn(f"{prefix}date", c.cast("date"))
        .withColumn(f"{prefix}year", F.year(c).cast("int"))
        .withColumn(f"{prefix}month", F.month(c).cast("int"))
        .withColumn(f"{prefix}day", F.dayofmonth(c).cast("int"))
        .withColumn(f"{prefix}hour", F.hour(c).cast("int"))
        .withColumn(f"{prefix}weekday", wd.cast("int"))
        .withColumn(f"{prefix}is_weekend", wd >= 5)
    )


def period_over_period(
    df: DataFrame,
    date_col: str,
    value_col: str,
    bucket: str = "week",
    lag: int = 1,
    decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Period-over-period comparison of a measure: roll ``value_col``
    up to calendar buckets, align each bucket with the one ``lag``
    periods earlier, and emit the exact delta plus the relative
    change — the WoW/MoM/YoY readout every revenue dashboard leads
    with.  Buckets with no prior period (the first ``lag`` buckets,
    or a gap in the data) emit NULL prev/delta/pct; a zero prior
    value emits NULL pct_change rather than an engine-dependent
    division blowup.

    Exactness: the measure aggregates and subtracts entirely in
    DECIMAL (cast via ``decimal``, default money-shaped (18,2));
    ``pct_change`` is ONE double division of the exact operands.
    Bucket alignment is day-space arithmetic on DATEs
    (``date_add``/``add_months``) — no instant math, so the keys are
    identical in every session timezone (and across DST).

    Scale: one map-side-combined keyed rollup, then a buckets-sized
    self-equi-join on the shifted key — nothing data-sized after the
    first shuffle.

    Output: bucket_date DATE, value, prev_value, delta (DECIMAL),
    pct_change (DOUBLE)."""
    if bucket not in ("day", "week", "month"):
        raise ValueError(f"period_over_period: bad bucket {bucket!r}")
    if lag < 1:
        raise ValueError("period_over_period: lag must be >= 1")
    b = F.to_date(F.date_trunc(bucket, F.col(date_col)))
    roll = (
        df.filter(F.col(date_col).isNotNull())
        .groupBy(b.alias("bucket_date"))
        .agg(
            F.sum(F.col(value_col).cast(decimal)).cast(decimal).alias("value")
        )
    )
    if bucket == "day":
        shifted_key = F.date_add(F.col("bucket_date"), lag)
    elif bucket == "week":
        shifted_key = F.date_add(F.col("bucket_date"), 7 * lag)
    else:
        shifted_key = F.add_months(F.col("bucket_date"), lag)
    prev = roll.select(
        shifted_key.alias("bucket_date"), F.col("value").alias("prev_value")
    )
    j = roll.join(prev, "bucket_date", "left")
    delta = F.col("value") - F.col("prev_value")
    pct = F.when(
        F.col("prev_value") != 0,
        delta.cast("double") / F.col("prev_value").cast("double"),
    )
    return j.select(
        "bucket_date",
        "value",
        "prev_value",
        delta.alias("delta"),
        pct.alias("pct_change"),
    ).orderBy("bucket_date")


def concurrency_report(
    df: DataFrame,
    start_col: str,
    end_col: str,
    by: str | None = None,
) -> DataFrame:
    """Sweep-line interval concurrency: for every boundary instant,
    the net change and the number of intervals open AFTER it — peak
    load, in-transit inventory, concurrent-session curves.  Intervals
    are ``[start, end)``: an interval releases its slot exactly at
    its end instant, and because boundaries are pre-aggregated to one
    NET delta per instant, same-instant start/end ordering can never
    change the emitted curve.  Rows with NULL or inverted bounds
    (end < start) are dropped; zero-length intervals net to 0 and
    vanish from the curve.

    Exactness: deltas and running concurrency are pure BIGINT sums —
    no floats anywhere; boundary instants pass through untouched (no
    epoch math), so the output is bit-identical in any session
    timezone.

    Scale: the boundary table is ≤2 rows per interval, collapsed to
    one row per DISTINCT instant by a map-side-combined keyed count
    BEFORE any ordering.  With ``by``, the running sum is a per-key
    window (per-key boundary counts bounded by per-key intervals);
    without, it is the global cumsum (drift._partitioned_cumsum: one
    ordered window when the curve is small, else the two-phase scan)
    — never a bare global-ORDER window funneling a data-sized curve
    through one task.

    Output: [by,] ts, delta, concurrent (BIGINT), ordered by ts."""
    s, e = F.col(start_col), F.col(end_col)
    keys = [by] if by else []
    valid = df.filter(s.isNotNull() & e.isNotNull() & (e >= s))
    bounds = valid.select(*keys, s.alias("ts"), F.lit(1).alias("__d")).unionAll(
        valid.select(*keys, e.alias("ts"), F.lit(-1).alias("__d"))
    )
    deltas = bounds.groupBy(*keys, "ts").agg(
        F.sum("__d").cast("bigint").alias("delta")
    ).filter(F.col("delta") != 0)
    if by:
        w = (
            Window.partitionBy(by)
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return deltas.withColumn(
            "concurrent", F.sum("delta").over(w).cast("bigint")
        ).orderBy(by, "ts")
    from bubbles_spark.ops.drift import _partitioned_cumsum

    cum, _ = _partitioned_cumsum(deltas, "ts", ["delta"])
    out = cum.select(
        "ts", "delta", F.col("cum_delta").cast("bigint").alias("concurrent")
    ).orderBy("ts")
    return out.localCheckpoint(eager=True)


def state_dwell_report(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Time spent in each state: per state, how many visits began
    (= events observed with a successor) and the exact total/mean
    wall-clock dwell until the key's NEXT event — session-stage
    timing, device-status accounting, queue-phase analysis.  Each
    key's LAST event has no successor and is excluded (its dwell is
    open-ended; count it downstream against a horizon if needed).

    Exactness: dwell is the BIGINT wall-clock epoch-ms difference to
    the next event (DST-proof via the UTC pin); ``avg_dwell_ms`` is
    ONE IEEE division of exact BIGINT operands.  The per-key order is
    the total (ts, tiebreak) — equal-timestamp events would otherwise
    attribute their 0/positive dwells to engine-dependent states.

    Scale: one hash shuffle on the key + per-key sort for the lead
    window (per-key event counts are session-sized); the rollup is
    one map-side-combined keyed aggregate.

    Output: state, visits, total_dwell_ms (BIGINT), avg_dwell_ms
    (DOUBLE), ordered by state."""
    from bubbles_spark.ops.core import epoch_ms_wallclock

    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    base = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(state_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(state_col).alias("state"),
        epoch_ms_wallclock(F.col(ts_col), is_ntz).alias("__ms"),
        F.col(tiebreak_col).alias("__tb"),
    )
    w = Window.partitionBy("__k").orderBy("__ms", "__tb")
    stepped = base.withColumn("__next_ms", F.lead("__ms").over(w)).filter(
        F.col("__next_ms").isNotNull()
    )
    dwell = F.col("__next_ms") - F.col("__ms")
    return (
        stepped.groupBy("state")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("visits"),
            F.sum(dwell).cast("bigint").alias("total_dwell_ms"),
        )
        .withColumn(
            "avg_dwell_ms",
            F.col("total_dwell_ms").cast("double")
            / F.col("visits").cast("double"),
        )
        .orderBy("state")
    )


def debounce(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
    tiebreak_col: str,
) -> DataFrame:
    """Greedy burst collapse per key: keep an event only if at least
    ``gap_seconds`` has elapsed since the last KEPT event — sensor
    chatter suppression, click-spam collapse, alert rate-limiting.
    This is NOT sessionize-first-event: with events at 0/3/6/9 and
    gap 5, debounce keeps {0, 6} (each drop measures from the last
    SURVIVOR) while one long session keeps only {0}.

    The kept-set recurrence (state = last kept timestamp) is exactly
    the class no window frame expresses — same seam as ``ewma``: one
    key shuffle, per-key Arrow batch, a linear scan in integer ms.
    Bit-exact by construction: the comparison is BIGINT ms ≥ BIGINT
    threshold (floored from ``gap_seconds·1000``), replayable
    step-for-step by a RECURSIVE CTE oracle; ties break on the total
    (ts, tiebreak) order.

    Scale: per-key groups are user-session-sized; the scan is O(n)
    per key with no Python-per-row crossing (Arrow batches).  Output:
    the SURVIVING rows (key, ts, tiebreak), ordered by key."""
    import pandas as pd

    from bubbles_spark.ops.core import epoch_ms_wallclock

    gap_ms = int(float(gap_seconds) * 1000)
    is_ntz = dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    base = df.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias(ts_col),
        F.col(tiebreak_col).alias(tiebreak_col),
        epoch_ms_wallclock(F.col(ts_col), is_ntz).alias("__ms"),
    )
    out_schema = T.StructType(
        [
            base.schema["__k"],
            base.schema[ts_col],
            base.schema[tiebreak_col],
        ]
    )

    def _scan_all(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # key-contiguous, (__ms, tiebreak)-sorted rows: one linear
        # scan, resetting the last-kept state at key boundaries (keys
        # are NOT NULL here — base filters them)
        kv = pdf["__k"].to_numpy()
        ms_arr = pdf["__ms"].to_numpy()
        keep = np.empty(len(pdf), dtype=bool)
        last = None
        prev_k = object()
        for i in range(len(pdf)):
            if kv[i] != prev_k:
                last = None
                prev_k = kv[i]
            ok = last is None or ms_arr[i] - last >= gap_ms
            keep[i] = ok
            if ok:
                last = ms_arr[i]
        return pdf.loc[keep, ["__k", ts_col, tiebreak_col]]

    return _keyed_ordered_map(
        base, ["__k"], ["__ms", tiebreak_col], _scan_all, out_schema
    ).withColumnRenamed("__k", key_col)


def fifo_match(
    ins: DataFrame,
    outs: DataFrame,
    key_col: str,
    seq_col: str,
    qty_col: str,
    decimal: str = "decimal(18,2)",
) -> DataFrame:
    """FIFO lot matching per key: consumption draws down the OLDEST
    remaining inflow first — inventory costing, payment-to-invoice
    application, queue accounting.  Rather than replaying the
    sequential drawdown (a per-row recurrence), this uses the FIFO
    closed form: with inflows and outflows each cumulated in their
    own ``seq_col`` order, lot i matches consumption j by exactly the
    overlap of their cumulative-quantity intervals —
    ``min(cumIn_i, cumOut_j) − max(cumIn_{i−1}, cumOut_{j−1})``
    where positive.  That makes the whole operator relational:
    two per-key cumulative windows + ONE per-key equi-join filtered
    to overlapping intervals.

    Requirements: ``seq_col`` totally orders rows within a key on
    BOTH sides (pass an event id, or a timestamp known unique per
    key); non-positive quantities are dropped (a signed single-feed
    ledger should be split by sign first).  Unconsumed lot tails and
    unfilled consumption tails simply emit no row — reconcile by
    summing ``qty`` per side downstream.

    Exactness: quantities cumulate and subtract entirely in DECIMAL
    (``decimal`` param); the overlap test and the matched quantity
    are pure DECIMAL min/max/subtract — no floats anywhere.

    Scale: one hash shuffle per side on the key for the cumulative
    windows (per-key group sizes are ledger-sized); the match join is
    a key equi-join whose fanout is structurally ≤ n_in + n_out − 1
    rows per key (consecutive interval chains can only interleave,
    never cross-product).  Output: key, in_seq, out_seq, qty
    (DECIMAL), one row per (lot, consumption) with positive overlap."""

    def _cum(df: DataFrame, side: str) -> DataFrame:
        q = F.col(qty_col).cast(decimal)
        w = (
            Window.partitionBy("__k")
            .orderBy(f"{side}_seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        base = df.filter(
            F.col(key_col).isNotNull()
            & F.col(seq_col).isNotNull()
            & (q > 0)
        ).select(
            F.col(key_col).alias("__k"),
            F.col(seq_col).alias(f"{side}_seq"),
            q.alias("__q"),
        )
        return base.select(
            "__k",
            f"{side}_seq",
            (F.sum("__q").over(w)).cast(decimal).alias(f"__{side}_hi"),
            (F.sum("__q").over(w) - F.col("__q")).cast(decimal).alias(
                f"__{side}_lo"
            ),
        )

    li = _cum(ins, "in")
    lo = _cum(outs, "out")
    j = li.join(lo, "__k").filter(
        (F.col("__in_lo") < F.col("__out_hi"))
        & (F.col("__out_lo") < F.col("__in_hi"))
    )
    qty = F.least(F.col("__in_hi"), F.col("__out_hi")) - F.greatest(
        F.col("__in_lo"), F.col("__out_lo")
    )
    return j.select(
        F.col("__k").alias(key_col),
        "in_seq",
        "out_seq",
        qty.cast(decimal).alias("qty"),
    ).orderBy(key_col, "in_seq", "out_seq")


def date_dimension(
    spark,
    start: str,
    end: str,
) -> DataFrame:
    """Generate the calendar dimension table [start, end] (inclusive,
    one row per day) every warehouse needs for gap-free joins and
    fiscal rollups: date, year, quarter, month, day, weekday
    (0 = Monday, the ISO convention both engines express — Spark's
    ``dayofweek`` and SQL ``dow`` disagree on Sunday), is_weekend,
    ISO week number, day_of_year, and month_start/month_end flags.

    Pure generator — ``sequence(start, end, 1 day)`` exploded
    map-side, day-space arithmetic only (DST cannot exist in DATE
    space), no input table, no shuffle.  Join it left from your fact
    rollups to surface zero-activity days (``resample_time`` solves
    the same gap problem for per-key series)."""
    s = F.lit(start).cast("date")
    e = F.lit(end).cast("date")
    days = spark.range(1).select(
        F.explode(
            F.sequence(s, e, F.expr("interval 1 day"))
        ).alias("date")
    )
    c = F.col("date")
    wd = F.weekday(c)
    return days.select(
        "date",
        F.year(c).cast("int").alias("year"),
        F.quarter(c).cast("int").alias("quarter"),
        F.month(c).cast("int").alias("month"),
        F.dayofmonth(c).cast("int").alias("day"),
        wd.cast("int").alias("weekday"),
        (wd >= 5).alias("is_weekend"),
        F.weekofyear(c).cast("int").alias("iso_week"),
        F.dayofyear(c).cast("int").alias("day_of_year"),
        (c == F.trunc(c, "month")).alias("is_month_start"),
        (c == F.last_day(c)).alias("is_month_end"),
    )


def cusum_alarms(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    allowance: float,
    threshold: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key two-sided CUSUM control chart (Page 1954, public) —
    the sequential drift detector behind "has this monitored metric
    shifted off its target?":
    ``S⁺_t = max(0, S⁺_{t−1} + x_t − (μ₀ + K))`` and
    ``S⁻_t = max(0, S⁻_{t−1} + (μ₀ − K) − x_t)``, alarm when either
    exceeds the decision interval ``h``.  Complements
    ``changepoint_report`` (retrospective single best split) with the
    monitoring-time view: EVERY alarm instant is surfaced.

    The max-recurrence is not a window aggregate, but its prefix form
    is: ``S_t = P_t − min(0, min_{i≤t} P_i)`` with ``P`` the running
    sum of deviations (the reflection identity — max-reset is prefix
    sum minus running floor).  So the whole chart is two prefix SUMs
    and two prefix MINs per side — no recursion, no Python.

    Exactness: deviations, prefix sums, and running minima all in
    exact DECIMAL (``target ± K`` parsed from ``str()`` literals so
    both engines bind the identical decimal); the only IEEE step is
    the final decimal→double surface cast, correctly rounded and
    identical in both engines.  Alarm comparisons happen in decimal —
    no float boundary can flip them.  NULL values are dropped (a NULL
    would poison every later prefix of its key).

    Scale: one hash shuffle on the key + one in-partition sort; the
    unbounded-preceding frames evaluate incrementally (O(n) per key,
    no per-row rescans).  Contract (the ``ewma`` posture): feed
    per-key series of bounded length — pre-bucket raw events to
    calendar buckets first so a key's series fits its partition.

    Output: key, ts (+tiebreak), value, cusum_pos, cusum_neg
    (double), alarm_pos, alarm_neg (boolean)."""
    dec = "decimal(28,8)"
    mu_k_hi = F.lit(str(float(target) + float(allowance))).cast(dec)
    mu_k_lo = F.lit(str(float(target) - float(allowance))).cast(dec)
    h = F.lit(str(float(threshold))).cast(dec)
    zero = F.lit("0").cast(dec)

    base = df.filter(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    )
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    x = F.col(value_col).cast(dec)
    # two projection stages: a window aggregate cannot nest inside
    # another window function, so the prefix sums land as columns
    # first and the running minima read them in a second pass (same
    # window spec — the chained Window nodes share ONE partition sort:
    # plan shows 1 Sort / 1 window Exchange, audited)
    #
    # decimal-subtraction hazard (the durbin_watson note): SUM over
    # (29,8) operands lands at (38,8), and (38,8)−(38,8) needs
    # precision 39, so Spark would silently round the result to
    # (38,7) — losing the 8th decimal and (for full-scale inputs)
    # the bit-exact alarm contract.  Cast the staged prefix sums to
    # (37,8): lossless for any real series (29 integer digits), and
    # (37,8)−(37,8) → (38,8) with scale preserved.  Oracle mirrors
    # the same cast.
    dec37 = "decimal(37,8)"
    staged = base.withColumn(
        "__pp", F.sum(x - mu_k_hi).over(w).cast(dec37)
    ).withColumn("__pn", F.sum(mu_k_lo - x).over(w).cast(dec37))
    s_pos = F.col("__pp") - F.least(zero, F.min("__pp").over(w))
    s_neg = F.col("__pn") - F.least(zero, F.min("__pn").over(w))
    keep = [key_col, ts_col] + (
        [tiebreak_col] if tiebreak_col else []
    ) + [value_col]
    return staged.select(
        *keep,
        s_pos.cast("double").alias("cusum_pos"),
        s_neg.cast("double").alias("cusum_neg"),
        (s_pos > h).alias("alarm_pos"),
        (s_neg > h).alias("alarm_neg"),
    )


def pettitt_test(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> DataFrame:
    """Pettitt change-point test (Pettitt 1979, public) — the
    rank-based single-changepoint locator: where does the series
    split into two halves one of which is stochastically larger?
    The nonparametric companion to ``changepoint_report`` (mean-shift
    CUSUM): immune to outliers and monotone transforms.

    Series = per-``interval`` bucket means (the changepoint_report
    normal form — calendar-bounded, so everything after the first
    fold is metadata-sized).  With pooled DOUBLED average ranks
    ``D_i = 2·R_i`` (integral under ties via the shared
    ``2·cum − c + 1`` identity), the Mann–Whitney-ish prefix
    statistic is ``U_t = Σ_{i≤t} D_i − t·(N+1)`` (the sgn-pair form
    exactly, ties included — property-tested against the brute-force
    double sum) — an exact integer cumsum; ``K = max_t |U_t|`` over
    interior boundaries,
    earliest argmax on ties.  The exp-based approximate p-value is
    NOT emitted (JVM-vs-libm transcendental parity, the psi_bin
    policy) — feed ``k_stat``/``n_buckets`` to the caller's own
    threshold, or pin p in tests.

    Exactness: bucket means are exact-decimal sums with one IEEE
    division rounded once into DECIMAL (the changepoint_report
    idiom); ranks, the doubled prefix statistic, and K are exact
    integers end-to-end.

    Output (one row): split_ts (last bucket of the left segment),
    n_buckets, k_stat (bigint), u_at_split (bigint)."""
    v = F.col(value_col)
    buckets = (
        df.filter(v.isNotNull())
        .groupBy(F.window(ts_col, interval).alias("__w"))
        .agg(
            F.sum(v.cast("decimal(28,8)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            F.col("__w.start").alias("__t"),
            (
                F.col("__s").cast("double") / F.col("__n").cast("double")
            ).cast("decimal(38,10)").alias("__m"),
        )
    )
    # pooled doubled average ranks of the bucket means
    pv = buckets.groupBy("__m").agg(F.count(F.lit(1)).alias("__c"))
    w_val = Window.orderBy("__m").rowsBetween(Window.unboundedPreceding, 0)
    ranks = pv.withColumn("__cum", F.sum("__c").over(w_val)).select(
        "__m",
        (F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1)).alias("__d2"),
    )
    w_time = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    staged = (
        buckets.join(ranks, "__m")
        .withColumn("__i", F.count(F.lit(1)).over(w_time))
        .withColumn("__cd", F.sum("__d2").over(w_time))
        .withColumn("__nb", F.count(F.lit(1)).over(w_all))
    )
    u2 = F.col("__cd") - F.col("__i") * (F.col("__nb") + F.lit(1))
    cand = staged.filter(F.col("__i") < F.col("__nb")).select(
        F.col("__t").alias("split_ts"),
        F.col("__nb").cast("bigint").alias("n_buckets"),
        F.abs(u2).cast("bigint").alias("__k"),
        u2.cast("bigint").alias("u_at_split"),
    )
    return (
        cand.orderBy(F.col("__k").desc(), F.col("split_ts"))
        .limit(1)
        .select(
            "split_ts",
            "n_buckets",
            F.col("__k").alias("k_stat"),
            "u_at_split",
        )
    )


def runs_test(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness around the median
    (Wald & Wolfowitz 1940, public) — "does the series wander
    (trend/cycles → few long runs) or oscillate (negative
    autocorrelation → many short runs)?"  The pre-model sanity gate
    for any time series an operator claims is noise.

    Series = per-``interval`` bucket means (the changepoint_report
    normal form).  Values equal to the grand median are dropped (the
    standard reduction); the remainder become an above/below sign
    sequence in time order; ``R`` = number of runs = 1 + #(adjacent
    sign changes).  ``z = (R − μ)/σ`` with ``μ = 2n₁n₂/n + 1`` and
    ``σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n − 1))``.

    Exactness: the grand median is the exact type-1 lower median
    from per-value counts; R, n₁, n₂ are exact integers (the sign
    flip count is a LAG window over the bucket table); μ, σ², z are
    one fixed IEEE sequence on exact BIGINT products (DECIMAL(38,0)
    for 2n₁n₂(2n₁n₂−n) — no 2⁵³ ceiling).  n₁ = 0, n₂ = 0, or n < 2
    yields NULL z.

    Output (one row): n_buckets, n_above, n_below, n_runs (bigint),
    z (double)."""
    v = F.col(value_col)
    buckets = (
        df.filter(v.isNotNull())
        .groupBy(F.window(ts_col, interval).alias("__w"))
        .agg(
            F.sum(v.cast("decimal(28,8)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            F.col("__w.start").alias("__t"),
            (
                F.col("__s").cast("double") / F.col("__n").cast("double")
            ).cast("decimal(38,10)").alias("__m"),
        )
    )
    pv = buckets.groupBy("__m").agg(F.count(F.lit(1)).alias("__c"))
    w_val = Window.orderBy("__m").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy()
    med = (
        pv.withColumn("__cum", F.sum("__c").over(w_val))
        .withColumn("__nb", F.sum("__c").over(w_tot))
        .filter(F.lit(2) * F.col("__cum") >= F.col("__nb"))
        .agg(F.min("__m").alias("__med"))
    )
    signs = (
        buckets.join(F.broadcast(med))
        .filter(F.col("__m") != F.col("__med"))
        .select("__t", (F.col("__m") > F.col("__med")).alias("__up"))
    )
    w_time = Window.orderBy("__t")
    flips = signs.withColumn(
        "__chg",
        (F.col("__up") != F.lag("__up").over(w_time)).cast("bigint"),
    )
    agg = flips.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("__up").cast("bigint")).cast("bigint").alias("n_above"),
        F.sum((~F.col("__up")).cast("bigint")).cast("bigint").alias("n_below"),
        (F.coalesce(F.sum("__chg"), F.lit(0)) + F.lit(1))
        .cast("bigint")
        .alias("n_runs"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n1, n2 = F.col("n_above"), F.col("n_below")
    nn = n1 + n2
    two_n1n2 = (d(n1) * n2 * 2).cast("double")
    nd = nn.cast("double")
    mean_r = two_n1n2 / nd + F.lit(1.0)
    var_r = (
        two_n1n2
        * (two_n1n2 - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    ok = (n1 > 0) & (n2 > 0) & (nn > 1) & (var_r > 0)
    return agg.select(
        F.col("__n").alias("n_buckets"),
        "n_above",
        "n_below",
        "n_runs",
        F.when(ok, (F.col("n_runs").cast("double") - mean_r) / F.sqrt(var_r))
        .alias("z"),
    )


def durbin_watson(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> DataFrame:
    """Durbin–Watson statistic (Durbin & Watson 1950, public) of the
    demeaned per-``interval`` bucket series —
    ``DW = Σ(e_t − e_{t−1})² / Σe_t²`` — the standard first-order
    autocorrelation gate (≈2 none, →0 positive, →4 negative): run it
    on a metric you're about to model as i.i.d., alongside
    ``runs_test``'s sign-based view and ``acf_by_lag``'s full
    correlogram.

    Series = bucket means in exact decimal (the changepoint_report
    normal form, held at DECIMAL(28,10): a (38,10) operand makes
    Spark's subtraction overflow precision 38 and silently ROUND the
    result to scale 8 while other engines keep scale 10 — measured
    48/719 quantized terms off by one); e_t = m_t − m̄ with the grand
    mean rounded once into DECIMAL so the deviations are exact
    decimal subtractions.
    Each square is one fixed IEEE step on the decimal→double cast,
    micro-quantized to an integer DECIMAL before the cross-bucket
    sums (the ``kruskal_wallis`` budget); DW is ONE final division.
    n < 2 buckets or a constant series (Σe² = 0) yields NULL.

    Output (one row): n_buckets (bigint), dw_stat (double)."""
    v = F.col(value_col)
    buckets = (
        df.filter(v.isNotNull())
        .groupBy(F.window(ts_col, interval).alias("__w"))
        .agg(
            F.sum(v.cast("decimal(28,8)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            F.col("__w.start").alias("__t"),
            (
                F.col("__s").cast("double") / F.col("__n").cast("double")
            ).cast("decimal(28,10)").alias("__m"),
        )
    )
    w_all = Window.partitionBy()
    w_time = Window.orderBy("__t")
    demeaned = buckets.withColumn(
        "__gm",
        (
            F.sum("__m").over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all).cast("double")
        ).cast("decimal(28,10)"),
    ).select(
        "__t", (F.col("__m") - F.col("__gm")).alias("__e")
    )
    lagged = demeaned.withColumn("__ep", F.lag("__e").over(w_time))
    e_d = F.col("__e").cast("double")
    diff_d = (F.col("__e") - F.col("__ep")).cast("double")
    q = lambda c: F.round(c * F.lit(1e6), 0).cast("decimal(38,0)")  # noqa: E731
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(q(e_d * e_d)).alias("__den"),
        F.sum(
            F.when(F.col("__ep").isNotNull(), q(diff_d * diff_d))
        ).alias("__num"),
    )
    den = F.col("__den").cast("double")
    num = F.col("__num").cast("double")
    ok = (F.col("n_buckets") > 1) & (den > 0)
    return agg.select(
        "n_buckets",
        F.when(ok, num / den).alias("dw_stat"),
    )
