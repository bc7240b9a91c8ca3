"""Customer / population analytics: RFM segmentation, value
concentration (Lorenz), and survival (Kaplan-Meier).

The questions every warehouse team asks of an events/orders corpus —
"who are my best customers?", "how concentrated is revenue?", "how
long until users convert or churn?" — answered as exact,
engine-portable DataFrame ops.

Reference scope: Stiivi/bubbles ships nothing comparable (SURVEY.md
§2.6 stops at audits); these are §2.14 north-star extension rows in
the same exactness discipline as ops/drift.py: counts and ranks are
integers, money stays DECIMAL end-to-end, every emitted double is a
fixed sequence of IEEE steps on exact operands, and every global
ranking is the two-phase value-bucketed scan — never a single-task
window over data.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bubbles_spark.ops.core import _with_global_row_number

__all__ = [
    "rfm_segments",
    "lorenz_curve",
    "km_risk_table",
    "kaplan_meier",
    "nelson_aalen",
    "linear_trend",
    "abc_classification",
    "weighted_median",
    "weighted_quantile",
    "theil_sen",
    "mix_shift_report",
    "gini_by",
    "pareto_front",
    "concentration_report",
    "capture_recapture",
    "diversity_report",
]


def _idiv(a, b):
    """Integer floor-division of non-negative Columns.  Spark's ``/``
    on integers is IEEE double division; floor of it is exact while
    the numerator stays under 2^53 — ranks×bins here, fine for any
    realistic population (and the same expression a SQL mirror's
    ``//`` computes)."""
    return F.floor(a / b).cast("bigint")


def rfm_segments(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    amount_col: str,
    ref_date: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-value grid: per entity, days since last activity, total
    activity count, and total spend, each scored into ``n_bins``
    equal-depth bins (best = ``n_bins``), plus the combined cell
    (``r·100 + f·10 + m`` for the default 5 bins).

    Exactness: recency is an integer DAY difference in the timestamp
    column's own wall-clock space (NTZ-safe — no session-zone cast);
    monetary sums in DECIMAL (never a float sum); scores come from a
    total-order global rank (``id_col`` tiebreak) cut by integer
    division — every output column is bit-reproducible.

    Scale: one keyed aggregate over the raw events (map-side partial),
    then three two-phase global rankings over the *per-entity* table
    (customer-sized, orders of magnitude smaller than the input; each
    pass is a range-repartition + in-partition sort, never a
    single-task window).  ``ref_date`` is an explicit parameter — a
    hidden ``current_date()`` would make refreshes irreproducible.

    Output: id, recency_days (int), frequency (bigint), monetary
    (decimal(18,2)), r_score / f_score / m_score (int), rfm_cell
    (int).  Rows with NULL amount count toward frequency/recency but
    add nothing to monetary."""
    if n_bins < 1:
        raise ValueError("rfm_segments: need n_bins >= 1")
    day = F.col(ts_col).cast("date")
    agg = df.groupBy(F.col(id_col).alias("id")).agg(
        F.datediff(F.lit(ref_date).cast("date"), F.max(day))
        .cast("int")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.coalesce(
            F.sum(F.col(amount_col).cast("decimal(18,2)")), F.lit(0)
        )
        .cast("decimal(18,2)")
        .alias("monetary"),
    )
    n = agg.count()
    if n == 0:
        raise ValueError("rfm_segments: no rows")

    def score(frame: DataFrame, order_col, out: str) -> DataFrame:
        ranked = _with_global_row_number(
            frame.withColumn("__o", order_col), ["__o", "id"], n_hint=n
        )
        # best-first rank → score n_bins..1 via integer cut
        s = (
            F.lit(n_bins)
            - _idiv((F.col("__rn").cast("bigint") - 1) * n_bins, F.lit(n))
        ).cast("int")
        return ranked.withColumn(out, s).drop("__o", "__rn")

    # recency: smaller = more recent = better; frequency/monetary:
    # larger = better (negation keeps one ascending rank pass each)
    scored = score(agg, F.col("recency_days"), "r_score")
    scored = score(scored, -F.col("frequency"), "f_score")
    scored = score(scored, -F.col("monetary"), "m_score")
    # decimal cell (e.g. 543) while scores fit a digit, else base-(k+1)
    base = 10 if n_bins <= 9 else n_bins + 1
    return scored.withColumn(
        "rfm_cell",
        F.col("r_score") * (base * base)
        + F.col("f_score") * base
        + F.col("m_score"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Value-concentration (Lorenz) table — "the bottom 50% of
    customers hold 9% of revenue": rank the population by value
    ascending, cut into ``n_buckets`` equal-depth buckets, and report
    per-bucket and cumulative value alongside the population share.
    The diagonal-vs-curve gap IS the Gini picture; the table keeps the
    exact decimals so the caller can compute any index variant.

    Complements ``drift.gains_table`` (label capture by model score);
    this is value mass by the value itself.

    Exactness: values sum in DECIMAL(18,2) (exact for 2-dp sources),
    shares are ONE IEEE division of exact operands each
    (decimal→double casts stay under the ~15-16 significant-digit
    budget while cumulative cents < 2^53 — at larger corpus scale
    pre-aggregate per entity first).  ``id_col`` tie-breaks equal
    values into a TOTAL order so bucket membership is stable.

    Scale: one two-phase global ranking (never a single-task window
    over data), one keyed count; the cumulative window runs over the
    ``n_buckets``-row aggregate only.

    Output: bucket, n_rows, bucket_value, cum_rows, cum_value,
    cum_pop_share, cum_value_share."""
    if n_buckets < 1:
        raise ValueError("lorenz_curve: need n_buckets >= 1")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
        F.col(id_col).alias("__id"),
    )
    n = base.count()
    if n == 0:
        raise ValueError("lorenz_curve: no rows")
    ranked = _with_global_row_number(base, ["__v", "__id"], n_hint=n)
    bucket = (
        _idiv((F.col("__rn").cast("bigint") - 1) * n_buckets, F.lit(n)) + 1
    ).alias("bucket")
    per = (
        ranked.select(bucket, "__v")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("__v").cast("decimal(18,2)").alias("bucket_value"),
        )
    )
    tot = per.agg(
        F.sum("n_rows").cast("bigint").alias("__tn"),
        F.sum("bucket_value").cast("decimal(18,2)").alias("__tv"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_rows", F.sum("n_rows").over(w).cast("bigint"))
        .withColumn(
            "cum_value", F.sum("bucket_value").over(w).cast("decimal(18,2)")
        )
        .select(
            "bucket",
            "n_rows",
            "bucket_value",
            "cum_rows",
            "cum_value",
            (
                F.col("cum_rows").cast("double") / F.col("__tn").cast("double")
            ).alias("cum_pop_share"),
            (
                F.col("cum_value").cast("double") / F.col("__tv").cast("double")
            ).alias("cum_value_share"),
        )
    )


def km_risk_table(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Kaplan-Meier risk table + product-limit survival estimate —
    time-to-event analysis (conversion latency, churn, failure) with
    right-censoring: per observed duration ``t``, the number still at
    risk, events, censorings, and the KM survival estimate
    ``S(t) = Π_{u≤t} (1 − d_u / n_u)``.

    ``duration_col`` is an integer time-to-event (e.g. days);
    ``event_col`` is 1 when the event was observed, 0 when the subject
    was censored at that duration.  Optional ``by`` columns give one
    curve per group (treatment arms, cohorts).

    Exactness: the risk table is pure BIGINT arithmetic (counts and a
    cumulative sum); each survival factor is ONE IEEE division and the
    running product multiplies in strict duration order
    (``F.product`` over an ordered frame) — deterministic across runs.
    Cross-engine note: a SQL mirror reproduces the integer columns
    bit-exactly; the *product* column depends on the engine's window
    product association order, so oracle comparisons should check the
    exact ``n_risk/n_event/n_censored`` columns (the factors) and
    treat ``survival`` as derived.

    Scale: one keyed count per (group, duration) — map-side partial —
    then windows over the *aggregated* duration table only (distinct
    durations per group, not rows).

    Output: ``by...``, t, n_risk, n_event, n_censored, survival."""
    by = list(by)
    g = [F.col(c) for c in by]
    t = F.col(duration_col).cast("bigint").alias("t")
    ev = F.col(event_col).cast("int")
    per = (
        df.filter(F.col(duration_col).isNotNull() & ev.isNotNull())
        .groupBy(*g, t)
        .agg(
            F.sum(ev).cast("bigint").alias("n_event"),
            F.sum(1 - ev).cast("bigint").alias("n_censored"),
        )
    )
    wcum = (
        Window.partitionBy(*by).orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    leaving = F.col("n_event") + F.col("n_censored")
    out = (
        per.withColumn("__total", F.sum(leaving).over(wtot))
        .withColumn("__gone", F.sum(leaving).over(wcum) - leaving)
        .withColumn("n_risk", (F.col("__total") - F.col("__gone")).cast("bigint"))
        .withColumn(
            "__factor",
            F.lit(1.0)
            - F.col("n_event").cast("double") / F.col("n_risk").cast("double"),
        )
        .withColumn("survival", F.product("__factor").over(wcum))
    )
    return out.select(*by, "t", "n_risk", "n_event", "n_censored", "survival")


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    by: Sequence[str] = (),
    scale: int = 15,
    var_scale: int = 12,
    max_steps: int = 4096,
) -> DataFrame:
    """Kaplan–Meier product-limit survival curve with Greenwood
    variance (Kaplan & Meier 1958; Greenwood 1926 — public), emitted
    EXACTLY: where ``km_risk_table``'s ``survival`` column is
    oracle-excluded (a windowed double product associates
    engine-dependently), this operator holds the curve as an INTEGER
    in 10^-``scale`` units and advances it one duration at a time by
    the exact fixed-point recurrence

        s_0 = 10^scale;   s_i = floor(s_{i-1} · (n_i − d_i) / n_i)

    — every step integer arithmetic (the product stays < 10^(scale+
    log10 n) inside DECIMAL(38,0) / HUGEINT), so the quantized curve
    ``survival_q`` is bit-identical across engines BY CONSTRUCTION
    and ``survival = survival_q / 10^scale`` is one exact-cast IEEE
    division.  Cumulative quantization bias after k steps is
    < k·10^-scale — at the 15 default, eleven digits below any
    statistical use.

    Greenwood's variance rides the additive ``nelson_aalen`` idiom:
    per-step terms ``d/(n(n−d))`` are one fixed IEEE sequence each,
    floor-quantized to 10^-``var_scale`` units, summed as exact
    BIGINTs (``gw_q``), and ``greenwood_var = S(t)²·(gw_q/10^vs)`` /
    ``greenwood_se = sqrt(var)`` are fixed IEEE tails (sqrt is
    correctly rounded by IEEE 754).  On a duration where the whole
    risk set dies (n = d) the curve hits exactly 0 and Greenwood is
    undefined — that row (necessarily the group's last) emits NULL
    var/se.

    Scale: one keyed count shuffle folds rows to ≤ #distinct
    durations per group (map-side partial), windows run over that
    aggregated table only, and the sequential product folds a
    per-group SORTED ARRAY with a higher-order ``aggregate`` —
    JVM-side, no UDF, no driver loop.  The array is the one
    non-distributed axis, so curve length is contract-bounded at
    ``max_steps`` (default 4096, the bins-grid budget; the guard is
    a plan-side ``raise_error``, no extra job) — pre-bucket finer
    duration grids with ``events.time_bucket`` first.  ``scale`` ≤ 18
    keeps s_0 in BIGINT; the per-step product needs
    10^scale·max(n) < 10^38, satisfied to n ~ 10^22 at the default.

    Output: ``by...``, t, n_risk, n_event, n_censored (BIGINT),
    survival_q, gw_q (BIGINT, quantized), survival, greenwood_var,
    greenwood_se (DOUBLE)."""
    if not 1 <= scale <= 18:
        raise ValueError("kaplan_meier: scale must be in 1..18")
    if not 1 <= var_scale <= 15:
        raise ValueError("kaplan_meier: var_scale must be in 1..15")
    if max_steps < 1:
        raise ValueError("kaplan_meier: need max_steps >= 1")
    by = list(by)
    g = [F.col(c) for c in by]
    t = F.col(duration_col).cast("bigint").alias("t")
    ev = F.col(event_col).cast("int")
    per = (
        df.filter(F.col(duration_col).isNotNull() & ev.isNotNull())
        .groupBy(*g, t)
        .agg(
            F.sum(ev).cast("bigint").alias("n_event"),
            F.sum(1 - ev).cast("bigint").alias("n_censored"),
        )
    )
    wcum = (
        Window.partitionBy(*by).orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    leaving = F.col("n_event") + F.col("n_censored")
    d = F.col("n_event").cast("double")
    n = F.col("n_risk").cast("double")
    nd = (F.col("n_risk") - F.col("n_event")).cast("double")
    vup = float(10**var_scale)
    gterm = (
        F.when(F.col("n_event") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("n_risk") > F.col("n_event"),
            F.floor(d / (n * nd) * F.lit(vup)).cast("bigint"),
        )  # n = d (everyone dies): NULL — Greenwood undefined past S=0
    )
    risk = (
        per.withColumn("__total", F.sum(leaving).over(wtot))
        .withColumn("__gone", F.sum(leaving).over(wcum) - leaving)
        .withColumn(
            "n_risk", (F.col("__total") - F.col("__gone")).cast("bigint")
        )
        .withColumn("__gt", gterm)
        .withColumn("gw_q", F.sum("__gt").over(wcum))
    )
    grouped = risk.groupBy(*g) if by else risk.groupBy()
    packed = grouped.agg(
        F.expr(
            "array_sort(collect_list(struct("
            "t, n_risk, n_event, n_censored, gw_q))) AS __steps"
        )
    )
    s0 = 10**scale
    fold = F.expr(
        f"""aggregate(
          IF(size(__steps) <= {max_steps}, __steps,
             raise_error(concat('kaplan_meier: ',
               CAST(size(__steps) AS STRING),
               ' curve steps exceed max_steps={max_steps} — pre-bucket',
               ' durations (events.time_bucket) first'))),
          CAST(array() AS ARRAY<BIGINT>),
          (acc, x) -> array_append(acc,
             (CAST(coalesce(try_element_at(acc, -1), {s0}L)
                   AS DECIMAL(20,0))
              * (x.n_risk - x.n_event)) div x.n_risk),
          acc -> acc
        ) AS __sq"""
    )
    z = packed.select(*by, "__steps", fold).select(
        *by, F.explode(F.arrays_zip("__steps", "__sq")).alias("__z")
    )
    sv = F.col("survival")
    gw = F.col("gw_q").cast("double") / F.lit(vup)
    return (
        z.select(
            *by,
            F.col("__z.__steps.t").alias("t"),
            F.col("__z.__steps.n_risk").alias("n_risk"),
            F.col("__z.__steps.n_event").alias("n_event"),
            F.col("__z.__steps.n_censored").alias("n_censored"),
            F.col("__z.__steps.gw_q").alias("gw_q"),
            F.col("__z.__sq").alias("survival_q"),
            (F.col("__z.__sq").cast("double") / F.lit(float(s0))).alias(
                "survival"
            ),
        )
        .withColumn(
            "greenwood_var",
            F.when(F.col("n_risk") > F.col("n_event"), (sv * sv) * gw),
        )
        .withColumn("greenwood_se", F.sqrt(F.col("greenwood_var")))
        .select(
            *by, "t", "n_risk", "n_event", "n_censored", "survival_q",
            "gw_q", "survival", "greenwood_var", "greenwood_se",
        )
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    by: Sequence[str] = (),
    scale: int = 12,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator — ``km_risk_table``'s
    additive sibling: ``H(t) = Σ_{u≤t} d_u / n_u`` plus Aalen's
    variance ``Σ d_u / n_u²`` (Nelson 1972 / Aalen 1978, public).
    Where the KM ``survival`` column is oracle-EXCLUDED (a windowed
    double PRODUCT associates engine-dependently), the hazard here is
    fully oracle-comparable: each per-duration term is ONE IEEE
    division then micro-quantized to an integer (``floor(term·10^s)``
    — the stattests moment idiom), so the cumulative is an EXACT
    BIGINT window sum and the final division by 10^s is one more IEEE
    step.  Quantization bias is < #durations·10⁻¹² — far below any
    statistical use — and the whole column is bit-identical across
    engines.

    Scale: one keyed count per (group, duration), then windows over
    the distinct-duration table only (same plan as km_risk_table);
    the exact-BIGINT cumsum stays under 2^53 while cumulative hazard
    < ~9000 (documented budget).

    Output: ``by...``, t, n_risk, n_event, n_censored, hazard_q /
    var_q (BIGINT, quantized terms), cum_hazard, cum_hazard_var
    (DOUBLE)."""
    by = list(by)
    g = [F.col(c) for c in by]
    t = F.col(duration_col).cast("bigint").alias("t")
    ev = F.col(event_col).cast("int")
    per = (
        df.filter(F.col(duration_col).isNotNull() & ev.isNotNull())
        .groupBy(*g, t)
        .agg(
            F.sum(ev).cast("bigint").alias("n_event"),
            F.sum(1 - ev).cast("bigint").alias("n_censored"),
        )
    )
    wcum = (
        Window.partitionBy(*by).orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    leaving = F.col("n_event") + F.col("n_censored")
    d = F.col("n_event").cast("double")
    n = F.col("n_risk").cast("double")
    up = float(10**scale)
    hq = F.floor(d / n * F.lit(up)).cast("bigint")
    vq = F.floor(d / (n * n) * F.lit(up)).cast("bigint")
    out = (
        per.withColumn("__total", F.sum(leaving).over(wtot))
        .withColumn("__gone", F.sum(leaving).over(wcum) - leaving)
        .withColumn(
            "n_risk", (F.col("__total") - F.col("__gone")).cast("bigint")
        )
        .withColumn("hazard_q", hq)
        .withColumn("var_q", vq)
        .withColumn(
            "cum_hazard",
            F.sum("hazard_q").over(wcum).cast("double") / F.lit(up),
        )
        .withColumn(
            "cum_hazard_var",
            F.sum("var_q").over(wcum).cast("double") / F.lit(up),
        )
    )
    return out.select(
        *by,
        "t",
        "n_risk",
        "n_event",
        "n_censored",
        "hazard_q",
        "var_q",
        "cum_hazard",
        "cum_hazard_var",
    )


def linear_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line — "is this segment
    growing, and how fast?": slope, intercept, and R² of ``y`` on
    ``x`` for every key, from the closed-form normal equations.

    Exactness contract: ``x`` must be integer-valued (a day index,
    epoch day — never raw epoch seconds, whose squares blow the
    budget) and ``y`` at most 2-dp numeric.  All five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT decimals
    (order-independent), each is cast to double once (exact while the
    sums stay under ~15-16 significant digits — at 100 TB pre-scale x
    to a coarser index), and the slope/intercept/R² arithmetic is a
    fixed IEEE sequence a SQL mirror reproduces bit-for-bit.

    Degenerate groups (all x equal, or all y equal for R²) emit NULL
    rather than an ANSI divide-by-zero.

    Scale: ONE map-side-combined aggregate pass — no window, no
    second scan, no per-group iteration.

    Output: key, n, slope, intercept, r2."""
    x = F.col(x_col).cast("decimal(19,0)")
    y = F.col(y_col).cast("decimal(18,2)")
    agg = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(x).cast("decimal(38,0)").alias("__sx"),
            F.sum(y).cast("decimal(38,2)").alias("__sy"),
            F.sum(x * y).cast("decimal(38,2)").alias("__sxy"),
            F.sum(x * x).cast("decimal(38,0)").alias("__sxx"),
            F.sum(y * y).cast("decimal(38,4)").alias("__syy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = F.when(den > 0, num / den)
    intercept = F.when(den > 0, (sy - (num / den) * sx) / n)
    r2 = F.when((den > 0) & (deny > 0), (num * num) / (den * deny))
    return agg.select(
        key_col,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def abc_classification(
    df: DataFrame,
    id_col: str,
    value_col: str,
    a_share: float = 0.8,
    b_share: float = 0.95,
) -> DataFrame:
    """Pareto / ABC inventory classification — "which 20% of items
    carry 80% of the value?": rank items by value descending, take
    the running share of total value, and label A (first ``a_share``
    of value), B (up to ``b_share``), C (rest).  The row containing a
    threshold goes to the better class (its PRIOR share was below the
    cut), so class A is the smallest prefix covering ``a_share``.

    Exactness: values and the running total stay DECIMAL end-to-end
    (``id_col`` tie-breaks equal values into a total order — without
    it, tied rows straddling a class cut would land nondeterministic
    classes); each share is one IEEE division and the class cut
    compares prior-share doubles both engines derive identically.

    Scale: one global rank, then a global cumulative sum over the
    unique rank (``core._prefix_scan`` both, two-phase past
    ``_SMALL_RANK_ROWS``); no data-sized single-task window.

    Output: id, value, rank, cum_value, cum_share, abc_class."""
    from bubbles_spark.ops.drift import _partitioned_cumsum

    if not 0.0 < a_share < b_share <= 1.0:
        raise ValueError(
            f"abc_classification: need 0 < a_share < b_share <= 1, "
            f"got {a_share}, {b_share}"
        )
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(value_col).cast("decimal(18,2)").alias("value"),
    )
    ranked = _with_global_row_number(
        base.withColumn("__nv", -F.col("value")), ["__nv", "id"]
    ).drop("__nv")
    cum, totals = _partitioned_cumsum(
        ranked.withColumnRenamed("__rn", "rank"), "rank", ["value"]
    )
    total = totals["value"]
    prior = (F.col("cum_value") - F.col("value")).cast("decimal(18,2)")
    prior_share = prior.cast("double") / F.lit(float(total)).cast("double")
    return cum.select(
        "id",
        "value",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("cum_value").cast("decimal(18,2)").alias("cum_value"),
        (
            F.col("cum_value").cast("decimal(18,2)").cast("double")
            / F.lit(float(total)).cast("double")
        ).alias("cum_share"),
        F.when(prior_share < a_share, "A")
        .when(prior_share < b_share, "B")
        .otherwise("C")
        .alias("abc_class"),
        # item-table-sized output, pinned: consumers never re-run the
        # rank and the scan
    ).localCheckpoint(eager=True)


def weighted_median(
    df: DataFrame,
    key_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Weighted median per group — the order statistic where half the
    WEIGHT sits on each side (price paid by the median dollar, the
    median latency by traffic share): smallest value whose inclusive
    cumulative weight reaches half the group total.

    Exactness: weights accumulate as exact DECIMALs and the crossing
    test is ``2·cumw ≥ total`` — a doubled-decimal comparison, so no
    division and no float anywhere.  Tied values need no tiebreak:
    whichever tie crosses the threshold, the emitted VALUE is the
    same.

    Scale: one hash shuffle on the key; the cumulative weight is a
    per-GROUP ordered window (partitioned — never global), then a
    map-side-combined min per key.  Skew caveat: one giant group
    sorts within its partition, same contract as ``sessionize``.

    Output: key, weighted_median, total_weight."""
    v = F.col(value_col)
    wt = F.col(weight_col).cast("decimal(18,2)")
    base = df.filter(v.isNotNull() & wt.isNotNull())
    wcum = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(key_col)
    tagged = base.select(
        F.col(key_col),
        v.alias("__v"),
        F.sum(wt).over(wcum).alias("__cw"),
        F.sum(wt).over(wtot).alias("__tw"),
    )
    return (
        tagged.filter(F.col("__cw") * 2 >= F.col("__tw"))
        .groupBy(key_col)
        .agg(
            F.min("__v").alias("weighted_median"),
            F.max(F.col("__tw")).cast("decimal(18,2)").alias("total_weight"),
        )
    )


def weighted_quantile(
    df: DataFrame,
    key_col: str,
    value_col: str,
    weight_col: str,
    q_num: int,
    q_den: int,
) -> DataFrame:
    """Weighted quantile per group at the RATIONAL level ``q =
    q_num/q_den`` — ``weighted_median``'s generalization (the p90
    price by traffic share, the p25 latency by request weight):
    smallest value whose inclusive cumulative weight reaches
    ``q·total``.

    Exactness: the crossing test is the CROSS-MULTIPLIED integer
    comparison ``cum_w·q_den ≥ q_num·total_w`` on exact DECIMAL
    weights — no division, no float threshold, so the boundary row is
    identical in every engine (the weighted_median ``2·cum ≥ tot``
    test is exactly the q=1/2 case).  Tied values emit the same
    quantile whichever tie crosses.

    Scale: one hash shuffle on the key; per-GROUP ordered cumulative
    window (partitioned — never global), then a map-side-combined min
    per key.  Same skew contract as weighted_median.

    Output: key, weighted_quantile, total_weight, q (double, the
    requested level for self-description)."""
    if not (isinstance(q_num, int) and isinstance(q_den, int)):
        raise TypeError("weighted_quantile: q_num/q_den must be ints")
    if not 0 < q_num <= q_den:
        raise ValueError(
            f"weighted_quantile: need 0 < q_num <= q_den, "
            f"got {q_num}/{q_den}"
        )
    v = F.col(value_col)
    wt = F.col(weight_col).cast("decimal(18,2)")
    base = df.filter(v.isNotNull() & wt.isNotNull())
    wcum = (
        Window.partitionBy(key_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(key_col)
    tagged = base.select(
        F.col(key_col),
        v.alias("__v"),
        F.sum(wt).over(wcum).alias("__cw"),
        F.sum(wt).over(wtot).alias("__tw"),
    )
    return (
        tagged.filter(
            F.col("__cw") * F.lit(q_den) >= F.col("__tw") * F.lit(q_num)
        )
        .groupBy(key_col)
        .agg(
            F.min("__v").alias("weighted_quantile"),
            F.max(F.col("__tw")).cast("decimal(18,2)").alias("total_weight"),
        )
        .withColumn("q", F.lit(float(q_num) / float(q_den)))
    )


def theil_sen(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust trend per group: the LOWER MEDIAN of all
    pairwise slopes ``(y_j − y_i)/(x_j − x_i)`` over points with
    distinct x, plus the matching lower-median intercept of the
    residuals ``y − slope·x`` — the estimator that shrugs off up to
    ~29% outliers where OLS (``linear_trend``) folds.

    Exactness: slopes and residuals are single IEEE subtract/divide
    steps on the input doubles; "median" is type-1 rank selection
    (``row_number``-th smallest at rank ``(m+1) div 2``) — it PICKS
    an existing double, never averages two, so ties in the sort order
    cannot change the selected value and both engines agree bitwise.

    Scale: pairs are generated by a per-group self-equi-join (key =
    group, filter x_i < x_j) — O(n_g²) pairs per group BY DEFINITION
    of the estimator, and the median window sorts each group's pairs
    in one task.  Intended for per-entity series of up to ~10k points
    per group (100M pairs); pre-aggregate (e.g. daily rollup) first,
    exactly as ``linear_trend`` documents.  The slope join-back is a
    groups-sized broadcast.

    Output: group, n_points, n_pairs (BIGINT), slope, intercept
    (DOUBLE; NULL when fewer than 2 distinct x)."""
    pts = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("grp"),
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
    )
    l, r = pts.alias("l"), pts.alias("r")
    pairs = (
        l.join(r, F.col("l.grp") == F.col("r.grp"))
        .filter(F.col("l.__x") < F.col("r.__x"))
        .select(
            F.col("l.grp").alias("grp"),
            (
                (F.col("r.__y") - F.col("l.__y"))
                / (F.col("r.__x") - F.col("l.__x"))
            ).alias("__slope"),
        )
    )
    ws = Window.partitionBy("grp").orderBy("__slope")
    wc = Window.partitionBy("grp")
    # lower median = floor((m+1)/2)-th smallest (type-1 selection)
    med_slope = (
        pairs.select(
            "grp",
            "__slope",
            F.row_number().over(ws).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("__m"),
        )
        .filter(F.col("__rn") == F.floor((F.col("__m") + 1) / 2))
        .select("grp", F.col("__slope").alias("slope"), F.col("__m").alias("n_pairs"))
    )
    resid = pts.join(F.broadcast(med_slope), "grp").select(
        "grp",
        "slope",
        "n_pairs",
        (F.col("__y") - F.col("slope") * F.col("__x")).alias("__r"),
    )
    wr = Window.partitionBy("grp").orderBy("__r")
    med_int = (
        resid.select(
            "grp",
            "slope",
            "n_pairs",
            "__r",
            F.row_number().over(wr).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("__np"),
        )
        .filter(F.col("__rn") == F.floor((F.col("__np") + 1) / 2))
        .select(
            "grp",
            F.col("__np").cast("bigint").alias("n_points"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            "slope",
            F.col("__r").alias("intercept"),
        )
    )
    counts = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )
    return (
        counts.join(
            med_int.drop("n_points"), "grp", "left"
        )
        .select(
            F.col("grp").alias(group_col),
            "n_points",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            "slope",
            "intercept",
        )
        .orderBy(group_col)
    )


def mix_shift_report(
    df: DataFrame,
    key_col: str,
    num_col: str,
    den_col,
    period_col: str,
    prev_period,
    cur_period,
) -> DataFrame:
    """Mix/rate decomposition of a ratio KPI between two periods —
    the "WHY did the metric move?" report (price-volume-mix,
    conversion-rate bridges): with the KPI ``R = Σnum / Σden`` and
    per-segment rate ``r_i = num_i/den_i``, weight ``w_i =
    den_i/Σden``, each segment's contribution to ``ΔR`` splits into

        mix_effect_i  = (w_cur,i − w_prev,i) · (r_prev,i − R_prev)
        rate_effect_i = w_cur,i · (r_cur,i − r_prev,i)

    and ``Σ(mix + rate) = R_cur − R_prev`` EXACTLY in real
    arithmetic (pytest pins the identity to 1e-9 in floats) — mix
    answers "did traffic shift toward better/worse segments?", rate
    answers "did segments themselves improve?".

    Segments absent from one period carry zero weight there and take
    that period's overall rate as their rate (any value works where
    w = 0 — this choice keeps the identity AND attributes a new
    segment's whole effect to its own rate vs the old baseline).
    ``den_col`` may be a column name or ``1`` to count rows.

    Exactness: numerators sum in exact DECIMAL(20,6), denominators
    in BIGINT/decimal; every rate/weight/effect is a fixed IEEE
    sequence on those exact operands — engine-portable.  Scale: one
    keyed aggregate per period over ONE pass of the input (period
    tagged), a segments-sized full-outer join, 1-row broadcast
    totals.

    Output: key, num_prev, den_prev, num_cur, den_cur, r_prev,
    r_cur, w_prev, w_cur, mix_effect, rate_effect, total_effect."""
    num = F.col(num_col).cast("decimal(20,6)")
    den = F.lit(1) if den_col == 1 else F.col(den_col)
    per = F.col(period_col)
    base = df.filter(per.isin([prev_period, cur_period]))
    agg = base.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.when(per == prev_period, num)).alias("__np"),
        F.sum(F.when(per == prev_period, den)).alias("__dp"),
        F.sum(F.when(per == cur_period, num)).alias("__nc"),
        F.sum(F.when(per == cur_period, den)).alias("__dc"),
    )
    tot = agg.agg(
        F.sum("__np").alias("__tnp"),
        F.sum("__dp").alias("__tdp"),
        F.sum("__nc").alias("__tnc"),
        F.sum("__dc").alias("__tdc"),
    )
    j = agg.crossJoin(F.broadcast(tot))
    rp_all = F.col("__tnp").cast("double") / F.col("__tdp").cast("double")
    rc_all = F.col("__tnc").cast("double") / F.col("__tdc").cast("double")
    np_, dp = F.col("__np").cast("double"), F.col("__dp").cast("double")
    nc, dc = F.col("__nc").cast("double"), F.col("__dc").cast("double")
    has_p = F.col("__dp").isNotNull() & (dp > 0)
    has_c = F.col("__dc").isNotNull() & (dc > 0)
    r_prev = F.when(has_p, np_ / dp).otherwise(rp_all)
    r_cur = F.when(has_c, nc / dc).otherwise(rc_all)
    w_prev = F.when(has_p, dp / F.col("__tdp").cast("double")).otherwise(
        F.lit(0.0)
    )
    w_cur = F.when(has_c, dc / F.col("__tdc").cast("double")).otherwise(
        F.lit(0.0)
    )
    mix = (w_cur - w_prev) * (r_prev - rp_all)
    rate = w_cur * (r_cur - r_prev)
    return j.select(
        "key",
        F.col("__np").cast("double").alias("num_prev"),
        F.col("__dp").cast("bigint").alias("den_prev"),
        F.col("__nc").cast("double").alias("num_cur"),
        F.col("__dc").cast("bigint").alias("den_cur"),
        r_prev.alias("r_prev"),
        r_cur.alias("r_cur"),
        w_prev.alias("w_prev"),
        w_cur.alias("w_cur"),
        mix.alias("mix_effect"),
        rate.alias("rate_effect"),
        (mix + rate).alias("total_effect"),
    )


def gini_by(
    df: DataFrame,
    group_col: str,
    col: str,
    cents: int = 100,
) -> DataFrame:
    """Exact Gini coefficient of ``col`` per group — the inequality
    scalar behind "how concentrated is revenue per segment?"
    (``lorenz_curve`` draws the global curve; this is its per-group
    summary number).  Non-negative values assumed (the standard Gini
    domain).

    With ascending ranks i and W = Σ i·vᵢ, ``G = 2W/(n·S) −
    (n+1)/n`` — and W is TIE-INVARIANT (tied values share v), so it
    computes exactly from per-(group, value) counts and cumulative
    counts: each distinct value's rank-block sum is
    ``v·c·(2·cum − c + 1)/2``.  Values scale to integer ``cents``
    units (exact for 2-dp money at the default) and every sum
    accumulates in DECIMAL; G is then a fixed IEEE sequence.  The
    DECIMAL widths bound the ORACLE-comparable domain at roughly
    v·cents ≤ 1e12, rows/group ≤ 1e10, 2W ≤ 2^53 (beyond that the
    Spark result is still correctly rounded — only bit-parity with
    engines whose int128→double cast is sloppy degrades).

    Scale: ``_grouped_cum_counts`` (no per-group sort, giant group
    collapses to distinct values) + one keyed aggregate.  Output:
    group_col, n_rows, gini."""
    from bubbles_spark.ops.drift import _grouped_cum_counts

    cum = _grouped_cum_counts(df, group_col, col)
    vu = (
        F.round(F.col(col).cast("double") * F.lit(float(cents)), 0)
        .cast("decimal(12,0)")
    )
    c = F.col("__c").cast("decimal(10,0)")
    blk = (F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1)).cast(
        "decimal(14,0)"
    )
    agg = cum.groupBy(group_col).agg(
        F.max("__n").cast("bigint").alias("n_rows"),
        F.sum(vu * c).alias("__s"),
        F.sum(vu * c * blk).alias("__w2"),  # = 2W
    )
    n = F.col("n_rows").cast("double")
    s = F.col("__s").cast("double")
    w2 = F.col("__w2").cast("double")
    gini = F.when(
        (F.col("n_rows") > 0) & (s > 0),
        w2 / (n * s) - (n + F.lit(1.0)) / n,
    )
    return agg.select(group_col, "n_rows", gini.alias("gini"))


def pareto_front(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str | None = None,
    directions: Sequence[str] = ("max", "max"),
) -> DataFrame:
    """2-objective Pareto front (skyline) per group: keep every row
    no other row in its group dominates — ``s`` dominates ``r`` when
    ``s`` is at least as good on both objectives and strictly better
    on one (the classic skyline-operator definition, Börzsönyi et
    al. 2001, public).  The "best trade-offs" primitive: cheapest-
    vs-freshest supplier, biggest-vs-earliest order, quality-vs-cost
    config sweeps.  Ties on BOTH objectives are mutually
    non-dominating and all kept; rows with a NULL objective are
    dropped (no order against NULL).

    Exactness: NO arithmetic at all — only native-type comparisons
    and per-key max/min aggregates, so any engine reproduces the
    front bit-for-bit.

    Scale shape: aggregate to one row per (group, x) with the best y
    (a giant group collapses to its distinct x values, map-side
    combined), take the running best over strictly-better x with an
    unbounded-preceding ROWS frame on that aggregate (safe because
    the aggregate has ONE row per x), broadcast-join the per-x
    verdicts back.  Dominance test: dominated ⇔ best-y-over-better-x
    beats-or-ties y, OR best-y-at-equal-x strictly beats y.

    Output: the input rows of the front, original columns."""
    for d in directions:
        if d not in ("max", "min"):
            raise ValueError(f"directions must be max/min, got {d!r}")
    if len(directions) != 2:
        raise ValueError("directions must have exactly two entries")
    x_max, y_max = directions[0] == "max", directions[1] == "max"
    x, y = F.col(x_col), F.col(y_col)
    base = df.filter(x.isNotNull() & y.isNotNull())
    gcols = [group_col] if group_col else []
    if group_col:
        # a NULL group has no dominance order against anything — drop
        # explicitly (the equi joins below would drop it silently)
        base = base.filter(F.col(group_col).isNotNull())
    best_y = (F.max(y) if y_max else F.min(y)).alias("__gy")
    per_x = base.groupBy(*gcols, x_col).agg(best_y)
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(x_col).desc() if x_max else F.col(x_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_best = (F.max("__gy") if y_max else F.min("__gy")).over(w)
    verdicts = per_x.withColumn("__mgt", run_best)
    # the best-x row's frame is empty → __mgt NULL → the comparison
    # would be NULL and ~NULL drops the row; an empty better-x set
    # means "not dominated from above", i.e. false
    if y_max:
        beaten = F.coalesce(F.col("__mgt") >= y, F.lit(False))
        dominated = beaten | (F.col("__gy") > y)
    else:
        beaten = F.coalesce(F.col("__mgt") <= y, F.lit(False))
        dominated = beaten | (F.col("__gy") < y)
    # no broadcast hint: the per-x verdict table is distinct-x-sized
    # (data-sized for continuous x) — a plain equi join lets AQE pick
    # broadcast only when the aggregate actually collapsed
    return (
        base.join(verdicts, gcols + [x_col])
        .filter(~dominated)
        .drop("__gy", "__mgt")
    )


def concentration_report(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value_col: str,
    top_k: int = 4,
    value_decimal: str = "decimal(18,2)",
    cents: int = 100,
) -> DataFrame:
    """Market-concentration report per group: the Herfindahl–
    Hirschman index (``HHI = Σ share_i²`` over entities, 0..1) and
    the CR-k concentration ratio (top-k entities' value share) — the
    antitrust/portfolio-risk staple and ``gini_by``'s decision-ready
    sibling ("how few entities own this segment?").

    Exactness: entity totals are exact DECIMAL sums scaled to integer
    ``cents``; HHI is a ratio of two EXACT integers — Σ(cents_i)² in
    DECIMAL(38,0) over T² — each side cast to double once (integer-
    decimal→double is the correctly-rounded int conversion, identical
    cross-engine even past 2^53; the kruskal_wallis precedent), then
    ONE division.  CR-k selects the top k entities under the TOTAL
    (value DESC, entity) order — deterministic under ties — and
    shares are one division each.  Groups with zero total yield NULL
    ratios.

    Scale: one keyed aggregate to entity totals (map-side combined),
    then everything is entity-table-sized; the top-k window
    partitions by group.  Output: group_col, n_entities, total,
    hhi, cr_k, top_k."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    # the "exact integer cents" claim requires the scaling factor to
    # clear value_decimal's full scale: with e.g. decimal(18,4) and
    # the default cents=100, sum*100 keeps 2 fractional digits and
    # the decimal(38,0) cast would silently round them away
    m = re.search(r"decimal\s*\(\s*\d+\s*,\s*(\d+)\s*\)", value_decimal, re.I)
    scale = int(m.group(1)) if m else 0
    if cents < 10**scale or cents % 10**scale != 0:
        raise ValueError(
            f"concentration_report: cents={cents} cannot represent "
            f"{value_decimal} exactly — pass cents as a multiple of "
            f"10**scale (>= {10 ** scale})"
        )
    c = F.lit(cents)
    ent = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(entity_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(group_col, entity_col)
        .agg(
            (F.sum(F.col(value_col).cast(value_decimal)) * c)
            .cast("decimal(38,0)")
            .alias("__vc")
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__vc").desc(), F.col(entity_col).asc()
    )
    ranked = ent.withColumn("__rn", F.row_number().over(w))
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum("__vc").alias("__t"),
        F.sum(F.col("__vc") * F.col("__vc")).alias("__sq"),
        F.sum(F.when(F.col("__rn") <= top_k, F.col("__vc")).otherwise(0))
        .alias("__topv"),
    )
    td = F.col("__t").cast("double")
    pos = F.col("__t") > 0
    return agg.select(
        group_col,
        "n_entities",
        (td / c.cast("double")).alias("total"),
        F.when(pos, F.col("__sq").cast("double") / (td * td)).alias("hhi"),
        F.when(pos, F.col("__topv").cast("double") / td).alias("cr_k"),
        F.lit(top_k).cast("int").alias("top_k"),
    )


def capture_recapture(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
) -> DataFrame:
    """Capture-recapture population estimate — "how many unique items
    exist in total, given two overlapping samples of them?" (Chapman
    1951 / Lincoln-Petersen, public; ecology's mark-recapture applied
    to crawls: two independent crawl snapshots' doc-id overlap
    estimates the reachable corpus size, the coverage denominator a
    dedup pipeline reports against).  With ``n1``/``n2`` the distinct
    ids in each sample and ``m`` their overlap:
    ``chapman = (n1+1)(n2+1)/(m+1) − 1`` (finite even with zero
    overlap) and the classical ``lincoln_petersen = n1·n2/m`` (NULL
    when the samples are disjoint).

    Estimator contract: unbiasedness needs the two samples to be
    INDEPENDENT draws — deterministic correlated samples (e.g. two
    modulo filters) still compute, but the number is then a
    consistency probe, not an unbiased estimate.

    Exactness: the three counts are exact distinct aggregates; each
    product is DECIMAL(38,0) (two ~2^31 samples overflow BIGINT);
    each estimate is ONE division of exact operands (+ one subtract
    for Chapman).

    Scale: two distinct-aggregates + one id equi-join (all hash,
    map-side combined); three 1-row tables cross-join at the end.

    Output (one row): n_a, n_b, n_overlap, chapman, lincoln_petersen."""
    da = a.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id")
    ).distinct()
    db = b.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id")
    ).distinct()
    n1 = da.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    n2 = db.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    m = (
        da.join(db, "__id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    j = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    chapman = (
        (d(F.col("n_a") + 1) * d(F.col("n_b") + 1)).cast("double")
        / (F.col("n_overlap") + 1).cast("double")
        - F.lit(1.0)
    )
    lp = F.when(
        F.col("n_overlap") > 0,
        (d(F.col("n_a")) * d(F.col("n_b"))).cast("double")
        / F.col("n_overlap").cast("double"),
    )
    return j.select(
        "n_a", "n_b", "n_overlap",
        chapman.alias("chapman"),
        lp.alias("lincoln_petersen"),
    )


def diversity_report(
    df: DataFrame,
    category_col: str,
    by: str | None = None,
) -> DataFrame:
    """Diversity / label-balance report per group — "how concentrated
    is this corpus slice on a few categories?" (Simpson 1949 /
    Shannon 1948 / Berger-Parker, public): the balance gate a
    training-data mixture needs before sampling (a source whose
    language mix collapsed to one dominant label is a crawl bug, not
    a mixture input).

    Per group: category count k, row count n, Simpson's concentration
    ``λ = Σ c_i(c_i−1) / (n(n−1))`` (the probability two draws
    WITHOUT replacement share a category — 1 = monoculture),
    Gini-Simpson diversity ``1 − λ``, the Berger-Parker dominance
    ``max c_i / n``, and Shannon entropy ``−Σ p_i ln p_i``.

    Exactness: counts are exact integers; Simpson's numerator sums in
    DECIMAL(38,0) (order-free), so λ, 1−λ, and dominance are one
    division each on exact operands — bit-exact cross-engine.
    ``shannon`` is the exception: a float sum of ln terms whose
    order the engine picks — engine-consistent but NOT cross-engine
    bit-exact (the psi_bin ln policy); oracle comparisons should drop
    it and pin it in tests.  Groups with n ≤ 1 emit NULL λ/1−λ.

    Scale: one (group, category) keyed count (map-side combined), a
    groups-sized rollup, and a groups-sized broadcast join back for
    the entropy terms — nothing data-sized past the first shuffle.

    Output: [by], n_rows, k_categories, simpson, gini_simpson,
    berger_parker, shannon."""
    gcols = [by] if by else []
    base = df.filter(F.col(category_col).isNotNull())
    if by:
        base = base.filter(F.col(by).isNotNull())
    counts = base.groupBy(*gcols, category_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = counts.groupBy(*gcols).agg(
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("k_categories"),
        F.max("__c").cast("bigint").alias("__maxc"),
        F.sum(d(F.col("__c")) * (F.col("__c") - 1)).alias("__s2"),
    )
    tot = g.select(*gcols, "n_rows") if by else g.select("n_rows")
    if by:
        terms = counts.join(F.broadcast(tot), by)
    else:
        terms = counts.crossJoin(F.broadcast(tot))
    p = F.col("__c").cast("double") / F.col("n_rows").cast("double")
    sh = terms.groupBy(*gcols).agg(
        (-F.sum(p * F.log(p))).alias("shannon")
    )
    j = g.join(F.broadcast(sh), by) if by else g.crossJoin(F.broadcast(sh))
    nd = F.col("n_rows").cast("double")
    simpson = F.when(
        F.col("n_rows") > 1,
        F.col("__s2").cast("double") / (nd * (nd - F.lit(1.0))),
    )
    return j.select(
        *gcols,
        "n_rows",
        "k_categories",
        simpson.alias("simpson"),
        (F.lit(1.0) - simpson).alias("gini_simpson"),
        (F.col("__maxc").cast("double") / nd).alias("berger_parker"),
        "shannon",
    )


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Log-rank (Mantel–Cox) test — "do the two arms' survival curves
    differ?" (Mantel 1966, public): the inferential companion to
    ``km_risk_table``/``nelson_aalen``.  At every pooled event time
    the observed deaths in arm A are compared to the hypergeometric
    expectation given the pooled deaths and the at-risk split;
    ``z = (O_A − E_A)/√V`` and ``chi2 = z²``.

    Exactly TWO groups (raises otherwise — the k-arm version needs
    the full covariance matrix; run pairwise with ``fdr_correct``
    for multiplicity).  Arm A is the lexicographically smaller group.

    At-risk counts at POOLED times (each arm must be evaluated at the
    other arm's event times too) come from a zero-filled
    (distinct pooled durations × 2 arms) grid cumulated by the shared
    two-phase machinery (``drift._cum_counts_prebuilt`` — no single-task
    sort at any distinct-duration count):
    ``n_at_risk = n_arm − cum_leaving + leaving_here``.

    Exactness: every count is an exact integer; the per-time
    expectation ``D·n_A/N`` and variance
    ``D·(n_A/N)·(1−n_A/N)·(N−D)/(N−1)`` are fixed IEEE sequences on
    exact operands, micro-quantized to integer DECIMALs before the
    cross-time sums (the ``kruskal_wallis`` budget); O_A is an exact
    BIGINT.  Zero total variance (no deaths, or one arm always alone
    at risk) yields NULL z/chi2.

    Output (one row): group_a (string), n_total, o_a (bigint),
    e_a, v_a, z, chi2 (double)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    ev = F.col(event_col).cast("int")
    base = df.filter(
        F.col(duration_col).isNotNull()
        & ev.isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__grp"),
        F.col(duration_col).cast("bigint").alias("__t"),
        ev.alias("__e"),
    )
    groups = [
        r["__grp"]
        for r in base.select("__grp").distinct().orderBy("__grp").collect()
    ]
    if len(groups) != 2:
        raise ValueError(
            f"log_rank_test: exactly 2 groups required, got {len(groups)}"
        )
    g_a = groups[0]
    per = base.groupBy("__grp", "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__leave"),
        F.sum("__e").cast("bigint").alias("__d"),
    )
    times = per.select("__t").distinct()
    arms = per.select("__grp").distinct()
    grid = (
        times.crossJoin(F.broadcast(arms))
        .join(per, ["__grp", "__t"], "left")
        .select(
            "__grp",
            "__t",
            F.coalesce("__leave", F.lit(0)).alias("__c"),
            F.coalesce("__d", F.lit(0)).alias("__dd"),
        )
    )
    cum = _cum_counts_prebuilt(grid, "__grp", "__t")
    risk = cum.select(
        "__grp",
        "__t",
        "__dd",
        (F.col("__n") - F.col("__cum") + F.col("__c")).alias("__nr"),
    )
    is_a = (F.col("__grp") == F.lit(g_a)).cast("bigint")
    per_time = risk.groupBy("__t").agg(
        F.sum(F.col("__nr") * is_a).cast("bigint").alias("__na"),
        F.sum(F.col("__dd") * is_a).cast("bigint").alias("__da"),
        F.sum("__nr").cast("bigint").alias("__nt"),
        F.sum("__dd").cast("bigint").alias("__dt"),
    )
    na = F.col("__na").cast("double")
    nt = F.col("__nt").cast("double")
    dt = F.col("__dt").cast("double")
    e_term = dt * na / nt
    v_term = F.when(
        F.col("__nt") > 1,
        dt
        * (na / nt)
        * (F.lit(1.0) - na / nt)
        * (nt - dt)
        / (nt - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    q = lambda c: F.round(c * F.lit(1e6), 0).cast("decimal(38,0)")  # noqa: E731
    agg = per_time.agg(
        F.sum("__da").cast("bigint").alias("o_a"),
        F.sum(q(e_term)).alias("__eq"),
        F.sum(q(v_term)).alias("__vq"),
        F.max("__nt").cast("bigint").alias("n_total"),
    )
    e_a = F.col("__eq").cast("double") / F.lit(1e6)
    v_a = F.col("__vq").cast("double") / F.lit(1e6)
    z = (F.col("o_a").cast("double") - e_a) / F.sqrt(v_a)
    return agg.select(
        F.lit(g_a).alias("group_a"),
        "n_total",
        "o_a",
        e_a.alias("e_a"),
        v_a.alias("v_a"),
        F.when(v_a > 0, z).alias("z"),
        F.when(v_a > 0, z * z).alias("chi2"),
    )
