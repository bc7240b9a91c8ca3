"""Distribution drift & robust statistics.

A training-data pipeline re-ingests sources continuously; the first
question after every refresh is "did the distribution move?".  This
module gives the standard monitoring kit — PSI, two-sample KS,
winsorization, MAD outlier flags — as exact, engine-portable
DataFrame ops (no sampling, no approximation), built on the repo's
scale-safe rank machinery instead of single-task global windows.

Reference scope: Stiivi/bubbles ships ``basic_audit``-style probes
only (SURVEY.md §2.6 A3); everything here is extension surface in the
same spirit — declarative, oracle-checkable, shuffle-bounded.

Exactness contract (see tools/verify_local.py --strict): quantiles
are type-1 (no interpolation — the value at rank ceil(q·n), so zero
float arithmetic between engines), counts are integers, shares are
one IEEE division, and every threshold comparison happens on
bit-identical doubles.
"""

from __future__ import annotations

import math
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bubbles_spark.ops.core import _prefix_scan, _with_global_row_number

__all__ = [
    "exact_quantiles",
    "winsorize",
    "mad_outliers",
    "psi_report",
    "ks_distance",
    "auc_score",
    "calibration_report",
    "isotonic_calibration",
    "brier_decomposition",
    "hosmer_lemeshow",
    "quantile_normalize",
    "winsorize_by",
    "psi_report_categorical",
    "woe_iv",
    "target_encode",
    "chi_square_report",
    "gains_table",
    "ab_test_report",
    "cuped_report",
    "group_quantiles",
    "robust_scale",
    "rate_confidence",
    "qq_table",
    "minmax_scale",
    "cramers_v",
    "classification_report",
    "trimmed_mean",
    "retrieval_metrics",
    "uplift_curve",
    "conformal_interval",
    "conformal_interval_by",
    "divergence_report",
]


def _partitioned_cumsum(df: DataFrame, order_col: str, sum_cols: list[str]):
    """Cumulative sums of ``sum_cols`` under the global ``order_col``
    order, scale-safely (``core._prefix_scan``; a bare
    ``Window.orderBy`` here would funnel every row through one task).
    ``df`` must be distinct-keyed on ``order_col``: the running sums
    are then exact on either path of the scan.

    Returns ``(cum_df, totals)``: the input rows plus ``cum_<col>``
    columns (inclusive of the current row) and the grand total per
    summed column, collected with the row count that sizes the
    scan."""
    tot = df.agg(
        F.count(F.lit(1)).alias("__n"), *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()[0]
    cum = _prefix_scan(df, [order_col], sum_cols, n_hint=tot["__n"])
    return cum.drop(*[f"tot_{c}" for c in sum_cols]), {
        c: tot[c] or 0 for c in sum_cols
    }


def exact_quantiles(df: DataFrame, col: str, qs: list[float]) -> list[float]:
    """EXACT type-1 quantiles of ``col``: for each q, the value at
    global rank ``ceil(q·n)`` (1-based, ascending, nulls dropped) —
    the definition with no interpolation step, so two engines that
    agree on the data agree on the quantile to the last bit.

    One distributed ranking pass for ALL requested quantiles
    (``_with_global_row_number`` — no single-task global sort on
    data-sized input), then a rank-membership
    filter collects exactly ``len(qs)`` rows to the driver.
    """
    vals = df.select(F.col(col).alias("__v")).filter(F.col("__v").isNotNull())
    n = vals.count()
    if n == 0:
        raise ValueError(f"exact_quantiles: no non-null values in {col!r}")
    ranks = [min(max(math.ceil(q * n), 1), n) for q in qs]
    ranked = _with_global_row_number(vals, ["__v"], n_hint=n)
    hit = {
        r["__rn"]: r["__v"]
        for r in ranked.filter(F.col("__rn").isin(list(set(ranks)))).collect()
    }
    return [hit[r] for r in ranks]


def suggest_bounds(
    df: DataFrame,
    col: str,
    coverage: float = 0.99,
    rel_err: float = 0.001,
) -> tuple[float, float]:
    """Suggest a fixed (lo, hi) domain for ``psi_report`` /
    ``histogram_batch`` / ``histogram_stream`` from the data: probe
    the [(1−coverage)/2, 1−(1−coverage)/2] quantiles with the GK
    sketch (``approxQuantile`` — one pass, two scalars to the driver)
    and round OUTWARD to a decade-step grid, so the returned bounds
    are stable against small data movement and read well on a chart.

    ``psi_report`` deliberately requires caller-supplied bounds (a
    reproducible report needs a pinned domain — re-deriving it from
    each batch would make drift scores incomparable); this helper is
    the one-call way to mint that pinned domain from the REFERENCE
    slice:

        lo, hi = drift.suggest_bounds(ref, "score")
        drift.psi_report(ref, cur, "score", lo=lo, hi=hi, bins=20)

    Values outside the suggested bounds (≤ 1−coverage of the
    reference, anything in later batches) clamp to the edge bins —
    exactly the drift signal a tail excursion should produce."""
    if not 0.0 < coverage <= 1.0:
        raise ValueError(f"coverage must be in (0, 1], got {coverage}")
    tail = (1.0 - coverage) / 2.0
    got = df.stat.approxQuantile(col, [tail, 1.0 - tail], rel_err)
    if not got:
        raise ValueError(f"suggest_bounds: no non-null values in {col!r}")
    lo, hi = float(got[0]), float(got[1])
    if hi <= lo:
        return (lo, lo + 1.0)
    step = 10.0 ** math.floor(math.log10(hi - lo))
    glo = math.floor(lo / step) * step
    ghi = math.ceil(hi / step) * step
    if ghi <= glo:
        ghi = glo + step
    return (glo, ghi)


def winsorize(
    df: DataFrame,
    col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Clamp ``col`` into its [lo_q, hi_q] exact-quantile envelope —
    the standard tail-taming transform before training on heavy-tailed
    features.  Cost: one ranking pass (two driver scalars), then a
    map-only LEAST/GREATEST clamp; surviving values are either the
    original doubles or the quantile doubles, so no new float
    arithmetic is introduced."""
    lo, hi = exact_quantiles(df, col, [lo_q, hi_q])
    c = F.col(col)
    clamped = F.least(F.greatest(c, F.lit(lo)), F.lit(hi))
    return df.withColumn(out_col or col, clamped)


def mad_outliers(
    df: DataFrame,
    col: str,
    k: float = 3.0,
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Flag rows whose ``|value − median| > k · MAD`` — the robust
    (breakdown-point ½) outlier rule that a couple of corrupt rows
    cannot drag around, unlike mean/stddev z-scores
    (``reshape.zscore_normalize``).

    Median and MAD are exact type-1 quantiles (two ranking passes —
    the deviation median needs the value median first); the flag is a
    map-only comparison on bit-identical doubles.  Zero MAD (>50% of
    values identical) flags every value differing from the median."""
    (med,) = exact_quantiles(df, col, [0.5])
    dev = df.select(
        (F.abs(F.col(col) - F.lit(med))).alias("__dev")
    )
    (mad,) = exact_quantiles(dev, "__dev", [0.5])
    c = F.col(col)
    return df.withColumn(
        flag_col, F.abs(c - F.lit(med)) > F.lit(k) * F.lit(mad)
    )


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index report between a reference and a
    current sample of ``col``: one row per bin with counts, shares,
    and the bin's PSI contribution ``(p_ref − p_cur)·ln(p_ref/p_cur)``
    (NULL where either side's bin is empty — sum the column for total
    PSI over populated bins; the usual drift rules of thumb: <0.1
    stable, 0.1–0.25 drifting, >0.25 shifted).

    Bins are FIXED-WIDTH over caller-supplied ``[lo, hi)`` (out-of-
    range values clamp into the edge bins, nulls drop) — fixed bounds
    rather than data-derived ones make the report reproducible across
    refreshes and engines: the bin expression is one floor-divide on
    literals, map-only on both inputs.  Plan: two single-shuffle
    keyed counts joined onto a ``bins``-row spine — no data join."""
    if bins < 1 or not hi > lo:
        raise ValueError("psi_report: need bins >= 1 and hi > lo")
    step = (hi - lo) / bins
    spark = ref.sparkSession

    def _binned(df: DataFrame, name: str) -> DataFrame:
        c = F.col(col)
        b = F.least(
            F.greatest(
                F.floor((c - F.lit(lo)) / F.lit(step)), F.lit(0)
            ),
            F.lit(bins - 1),
        )
        return (
            df.filter(c.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    spine = spark.range(bins).select(F.col("id").alias("bin"))
    joined = (
        spine.join(_binned(ref, "count_ref"), "bin", "left")
        .join(_binned(cur, "count_cur"), "bin", "left")
        .fillna(0, ["count_ref", "count_cur"])
    )
    # totals as a 1-row broadcast (metadata-sized crossJoin)
    totals = joined.agg(
        F.sum("count_ref").alias("__nr"), F.sum("count_cur").alias("__nc")
    )
    pr = F.col("count_ref").cast("double") / F.col("__nr").cast("double")
    pc = F.col("count_cur").cast("double") / F.col("__nc").cast("double")
    psi = F.when(
        (F.col("count_ref") > 0) & (F.col("count_cur") > 0),
        (pr - pc) * F.log(pr / pc),
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "count_ref",
            "count_cur",
            pr.alias("share_ref"),
            pc.alias("share_cur"),
            psi.alias("psi_bin"),
        )
        .orderBy("bin")
    )


def ks_distance(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance: ``max |F_ref(v) −
    F_cur(v)|`` over the pooled sample points — the
    binning-free drift test that ``psi_report``'s fixed grid can
    miss (a pure within-bin shift has PSI 0 but non-zero KS).
    Returns one row: (ks, n_ref, n_cur).

    Exact, not approximated, and scale-safe: pool both sides with a
    0/1 tag (map-only), ONE keyed count per distinct value, then the
    global cumulative sum (``_partitioned_cumsum``: one ordered window
    when the distinct values are few, else the value-bucketed
    two-phase scan — never a single-task window over data-sized
    input).  The ECDF ratios are one IEEE division per side and the
    max over exact doubles is order-independent, so the statistic is
    bit-identical across engines."""
    pooled = ref.select(
        F.col(col).alias("v"), F.lit(1).alias("a"), F.lit(0).alias("b")
    ).unionAll(
        cur.select(F.col(col).alias("v"), F.lit(0).alias("a"), F.lit(1).alias("b"))
    ).filter(F.col("v").isNotNull())
    per_v = pooled.groupBy("v").agg(
        F.sum("a").alias("ca"), F.sum("b").alias("cb")
    )
    spark = ref.sparkSession
    cum, totals = _partitioned_cumsum(per_v, "v", ["ca", "cb"])
    n_ref, n_cur = totals["ca"], totals["cb"]
    if n_ref == 0 or n_cur == 0:
        raise ValueError("ks_distance: a side has no non-null values")
    out = cum.agg(
        F.max(
            F.abs(
                F.col("cum_ca").cast("double") / F.lit(float(n_ref))
                - F.col("cum_cb").cast("double") / F.lit(float(n_cur))
            )
        ).alias("ks")
    ).select(
        "ks",
        F.lit(n_ref).cast("bigint").alias("n_ref"),
        F.lit(n_cur).cast("bigint").alias("n_cur"),
    )
    # the 1-row result as a local table: consumers never re-run the scan
    rows = out.collect()
    from bubbles_spark.ops.core import local_table

    return local_table(spark, rows, out.schema)


def auc_score(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """EXACT ROC AUC of ``score_col`` ranking the binary
    ``label_col`` (0/1) — the Mann–Whitney rank-sum identity with
    midrank tie handling, no trapezoid sweep and no sampling.
    Returns one row: (auc, n_pos, n_neg).

    The whole statistic stays in INTEGER space until one final
    division: per distinct score, (count, positives) aggregate in one
    shuffle; a cumulative count (``_partitioned_cumsum``) gives each
    tie group's rank offset; then

        S   = Σ pos · (2·cum_before + cnt + 1)      (= 2·rank-sum)
        AUC = (S − n_pos·(n_pos+1)) / (2·n_pos·n_neg)

    Every term is a BIGINT (exact into the billions of rows — far
    past where a double rank-sum loses ulps), so two engines agree to
    the last bit after the single IEEE division.  Scale shape: one
    keyed count + the two-phase cumsum; never a global sort task."""
    per_s = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("s"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col(label_col).cast("bigint")).alias("pos"),
        )
    )
    spark = df.sparkSession
    cum, totals = _partitioned_cumsum(per_s, "s", ["cnt", "pos"])
    n = totals["cnt"]
    n_pos = totals["pos"]
    n_neg = n - n_pos
    if n_pos == 0 or n_neg == 0:
        raise ValueError("auc_score: need both classes present")
    before = F.col("cum_cnt") - F.col("cnt")
    s_terms = cum.agg(
        F.sum(
            F.col("pos") * (F.lit(2) * before + F.col("cnt") + F.lit(1))
        ).alias("S")
    )
    # n_pos·(n_pos+1) precomputed in PYTHON int space: two int32
    # literals multiplied engine-side overflow under ANSI folding
    # once n_pos passes ~46k (hit in the k=4 scale smoke)
    out = s_terms.select(
        (
            (F.col("S") - F.lit(n_pos * (n_pos + 1)).cast("bigint"))
            .cast("double")
            / F.lit(float(2 * n_pos * n_neg))
        ).alias("auc"),
        F.lit(n_pos).cast("bigint").alias("n_pos"),
        F.lit(n_neg).cast("bigint").alias("n_neg"),
    )
    rows = out.collect()
    from bubbles_spark.ops.core import local_table

    return local_table(spark, rows, out.schema)


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's κ inter-annotator agreement between two label columns
    — the label-quality gate for human- or model-annotated training
    data (chance-corrected, unlike raw accuracy: two raters stamping
    the majority class everywhere score κ ≈ 0, not 95%).

    κ = (p_o − p_e) / (1 − p_e) with p_o the observed agreement rate
    and p_e the chance rate Σ_k p_a(k)·p_b(k) (Cohen 1960).  Exact
    from BIGINT contingency counts: one (a, b) keyed count, two
    marginal folds, the expected term as a decimal sum of marginal
    products (bigint·bigint would overflow past ~3·10⁹ items), then
    three IEEE divisions — bit-identical cross-engine.  Rows with a
    NULL on either side are excluded (and reported).

    Output (one row): n_items, observed_agreement,
    expected_agreement, kappa (NULL when p_e = 1 — both raters
    constant and identical, κ undefined)."""
    a, b = F.col(a_col), F.col(b_col)
    pairs = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tot = pairs.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("__t"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n"))), F.lit(0)
        ).cast("bigint").alias("__agree"),
    )
    ra = pairs.groupBy("__a").agg(F.sum("__n").alias("__ra"))
    cb = pairs.groupBy("__b").agg(F.sum("__n").alias("__cb"))
    pe = (
        ra.join(cb, ra["__a"] == cb["__b"])
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__ra").cast("decimal(38,0)")
                    * F.col("__cb").cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__pe_num")
        )
    )
    t = F.col("__t").cast("double")
    po = F.when(F.col("__t") > 0, F.col("__agree").cast("double") / t)
    pe_rate = F.when(
        F.col("__t") > 0, F.col("__pe_num").cast("double") / (t * t)
    )
    return (
        tot.crossJoin(pe)
        .select(
            F.col("__t").alias("n_items"),
            po.alias("observed_agreement"),
            pe_rate.alias("expected_agreement"),
            F.when(
                pe_rate < 1.0, (po - pe_rate) / (F.lit(1.0) - pe_rate)
            ).alias("kappa"),
        )
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram data: bin ``score_col`` on a fixed
    ``[lo, hi)`` grid (same clamped binning as ``psi_report``) and
    report, per bin, the count, mean score, and empirical positive
    rate of binary ``label_col`` — the drift question for a deployed
    model ("are its scores still calibrated?") next to ``psi_report``'s
    input-drift question.  With scores in [0,1] the |mean_score −
    pos_rate| gap per bin is the ECE integrand.

    Exactness: counts and label sums are integers; mean score is
    sum ÷ count with ONE double cast — pass a DECIMAL score column
    for a bit-exact cross-engine mean (double input sums in
    partition order, the standard float caveat).  Plan: one keyed
    count shuffle, map-only binning."""
    if bins < 1 or not hi > lo:
        raise ValueError("calibration_report: need bins >= 1 and hi > lo")
    step = (hi - lo) / bins
    c = F.col(score_col)
    b = F.least(
        F.greatest(F.floor((c - F.lit(lo)) / F.lit(step)), F.lit(0)),
        F.lit(bins - 1),
    )
    grouped = (
        df.filter(c.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(score_col).alias("__ssum"),
            F.sum(F.col(label_col).cast("bigint")).alias("__pos"),
        )
    )
    return grouped.select(
        "bin",
        "n",
        (F.col("__ssum").cast("double") / F.col("n").cast("double")).alias(
            "mean_score"
        ),
        (F.col("__pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
    ).orderBy("bin")


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    lo: float,
    hi: float,
    bins: int = 50,
) -> DataFrame:
    """Isotonic (PAV) calibration curve — the monotone-regression fit
    of the per-bin positive rate (Barlow et al. 1972; Zadrozny &
    Elkan 2002 for classifier calibration, both public): the
    non-decreasing step function closest (weighted least squares) to
    the empirical reliability diagram.  ``calibration_report`` shows
    the raw diagram; this emits the monotone rate a production
    calibrator would actually apply.

    NOT sequential pooling: PAV's fitted value obeys the minimax
    identity ``ŷ_i = max_{s≤i} min_{e≥i} avg(s..e)`` (Robertson,
    Wright & Dykstra 1988, Thm 1.4.4 — public), so over the
    ``bins``-bounded bin table the whole fit is a pair grid (s ≤ e,
    ≤ bins² metadata-sized rows), one per-start suffix-min window,
    and one per-end max — a pure DataFrame plan: no driver loop, no
    UDF, no adjacent-violator recursion.

    Exactness: every block average is ONE division of exact BIGINT
    sums (Δpos/Δn), so the doubles — and every min/max over them —
    are bit-identical cross-engine.  Raw ``pos_rate`` likewise.  No
    float accumulation anywhere (mean-of-score is deliberately NOT
    emitted; see calibration_report's caveat).

    Scale: one keyed count shuffle folds the events to ≤ ``bins``
    rows; the binned table feeds both the pair grid and the final
    join, so the INPUT is scanned once per branch unless Spark's
    ReusedExchange dedupes the shared groupBy shuffle — on an
    expensive upstream plan (a join pipeline, not a table scan),
    persist/localCheckpoint the input first.  Everything after the
    fold is metadata-sized (bins ≤ 4096 enforced so
    the pair grid stays ≤ 16.8M rows; the suffix-min window
    partitions by start bin — no single giant partition).

    Output: bin, n, pos (bigint), pos_rate, iso_rate (double),
    ordered by bin; iso_rate is non-decreasing by construction."""
    if bins < 1 or not hi > lo:
        raise ValueError("isotonic_calibration: need bins >= 1 and hi > lo")
    if bins > 4096:
        raise ValueError(
            "isotonic_calibration: bins > 4096 would build a "
            f"{bins}x{bins} pair grid; coarsen the grid"
        )
    step = (hi - lo) / bins
    c = F.col(score_col)
    b = F.least(
        F.greatest(F.floor((c - F.lit(lo)) / F.lit(step)), F.lit(0)),
        F.lit(bins - 1),
    )
    grouped = (
        df.filter(c.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("bigint")).alias("pos"),
        )
    )
    # prefix sums over the observed-bin table (bins-bounded — the
    # changepoint_report normal form, so the unpartitioned window is
    # metadata-sized by contract)
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = grouped.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wcum).alias("__cn"),
        F.sum("pos").over(wcum).alias("__cp"),
    )
    starts = pre.select(
        F.col("bin").alias("__sb"),
        (F.col("__cn") - F.col("n")).alias("__bn"),
        (F.col("__cp") - F.col("pos")).alias("__bp"),
    )
    ends = pre.select(
        F.col("bin").alias("__eb"),
        F.col("__cn").alias("__en"),
        F.col("__cp").alias("__ep"),
    )
    # s <= e pair grid: broadcast NL join of two bins-bounded tables
    pairs = starts.join(
        F.broadcast(ends), F.col("__sb") <= F.col("__eb")
    ).withColumn(
        "__av",
        (F.col("__ep") - F.col("__bp")).cast("double")
        / (F.col("__en") - F.col("__bn")).cast("double"),
    )
    wmin = (
        Window.partitionBy("__sb")
        .orderBy(F.col("__eb").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = pairs.select(
        "__sb", "__eb", F.min("__av").over(wmin).alias("__mn")
    )
    iso = m.groupBy("__eb").agg(F.max("__mn").alias("iso_rate"))
    return (
        grouped.join(iso, grouped["bin"] == iso["__eb"])
        .select(
            "bin",
            "n",
            "pos",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
            "iso_rate",
        )
        .orderBy("bin")
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy 1973, public)
    — the third leg of the calibration family: ``calibration_report``
    draws the reliability diagram, ``isotonic_calibration`` fits the
    monotone correction, and this SCORES the forecast:
    ``BS = REL − RES + UNC`` over ``bins`` equal-width probability
    bins on [0, 1], plus the exact (unbinned) Brier score and ECE.
    REL (reliability) is the calibration gap Σ n_b(f̄_b − ȳ_b)²/N,
    RES (resolution) the sharpness Σ n_b(ȳ_b − ȳ)²/N, UNC the
    outcome variance ȳ(1 − ȳ); ECE = Σ n_b|f̄_b − ȳ_b|/N.

    Exactness: scores are micro-quantized to 1e-6 units as BIGINTs
    (exact — a no-op for any score with ≤ 6 decimal digits; pass a
    DECIMAL score column), so Σu, Σu², Σu·y, Σy are all exact
    DECIMAL(38,0) folds and the unbinned Brier is ONE double division
    of an exact numerator: BS = (Σu² − 2·10⁶Σuy + 10¹²Σy)/(N·10¹²).
    Per-bin REL/RES/ECE terms are fixed IEEE sequences on exact
    integer ratios, nano-quantized before the cross-bin sums (the
    stattests micro-quantization budget) so every emitted double is
    bit-identical cross-engine.

    Scale: one keyed count shuffle to ≤ bins rows + one global moment
    fold; everything downstream is metadata-sized.  The input feeds
    the per-bin fold, the global fold, and the unbinned score, so it
    is scanned up to 3× per action unless ReusedExchange dedupes the
    shared shuffle — persist/localCheckpoint expensive upstream plans
    before calling.

    Output (one row): n (bigint), brier, uncertainty, reliability,
    resolution, ece (double); NULL decomposition when N = 0."""
    if bins < 1:
        raise ValueError("brier_decomposition: need bins >= 1")
    f = F.col(score_col)
    y = F.col(label_col).cast("int")
    base = df.filter(f.isNotNull() & y.isNotNull()).select(
        F.round(f.cast("decimal(24,8)") * F.lit(1000000).cast("decimal(8,0)"))
        .cast("bigint")
        .alias("__u"),
        y.alias("__y"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # bin on the quantized units with PURE INTEGER arithmetic (no
    # float or decimal-division boundary): bin = (u·bins) DIV 1e6,
    # clamped to [0, bins-1].  Truncating DIV equals floor for the
    # non-negative quotients that survive the clamp; a negative u
    # lands at 0 under either rounding.
    b = F.least(
        F.greatest(
            F.expr(f"CAST((__u * {int(bins)}) DIV 1000000 AS BIGINT)"),
            F.lit(0).cast("bigint"),
        ),
        F.lit(int(bins) - 1).cast("bigint"),
    )
    per_bin = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__y").cast("bigint").alias("__p"),
        F.sum(d38(F.col("__u"))).alias("__su"),
    )
    glob = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__y").cast("bigint").alias("__pos"),
        F.sum(d38(F.col("__u")) * d38(F.col("__u"))).alias("__suu"),
        F.sum(d38(F.col("__u")) * d38(F.col("__y"))).alias("__suy"),
    )
    j = per_bin.crossJoin(F.broadcast(glob))
    fbar = F.col("__su").cast("double") / (
        F.col("__n").cast("double") * F.lit(1e6)
    )
    ybar_b = F.col("__p").cast("double") / F.col("__n").cast("double")
    ybar = F.col("__pos").cast("double") / F.col("n").cast("double")
    gap = fbar - ybar_b
    sharp = ybar_b - ybar
    nb = F.col("__n").cast("double")
    q = lambda c: F.round(c * F.lit(1e9), 0).cast("decimal(38,0)")  # noqa: E731
    # GLOBAL agg (not groupBy on the glob keys): empty input must
    # still yield the documented one NULL-decomposition row, and a
    # global agg over an empty frame always produces exactly one row
    fold_row = j.agg(
        F.sum(q(nb * gap * gap)).alias("__relq"),
        F.sum(q(nb * sharp * sharp)).alias("__resq"),
        F.sum(q(nb * F.abs(gap))).alias("__eceq"),
    )
    folded = glob.crossJoin(F.broadcast(fold_row))
    nd = F.col("n").cast("double")
    # exact integer numerator: Σu² − 2·10⁶·Σuy + 10¹²·Σy
    num = (
        F.col("__suu")
        - F.lit(2000000).cast("decimal(38,0)") * F.col("__suy")
        + F.lit(1000000000000).cast("decimal(38,0)") * d38(F.col("__pos"))
    )
    ybar2 = F.col("__pos").cast("double") / nd
    return folded.select(
        "n",
        (num.cast("double") / (nd * F.lit(1e12))).alias("brier"),
        (ybar2 * (F.lit(1.0) - ybar2)).alias("uncertainty"),
        (F.col("__relq").cast("double") / F.lit(1e9) / nd).alias(
            "reliability"
        ),
        (F.col("__resq").cast("double") / F.lit(1e9) / nd).alias(
            "resolution"
        ),
        (F.col("__eceq").cast("double") / F.lit(1e9) / nd).alias("ece"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit statistic (Hosmer & Lemeshow
    1980, public) — the classic χ² framing of the calibration
    question ``brier_decomposition``'s reliability term measures:
    ``H = Σ_b (O_b − E_b)² / (E_b·(1 − E_b/n_b))`` over probability
    bins, df = g − 2.  Bins are the calibration family's FIXED
    [0, 1] equal-width grid (distributed-friendly, shared with
    calibration_report/brier_decomposition), not the textbook's
    sample deciles — the statistic is grid-conditional either way and
    the fixed grid keeps the whole family on one binning definition.

    Exactness: the brier_decomposition scheme — scores micro-quantized
    to 1e-6 BIGINT units (exact for ≤ 6-dp scores), so ``E_b`` is an
    exact integer sum scaled once and ``O_b``/``n_b`` exact counts;
    each bin term is a fixed IEEE sequence on those, nano-quantized
    before the cross-bin sum.  Any bin with a degenerate denominator
    (E_b ≤ 0 or E_b ≥ n_b — all-zero or all-one predictions) makes
    the statistic undefined: h_stat/df NULL with the bin count still
    reported (surfaced, not mis-scaled — the page_trend discipline).

    Scale: one keyed count shuffle to ≤ bins rows; metadata after.

    Output (one row): n (bigint), g_bins (occupied bins, bigint),
    h_stat, df_hl (double; NULL when degenerate or g < 3)."""
    if bins < 1:
        raise ValueError("hosmer_lemeshow: need bins >= 1")
    f = F.col(score_col)
    y = F.col(label_col).cast("int")
    base = df.filter(f.isNotNull() & y.isNotNull()).select(
        F.round(
            f.cast("decimal(24,8)") * F.lit(1000000).cast("decimal(8,0)")
        )
        .cast("bigint")
        .alias("__u"),
        y.alias("__y"),
    )
    b = F.least(
        F.greatest(
            F.expr(f"CAST((__u * {int(bins)}) DIV 1000000 AS BIGINT)"),
            F.lit(0).cast("bigint"),
        ),
        F.lit(int(bins) - 1).cast("bigint"),
    )
    per_bin = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__y").cast("bigint").alias("__o"),
        F.sum(F.col("__u").cast("decimal(38,0)")).alias("__su"),
    )
    nb = F.col("__n").cast("double")
    e_b = F.col("__su").cast("double") / F.lit(1e6)
    o_b = F.col("__o").cast("double")
    degenerate = (F.col("__su") <= 0) | (
        F.col("__su") >= F.col("__n") * F.lit(1000000)
    )
    # term guarded per row: a degenerate bin's denominator is 0 and
    # Infinity→decimal casts ERROR under ANSI; the __bad flag NULLs
    # the statistic anyway
    term = F.when(
        ~degenerate,
        ((o_b - e_b) * (o_b - e_b)) / (e_b * (F.lit(1.0) - e_b / nb)),
    )
    q = lambda c: F.round(c * F.lit(1e9), 0).cast("decimal(38,0)")  # noqa: E731
    agg = per_bin.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("g_bins"),
        F.sum(q(term)).alias("__hq"),
        F.max(degenerate.cast("int")).alias("__bad"),
    )
    ok = (
        (F.col("__bad") == 0)
        & F.col("__bad").isNotNull()
        & (F.col("g_bins") >= 3)
    )
    return agg.select(
        F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n"),
        F.coalesce(F.col("g_bins"), F.lit(0).cast("bigint")).alias(
            "g_bins"
        ),
        F.when(ok, F.col("__hq").cast("double") / F.lit(1e9)).alias(
            "h_stat"
        ),
        F.when(ok, (F.col("g_bins") - F.lit(2)).cast("double")).alias(
            "df_hl"
        ),
    )


def _grouped_cum_counts(
    df: DataFrame,
    group_col: str,
    col: str,
    small_hint: bool | None = None,
) -> DataFrame:
    """Per-group cumulative value counts without a per-group sort:
    per-(group, value) counts (map-side combined — a giant group
    collapses to its distinct values) cumulated by
    ``_cum_counts_prebuilt``.  The smallest value whose ``__cum``
    reaches ceil(q·n) IS the type-1 rank-ceil(q·n) value,
    bit-identical to a per-group row_number rank.

    Output: group_col, col, __c (value count), __cum (cumulative
    count ≤ value within group), __n (group total)."""
    c = F.col(col)
    counts = (
        df.filter(c.isNotNull())
        .groupBy(group_col, col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return _cum_counts_prebuilt(counts, group_col, col, small_hint)


def _cum_counts_prebuilt(
    counts: DataFrame,
    group_col: str,
    col: str,
    small_hint: bool | None = None,
) -> DataFrame:
    """The cumulation tail of ``_grouped_cum_counts`` over a PREBUILT
    per-(group, value) counts table (column ``__c``, one row per
    distinct value of a group) — callers that already hold the counts
    (derived from a pinned finer-grained count table, or a zero-filled
    value grid the raw rows cannot express, e.g.
    ``stattests.jonckheere_terpstra``) reuse it without a second pass
    over the raw rows.  Extra columns pass through.

    ``core._prefix_scan`` per group: when small, the per-group ordered
    window IS the right plan (one shuffle, no pin or carry jobs); the
    two-phase path protects the pathological group with millions of
    distinct values, its per-group carry a window over the tiny
    (bucket, group) partial-sum table (no skew, no driver collect).
    ``small_hint``: callers that already PROVED the counts table fits
    under ``_SMALL_RANK_ROWS`` (e.g. via one limit-probe on the
    pre-aggregate rows, an upper bound on distinct values) pass True
    to skip the limit probe, which re-evaluates the whole upstream
    aggregate; None sizes here.

    Output: the counts columns plus __cum (cumulative count ≤ value
    within group) and __n (group total)."""
    return _prefix_scan(
        counts, [col], ["__c"], [group_col], small_hint=small_hint
    ).withColumnsRenamed({"cum___c": "__cum", "tot___c": "__n"})


def group_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """EXACT per-group type-1 quantiles: for each group and each q,
    the value at rank ``ceil(q·n_group)`` (1-based ascending, NULLs
    dropped) — the p50/p95/p99-latency-per-endpoint / SLA-report
    primitive, with the no-interpolation definition two engines
    reproduce to the last bit (``approx_quantile_ranks`` is the
    sketch-bounded sibling; this is the exact one).

    Scale: the same machinery as ``winsorize_by`` — per-(group,
    value) counts map-side combine (a giant group collapses to its
    distinct values), the per-group prefix scan, per-group
    min-over-threshold picks; one wide aggregate emits EVERY
    requested q in a single pass, then unpivots to long form.  No
    per-group sort, no driver collect, no skew cliff.

    Output: group_col, q (double), value (col's type), n_rows."""
    qs = [float(q) for q in qs]
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs}")
    c = F.col(col)
    cum = _grouped_cum_counts(df, group_col, col)
    aggs = [
        F.min(
            F.when(
                F.col("__cum")
                >= F.ceil(F.lit(q) * F.col("__n")).cast("bigint"),
                c,
            )
        ).alias(f"__q{i}")
        for i, q in enumerate(qs)
    ]
    wide = cum.groupBy(group_col).agg(*aggs, F.max("__n").alias("n_rows"))
    stack = F.expr(
        "stack({n}, {args}) as (q, value)".format(
            n=len(qs),
            args=", ".join(
                f"CAST({q!r} AS DOUBLE), __q{i}" for i, q in enumerate(qs)
            ),
        )
    )
    return wide.select(group_col, stack, "n_rows")


def winsorize_by(
    df: DataFrame,
    col: str,
    group_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group ``winsorize``: clamp ``col`` into each group's own
    [lo_q, hi_q] type-1 quantile envelope — the right tail-taming when
    segments live on different scales (clamping currencies or device
    classes against a GLOBAL quantile mangles the small segments).

    Same exactness contract as ``winsorize`` (rank arithmetic +
    LEAST/GREATEST — zero new float math), and scale-safe even when
    ONE group holds most of the table: ranks come from per-(group,
    value) counts (map-side combined — the giant group collapses to
    its distinct values) cumulated by the prefix scan, whose two-phase
    path carries each group's prefix as a WINDOW over the tiny
    (bucket, group) partial-sum table (≤ #buckets rows per group —
    no skew, no driver collect, no single-task sort).
    The smallest value whose cumulative count reaches ceil(q·n) IS
    the type-1 rank-ceil(q·n) value, so results are bit-identical to
    a per-group row_number rank.  NULL values stay NULL; a group with
    no non-null values passes through unclamped."""
    c = F.col(col)
    cum = _grouped_cum_counts(df, group_col, col)
    lo_rank = F.ceil(F.lit(lo_q) * F.col("__n")).cast("bigint")
    hi_rank = F.ceil(F.lit(hi_q) * F.col("__n")).cast("bigint")
    bounds = cum.groupBy(group_col).agg(
        F.min(F.when(F.col("__cum") >= lo_rank, c)).alias("__lo_v"),
        F.min(F.when(F.col("__cum") >= hi_rank, c)).alias("__hi_v"),
    )
    clamped = F.when(
        c.isNull(), F.lit(None).cast(dict(df.dtypes)[col])
    ).otherwise(F.least(F.greatest(c, F.col("__lo_v")), F.col("__hi_v")))
    return (
        df.join(bounds, group_col, "left")
        .withColumn(out_col or col, clamped)
        .drop("__lo_v", "__hi_v")
    )


def quantile_normalize(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
) -> DataFrame:
    """ECDF transform: replace each value with its empirical quantile
    ``F̂(v) = #(values ≤ v) / n`` — the rank-based feature
    normalization that is immune to outliers and scale (the map any
    quantile-matching / copula trick starts from).  Ties share one
    quantile (count of all values ≤ v), NULLs stay NULL.

    Exactness: one integer cumulative count ÷ one integer total — a
    single IEEE division, bit-exact anywhere (equals SQL's
    ``cume_dist()``).  Scale shape: per-DISTINCT-value counts (one
    keyed shuffle), the global cumsum (``_partitioned_cumsum``: the
    two-phase scan once the distinct values are many — never
    ``cume_dist``'s single-task window over data-sized input), then
    an equi-join of the distinct-values-sized table back onto the
    rows."""
    c = F.col(col)
    per_v = (
        df.filter(c.isNotNull())
        .groupBy(c.alias("__qv"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    cum, totals = _partitioned_cumsum(per_v, "__qv", ["__cnt"])
    n = totals["__cnt"]
    if n == 0:
        raise ValueError(f"quantile_normalize: no non-null values in {col!r}")
    qmap = cum.select(
        "__qv",
        (F.col("cum___cnt").cast("double") / F.lit(float(n))).alias("__q"),
    ).localCheckpoint(eager=True)
    return (
        df.join(qmap, c == F.col("__qv"), "left")
        .withColumn(out_col or col, F.col("__q"))
        .drop("__qv", "__q")
    )


def psi_report_categorical(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
) -> DataFrame:
    """Categorical drift report — ``psi_report`` without the numeric
    grid: one row per category value with counts, shares, and the PSI
    contribution (NULL where either side lacks the category; sum for
    total PSI).  The category spine is the UNION of both sides'
    distinct values, so a category that appears or vanishes is a row
    with a zero count, not a silent omission.

    Same exactness contract as ``psi_report``: counts integers,
    shares one IEEE division, psi_bin engine-consistent (pair an
    oracle with counts + shares and pin the ln in pytest).  Plan: one
    keyed count per side, a full-outer merge on the category key,
    1-row broadcast totals."""
    r = (
        ref.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("category"))
        .agg(F.count(F.lit(1)).alias("count_ref"))
    )
    c = (
        cur.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("category"))
        .agg(F.count(F.lit(1)).alias("count_cur"))
    )
    joined = r.join(c, "category", "full_outer").fillna(
        0, ["count_ref", "count_cur"]
    )
    totals = joined.agg(
        F.sum("count_ref").alias("__nr"), F.sum("count_cur").alias("__nc")
    )
    pr = F.col("count_ref").cast("double") / F.col("__nr").cast("double")
    pc = F.col("count_cur").cast("double") / F.col("__nc").cast("double")
    psi = F.when(
        (F.col("count_ref") > 0) & (F.col("count_cur") > 0),
        (pr - pc) * F.log(pr / pc),
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "category",
            "count_ref",
            "count_cur",
            pr.alias("share_ref"),
            pc.alias("share_cur"),
            psi.alias("psi_bin"),
        )
        .orderBy("category")
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value binning report for a
    binary label — the standard credit-scoring / feature-screening
    diagnostic ("how predictive is this feature, bin by bin?"):

        woe_bin = ln(share_event / share_nonevent)
        iv_bin  = (share_event − share_nonevent) · woe_bin

    (sum ``iv_bin`` over populated bins for total IV; rules of thumb:
    <0.02 useless, 0.1–0.3 medium, >0.5 suspiciously strong.)

    ``label_col`` must be 0/1 (bool or int).  Bins are FIXED-WIDTH
    over caller-supplied ``[lo, hi)`` exactly like ``psi_report``
    (clamped edges, nulls drop) — fixed bounds keep the report
    reproducible across refreshes and engines.

    Exactness: event/nonevent counts are exact BIGINTs, shares are
    one IEEE division each; ``woe_bin``/``iv_bin`` cross ``ln`` whose
    libm differs by 1 ulp between engines (the psi_bin precedent) —
    oracle queries compare counts+shares and pytest pins the ln
    arithmetic.  NULL where either side of a bin is empty.

    Scale: one map-only binning pass + one keyed count (≤ ``bins``
    rows out), totals as a 1-row broadcast.  Output: bin,
    count_event, count_nonevent, share_event, share_nonevent,
    woe_bin, iv_bin."""
    if bins < 1 or not hi > lo:
        raise ValueError("woe_iv: need bins >= 1 and hi > lo")
    step = (hi - lo) / bins
    spark = df.sparkSession
    c = F.col(feature_col)
    lab = F.col(label_col).cast("bigint")
    b = F.least(
        F.greatest(F.floor((c - F.lit(lo)) / F.lit(step)), F.lit(0)),
        F.lit(bins - 1),
    )
    counted = (
        df.filter(c.isNotNull() & lab.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.sum(lab).alias("count_event"),
            (F.count(F.lit(1)) - F.sum(lab)).alias("count_nonevent"),
        )
    )
    spine = spark.range(bins).select(F.col("id").alias("bin"))
    joined = spine.join(counted, "bin", "left").fillna(
        0, ["count_event", "count_nonevent"]
    )
    totals = joined.agg(
        F.sum("count_event").alias("__ne"),
        F.sum("count_nonevent").alias("__nn"),
    )
    se = F.col("count_event").cast("double") / F.col("__ne").cast("double")
    sn = F.col("count_nonevent").cast("double") / F.col("__nn").cast("double")
    woe = F.when(
        (F.col("count_event") > 0) & (F.col("count_nonevent") > 0),
        F.log(se / sn),
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "count_event",
            "count_nonevent",
            se.alias("share_event"),
            sn.alias("share_nonevent"),
            woe.alias("woe_bin"),
            ((se - sn) * woe).alias("iv_bin"),
        )
        .orderBy("bin")
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
) -> DataFrame:
    """Smoothed mean target encoding — the leakage-safe categorical
    encoder (Micci-Barreca 2001) every tabular-ML pipeline reaches
    for:

        te(c) = (sum_c + m · prior) / (n_c + m),  prior = global mean

    High-cardinality categories shrink toward the prior as their
    support shrinks; ``smoothing`` m is the pseudo-count.  Returns
    the ENCODER TABLE (category, n_rows, target_sum, te) — category-
    cardinality-sized, broadcast-join it back onto train/serve data
    (splitting encode-fit from encode-apply is what makes the
    encoder leakage-auditable).

    Exactness: per-category sums are exact DECIMAL(20,6) (covers
    ≤6-dp targets; see the module exactness contract for generic
    doubles), prior is one IEEE division of exact casts, te is a
    fixed IEEE step sequence — bit-reproducible cross-engine.

    Scale: one keyed agg + a 1-row broadcast prior."""
    t = F.col(target_col)
    m = float(smoothing)
    per_cat = (
        df.filter(t.isNotNull())
        .groupBy(F.col(cat_col).alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(t.cast("decimal(20,6)")).alias("__s"),
        )
    )
    prior = (
        df.filter(t.isNotNull())
        .agg(
            (
                F.sum(t.cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__prior")
        )
    )
    return (
        per_cat.crossJoin(F.broadcast(prior))
        .select(
            "category",
            "n_rows",
            F.col("__s").cast("double").alias("target_sum"),
            (
                (F.col("__s").cast("double") + F.lit(m) * F.col("__prior"))
                / (F.col("n_rows").cast("double") + F.lit(m))
            ).alias("te"),
        )
    )


def chi_square_report(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Chi-square test-of-independence report between two categorical
    columns — one row per contingency cell with observed/expected
    counts and the cell's chi² contribution (df = (R−1)(C−1)).  The
    "are these two labels related?" audit for annotation pipelines
    and feature screens.  NOTE: only OBSERVED cells are emitted — an
    empty (o=0) cell still contributes ``e`` to the statistic, so sum
    ``chi2_cell + (n − Σexpected)`` for the full χ², or use
    ``cramers_v`` which applies that completion in closed form.

    Exactness: observed/marginal counts are exact BIGINTs; expected
    = row_total · col_total / N is one DECIMAL(19,0)² product cast
    to double and one IEEE division; chi2_cell = (o−e)²/e in fixed
    IEEE steps — no transcendental anywhere, so the WHOLE report is
    bit-reproducible (unlike psi/woe, nothing is excluded from the
    oracle).

    Scale: one keyed count (R·C cells), marginals re-aggregated from
    the cell table (cells, not rows), broadcast back.  Output:
    row_cat, col_cat, observed, row_total, col_total, n_total,
    expected, chi2_cell."""
    cells = (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(
            F.col(row_col).alias("row_cat"), F.col(col_col).alias("col_cat")
        )
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_tot = cells.groupBy("row_cat").agg(
        F.sum("observed").alias("row_total")
    )
    col_tot = cells.groupBy("col_cat").agg(
        F.sum("observed").alias("col_total")
    )
    n_tot = cells.agg(F.sum("observed").alias("n_total"))
    e = (
        F.col("row_total").cast("decimal(19,0)")
        * F.col("col_total").cast("decimal(19,0)")
    ).cast("double") / F.col("n_total").cast("double")
    o = F.col("observed").cast("double")
    return (
        cells.join(F.broadcast(row_tot), "row_cat")
        .join(F.broadcast(col_tot), "col_cat")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "row_cat",
            "col_cat",
            "observed",
            "row_total",
            "col_total",
            "n_total",
            e.alias("expected"),
            ((o - e) * (o - e) / e).alias("chi2_cell"),
        )
    )


def cramers_v(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Cramér's V association strength between two categoricals — the
    0..1 normalization of ``chi_square_report``'s statistic
    (``V = √(χ²/(n·(min(R,C)−1)))``, Cramér 1946, public), the number
    an annotation-pipeline screen ranks feature/label pairs by when
    raw χ² (which grows with n) can't be compared across pairs.

    EMPTY cells matter: ``chi_square_report`` emits only OBSERVED
    cells, but an absent (o=0) cell contributes ``(0−e)²/e = e`` to
    χ² — naively summing chi2_cell over the report understates the
    statistic whenever the contingency table has holes (a perfect
    2×2 association came out V=0.707 instead of 1 in the unit test).
    Since Σe over ALL R·C cells is exactly n, the empty-cell total is
    ``n − Σe(observed)`` — added in closed form, no dense cross join.

    Exactness: per-cell χ² contributions are polynomial IEEE doubles
    (see chi_square_report) quantized to nano-units and summed in
    DECIMAL — order-independent — then ONE division and ONE ``sqrt``
    (correctly rounded per IEEE 754, so cross-engine bit-exact,
    unlike ln/exp).  Single-category tables (min(R,C)=1) yield NULL
    V rather than a zero division.

    Scale: everything after the R·C cell table is cell-sized.
    Output (one row): n_total, n_rows, n_cols, dof, chi2, cramers_v."""
    cells = chi_square_report(df, row_col, col_col)
    q = F.round(F.col("chi2_cell") * F.lit(1e9), 0).cast("decimal(38,0)")
    eq = F.round(F.col("expected") * F.lit(1e9), 0).cast("decimal(38,0)")
    agg = cells.agg(
        F.sum(q).alias("__chi_q"),
        F.sum(eq).alias("__e_q"),
        F.max("n_total").alias("n_total"),
        F.countDistinct("row_cat").alias("n_rows"),
        F.countDistinct("col_cat").alias("n_cols"),
    )
    chi2 = (
        F.col("__chi_q").cast("double") / F.lit(1e9)
        + (
            F.col("n_total").cast("double")
            - F.col("__e_q").cast("double") / F.lit(1e9)
        )
    )
    k = (F.least("n_rows", "n_cols") - F.lit(1)).cast("double")
    return agg.select(
        "n_total",
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
        chi2.alias("chi2"),
        F.when(
            k > 0,
            F.sqrt(chi2 / (F.col("n_total").cast("double") * k)),
        ).alias("cramers_v"),
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table — the model-quality report next
    to ``auc_score``/``calibration_report``: rank the population by
    score descending, cut into ``n_buckets`` equal-depth buckets, and
    report per-bucket and cumulative event capture plus lift over the
    base rate ("the top decile captures 4.2× its share of events").

    ``id_col`` breaks score ties into a TOTAL order — without it,
    tied scores straddling a bucket boundary would land in
    run-dependent buckets and the whole table would be unstable.
    Bucket assignment is pure integer arithmetic on the global rank
    (``floor((rn−1)·k/n)``), counts are exact BIGINTs, rates/lift are
    fixed IEEE steps — bit-reproducible.

    Scale: one two-phase global ranking pass
    (``core._with_global_row_number`` — never a single-task window
    over data), one keyed count; the cumulative window runs over the
    ``n_buckets``-row aggregate only.

    Output: bucket, n_rows, n_events, event_rate, cum_rows,
    cum_events, cum_capture, lift."""
    if n_buckets < 1:
        raise ValueError("gains_table: need n_buckets >= 1")
    lab = F.col(label_col).cast("bigint")
    base = df.filter(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(
        F.col(score_col).alias("__s"), lab.alias("__y"), F.col(id_col).alias("__id")
    )
    n = base.count()
    if n == 0:
        raise ValueError("gains_table: no scorable rows")
    # descending score via negation (exact for IEEE doubles), id tiebreak
    ranked = _with_global_row_number(
        base.withColumn("__ns", -F.col("__s")), ["__ns", "__id"], n_hint=n
    )
    k = int(n_buckets)
    # integer DIV, not a double division + cast: a float quotient can
    # round UP across an integer boundary and flip a boundary row's
    # bucket differently per engine
    bucket = F.expr(f"CAST(((__rn - 1) * {k}) DIV {n} AS BIGINT) + 1")
    per = (
        ranked.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__y").alias("n_events"),
        )
    )
    # the cumulative window runs over ≤ n_buckets rows — bucket-sized
    w = Window.partitionBy(F.lit(0)).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(
        F.sum("n_rows").alias("__tr"), F.sum("n_events").alias("__te")
    )
    cum_rows = F.sum("n_rows").over(w)
    cum_events = F.sum("n_events").over(w)
    capture = cum_events.cast("double") / F.col("__te").cast("double")
    lift = (
        cum_events.cast("double") / cum_rows.cast("double")
    ) / (F.col("__te").cast("double") / F.col("__tr").cast("double"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_rows",
            F.col("n_events").cast("bigint").alias("n_events"),
            (
                F.col("n_events").cast("double") / F.col("n_rows").cast("double")
            ).alias("event_rate"),
            cum_rows.cast("bigint").alias("cum_rows"),
            cum_events.cast("bigint").alias("cum_events"),
            capture.alias("cum_capture"),
            lift.alias("lift"),
        )
        .orderBy("bucket")
    )


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    control: str,
) -> DataFrame:
    """Two-proportion z-test per experiment arm vs the control — the
    conversion-experiment readout: for each non-control variant, both
    arms' exact counts, conversion rates, the absolute lift, and the
    pooled-variance z-score.

    Exactness: counts are BIGINT; every float is a fixed sequence of
    IEEE-correctly-rounded steps (divisions, one sqrt — sqrt IS
    required correctly rounded by IEEE-754) on exact operands, written
    identically in the SQL mirror — bit-reproducible.  Significance
    thresholds (1.96, 2.58…) are the caller's to apply; emitting the
    z-score, not a verdict, keeps the report engine-portable (normal
    CDF evaluation is NOT correctly rounded).

    Scale: one map-side-combined keyed count over the input, then a
    1-row broadcast of the control arm against the (#variants)-row
    aggregate — nothing data-sized past the first aggregate.

    Degenerate variance (pooled rate 0 or 1 — nobody or everybody
    converts) has no defined z-score: emitted as NULL rather than an
    ANSI division-by-zero error / an engine-dependent NaN-vs-Inf.

    Output: variant, n_control, conv_control, n_variant,
    conv_variant, rate_control, rate_variant, abs_lift, z_score."""
    s = F.col(success_col).cast("int")
    per = (
        df.filter(F.col(variant_col).isNotNull() & s.isNotNull())
        .groupBy(F.col(variant_col).alias("variant"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(s).cast("bigint").alias("conv"),
        )
    )
    ctrl = (
        per.filter(F.col("variant") == control)
        .select(
            F.col("n").alias("n_control"),
            F.col("conv").alias("conv_control"),
        )
    )
    rc = F.col("conv_control").cast("double") / F.col("n_control").cast("double")
    rv = F.col("conv_variant").cast("double") / F.col("n_variant").cast("double")
    pooled = (
        (F.col("conv_control") + F.col("conv_variant")).cast("double")
        / (F.col("n_control") + F.col("n_variant")).cast("double")
    )
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_control").cast("double")
            + F.lit(1.0) / F.col("n_variant").cast("double")
        )
    )
    return (
        per.filter(F.col("variant") != control)
        .select(
            "variant",
            F.col("n").alias("n_variant"),
            F.col("conv").alias("conv_variant"),
        )
        .crossJoin(F.broadcast(ctrl))
        .select(
            "variant",
            "n_control",
            "conv_control",
            "n_variant",
            "conv_variant",
            rc.alias("rate_control"),
            rv.alias("rate_variant"),
            (rv - rc).alias("abs_lift"),
            F.when(se > 0, (rv - rc) / se).alias("z_score"),
        )
    )


def robust_scale(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Median/IQR standardization ``(v − median) / (q75 − q25)`` —
    the outlier-immune sibling of ``reshape.zscore_normalize``
    (mean/std move with every corrupt row; the median and IQR have
    breakdown point ¼) and the scale-matching step before mixing
    heavy-tailed features.

    Quantiles are exact type-1 ranks (no interpolation float):
    global via two driver scalars, per-group via the
    ``_grouped_cum_counts`` two-phase machinery (no per-group sort,
    giant group collapses to its distinct values).  The scaled value
    is one IEEE subtraction + one division on bit-identical doubles.
    Zero IQR (>50% of the group at one value) emits NULL; NULL
    values stay NULL.

    Output: input columns + ``out_col`` (default ``<col>_robust``)."""
    c = F.col(col)
    out = out_col or f"{col}_robust"
    if group_col is None:
        q25, med, q75 = exact_quantiles(df, col, [0.25, 0.5, 0.75])
        iqr = q75 - q25
        if iqr == 0:
            return df.withColumn(out, F.lit(None).cast("double"))
        return df.withColumn(
            out, (c - F.lit(float(med))) / F.lit(float(iqr))
        )
    cum = _grouped_cum_counts(df, group_col, col)

    def _at(q):
        return F.min(
            F.when(
                F.col("__cum")
                >= F.ceil(F.lit(q) * F.col("__n")).cast("bigint"),
                c,
            )
        )

    bounds = cum.groupBy(group_col).agg(
        _at(0.25).alias("__q25"),
        _at(0.5).alias("__med"),
        _at(0.75).alias("__q75"),
    )
    iqr = F.col("__q75") - F.col("__q25")
    return (
        df.join(F.broadcast(bounds), group_col, "left")
        .withColumn(
            out,
            F.when(iqr != 0, (c - F.col("__med")) / iqr),
        )
        .drop("__q25", "__med", "__q75")
    )


def cuped_report(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
    quant: float = 100.0,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments"):
    adjust each unit's metric by its PRE-EXPERIMENT covariate,
    ``y' = y − θ·(x − x̄)`` with the pooled ``θ = cov(x,y)/var(x)``,
    and report per-variant means/variances of both the raw and the
    adjusted metric — the standard way to cut weeks off an A/B test
    when a correlated pre-period metric exists.

    ``quant`` scales x and y to integers before summing (default 100
    — EXACT for 2-decimal money data).  Keep every quantized moment
    sum under 2^53 (``n·(V·quant)² < 9e15``): below that bound the
    decimal→double cast is value-exact in ANY engine, which is what
    makes the closed form engine-portable (DuckDB's int128→double
    cast is not correctly rounded above 2^63 — measured, one ulp on
    the covariance sums — and the θ cancellation amplifies that ulp
    to 1e-12).

    No per-row adjusted value is ever materialized: every output is
    a CLOSED FORM of per-variant moment sums —
    ``mean_adj_v = mean_y_v − θ·(mean_x_v − x̄)`` and
    ``var_adj_v = var_y_v − 2θ·cov_v + θ²·var_x_v`` — so the whole
    report is one keyed aggregate.  Exactness: x and y quantize to
    integer ``quant``-units (``round(v·quant)`` — both engines round
    .5 away from zero; the default 100 is centi-units, exact for
    2-decimal money) and all five moment sums accumulate exactly in
    DECIMAL; θ is unit-free (the quant factor cancels), means/variances
    unscale by fixed IEEE divisions; variances use the n−1 sample
    convention.  θ is NULL-guarded (zero covariate variance ⇒ raw
    columns only, adjusted = NULL).

    Scale: one map-side-combined keyed aggregate to a #variants-row
    table + a 1-row broadcast of the pooled sums.  Output: variant,
    n, mean_metric, var_metric, theta, mean_adjusted, var_adjusted.
    """
    y = F.col(metric_col)
    x = F.col(covariate_col)
    base = df.filter(
        F.col(variant_col).isNotNull() & y.isNotNull() & x.isNotNull()
    )
    q = float(quant)
    yu = F.round(y.cast("double") * F.lit(q), 0).cast("decimal(19,0)")
    xu = F.round(x.cast("double") * F.lit(q), 0).cast("decimal(19,0)")
    per = base.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xu).alias("__sx"),
        F.sum(yu).alias("__sy"),
        F.sum(xu * yu).alias("__sxy"),
        F.sum(xu * xu).alias("__sxx"),
        F.sum(yu * yu).alias("__syy"),
    )
    tot = per.agg(
        F.sum("n").alias("__tn"),
        F.sum("__sx").alias("__tsx"),
        F.sum("__sy").alias("__tsy"),
        F.sum("__sxy").alias("__tsxy"),
        F.sum("__sxx").alias("__tsxx"),
    )
    j = per.crossJoin(F.broadcast(tot))
    tn = F.col("__tn").cast("double")
    tsx = F.col("__tsx").cast("double")
    tsy = F.col("__tsy").cast("double")
    tsxy = F.col("__tsxy").cast("double")
    tsxx = F.col("__tsxx").cast("double")
    dvar = tn * tsxx - tsx * tsx
    theta = F.when(dvar > 0, (tn * tsxy - tsx * tsy) / dvar)
    xbar = tsx / tn / F.lit(q)
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    mean_y = sy / n / F.lit(q)
    mean_x = sx / n / F.lit(q)
    denom = n * (n - F.lit(1.0))
    q2 = F.lit(q * q)
    var_y = F.when(denom > 0, (n * syy - sy * sy) / denom / q2)
    var_x = F.when(denom > 0, (n * sxx - sx * sx) / denom / q2)
    cov_xy = F.when(denom > 0, (n * sxy - sx * sy) / denom / q2)
    mean_adj = mean_y - theta * (mean_x - xbar)
    var_adj = var_y - F.lit(2.0) * theta * cov_xy + theta * theta * var_x
    return j.select(
        "variant",
        "n",
        mean_y.alias("mean_metric"),
        var_y.alias("var_metric"),
        theta.alias("theta"),
        mean_adj.alias("mean_adjusted"),
        var_adj.alias("var_adjusted"),
    )


def qq_table(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    qs: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Quantile-quantile comparison table — the drift view between
    ``psi_report`` (binned shares) and ``ks_distance`` (one scalar):
    for each probe probability, BOTH distributions' exact type-1
    quantiles side by side plus the gap.  "The p99 moved from 38.1 to
    61.4" is the sentence this table produces.

    Exactness: each quantile is the value at rank ``ceil(q·n)``
    (clamped to [1, n]) — type-1, zero interpolation, so both sides
    are actual data values and ``diff`` is one IEEE subtraction.
    ``ceil(q·n)`` is the same double product+ceil any SQL mirror
    computes.

    Scale: one two-phase ranking pass PER SIDE (never a single-task
    window); the collected result is len(qs) scalars per side —
    metadata, not data.

    Output: p, q_a, q_b, diff (len(qs) rows)."""
    qs = [float(q) for q in qs]
    if not qs:
        raise ValueError("qq_table: need at least one probe")
    a = exact_quantiles(df_a, col, qs)
    b = exact_quantiles(df_b, col, qs)
    spark = df_a.sparkSession
    rows = [
        (p, float(x), float(y), float(x) - float(y))
        for p, x, y in zip(qs, a, b)
    ]
    from bubbles_spark.ops.core import local_table

    return local_table(
        spark, rows, "p double, q_a double, q_b double, diff double"
    )


def minmax_scale(
    df: DataFrame,
    col: str,
    by: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Min-max feature scaling ``(v − min)/(max − min)`` into [0, 1],
    globally or per ``by`` group — the bounded-range companion to
    ``zscore`` (mean/std) and ``quantile_normalize`` (rank).  A
    degenerate group (max = min — one distinct value) yields NULL
    rather than an engine-dependent 0/0; NULL inputs stay NULL.

    Exactness: one IEEE subtract over one IEEE subtract on the input
    doubles — no aggregate-of-floats anywhere (min/max select
    existing values, order-free).

    Scale: one map-side-combined keyed aggregate to a groups-sized
    bounds table, broadcast-joined back — never an unbounded
    min/max window over giant group partitions (which would sort
    each group in a single task)."""
    c = F.col(col).cast("double")
    keys = [by] if by else []
    bounds = df.filter(c.isNotNull()).groupBy(*keys).agg(
        F.min(c).alias("__mn"), F.max(c).alias("__mx")
    )
    if by:
        j = df.join(F.broadcast(bounds), by, "left")
    else:
        j = df.crossJoin(F.broadcast(bounds))
    rng = F.col("__mx") - F.col("__mn")
    scaled = F.when(rng > 0, (c - F.col("__mn")) / rng)
    return j.withColumn(out_col or col, scaled).drop("__mn", "__mx")


def rate_confidence(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-group conversion rate with its Wilson score interval — the
    dashboard-grade uncertainty band for proportions (unlike the
    normal/Wald interval it never leaves [0,1] and behaves at small n
    or extreme rates):

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    Exactness: counts are BIGINT; every float is a fixed IEEE
    sequence (divisions, one sqrt — correctly rounded by IEEE-754)
    on exact operands, so the interval is bit-reproducible in any
    engine replaying the same steps (same contract as
    ``ab_test_report``).  Scale: one map-side-combined keyed count.

    Output: group_col, n, successes, rate, wilson_lo, wilson_hi."""
    s = F.col(success_col).cast("int")
    per = (
        df.filter(F.col(group_col).isNotNull() & s.isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(s).cast("bigint").alias("successes"),
        )
    )
    zd = F.lit(float(z))
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z2n = zd * zd / n
    denom = F.lit(1.0) + z2n
    center = (p + z2n / F.lit(2.0)) / denom
    half = (
        zd
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2n / (F.lit(4.0) * n))
        / denom
    )
    return per.select(
        group_col,
        "n",
        "successes",
        p.alias("rate"),
        (center - half).alias("wilson_lo"),
        (center + half).alias("wilson_hi"),
    )


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision / recall / F1 from a (label, prediction)
    table — the classifier-eval staple (sklearn's report of the same
    name, computed distributed and exactly).  Rows with a NULL label
    or prediction are dropped.

    Exactness: the confusion counts are exact BIGINTs aggregated from
    the classes²-bounded (label, pred) pair table; precision/recall
    are ONE IEEE division each of exact operands and F1 is the fixed
    two-step harmonic mean of those doubles — bit-reproducible.
    A class never predicted gets NULL precision (0/0), a class with
    no true rows gets NULL recall, and F1 is NULL when either side
    is NULL (0 when both sides are 0).

    Scale: one map-side-combined pair count; everything after is
    classes-sized.  Output: class, tp, fp, fn, support, predicted,
    precision, recall, f1."""
    pairs = (
        df.filter(F.col(label_col).isNotNull() & F.col(pred_col).isNotNull())
        .groupBy(
            F.col(label_col).alias("__l"), F.col(pred_col).alias("__p")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    classes = (
        pairs.select(F.col("__l").alias("class"))
        .unionByName(pairs.select(F.col("__p").alias("class")))
        .distinct()
    )
    tp = pairs.filter(F.col("__l") == F.col("__p")).select(
        F.col("__l").alias("class"), F.col("__n").alias("tp")
    )
    label_tot = pairs.groupBy(F.col("__l").alias("class")).agg(
        F.sum("__n").alias("support")
    )
    pred_tot = pairs.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__n").alias("predicted")
    )
    base = (
        classes.join(F.broadcast(tp), "class", "left")
        .join(F.broadcast(label_tot), "class", "left")
        .join(F.broadcast(pred_tot), "class", "left")
        .select(
            "class",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
            F.coalesce("predicted", F.lit(0)).cast("bigint").alias("predicted"),
        )
    )
    p = F.when(
        F.col("predicted") > 0,
        F.col("tp").cast("double") / F.col("predicted").cast("double"),
    )
    r = F.when(
        F.col("support") > 0,
        F.col("tp").cast("double") / F.col("support").cast("double"),
    )
    f1 = F.when(
        p.isNotNull() & r.isNotNull(),
        F.when(p + r > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0)),
    )
    return base.select(
        "class",
        "tp",
        (F.col("predicted") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("support") - F.col("tp")).cast("bigint").alias("fn"),
        "support",
        "predicted",
        p.alias("precision"),
        r.alias("recall"),
        f1.alias("f1"),
    )


def retrieval_metrics(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    k: int = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-query ranking metrics at cutoff ``k`` — nDCG@k, MRR,
    precision@k, recall@k — over a (query, candidate score, 0/1
    relevance) table: the retrieval / reranker / ANN-recall eval
    battery (Järvelin & Kekäläinen's DCG, public).  Candidates rank
    per query by score DESC under a TOTAL order (``tiebreak_col``
    required when scores can tie, or ranks would be run-dependent).

    Exactness: the 1/log2(rank+1) discount table for ranks 1..k is
    computed ONCE driver-side, quantized to nano-unit INTEGERS, and
    baked into the plan as a map literal — so DCG and ideal-DCG are
    exact integer sums (order-free), nDCG is one IEEE division of the
    two integers, and MRR / precision / recall are single divisions
    of exact counts.  No per-row transcendental in either engine.

    Scale: one hash shuffle on the query key for the rank window
    (per-query candidate lists sort within partitions), then one
    map-side-combined aggregate; the discount map is O(k) literals.
    Output: group_col, n_candidates, n_pos, pos_at_k, precision_at_k,
    recall_at_k, mrr, ndcg_at_k (NULL when the query has no
    positives)."""
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = [round(1e9 / math.log2(i + 1)) for i in range(1, k + 1)]
    ideal = [0]
    for t in terms:
        ideal.append(ideal[-1] + t)
    term_map = F.create_map(
        *[F.lit(x) for i, t in enumerate(terms, 1) for x in (i, t)]
    )
    ideal_map = F.create_map(
        *[F.lit(x) for m, s in enumerate(ideal) for x in (m, s)]
    )
    order = [F.col(score_col).desc()] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(group_col).orderBy(*order)
    lab = F.col(label_col).cast("int")
    base = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__pos", (lab == 1).cast("int"))
    )
    agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum(
            F.when((F.col("__rn") <= k) & (F.col("__pos") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("pos_at_k"),
        F.min(F.when(F.col("__pos") == 1, F.col("__rn"))).alias("__first"),
        F.sum(
            F.when(
                (F.col("__rn") <= k) & (F.col("__pos") == 1),
                term_map[F.col("__rn")],
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__dcg_q"),
    )
    idcg_q = ideal_map[F.least(F.col("n_pos"), F.lit(k)).cast("int")]
    return agg.select(
        group_col,
        "n_candidates",
        "n_pos",
        "pos_at_k",
        (F.col("pos_at_k").cast("double") / F.lit(float(k))).alias(
            "precision_at_k"
        ),
        F.when(
            F.col("n_pos") > 0,
            F.col("pos_at_k").cast("double") / F.col("n_pos").cast("double"),
        ).alias("recall_at_k"),
        F.when(
            F.col("__first").isNotNull(),
            F.lit(1.0) / F.col("__first").cast("double"),
        ).alias("mrr"),
        F.when(
            F.col("n_pos") > 0,
            F.col("__dcg_q").cast("double") / idcg_q.cast("double"),
        ).alias("ndcg_at_k"),
    )


def trimmed_mean(
    df: DataFrame,
    col: str,
    trim: float = 0.05,
    value_decimal: str = "decimal(18,4)",
    group_col: str | None = None,
) -> DataFrame:
    """Symmetric trimmed mean — the robust location estimate that
    drops the ``⌊trim·n⌋`` smallest and largest OBSERVATIONS before
    averaging (the classic k-trimmed mean; ``winsorize`` clamps
    instead of dropping).

    Exactness + tie-invariance: no per-row rank exists anywhere —
    dropping the k smallest observations is a MULTISET operation, so
    the kept count per distinct value is pure interval arithmetic on
    the value-count cumulative (``_grouped_cum_counts`` machinery —
    map-side combined counts, value-bucketed two-phase cumsum, no
    single-task sort): ``kept(v) = max(0, min(cum, n−k) −
    max(cum−c+1, k+1) + 1)``.  k comes from an exact DECIMAL·BIGINT
    floor, the kept-weighted sum stays in DECIMAL, and the mean is
    ONE IEEE division — bit-exact cross-engine with no tiebreak
    column needed.  ``n − 2k ≤ 0`` yields a NULL mean.

    ``group_col`` trims PER GROUP (k = ⌊trim·n_g⌋ from each group's
    own size — the cumulative machinery is already grouped, so this
    costs nothing extra); rows with a NULL group are dropped.

    Output (one row, or one per group): [group_col,] n_rows,
    k_trimmed, n_kept, trimmed_mean."""
    from decimal import Decimal

    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    if group_col:
        base = df.filter(
            F.col(col).isNotNull() & F.col(group_col).isNotNull()
        ).select(group_col, F.col(col).cast(value_decimal).alias("__v"))
        gname = group_col
    else:
        base = (
            df.filter(F.col(col).isNotNull())
            .select(F.col(col).cast(value_decimal).alias("__v"))
            .withColumn("__g", F.lit(0))
        )
        gname = "__g"
    cum = _grouped_cum_counts(base, gname, "__v")
    k = F.floor(F.lit(Decimal(str(trim))) * F.col("__n")).cast("bigint")
    lo = k + F.lit(1)
    hi = F.col("__n") - k
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("__cum"), hi)
        - F.greatest(F.col("__cum") - F.col("__c") + 1, lo)
        + F.lit(1),
    )
    gcols = [group_col] if group_col else []
    agg = cum.select(
        *gcols, F.col("__n"), k.alias("__k"), kept.alias("__kc"), F.col("__v")
    ).groupBy(*gcols).agg(
        F.max("__n").cast("bigint").alias("n_rows"),
        F.max("__k").cast("bigint").alias("k_trimmed"),
        F.sum("__kc").cast("bigint").alias("n_kept"),
        F.sum(F.col("__kc") * F.col("__v")).alias("__wsum"),
    )
    return agg.select(
        *gcols,
        "n_rows",
        "k_trimmed",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.col("__wsum").cast("double") / F.col("n_kept").cast("double"),
        ).alias("trimmed_mean"),
    )


def _one_minus_alpha_frac(alpha: float):
    """``1 − alpha`` as an exact small rational ``(num, den)``.

    The selection rank ``⌈(n+1)(1−α)⌉`` must NOT be computed in IEEE
    doubles: ``(n+1)*(1-alpha)`` can round a hair above the exact
    integer (n=9, α=0.1 → 10*0.9 = 9.000000000000002 → ceil 10 > n →
    a spuriously unbounded band although the exact rank 9 exists).
    Recover the user's intended rational from alpha's shortest decimal
    repr (``str(0.1)`` → '0.1' → 1/10), then ``limit_denominator``
    keeps the denominator ≤1e6 so ``(n+1)*num`` stays far inside the
    2^53 exact-integer double budget for the windowed variant."""
    from fractions import Fraction

    fr = Fraction(1) - Fraction(str(alpha)).limit_denominator(10**6)
    return fr.numerator, fr.denominator


def conformal_interval(
    cal: DataFrame,
    scored: DataFrame,
    pred_col: str,
    label_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction intervals — distribution-free
    per-row prediction bands with a finite-sample marginal coverage
    guarantee of at least ``1 − alpha`` (Vovk et al., public): from a
    held-out CALIBRATION slice, take the ``⌈(n+1)(1−α)⌉``-th smallest
    absolute residual ``q``, then band every scored row as
    ``[pred − q, pred + q]``.

    Exactness: each residual is one IEEE subtract + abs of the input
    doubles; the quantile is TYPE-1 RANK SELECTION (it picks an
    existing residual — never interpolates), via the two-phase global
    rank, so the selected ``q`` is bit-identical across engines;
    the band ends are one subtract/add each.  When
    ``⌈(n+1)(1−α)⌉ > n`` (calibration set too small for the level)
    the interval is unbounded by definition — lo/hi emit NULL.

    Scale: the rank runs over the calibration slice only (two-phase,
    never a single-task data sort); ``q`` is ONE collected scalar
    baked into the scored-side plan as a literal — the scored side
    stays map-only (no join, no shuffle).

    Output: every ``scored`` row plus pi_lo, pi_hi, q_hat (double),
    n_cal (bigint)."""
    from bubbles_spark.ops.core import _with_global_row_number

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"conformal_interval: alpha in (0,1), got {alpha}")
    res = cal.filter(
        F.col(pred_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.abs(
            F.col(label_col).cast("double") - F.col(pred_col).cast("double")
        ).alias("__r")
    )
    n = res.count()
    if n == 0:
        raise ValueError("conformal_interval: empty calibration slice")
    # exact-rational ceil((n+1)(1-alpha)) — never the IEEE product
    a_num, a_den = _one_minus_alpha_frac(alpha)
    q_rank = ((n + 1) * a_num + a_den - 1) // a_den
    if q_rank > n:
        q = None
    else:
        ranked = _with_global_row_number(res, ["__r"], n_hint=n)
        q = ranked.filter(F.col("__rn") == q_rank).collect()[0]["__r"]
    qc = F.lit(q).cast("double")
    p = F.col(pred_col).cast("double")
    return (
        scored.withColumn("pi_lo", p - qc)
        .withColumn("pi_hi", p + qc)
        .withColumn("q_hat", qc)
        .withColumn("n_cal", F.lit(n).cast("bigint"))
    )


def conformal_interval_by(
    cal: DataFrame,
    scored: DataFrame,
    group_col: str,
    pred_col: str,
    label_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Mondrian (group-conditional) split conformal — one calibrated
    band width PER GROUP, giving the ≥1−α coverage guarantee within
    every group rather than only marginally (the per-segment fairness
    property a single global ``q`` cannot offer).  Same construction
    as ``conformal_interval`` inside each group: the
    ``⌈(n_g+1)(1−α)⌉``-th smallest absolute calibration residual.

    Exactness: residual = one IEEE subtract + abs; per-group rank
    selection picks an EXISTING residual (ties cannot change the
    selected value); band ends are one subtract/add.  Groups whose
    calibration slice is too small for the level (selection rank
    beyond n_g), or absent from calibration entirely, emit NULL
    bands — surfaced, never silently widened.

    Scale: the per-group rank is a PARTITIONED window (groups
    parallelize; the skew contract is per-group calibration size,
    same as ``weighted_median``); the q table is groups-sized and
    broadcast-joins onto the scored side.

    Output: every ``scored`` row plus pi_lo, pi_hi, q_hat (double),
    n_cal (bigint, NULL for uncalibrated groups)."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(
            f"conformal_interval_by: alpha in (0,1), got {alpha}"
        )
    res = cal.filter(
        F.col(pred_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__grp"),
        F.abs(
            F.col(label_col).cast("double") - F.col(pred_col).cast("double")
        ).alias("__r"),
    )
    w_rn = Window.partitionBy("__grp").orderBy("__r")
    w_n = Window.partitionBy("__grp")
    # exact-rational ceil((n_g+1)(1-alpha)) via integer
    # cross-multiplication: ceil(x*num/den) = (x*num + den-1) // den;
    # the floor-of-double-division is exact while the numerator stays
    # under 2^53 (den ≤ 1e6 by _one_minus_alpha_frac, same budget
    # argument as insights._idiv)
    a_num, a_den = _one_minus_alpha_frac(alpha)
    sel = F.floor(
        (
            (F.count(F.lit(1)).over(w_n).cast("bigint") + F.lit(1)) * a_num
            + F.lit(a_den - 1)
        )
        / F.lit(a_den)
    ).cast("bigint")
    qs = (
        res.withColumn("__rn", F.row_number().over(w_rn))
        .withColumn("__n", F.count(F.lit(1)).over(w_n).cast("bigint"))
        .withColumn("__sel", sel)
        .filter(F.col("__rn") == F.col("__sel"))
        .select(
            "__grp",
            F.col("__r").alias("q_hat"),
            F.col("__n").alias("n_cal"),
        )
    )
    p = F.col(pred_col).cast("double")
    return (
        scored.join(
            F.broadcast(qs), scored[group_col] == qs["__grp"], "left"
        )
        .drop("__grp")
        .withColumn("pi_lo", p - F.col("q_hat"))
        .withColumn("pi_hi", p + F.col("q_hat"))
    )


def divergence_report(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Binned distribution-divergence report between a reference and a
    current sample — ``psi_report``'s siblings on the same fixed grid:
    per bin, both counts and shares plus the bin's contribution to
    KL(ref‖cur), Jensen–Shannon divergence (natural log, so total JS
    ∈ [0, ln 2]), squared-Hellinger, and total-variation distance.
    Sum each column over bins for the total; JS/Hellinger/TVD are
    always finite (0·ln 0 = 0 by continuity), while KL emits NULL in
    bins where cur is empty but ref is not (KL is infinite there —
    the caller sees WHICH bin broke it rather than a poisoned total).

    Exactness: same discipline as ``psi_report`` — fixed literal grid
    (one floor-divide per row, map-only), exact BIGINT counts, shares
    as one IEEE division each, and each divergence term a fixed
    sequence of IEEE steps (ln and sqrt are correctly-rounded on both
    engines for these operand ranges — the psi/cramers precedents).

    Scale: two single-shuffle keyed counts joined onto a ``bins``-row
    spine; totals are a 1-row broadcast.  Nothing data-sized after
    the counts.

    Output: bin, count_ref, count_cur, share_ref, share_cur, kl_bin,
    js_bin, hellinger_bin, tvd_bin."""
    if bins < 1 or not hi > lo:
        raise ValueError("divergence_report: need bins >= 1 and hi > lo")
    step = (hi - lo) / bins
    spark = ref.sparkSession

    def _binned(df: DataFrame, name: str) -> DataFrame:
        c = F.col(col)
        b = F.least(
            F.greatest(F.floor((c - F.lit(lo)) / F.lit(step)), F.lit(0)),
            F.lit(bins - 1),
        )
        return (
            df.filter(c.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    spine = spark.range(bins).select(F.col("id").alias("bin"))
    joined = (
        spine.join(_binned(ref, "count_ref"), "bin", "left")
        .join(_binned(cur, "count_cur"), "bin", "left")
        .fillna(0, ["count_ref", "count_cur"])
    )
    totals = joined.agg(
        F.sum("count_ref").alias("__nr"), F.sum("count_cur").alias("__nc")
    )
    p = F.col("count_ref").cast("double") / F.col("__nr").cast("double")
    q = F.col("count_cur").cast("double") / F.col("__nc").cast("double")
    mid = (p + q) / F.lit(2.0)
    zero = F.lit(0.0)
    # 0·ln 0 := 0 (continuity); the guard keys off the exact COUNTS
    pterm = F.when(F.col("count_ref") > 0, p * F.log(p / mid)).otherwise(zero)
    qterm = F.when(F.col("count_cur") > 0, q * F.log(q / mid)).otherwise(zero)
    kl = F.when(
        F.col("count_ref") == 0, zero
    ).when(F.col("count_cur") > 0, p * F.log(p / q))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.col("count_ref").cast("bigint").alias("count_ref"),
            F.col("count_cur").cast("bigint").alias("count_cur"),
            p.alias("share_ref"),
            q.alias("share_cur"),
            kl.alias("kl_bin"),
            ((pterm + qterm) / F.lit(2.0)).alias("js_bin"),
            (
                (F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q))
                / F.lit(2.0)
            ).alias("hellinger_bin"),
            (F.abs(p - q) / F.lit(2.0)).alias("tvd_bin"),
        )
        .orderBy("bin")
    )


def uplift_curve(
    df: DataFrame,
    score_col: str,
    treatment_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Uplift / Qini curve — ``gains_table``'s experimentation
    sibling: rank the population by a targeting score (descending),
    cut into equal-depth buckets, and report, cumulatively, how many
    INCREMENTAL conversions the treated arm shows over the control
    arm — the "who should we treat?" readout of any uplift model
    (Radcliffe's Qini, public).  ``qini`` is in incremental-conversion
    units: ``cum_resp_t − cum_resp_c · (cum_n_t / cum_n_c)``;
    ``cum_uplift`` is the rate difference
    ``cum_resp_t/cum_n_t − cum_resp_c/cum_n_c``.

    Exactness: the rank is the two-phase total order (``id_col``
    tiebreak), bucket membership one integer DIV, all counts exact
    BIGINTs, every rate/qini value a fixed IEEE sequence on those
    counts.  Buckets whose cumulative control (or treated) arm is
    empty emit NULL for the ratios that need it — surfaced, not
    imputed.

    Scale: one two-phase global rank over scored rows, one keyed
    aggregate to ``n_buckets`` rows, cumulative windows over the
    bucket table only.

    Output: bucket, n_treat, n_ctrl, resp_treat, resp_ctrl,
    cum_n_treat, cum_n_ctrl, cum_resp_treat, cum_resp_ctrl,
    cum_uplift, qini."""
    from bubbles_spark.ops.core import _with_global_row_number

    if n_buckets < 1:
        raise ValueError("uplift_curve: need n_buckets >= 1")
    t = F.col(treatment_col).cast("int")
    y = F.col(label_col).cast("int")
    base = df.filter(
        F.col(score_col).isNotNull()
        & t.isNotNull()
        & y.isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("__s"),
        t.alias("__t"),
        y.alias("__y"),
        F.col(id_col).alias("__id"),
    )
    n = base.count()
    if n == 0:
        raise ValueError("uplift_curve: no scorable rows")
    ranked = _with_global_row_number(
        base.withColumn("__ns", -F.col("__s")), ["__ns", "__id"], n_hint=n
    )
    k = int(n_buckets)
    bucket = F.expr(f"CAST(((__rn - 1) * {k}) DIV {n} AS BIGINT) + 1")
    per = ranked.groupBy(bucket.alias("bucket")).agg(
        F.sum("__t").cast("bigint").alias("n_treat"),
        F.sum(1 - F.col("__t")).cast("bigint").alias("n_ctrl"),
        F.sum(F.col("__t") * F.col("__y")).cast("bigint").alias("resp_treat"),
        F.sum((1 - F.col("__t")) * F.col("__y"))
        .cast("bigint")
        .alias("resp_ctrl"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cnt = per.withColumn(
        "cum_n_treat", F.sum("n_treat").over(w).cast("bigint")
    ).withColumn(
        "cum_n_ctrl", F.sum("n_ctrl").over(w).cast("bigint")
    ).withColumn(
        "cum_resp_treat", F.sum("resp_treat").over(w).cast("bigint")
    ).withColumn(
        "cum_resp_ctrl", F.sum("resp_ctrl").over(w).cast("bigint")
    )
    rt = F.col("cum_resp_treat").cast("double") / F.col("cum_n_treat").cast(
        "double"
    )
    rc = F.col("cum_resp_ctrl").cast("double") / F.col("cum_n_ctrl").cast(
        "double"
    )
    both = (F.col("cum_n_treat") > 0) & (F.col("cum_n_ctrl") > 0)
    qini = F.col("cum_resp_treat").cast("double") - F.col(
        "cum_resp_ctrl"
    ).cast("double") * (
        F.col("cum_n_treat").cast("double")
        / F.col("cum_n_ctrl").cast("double")
    )
    return cnt.select(
        "bucket",
        "n_treat",
        "n_ctrl",
        "resp_treat",
        "resp_ctrl",
        "cum_n_treat",
        "cum_n_ctrl",
        "cum_resp_treat",
        "cum_resp_ctrl",
        F.when(both, rt - rc).alias("cum_uplift"),
        F.when(both, qini).alias("qini"),
    ).orderBy("bucket")
