"""Classical statistical tests over DataFrames, engine-portably
exact: Welch's two-sample t-test, one-way ANOVA, and a mutual-
information (PMI) report for categorical association.

House discipline (same as ops/drift.py's AUC / z-test): every
aggregate that crosses rows is an exact integer or DECIMAL sum —
doubles appear only in a FIXED, documented sequence of IEEE-correctly-
rounded steps on those exact operands, written identically in the SQL
mirror, so two engines produce bit-identical statistics.  Raw double
measures are made summable by integer micro-scaling: ``floor(v·10^s)``
is one double multiply + one floor — both exactly reproducible — and
from there every sum is exact.  The scaled second moment is kept in
DECIMAL(38,0) (the 19-digit×19-digit product can exceed BIGINT long
before it exceeds 38 digits).

P-values are deliberately NOT emitted: t/F CDF evaluation is not
correctly rounded and would be the one engine-dependent number in the
report.  Emit the statistic and degrees of freedom; thresholds are
the caller's.

Reference scope: Stiivi/bubbles has no statistics beyond basic audits
(SURVEY.md §2.6); these are §2.14 north-star extension rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bubbles_spark.ops import core

__all__ = [
    "welch_t_test",
    "anova_oneway",
    "mi_report",
    "bootstrap_ci",
    "mann_whitney_u",
    "kruskal_wallis",
    "effect_size_report",
    "brown_forsythe",
    "paired_t_test",
    "spearman_corr",
    "spearman_by",
    "fdr_correct",
    "mann_kendall",
    "cochran_armitage",
    "mcnemar_test",
    "cochran_q",
    "kendall_tau_by",
    "srm_check",
    "dunn_test",
    "fleiss_kappa",
    "friedman_test",
    "mood_median_test",
    "jonckheere_terpstra",
    "krippendorff_alpha",
    "wilcoxon_signed_rank",
    "mantel_haenszel",
    "anderson_darling_k",
    "smd_balance",
    "cliffs_delta",
    "ansari_bradley",
    "brunner_munzel",
    "page_trend_test",
    "cronbach_alpha",
    "lepage_test",
]


def _scaled_moments(df: DataFrame, group_col: str, value_col: str, scale: int):
    """Per group: n (BIGINT), s1 = Σ floor(v·10^s) and s2 = Σ
    floor(v·10^s)² as exact DECIMAL(38,0).  The multiply and floor
    are each one IEEE step; the square is a DECIMAL(19,0) product
    (never a silently-overflowing BIGINT multiply)."""
    v = F.col(value_col).cast("double")
    sv = F.floor(v * F.lit(float(10**scale))).cast("decimal(19,0)")
    return (
        df.filter(F.col(group_col).isNotNull() & v.isNotNull())
        .select(F.col(group_col).alias("grp"), sv.alias("__sv"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("__sv").cast("decimal(38,0)")).alias("s1"),
            F.sum(F.col("__sv") * F.col("__sv")).alias("s2"),
        )
    )


def welch_t_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    scale: int = 6,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between two named
    groups of ``group_col``: one output row with both arms' exact
    counts, means, sample variances, the t statistic, and the
    Welch–Satterthwaite degrees of freedom.

    Exactness: means and variances derive from the micro-scaled
    integer moments (see module docstring) by a fixed IEEE sequence —
    ``mean = ((s1/n)/10^s)``, ``var = ((s2 − s1²/n)/(n−1))/10^2s``
    with every operand cast to double exactly once.  An arm with
    n < 2 (or zero pooled variance) yields NULL t/df rather than an
    engine-dependent Inf/NaN.

    Scale: one map-side-combined keyed aggregate over the input; the
    two 1-row arms cross-join.  Output: group_a, group_b, n_a, n_b,
    mean_a, mean_b, var_a, var_b, t_stat, df_welch."""
    stats = _scaled_moments(df, group_col, value_col, scale)
    down1 = float(10**scale)
    down2 = float(10 ** (2 * scale))

    def _arm(g, suffix):
        n = F.col("n").cast("double")
        s1 = F.col("s1").cast("double")
        s2 = F.col("s2").cast("double")
        mean = (s1 / n) / F.lit(down1)
        var = F.when(
            F.col("n") > 1,
            ((s2 - s1 * s1 / n) / (n - F.lit(1.0))) / F.lit(down2),
        )
        return stats.filter(F.col("grp") == F.lit(g)).select(
            F.col("grp").alias(f"group_{suffix}"),
            F.col("n").alias(f"n_{suffix}"),
            mean.alias(f"mean_{suffix}"),
            var.alias(f"var_{suffix}"),
        )

    j = _arm(group_a, "a").crossJoin(F.broadcast(_arm(group_b, "b")))
    sea = F.col("var_a") / F.col("n_a").cast("double")
    seb = F.col("var_b") / F.col("n_b").cast("double")
    se2 = sea + seb
    t = F.when(se2 > 0, (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2))
    dfw = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            sea * sea / (F.col("n_a") - F.lit(1)).cast("double")
            + seb * seb / (F.col("n_b") - F.lit(1)).cast("double")
        ),
    )
    return j.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        t.alias("t_stat"),
        dfw.alias("df_welch"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 6,
) -> DataFrame:
    """One-way ANOVA across ALL groups of ``group_col``: one output
    row with the group count, total n, between/within sums of
    squares, and the F statistic with its degrees of freedom.

    The one order-sensitive quantity — Σ_g s1_g²/n_g, a non-integer
    per-group term that must be summed across groups — is pinned by
    rounding each group's double term to DECIMAL(38,6) and summing
    in DECIMAL (order-free, exact); every remaining step is a fixed
    IEEE sequence on exact operands: ``SSW = (S2 − T)/10^2s``,
    ``SSB = (T − S1²/N)/10^2s``, ``F = (SSB/(k−1))/(SSW/(N−k))``.
    Degenerate cases (k < 2, N ≤ k, SSW = 0) emit NULL f_stat.

    Scale: one map-side-combined keyed aggregate, then a k-row global
    aggregate — nothing data-sized past the first shuffle.

    Output: k, n, ss_between, ss_within, df_between, df_within,
    f_stat."""
    stats = _scaled_moments(df, group_col, value_col, scale)
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    u = (s1d * s1d / nd).cast("decimal(38,6)")
    g = stats.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").alias("__S1"),
        F.sum("s2").alias("__S2"),
        F.sum(u).alias("__T"),
    )
    down2 = F.lit(float(10 ** (2 * scale)))
    Nd = F.col("n").cast("double")
    S1d = F.col("__S1").cast("double")
    S2d = F.col("__S2").cast("double")
    Td = F.col("__T").cast("double")
    ssw = (S2d - Td) / down2
    ssb = (Td - S1d * S1d / Nd) / down2
    df1 = (F.col("k") - F.lit(1)).cast("bigint")
    df2 = (F.col("n") - F.col("k")).cast("bigint")
    fstat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
        (ssb / df1.cast("double")) / (ssw / df2.cast("double")),
    )
    return g.select(
        "k",
        "n",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        df1.alias("df_between"),
        df2.alias("df_within"),
        fstat.alias("f_stat"),
    )


def mi_report(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Categorical-association report between two columns: one row
    per OBSERVED value pair with exact cell and margin counts, the
    joint probability, pointwise mutual information ``ln(n_ab·N /
    (n_a·n_b))``, and the cell's mutual-information contribution
    ``p_ab·pmi``.  Sum ``mi_term`` downstream for total MI — the
    per-cell emission (not a pre-summed float total) is what keeps
    the report engine-portable, exactly as ops/drift.py's PSI report
    emits per-bin terms.

    Exactness: counts are BIGINT; each double is a fixed sequence —
    margins are cast to double BEFORE multiplying (the BIGINT product
    n_a·n_b would overflow long before the double loses the ratio).

    Scale: three map-side-combined keyed counts (cells + two margins)
    joined cell-table-sized; margins broadcast.  Output: a, b, n_ab,
    n_a, n_b, n, p_ab, pmi, mi_term."""
    a, b = F.col(a_col), F.col(b_col)
    base = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("a"), b.alias("b")
    )
    cells = base.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    ma = base.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    mb = base.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    tot = cells.agg(F.sum("n_ab").cast("bigint").alias("n"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pab = d("n_ab") / d("n")
    pmi = F.log((d("n_ab") * d("n")) / (d("n_a") * d("n_b")))
    return (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            "n",
            pab.alias("p_ab"),
            pmi.alias("pmi"),
            (pab * pmi).alias("mi_term"),
        )
        .orderBy("a", "b")
    )


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_boot: int = 200,
    seed: int = 42,
    level: float = 0.95,
    value_decimal: str = "decimal(18,4)",
    max_mult: int = 8,
    group_col: str | None = None,
) -> DataFrame:
    """DETERMINISTIC Poisson bootstrap confidence interval for the
    mean — the resampling CI that needs no distributional assumption,
    made reproducible and engine-portable: replicate ``b``'s
    multiplicity for a row is a pure function of
    ``md5(seed|b|key)``, so any retry, any partitioning, and any
    engine reassemble the identical resamples (the classic Poisson
    bootstrap for distributed data — each row enters replicate b
    Poisson(1)-many times, no global n needed; Chamandy et al. /
    Google's large-scale bootstrap line of work, public knowledge).

    Mechanics: the hash's first 8 hex digits form an integer h in
    [0, 2³²); multiplicity = #{Poisson CDF thresholds ≤ h} with the
    thresholds ``floor(cdf_i · 2³²)`` computed driver-side as exact
    INTEGERS — the comparison is pure integer ordering, never a float
    uniform.  The tail truncates at ``max_mult`` (P ≈ 1e-6 at 8; part
    of the op's definition, identically on both engines).  Replicate
    means are exact-decimal sums divided by exact counts (one IEEE
    division each); the CI endpoints are the type-1
    ``⌈α·B⌉``-th smallest/largest replicate means selected by
    TakeOrdered — no global window, no interpolation.

    Cost: the plan materializes rows × n_boot hash evaluations —
    map-only before one aggregate on the replicate key; size B to the
    budget.  Empty resamples (possible only for tiny inputs) are
    dropped from the quantile pool and reported via n_effective.

    ``group_col`` switches to per-group CIs (one output row per
    group): replicate means aggregate on (group, replicate) and the
    endpoint selection becomes a per-group rank window — partitioned
    by group and ≤ B rows per group, never a global window (the
    global path keeps its TakeOrdered selection).

    Output (one row, or one per group): [group_col,] n_rows, n_boot,
    n_effective, mean, ci_lo, ci_hi, level."""
    import math
    from decimal import Decimal

    from pyspark.sql import Window

    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2, got {n_boot}")
    if not 0.0 < level < 1.0:
        raise ValueError(f"level must be in (0, 1), got {level}")
    alpha = (1 - Decimal(str(level))) / 2
    k = int(math.ceil(alpha * n_boot))
    if k < 1:
        raise ValueError("level too tight for n_boot: ceil(alpha*B) < 1")
    # integer thresholds: multiplicity m ⇔ h >= floor(cdf(m-1)·2^32)
    pmf, cum, thresholds = math.exp(-1.0), 0.0, []
    for i in range(max_mult):
        cum += pmf
        thresholds.append(math.floor(cum * 2**32))
        pmf /= i + 1
    gcols = [group_col] if group_col else []
    v = F.col(value_col).cast(value_decimal)
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
        & (F.col(group_col).isNotNull() if group_col else F.lit(True))
    ).select(
        *gcols, v.alias("__v"), F.col(key_col).cast("string").alias("__k")
    )
    # widen the narrow scan before the ×B replicate fan-out: rows×B
    # md5 evaluations are this op's entire cost and run map-side —
    # above a single-row-group file the whole bootstrap would grind on
    # one core (core.widen_scan; the exchange moves only
    # (group, key, decimal value) rows, ~1/B of the stage's output)
    from bubbles_spark.ops.core import widen_scan

    reps = widen_scan(base).withColumn(
        "__b", F.explode(F.sequence(F.lit(1), F.lit(n_boot)))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("__b"), F.col("__k"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    mult = None
    for t in thresholds:
        term = (h >= F.lit(t)).cast("int")
        mult = term if mult is None else mult + term
    means = (
        reps.withColumn("__m", mult)
        .groupBy(*gcols, "__b")
        .agg(
            F.sum("__m").cast("bigint").alias("__sw"),
            F.sum(F.col("__m") * F.col("__v")).alias("__swv"),
        )
        .filter(F.col("__sw") > 0)
        .select(
            *gcols,
            "__b",
            (
                F.col("__swv").cast("double") / F.col("__sw").cast("double")
            ).alias("__mean"),
        )
    )
    overall = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.sum("__v").cast("double") / F.count(F.lit(1))).alias("mean"),
    )
    out_cols = [
        *gcols,
        "n_rows",
        F.lit(n_boot).cast("bigint").alias("n_boot"),
        "n_effective",
        "mean",
        "ci_lo",
        "ci_hi",
        F.lit(float(level)).alias("level"),
    ]
    if group_col:
        w_lo = Window.partitionBy(group_col).orderBy(
            F.col("__mean").asc(), F.col("__b").asc()
        )
        w_hi = Window.partitionBy(group_col).orderBy(
            F.col("__mean").desc(), F.col("__b").asc()
        )
        ends = (
            means.withColumn("__rlo", F.row_number().over(w_lo))
            .withColumn("__rhi", F.row_number().over(w_hi))
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_effective"),
                F.max(F.when(F.col("__rlo") == k, F.col("__mean"))).alias(
                    "ci_lo"
                ),
                F.max(F.when(F.col("__rhi") == k, F.col("__mean"))).alias(
                    "ci_hi"
                ),
            )
        )
        # LEFT join + coalesce: a group whose every replicate drew
        # zero copies has no rows in `means`/`ends` at all — it must
        # still report n_rows/mean with n_effective=0 and NULL
        # endpoints (exactly what the global path emits), not vanish
        return (
            overall.join(ends, group_col, "left")
            .withColumn(
                "n_effective",
                F.coalesce(F.col("n_effective"), F.lit(0).cast("bigint")),
            )
            .select(*out_cols)
        )
    lo = means.orderBy(F.col("__mean").asc(), F.col("__b").asc()).limit(k).agg(
        F.max("__mean").alias("__lo_raw")
    )
    hi = means.orderBy(F.col("__mean").desc(), F.col("__b").asc()).limit(k).agg(
        F.min("__mean").alias("__hi_raw")
    )
    eff = means.agg(F.count(F.lit(1)).cast("bigint").alias("n_effective"))
    # degenerate guard mirroring the grouped path: with fewer than k
    # non-empty replicates the rank-k endpoint does not exist, so emit
    # NULL rather than the most extreme available replicate mean
    # (the grouped path's __rlo == k window match yields NULL there)
    enough = F.col("n_effective") >= k
    return (
        overall.crossJoin(F.broadcast(eff))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .withColumn("ci_lo", F.when(enough, F.col("__lo_raw")))
        .withColumn("ci_hi", F.when(enough, F.col("__hi_raw")))
        .select(*out_cols)
    )


# Caps of the rank tests' single-task cell folds.  They bound ONE
# task's memory (the cell table; Anderson–Darling's zero-filled k×V
# grid) and the int64 exactness of the integer folds ((Σ rows)²/2 for
# the rank sums, Σ c·r2x·r2y ≤ 4n³ for Spearman's moments), so they
# are not tuning knobs.  Inputs past any cap take the distributed
# path, which folds the same exact integers.
_CELL_FOLD_MAX_CELLS = 2_000_000
_CELL_FOLD_MAX_ROWS = 100_000_000
_CELL_FOLD_MAX_GRID = 4_000_000
_SPEARMAN_FOLD_MAX_ROWS = 1_000_000


def _sized_cells(
    src: DataFrame,
    cells: DataFrame,
    count_col: str,
    *,
    max_rows: int | None = None,
    max_grid: int | None = None,
) -> tuple[DataFrame, bool]:
    """The rank tests' one size decision, ``(table, fold)``: whether
    the lazy count table ``cells`` of the input ``src`` fits the
    single-task fold, and the table both branches then read.

    Cells and summed counts never exceed input rows, so where
    ``core.fits`` proves from parquet footers, with no Spark job, that
    ``src`` is within both caps, the fold reads ``cells`` unpinned
    inside the sink job.  Otherwise, and always under ``max_grid``
    (no row count bounds the k×V grid), the cells are pinned and
    ``_cells_fit`` probes them."""
    max_rows = _CELL_FOLD_MAX_ROWS if max_rows is None else max_rows
    # the footer bound alone: the fallback below pins before it probes
    if max_grid is None and core.fits(
        src, max_rows=min(max_rows, _CELL_FOLD_MAX_CELLS), probe=lambda: False
    ):
        return cells, True
    cells = cells.localCheckpoint(eager=False)
    return cells, _cells_fit(cells, count_col, max_rows, max_grid)


def _cells_fit(cells: DataFrame, count_col: str, max_rows: int, max_grid: int | None) -> bool:
    """The rank tests' size probe: True when the pinned count table
    ``cells`` fits the single-task fold — at most
    ``_CELL_FOLD_MAX_CELLS`` cells and ``max_rows`` input rows (the
    sum of ``count_col``), and with ``max_grid`` set, a (distinct
    ``__grp``) × (distinct ``__v``) grid of at most that size.  An
    empty table takes the distributed path.  One collected 1-row
    aggregate, 3 Spark jobs under AQE: it also materializes the pin,
    so either branch then reads the pinned cells."""
    aggs = [F.count(F.lit(1)).alias("__cells"), F.sum(count_col).alias("__rows")]
    if max_grid is not None:
        aggs += [
            F.countDistinct("__grp").alias("__k"),
            F.countDistinct("__v").alias("__nv"),
        ]
    sz = cells.agg(*aggs).collect()[0]
    if not (
        0 < sz["__cells"] <= _CELL_FOLD_MAX_CELLS
        and int(sz["__rows"] or 0) <= max_rows
    ):
        return False
    return max_grid is None or int(sz["__k"]) * int(sz["__nv"]) <= max_grid


def _fold_row(folded: DataFrame, zero: Sequence[str] = ()) -> DataFrame:
    """A one-row cell fold as the global aggregate the distributed
    path ends in: the fold's row, or, when the input filters to no
    cells (the fold then emits nothing), the distributed path's one
    row — NULL but for its row-count columns ``zero``, which read 0.
    On the fold's single partition this adds no exchange."""
    return folded.agg(*[
        (F.coalesce(F.max(c), F.lit(0)) if c in zero else F.max(c)).alias(c)
        for c in folded.columns
    ])


def _exact_int_sum(r) -> int:
    """Exact sum of an array of integral doubles (the decimal(38,0)
    folds): one int64 vector sum when provably in range, unbounded
    Python ints otherwise — the conversions are exact either way."""
    import numpy as np

    if r.size and float(np.abs(r).max()) * r.size < 2**62:
        return int(r.astype(np.int64).sum())
    return sum(int(x) for x in r)


def _group_value_cells(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The lazy per-(group, value) count table (__grp, __v, __cg) of
    the non-NULL pairs: ONE corpus aggregate that the fold or every
    distributed consumer reads (the pooled counts derive from it by
    exact integer sums); multi-consumer callers pin it."""
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("__grp"), F.col(value_col).alias("__v"))
    return (
        base.groupBy("__grp", "__v")
        .agg(F.count(F.lit(1)).alias("__cg"))
    )


def _two_arm_cells(
    df: DataFrame, group_col: str, value_col: str, group_a, group_b
) -> DataFrame:
    """The lazy two-arm value-count table (__g = 0, __v, __c pooled
    count, __ca arm-a count) of the non-NULL values of the two named
    arms: ONE corpus aggregate, and the cumulative machinery runs on
    the reduced table — counts are identical, so every downstream
    operand is bit-exact.  Multi-consumer callers pin it."""
    both = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        (F.col(group_col) == F.lit(group_a)).cast("int").alias("__isa"),
        F.col(value_col).alias("__v"),
        F.lit(0).alias("__g"),
    )
    return (
        both.groupBy("__g", "__v")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum("__isa").alias("__ca"),
        )
    )


def _group_rank_sums(cgv: DataFrame):
    """Distributed doubled rank sums over ``_group_value_cells``: the
    pooled per-value cumulative (__v, __c, __cum) and the per-group
    table (__grp, __2rg = Σ c_g·(2·cum − c + 1), __ng)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    pooled = (
        cgv.groupBy("__v")
        .agg(F.sum("__cg").cast("bigint").alias("__c"))
        .withColumn("__g", F.lit(0))
    )
    cum = _cum_counts_prebuilt(pooled, "__g", "__v").select(
        "__v", "__c", "__cum"
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_group = (
        cgv.join(cum, "__v")
        .groupBy("__grp")
        .agg(
            F.sum(
                d(F.col("__cg"))
                * d(F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1))
            ).alias("__2rg"),
            F.sum("__cg").cast("bigint").alias("__ng"),
        )
    )
    return cum, per_group


def _two_arm_rank_sums(cva: DataFrame) -> DataFrame:
    """Distributed doubled arm-a rank sum over ``_two_arm_cells``: one
    row with ``__2r1 = Σ c_a·(2·cum − c + 1)``, n_a, __n and the cubic
    tie sum __tie3 (pruned by Catalyst where unused)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    cum = _cum_counts_prebuilt(cva.select("__g", "__v", "__c"), "__g", "__v")
    j = cum.join(cva.select("__v", "__ca"), "__v")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return j.agg(
        F.sum(
            d(F.col("__ca"))
            * d(F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1))
        ).alias("__2r1"),
        F.sum("__ca").cast("bigint").alias("n_a"),
        F.sum("__c").cast("bigint").alias("__n"),
        F.sum(
            d(F.col("__c")) * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("__tie3"),
    )


def _cva_local_stats(cva: DataFrame) -> DataFrame:
    """Single-task rank-sum sufficient statistics over the pooled
    two-arm value-count table (columns __v, __c, __ca): one row with
    the doubled arm-a rank sum ``2R₁ = Σ c_a·(2·cum − c + 1)``, arm-a
    and total counts, and the cubic tie sum — ``_two_arm_rank_sums``'s
    aggregate.  Pure exact integer folds on dense value ranks
    (unbounded Python ints for the sums); no IEEE arithmetic at all,
    so bit-identity with the distributed cum machinery is by
    construction."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("__2r1", DecimalType(38, 0), False),
            StructField("n_a", LongType(), False),
            StructField("__n", LongType(), False),
            StructField("__tie3", DecimalType(38, 0), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        cv = _dense_codes(pdf["__v"].to_numpy())
        c = pdf["__c"].to_numpy().astype(np.int64)
        ca = pdf["__ca"].to_numpy().astype(np.int64)
        order = np.argsort(cv, kind="stable")
        c, ca = c[order], ca[order]
        cum = c.cumsum()
        two_r1 = sum(
            int(a) * (2 * int(u) - int(t) + 1)
            for a, u, t in zip(ca, cum, c)
            if a
        )
        tie3 = sum(int(t) ** 3 - int(t) for t in c[c > 1])
        return pd.DataFrame(
            {
                "__2r1": [Decimal(two_r1)],
                "n_a": pd.Series([int(ca.sum())], dtype="int64"),
                "__n": pd.Series([int(cum[-1])], dtype="int64"),
                "__tie3": [Decimal(tie3)],
            }
        )

    return core._one_task_fold(cva, schema, fold)


def _ab_local_stats(cva: DataFrame) -> DataFrame:
    """Single-task Ansari–Bradley sufficient statistics over the same
    pooled two-arm value-count table: one row with n_a, total count,
    the exact block-score sum Σa, and the HALF_UP micro-quantized
    ``c_a·S/c`` and ``S²/c`` block-term sums (see ``ansari_bradley``
    for the closed forms; the per-block IEEE sequences and the
    quantization are replayed exactly by ``core._q_halfup``)."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("n_a", LongType(), False),
            StructField("__nt", LongType(), False),
            StructField("__sa", DecimalType(38, 0), False),
            StructField("__wq", DecimalType(38, 0), False),
            StructField("__sq", DecimalType(38, 0), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        cv = _dense_codes(pdf["__v"].to_numpy())
        c = pdf["__c"].to_numpy().astype(np.int64)
        ca = pdf["__ca"].to_numpy().astype(np.int64)
        order = np.argsort(cv, kind="stable")
        c, ca = c[order], ca[order]
        cum = c.cumsum()
        n = int(cum[-1])
        h = (n + 1) // 2

        def s_prefix(x):
            # S(x) = Σ_{r≤x} min(r, N+1−r), exact integer closed form
            # vectorized in int64 (bounded ≤ N²/2 under the row cap;
            # x(x+1)/2 is integral, so the decimal /2 was exact too)
            up = x * (x + 1) // 2
            tail = (
                h * (h + 1) // 2
                + (x - h) * (n + 1)
                - (up - h * (h + 1) // 2)
            )
            return np.where(x <= h, up, tail)

        blk = s_prefix(cum) - s_prefix(cum - c)
        sa = int(blk.sum())  # ≤ S(N) ≤ N²/4 — int64-safe under the cap
        cd = c.astype(np.float64)
        bd = blk.astype(np.float64)
        w_term = ca.astype(np.float64) * bd / cd
        sq_term = bd * bd / cd
        return pd.DataFrame(
            {
                "n_a": pd.Series([int(ca.sum())], dtype="int64"),
                "__nt": pd.Series([n], dtype="int64"),
                "__sa": [Decimal(sa)],
                "__wq": [Decimal(_exact_int_sum(core._q_halfup(w_term * 1e6)))],
                "__sq": [Decimal(_exact_int_sum(core._q_halfup(sq_term * 1e6)))],
            }
        )

    return core._one_task_fold(cva, schema, fold)


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two named
    groups — the nonparametric two-sample test for "do these arms
    differ in location?" when Welch's normality story is doubtful.
    Average ranks for ties, the standard tie-corrected normal
    approximation for z (Mann & Whitney 1947, public).

    Exactness: everything until z is INTEGER arithmetic — per-value
    counts (a giant arm collapses to its distinct values, map-side
    combined), the combined cumulative via ``drift._grouped_cum_counts``
    (value-bucketed two-phase, no single-task sort), and the rank sum
    kept DOUBLED (``2·R1 = Σ c_a·(2·cum − c + 1)``) so tie half-ranks
    stay integral; DECIMAL(38,0) accumulators (the tie cube Σ(t³−t)
    overflows BIGINT long before DECIMAL).  U, the mean, the
    tie-corrected variance, and z are then a fixed IEEE sequence on
    those exact operands (÷2 is exact in binary; one sqrt, correctly
    rounded).  Degenerate cases (an empty arm, all values tied) yield
    NULL z, never Inf/NaN.

    P-values deliberately not emitted (module docstring).

    Output (one row): n_a, n_b, u_a, u_b, rank_sum_a, mean_u, z."""
    cva, fold = _sized_cells(df, _two_arm_cells(df, group_col, value_col, group_a, group_b), "__c")
    if fold:
        agg = _fold_row(_cva_local_stats(cva))
    else:
        agg = _two_arm_rank_sums(cva)
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    nd = F.col("__n").cast("double")
    r1 = F.col("__2r1").cast("double") / F.lit(2.0)
    u1 = r1 - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    mean_u = n1 * n2 / F.lit(2.0)
    var_u = (
        n1
        * n2
        / F.lit(12.0)
        * (
            (nd + F.lit(1.0))
            - F.col("__tie3").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (F.col("__n") > 1)
        & (var_u > 0),
        (u1 - mean_u) / F.sqrt(var_u),
    )
    return (
        agg.withColumn("n_b", F.col("__n") - F.col("n_a"))
        .select(
            "n_a",
            F.col("n_b").cast("bigint").alias("n_b"),
            u1.alias("u_a"),
            (n1 * n2 - u1).alias("u_b"),
            r1.alias("rank_sum_a"),
            mean_u.alias("mean_u"),
            z.alias("z"),
        )
    )


def _kw_local_stats(cgv: DataFrame) -> DataFrame:
    """Single-task Kruskal–Wallis sufficient statistics over the
    per-(group, value) cell table (columns __grp, __v, __cg): one row
    with the distributed path's final aggregate — k, n, __s (the
    micro-quantized Σ R_g²/n_g fold, decimal(38,0)), __tie3.

    Exact replay: pooled cums/doubled rank sums are integer folds on
    dense value ranks; each group's term repeats the same IEEE
    sequence ``(2R_g)²/(4·n_g)·1e6`` on the same correctly-rounded
    double operands with the HALF_UP shortest-decimal quantization
    (``core._q_halfup``); the cubic tie sum uses unbounded Python ints."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("n", LongType(), False),
            StructField("__s", DecimalType(38, 0), False),
            StructField("__tie3", DecimalType(38, 0), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        cg = _dense_codes(pdf["__grp"].to_numpy())
        cv = _dense_codes(pdf["__v"].to_numpy())
        w = pdf["__cg"].to_numpy().astype(np.int64)
        k = int(cg.max()) + 1
        nv = int(cv.max()) + 1
        # pooled per-value counts and cumulative (value-rank order)
        c = np.zeros(nv, dtype=np.int64)
        np.add.at(c, cv, w)
        cum = c.cumsum()
        n = int(cum[-1])
        # per-group doubled rank sums: Σ_cells cg·(2·cum_v − c_v + 1);
        # n ≤ the caller's row cap, so per-cell products fit int64,
        # but the per-group SUMS can pass 2^63 — fold as Python ints
        contrib = w * (2 * cum[cv] - c[cv] + 1)
        ng = np.zeros(k, dtype=np.int64)
        np.add.at(ng, cg, w)
        order = np.argsort(cg, kind="stable")
        bounds = np.flatnonzero(
            np.r_[True, cg[order][1:] != cg[order][:-1], True]
        )
        # segments come in group-code order 0..k-1, aligned with ng
        two_rg = np.array(
            [
                float(sum(int(x) for x in contrib[order[lo:hi]]))
                for lo, hi in zip(bounds[:-1], bounds[1:])
            ]
        )
        term = (two_rg * two_rg) / (4.0 * ng.astype(np.float64)) * 1e6
        tie3 = sum(int(t) ** 3 - int(t) for t in c[c > 1])
        return pd.DataFrame(
            {
                "k": pd.Series([k], dtype="int64"),
                "n": pd.Series([n], dtype="int64"),
                "__s": [Decimal(_exact_int_sum(core._q_halfup(term)))],
                "__tie3": [Decimal(tie3)],
            }
        )

    return core._one_task_fold(cgv, schema, fold)


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal–Wallis H test across ALL groups of ``group_col`` — the
    k-group extension of ``mann_whitney_u`` (rank-based one-way
    ANOVA; Kruskal & Wallis 1952, public), with the standard tie
    correction.

    Exactness: per-(group, value) counts and the combined per-value
    cumulative are INTEGER (same machinery as mann_whitney_u — no
    single-task sort, giant groups collapse to their distinct
    values); per-group rank sums stay DOUBLED so tie half-ranks are
    integral.  The one cross-group float sum — Σ_g R_g²/n_g — is
    pinned to DECIMAL(38,6) before summing (order-free; the
    ``anova_oneway`` precedent and budget).  H, the tie divisor
    ``1 − Σ(t³−t)/(N³−N)``, and the corrected statistic are then a
    fixed IEEE sequence.  Degenerate cases (k < 2, all values tied)
    yield NULL.

    Output (one row): k, n, df, h_stat, tie_divisor, h_tied."""
    cgv, fold = _sized_cells(df, _group_value_cells(df, group_col, value_col), "__cg")
    if fold:
        agg = _fold_row(_kw_local_stats(cgv), zero=("k",))
    else:
        cum, per_group = _group_rank_sums(cgv)
        two_rg = F.col("__2rg").cast("double")
        # micro-quantized INTEGER decimal, not CAST(... AS
        # DECIMAL(38,6)): the term needs ~17 significant digits and
        # fractional-scale double→decimal conversion diverges 1 ulp
        # between engines there (measured on this very query);
        # round-to-integer of a shared IEEE product is identical in
        # both, and an INTEGER decimal → double cast is the
        # correctly-rounded int conversion both ways
        term = F.round(
            (two_rg * two_rg)
            / (F.lit(4.0) * F.col("__ng").cast("double"))
            * F.lit(1e6),
            0,
        ).cast("decimal(38,0)")
        d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        ties = cum.agg(
            F.sum(
                d(F.col("__c")) * F.col("__c") * F.col("__c") - F.col("__c")
            ).alias("__tie3")
        )
        agg = per_group.agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("__ng").cast("bigint").alias("n"),
            F.sum(term).alias("__s"),
        ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    sd = F.col("__s").cast("double") / F.lit(1e6)
    h = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0)))
    ) * sd - F.lit(3.0) * (nd + F.lit(1.0))
    divisor = F.lit(1.0) - F.col("__tie3").cast("double") / (
        nd * nd * nd - nd
    )
    h_ok = (F.col("k") > 1) & (F.col("n") > 1)
    return agg.select(
        "k",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.when(h_ok, h).alias("h_stat"),
        F.when(h_ok, divisor).alias("tie_divisor"),
        F.when(h_ok & (divisor > 0), h / divisor).alias("h_tied"),
    )


def effect_size_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    scale: int = 6,
) -> DataFrame:
    """Standardized effect sizes between two arms — Cohen's d on the
    pooled SD and the small-sample Hedges' g correction
    (``g = d·(1 − 3/(4N − 9))``; Cohen 1988 / Hedges 1981, public) —
    the practical-significance companion to ``welch_t_test``'s
    statistical significance (a tiny p with d ≈ 0 ships nothing).

    Exactness: built on the same micro-scaled integer moments as
    welch_t_test, so means/variances are fixed IEEE sequences on
    exact operands; d adds one pooled-variance expression and one
    correctly-rounded sqrt.  Arms with n < 2 or zero pooled variance
    yield NULL d/g.

    Output (one row): group_a, group_b, n_a, n_b, mean_a, mean_b,
    pooled_sd, cohens_d, hedges_g."""
    stats = _scaled_moments(df, group_col, value_col, scale)
    down1 = float(10**scale)
    down2 = float(10 ** (2 * scale))

    def _arm(g, suffix):
        n = F.col("n").cast("double")
        s1 = F.col("s1").cast("double")
        s2 = F.col("s2").cast("double")
        mean = (s1 / n) / F.lit(down1)
        var = F.when(
            F.col("n") > 1,
            ((s2 - s1 * s1 / n) / (n - F.lit(1.0))) / F.lit(down2),
        )
        return stats.filter(F.col("grp") == F.lit(g)).select(
            F.col("grp").alias(f"group_{suffix}"),
            F.col("n").alias(f"n_{suffix}"),
            mean.alias(f"mean_{suffix}"),
            var.alias(f"var_{suffix}"),
        )

    j = _arm(group_a, "a").crossJoin(F.broadcast(_arm(group_b, "b")))
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    pooled_var = (
        (n1 - F.lit(1.0)) * F.col("var_a")
        + (n2 - F.lit(1.0)) * F.col("var_b")
    ) / (n1 + n2 - F.lit(2.0))
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (pooled_var > 0)
    sd = F.when(ok, F.sqrt(pooled_var))
    d = F.when(ok, (F.col("mean_a") - F.col("mean_b")) / F.sqrt(pooled_var))
    g = F.when(
        ok,
        (F.col("mean_a") - F.col("mean_b"))
        / F.sqrt(pooled_var)
        * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n1 + n2) - F.lit(9.0))),
    )
    return j.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        sd.alias("pooled_sd"),
        d.alias("cohens_d"),
        g.alias("hedges_g"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 6,
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across ALL groups —
    Levene's test with the median center (Brown & Forsythe 1974,
    public): one-way ANOVA on each row's absolute deviation from its
    group's median.  The "can I even pool these variances?" gate that
    belongs in front of anova_oneway / effect_size_report.

    Composition of two existing exact pieces: per-group TYPE-1
    medians from ``drift.group_quantiles`` (rank arithmetic, no
    interpolation float — the standard BF median up to the type-1 vs
    midpoint convention, stated here) broadcast back, then
    ``anova_oneway``'s micro-scaled integer moments over
    ``|x − median|`` (one IEEE subtract + abs each — exact).  The F
    on deviations IS the W statistic.

    Output: anova_oneway's row with f_stat renamed w_stat."""
    from bubbles_spark.ops.drift import group_quantiles

    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("__grp"), F.col(value_col).alias("__v"))
    meds = group_quantiles(base, "__grp", "__v", [0.5]).select(
        "__grp", F.col("value").alias("__med")
    )
    devs = base.join(F.broadcast(meds), "__grp").select(
        "__grp",
        F.abs(F.col("__v").cast("double") - F.col("__med").cast("double"))
        .alias("__dev"),
    )
    return anova_oneway(devs, "__grp", "__dev", scale).withColumnRenamed(
        "f_stat", "w_stat"
    )


def paired_t_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
    scale: int = 6,
) -> DataFrame:
    """Paired-samples t test over two measurement columns of the SAME
    rows (before/after, variant-A/variant-B per user) — the one-sample
    t on the per-row differences, the correct test when arms are
    paired and ``welch_t_test``'s independence assumption fails.

    Exactness: the difference is ONE IEEE subtract per row; its
    micro-scaled integer moments (module discipline) give mean and
    variance as fixed sequences; ``t = mean_d / (sd_d / √n)`` adds
    two divisions and one correctly-rounded sqrt.  Rows where either
    side is NULL are dropped (complete-pairs analysis, stated).
    n < 2 or zero variance yields NULL t.

    Output (one row): n, mean_diff, var_diff, t_stat, df."""
    d = F.col(a_col).cast("double") - F.col(b_col).cast("double")
    base = df.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(F.lit(0).alias("__g"), d.alias("__d"))
    stats = _scaled_moments(base, "__g", "__d", scale)
    down1 = float(10**scale)
    down2 = float(10 ** (2 * scale))
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean = (s1 / n) / F.lit(down1)
    var = F.when(
        F.col("n") > 1,
        ((s2 - s1 * s1 / n) / (n - F.lit(1.0))) / F.lit(down2),
    )
    t = F.when(
        (F.col("n") > 1) & (var > 0),
        mean / F.sqrt(var / n),
    )
    return stats.select(
        F.col("n"),
        mean.alias("mean_diff"),
        var.alias("var_diff"),
        t.alias("t_stat"),
        (F.col("n") - 1).cast("bigint").alias("df"),
    )


def _spearman_cells(base: DataFrame) -> DataFrame:
    """The shared reduction both spearman paths start from: one
    map-side-combined count per (group, x, y) triple (one corpus
    aggregation for everything downstream — the fast fold, or, pinned
    by ``_sized_cells``, the distributed rank machinery, which joins
    cells-sized tables instead of raw rows)."""
    return base.groupBy("__g", "__x", "__y").agg(F.count(F.lit(1)).alias("__cc"))


def _spearman_local_moments(cells: DataFrame) -> DataFrame:
    """Single-task Spearman sufficient statistics over the
    (group, x, y, count) cell table: one row per group with n and the
    five exact sums (Σ2Rx, Σ2Ry, Σ2Rx·2Ry, Σ(2Rx)², Σ(2Ry)² — all
    DECIMAL(38,0)) the rho tail consumes.  Doubled average ranks per
    (group, value) come from per-group cumulative counts on dense
    value ranks; every product stays int64 under the caller's row cap
    (4n³ < 2⁶³), so the fold is pure vectorized integer arithmetic —
    bit-identity with the distributed machinery is reassociation of
    exact sums."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    gf = cells.schema["__g"]
    schema = StructType(
        [
            StructField("__g", gf.dataType, True),
            StructField("n", LongType(), False),
            StructField("__sx", DecimalType(38, 0), False),
            StructField("__sy", DecimalType(38, 0), False),
            StructField("__sxy", DecimalType(38, 0), False),
            StructField("__sxx", DecimalType(38, 0), False),
            StructField("__syy", DecimalType(38, 0), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        gix, guniq = pd.factorize(pdf["__g"], use_na_sentinel=False)
        gix = np.asarray(gix, dtype=np.int64)
        k = int(gix.max()) + 1
        cc = pdf["__cc"].to_numpy().astype(np.int64)

        def doubled_ranks(codes):
            # per-cell doubled average rank of its (group, value):
            # 2R = 2·cum − c + 1 over the group's value-ordered counts
            o = np.lexsort((codes, gix))
            gs, cs, ws = gix[o], codes[o], cc[o]
            new = np.r_[True, (gs[1:] != gs[:-1]) | (cs[1:] != cs[:-1])]
            seg = np.cumsum(new) - 1
            segw = np.zeros(int(seg[-1]) + 1, dtype=np.int64)
            np.add.at(segw, seg, ws)
            seg_g = gs[np.flatnonzero(new)]
            cumw = np.cumsum(segw)
            gstart = np.r_[True, seg_g[1:] != seg_g[:-1]]
            starts = np.flatnonzero(gstart)
            base_off = np.r_[0, cumw[:-1]][starts]
            off = base_off[np.cumsum(gstart) - 1]
            r2 = 2 * (cumw - off) - segw + 1
            out = np.empty(len(cc), dtype=np.int64)
            out[o] = r2[seg]
            return out

        r2x = doubled_ranks(_dense_codes(pdf["__x"].to_numpy()))
        r2y = doubled_ranks(_dense_codes(pdf["__y"].to_numpy()))

        def gsum(vals):
            acc = np.zeros(k, dtype=np.int64)
            np.add.at(acc, gix, vals)
            return acc

        n_g = gsum(cc)
        sx = gsum(cc * r2x)
        sy = gsum(cc * r2y)
        sxy = gsum(cc * r2x * r2y)
        sxx = gsum(cc * r2x * r2x)
        syy = gsum(cc * r2y * r2y)
        return pd.DataFrame(
            {
                "__g": pd.Series(guniq),
                "n": pd.Series(n_g, dtype="int64"),
                "__sx": [Decimal(int(v)) for v in sx],
                "__sy": [Decimal(int(v)) for v in sy],
                "__sxy": [Decimal(int(v)) for v in sxy],
                "__sxx": [Decimal(int(v)) for v in sxx],
                "__syy": [Decimal(int(v)) for v in syy],
            }
        )

    return core._one_task_fold(cells, schema, fold)


def _spearman_moments(base: DataFrame) -> DataFrame:
    """Per-group Spearman moments table (__g, n, __sx, __sy, __sxy,
    __sxx, __syy) — dispatched by ``_sized_cells`` (the r13 cell-fold
    discipline): small inputs fold in one task, larger ones run the
    distributed rank machinery over the same cells, pinned."""
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cells, fold = _sized_cells(
        base, _spearman_cells(base), "__cc", max_rows=_SPEARMAN_FOLD_MAX_ROWS
    )
    if fold:
        return _spearman_local_moments(cells)
    t = _spearman_suffstats(cells)
    return t.groupBy("__g").agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum(F.col("__tx")).alias("__sx"),
        F.sum(d(F.col("__c")) * F.col("__r2y")).alias("__sy"),
        F.sum(F.col("__tx") * F.col("__r2y")).alias("__sxy"),
        F.sum(F.col("__txx")).alias("__sxx"),
        F.sum(d(F.col("__c")) * F.col("__r2y") * F.col("__r2y")).alias(
            "__syy"
        ),
    )


def _spearman_suffstats(cells: DataFrame) -> DataFrame:
    """Shared Spearman machinery over ``(__g, __x, __y)`` rows (NULLs
    already dropped): doubled average x-ranks joined on, then ONE
    map-side-combined aggregate per ``(__g, __y)`` carrying the row
    count ``__c`` and the exact decimal partials ``__tx = Σ r2x`` /
    ``__txx = Σ r2x²`` — that aggregate IS the per-(group, value)
    counts table the cumulative-rank machinery wants, so the y ranks
    come from feeding it straight to ``_cum_counts_prebuilt`` and the
    y side NEVER joins back to the raw rows.  r13: vs the symmetric
    two-rank-join shape this removes one full counts pass over the
    corpus and the corpus↔rank-table y join (the dominant shuffle when
    y is near-unique), and moves the five-sum moment aggregate from
    corpus-sized to distinct-y-sized.

    Exactness: ``__c``/``__tx``/``__txx`` are exact integer /
    DECIMAL(38,0) sums; regrouping Σ r2x·f(y) as Σ_y (Σ r2x)·f(y) is
    reassociation of exact integer addition — every downstream
    sufficient statistic is value-identical to the join-based shape,
    so rho's IEEE sequence is bit-identical.

    Output: one row per (__g, __y) with __c (bigint), __tx, __txx
    (decimal(38,0)), __r2y (bigint doubled average y-rank).

    r13 fourth session: the input is now the PINNED (group, x, y,
    count) cell table (``_spearman_cells``) rather than raw rows —
    the x-rank join and the per-(g, y) moment aggregate run on
    cells-sized tables, and every sum regroups the same exact
    integers (Σ over rows of f(r2x) = Σ over cells of count·f(r2x)),
    so all downstream operands stay bit-identical."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    r2 = lambda: (  # noqa: E731
        F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1)
    ).cast("bigint")
    # ONE size decision on the pinned cells sizes BOTH
    # counts tables: distinct values ≤ cells, so a small cell table
    # proves both small paths and the per-table probes are skipped.
    hint = True if core.fits(cells, max_rows=core._SMALL_RANK_ROWS) else None
    cgx = cells.groupBy("__g", "__x").agg(
        F.sum("__cc").cast("bigint").alias("__c")
    )
    cumx = _cum_counts_prebuilt(cgx, "__g", "__x", small_hint=hint)
    rx = cumx.select("__g", "__x", r2().alias("__r2x"))
    withx = cells.join(rx, ["__g", "__x"])
    g = withx.groupBy("__g", "__y").agg(
        F.sum("__cc").alias("__c"),
        F.sum(d(F.col("__r2x")) * F.col("__cc")).alias("__tx"),
        F.sum(
            d(F.col("__r2x")) * F.col("__r2x") * F.col("__cc")
        ).alias("__txx"),
    )
    cum = _cum_counts_prebuilt(g, "__g", "__y", small_hint=hint)
    return cum.withColumn("__r2y", r2())


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns —
    Pearson's r computed on average ranks, the monotone-association
    measure that ``audit.correlation_matrix`` deliberately punts on
    ("rank first for spearman": this is that rank step, distributed).
    Average ranks for ties (the standard definition; Spearman 1904,
    public).

    Exactness: ranks are kept DOUBLED so tie half-ranks stay integral
    (per distinct value, ``2·avg_rank = 2·cum − c + 1`` from the
    value-bucketed cumulative — the ``mann_whitney_u`` identity), so
    all five sufficient statistics are exact DECIMAL(38,0) integer
    sums; the doubling cancels in the correlation ratio.  rho is then
    a fixed IEEE sequence: each sum cast to double once (exact while
    the doubled-rank products stay under ~15-16 significant digits —
    n up to ~10⁵ rows is fully exact, beyond that last-ulp only), two
    multiplies, one sqrt, one division — identical in the SQL mirror.
    Ties in BOTH columns are handled; zero rank variance on either
    side (all values equal) yields NULL rho.

    Scale: the x rank table is one keyed count over DISTINCT values
    plus the two-phase cumulative (``_grouped_cum_counts`` — no
    single-task sort), joined back on the value; the y side never
    joins back at all — see ``_spearman_suffstats``.

    Output (one row): n (bigint), rho (double)."""
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.lit(0).alias("__g"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )
    m = _spearman_moments(base)
    # re-sum the ≤1-row per-group moments globally: identity on one
    # group, and an empty input still emits ONE row with n = 0, the
    # row-count aggregate's contract (sums stay NULL → rho NULL)
    agg = m.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n"),
        F.sum("__sx").alias("__sx"),
        F.sum("__sy").alias("__sy"),
        F.sum("__sxy").alias("__sxy"),
        F.sum("__sxx").alias("__sxx"),
        F.sum("__syy").alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    denx = n * F.col("__sxx").cast("double") - sx * sx
    deny = n * F.col("__syy").cast("double") - sy * sy
    rho = F.when((denx > 0) & (deny > 0), num / F.sqrt(denx * deny))
    return agg.select("n", rho.alias("rho"))


def _envelope_over_rank(
    ranked: DataFrame, val, m: int, step_up: bool, out: str
) -> DataFrame:
    """Monotone envelope of ``val`` along a dense global ``rank``
    column: suffix-min for step-up procedures (BH/BY), prefix-max for
    step-down (Holm).  At or under ``_SMALL_RANK_ROWS`` this is ONE
    ordered window task — hypothesis tables are test results (metrics
    × segments), so that is the overwhelmingly common case.  Above
    it, the prefix scan's two-phase shape: the dense rank cuts into
    contiguous fixed-width buckets numbered in scan order (a pure
    function of the rank — no sampling, no pid), an in-bucket running
    min/max parallelizes across buckets, and ``core._carry`` brings
    the earlier buckets' min/max — never a data-sized single-task
    sort.  min/max are order-insensitive, so the result is
    bit-identical to the one-window plan."""
    from pyspark.sql import Window

    agg = F.min if step_up else F.max
    run = (
        Window.orderBy(F.col("rank").desc() if step_up else F.col("rank").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = ranked.withColumn("__val", val)
    if m <= core._SMALL_RANK_ROWS:
        run = run.partitionBy(F.lit(0))
        return t.withColumn(out, agg("__val").over(run)).drop("__val")
    width = -(-m // core.shuffle_partitions(ranked.sparkSession))
    pos = F.lit(m) - F.col("rank") if step_up else F.col("rank") - F.lit(1)
    t = core._carry(
        t.withColumn("__bkt", (pos / F.lit(width)).cast("bigint")),
        (),
        {"__carry": agg("__val")},
        agg,
    )
    pick = F.least if step_up else F.greatest
    return t.withColumn(
        out, pick(agg("__val").over(run.partitionBy("__bkt")), F.col("__carry"))
    ).drop("__val", "__bkt", "__carry", "__carry_tot")


def fdr_correct(
    df: DataFrame,
    p_col: str,
    id_col: str,
    alpha: float = 0.05,
    method: str = "bh",
) -> DataFrame:
    """Multiple-testing correction over a table of p-values — the
    step every metrics-platform sweep needs after running
    ``welch_t_test``/``mann_whitney_u`` per segment: which of the m
    hypotheses survive at level ``alpha``?  Methods: ``bh``
    (Benjamini–Hochberg step-up FDR), ``by`` (Benjamini–Yekutieli,
    FDR under arbitrary dependence), ``holm`` (step-down FWER),
    ``bonferroni`` (single-step FWER).  All four are rank-and-compare
    procedures (public: Benjamini & Hochberg 1995, Holm 1979) — no
    special functions.

    Exactness: p-values rank by (p, id) total order (two-phase rank);
    every accept/reject comparison is a fixed IEEE sequence on exact
    operands (one multiply each side: ``p·m ≤ α·k`` for BH — never a
    division, so threshold ties resolve identically cross-engine).
    The step-up/step-down frontier is a global MAX/MIN of hit ranks
    (order-independent), broadcast back.  Adjusted p-values are the
    standard monotone envelopes (suffix-min for step-up, prefix-max
    for step-down), clamped to 1.

    Scale: the rank is the two-phase pass; the frontier is a 1-row
    broadcast.  The adjusted-p envelope runs in one ordered window
    task only while the table is small (hypothesis tables are test
    results — metrics × segments); past ``_SMALL_RANK_ROWS`` it takes
    the same two-phase bucketed shape as the rank (min/max are
    order-insensitive, so the plans agree bit-exactly).  The ``by``
    harmonic constant is a deterministic O(m) driver loop (~1s per
    10M hypotheses) — fixed summation order, so the constant is
    reproducible where a distributed float sum would not be.

    Output: id, p, rank (bigint), m (bigint), p_adj (double),
    rejected (boolean)."""
    from bubbles_spark.ops.core import _with_global_row_number

    if method not in ("bh", "by", "holm", "bonferroni"):
        raise ValueError(f"fdr_correct: unknown method {method!r}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"fdr_correct: alpha must be in (0,1), got {alpha}")
    base = df.filter(F.col(p_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(p_col).cast("double").alias("p")
    )
    m = base.count()
    if m == 0:
        raise ValueError("fdr_correct: no non-null p-values")
    ranked = _with_global_row_number(base, ["p", "id"], n_hint=m).select(
        "id", "p", F.col("__rn").cast("bigint").alias("rank")
    )
    k = F.col("rank").cast("double")
    md = float(m)
    if method == "by":
        # harmonic correction c(m) = Σ 1/i, driver-computed once —
        # a deterministic float constant baked into the plan
        cm = 0.0
        for i in range(1, m + 1):
            cm += 1.0 / i
    one = F.lit(1.0)
    if method in ("bh", "by"):
        scale = F.lit(md * cm) if method == "by" else F.lit(md)
        # step-up: reject ranks 1..k_max, k_max = max{k : p_(k)·m ≤ α·k}
        hit = F.col("p") * scale <= F.lit(alpha) * k
        frontier = ranked.agg(
            F.max(F.when(hit, F.col("rank"))).alias("__kmax")
        )
        env = _envelope_over_rank(
            ranked, F.col("p") * scale / k, m, step_up=True, out="__env"
        )
        out = (
            env.crossJoin(F.broadcast(frontier))
            .withColumn("p_adj", F.least(one, F.col("__env")))
            .withColumn(
                "rejected",
                F.coalesce(
                    F.col("rank") <= F.col("__kmax"), F.lit(False)
                ),
            )
        )
    elif method == "holm":
        # step-down: reject ranks below the FIRST failing rank,
        # k_min = min{k : p_(k)·(m−k+1) > α}
        fac = F.lit(md) - k + one
        fail = F.col("p") * fac > F.lit(alpha)
        frontier = ranked.agg(
            F.min(F.when(fail, F.col("rank"))).alias("__kmin")
        )
        env = _envelope_over_rank(
            ranked, F.col("p") * fac, m, step_up=False, out="__env"
        )
        out = (
            env.crossJoin(F.broadcast(frontier))
            .withColumn("p_adj", F.least(one, F.col("__env")))
            .withColumn(
                "rejected",
                F.coalesce(
                    F.col("rank") < F.col("__kmin"), F.lit(True)
                ),
            )
        )
    else:  # bonferroni
        out = ranked.withColumn(
            "p_adj", F.least(one, F.col("p") * F.lit(md))
        ).withColumn("rejected", F.col("p") * F.lit(md) <= F.lit(alpha))
    return out.select(
        "id",
        "p",
        "rank",
        F.lit(m).cast("bigint").alias("m"),
        "p_adj",
        "rejected",
    )


def _dense_codes(a):
    """Dense ranks (int64) of a numpy array under the column's natural
    order; float NaN → one tied greatest value (Spark's sort/grouping
    semantics).  Exact for ints/doubles/decimals/strings/dates —
    ``np.unique`` sorts object arrays with Python comparisons, which
    match Spark's ordering for every type the rank operators accept
    (UTF8 binary ≡ code-point order for strings — the r13 graph
    fast-path precedent)."""
    import numpy as np

    if a.dtype.kind == "f":
        nan = np.isnan(a)
        if nan.any():
            u = np.unique(a[~nan])
            c = np.searchsorted(u, a).astype(np.int64)
            c[nan] = len(u)
            return c
        return np.searchsorted(np.unique(a), a).astype(np.int64)
    _, inv = np.unique(a, return_inverse=True)
    return np.asarray(inv, dtype=np.int64)


def _inversions(a):
    """Strict inversions ``#{i<j : a[i] > a[j]}`` of an int64 code
    array (Knight 1966, public).  Returns a Python int."""
    import numpy as np

    return _weighted_inversions(a, np.ones(len(a), dtype=np.int64))


def _weighted_inversions(v, w):
    """Weighted strict inversions ``Σ_{i<j, v[i]>v[j]} w[i]·w[j]`` over
    dense int64 codes with int64 weights (each element stands for
    ``w`` identical rows) — bottom-up merge count with EVERY level
    fully vectorized: blocks are rows of one (n_blocks × 2·width)
    matrix (power-of-two padding; pad values sort to the end, pad
    weights are 0 so they can never contribute), the per-row
    searchsorted collapses to ONE flat searchsorted via row offsets
    (offset step > max code keeps the flattened array globally
    sorted), and merges are one stable argsort per level.  A naive
    per-block Python loop measured ~3 s on a 150k-cell table (75k
    width-1 blocks); this shape runs the same count in ~40 ms.

    Exactness: codes are dense ranks < n and the caller bounds Σw, so
    row offsets (< n²) and the total inversion weight (≤ (Σw)²/2)
    stay inside int64.  Returns a Python int."""
    import numpy as np

    n = len(v)
    if n < 2:
        return 0
    m = 1 << (n - 1).bit_length()
    step = np.int64(n + 1)  # > any code; sentinel n sorts last
    vv = np.full(m, n, dtype=np.int64)
    vv[:n] = v
    ww = np.zeros(m, dtype=np.int64)
    ww[:n] = w
    inv = 0
    width = 1
    while width < m:
        nb = m // (2 * width)
        V = vv.reshape(nb, 2 * width)
        W = ww.reshape(nb, 2 * width)
        # weight of left-block values strictly greater than each
        # right-block element: suffix weight sums indexed at the
        # right-bisect position
        sfx = np.zeros((nb, width + 1), dtype=np.int64)
        sfx[:, :-1] = W[:, :width][:, ::-1].cumsum(axis=1)[:, ::-1]
        off = np.arange(nb, dtype=np.int64)[:, None] * step
        pos = (
            np.searchsorted(
                (V[:, :width] + off).ravel(),
                (V[:, width:] + off).ravel(),
                side="right",
            ).reshape(nb, width)
            - np.arange(nb, dtype=np.int64)[:, None] * width
        )
        inv += int(
            (W[:, width:] * np.take_along_axis(sfx, pos, axis=1)).sum()
        )
        ordr = np.argsort(V, axis=1, kind="stable")
        vv = np.take_along_axis(V, ordr, axis=1).ravel()
        ww = np.take_along_axis(W, ordr, axis=1).ravel()
        width *= 2
    return inv


def _kendall_group_stats(pts: DataFrame) -> DataFrame:
    """Per-group exact Kendall scaffolding in ONE pass — the shared
    core of ``mann_kendall`` and ``kendall_tau_by``: for input columns
    (grp, __x, __y), all non-NULL, emits one row per group with

    - ``n_points``  — group row count (bigint),
    - ``s_stat``    — ``S = C − D`` over pairs with x strictly
      differing (bigint; pairs with tied x or tied y contribute 0,
      exactly the pair-join semantics both callers used),
    - ``__tt``      — Σ t(t−1)(2t+5) over y tie groups (decimal(38,0)),
    - ``__tx2``/``__ty2`` — Σ t(t−1) over x / y tie groups.

    Why not the per-group pair self-join: S only needs the DISCORDANT
    count, and that is an inversion count — sort by (x, y) and count
    i<j with y_i > y_j (Knight 1966, public).  With n₀ = n(n−1)/2 and
    n₁/n₂/n₃ the tied-x / tied-y / tied-both pair counts,
    ``S = n₀ − n₁ − n₂ + n₃ − 2·D`` — every term an exact integer, so
    the result is bit-identical to the pair sum while the O(n_g²)
    join (and its second and third corpus-side aggregation passes for
    the tie terms) collapses into one O(n_g log n_g) pass that also
    evaluates the upstream series exactly ONCE.

    Values are reduced to dense ranks under their natural order before
    any counting (``np.unique`` — exact for ints/doubles/decimals/
    strings/dates; float NaN handled as one tied greatest value, the
    Spark sort order), so D and every tie count are pure integer
    facts about the order structure — no float arithmetic anywhere.

    Scale: one hash exchange on the group key at explicit width, one
    fused ``mapInPandas`` over key-contiguous rows (the
    ``_keyed_ordered_map`` discipline).  Each group must fit one task
    — the operators' documented contract (pre-aggregated series, ~10k
    points per group); note the replaced pair join had the same
    single-partition-per-group bound with O(n_g²) work instead."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    from bubbles_spark.ops.events import _keyed_ordered_map

    gf = pts.schema["grp"]
    schema = StructType(
        [
            StructField("grp", gf.dataType, True),
            StructField("n_points", LongType(), False),
            StructField("s_stat", LongType(), False),
            StructField("__tt", DecimalType(38, 0), False),
            StructField("__tx2", DecimalType(38, 0), False),
            StructField("__ty2", DecimalType(38, 0), False),
        ]
    )

    def _stats(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        codes = _dense_codes
        inversions = _inversions

        def pairsum(counts):
            # Σ t(t−1)/2 as an unbounded Python int
            return sum(int(t) * (int(t) - 1) for t in counts[counts > 1]) // 2

        gcodes, _ = pd.factorize(pdf["grp"], use_na_sentinel=False)
        xs_all = pdf["__x"].to_numpy()
        ys_all = pdf["__y"].to_numpy()
        cuts = np.flatnonzero(
            np.r_[True, gcodes[1:] != gcodes[:-1], True]
        )
        n_out, s_out, tt_out, tx2_out, ty2_out = [], [], [], [], []
        for b0, b1 in zip(cuts[:-1], cuts[1:]):
            n = int(b1 - b0)
            cx = codes(xs_all[b0:b1])
            cy = codes(ys_all[b0:b1])
            order = np.lexsort((cy, cx))
            d_inv = inversions(cy[order])
            tx = np.bincount(cx)
            ty = np.bincount(cy)
            # tied-both runs off the (x, y)-sorted codes
            sx, sy = cx[order], cy[order]
            new = np.r_[True, (sx[1:] != sx[:-1]) | (sy[1:] != sy[:-1])]
            txy = np.diff(np.r_[np.flatnonzero(new), n])
            n0 = n * (n - 1) // 2
            s = n0 - pairsum(tx) - pairsum(ty) + pairsum(txy) - 2 * d_inv
            tt = sum(
                int(t) * (int(t) - 1) * (2 * int(t) + 5)
                for t in ty[ty > 1]
            )
            n_out.append(n)
            s_out.append(s)
            tt_out.append(Decimal(tt))
            tx2_out.append(
                Decimal(sum(int(t) * (int(t) - 1) for t in tx[tx > 1]))
            )
            ty2_out.append(
                Decimal(sum(int(t) * (int(t) - 1) for t in ty[ty > 1]))
            )
        return pd.DataFrame(
            {
                "grp": pdf["grp"].iloc[cuts[:-1]].reset_index(drop=True),
                "n_points": pd.Series(n_out, dtype="int64"),
                "s_stat": pd.Series(s_out, dtype="int64"),
                "__tt": pd.Series(tt_out, dtype="object"),
                "__tx2": pd.Series(tx2_out, dtype="object"),
                "__ty2": pd.Series(ty2_out, dtype="object"),
            }
        )

    return _keyed_ordered_map(pts, ["grp"], [], _stats, schema)


def mann_kendall(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mann–Kendall trend test per group — the nonparametric "is this
    series monotonically trending?" companion to ``insights.theil_sen``
    (which estimates the slope this test scores): ``S = Σ sign(y_j −
    y_i)`` over all pairs with ``x_i < x_j``, the tie-corrected
    variance ``Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18``, and the
    continuity-corrected normal statistic z (Mann 1945 / Kendall 1975,
    public).

    Contract: ``x`` must be UNIQUE within each group (pre-aggregate to
    a daily/bucket series first — the theil_sen/linear_trend input
    shape); with tied x the pair set and the variance formula would
    disagree.

    Exactness: S is an exact integer sum of signs (one IEEE subtract
    per pair feeds ``sign``, whose result is exact ±1/0); the variance
    numerator is exact integer arithmetic in DECIMAL(38,0) (the n³
    term overflows BIGINT near n ≈ 2M), cast to double once, one
    division, one sqrt.  z uses the standard continuity correction
    (S−1 or S+1); all-tied groups (Var 0) and single-point groups
    emit NULL z.

    Scale: S and the tie terms come from ONE fused pass per group
    (``_kendall_group_stats`` — inversion count, O(n_g log n_g) where
    the r13-replaced pair self-join was O(n_g²), with the upstream
    series evaluated once instead of twice); intended for per-entity
    series up to ~10k points per group, pre-aggregated.

    Output: group, n_points (bigint), s_stat (bigint), var_s
    (double), z (double)."""
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
    stats = _kendall_group_stats(pts)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n = F.col("n_points")
    num = d(n) * (n - 1) * (2 * n + 5) - F.col("__tt")
    var_s = num.cast("double") / F.lit(18.0)
    sb = F.coalesce(F.col("s_stat"), F.lit(0).cast("bigint"))
    sd = sb.cast("double")
    z = F.when(
        (var_s > 0) & (sb > 0), (sd - F.lit(1.0)) / F.sqrt(var_s)
    ).when(
        (var_s > 0) & (sb < 0), (sd + F.lit(1.0)) / F.sqrt(var_s)
    ).when((var_s > 0) & (sb == 0), F.lit(0.0))
    return stats.select(
        F.col("grp").alias(group_col),
        "n_points",
        sb.alias("s_stat"),
        F.when(n > 1, var_s).alias("var_s"),
        F.when(n > 1, z).alias("z"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test — "does the success RATE rise with
    the ordered dose/severity score?" (Cochran 1954 / Armitage 1955,
    public): the chi-square-for-trend z statistic over groups ordered
    by an INTEGER ``score_col``, with ``label_col`` the 0/1 outcome
    per row.

    Exactness: with integer scores, EVERYTHING up to z is exact
    integer arithmetic in DECIMAL(38,0) —
    ``num = N·Σ(r·w) − R·Σ(n·w)`` and
    ``den = R·(N−R)·(N·Σ(n·w²) − (Σ(n·w))²)`` from the per-score
    counts — then ONE double cast each, one division by N, one sqrt:
    ``z = num / sqrt(den / N)``.  No rates, no pooled-variance floats
    anywhere before the final fixed IEEE sequence.  Degenerate inputs
    (all successes, no successes, a single score level) emit NULL z.

    Scale: one map-side-combined keyed count per score level, then a
    levels-sized aggregate.

    Output (one row): n (bigint), n_success (bigint), k_levels
    (bigint), z (double)."""
    w = F.col(score_col).cast("bigint")
    y = F.col(label_col).cast("int")
    per = (
        df.filter(w.isNotNull() & y.isNotNull())
        .groupBy(w.alias("__w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum(y).cast("bigint").alias("__r"),
        )
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = per.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__r").cast("bigint").alias("n_success"),
        F.count(F.lit(1)).cast("bigint").alias("k_levels"),
        F.sum(d(F.col("__r")) * F.col("__w")).alias("__rw"),
        F.sum(d(F.col("__n")) * F.col("__w")).alias("__nw"),
        F.sum(d(F.col("__n")) * F.col("__w") * F.col("__w")).alias("__nww"),
    )
    N = F.col("n")
    R = F.col("n_success")
    num = d(N) * F.col("__rw") - d(R) * F.col("__nw")
    den = (
        d(R)
        * (N - R)
        * (d(N) * F.col("__nww") - F.col("__nw") * F.col("__nw"))
    )
    z = F.when(
        (R > 0) & (R < N) & (F.col("k_levels") > 1)
        & (den.cast("double") > 0),
        num.cast("double")
        / F.sqrt(den.cast("double") / N.cast("double")),
    )
    return agg.select("n", "n_success", "k_levels", z.alias("z"))


def spearman_by(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation — ``spearman_corr`` with
    one rho per segment ("is the monotone association stable across
    markets?"): average ranks computed WITHIN each group, Pearson on
    the doubled ranks per group.

    Exactness: identical discipline to ``spearman_corr`` — per-group
    doubled average ranks from the grouped value-count cumulative
    (``2·cum − c + 1``), five exact DECIMAL(38,0) sufficient
    statistics per group, one sqrt + one division.  Groups with zero
    rank variance on either side emit NULL rho.

    Scale: the x rank table is a ``_grouped_cum_counts`` pass (keyed
    counts over distinct (group, value) pairs + the two-phase
    cumulative — no per-group sort of raw rows) joined back on
    (group, value); the y side never joins back — the per-(group, y)
    moment partials double as the y counts table
    (``_spearman_suffstats``); moments are ONE map-side-combined
    aggregate over the distinct-y-sized table.

    Output: group, n (bigint), rho (double)."""
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )
    agg = _spearman_moments(base)
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = n * F.col("__sxy").cast("double") - sx * sy
    denx = n * F.col("__sxx").cast("double") - sx * sx
    deny = n * F.col("__syy").cast("double") - sy * sy
    rho = F.when((denx > 0) & (deny > 0), num / F.sqrt(denx * deny))
    return agg.select(F.col("__g").alias(group_col), "n", rho.alias("rho"))


def mcnemar_test(
    df: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """McNemar's test for paired binary outcomes — "did the same
    subjects flip between condition A and condition B?" (before/after
    feature launches, matched-pair A/B readouts; McNemar 1947,
    public).  Only the DISCORDANT pairs carry information: with
    ``b = #(a=1, b=0)`` and ``c = #(a=0, b=1)``,
    ``χ² = (b − c)²/(b + c)`` and the Edwards continuity-corrected
    ``χ²_cc = (|b − c| − 1)²/(b + c)``.

    Exactness: b, c, n are one map-side integer aggregate; each χ² is
    two IEEE ops on exact integers.  ``b + c = 0`` (no discordant
    pairs) yields NULL statistics, never a division by zero.  Rows
    with a NULL in either outcome are dropped (pairing undefined).

    P-values deliberately not emitted (module docstring).

    Scale: single filter + global aggregate — map-side partials, one
    1-row shuffle; no join, no window.

    Output (one row): n_pairs, n_only_a, n_only_b, chi2, chi2_cc."""
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    base = df.filter(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(((a == 1) & (b == 0)).cast("int")).cast("bigint")
        .alias("n_only_a"),
        F.sum(((a == 0) & (b == 1)).cast("int")).cast("bigint")
        .alias("n_only_b"),
    )
    bb = F.col("n_only_a").cast("double")
    cc = F.col("n_only_b").cast("double")
    disc = bb + cc
    chi2 = F.when(disc > 0, (bb - cc) * (bb - cc) / disc)
    corr = F.abs(bb - cc) - F.lit(1.0)
    chi2_cc = F.when(disc > 0, corr * corr / disc)
    return agg.select(
        "n_pairs", "n_only_a", "n_only_b",
        chi2.alias("chi2"), chi2_cc.alias("chi2_cc"),
    )


def cochran_q(
    df: DataFrame,
    id_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran's Q test — the k-treatment extension of McNemar for
    binary outcomes over the SAME subjects ("does success rate differ
    across the k variants each user saw?"; Cochran 1950, public).
    Uses the algebraic form that stays in integers until one final
    division: ``Q = (k−1)·(k·ΣG_j² − N²) / (k·N − ΣR_i²)`` with
    ``G_j`` the per-treatment success totals, ``R_i`` the per-subject
    success totals, ``N = ΣR_i``.

    Contract: one row per (subject, treatment); a missing pair counts
    as outcome 0 (the complete-block design is the caller's job — the
    treatment universe is taken from the DATA, so a treatment no
    subject has rows for simply doesn't exist).

    Exactness: every sum is integer (DECIMAL(38,0) for the squared
    accumulators); Q is one multiply/divide sequence on the exact
    operands.  A zero denominator (all subjects all-success or
    all-failure) yields NULL.

    Scale: two keyed aggregates (by subject, by treatment) — both
    map-side partial; no window, no join wider than k rows.

    Output (one row): k, n_subjects, n_success, q_stat, df."""
    o = F.col(outcome_col).cast("int")
    base = df.filter(
        F.col(id_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & o.isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(treatment_col).alias("__t"),
        o.alias("__x"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_subject = base.groupBy("__id").agg(F.sum("__x").alias("__r"))
    rows_agg = per_subject.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
        F.sum("__r").cast("bigint").alias("n_success"),
        F.sum(d(F.col("__r")) * F.col("__r")).alias("__r2"),
    )
    per_treatment = base.groupBy("__t").agg(F.sum("__x").alias("__g"))
    cols_agg = per_treatment.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(d(F.col("__g")) * F.col("__g")).alias("__g2"),
    )
    agg = rows_agg.crossJoin(F.broadcast(cols_agg))
    kd = F.col("k").cast("double")
    nd = F.col("n_success").cast("double")
    num = (kd - F.lit(1.0)) * (
        kd * F.col("__g2").cast("double") - nd * nd
    )
    den = kd * nd - F.col("__r2").cast("double")
    q = F.when((F.col("k") > 1) & (den > 0), num / den)
    return agg.select(
        "k", "n_subjects", "n_success",
        q.alias("q_stat"),
        F.when(F.col("k") > 1, F.col("k") - 1).cast("bigint").alias("df"),
    )


def kendall_tau_by(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's τ-b per group — the concordance-based rank
    correlation (Kendall 1938, public), the effect-size companion to
    ``mann_kendall``'s trend test (whose S statistic is the same
    concordant-minus-discordant count): ``τ_b = (C − D) /
    √((n₀ − n₁)(n₀ − n₂))`` with the standard tie corrections in x
    and y.

    Contract: like ``mann_kendall``/``theil_sen``, feed PRE-AGGREGATED
    series (daily rollups per group) — the pair SET is O(n_g²) by
    definition, but it is never materialized (see Scale).

    Exactness: C, D, and every tie term are exact integer counts
    (dense-rank order structure — ``_kendall_group_stats``); τ_b is
    one division and one sqrt on the exact operands.  Groups where
    either variable is constant (denominator 0) yield NULL.

    Scale: ONE hash exchange on the group key + one fused
    O(n_g log n_g) pass computes S and every tie sum
    (``_kendall_group_stats`` — the r13-replaced pair self-join was
    O(n_g²) and evaluated the upstream series three times); groups
    parallelize.

    Output: group_col, n_points, s_stat, tau_b."""
    base = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("__g"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
        )
    )
    # ONE fused pass per group (r13): S via the inversion count, the
    # x/y tie sums off the same dense ranks — the pair self-join and
    # the two extra corpus-side count aggregations are gone, and the
    # upstream series is evaluated once instead of three times (see
    # _kendall_group_stats for the exactness argument)
    j = _kendall_group_stats(
        base.select(
            F.col("__g").alias("grp"), "__x", "__y"
        )
    ).withColumnRenamed("grp", "__g")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nn = F.col("n_points")
    n0x2 = d(nn) * (nn - 1)  # 2·n0 = n(n−1)
    denx = (n0x2 - F.col("__tx2")).cast("double") / F.lit(2.0)
    deny = (n0x2 - F.col("__ty2")).cast("double") / F.lit(2.0)
    tau = F.when(
        (denx > 0) & (deny > 0),
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("double")
        / F.sqrt(denx * deny),
    )
    return j.select(
        F.col("__g").alias(group_col),
        "n_points",
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("bigint").alias("s_stat"),
        tau.alias("tau_b"),
    )


def srm_check(
    df: DataFrame,
    group_col: str,
    weights: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate of any experiment
    readout: do the observed assignment counts match the intended
    allocation?  (A significant chi-square here means the experiment
    is broken — biased bucketing, logging loss — and every downstream
    metric is suspect.)  Emits one row per group with the observed
    count, the expected count under the intended weights, and the
    cell's chi-square contribution ``(o − e)²/e``; sum
    ``chi2_contrib`` downstream against k−1 degrees of freedom (the
    per-cell emission keeps the report engine-portable, the psi_bin /
    mi_report precedent).

    ``weights`` maps group value → intended weight (any positive
    scale — normalized internally).  Weights are converted to EXACT
    rationals via their decimal repr (``0.2`` → 1/5), so each
    expected count is one IEEE division ``N·num/den`` of exact
    integers.  Groups observed in the data but absent from
    ``weights`` surface with NULL expected/contribution (a bucketing
    bug, not silently dropped); intended groups with zero observed
    rows surface with n_obs = 0 (total logging loss).

    Scale: one keyed count (map-side partial) + a broadcast join
    against the k-row weights table.

    Output: group_col, n_obs (bigint), expected (double),
    chi2_contrib (double)."""
    from fractions import Fraction

    if not weights:
        raise ValueError("srm_check: weights must be non-empty")
    fr = {g: Fraction(str(w)) for g, w in weights.items()}
    if any(w <= 0 for w in fr.values()):
        raise ValueError("srm_check: weights must be positive")
    tot = sum(fr.values())
    shares = {g: w / tot for g, w in fr.items()}
    spark = df.sparkSession
    wrows = [(g, s.numerator, s.denominator) for g, s in shares.items()]
    from bubbles_spark.ops.core import local_table

    wtab = local_table(
        spark, wrows, f"{group_col} string, __num long, __den long"
    ).select(
        F.col(group_col).cast(dict(df.dtypes)[group_col]).alias("__wg"),
        "__num",
        "__den",
    )
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    n_total = counts.agg(F.sum("n_obs")).collect()[0][0] or 0
    # a FULL outer join cannot broadcast (Spark ignores the hint and
    # falls back to a shuffle join) — split into the intended side
    # (weights spine LEFT-joins the counts) and the unintended side
    # (counts ANTI-join the spine), both broadcastable, then union
    cf = counts.select(
        F.col(group_col).alias("__cg"), F.col("n_obs").alias("__co")
    )
    # both joined tables are arms-sized (distinct groups of an
    # assignment column) — broadcast is always right
    intended = wtab.join(
        F.broadcast(cf), wtab["__wg"] == cf["__cg"], "left"
    ).select(
        F.col("__wg").alias(group_col),
        F.coalesce(F.col("__co"), F.lit(0)).cast("bigint").alias("n_obs"),
        "__num",
        "__den",
    )
    unintended = cf.join(
        F.broadcast(wtab), cf["__cg"] == wtab["__wg"], "left_anti"
    ).select(
        F.col("__cg").alias(group_col),
        F.col("__co").cast("bigint").alias("n_obs"),
        F.lit(None).cast("bigint").alias("__num"),
        F.lit(None).cast("bigint").alias("__den"),
    )
    u = intended.unionByName(unintended)
    e = F.when(
        F.col("__num").isNotNull(),
        (F.lit(n_total).cast("double") * F.col("__num").cast("double"))
        / F.col("__den").cast("double"),
    )
    o = F.col("n_obs").cast("double")
    contrib = F.when(e > 0, (o - e) * (o - e) / e)
    return u.select(
        group_col,
        "n_obs",
        e.alias("expected"),
        contrib.alias("chi2_contrib"),
    )


def dunn_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Dunn's post-hoc pairwise test — AFTER ``kruskal_wallis``
    rejects, WHICH pairs of groups differ?  (Dunn 1964, public.)  Per
    unordered group pair: ``z = (m̄_i − m̄_j) / √(σ²·(1/n_i + 1/n_j))``
    with mean ranks from the pooled ranking (average ranks for ties)
    and the tie-corrected ``σ² = N(N+1)/12 − Σ(t³−t)/(12(N−1))``.
    Feed the emitted z table to ``fdr_correct`` (id = the pair label)
    for multiplicity control — the two operators compose into the
    full post-hoc pipeline.

    Exactness: per-group DOUBLED rank sums are exact integers (the
    ``kruskal_wallis`` machinery — per-value counts, value-bucketed
    cumulative, never a single-task sort); each mean rank is ONE
    division of exact operands, σ² a fixed IEEE sequence on the exact
    N and tie cube, z two more steps.  Degenerate inputs (all values
    tied ⇒ σ² = 0) yield NULL z.

    P-values deliberately not emitted (module docstring).

    Scale: the ranking is distinct-value-sized; the pair table is
    k(k−1)/2 rows from a broadcast self-join of the k-row per-group
    table — nothing data-sized past the first aggregate.

    Output: group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z
    (one row per unordered pair, group_a < group_b)."""
    cum, per_group = _group_rank_sums(
        _group_value_cells(df, group_col, value_col).localCheckpoint(eager=False)
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    glob = cum.agg(
        F.sum("__c").cast("bigint").alias("__N"),
        F.sum(d(F.col("__c")) * F.col("__c") * F.col("__c") - F.col("__c"))
        .alias("__tie3"),
    )
    li, ri = per_group.alias("li"), per_group.alias("ri")
    pairs = li.join(
        F.broadcast(ri), F.col("li.__grp") < F.col("ri.__grp")
    ).crossJoin(F.broadcast(glob))
    nd = F.col("__N").cast("double")
    sigma2 = nd * (nd + F.lit(1.0)) / F.lit(12.0) - F.col(
        "__tie3"
    ).cast("double") / (F.lit(12.0) * (nd - F.lit(1.0)))
    na = F.col("li.__ng").cast("double")
    nb = F.col("ri.__ng").cast("double")
    # mean rank = (2R_g / n_g) / 2 — the ÷2 is exact in binary
    ma = F.col("li.__2rg").cast("double") / na / F.lit(2.0)
    mb = F.col("ri.__2rg").cast("double") / nb / F.lit(2.0)
    se2 = sigma2 * (F.lit(1.0) / na + F.lit(1.0) / nb)
    z = F.when((F.col("__N") > 1) & (se2 > 0), (ma - mb) / F.sqrt(se2))
    return pairs.select(
        F.col("li.__grp").alias("group_a"),
        F.col("ri.__grp").alias("group_b"),
        F.col("li.__ng").alias("n_a"),
        F.col("ri.__ng").alias("n_b"),
        ma.alias("mean_rank_a"),
        mb.alias("mean_rank_b"),
        z.alias("z"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    label_col: str,
) -> DataFrame:
    """Fleiss' κ — chance-corrected agreement for MANY raters per
    item (Fleiss 1971, public): the n-annotator generalization of
    ``ops.drift.cohens_kappa`` for crowd-labeled training data.  One input row
    per (item, rater) vote; every item must receive the SAME number
    of votes n (the statistic is undefined otherwise — unequal items
    raise).  ``κ = (P̄ − P̄_e)/(1 − P̄_e)`` with per-item agreement
    ``P_i = (Σ_j n_ij² − n)/(n(n−1))`` and chance ``P̄_e = Σ_j p_j²``.

    Exactness: vote counts n_ij, their squares, and the category
    totals are exact integers (DECIMAL(38,0) sums); P̄ and P̄_e are
    each ONE division of exact operands (the Σn_ij² and Σ(Σ_i n_ij)²
    sums stay integral — nothing is averaged per item and re-summed
    in floats).  All raters unanimous on one category across every
    item (``P̄_e = 1``) yields NULL κ.

    Scale: one (item, label) keyed count (map-side combined), one
    item-sized aggregate, one categories-sized aggregate — nothing
    data-sized past the first shuffle.

    Output (one row): n_items, n_raters, k_categories, p_bar, pe_bar,
    kappa."""
    base = df.filter(
        F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(item_col).alias("__i"), F.col(label_col).alias("__l"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nij = base.groupBy("__i", "__l").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    per_item = nij.groupBy("__i").agg(
        F.sum("__n").cast("bigint").alias("__ni"),
        F.sum(d(F.col("__n")) * F.col("__n")).alias("__sq"),
    )
    counts = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.min("__ni").alias("__nmin"),
        F.max("__ni").alias("__nmax"),
        F.sum("__sq").alias("__SQ"),
    ).collect()[0]
    if counts["n_items"] == 0:
        raise ValueError("fleiss_kappa: no votes")
    if counts["__nmin"] != counts["__nmax"]:
        raise ValueError(
            "fleiss_kappa: every item needs the same number of votes "
            f"(saw {counts['__nmin']}..{counts['__nmax']}) — "
            "complete the rating design or subset to rated-by-all items"
        )
    per_cat = nij.groupBy("__l").agg(
        F.sum("__n").cast("bigint").alias("__cj")
    )
    cat = per_cat.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_categories"),
        F.sum(d(F.col("__cj")) * F.col("__cj")).alias("__CSQ"),
    )
    m = int(counts["n_items"])
    n = int(counts["__nmin"])
    sq = counts["__SQ"]
    out = cat.select(
        F.lit(m).cast("bigint").alias("n_items"),
        F.lit(n).cast("bigint").alias("n_raters"),
        "k_categories",
        "__CSQ",
    )
    # P̄ = (ΣΣn_ij² − m·n) / (m·n·(n−1)); P̄_e = ΣC_j² / (m·n)²
    p_bar = (
        F.lit(float(int(sq) - m * n))
        / F.lit(float(m * n * (n - 1)))
        if n > 1
        else F.lit(None).cast("double")
    )
    pe_bar = F.col("__CSQ").cast("double") / F.lit(float(m * n * m * n))
    kappa = (
        F.when(
            F.lit(1.0) - pe_bar > 0, (p_bar - pe_bar) / (F.lit(1.0) - pe_bar)
        )
        if n > 1
        else F.lit(None).cast("double")
    )
    return out.select(
        "n_items",
        "n_raters",
        "k_categories",
        (p_bar if n > 1 else F.lit(None).cast("double")).alias("p_bar"),
        pe_bar.alias("pe_bar"),
        kappa.alias("kappa"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test — the within-block rank ANOVA ("do the k
    treatments differ, judging each block only against itself?";
    Friedman 1937, public): the repeated-measures companion to
    ``kruskal_wallis`` (which pools all rows into one ranking) and
    the continuous-outcome sibling of ``cochran_q``.  Uses the
    tie-corrected form in DOUBLED average ranks ``d = 2·rank + t − 1``
    so everything stays integral:
    ``Q = (k−1)·Σ_j (D_j − n(k+1))² / (Σ d² − n·k·(k+1)²)``
    with ``D_j`` the per-treatment doubled rank sum — algebraically
    identical to Conover's ``(k−1)Σ(R_j − n(k+1)/2)²/(A − C)`` with
    every quarter cancelled.

    Contract: EXACTLY one observation per (block, treatment) and every
    block complete with all k treatments (pre-aggregate to that shape
    first — the ``fleiss_kappa`` design discipline); violations raise.

    Exactness: ranks are within-block integers (RANK + tie count);
    all sums are BIGINT / DECIMAL(38,0); Q is ONE division of exact
    operands.  All values tied within every block (denominator 0)
    yields NULL.

    Scale: the ranking window partitions by BLOCK (k rows each —
    blocks parallelize, no data-sized sort); everything after is a
    treatments-sized aggregate.

    Output (one row): n_blocks, k_treatments, q_stat, df."""
    from pyspark.sql import Window as W

    base = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        F.col(value_col).alias("__v"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    shape = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.countDistinct("__t").alias("__kd"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.min("__rows").alias("__rmin"),
        F.max("__rows").alias("__rmax"),
        F.min("__kd").alias("__kmin"),
        F.max("__kd").alias("__kmax"),
    ).collect()[0]
    if shape["n_blocks"] == 0:
        raise ValueError("friedman_test: no complete rows")
    if not (
        shape["__rmin"] == shape["__rmax"] == shape["__kmin"]
        == shape["__kmax"]
    ):
        raise ValueError(
            "friedman_test: every block needs exactly one observation "
            "per treatment and all treatments "
            f"(rows per block {shape['__rmin']}..{shape['__rmax']}, "
            f"distinct treatments {shape['__kmin']}..{shape['__kmax']}) "
            "— pre-aggregate to the complete-block shape first"
        )
    n = int(shape["n_blocks"])
    k = int(shape["__rmin"])
    w_rank = W.partitionBy("__b").orderBy("__v")
    w_tie = W.partitionBy("__b", "__v")
    dd = (
        F.lit(2) * F.rank().over(w_rank)
        + F.count(F.lit(1)).over(w_tie)
        - F.lit(1)
    ).cast("bigint")
    ranked = base.withColumn("__d", dd)
    per_t = ranked.groupBy("__t").agg(
        F.sum("__d").cast("bigint").alias("__D")
    )
    e = F.col("__D") - F.lit(n * (k + 1))
    agg = per_t.agg(
        F.sum(d(e) * e).alias("__E2")
    ).crossJoin(
        F.broadcast(ranked.agg(F.sum(d(F.col("__d")) * F.col("__d"))
                               .alias("__d2")))
    )
    den = F.col("__d2").cast("double") - F.lit(float(n * k * (k + 1) ** 2))
    q = F.when(
        (F.lit(k) > 1) & (den > 0),
        F.lit(float(k - 1)) * F.col("__E2").cast("double") / den,
    )
    return agg.select(
        F.lit(n).cast("bigint").alias("n_blocks"),
        F.lit(k).cast("bigint").alias("k_treatments"),
        q.alias("q_stat"),
        F.lit(k - 1).cast("bigint").alias("df"),
    )


def _mood_local_stats(cgv: DataFrame) -> DataFrame:
    """Single-task Mood's-median sufficient statistics over the
    per-(group, value) cell table (columns __grp, __v, __cg): one row
    with the distributed path's final aggregate — k, n, n_above,
    __med (input value type), __s (micro-quantized per-group term
    sum, decimal(38,0)).  Exact replay: the type-1 lower median and
    the above-median counts are pure integer facts on dense value
    ranks; each term repeats ``(a·N − n_g·A)² / n_g · 1e6`` as the
    same IEEE sequence with HALF_UP shortest-decimal quantization
    (``core._q_halfup``)."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    vf = cgv.schema["__v"]
    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("n", LongType(), False),
            StructField("n_above", LongType(), False),
            StructField("__med", vf.dataType, True),
            StructField("__s", DecimalType(38, 0), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        cg = _dense_codes(pdf["__grp"].to_numpy())
        cv = _dense_codes(pdf["__v"].to_numpy())
        w = pdf["__cg"].to_numpy().astype(np.int64)
        k = int(cg.max()) + 1
        nv = int(cv.max()) + 1
        c = np.zeros(nv, dtype=np.int64)
        np.add.at(c, cv, w)
        cum = c.cumsum()
        n = int(cum[-1])
        med_code = int(np.flatnonzero(2 * cum >= n)[0])
        # median VALUE in the input's own type: any cell row whose
        # value code equals med_code carries it
        med_val = pdf["__v"].iloc[int(np.flatnonzero(cv == med_code)[0])]
        above = cv > med_code
        a = np.zeros(k, dtype=np.int64)
        np.add.at(a, cg[above], w[above])
        ng = np.zeros(k, dtype=np.int64)
        np.add.at(ng, cg, w)
        ta = int(a.sum())
        diff = np.array(
            [float(int(a[g]) * n - int(ng[g]) * ta) for g in range(k)]
        )
        term = diff * diff / ng.astype(np.float64) * 1e6
        return pd.DataFrame(
            {
                "k": pd.Series([k], dtype="int64"),
                "n": pd.Series([n], dtype="int64"),
                "n_above": pd.Series([ta], dtype="int64"),
                "__med": pd.Series([med_val]),
                "__s": [Decimal(_exact_int_sum(core._q_halfup(term)))],
            }
        )

    return core._one_task_fold(cgv, schema, fold)


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Mood's median test — the robust k-group location test ("do the
    groups straddle the pooled median the same way?"; Mood 1950,
    public): classify every value against the GRAND median, then
    chi-square the resulting 2×k above/not-above table.  The blunt
    but outlier-immune sibling of ``kruskal_wallis`` (which uses full
    rank information) — the right gate when the tails are untrusted.

    Grand median = the type-1 lower median (the value at position
    ⌈N/2⌉), selected from per-value counts via the shared
    ``_grouped_cum_counts`` machinery — exact, no ranking pass, no
    single-task sort.  With per-group ``a_i`` = #{x > median} and
    ``A = Σa_i``, the chi-square collapses algebraically to
    ``χ² = Σ_i (a_i·N − n_i·A)² / n_i / (A·B)`` (the 2×k identity:
    both cells of a group share one squared numerator), so the only
    cross-group float sum is the per-group term — micro-quantized to
    an integer DECIMAL before summing (the ``kruskal_wallis``
    precedent and budget), then two exact-operand IEEE divisions.

    Degenerate cases (k < 2, A = 0, or B = 0 — every value on one
    side, e.g. all values equal) yield NULL chi2.

    Output (one row): k, n, df, grand_median (double), n_above
    (bigint), chi2 (double)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    # the pooled median selection AND the per-group above-median
    # classification both derive from the cells (pinned on the
    # distributed path) by exact integer sums
    cgv, fold = _sized_cells(df, _group_value_cells(df, group_col, value_col), "__cg")
    if fold:
        agg = _fold_row(_mood_local_stats(cgv))
    else:
        pooled = (
            cgv.groupBy("__v")
            .agg(F.sum("__cg").cast("bigint").alias("__c"))
            .withColumn("__g", F.lit(0))
        )
        cum = _cum_counts_prebuilt(pooled, "__g", "__v")
        med = (
            cum.filter(F.lit(2) * F.col("__cum") >= F.col("__n"))
            .agg(F.min("__v").alias("__med"))
        )
        d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        per_group = (
            cgv.join(F.broadcast(med))
            .groupBy("__grp")
            .agg(
                F.sum(
                    F.when(
                        F.col("__v") > F.col("__med"), F.col("__cg")
                    ).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias("__a"),
                F.sum("__cg").cast("bigint").alias("__ng"),
                F.first("__med").alias("__med"),
            )
        )
        tot = per_group.groupBy().agg(
            F.sum("__a").cast("bigint").alias("__ta"),
            F.sum("__ng").cast("bigint").alias("__tn"),
            F.count(F.lit(1)).cast("bigint").alias("__k"),
        )
        j = per_group.crossJoin(F.broadcast(tot))
        # exact integer numerator in decimal, cast double once (the
        # kruskal two_rg budget: correctly-rounded ~17 significant
        # digits), per-group division fixed-IEEE, micro-quantized sum
        diff = (
            d(F.col("__a")) * F.col("__tn") - d(F.col("__ng")) * F.col("__ta")
        ).cast("double")
        term = F.round(
            diff * diff / F.col("__ng").cast("double") * F.lit(1e6), 0
        ).cast("decimal(38,0)")
        agg = j.groupBy().agg(
            F.first(F.col("__k")).alias("k"),
            F.first(F.col("__tn")).alias("n"),
            F.first(F.col("__ta")).alias("n_above"),
            F.first(F.col("__med")).alias("__med"),
            F.sum(term).alias("__s"),
        )
    a_tot = F.col("n_above").cast("double")
    b_tot = (F.col("n") - F.col("n_above")).cast("double")
    chi2 = F.col("__s").cast("double") / F.lit(1e6) / (a_tot * b_tot)
    ok = (F.col("k") > 1) & (a_tot > 0) & (b_tot > 0)
    return agg.select(
        "k",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.col("__med").cast("double").alias("grand_median"),
        "n_above",
        F.when(ok, chi2).alias("chi2"),
    )


def _jt_local_stats(cgv: DataFrame) -> DataFrame:
    """Single-task Jonckheere sufficient statistics over the
    per-(arm, value) cell table (columns __grp, __v, __cg): one row
    with the exact-integer folds the distributed path assembles from
    grid/cum/ng/vals — k, n, Σn_g², the three group tie terms, the
    three pooled-value tie terms, and 2J via the weighted-inversion
    identity (see ``jonckheere_terpstra``).  Exact: dense ranks +
    integer counting only; cubic tie terms in unbounded Python ints
    (they overflow int64 near n ≈ 2M)."""
    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("n", LongType(), False),
            StructField("__sn2", DecimalType(38, 0), False),
            StructField("__g25", DecimalType(38, 0), False),
            StructField("__g3", DecimalType(38, 0), False),
            StructField("__g2", DecimalType(38, 0), False),
            StructField("__t25", DecimalType(38, 0), False),
            StructField("__t3", DecimalType(38, 0), False),
            StructField("__t2", DecimalType(38, 0), False),
            StructField("__j2", DecimalType(38, 0), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        cg = _dense_codes(pdf["__grp"].to_numpy())
        cv = _dense_codes(pdf["__v"].to_numpy())
        w = pdf["__cg"].to_numpy().astype(np.int64)
        order = np.lexsort((cv, cg))
        d_inv = _weighted_inversions(cv[order], w[order])
        ngs = np.zeros(int(cg.max()) + 1, dtype=np.int64)
        np.add.at(ngs, cg, w)
        tvs = np.zeros(int(cv.max()) + 1, dtype=np.int64)
        np.add.at(tvs, cv, w)
        n = int(w.sum())
        n0 = n * (n - 1) // 2
        n1 = sum(int(t) * (int(t) - 1) for t in ngs) // 2
        n2 = sum(int(t) * (int(t) - 1) for t in tvs[tvs > 1]) // 2
        n3 = sum(int(t) * (int(t) - 1) for t in w[w > 1]) // 2
        j2 = 2 * (n0 - n1) - n2 + n3 - 2 * d_inv

        def t25_t3_t2(counts):
            t25 = t3 = t2 = 0
            for t in counts:
                t = int(t)
                if t > 1:
                    t2_ = t * (t - 1)
                    t2 += t2_
                    t25 += t2_ * (2 * t + 5)
                    t3 += t2_ * (t - 2)
            return t25, t3, t2

        g25, g3, g2 = t25_t3_t2(ngs)
        t25, t3, t2 = t25_t3_t2(tvs[tvs > 1])
        return pd.DataFrame(
            {
                "k": pd.Series([len(ngs)], dtype="int64"),
                "n": pd.Series([n], dtype="int64"),
                "__sn2": [Decimal(int(sum(int(t) * int(t) for t in ngs)))],
                "__g25": [Decimal(g25)],
                "__g3": [Decimal(g3)],
                "__g2": [Decimal(g2)],
                "__t25": [Decimal(t25)],
                "__t3": [Decimal(t3)],
                "__t2": [Decimal(t2)],
                "__j2": [Decimal(j2)],
            }
        )

    return core._one_task_fold(cgv, schema, fold)


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jonckheere–Terpstra trend test — "do the values TREND upward
    across the ordered arms?" (Jonckheere 1954 / Terpstra 1952,
    public): the ordered-alternative sharpening of ``kruskal_wallis``
    (which only asks "do they differ?").  Groups are ordered by the
    natural sort of ``group_col`` — feed genuinely ordinal arms
    (priority tiers, dose levels).

    ``J = Σ_{i<j} U_ij`` over ordered group pairs, each ``U_ij`` the
    Mann–Whitney count ``#(x<y) + ½#(x=y)``.  No pair explosion, two
    code paths dispatched by the cell-table size (the r13
    graph fast-path discipline — the threshold bounds one task's
    memory, not a tuning knob):

    - cell table ≤ the module caps: ``2J`` is a weighted Kendall
      concordance between the arm order and the value — with N total
      rows, n₁/n₂/n₃ the arm-tied / value-tied / cell-tied pair
      counts and D the weighted strict-inversion count of values
      under the (arm, value) sort, ``2J = 2(n₀−n₁) − n₂ + n₃ − 2D``
      (expand U_ij over cells to verify; every term an exact
      integer).  One ``mapInPandas`` task over the already-aggregated
      (arm, value, count) cells — no grid, no quantile probe, no
      per-value window.
    - larger: per-(group, value) counts spread onto the pooled value
      grid (distinct values × k arms, zero-filled), cumulated per arm
      by the shared two-phase rank machinery
      (``drift._cum_counts_prebuilt`` — no single-task sort at any
      distinct-value count), then one k-row window per value
      accumulates the strictly-below / tied counts of all PRECEDING
      arms.

    Both paths fold the same exact integers, so they are
    bit-identical (pinned against each other in
    ``tests/test_stattests.py``).

    Exactness: 2J, every tie term, and the variance components are
    exact integers (DECIMAL(38,0)); the tie-corrected null variance
    (Hollander–Wolfe form) and ``z = (4J − (N² − Σn_g²)) / (4σ)``
    are a fixed IEEE sequence on those exact operands.  Degenerate
    inputs (k < 2, all values tied → σ = 0) yield NULL z.

    Output (one row): k, n, j2 (2J, bigint), j_stat (double),
    mean_j (double), z (double)."""
    from pyspark.sql import Window

    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    # on the distributed path the pinned count table feeds every
    # downstream consumer (grid probe / grid join / ng / tstats) —
    # unpinned, each re-ran the full corpus aggregation (~8 scans per
    # run measured)
    cgv, fold = _sized_cells(df, _group_value_cells(df, group_col, value_col), "__cg")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    if fold:
        agg = _fold_row(_jt_local_stats(cgv), zero=("k",))
    else:
        groups = cgv.select("__grp").distinct()
        vals = cgv.groupBy("__v").agg(F.sum("__cg").alias("__tv"))
        # zero-filled grid: every (arm, pooled value) cell — k is the
        # arm count (small by contract), so the grid is k× the pooled
        # distinct-value table and the broadcast is k rows
        grid = (
            vals.select("__v")
            .crossJoin(F.broadcast(groups))
            .join(cgv.hint("shuffle_hash"), ["__grp", "__v"], "left")
            .select(
                "__grp", "__v", F.coalesce("__cg", F.lit(0)).alias("__c")
            )
        )
        cum = _cum_counts_prebuilt(grid, "__grp", "__v")
        # per value, accumulate the strictly-below and tied counts of
        # all PRECEDING arms (k rows per partition — bounded, no skew)
        w_prev = (
            Window.partitionBy("__v")
            .orderBy("__grp")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pref = cum.select(
            "__grp",
            "__v",
            "__c",
            F.coalesce(
                F.sum(F.col("__cum") - F.col("__c")).over(w_prev), F.lit(0)
            ).alias("__plt"),
            F.coalesce(F.sum("__c").over(w_prev), F.lit(0)).alias("__peq"),
        )
        j2 = pref.agg(
            F.sum(
                d(F.col("__c"))
                * (F.lit(2) * F.col("__plt") + F.col("__peq"))
            ).alias("__j2")
        )
        ng = cgv.groupBy("__grp").agg(F.sum("__cg").alias("__ng"))
        gstats = ng.agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("__ng").cast("bigint").alias("n"),
            F.sum(d(F.col("__ng")) * F.col("__ng")).alias("__sn2"),
            F.sum(
                d(F.col("__ng"))
                * (F.col("__ng") - 1)
                * (2 * F.col("__ng") + 5)
            ).alias("__g25"),
            F.sum(
                d(F.col("__ng")) * (F.col("__ng") - 1) * (F.col("__ng") - 2)
            ).alias("__g3"),
            F.sum(d(F.col("__ng")) * (F.col("__ng") - 1)).alias("__g2"),
        )
        tstats = vals.agg(
            F.sum(
                d(F.col("__tv"))
                * (F.col("__tv") - 1)
                * (2 * F.col("__tv") + 5)
            ).alias("__t25"),
            F.sum(
                d(F.col("__tv")) * (F.col("__tv") - 1) * (F.col("__tv") - 2)
            ).alias("__t3"),
            F.sum(d(F.col("__tv")) * (F.col("__tv") - 1)).alias("__t2"),
        )
        agg = gstats.crossJoin(F.broadcast(tstats)).crossJoin(
            F.broadcast(j2)
        )
    nd = F.col("n").cast("double")
    n38 = d(F.col("n"))
    a_term = (
        n38 * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("__g25")
        - F.col("__t25")
    ).cast("double")
    var = (
        a_term / F.lit(72.0)
        + F.col("__g3").cast("double")
        * F.col("__t3").cast("double")
        / (F.lit(36.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0)))
        + F.col("__g2").cast("double")
        * F.col("__t2").cast("double")
        / (F.lit(8.0) * nd * (nd - F.lit(1.0)))
    )
    num = (F.lit(2) * F.col("__j2") - (n38 * F.col("n") - F.col("__sn2"))).cast(
        "double"
    )
    ok = (F.col("k") > 1) & (F.col("n") > 2) & (var > 0)
    return agg.select(
        "k",
        "n",
        F.col("__j2").cast("bigint").alias("j2"),
        (F.col("__j2").cast("double") / F.lit(2.0)).alias("j_stat"),
        ((n38 * F.col("n") - F.col("__sn2")).cast("double") / F.lit(4.0)).alias(
            "mean_j"
        ),
        F.when(ok, num / (F.lit(4.0) * F.sqrt(var))).alias("z"),
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    label_col: str,
) -> DataFrame:
    """Krippendorff's α (nominal) — chance-corrected inter-annotator
    agreement that, unlike ``fleiss_kappa``, tolerates UNEQUAL (and
    missing) ratings per unit (Krippendorff 1970/2004, public) — the
    right reliability gate for real crowd-label tables where items
    rarely get the same number of votes.  ``α = 1 − D_o/D_e`` over
    the coincidence matrix: observed disagreement
    ``D_o = Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1) / n`` (pairable units
    only, m_u ≥ 2) and expected ``D_e = (n² − Σ_c n_c²)/(n(n−1))``
    from the pooled category margins.

    Exactness: vote counts, unit sizes, margins, and every squared
    sum are exact integers; the one cross-unit float sum — the
    per-unit disagreement ``(m_u² − Σn_uc²)/(m_u − 1)`` — is
    micro-quantized to an integer DECIMAL before summing (the
    ``kruskal_wallis`` precedent and budget); D_o, D_e, and α are
    then a fixed IEEE sequence.  Degenerate inputs (no pairable
    units, or every vote one category → D_e = 0) yield NULL α.

    Scale: one (unit, label) keyed count (map-side combined), one
    units-sized fold, one categories-sized fold — nothing data-sized
    past the first shuffle.

    Output (one row): n_units, n_values, k_categories, d_o, d_e,
    alpha."""
    base = df.filter(
        F.col(unit_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(unit_col).alias("__u"), F.col(label_col).alias("__l"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nuc = base.groupBy("__u", "__l").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    per_unit = nuc.groupBy("__u").agg(
        F.sum("__n").cast("bigint").alias("__m"),
        F.sum(d(F.col("__n")) * F.col("__n")).alias("__sq"),
    ).filter(F.col("__m") >= 2)
    # per-unit disagreement: exact integer numerator, one fixed IEEE
    # division, micro-quantized before the cross-unit sum
    term = F.round(
        (d(F.col("__m")) * F.col("__m") - F.col("__sq")).cast("double")
        / (F.col("__m") - F.lit(1)).cast("double")
        * F.lit(1e6),
        0,
    ).cast("decimal(38,0)")
    units = per_unit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("__m").cast("bigint").alias("n_values"),
        F.sum(term).alias("__do_s"),
    )
    # margins over PAIRABLE units only (units with one vote carry no
    # pairable information and must not tilt the chance distribution)
    margins = (
        nuc.join(per_unit.select("__u"), "__u")
        .groupBy("__l")
        .agg(F.sum("__n").cast("bigint").alias("__nc"))
    )
    cats = margins.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_categories"),
        F.sum(d(F.col("__nc")) * F.col("__nc")).alias("__sc2"),
    )
    agg = units.crossJoin(F.broadcast(cats))
    nd = F.col("n_values").cast("double")
    d_o = F.col("__do_s").cast("double") / F.lit(1e6) / nd
    d_e = (
        d(F.col("n_values")) * F.col("n_values") - F.col("__sc2")
    ).cast("double") / (nd * (nd - F.lit(1.0)))
    ok = (F.col("n_units") > 0) & (d_e > 0)
    return agg.select(
        "n_units",
        "n_values",
        "k_categories",
        F.when(F.col("n_units") > 0, d_o).alias("d_o"),
        F.when(F.col("n_units") > 0, d_e).alias("d_e"),
        F.when(ok, F.lit(1.0) - d_o / d_e).alias("alpha"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Wilcoxon signed-rank test — ``paired_t_test``'s nonparametric
    sibling (Wilcoxon 1945, public): rank the |differences| of the
    paired columns, sum the ranks of the positive ones, and compare
    to the null where signs are coin flips.  The right paired test
    when the differences are skewed or outlier-ridden.

    Zero differences are dropped (the standard Wilcoxon reduction);
    ties in |d| take average ranks — kept integral by DOUBLING
    (``2·rank`` via the shared ``2·cum − c + 1`` identity on
    per-|d|-value counts, the ``mann_whitney_u`` machinery — no
    per-row ranking, no single-task sort).  ``W⁺`` stays a doubled
    exact integer; the normal approximation
    ``z = (2W⁺ − n(n+1)/2·…)`` uses the tie-corrected variance
    ``n(n+1)(2n+1)/24 − Σ(t³−t)/48`` — all components exact integers
    (DECIMAL(38,0)), then a fixed IEEE sequence.  n = 0 or zero
    variance (all |d| tied in one group — impossible after the zero
    drop unless n < 2) yields NULL z.

    Output (one row): n (bigint, nonzero pairs), w2_plus (2·W⁺,
    bigint), w_plus (double), mean_w (double), z (double)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    dd = F.col(a_col).cast("double") - F.col(b_col).cast("double")
    base = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .select(dd.alias("__d"))
        .filter(F.col("__d") != 0)
        .select(
            F.abs(F.col("__d")).alias("__v"),
            (F.col("__d") > 0).alias("__pos"),
        )
    )
    # ONE corpus pass (the mann_whitney_u discipline): per-|d| total
    # and positive counts in the same keyed aggregate, pinned; values
    # with zero positives carry __cp = 0, which the coalesce below
    # already treated identically to "absent from the pos table"
    cva = (
        base.groupBy("__v")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.col("__pos").cast("int")).cast("bigint").alias("__cp"),
        )
        .withColumn("__g", F.lit(0))
        .localCheckpoint(eager=False)
    )
    cum = _cum_counts_prebuilt(cva.select("__g", "__v", "__c"), "__g", "__v").select(
        "__v", "__c", "__cum"
    )
    pos = cva.select("__v", "__cp")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w2 = (
        cum.join(pos, "__v", "left")
        .agg(
            F.coalesce(
                F.sum(
                    d38(F.coalesce(F.col("__cp"), F.lit(0)))
                    * (F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1))
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__w2"),
            # empty input (every difference zero): SUM is NULL, but
            # the n = 0 / NULL-z contract needs a real zero
            F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(
                    d38(F.col("__c")) * F.col("__c") * F.col("__c")
                    - F.col("__c")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__tie3"),
        )
    )
    nd = F.col("n").cast("double")
    mean_w = nd * (nd + F.lit(1.0)) / F.lit(4.0)
    var_w = nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0)) / F.lit(
        24.0
    ) - F.col("__tie3").cast("double") / F.lit(48.0)
    w_plus = F.col("__w2").cast("double") / F.lit(2.0)
    ok = (F.col("n") > 0) & (var_w > 0)
    return w2.select(
        "n",
        F.col("__w2").cast("bigint").alias("w2_plus"),
        F.when(F.col("n") > 0, w_plus).alias("w_plus"),
        F.when(F.col("n") > 0, mean_w).alias("mean_w"),
        F.when(ok, (w_plus - mean_w) / F.sqrt(var_w)).alias("z"),
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio + test across strata
    (Mantel & Haenszel 1959, public) — the confounder-adjusted A/B
    readout: "does treatment associate with the outcome AFTER
    controlling for the stratifying variable?"  Per stratum the 2×2
    table (a, b, c, d; n = a+b+c+d) contributes
    ``a·d/n`` and ``b·c/n`` to the pooled ratio
    ``OR_MH = Σ(a·d/n)/Σ(b·c/n)``, and the continuity-corrected
    chi-square is ``(|Σa − ΣE| − ½)²/ΣV`` with the hypergeometric
    ``E = (a+b)(a+c)/n`` and
    ``V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1))``.

    Exactness: cell counts and every margin product are exact
    integers (DECIMAL(38,0)); each per-stratum term is a fixed IEEE
    sequence on exact operands, micro-quantized to an integer DECIMAL
    before the cross-strata sums (the ``kruskal_wallis`` budget); the
    finish is three divisions and one subtraction.  Σ(b·c/n) = 0
    yields NULL OR; ΣV = 0 yields NULL chi2.

    Scale: one (stratum)-keyed conditional-count aggregate (map-side
    combined), then a strata-sized fold — nothing data-sized past the
    first shuffle.

    Output (one row): n_strata, n_total (bigint), sum_a (bigint),
    or_mh, chi2_mh (double)."""
    t = F.col(treat_col).cast("int")
    y = F.col(outcome_col).cast("int")
    base = df.filter(
        F.col(stratum_col).isNotNull() & t.isNotNull() & y.isNotNull()
    ).select(
        F.col(stratum_col).alias("__s"), t.alias("__t"), y.alias("__y")
    )
    per = base.groupBy("__s").agg(
        F.sum(((F.col("__t") == 1) & (F.col("__y") == 1)).cast("bigint"))
        .cast("bigint")
        .alias("__a"),
        F.sum(((F.col("__t") == 1) & (F.col("__y") == 0)).cast("bigint"))
        .cast("bigint")
        .alias("__b"),
        F.sum(((F.col("__t") == 0) & (F.col("__y") == 1)).cast("bigint"))
        .cast("bigint")
        .alias("__c"),
        F.sum(((F.col("__t") == 0) & (F.col("__y") == 0)).cast("bigint"))
        .cast("bigint")
        .alias("__d"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n = F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")
    nd = n.cast("double")
    r_term = (d38(F.col("__a")) * F.col("__d")).cast("double") / nd
    s_term = (d38(F.col("__b")) * F.col("__c")).cast("double") / nd
    e_term = (
        d38(F.col("__a") + F.col("__b")) * (F.col("__a") + F.col("__c"))
    ).cast("double") / nd
    v_term = F.when(
        n > 1,
        (
            d38(F.col("__a") + F.col("__b"))
            * (F.col("__c") + F.col("__d"))
            * (F.col("__a") + F.col("__c"))
            * (F.col("__b") + F.col("__d"))
        ).cast("double")
        / (nd * nd * (nd - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    q = lambda c: F.round(c * F.lit(1e6), 0).cast("decimal(38,0)")  # noqa: E731
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(n).cast("bigint").alias("n_total"),
        F.sum("__a").cast("bigint").alias("sum_a"),
        F.sum(q(r_term)).alias("__r"),
        F.sum(q(s_term)).alias("__ss"),
        F.sum(q(e_term)).alias("__e"),
        F.sum(q(v_term)).alias("__v"),
    )
    rr = F.col("__r").cast("double") / F.lit(1e6)
    ss = F.col("__ss").cast("double") / F.lit(1e6)
    ee = F.col("__e").cast("double") / F.lit(1e6)
    vv = F.col("__v").cast("double") / F.lit(1e6)
    dev = F.abs(F.col("sum_a").cast("double") - ee) - F.lit(0.5)
    return agg.select(
        "n_strata",
        "n_total",
        "sum_a",
        F.when(ss > 0, rr / ss).alias("or_mh"),
        F.when(vv > 0, dev * dev / vv).alias("chi2_mh"),
    )


def _ad_local_stats(cgv: DataFrame) -> DataFrame:
    """Single-task Anderson–Darling sufficient statistics over the
    per-(arm, value) cell table (columns __grp, __v, __cg): one row
    with exactly the distributed path's final aggregate — k, n, __sq
    (micro-quantized term sum, decimal(38,0)), __at (all-tied flag).

    Bit-exactness is replayed operation for operation on the dense
    k×V grid: integer cums/l/d2/N in int64 (caller-capped), each term
    the same IEEE sequence ``l/N · (num·num) / den`` on the same
    correctly-rounded double operands, and both 1e-6
    micro-quantizations reproduced as Spark computes them
    (``core._q_halfup``) — the r13 graph-replay quantization discipline."""
    from pyspark.sql.types import (
        DecimalType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("n", LongType(), False),
            # NULL when no pooled value passes the den > 0 gate (the
            # distributed path's SUM over zero non-NULL terms)
            StructField("__sq", DecimalType(38, 0), True),
            StructField("__at", IntegerType(), False),
        ]
    )

    def fold(pdf):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        cg = _dense_codes(pdf["__grp"].to_numpy())
        cv = _dense_codes(pdf["__v"].to_numpy())
        w = pdf["__cg"].to_numpy().astype(np.int64)
        k = int(cg.max()) + 1
        nv = int(cv.max()) + 1
        C = np.zeros((k, nv), dtype=np.int64)
        C[cg, cv] = w
        cum = C.cumsum(axis=1)
        ng = C.sum(axis=1)
        l = C.sum(axis=0)
        n = int(l.sum())
        t2 = 2 * cum - C
        d2 = t2.sum(axis=0)
        num = (n * t2 - d2[None, :] * ng[:, None]).astype(np.float64)
        den = d2 * (2 * n - d2) - np.int64(n) * l
        # den is a pooled (per-value) quantity, so the NULL-term mask
        # is uniform across groups
        ok = den > 0
        at = int((l == n).any())
        if not ok.any():
            sq = None
        else:
            ld = l.astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                term = (
                    (ld / float(n))[None, :]
                    * (num * num)
                    / den.astype(np.float64)[None, :]
                )
                qt = core._q_halfup(term * 1e6)[:, ok]
            # per-group quantized term sums, then the per-group inner
            # term re-quantized and summed across groups
            tq = np.array([float(_exact_int_sum(row)) for row in qt])
            inner = tq / 1e6 / ng.astype(np.float64)
            sq = _exact_int_sum(core._q_halfup(inner * 1e6))
        return pd.DataFrame(
            {
                "k": pd.Series([k], dtype="int64"),
                "n": pd.Series([n], dtype="int64"),
                "__sq": [None if sq is None else Decimal(sq)],
                "__at": pd.Series([at], dtype="int32"),
            }
        )

    return core._one_task_fold(cgv, schema, fold)


def anderson_darling_k(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """k-sample Anderson–Darling test statistic (Scholz & Stephens
    1987, public; the tie-adjusted midrank form A²_akN — scipy's
    ``anderson_ksamp(midrank=True)`` statistic) — "were these k
    samples drawn from one distribution?", with more tail weight than
    ``kruskal_wallis`` (location) or ``ks_distance`` (sup-norm):
    the right gate when the tails are what matters.

    In DOUBLED midrank counts everything stays integral: per distinct
    pooled value j with multiplicity l_j, pooled ``D2_j = 2B_j =
    2·cum_j − l_j`` and per-group ``T2_ij = 2M_ij = 2·cum_ij −
    l_ij``; then
    ``A² = (N−1)/N · Σ_i (1/n_i) Σ_j (l_j/N) ·
    (N·T2_ij − D2_j·n_i)² / (D2_j·(2N − D2_j) − N·l_j)``
    (the ÷4 scalings cancel exactly between numerator and
    denominator).  The zero-filled (distinct values × k groups) grid
    is cumulated by the shared two-phase machinery
    (``drift._cum_counts_prebuilt`` — no single-task sort); each term is
    a fixed IEEE sequence on exact DECIMAL(38,0) operands,
    micro-quantized before the cross-value sums (the
    ``kruskal_wallis`` budget).  All values tied (the only way a
    denominator hits zero) yields NULL.

    Output (one row): k, n (bigint), a2_akn (double)."""
    from pyspark.sql import Window

    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    # same multi-consumer shape as jonckheere_terpstra; the grid cap
    # bounds the fast path's dense k×V matrix
    cgv, fold = _sized_cells(
        df, _group_value_cells(df, group_col, value_col), "__cg", max_grid=_CELL_FOLD_MAX_GRID
    )
    if fold:
        agg = _ad_local_stats(cgv)
    else:
        groups = cgv.select("__grp").distinct()
        vals = cgv.groupBy("__v").agg(F.sum("__cg").alias("__l"))
        grid = (
            vals.select("__v")
            .crossJoin(F.broadcast(groups))
            .join(cgv, ["__grp", "__v"], "left")
            .select(
                "__grp", "__v", F.coalesce("__cg", F.lit(0)).alias("__c")
            )
        )
        cum = _cum_counts_prebuilt(grid, "__grp", "__v")
        w_val = Window.partitionBy("__v")
        # pooled multiplicity and pooled doubled midrank cum per value
        # (sums over the k arms at that value — k rows per partition)
        enriched = cum.select(
            "__grp",
            "__v",
            "__c",
            "__cum",
            F.col("__n").alias("__ng"),
            F.sum("__c").over(w_val).alias("__l"),
            F.sum(F.lit(2) * F.col("__cum") - F.col("__c"))
            .over(w_val)
            .alias("__d2"),
        )
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        # pooled N as a 1-row aggregate broadcast onto the grid — NOT
        # an unpartitioned Window, which would funnel the whole
        # (values × k) grid through a single task at high value
        # cardinality
        n_row = grid.agg(F.sum("__c").alias("__N"))
        withn = enriched.crossJoin(F.broadcast(n_row))
        t2 = F.lit(2) * F.col("__cum") - F.col("__c")
        num = d38(F.col("__N")) * t2 - d38(F.col("__d2")) * F.col("__ng")
        den = d38(F.col("__d2")) * (
            F.lit(2) * F.col("__N") - F.col("__d2")
        ) - d38(F.col("__N")) * F.col("__l")
        term = F.when(
            den > 0,
            F.col("__l").cast("double")
            / F.col("__N").cast("double")
            * (num.cast("double") * num.cast("double"))
            / den.cast("double"),
        )
        q = lambda c: F.round(c * F.lit(1e6), 0).cast("decimal(38,0)")  # noqa: E731
        per_group = withn.groupBy("__grp").agg(
            F.first("__ng").alias("__ng"),
            F.first("__N").alias("__N"),
            F.sum(q(term)).alias("__tq"),
            F.max(
                (F.col("__l") == F.col("__N")).cast("int")
            ).alias("__alltied"),
        )
        inner = (
            F.col("__tq").cast("double")
            / F.lit(1e6)
            / F.col("__ng").cast("double")
        )
        agg = per_group.agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.first("__N").cast("bigint").alias("n"),
            F.sum(q(inner)).alias("__sq"),
            F.max("__alltied").alias("__at"),
        )
    nd = F.col("n").cast("double")
    a2 = (
        (nd - F.lit(1.0))
        / nd
        * (F.col("__sq").cast("double") / F.lit(1e6))
    )
    ok = (F.col("k") > 1) & (F.col("__at") == 0)
    return agg.select(
        "k", "n", F.when(ok, a2).alias("a2_akn")
    )


def smd_balance(
    df: DataFrame,
    treat_col: str,
    covariate_cols: Sequence[str],
    scale: int = 6,
) -> DataFrame:
    """Covariate balance report — the table every experiment readout
    and matching pipeline starts with: per covariate, both arms'
    exact counts/means/variances and the standardized mean difference
    ``SMD = (m̄_t − m̄_c)/√((s²_t + s²_c)/2)`` (Cohen's d with the
    unweighted pooled SD — the imbalance screen; |SMD| > 0.1 is the
    conventional flag).  ``treat_col`` must be 0/1.

    The covariate columns unpivot to (covariate, arm, value) rows via
    one codegen'd stack, then the module's micro-scaled integer
    moments per (covariate, arm) — the ``welch_t_test`` machinery
    widened to many measures in ONE pass over the input (no
    per-covariate scans).  Means/variances/SMD are a fixed IEEE
    sequence; an arm with n < 2 or zero pooled variance yields NULL
    smd.

    Output (one row per covariate, sorted): covariate, n_treat,
    n_ctrl, mean_treat, mean_ctrl, var_treat, var_ctrl, smd."""
    covs = list(covariate_cols)
    if not covs:
        raise ValueError("smd_balance: covariate_cols must be non-empty")
    t = F.col(treat_col).cast("int")
    pairs = []
    for c in covs:
        pairs += [F.lit(c), F.col(c).cast("double")]
    long = (
        df.filter(t.isNotNull())
        .select(
            t.alias("__t"),
            F.stack(F.lit(len(covs)), *pairs).alias("__cov", "__v"),
        )
        .filter(F.col("__v").isNotNull())
    )
    up = float(10**scale)
    down1 = float(10**scale)
    down2 = float(10 ** (2 * scale))
    sv = F.floor(F.col("__v") * F.lit(up)).cast("decimal(19,0)")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = long.groupBy("__cov", "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(d38(sv)).alias("__s1"),
        F.sum(sv * sv).alias("__s2"),
    )
    n = F.col("__n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = (s1 / n) / F.lit(down1)
    var = F.when(
        F.col("__n") > 1,
        ((s2 - s1 * s1 / n) / (n - F.lit(1.0))) / F.lit(down2),
    )
    arm = lambda flag, sfx: m.filter(F.col("__t") == flag).select(  # noqa: E731
        F.col("__cov").alias(f"__cov_{sfx}"),
        F.col("__n").alias(f"n_{sfx}"),
        mean.alias(f"mean_{sfx}"),
        var.alias(f"var_{sfx}"),
    )
    j = arm(1, "treat").join(
        arm(0, "ctrl"),
        F.col("__cov_treat") == F.col("__cov_ctrl"),
        "full",
    )
    pooled = (F.col("var_treat") + F.col("var_ctrl")) / F.lit(2.0)
    smd = F.when(
        pooled > 0,
        (F.col("mean_treat") - F.col("mean_ctrl")) / F.sqrt(pooled),
    )
    return (
        j.select(
            F.coalesce(F.col("__cov_treat"), F.col("__cov_ctrl")).alias(
                "covariate"
            ),
            "n_treat",
            "n_ctrl",
            "mean_treat",
            "mean_ctrl",
            "var_treat",
            "var_ctrl",
            smd.alias("smd"),
        )
        .orderBy("covariate")
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta (Cliff 1993, public) — the nonparametric effect
    size companion to ``mann_whitney_u``'s significance:
    ``δ = (#{x>y} − #{x<y}) / (n_a·n_b)`` over all cross-arm pairs,
    in [−1, 1] (0 = stochastic equality).  Report it alongside the
    U test's z — significance without magnitude is not a readout.

    No pair enumeration: with the doubled rank-sum identity
    ``2U_a = 2R_a − n_a(n_a+1)`` (exact integer from the shared
    value-count machinery — ties contribute exactly ½ each to U_a),
    ``δ = (2U_a − n_a·n_b) / (n_a·n_b)`` is ONE exact integer
    subtraction and ONE IEEE division.  Empty arms yield NULL.

    Output (one row): n_a, n_b, u2_a (2·U_a, bigint), delta
    (double)."""
    # NOT dispatched to the _cva_local_stats fold (r13): cliffs' tail
    # is a single aggregate with no tie term — the interleaved A/B
    # read flat-to-slightly-negative (0.53-0.61 -> 0.60-0.71 s), the
    # extra size-fold job buying nothing here, unlike
    # mann_whitney/ansari whose probe+window+join it replaces
    cva = _two_arm_cells(df, group_col, value_col, group_a, group_b).localCheckpoint(
        eager=False
    )
    agg = _two_arm_rank_sums(cva).withColumn(
        "n_b", (F.col("__n") - F.col("n_a")).cast("bigint")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    u2a = F.col("__2r1") - d(F.col("n_a")) * (F.col("n_a") + 1)
    nm = d(F.col("n_a")) * F.col("n_b")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, u2a).cast("bigint").alias("u2_a"),
        F.when(ok, (u2a - nm).cast("double") / nm.cast("double")).alias(
            "delta"
        ),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Ansari–Bradley scale test (Ansari & Bradley 1960, public) —
    "is arm A more DISPERSED than arm B?": the nonparametric
    dispersion companion to ``brown_forsythe`` (robust-parametric)
    and ``mann_whitney_u`` (location).  Pooled ranks score from both
    ends — ``a(r) = min(r, N+1−r)`` — so extreme values get LOW
    scores; ``W = Σ scores of arm A``, small W ⇒ A holds the tails.

    Ties take block-average scores (R's ansari.test convention), and
    the moments use the general linear-rank form — ``E[W] = n_a·ā``,
    ``Var[W] = n_a·n_b/(N(N−1)) · Σ(a_i − ā)²`` — which is exact
    under any tie pattern (the fixed even/odd-N textbook constants
    are a no-tie special case).

    Exactness: per tie block [lo, hi] the score sum has an integer
    closed form (prefix sums of min(r, N+1−r) — no per-rank explode),
    so Σa and the block terms ``c_a·S/c`` and ``S²/c`` are rationals
    on exact integers: fixed IEEE per block, micro-quantized before
    the cross-block sums (the ``kruskal_wallis`` budget).  Empty arm
    or zero score variance (N < 3, all tied) yields NULL z.

    Output (one row): n_a, n_b, w_stat, mean_w, z (double)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    cva, fold = _sized_cells(df, _two_arm_cells(df, group_col, value_col, group_a, group_b), "__c")
    if fold:
        agg = _fold_row(_ab_local_stats(cva))
    else:
        cum = _cum_counts_prebuilt(
            cva.select("__g", "__v", "__c"), "__g", "__v"
        )
        ca = cva.select("__v", "__ca")
        j = cum.join(ca, "__v")
        d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        n_all = F.col("__n")
        h = F.floor((n_all + 1) / 2)

        def s_prefix(x):
            # S(x) = sum_{r<=x} min(r, N+1-r), exact integer closed
            # form
            up = d(x) * (x + 1) / 2
            tail = (
                d(h) * (h + 1) / 2
                + d(x - h) * (n_all + 1)
                - (d(x) * (x + 1) / 2 - d(h) * (h + 1) / 2)
            )
            return F.when(x <= h, up).otherwise(tail)

        lo = F.col("__cum") - F.col("__c")
        s_blk = (
            s_prefix(F.col("__cum")) - s_prefix(lo)
        ).cast("decimal(38,0)")
        cd = F.col("__c").cast("double")
        q = lambda c: F.round(c * F.lit(1e6), 0).cast("decimal(38,0)")  # noqa: E731
        w_term = F.col("__ca").cast("double") * s_blk.cast("double") / cd
        sq_term = s_blk.cast("double") * s_blk.cast("double") / cd
        agg = j.agg(
            F.sum("__ca").cast("bigint").alias("n_a"),
            F.sum("__c").cast("bigint").alias("__nt"),
            F.sum(s_blk).alias("__sa"),
            F.sum(q(w_term)).alias("__wq"),
            F.sum(q(sq_term)).alias("__sq"),
        )
    agg = agg.withColumn("n_b", (F.col("__nt") - F.col("n_a")).cast("bigint"))
    nd = F.col("__nt").cast("double")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("__sa").cast("double")
    w = F.col("__wq").cast("double") / F.lit(1e6)
    ssq = F.col("__sq").cast("double") / F.lit(1e6)
    a_bar = sa / nd
    mean_w = na * a_bar
    var_w = na * nb / (nd * (nd - F.lit(1.0))) * (ssq - nd * a_bar * a_bar)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (F.col("__nt") > 2) & (
        var_w > 0
    )
    return agg.select(
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, w).alias("w_stat"),
        F.when(F.col("n_a") > 0, mean_w).alias("mean_w"),
        F.when(ok, (w - mean_w) / F.sqrt(var_w)).alias("z"),
    )


def brunner_munzel(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Brunner–Munzel test (Brunner & Munzel 2000, public) — the
    heteroskedasticity-robust replacement for ``mann_whitney_u``:
    tests ``P(X<Y) + ½P(X=Y) = ½`` WITHOUT the equal-variance
    assumption the U test's null needs (the rank-world analogue of
    Welch vs Student).  Also emits ``p_hat``, the common-language
    effect size itself.

    Everything derives from two rank systems — pooled midranks and
    within-arm midranks — both exact in DOUBLED integers from
    per-value counts (the shared ``2·cum − c + 1`` identity; no
    per-row ranking).  Per arm, the variance of ``R_i − R_i^(g)``
    needs only ΣD and ΣD² of the doubled differences (every
    observation at a value shares them, so the sums are per-value
    count folds — exact DECIMAL(38,0)); the statistic
    ``W = n_a·n_b·(R̄_b − R̄_a)/(N·√(n_a·v_a + n_b·v_b))`` and its
    Welch-like df are then a fixed IEEE sequence.  Degenerate inputs
    (an empty arm, n_g < 2, zero combined variance — e.g. no overlap
    or all tied) yield NULL w/df.

    Output (one row): n_a, n_b, p_hat, w_stat, df_bm (double)."""
    from bubbles_spark.ops.drift import _cum_counts_prebuilt

    both = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.when(F.col(group_col) == F.lit(group_a), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("__arm"),
        F.col(value_col).alias("__v"),
    )
    # ONE corpus pass: the per-(arm, value) counts are exactly what
    # _grouped_cum_counts builds internally for the within ranking —
    # pin them and derive the pooled per-value counts by summing over
    # arms (exact), so the corpus is never aggregated twice
    cav = (
        both.groupBy("__arm", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    pooled_counts = (
        cav.groupBy("__v")
        .agg(F.sum("__c").cast("bigint").alias("__c"))
        .withColumn("__g", F.lit(0))
    )
    pooled = _cum_counts_prebuilt(pooled_counts, "__g", "__v").select(
        "__v", F.col("__c").alias("__cp"), F.col("__cum").alias("__cum_p")
    )
    within = _cum_counts_prebuilt(cav, "__arm", "__v").select(
        "__arm", "__v", "__c", "__cum", F.col("__n").alias("__ng")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = within.join(pooled, "__v")
    # doubled pooled midrank 2R = 2·cum_p − c_p + 1; doubled within
    # midrank 2R' = 2·cum_g − c_g + 1; doubled difference D = 2R − 2R'
    two_r = F.lit(2) * F.col("__cum_p") - F.col("__cp") + F.lit(1)
    two_rg = F.lit(2) * F.col("__cum") - F.col("__c") + F.lit(1)
    dd = d(two_r - two_rg)
    per_arm = j.groupBy("__arm").agg(
        F.sum("__c").cast("bigint").alias("__n"),
        F.sum(d(F.col("__c")) * two_r).alias("__s2r"),
        F.sum(d(F.col("__c")) * dd).alias("__sd"),
        F.sum(d(F.col("__c")) * dd * dd).alias("__sdd"),
    )
    nd = F.col("__n").cast("double")
    rbar = F.col("__s2r").cast("double") / (F.lit(2.0) * nd)
    sdd = F.col("__sdd").cast("double")
    sd1 = F.col("__sd").cast("double")
    var_g = F.when(
        F.col("__n") > 1,
        (sdd - sd1 * sd1 / nd) / (F.lit(4.0) * (nd - F.lit(1.0))),
    )
    # ONE global aggregate with conditional picks, not two filtered
    # frames crossJoined: an empty arm must still surface the
    # documented one NULL-w/df row (a filter+crossJoin would
    # annihilate to zero rows), and a global agg over even an empty
    # frame always yields exactly one row
    stats = per_arm.select(
        "__arm",
        F.col("__n").alias("__nn"),
        rbar.alias("__rbar"),
        var_g.alias("__vg"),
    )
    pick = lambda a, c: F.max(  # noqa: E731
        F.when(F.col("__arm") == a, F.col(c))
    )
    agg = stats.agg(
        F.coalesce(pick("a", "__nn"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(pick("b", "__nn"), F.lit(0)).cast("bigint").alias("n_b"),
        pick("a", "__rbar").alias("__rbar_a"),
        pick("b", "__rbar").alias("__rbar_b"),
        pick("a", "__vg").alias("__v_a"),
        pick("b", "__vg").alias("__v_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    p_hat = (F.col("__rbar_b") - (nb + F.lit(1.0)) / F.lit(2.0)) / na
    combo = na * F.col("__v_a") + nb * F.col("__v_b")
    w = (
        na
        * nb
        * (F.col("__rbar_b") - F.col("__rbar_a"))
        / (nn * F.sqrt(combo))
    )
    df_bm = (combo * combo) / (
        (na * F.col("__v_a")) * (na * F.col("__v_a")) / (na - F.lit(1.0))
        + (nb * F.col("__v_b")) * (nb * F.col("__v_b")) / (nb - F.lit(1.0))
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (combo > 0)
    return agg.select(
        "n_a",
        "n_b",
        p_hat.alias("p_hat"),
        F.when(ok, w).alias("w_stat"),
        F.when(ok, df_bm).alias("df_bm"),
    )


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's trend test (Page 1963, public) — ``friedman_test``'s
    ordered-alternative sharpening, exactly as ``jonckheere_terpstra``
    sharpens ``kruskal_wallis``: "do the k treatments trend UPWARD in
    their given order, judging each block only against itself?"
    Treatments are ordered by the natural sort of ``treatment_col``
    (feed genuinely ordinal arms).  ``L = Σ_j j·R_j`` over per-
    treatment within-block rank sums; large L ⇒ later treatments rank
    higher.

    Contract: the ``friedman_test`` complete-block shape (exactly one
    observation per (block, treatment), all blocks complete) —
    violations raise.  Exactness: doubled within-block average ranks
    keep L integral (``L2 = Σ j·D_j``, exact BIGINT/DECIMAL); the
    normal null moments ``E[L] = n·k(k+1)²/4`` and
    ``Var[L] = n·(k³−k)²/(144(k−1))`` assume NO ties within a block,
    so z is NULL when any block has tied values (L2 itself stays
    exact under ties via average ranks) — the R ``page.test``
    discipline, surfaced rather than silently mis-scaled.

    Scale: within-block ranking windows (k rows per block, blocks
    parallelize), then treatments-sized folds.

    Output (one row): n_blocks, k_treatments, l2_stat (2L, bigint),
    l_stat, mean_l, z (double)."""
    from pyspark.sql import Window as W

    base = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        F.col(value_col).alias("__v"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    shape = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.countDistinct("__t").alias("__kd"),
        (F.countDistinct("__v") < F.count(F.lit(1)))
        .cast("int")
        .alias("__tied"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.min("__rows").alias("__rmin"),
        F.max("__rows").alias("__rmax"),
        F.min("__kd").alias("__kmin"),
        F.max("__kd").alias("__kmax"),
        F.max("__tied").alias("__anytied"),
    ).collect()[0]
    if shape["n_blocks"] == 0:
        raise ValueError("page_trend_test: no complete rows")
    if not (
        shape["__rmin"] == shape["__rmax"] == shape["__kmin"]
        == shape["__kmax"]
    ):
        raise ValueError(
            "page_trend_test: every block needs exactly one observation "
            "per treatment and all treatments "
            f"(rows per block {shape['__rmin']}..{shape['__rmax']}, "
            f"distinct treatments {shape['__kmin']}..{shape['__kmax']}) "
            "— pre-aggregate to the complete-block shape first"
        )
    n = int(shape["n_blocks"])
    k = int(shape["__rmin"])
    tied = bool(shape["__anytied"])
    w_rank = W.partitionBy("__b").orderBy("__v")
    w_tie = W.partitionBy("__b", "__v")
    dd = (
        F.lit(2) * F.rank().over(w_rank)
        + F.count(F.lit(1)).over(w_tie)
        - F.lit(1)
    ).cast("bigint")
    per_t = base.withColumn("__d", dd).groupBy("__t").agg(
        F.sum("__d").cast("bigint").alias("__D")
    )
    w_ord = W.orderBy("__t")
    idx = F.row_number().over(w_ord)  # k rows — trivially bounded
    agg = per_t.withColumn("__j", idx).agg(
        F.sum(d(F.col("__j")) * F.col("__D")).alias("__L2")
    )
    mean_l = float(n * k * (k + 1) ** 2) / 4.0
    var_l = float(n) * float(k**3 - k) ** 2 / (144.0 * float(k - 1)) if k > 1 else 0.0
    l_stat = F.col("__L2").cast("double") / F.lit(2.0)
    ok = (not tied) and k > 1 and var_l > 0
    return agg.select(
        F.lit(n).cast("bigint").alias("n_blocks"),
        F.lit(k).cast("bigint").alias("k_treatments"),
        F.col("__L2").cast("bigint").alias("l2_stat"),
        l_stat.alias("l_stat"),
        F.lit(mean_l).alias("mean_l"),
        (
            (l_stat - F.lit(mean_l)) / F.lit(var_l**0.5)
            if ok
            else F.lit(None).cast("double")
        ).alias("z"),
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's α (Cronbach 1951, public) — internal-consistency
    reliability of a k-item scale: ``α = k/(k−1)·(1 − Σᵢvar_i /
    var_total)`` with ``var_i`` each item's variance across subjects
    and ``var_total`` the variance of per-subject total scores.  The
    continuous-outcome sibling of ``fleiss_kappa``/
    ``krippendorff_alpha`` in the agreement family: "do these k
    quality signals / annotator scores measure one underlying thing?"

    Contract: EXACTLY one observation per (subject, item) and every
    subject complete with all k items — the ``friedman_test``
    complete-grid discipline; violations raise.  k ≥ 2 enforced.

    Exactness: values micro-quantized to 1e-6 BIGINT units (exact for
    ≤ 6-dp inputs — pass DECIMAL for the guarantee), so per-item
    Σu/Σu² and per-subject totals are exact DECIMAL(38,0) folds;
    each sample variance is a fixed IEEE sequence on those, per-item
    variances nano-quantized before the k-item sum (the
    micro-quantization budget).  n < 2 subjects raises (no variance
    exists — an Infinity would poison the ANSI decimal fold); zero
    total variance ⇒ NULL α (surfaced, not mis-scaled).

    Scale: two keyed count shuffles (per-item moments, per-subject
    totals) — both map-side combined; everything after is k-row /
    1-row metadata.

    Output (one row): n_subjects, k_items (bigint), sum_item_var,
    total_var, alpha (double)."""
    base = df.filter(
        F.col(subject_col).isNotNull()
        & F.col(item_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(subject_col).alias("__s"),
        F.col(item_col).alias("__i"),
        F.round(
            F.col(value_col).cast("decimal(24,8)")
            * F.lit(1000000).cast("decimal(8,0)")
        )
        .cast("bigint")
        .alias("__u"),
    )
    shape = (
        base.groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__rows"),
            F.countDistinct("__i").alias("__kd"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
            F.min("__rows").alias("__rmin"),
            F.max("__rows").alias("__rmax"),
            F.min("__kd").alias("__kmin"),
            F.max("__kd").alias("__kmax"),
        )
        .collect()[0]
    )
    if shape["n_subjects"] == 0:
        raise ValueError("cronbach_alpha: no complete rows")
    if not (
        shape["__rmin"] == shape["__rmax"] == shape["__kmin"]
        == shape["__kmax"]
    ):
        raise ValueError(
            "cronbach_alpha: every subject needs exactly one "
            "observation per item and all items (rows per subject "
            f"{shape['__rmin']}..{shape['__rmax']}, distinct items "
            f"{shape['__kmin']}..{shape['__kmax']}) — pre-aggregate "
            "to the complete-grid shape first"
        )
    n = int(shape["n_subjects"])
    k = int(shape["__rmin"])
    if k < 2:
        raise ValueError("cronbach_alpha: need k >= 2 items")
    if n < 2:
        raise ValueError("cronbach_alpha: need n >= 2 subjects")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nd = float(n)
    per_item = base.groupBy("__i").agg(
        F.sum(d38(F.col("__u"))).alias("__su"),
        F.sum(d38(F.col("__u")) * d38(F.col("__u"))).alias("__suu"),
    )
    # sample variance, fixed IEEE sequence on exact integer sums:
    # (Σu² − Σu·Σu/n) / ((n−1)·1e12)  — the 1e12 undoes the 1e-6
    # unit squaring
    var_i = (
        F.col("__suu").cast("double")
        - F.col("__su").cast("double") * F.col("__su").cast("double")
        / F.lit(nd)
    ) / F.lit((nd - 1.0) * 1e12)
    q = lambda c: F.round(c * F.lit(1e9), 0).cast("decimal(38,0)")  # noqa: E731
    items_fold = per_item.agg(F.sum(q(var_i)).alias("__vq"))
    per_subj = base.groupBy("__s").agg(
        # decimal(38,0) fold like every other moment: a subject's
        # k-item total of 1e-6-unit values can overflow a BIGINT sum
        # for large-magnitude inputs (ANSI raise — a scale cliff the
        # decimal folds avoid)
        F.sum(d38(F.col("__u"))).alias("__t")
    )
    tot = per_subj.agg(
        F.sum(d38(F.col("__t"))).alias("__st"),
        F.sum(d38(F.col("__t")) * d38(F.col("__t"))).alias("__stt"),
    )
    var_t = (
        F.col("__stt").cast("double")
        - F.col("__st").cast("double") * F.col("__st").cast("double")
        / F.lit(nd)
    ) / F.lit((nd - 1.0) * 1e12)
    j = tot.crossJoin(F.broadcast(items_fold))
    sv = F.col("__vq").cast("double") / F.lit(1e9)
    alpha = F.lit(float(k)) / F.lit(float(k - 1)) * (
        F.lit(1.0) - sv / var_t
    )
    return j.select(
        F.lit(n).cast("bigint").alias("n_subjects"),
        F.lit(k).cast("bigint").alias("k_items"),
        sv.alias("sum_item_var"),
        var_t.alias("total_var"),
        F.when(var_t > 0, alpha).alias("alpha"),
    )


def lepage_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Lepage location–scale test (Lepage 1971, public) — the
    omnibus two-sample gate: ``D = z_W² + z_AB²``, the squared
    standardized Wilcoxon rank-sum (location) plus the squared
    standardized Ansari–Bradley (scale), χ²(2) under H₀.  Catches a
    distribution shift in EITHER moment that each component alone
    would need its own test for — the one-number "did this arm's
    value distribution change at all?" monitor.

    A pure COMPOSITION of the two shared-machinery operators (their
    z's are already exact fixed IEEE sequences on integer rank
    folds; see ``mann_whitney_u`` / ``ansari_bradley``), so D is two
    multiplies and an add on bit-exact inputs.  Two passes over the
    data (one per component's value-count fold) — both map-side
    combined, metadata after.

    Degenerate inputs (either component z NULL — empty arm, all
    tied, zero variance) yield NULL d_stat/df (surfaced).

    Output (one row): n_a, n_b (bigint), z_location, z_scale,
    d_stat, df_lepage (double)."""
    mw = mann_whitney_u(df, group_col, value_col, group_a, group_b).select(
        "n_a", "n_b", F.col("z").alias("z_location")
    )
    ab = ansari_bradley(df, group_col, value_col, group_a, group_b).select(
        F.col("z").alias("z_scale")
    )
    j = mw.crossJoin(F.broadcast(ab))
    d = (
        F.col("z_location") * F.col("z_location")
        + F.col("z_scale") * F.col("z_scale")
    )
    return j.select(
        "n_a",
        "n_b",
        "z_location",
        "z_scale",
        d.alias("d_stat"),
        F.when(d.isNotNull(), F.lit(2.0)).alias("df_lepage"),
    )
