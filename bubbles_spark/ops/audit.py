"""Data profiling operators (SURVEY.md §2.6 A3/A4).

basic_audit is the reference's per-field profiler
(bubbles/ops/rows.py::basic_audit): record count, null count, null
ratio, empty-string count, distinct count — one OUTPUT ROW PER FIELD.

Spark-first design: ONE pass over the data computing all per-field
aggregates in a single job (wide agg), then an unpivot (stack) of the
single result row into field-per-row shape.  The unpivot runs on one
row, so it costs nothing; the scan parallelizes.  The reference
instead keeps a Python dict of accumulators per field in one
single-threaded pass.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
)


def _is_numeric(dtype: str) -> bool:
    return dtype.startswith(_NUMERIC_PREFIXES)


def _audit(
    df: DataFrame,
    by: Sequence[str],
    fields: Sequence[str] | None,
    distinct_threshold: int,
    exact_distinct: bool,
    numeric_stats: bool,
) -> DataFrame:
    """Shared audit kernel: ONE wide aggregate (optionally grouped)
    computing every per-field stat, then a per-row explode into
    field-per-row shape.  The explode runs on #groups rows — nothing;
    the scan parallelizes and partial-aggregates map-side."""
    by = list(by)
    target = [f for f in (list(fields) if fields else df.columns) if f not in by]
    dtypes = dict(df.dtypes)

    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in target:
        col = F.col(f)
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__null_{f}"))
        if dtypes.get(f) == "string":
            empty = F.sum(F.when(col == "", 1).otherwise(0))
        else:
            empty = F.lit(0)
        aggs.append(empty.alias(f"__empty_{f}"))
        if exact_distinct:
            aggs.append(F.countDistinct(col).alias(f"__dist_{f}"))
        else:
            aggs.append(F.approx_count_distinct(col).alias(f"__dist_{f}"))
        if numeric_stats and _is_numeric(dtypes.get(f, "")):
            d = col.cast("double")
            aggs.append(F.min(d).alias(f"__min_{f}"))
            aggs.append(F.max(d).alias(f"__max_{f}"))
            aggs.append(F.round(F.avg(d), 4).alias(f"__mean_{f}"))
            aggs.append(F.round(F.stddev_samp(d), 4).alias(f"__std_{f}"))

    row = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)

    nulld = F.lit(None).cast("double")
    per_field = []
    for f in target:
        struct_fields = [
            F.lit(f).alias("field"),
            F.col("__n").alias("record_count"),
            F.col(f"__null_{f}").cast("long").alias("null_count"),
            F.col(f"__empty_{f}").cast("long").alias("empty_string_count"),
            F.least(F.col(f"__dist_{f}"), F.lit(distinct_threshold))
            .cast("long")
            .alias("distinct_count"),
        ]
        if numeric_stats:
            is_num = _is_numeric(dtypes.get(f, ""))
            struct_fields += [
                (F.col(f"__min_{f}") if is_num else nulld).alias("min_value"),
                (F.col(f"__max_{f}") if is_num else nulld).alias("max_value"),
                (F.col(f"__mean_{f}") if is_num else nulld).alias("mean"),
                (F.col(f"__std_{f}") if is_num else nulld).alias("stddev"),
            ]
        per_field.append(F.struct(*struct_fields))
    exploded = row.select(
        *by, F.explode(F.array(*per_field)).alias("a")
    ).select(*by, "a.*")
    return exploded.withColumn(
        "null_ratio",
        F.when(
            F.col("record_count") > 0,
            F.round(F.col("null_count") / F.col("record_count"), 6),
        ).otherwise(F.lit(None).cast("double")),
    )


def basic_audit(
    df: DataFrame,
    fields: Sequence[str] | None = None,
    distinct_threshold: int = 10,
    exact_distinct: bool = True,
    numeric_stats: bool = False,
) -> DataFrame:
    """Per-field audit → rows (field, record_count, null_count,
    null_ratio, empty_string_count, distinct_count).

    ``distinct_count`` is capped at ``distinct_threshold`` like the
    reference (which stops collecting the seen-set past the cap).  At
    100 TB set ``exact_distinct=False`` to use HLL sketches
    (approx_count_distinct) instead of exact distincts — the exact
    path is one shuffle-free wide aggregate either way, but HLL keeps
    state O(1) per field.

    ``numeric_stats=True`` appends min_value / max_value / mean /
    stddev columns (NULL for non-numeric fields) — still the same
    single pass, just a wider aggregate.
    """
    return _audit(
        df, [], fields, distinct_threshold, exact_distinct, numeric_stats
    )


def grouped_audit(
    df: DataFrame,
    by: Sequence[str] | str,
    fields: Sequence[str] | None = None,
    distinct_threshold: int = 10,
    exact_distinct: bool = True,
    numeric_stats: bool = True,
) -> DataFrame:
    """Per-GROUP per-field audit → rows (*by, field, stats...) — the
    data-quality-by-source primitive for training pipelines (null
    ratios and value ranges per crawl domain / shard / day, in one
    pass).  Same wide-aggregate shape as basic_audit but grouped:
    one hash-partitioned aggregate over the group keys; every stat
    partial-aggregates map-side (count/sum/min/max/avg/stddev and,
    with ``exact_distinct=False``, HLL sketches — all mergeable), so
    group count, not data size, bounds reducer state.
    """
    by_list = [by] if isinstance(by, str) else list(by)
    return _audit(
        df, by_list, fields, distinct_threshold, exact_distinct, numeric_stats
    )


_PROBE_ORDER = ["integer", "number", "boolean", "date", "datetime", "string"]


def infer_types(
    df: DataFrame, fields: Sequence[str] | None = None, sample_rows: int = 1000
) -> DataFrame:
    """Infer the narrowest storage type per string field by try-cast
    voting over a row sample (bubbles/ops/rows.py::infer_types —
    SURVEY.md §2.6 A4).  Returns rows (field, inferred_type).

    The vote runs as one aggregate over the sample: a field infers to
    type t if every non-null value casts cleanly to t.
    """
    target = list(fields) if fields else [
        name for name, dtype in df.dtypes if dtype == "string"
    ]
    sample = df.select(*target).limit(sample_rows)

    # try_cast, not cast: Spark 4 runs ANSI mode by default, where a
    # failed cast is an error instead of NULL
    casts = {
        "integer": lambda c: c.try_cast(T.LongType()),
        "number": lambda c: c.try_cast(T.DoubleType()),
        "boolean": lambda c: c.try_cast(T.BooleanType()),
        "date": lambda c: c.try_cast(T.DateType()),
        "datetime": lambda c: c.try_cast(T.TimestampType()),
    }
    aggs = []
    for f in target:
        col = F.col(f)
        nonnull = F.sum(F.when(col.isNotNull() & (col != ""), 1).otherwise(0))
        aggs.append(nonnull.alias(f"__nn_{f}"))
        for tname, fn in casts.items():
            ok = F.sum(
                F.when(
                    col.isNotNull() & (col != "") & fn(col).isNotNull(), 1
                ).otherwise(0)
            )
            aggs.append(ok.alias(f"__{tname}_{f}"))
    row = sample.agg(*aggs)

    per_field = []
    for f in target:
        nn = F.col(f"__nn_{f}")
        inferred = F.lit("string")
        # narrowest wins: check in reverse priority so earlier probes override
        for tname in reversed(["integer", "number", "boolean", "date", "datetime"]):
            inferred = F.when(
                (nn > 0) & (F.col(f"__{tname}_{f}") == nn), F.lit(tname)
            ).otherwise(inferred)
        per_field.append(
            F.struct(F.lit(f).alias("field"), inferred.alias("inferred_type"))
        )
    return row.select(F.explode(F.array(*per_field)).alias("a")).select("a.*")


def skew_report(
    df: DataFrame,
    key: str | Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Hot-key diagnosis for join/groupBy planning: the ``k`` heaviest
    key values with their row counts and fraction of the table.
    This is the FIRST thing to run when a 100 TB join stalls on a
    straggler task — the output tells you whether to salt
    (ops.core.salted_join), filter a sentinel key (NULL/empty-string
    floods are the classic), or broadcast the other side.

    One partial-aggregated groupBy + a TakeOrdered of k rows; the
    total is a scalar subquery-style cross join of one row (no
    driver collect in the plan)."""
    keys = [key] if isinstance(key, str) else list(key)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("key_count"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    top = (
        counts.orderBy(F.col("key_count").desc(), *[F.col(c).asc_nulls_first() for c in keys])
        .limit(k)
    )
    return top.crossJoin(total).select(
        *keys,
        "key_count",
        F.round(F.col("key_count") / F.col("__total"), 6).alias("fraction"),
    )


def table_fingerprint(
    df: DataFrame,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Order-insensitive table checksum — one row
    (record_count, checksum) where checksum = SUM of a 32-bit slice
    of md5 over the row's pipe-joined string form, mod 2^62.

    The cross-environment validation primitive: run it here and on
    the system you migrated from/to, compare two numbers, know the
    tables match — without moving either table.  md5-on-strings (not
    xxhash64) precisely so ANY engine can recompute it; addition is
    commutative so partitioning/order never matters.  NULLs render as
    the \x01 sentinel (expressible as chr(1) in SQL engines, unlike
    NUL).  Caveat for floats/timestamps: cast-to-string formatting
    differs across engines (Spark prints 1e8 as '1.0E8') — format
    such columns explicitly before fingerprinting cross-engine."""
    cols = list(columns) if columns else df.columns
    joined = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in cols]
    )
    h = F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("record_count"),
        (F.sum(h) % F.lit(2**62)).alias("checksum"),
    )


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[str],
    method: str = "pearson",
    decimals: int = 6,
) -> DataFrame:
    """Pairwise sample correlation over numeric columns, long form:
    (col_a, col_b, corr) for every a <= b pair in the given order
    (diagonal included, corr = 1 when the column varies).

    One aggregate pass computes all N(N+1)/2 ``corr`` aggregates
    map-side-partial in a single job (the basic_audit pattern: wide
    agg on one row, then a free stack unpivot of that row) — no
    per-pair scans, no driver-side math.  Use on feature tables
    (N in the tens); N² agg slots, not N² passes.

    Only ``pearson`` is supported: Spearman needs a rank transform —
    rank the columns first (core.rank_in_group / a Window) and call
    this on the ranks."""
    if method != "pearson":
        raise ValueError("only method='pearson' is supported (rank first for spearman)")
    cols = list(cols)
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                F.round(
                    F.corr(F.col(a).cast("double"), F.col(b).cast("double")),
                    decimals,
                ).alias(f"{a}\x1f{b}")
            )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', `{a}\x1f{b}`"
        for i, a in enumerate(cols)
        for b in cols[i:]
    )
    n_pairs = len(cols) * (len(cols) + 1) // 2
    return wide.selectExpr(
        f"stack({n_pairs}, {stack_args}) AS (col_a, col_b, corr)"
    )


def key_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column KEY-QUALITY profile — the first audit before trusting
    a join key or declaring a primary key: for each candidate column,
    row count, non-null distinct count, null count, the largest
    duplicate-group size, and an ``is_unique`` verdict (every non-null
    value occurs once).

    One keyed count per column plus a one-row fold — each column's
    pass is a map-side-combined groupBy (never a global window), and
    the report is len(cols) rows.  Fully lazy: the row total is a
    one-row aggregate joined in, not a build-time action.  Output:
    col, n_rows, n_distinct, n_null, max_group, is_unique."""
    tot = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    out = None
    for c in cols:
        per_v = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        prof = per_v.agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("__nn"),
            F.coalesce(F.max("__n"), F.lit(0)).cast("bigint").alias("max_group"),
            F.coalesce(F.max("__n") <= 1, F.lit(True)).alias("is_unique"),
        )
        row = tot.crossJoin(prof).select(
            F.lit(c).alias("col"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("__nn")).cast("bigint").alias("n_null"),
            "max_group",
            "is_unique",
        )
        out = row if out is None else out.unionByName(row)
    return out


def referential_integrity_report(
    child: DataFrame,
    parent: DataFrame,
    fk_col: str,
    pk_col: str,
) -> DataFrame:
    """One-row foreign-key health report for a child→parent edge —
    the referential audit a warehouse runs before trusting a join:

    - ``child_rows`` / ``parent_rows``: table sizes
    - ``null_fk_rows``: child rows whose FK is NULL (can never join)
    - ``orphan_rows`` / ``orphan_keys``: child rows (and distinct FK
      values) with no matching parent — the severity signal
    - ``unreferenced_parents``: parent keys no child points at
      (usually fine; interesting for retention/archival)

    Plan shape: the child side aggregates to DISTINCT FK COUNTS
    first, so the orphan check joins a keys-sized table against the
    parent's keys (left-anti equi-join — broadcast when the parent
    key set is dim-sized), never row-by-row; the unreferenced side is
    the mirror anti-join.  Total: two keyed counts + two anti-joins,
    folded with one-row cross joins (lazy — no build-time actions)."""
    fk = F.col(fk_col)
    child_keys = (
        child.filter(fk.isNotNull())
        .groupBy(fk.alias("__k"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    parent_keys = parent.select(F.col(pk_col).alias("__k")).distinct()
    orphans = child_keys.join(parent_keys, "__k", "left_anti").agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("orphan_rows"),
        F.count(F.lit(1)).alias("orphan_keys"),
    )
    unref = parent_keys.join(child_keys, "__k", "left_anti").agg(
        F.count(F.lit(1)).alias("unreferenced_parents")
    )
    base = child.agg(
        F.count(F.lit(1)).cast("bigint").alias("child_rows"),
        F.coalesce(F.sum(fk.isNull().cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("null_fk_rows"),
    )
    prows = parent.agg(F.count(F.lit(1)).cast("bigint").alias("parent_rows"))
    return (
        base.crossJoin(prows)
        .crossJoin(orphans)
        .crossJoin(unref)
        .select(
            "child_rows",
            "parent_rows",
            "null_fk_rows",
            "orphan_rows",
            "orphan_keys",
            "unreferenced_parents",
        )
    )


def benford_report(df: DataFrame, col: str) -> DataFrame:
    """First-digit (Benford's-law) audit of a positive numeric column
    — the classic fabricated-data / truncation / unit-mixing smell
    test for financial and measurement fields: compare the observed
    leading-digit distribution against ``log10(1 + 1/d)``.

    The leading digit comes from the value's STRING rendering (first
    character of the integer part) — no ``log10`` on data, so no libm
    crossing; rows with ``value < 1`` drop (no leading significant
    digit in the integer part — Benford audits magnitude-spanning
    positives).  The nine expected shares are DRIVER-side Python
    literals riding into the plan (and, verbatim, into oracle SQL),
    so even ``expected_share`` and ``deviation`` are bit-exact
    cross-engine.

    Scale: one map-only digit extraction + one ≤9-key count + a
    1-row broadcast total.  Output: digit, n, share,
    expected_share, deviation (share − expected)."""
    import math

    c = F.col(col)
    digit = F.substring(c.cast("string"), 1, 1).cast("int")
    counted = (
        df.filter(c.isNotNull() & (c >= 1))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    joined = spine.join(counted, "digit", "left").fillna(0, ["n"])
    total = joined.agg(F.sum("n").alias("__t"))
    expected = F.lit(None).cast("double")
    for d in range(1, 10):
        expected = F.when(
            F.col("digit") == d, F.lit(math.log10(1.0 + 1.0 / d))
        ).otherwise(expected)
    share = F.col("n").cast("double") / F.col("__t").cast("double")
    return (
        joined.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            share.alias("share"),
            expected.alias("expected_share"),
            (share - expected).alias("deviation"),
        )
        .orderBy("digit")
    )


def schema_drift_report(
    old: DataFrame, new: DataFrame
) -> DataFrame:
    """Column-level drift report between two snapshots of "the same"
    table — the first check a pipeline runs when an upstream source
    re-lands: which columns appeared / disappeared / changed type,
    and how far each survivor's null-rate moved.

    One row per column in EITHER snapshot: status
    (added/removed/type_changed/kept), both dtypes, exact null
    counts and row counts per side, and null-rate shares (one IEEE
    division each) — all oracle-comparable.

    Scale: dtypes come from the SCHEMAS (no job); the null counts
    are ONE wide aggregate per side (every column counted in a
    single pass), 1 row each to the driver-side union — no shuffle
    of data rows at all."""
    spark = old.sparkSession
    o_types = dict(old.dtypes)
    n_types = dict(new.dtypes)

    def _null_counts(df: DataFrame, cols: list[str]):
        row = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.col(c).isNull().cast("bigint")).alias(c)
                for c in cols
            ],
        ).first()
        return row["__n"], {c: (row[c] or 0) for c in cols}

    o_rows, o_nulls = _null_counts(old, list(o_types))
    n_rows, n_nulls = _null_counts(new, list(n_types))
    out = []
    for c in sorted(set(o_types) | set(n_types)):
        in_o, in_n = c in o_types, c in n_types
        if in_o and in_n:
            status = (
                "kept" if o_types[c] == n_types[c] else "type_changed"
            )
        else:
            status = "added" if in_n else "removed"
        out.append(
            (
                c,
                status,
                o_types.get(c),
                n_types.get(c),
                int(o_nulls.get(c, 0)) if in_o else None,
                int(o_rows) if in_o else None,
                int(n_nulls.get(c, 0)) if in_n else None,
                int(n_rows) if in_n else None,
                (o_nulls[c] / o_rows) if in_o and o_rows else None,
                (n_nulls[c] / n_rows) if in_n and n_rows else None,
            )
        )
    from bubbles_spark.ops.core import local_table

    return local_table(
        spark,
        out,
        "col_name string, status string, old_type string, new_type string, "
        "old_nulls bigint, old_rows bigint, new_nulls bigint, "
        "new_rows bigint, old_null_rate double, new_null_rate double",
    )


def top_values(
    df: DataFrame, col: str, k: int = 10
) -> DataFrame:
    """Top-``k`` most frequent values of a column with exact counts
    and shares — the first profiling question after ``basic_audit``
    says a column has low cardinality ("what IS in there?"), and the
    vocabulary miner for ``reshape.one_hot``.

    Deterministic tie-break: (count DESC, value ASC) — ranks are
    stable across runs and engines.  NULLs count as a value (shown
    as NULL).  Scale: one keyed count (map-side partial) +
    TakeOrdered for the top slice; shares divide by a 1-row
    broadcast total.

    Output: value (string-rendered), n, share, rank."""
    if k < 1:
        raise ValueError("top_values: need k >= 1")
    counted = (
        df.groupBy(F.col(col).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counted.agg(F.sum("n").alias("__t"))
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("n").desc(), F.col("value").asc_nulls_last()
    )
    # the rank window runs over the COUNTED table (vocabulary-sized,
    # already aggregated) — a single task over counts, not data
    return (
        counted.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "value",
            "n",
            (F.col("n").cast("double") / F.col("__t").cast("double")).alias(
                "share"
            ),
            "rank",
        )
    )


def join_cardinality_audit(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Pre-join blow-up audit — run BEFORE an expensive join to find
    the hot keys that would explode it: per join key, the
    multiplicity on each side and the exact number of output rows the
    inner join would produce for that key (``n_left · n_right``),
    top-``k`` by output contribution.

    The question it answers at 100 TB: "is this join safe, or is one
    key about to produce 10^11 rows?"  Feeds directly into
    ``core.salted_join`` (salt exactly the keys this report surfaces).

    Exactness: counts are BIGINT, the product is DECIMAL(38,0) (two
    billion-row sides would overflow BIGINT), and the top-k order is
    total (``n_out`` DESC, then the key columns ASC) so the LIMIT
    boundary is deterministic.

    Scale: one map-side-combined keyed count per side (NULL keys
    dropped — they never join), an equi-join of the two *count*
    tables (key-cardinality-sized, not data-sized), and a TakeOrdered
    top-k — no global sort.

    Output: ``on...``, n_left, n_right, n_out."""
    from bubbles_spark.ops.core import top_k

    on = list(on)
    if not on:
        raise ValueError("join_cardinality_audit: need join columns")

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.na.drop(subset=on)
            .groupBy(*on)
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    j = counts(left, "n_left").join(counts(right, "n_right"), on)
    out = j.withColumn(
        "n_out",
        (
            F.col("n_left").cast("decimal(19,0)")
            * F.col("n_right").cast("decimal(19,0)")
        ).cast("decimal(38,0)"),
    )
    return top_k(out, [("n_out", "desc")] + on, k)


def expectations_report(
    df: DataFrame, rules: Sequence[dict]
) -> DataFrame:
    """Declarative data-quality expectation suite — the contract gate
    a pipeline runs before publishing a table: each rule checks one
    expectation and the report says exactly how many rows violate it.

    Rules are dicts with ``name``, ``kind``, and kind-specific keys:

    - ``{"kind": "not_null", "col": c}`` — NULLs are violations
    - ``{"kind": "unique", "cols": [c, ...]}`` — rows in duplicate
      key groups (group size > 1) are violations; NULL-keyed rows are
      grouped by value like SQL GROUP BY
    - ``{"kind": "in_set", "col": c, "values": [...]}`` — non-NULL
      values outside the set
    - ``{"kind": "in_range", "col": c, "lo": x, "hi": y}`` — non-NULL
      values outside [lo, hi]
    - ``{"kind": "matches", "col": c, "pattern": r}`` — non-NULL
      values not rlike-matching the (RE2-portable) pattern

    Per-value kinds treat NULL as "not checked" (pair them with an
    explicit not_null rule — the great-expectations convention), so
    each rule isolates ONE failure mode.

    Scale: all per-value rules fold into ONE aggregate pass over the
    input (conditional counts, map-side partial); each unique rule
    adds one keyed count whose second pass runs over the duplicate
    GROUPS only.  The report is len(rules) rows.

    Output: rule, kind, n_checked, n_violations, passed."""
    if not rules:
        raise ValueError("expectations_report: need at least one rule")
    agg_exprs: list = []
    meta: list[tuple[str, str]] = []  # (name, kind) in agg order
    unique_rules: list[dict] = []
    for i, r in enumerate(rules):
        kind = r.get("kind")
        name = r.get("name") or f"rule_{i}"
        if kind == "unique":
            unique_rules.append(dict(r, name=name))
            continue
        if kind == "not_null":
            checked = F.lit(True)
            violated = F.col(r["col"]).isNull()
        elif kind == "in_set":
            checked = F.col(r["col"]).isNotNull()
            violated = checked & ~F.col(r["col"]).isin(list(r["values"]))
        elif kind == "in_range":
            c = F.col(r["col"])
            checked = c.isNotNull()
            violated = checked & ((c < F.lit(r["lo"])) | (c > F.lit(r["hi"])))
        elif kind == "matches":
            c = F.col(r["col"])
            checked = c.isNotNull()
            violated = checked & ~c.rlike(r["pattern"])
        else:
            raise ValueError(f"expectations_report: unknown kind {kind!r}")
        agg_exprs.append(
            F.sum(F.when(checked, 1).otherwise(0)).cast("bigint").alias(f"c{i}")
        )
        agg_exprs.append(
            F.sum(F.when(violated, 1).otherwise(0)).cast("bigint").alias(f"v{i}")
        )
        meta.append((name, kind, i))

    parts: list[DataFrame] = []
    if meta:
        counts = df.agg(*agg_exprs)
        rows = []
        for name, kind, i in meta:
            rows.append(
                counts.select(
                    F.lit(name).alias("rule"),
                    F.lit(kind).alias("kind"),
                    F.coalesce(F.col(f"c{i}"), F.lit(0)).alias("n_checked"),
                    F.coalesce(F.col(f"v{i}"), F.lit(0)).alias("n_violations"),
                )
            )
        scalar = rows[0]
        for r2 in rows[1:]:
            scalar = scalar.unionAll(r2)
        parts.append(scalar)
    for r in unique_rules:
        cols = list(r["cols"])
        groups = df.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("__n")
        )
        stat = groups.agg(
            F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_checked"),
            F.coalesce(
                F.sum(F.when(F.col("__n") > 1, F.col("__n")).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_violations"),
        ).select(
            F.lit(r["name"]).alias("rule"),
            F.lit("unique").alias("kind"),
            "n_checked",
            "n_violations",
        )
        parts.append(stat)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.withColumn("passed", F.col("n_violations") == 0)


def freshness_report(
    df: DataFrame,
    ts_col: str,
    by: Sequence[str],
    ref_ts: str,
) -> DataFrame:
    """Data-freshness / latency audit per source or partition — the
    ops question after every load: "how stale is each feed?".  Per
    group: row count, newest timestamp, and the lag behind ``ref_ts``
    in whole microseconds.

    ``ref_ts`` is an explicit wall-clock literal (``'YYYY-MM-DD
    HH:MM:SS'``), never a hidden now() — a reproducible report pins
    its reference instant.  The lag is an integer microsecond
    difference: for NTZ inputs both sides shift identically through
    any session zone, so the DIFFERENCE is timezone-invariant
    (``epoch_seconds`` discipline), and integers sidestep the
    engines' disagreeing micros→double conversions.

    Scale: one map-side-combined keyed aggregate; the report is one
    row per group.

    Output: ``by...``, n_rows, max_ts, lag_us."""
    if not by:
        raise ValueError("freshness_report: need at least one group column")
    ref = F.lit(ref_ts).cast("timestamp_ntz").cast("timestamp")
    return df.groupBy(*[F.col(c) for c in by]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max(F.col(ts_col)).alias("max_ts"),
        (
            F.unix_micros(ref)
            - F.unix_micros(F.max(F.col(ts_col)).cast("timestamp"))
        )
        .cast("bigint")
        .alias("lag_us"),
    )


def id_gaps(df: DataFrame, col: str) -> DataFrame:
    """Missing ranges in a numeric id sequence — "did the loader drop
    rows?": every maximal run of absent ids strictly inside
    [min(id), max(id)], as (gap_start, gap_end, gap_size).  Empty
    result = the sequence is contiguous.

    The islands trick under the DISTRIBUTED rank: distinct ids get a
    global row number (``_with_global_row_number`` — value buckets
    + per-bucket carry, never a single-task sort), ``id − rn``
    is constant within each contiguous island, islands reduce to
    (start, end), and consecutive islands pair by a second two-phase
    rank + self-equi-join (rank = rank+1) — so even a pathological
    island count never funnels through one task.  Output rows =
    #gaps (tiny); everything before them is keyed aggregation."""
    from bubbles_spark.ops.core import _with_global_row_number

    ids = (
        df.select(F.col(col).cast("long").alias("__id"))
        .filter(F.col("__id").isNotNull())
        .distinct()
    )
    ranked = _with_global_row_number(ids, ["__id"])
    islands = (
        ranked.groupBy((F.col("__id") - F.col("__rn")).alias("__isl"))
        .agg(
            F.min("__id").alias("__start"),
            F.max("__id").alias("__end"),
        )
        .drop("__isl")
        # cut lineage before the second ranking call: the islands
        # table is derived from the first rank's output and would
        # otherwise re-run that whole plan inside every job the
        # second rank issues
        .localCheckpoint()
    )
    seq = _with_global_row_number(islands, ["__start"])
    nxt = seq.select(
        (F.col("__rn") - 1).alias("__rn"),
        F.col("__start").alias("__next_start"),
    )
    return (
        seq.join(nxt, "__rn")
        .select(
            (F.col("__end") + 1).alias("gap_start"),
            (F.col("__next_start") - 1).alias("gap_end"),
            (F.col("__next_start") - F.col("__end") - 1)
            .cast("bigint")
            .alias("gap_size"),
        )
    )
