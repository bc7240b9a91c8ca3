"""Core relational operators (SURVEY.md §2.2–§2.8).

Parity with the reference's row/sql operation catalog
(bubbles/ops/rows.py, bubbles/backends/sql/ops.py), one Spark-first
implementation each.  Design rules:

- Every function is pure ``DataFrame -> DataFrame`` — no actions, no
  ``collect()``, no driver-side loops — so plans compose and Catalyst
  sees the whole pipeline (pushdown/pruning across operator
  boundaries, which the reference only got on its SQL path).
- Joins against dimension tables default to broadcast hints (the
  reference's join_details builds an in-memory dict of the detail
  side — the moral equivalent of a broadcast hash join; at 100 TB the
  fact side must never shuffle for a 25-row nation table).
- Nothing here assumes single-node: no monotonically-increasing-id
  without an explicit ordering contract, no ``first`` without sort.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def shuffle_partitions(spark, default: int | None = None) -> int:
    """``spark.sql.shuffle.partitions`` as an int, surviving platforms
    where the conf is non-numeric (e.g. 'auto' under auto-optimized
    shuffle) — fall back to the cluster's default parallelism, the
    right bucket count for a two-phase scan.

    No explicit fallback string to ``conf.get``: Spark 4.1 TYPE-CHECKS
    the supplied default against the conf's declared type and throws
    on a vanilla session (``INVALID_CONF_VALUE.TYPE_MISMATCH`` for
    ``""``) — ask for the conf's own default instead and catch
    whatever a managed platform does to the getter."""
    try:
        raw = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        raw = None
    try:
        return int(raw)
    except (TypeError, ValueError):
        return default or spark.sparkContext.defaultParallelism


def widen_scan(df: DataFrame, width: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW frame (scan/filter/project —
    no Exchange below) up to the session shuffle width when the source
    layout under-parallelizes it.

    Why this exists: a parquet ROW GROUP is the unit of scan
    assignment — a single-row-group file is read by ONE task no matter
    how small ``spark.sql.files.maxPartitionBytes`` is, so every
    map-side expression above it (shingle fan-out, per-row hashing,
    bootstrap replicate explode, partial aggregation) runs on one core
    while the rest of the cluster idles.  That is the guide's "input
    skew: one huge unsplittable file … repartition immediately after
    the read" case, hit here because the testdata ships one row group
    per table (r13 measured: the whole map stage of every heavy query
    ran 1/32 cores).

    Width policy — same reasoning as ``fuzzy_join``'s pin: the
    exchange must be EXPLICIT-width because AQE sizes coalescing by
    the exchange's input BYTES, which says nothing about the compute
    the stage above it performs per row.  And it must NEVER SHRINK: a
    real multi-file table (any production layout, 100 TB included)
    already scans wider than the session shuffle width and passes
    through untouched — the repartition exists only in the degenerate
    layouts that need it.

    Results are unchanged for every partitioning-invariant consumer
    (exact decimal/integer folds, min/max, keyed aggregation, windows
    with total in-partition orders — the repo's exactness contracts);
    do NOT insert above consumers that read partition structure
    (``spark_partition_id`` offsets, ``F.rand``, approx sketches whose
    merge order the oracle pins).

    Safety: the helper inspects the ANALYZED logical plan and only
    acts when every node is from a small allow-list of narrow
    operators (scan/filter/project/union/generate) — a frame with any
    other node (join, aggregate, window, repartition, …) is returned
    untouched, because (a) it either already has post-shuffle
    parallelism or isn't ours to reason about, and (b) probing
    ``.rdd`` under AQE on an exchange-bearing plan would materialize
    its query stages EAGERLY (run real jobs at plan-build time).  On
    an allow-listed plan ``.rdd`` plans without running anything."""
    spark = df.sparkSession
    target = width or shuffle_partitions(spark)
    if target <= 1:
        return df
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover — no py4j plan access: skip
        return df
    allowed = (
        "Project",
        "Filter",
        "Union",
        "Generate",
        "SubqueryAlias",
        "Relation",
        "LogicalRDD",
        "Expand",
        "CollectMetrics",
    )
    for raw in plan.splitlines():
        node = raw.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
        if node and not node.startswith(allowed):
            return df
    cur = df.rdd.getNumPartitions()
    return df if cur >= target else df.repartition(target)


def local_table(spark, rows, schema) -> DataFrame:
    """Small driver-local table as a pure-JVM ``LocalTableScan``.

    ``createDataFrame(list)`` pickles the rows into a Python RDD whose
    scan re-launches Python workers on EVERY action — and on every
    broadcast build of the table (r13 measured ~0.3–0.4 s per action
    for a 4-row weights table, vs ~0.05 s once the same rows are a
    LocalTableScan).  Routing the rows through pandas takes Spark's
    Arrow local-relation path, evaluated entirely in the JVM.  The
    explicit schema keeps types exact (the values are untouched —
    same rows, same order); anything pandas/Arrow cannot represent
    falls back to the plain path, so this is never less correct, only
    sometimes faster.  On an Arrow-less session (the driver's vanilla
    SparkSession) Spark itself falls back — again plain-path
    behavior."""
    import pandas as pd
    from pyspark.sql import types as T

    try:
        sch = (
            T._parse_datatype_string(schema)
            if isinstance(schema, str)
            else schema
        )
        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=sch.fieldNames(), dtype=object
        )
        return spark.createDataFrame(pdf, sch)
    except Exception:
        return spark.createDataFrame(rows, schema)


def pushdown_fence(df: DataFrame, *cols: str) -> DataFrame:
    """Re-emit ``cols`` through a one-element explode so that filters
    on them CANNOT be pushed below this point in the plan.

    Why: Spark 4's ``PushDownPredicates`` pushes a predicate through
    every deterministic Project — even a predicate that is itself
    non-deterministic — substituting each referenced alias with its
    defining expression as it goes.  A filter on an expensive derived
    column (e.g. a text-quality score built from several regex
    passes) therefore lands at the scan with the WHOLE expression
    tree re-inlined into the predicate (measured on
    ``textan.quality_score``: the normalization regex appears ~14×
    in the pushed predicate, 2.8 s vs 0.4 s on sf0.1 documents), and
    the projections above recompute it all again.  No expression-
    level guard survives (rand/randn/pid/mono-id wrappers are all
    folded or pushed); a Generate whose OUTPUT the predicate
    references is a hard barrier — ``PushPredicateThroughNonJoin``
    cannot move a predicate below the Generate that produces its
    input, and ``explode(array(col))`` emits exactly one row per
    input row with the column's value unchanged, so the frame is
    row-for-row identical.

    The fenced columns replace the originals in place (same names,
    same schema order).  Works on streaming frames too (explode is
    supported in streaming plans).  Cost: one extra codegen'd
    operator, no shuffle, no materialization."""
    if not cols:
        return df
    fenced = df.withColumn(
        "__fence", F.explode(F.array(F.struct(*[F.col(c) for c in cols])))
    )
    for c in cols:
        fenced = fenced.withColumn(c, F.col(f"__fence.{c}"))
    return fenced.drop("__fence")


# ---------------------------------------------------------------------
# Projection / renaming (SURVEY.md §2.2; bubbles/ops/rows.py::field_filter)
# ---------------------------------------------------------------------


def field_filter(
    df: DataFrame,
    keep: Iterable[str] | None = None,
    drop: Iterable[str] | None = None,
    rename: dict[str, str] | None = None,
) -> DataFrame:
    """Keep/drop/rename columns (bubbles/ops/rows.py::field_filter,
    bubbles/metadata.py::FieldFilter).

    Compiles to one ``select`` so column pruning reaches the scan.
    """
    from bubbles_spark.schema import FieldFilter

    return FieldFilter(keep=keep, drop=drop, rename=rename).apply(df)


def rename_fields(df: DataFrame, rename: dict[str, str]) -> DataFrame:
    """Rename map (field_filter(rename=...) in the reference)."""
    return field_filter(df, rename=rename)


def derive(df: DataFrame, name: str, expr: Column | str) -> DataFrame:
    """Engine extension (SURVEY.md §2.2 note): general computed column.

    The reference has no scalar-expression operator; derived values
    only ever happen inside specific ops.  ``expr`` may be a Column or
    a SQL expression string (parsed by Catalyst, JVM-side codegen).
    """
    col = F.expr(expr) if isinstance(expr, str) else expr
    return df.withColumn(name, col)


# ---------------------------------------------------------------------
# Filters (SURVEY.md §2.3; bubbles/ops/rows.py::filter_by_*)
# ---------------------------------------------------------------------


def filter_by_value(df: DataFrame, key: str, value: Any, discard: bool = False) -> DataFrame:
    """Equality filter; discard=True inverts
    (bubbles/ops/rows.py::filter_by_value).

    Null semantics: rows with NULL in ``key`` never satisfy either
    side (SQL three-valued logic), matching the oracle's ``=`` / ``<>``.
    """
    cond = F.col(key) == F.lit(value)
    return df.filter(~cond if discard else cond)


def filter_by_set(
    df: DataFrame, key: str, values: Sequence[Any], discard: bool = False
) -> DataFrame:
    """Membership filter (bubbles/ops/rows.py::filter_by_set)."""
    cond = F.col(key).isin(list(values))
    return df.filter(~cond if discard else cond)


def filter_by_range(
    df: DataFrame, key: str, low: Any, high: Any, discard: bool = False
) -> DataFrame:
    """Interval filter, half-open ``low <= x < high``
    (bubbles/ops/rows.py::filter_by_range; bound closure pinned
    half-open and encoded identically in the oracle SQL —
    SURVEY.md §7.4a)."""
    cond = (F.col(key) >= F.lit(low)) & (F.col(key) < F.lit(high))
    return df.filter(~cond if discard else cond)


def filter_not_empty(df: DataFrame, field: str) -> DataFrame:
    """Drop rows where ``field`` is NULL or empty string
    (bubbles/ops/rows.py::filter_not_empty)."""
    col = F.col(field)
    cond = col.isNotNull()
    if dict(df.dtypes).get(field) == "string":
        cond = cond & (col != F.lit(""))
    return df.filter(cond)


def filter_by_predicate(
    df: DataFrame,
    predicate: Callable[..., bool],
    fields: Sequence[str],
    discard: bool = False,
) -> DataFrame:
    """Arbitrary Python predicate over selected fields
    (bubbles/ops/rows.py::filter_by_predicate).

    The reference's escape hatch.  Implemented as an Arrow-batched
    mapInPandas filter (vectorized transfer, row-wise apply) rather
    than a row-at-a-time Python UDF.  Prefer translating common
    predicates to Column expressions — this is the slow path.
    """
    field_list = list(fields)

    def _filter(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            # itertuples, not DataFrame.apply(axis=1): apply builds a
            # pandas Series per row (measured ~5× slower for the same
            # per-row python call)
            mask = [
                bool(predicate(*t))
                for t in pdf[field_list].itertuples(index=False, name=None)
            ]
            yield pdf[[not m for m in mask] if discard else mask]

    return df.mapInPandas(_filter, schema=df.schema)


# ---------------------------------------------------------------------
# Dedup / uniqueness (SURVEY.md §2.4)
# ---------------------------------------------------------------------


def distinct(df: DataFrame, key: str | Sequence[str] | None = None) -> DataFrame:
    """Unique rows by key, whole row if no key
    (bubbles/ops/rows.py::distinct).

    With a key, output is the key columns only (reference semantics:
    the rows impl emits the key tuple).  Hash-aggregate shuffle on the
    key — Spark's map-side partial aggregation bounds shuffle volume.
    """
    if key is None:
        return df.distinct()
    keys = [key] if isinstance(key, str) else list(key)
    return df.select(*keys).distinct()


def duplicates(
    df: DataFrame,
    keys: str | Sequence[str] | None = None,
    threshold: int = 1,
    record_count_label: str = "record_count",
) -> DataFrame:
    """Keys occurring more than ``threshold`` times, with counts
    (bubbles/ops/rows.py::duplicates; SQL GROUP BY..HAVING count>t)."""
    key_list = (
        df.columns if keys is None else [keys] if isinstance(keys, str) else list(keys)
    )
    return (
        df.groupBy(*key_list)
        .agg(F.count(F.lit(1)).alias(record_count_label))
        .filter(F.col(record_count_label) > threshold)
    )


def duplicate_stats(
    df: DataFrame, keys: str | Sequence[str] | None = None, threshold: int = 1
) -> DataFrame:
    """Summary of duplicates (bubbles/ops/rows.py — SURVEY.md §2.4 D3):
    one row with duplicate-key count and total surplus records."""
    dups = duplicates(df, keys, threshold)
    return dups.agg(
        F.count(F.lit(1)).alias("duplicate_key_count"),
        F.coalesce(F.sum(F.col("record_count") - threshold), F.lit(0)).alias(
            "surplus_record_count"
        ),
    )


# ---------------------------------------------------------------------
# Sampling / limit / sort (SURVEY.md §2.5)
# ---------------------------------------------------------------------


def sort(df: DataFrame, orderby: Sequence[tuple[str, str] | str]) -> DataFrame:
    """Order by list of (field, 'asc'|'desc') (bubbles/ops/rows.py::sort).

    Spark sort is a range-partitioned distributed sort (sampled
    boundaries), not the reference's full in-memory ``sorted()``.
    """
    cols = []
    for item in orderby:
        if isinstance(item, str):
            cols.append(F.col(item).asc())
        else:
            name, direction = item
            col = F.col(name)
            cols.append(col.desc() if str(direction).lower().startswith("d") else col.asc())
    return df.orderBy(*cols)


def sample(
    df: DataFrame,
    value: float | int,
    mode: str = "first",
    discard: bool = False,
    order_by: Sequence[tuple[str, str] | str] | None = None,
    seed: int = 42,
    weight_col: str | None = None,
    takeordered_cutoff: int = 65536,
) -> DataFrame:
    """Row sampling (bubbles/ops/rows.py::sample). Modes:

    - ``first``: head N.  In a distributed engine "first" is undefined
      without an ordering, so an explicit ``order_by`` is REQUIRED
      (SURVEY.md §7.4b); the reference gets implicit order from its
      single-threaded iterator.
    - ``nth``: every Nth row under ``order_by`` (row_number % n == 1).
    - ``random``: Bernoulli sample with fixed seed; ``value`` is the
      fraction (approximate size — binomial).
    - ``reservoir``: EXACT-size uniform sample of ``value`` rows —
      seeded content-hash key + top-k.  Sample-sized k compiles to
      TakeOrderedAndProject (O(n log k) map-side heaps, no global
      sort); large k switches to a two-phase threshold select (see
      ``_threshold_topk``) so no single task ever merges
      #partitions×k rows.  The distributed twin of the classic
      reservoir algorithm.
    - ``weighted``: exact-size sample where row i is selected with
      probability proportional to ``weight_col`` (required; positive
      weights — others never selected) — the Efraimidis–Spirakis
      A-ES key (u^(1/w), here as log(u)/w for stability), same
      top-k physical paths.  The mixture/temperature-sampling
      primitive at corpus scale.

    The per-row uniform u is a seeded xxhash64 of the row content,
    NOT ``rand()``: rand() numbers the rows of each partition in
    order, so a task retry or a second evaluation of the plan (both
    routine on a real cluster) hands different rows different keys —
    the sample silently changes between passes over the same plan.
    The content hash gives every row a stable iid-uniform key:
    retry-safe, re-evaluation-safe, reproducible run-to-run.  (Exact
    duplicate rows share a key and therefore sample together —
    consistent-sampling semantics.)

    ``discard=True`` returns the complement (reference semantics).
    ``takeordered_cutoff`` sets the k above which reservoir/weighted
    switch from TakeOrdered to the threshold select (tests force 0).
    """
    if mode == "random":
        if discard:
            # complement of a seeded sample: anti-join would shuffle; use
            # the deterministic rand() predicate inverse instead
            return df.filter(F.rand(seed) >= float(value))
        return df.sample(fraction=float(value), seed=seed)
    if mode in ("reservoir", "weighted"):
        if discard:
            raise ValueError(f"sample(mode={mode!r}) has no discard form")
        k = int(value)
        u = _uniform_from_content(df, seed)
        if mode == "reservoir":
            key = u
        else:
            if weight_col is None:
                raise ValueError(
                    "sample(mode='weighted') requires weight_col="
                )
            w = F.col(weight_col).cast("double")
            # A-ES: larger log(u)/w  ⇔ larger u^(1/w); rows with
            # non-positive/null weight are never selected
            key = F.when(w > 0, F.log(u) / w).otherwise(
                F.lit(float("-inf"))
            )
        ranked = df.withColumn("__samp_key", key)
        if mode == "weighted":
            ranked = ranked.filter(F.col("__samp_key") != float("-inf"))
        if k <= takeordered_cutoff:
            # sample-sized k: per-partition size-k heaps + one bounded
            # merge (TakeOrderedAndProject) — optimal and single-pass
            return (
                ranked.orderBy(F.col("__samp_key").desc())
                .limit(k)
                .drop("__samp_key")
            )
        # corpus-scale k (millions+): TakeOrdered's final merge pulls
        # #partitions×k rows through one point — the round-3 verdict's
        # one scale-killer.  Threshold-select instead.
        return _threshold_topk(ranked, "__samp_key", k)

    if order_by is None:
        raise ValueError(
            f"sample(mode={mode!r}) requires order_by= for deterministic "
            "results on a distributed engine"
        )
    ordered = sort(df, order_by)
    if mode == "first":
        n = int(value)
        if not discard:
            return ordered.limit(n)
        ranked = _with_global_row_number(df, order_by)
        return ranked.filter(F.col("__rn") > n).drop("__rn")
    if mode == "nth":
        n = int(value)
        ranked = _with_global_row_number(df, order_by)
        cond = (F.col("__rn") - 1) % n == 0
        return ranked.filter(~cond if discard else cond).drop("__rn")
    raise ValueError(f"unknown sample mode: {mode!r}")


def _uniform_from_content(df: DataFrame, seed: int) -> Column:
    """A stable iid-uniform-(0,1] key per row: seeded xxhash64 of the
    row content mapped to the unit interval.  Unlike rand(), the value
    is a pure function of (row, seed) — identical across task retries,
    plan re-evaluations, and partition layouts, which the two-phase
    sampling paths rely on.  MapType columns are unhashable in Spark
    and are skipped; if every column is a map there is nothing stable
    to key on and we fall back to rand(seed) (single-pass paths only).
    """
    hashable = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, T.MapType)
    ]
    if not hashable:
        return F.rand(seed)
    h = F.xxhash64(F.lit(int(seed)), *[F.col(c) for c in hashable])
    # int64 → (0,1]: shift to [0,1) then guard the log(0) endpoint
    u = h.cast("double") / F.lit(float(2**64)) + F.lit(0.5)
    return F.greatest(u, F.lit(1e-18))


def _threshold_topk(ranked: DataFrame, key_col: str, k: int) -> DataFrame:
    """Exact top-k by ``key_col`` for LARGE k, without TakeOrdered's
    single-point merge of #partitions×k rows.

    Two phases:

    1. A Greenwald–Khanna approx-quantile pass finds a cutoff whose
       TRUE rank from the top is guaranteed in [1.25k, 1.75k]: we ask
       for quantile 1 − 1.5k/n with rank error ε·n = 0.25k.  That
       guarantee is deterministic (GK, not probabilistic), so the
       filtered survivor set always holds ≥ k rows.
    2. Filter to survivors (~1.5k rows) and exact-trim with the
       distributed two-phase rank (value buckets + per-bucket carry,
       ``_with_global_row_number``) — no single task sees more than
       its bucket's share.

    Requires ``key_col`` to be deterministic content (see
    ``_uniform_from_content``) so both passes score rows identically.
    Driver traffic: one count, one double (the cutoff), and the
    rank's O(#buckets) quantile bounds.
    """
    n = ranked.count()
    if n <= k:
        return ranked.drop(key_col)
    prob = max(0.0, 1.0 - (1.5 * k) / n)
    eps = max(1e-7, 0.25 * k / n)
    (cutoff,) = ranked.stat.approxQuantile(key_col, [prob], eps)
    survivors = ranked.filter(F.col(key_col) >= cutoff)
    trimmed = _with_global_row_number(survivors, [(key_col, "desc")])
    return trimmed.filter(F.col("__rn") <= k).drop("__rn", key_col)


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_cols: Sequence[str],
    salt: int = 0,
    digits: int = 8,
    discard: bool = False,
) -> DataFrame:
    """Deterministic fraction sample by content-hash threshold: keep
    rows whose md5(key ⊕ salt) hex PREFIX sorts below the fraction
    cutoff.  Same guarantees as ``sample(mode='random')``'s seeded
    key but CONTENT-keyed and engine-portable: the identical predicate
    runs anywhere md5 exists, so a sample drawn here reproduces
    byte-for-byte in another engine, another run, or after a task
    retry — the property that matters when a sampled subset becomes a
    published eval set.

    Map-only (no shuffle, no count); rows with equal keys sample
    together (consistent-sampling semantics — key on a doc id to make
    membership per-document).  ``fraction`` resolves at hex-prefix
    granularity: 16^-digits (~2.3e-10 at the default 8).  ``salt``
    selects a disjoint-in-distribution replica; ``discard=True``
    returns the exact complement (the two partitions are a clean
    train/eval cut of the keyspace)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut = int(round(fraction * (16**digits)))
    threshold = format(cut, "x").rjust(digits + 1, "0")
    prefix = F.substring(
        F.md5(
            F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in key_cols], F.lit(str(salt))
            )
        ),
        1,
        digits,
    )
    # pad the row prefix to the threshold's width so the compare is
    # lexicographic-numeric even when cut == 16^digits (fraction 1.0)
    pred = F.lpad(prefix, digits + 1, "0") < F.lit(threshold)
    return df.filter(~pred if discard else pred)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[Any, float],
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``df.sampleBy``) — the
    source-rebalancing primitive for training-data pipelines (e.g.
    downsample an over-represented crawl domain to a target mix).
    Map-only: each row flips a seeded coin for its stratum; no
    shuffle, no count pass.  Strata absent from ``fractions`` are
    DROPPED (sampleBy semantics) — pass 1.0 to keep one unchanged."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def stratified_sample_n(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_cols: Sequence[str],
    salt: int = 0,
) -> DataFrame:
    """EXACTLY-n-per-stratum deterministic sample: within each
    stratum, keep the ``n`` rows whose md5(key ⊕ salt) sorts first —
    the eval-set / human-review-batch builder where "about n"
    (Bernoulli ``stratified_sample``) isn't acceptable and the pick
    must reproduce byte-for-byte across runs, engines, and retries.
    Strata smaller than ``n`` are kept whole.

    The hash order is a total order as long as ``key_cols`` form a
    unique key (md5 ties then carry identical rows only); pass the
    primary key.  Changing ``salt`` redraws the sample.

    Scale: one hash shuffle on the stratum + an in-partition rank —
    the ``keep_latest`` plan shape; no count pass, no global sort.
    A stratum bigger than one task's sort buffer spills, not fails.
    Output: the sampled rows (original columns)."""
    if n_per_stratum < 1:
        raise ValueError(f"n_per_stratum must be >= 1, got {n_per_stratum}")
    # injective length-prefixed key encoding (same scheme as
    # surrogate_key): bare concat_ws skips NULLs and doesn't escape
    # the separator, so ('a', NULL) vs (NULL, 'a') — or values
    # containing \x1f — would hash identically and leave the pick to
    # partitioning-dependent tie-breaks
    h = F.md5(F.concat_ws("\x1f", *_len_prefixed(key_cols), F.lit(_len_prefixed_lit(str(salt)))))
    w = Window.partitionBy(strata_col).orderBy(h)
    return (
        df.withColumn("__ssn_rn", F.row_number().over(w))
        .filter(F.col("__ssn_rn") <= int(n_per_stratum))
        .drop("__ssn_rn")
    )


def train_test_split(
    df: DataFrame,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    key_col: str | None = None,
    group_col: str | None = None,
    seed: int = 42,
    split_names: Sequence[str] | None = None,
    out: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment — the split a
    training pipeline must be able to REPRODUCE and AUDIT (Bernoulli
    randomSplit changes under retries and repartitioning; this one is
    a pure function of the data).

    Each row's split comes from a seeded md5 of its ``key_col`` (or
    ``group_col``): bucket = md5(seed || key) mod 10000, cut by the
    cumulative weights.  With ``group_col`` every row of a group lands
    in the SAME split — the leakage guard (near-duplicate documents
    from one source crawl must not straddle train/test; SURVEY §2.14's
    decontaminate is the cross-corpus version of the same concern).

    Map-only (a hash per row, no shuffle, no count pass); exact split
    fractions are approximate (multinomial over buckets) but FIXED —
    rerunning on any cluster layout reassigns identically, which is
    the property retries/backfills need.  md5, not xxhash64, so any
    external engine can recompute the assignment row for row."""
    w = [float(x) for x in weights]
    if not w or any(x < 0 for x in w) or sum(w) <= 0:
        raise ValueError("weights must be non-negative with a positive sum")
    names = list(split_names) if split_names is not None else (
        ["train", "val", "test"][: len(w)]
        if len(w) <= 3
        else [f"split_{i}" for i in range(len(w))]
    )
    if len(names) != len(w):
        raise ValueError("split_names must match weights length")
    basis = group_col or key_col
    if basis is None:
        raise ValueError("pass key_col (row id) or group_col (leakage unit)")
    total = sum(w)
    bucket = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(basis).cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 10000
    )
    expr = None
    acc = 0.0
    for name, frac in zip(names, w):
        acc += frac / total
        hi = int(round(acc * 10000))
        cond = bucket < F.lit(hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out, expr.otherwise(names[-1]))


def temporal_split(
    df: DataFrame,
    ts_col: str,
    val_start: "str | datetime",
    test_start: "str | datetime",
    embargo_seconds: int = 0,
    out: str = "split",
) -> DataFrame:
    """Leakage-free TIME-based train/val/test assignment with an
    embargo gap — the split for forecasting / sequential-model
    training where a random split leaks the future into the past
    (``train_test_split`` is the iid-hash sibling; this is the
    chronological one, the purged/embargoed split of de Prado's
    time-series CV literature, public knowledge).

    Boundaries: ``train`` strictly before ``val_start − embargo``,
    ``val`` in ``[val_start, test_start − embargo)``, ``test`` at or
    after ``test_start``; rows inside either embargo window are
    labeled ``'embargo'`` (purged — features computed over trailing
    windows near the cut see both sides, so the standard fix is to
    DROP them, but dropping silently hides the purge size: labeling
    keeps the audit trail and the caller filters).  NULL timestamps
    get NULL.

    Exactness/TZ: the embargo arithmetic happens DRIVER-side in
    Python datetime; the plan contains only pure comparisons of the
    column against string literals cast to the COLUMN'S OWN timestamp
    type — no in-engine interval arithmetic, no epoch extraction, so
    the assignment is bit-identical under any session timezone for
    NTZ data (the r4/r5 lesson class).  Map-only, no shuffle; the
    split predicate pushes down to the scan when filtered on."""
    from datetime import datetime, timedelta

    def _parse(x):
        return datetime.fromisoformat(x) if isinstance(x, str) else x

    v1, t1 = _parse(val_start), _parse(test_start)
    if embargo_seconds < 0:
        raise ValueError("embargo_seconds must be >= 0")
    if not v1 < t1:
        raise ValueError("val_start must precede test_start")
    e = timedelta(seconds=int(embargo_seconds))
    v0, t0 = v1 - e, t1 - e
    if not v1 <= t0:
        raise ValueError("embargo swallows the whole val window")
    dt = df.schema[ts_col].dataType

    def _lit(d: datetime):
        return F.lit(d.strftime("%Y-%m-%d %H:%M:%S.%f")).cast(dt)

    c = F.col(ts_col)
    return df.withColumn(
        out,
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(c < _lit(v0), "train")
        .when(c < _lit(v1), "embargo")
        .when(c < _lit(t0), "val")
        .when(c < _lit(t1), "embargo")
        .otherwise("test"),
    )


# Inputs at or under this row count scan in ONE ordered window task
# (a few tens of MB for the narrow projections the rank family feeds)
# instead of paying the two-phase pin + bucketing machinery.  Most
# rank-family callers rank per-entity AGGREGATES (customer-sized, not
# event-sized), so at bench scale this collapses 3-4 scheduler jobs
# per rank call to one — the round-8 regression was exactly that job
# overhead.  Above the threshold the two-phase path takes over, so
# nothing data-sized ever sorts in a single task.
_SMALL_RANK_ROWS = 2_000_000


def _small_enough(df: DataFrame) -> bool:
    """Early-terminating smallness probe for RAW inputs: counts
    through a LIMIT, so a corpus-sized scan stops at the threshold
    instead of materializing or counting everything."""
    return df.limit(_SMALL_RANK_ROWS + 1).count() <= _SMALL_RANK_ROWS


def _one_task_fold(df: DataFrame, schema, fold) -> DataFrame:
    """Run ``fold`` once over the whole (small, pinned) input in one
    Arrow task: the batches are concatenated into one pandas frame
    and ``fold(pdf)`` returns the result frame (``schema``).  No rows
    in, no rows out.  The one harness behind every small-input fast
    path (the rank tests' cell folds, the graph solves,
    connected_components' union-find); callers go through the module
    attribute so one patch sees every fold."""

    def _stats(it):
        import pandas as pd

        pdfs = [p for p in it if len(p)]
        if pdfs:
            yield fold(
                pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            )

    return df.coalesce(1).mapInPandas(_stats, schema=schema)


def _q_halfup(x):
    """Spark's ``round(double, 0)`` replayed in numpy, elementwise:
    HALF_UP over the shortest-decimal rendering, which for
    non-negative doubles equals round-half-even EXCEPT at exact binary
    .5 fractions (a ".5" rendering round-trips only for an exact .5
    double), where HALF_UP adds one."""
    import numpy as np

    r = np.round(x)
    half = (x - np.floor(x)) == 0.5
    if np.any(half):
        r = np.where(half, np.floor(x) + 1.0, r)
    return r


def _bucket_search(proxy: Column, bounds: list[float], lo: int = 0) -> Column:
    """Number of ``bounds`` (sorted ascending) strictly below ``proxy``
    as a BALANCED binary-search when-tree: O(log p) comparisons per
    row and O(log p) expression depth, vs the O(p)-deep comparison
    chain that risked falling out of whole-stage codegen at high
    shuffle-partition counts."""
    if not bounds:
        return F.lit(lo)
    mid = len(bounds) // 2
    return F.when(
        proxy > F.lit(bounds[mid]),
        _bucket_search(proxy, bounds[mid + 1 :], lo + mid + 1),
    ).otherwise(_bucket_search(proxy, bounds[:mid], lo))


def _rank_proxy(df: DataFrame, name: str) -> Column | None:
    """A DOUBLE sort-proxy for the first rank column, or None when the
    type has no order-preserving numeric embedding (strings, arrays).
    Precision loss (decimal/bigint beyond 2^53) only merges near-equal
    values into one bucket — bucket membership stays a pure function
    of the value, which is all the rank scheme needs."""
    try:
        dt = df.schema[name].dataType
    except KeyError:
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType)):
        return F.col(name).cast("double")
    if isinstance(dt, T.DateType):
        return F.datediff(F.col(name), F.lit("1970-01-01").cast("date")).cast("double")
    if isinstance(dt, T.TimestampType):
        return F.col(name).cast("double")
    if isinstance(dt, T.TimestampNTZType):
        # no direct cast to double; read in the session zone, which is
        # monotone non-decreasing (a DST gap or overlap only merges)
        return F.col(name).cast("timestamp").cast("double")
    return None


def _scan_buckets(
    df: DataFrame, order_by: Sequence[tuple[str, str] | str]
) -> DataFrame:
    """The bucketing step of the two-phase scan: ``df`` pinned by an
    EAGER ``localCheckpoint`` plus ``__bkt``, whose ascending order is
    the ``order_by`` order (equal sort keys share a bucket).

    The bucket is a pure FUNCTION OF THE ROW'S VALUE: boundary values
    are sampled once (Greenwald–Khanna quantiles of a double
    sort-proxy of the first order column) and baked into the plan as
    LITERALS, so every evaluation assigns identical buckets no matter
    how Spark physically partitions it.  Assignment is a balanced
    binary-search when-tree over the literal bounds — O(log p) per
    row and codegen-shallow at any partition count.  The pin lets the
    quantile probe and the scan share one materialization without a
    module-level cache slot that concurrent pipelines could evict
    (storage is executor MEMORY_AND_DISK and is released by the
    ContextCleaner when the plan is garbage-collected).

    A first order column with no numeric proxy (strings) falls back
    to range partitioning keyed by the partition id, correct
    only while every evaluation sees ONE physical partitioning: the
    eager pin materializes it, since the RDD-id-seeded range sampler
    could re-draw different boundaries on a recompute (the round-7
    nondeterminism class the value buckets avoid)."""
    first = order_by[0]
    if isinstance(first, str):
        name, desc = first, False
    else:
        name, desc = first[0], str(first[1]).lower().startswith("d")
    proxy = _rank_proxy(df, name)
    n_parts = shuffle_partitions(df.sparkSession)
    if proxy is None:
        return (
            df.repartitionByRange(n_parts, *_order_cols(order_by))
            .withColumn("__bkt", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
    inp = df.localCheckpoint(eager=True)
    qs = [i / n_parts for i in range(1, n_parts)]
    probe = inp.select(proxy.alias("__p")).filter(F.col("__p").isNotNull())
    bounds = sorted(set(probe.stat.approxQuantile("__p", qs, 0.01)))
    # descending order ⇔ ascending on the negated proxy (exact for
    # IEEE doubles), so one search routine serves both directions
    sproxy = -proxy if desc else proxy
    sbounds = sorted(-b for b in bounds) if desc else bounds
    # NULLs sort first under asc(), last under desc() (_order_cols);
    # NaN, Spark's largest double, last under asc(), first under
    # desc(): give each the matching extreme bucket
    lo, hi = -1, len(bounds) + 1
    null_bkt, nan_bkt = (hi, lo) if desc else (lo, hi)
    return inp.withColumn(
        "__bkt",
        F.when(F.col(name).isNull(), F.lit(null_bkt))
        .when(F.isnan(proxy), F.lit(nan_bkt))
        .otherwise(_bucket_search(sproxy, sbounds)),
    )


def _carry(
    bucketed: DataFrame,
    groups: Sequence[str],
    parts: dict[str, Column],
    agg: Callable[[str], Column] = F.sum,
) -> DataFrame:
    """The carry step of the two-phase scan: join onto the bucketed
    rows, per ``parts`` item ``name: partial``, ``name`` — the ``agg``
    of the per-(bucket, group) ``partial`` aggregates over every
    EARLIER bucket of the row's ``groups`` key (NULL in the first) —
    and ``name_tot``, the ``agg`` over all of the key's buckets.  The
    partial table holds at most #buckets rows per key, so its windows
    never sort data-sized input in one task and the carry needs no
    driver collect."""
    keys = ["__bkt", *groups]
    key = [F.col(g) for g in groups] or [F.lit(0)]
    earlier = (
        Window.partitionBy(*key)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    whole = Window.partitionBy(*key)
    on = {k: f"__carry_key{i}" for i, k in enumerate(keys)}
    carry = bucketed.groupBy(*keys).agg(
        *[p.alias(n) for n, p in parts.items()]
    ).select(
        *[F.col(k).alias(c) for k, c in on.items()],
        *[agg(n).over(earlier).alias(n) for n in parts],
        *[agg(n).over(whole).alias(f"{n}_tot") for n in parts],
    )
    # NULL-safe on the group key: a NULL group keeps its rows, as on
    # the one-window path
    cond = [F.col("__bkt") == F.col(on["__bkt"])] + [
        F.col(g).eqNullSafe(F.col(on[g])) for g in groups
    ]
    return bucketed.join(carry if groups else F.broadcast(carry), cond).drop(*on.values())


def _prefix_scan(
    df: DataFrame,
    order_by: Sequence[tuple[str, str] | str],
    sums: Sequence[str] = (),
    groups: Sequence[str] = (),
    n_hint: int | None = None,
    small_hint: bool | None = None,
) -> DataFrame:
    """The one scale-safe prefix scan behind every global rank and
    cumulative count: ``df`` plus, in ``order_by`` order within each
    ``groups`` key (the whole table when empty), per ``sums`` column
    ``c`` its inclusive running sum ``cum_<c>`` and the key's total
    ``tot_<c>`` — or, with no ``sums``, the row number ``__rn``.

    The one size decision: ``small_hint`` when given, else ``n_hint``
    against ``_SMALL_RANK_ROWS``, else the early-terminating LIMIT
    probe.  A small input scans in ONE ordered window per key — a
    single task sorts a few tens of MB, no pin / bucketing / carry
    jobs.  Callers that already counted pass ``n_hint`` to skip even
    the probe job.

    A large input runs the two-phase scan: ``_scan_buckets`` cuts the
    order into value buckets, the scan runs within (bucket, key) in
    parallel, and ``_carry`` adds the running total of the key's
    earlier buckets.  A bare ``Window.orderBy`` over data-sized input
    funnels EVERY row through one task — the round-1 scale-killer
    this path exists to avoid.

    Ties across rows with equal sort keys colocate (equal values get
    equal buckets); within equal full sort keys the order is
    undefined, as with any row_number — callers needing
    bit-reproducibility pass a unique tiebreak column, as all
    oracle-paired callers do."""
    cols = _order_cols(order_by)
    if small_hint is None:
        small_hint = (
            n_hint <= _SMALL_RANK_ROWS if n_hint is not None
            else _small_enough(df)
        )
    if small_hint:
        key = [F.col(g) for g in groups] or [F.lit(0)]
        run = Window.partitionBy(*key).orderBy(*cols)
        if not sums:
            return df.withColumn("__rn", F.row_number().over(run))
        run = run.rowsBetween(Window.unboundedPreceding, 0)
        return df.select(
            "*",
            *[F.sum(c).over(run).alias(f"cum_{c}") for c in sums],
            *[F.sum(c).over(Window.partitionBy(*key)).alias(f"tot_{c}") for c in sums],
        )
    parts = {f"__carry{i}": F.sum(c) for i, c in enumerate(sums)}
    b = _carry(
        _scan_buckets(df, order_by),
        groups,
        parts or {"__carry": F.count(F.lit(1))},
    )
    helpers = [c for c in b.columns if c not in df.columns]
    run = Window.partitionBy("__bkt", *groups).orderBy(*cols)
    if not sums:
        rn = F.row_number().over(run) + F.coalesce("__carry", F.lit(0))
        return b.withColumn("__rn", rn).drop(*helpers)
    run = run.rowsBetween(Window.unboundedPreceding, 0)
    return b.withColumns(
        {f"cum_{c}": F.sum(c).over(run) + F.coalesce(o, F.lit(0)) for o, c in zip(parts, sums)}
        | {f"tot_{c}": F.col(f"{o}_tot") for o, c in zip(parts, sums)}
    ).drop(*helpers)


def _with_global_row_number(
    df: DataFrame,
    order_by: Sequence[tuple[str, str] | str],
    n_hint: int | None = None,
) -> DataFrame:
    """Scale-safe global row_number as ``__rn`` (``_prefix_scan``)."""
    return _prefix_scan(df, order_by, n_hint=n_hint)


def _order_cols(orderby: Sequence[tuple[str, str] | str]) -> list[Column]:
    cols = []
    for item in orderby:
        if isinstance(item, str):
            cols.append(F.col(item).asc())
        else:
            name, direction = item
            col = F.col(name)
            cols.append(col.desc() if str(direction).lower().startswith("d") else col.asc())
    return cols


def top_k(df: DataFrame, orderby: Sequence[tuple[str, str] | str], k: int) -> DataFrame:
    """Top-k (sort + sample-first composition in the reference,
    SURVEY.md §2.5 O2).  Spark turns orderBy+limit into TakeOrdered —
    a per-partition heap + driver merge, no full sort at any scale."""
    return sort(df, orderby).limit(k)


# ---------------------------------------------------------------------
# Aggregation (SURVEY.md §2.6; bubbles/ops/rows.py::aggregate)
# ---------------------------------------------------------------------

_AGG_FUNCS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "average": F.avg,
    "avg": F.avg,
    "count": F.count,
    # extensions beyond the reference's four funcs
    "count_distinct": F.countDistinct,
    "approx_count_distinct": F.approx_count_distinct,
    "stddev": F.stddev,
    "variance": F.variance,
    "first": F.first,
    "last": F.last,
    "median": F.median,
    "p90": lambda c: F.percentile_approx(c, 0.9),
    "p99": lambda c: F.percentile_approx(c, 0.99),
}


def aggregate(
    df: DataFrame,
    key: str | Sequence[str] | None,
    measures: Sequence[tuple[str, str]] = (),
    include_count: bool = True,
    count_field: str = "record_count",
) -> DataFrame:
    """Group by ``key`` with ``(field, func)`` measures
    (bubbles/ops/rows.py::aggregate — a dict-of-accumulators hash agg
    in the reference; Spark's partial-aggregate + shuffle + final
    here).  Output naming matches the reference: ``{field}_{func}``.

    Null semantics: Spark/SQL aggregates skip NULLs (the reference's
    Python ``sum`` would raise); pinned to SQL semantics and encoded
    in the oracle (SURVEY.md §7.4a).
    """
    keys = [] if key is None else [key] if isinstance(key, str) else list(key)
    aggs: list[Column] = []
    for field, func in measures:
        fname = func.lower()
        try:
            fn = _AGG_FUNCS[fname]
        except KeyError:
            raise ValueError(f"unknown aggregate function: {func!r}")
        aggs.append(fn(field).alias(f"{field}_{fname}"))
    if include_count:
        aggs.append(F.count(F.lit(1)).alias(count_field))
    if not aggs:
        raise ValueError("aggregate() needs measures or include_count=True")
    return df.groupBy(*keys).agg(*aggs)


def rank_in_group(
    df: DataFrame,
    partition_by: str | Sequence[str],
    orderby: Sequence[tuple[str, str] | str],
    k: int | None = None,
    rank_field: str = "rank",
    method: str = "row_number",
) -> DataFrame:
    """Per-group ranking / top-k-per-group (engine extension — the
    reference has no window functions, SURVEY.md §2.6).

    ``method``: row_number | rank | dense_rank | percent_rank |
    cume_dist | ntile:<n> (e.g. "ntile:10" for deciles).  With ``k``
    the result keeps only ranks <= k — the partitioned analog of
    top_k.  The window is PARTITIONED, so at scale each group sorts
    independently after one hash shuffle; no global single-task sort
    (contrast the round-1 sample-nth finding)."""
    from pyspark.sql import Window

    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    fns = {
        "row_number": F.row_number,
        "rank": F.rank,
        "dense_rank": F.dense_rank,
        "percent_rank": F.percent_rank,
        "cume_dist": F.cume_dist,
    }
    if method.startswith("ntile:"):
        n = int(method.split(":", 1)[1])
        fn = lambda: F.ntile(n)
    else:
        fn = fns[method]
    w = Window.partitionBy(*parts).orderBy(*_order_cols(orderby))
    out = df.withColumn(rank_field, fn().over(w))
    return out.filter(F.col(rank_field) <= k) if k else out


def running_agg(
    df: DataFrame,
    partition_by: str | Sequence[str],
    orderby: Sequence[tuple[str, str] | str],
    field: str,
    func: str = "sum",
    out_field: str | None = None,
) -> DataFrame:
    """Cumulative aggregate over an ordered partition (running total).
    Rows between UNBOUNDED PRECEDING and CURRENT ROW — the SQL
    default for ordered windows, pinned explicitly."""
    from pyspark.sql import Window

    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    w = (
        Window.partitionBy(*parts)
        .orderBy(*_order_cols(orderby))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fn = _AGG_FUNCS[func.lower()]
    return df.withColumn(out_field or f"{field}_running_{func}", fn(field).over(w))


def epoch_ms_wallclock(col: Column, is_ntz: bool) -> Column:
    """Epoch milliseconds for a RANGE-frame sort key.  NTZ wall-clocks
    pin to UTC before the instant cast — a bare NTZ→LTZ cast uses the
    SESSION zone, so two rows straddling a DST transition would see
    their millisecond DIFFERENCE (and thus trailing-window membership)
    shift by an hour between sessions in different zones.  UTC has no
    DST; instants are already zone-free."""
    if is_ntz:
        col = F.convert_timezone(F.lit("UTC"), F.expr("current_timezone()"), col)
    return F.unix_millis(col.cast("timestamp"))


def moving_agg_time(
    df: DataFrame,
    ts_col: str,
    partition_by: str | Sequence[str],
    field: str,
    window_seconds: float,
    func: str = "sum",
    out_field: str | None = None,
) -> DataFrame:
    """Trailing time-window aggregate: for each row, ``func`` over the
    partition's rows with ts in [row.ts − window_seconds, row.ts] —
    the RANGE-frame moving average/sum (7-day revenue, 1-hour event
    rate) that ``running_agg``'s ROWS frame can't express when event
    spacing is irregular.

    The frame orders on the timestamp as EPOCH MILLISECONDS (Spark
    RANGE frames need a numeric sort key with integer offsets;
    integer ms are exact where an epoch double would round).  For
    ``sum`` over floating columns the frame sums
    decimal-cast terms — frame sums are recomputed per row, so
    order-dependent double rounding would otherwise make results
    nondeterministic across partitionings (same discipline as the
    TPC-H revenue aggregates).

    One hash shuffle on the partition key; each partition sorts once.
    ``sum``/``count``/``avg`` evaluate as a DIFFERENCE of two
    unbounded-preceding prefix frames (``sum[-x,0] = sum(-∞,0] −
    sum(-∞,-x-1]`` — Spark evaluates those incrementally, O(n),
    where a bounded-both-sides frame rescans the frame per row,
    O(n·frame)); the subtraction is exact in decimal/BIGINT so the
    value is bit-identical to the direct frame.  ``min``/``max``
    can't decompose and keep the sliding frame.  No self-join, no
    explode."""
    from pyspark.sql import Window

    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order = epoch_ms_wallclock(
        F.col(ts_col), dict(df.dtypes).get(ts_col, "") == "timestamp_ntz"
    )
    win_ms = int(window_seconds * 1000)
    wb = Window.partitionBy(*parts).orderBy(order)
    w = wb.rangeBetween(-win_ms, 0)
    w_cur = wb.rangeBetween(Window.unboundedPreceding, 0)
    w_prev = wb.rangeBetween(Window.unboundedPreceding, -win_ms - 1)
    f = func.lower()
    col = F.col(field)
    is_float = dict(df.dtypes).get(field) in ("double", "float")

    def _psum(c):
        return F.sum(c).over(w_cur) - F.coalesce(
            F.sum(c).over(w_prev), F.lit(0).cast("decimal(20,6)")
        )

    # the prefix difference alone yields 0 (S − S) for a frame whose
    # rows are all NULL when earlier out-of-frame rows were not; the
    # direct sliding frame yields NULL there.  Gate every sum on the
    # frame's non-null COUNT difference (same guard avg already had)
    # so the rewrite stays bit-identical to the direct frame.
    in_frame_cnt = F.count(col).over(w_cur) - F.count(col).over(w_prev)
    if f == "sum" and is_float:
        agg = F.when(
            in_frame_cnt > 0, _psum(col.cast("decimal(20,6)")).cast("double")
        )
    elif f == "sum":
        agg = F.when(
            in_frame_cnt > 0,
            F.sum(col).over(w_cur)
            - F.coalesce(F.sum(col).over(w_prev), F.lit(0)),
        )
    elif f == "count":
        agg = F.count(col).over(w_cur) - F.count(col).over(w_prev)
    elif f == "avg":
        cnt = F.count(col).over(w_cur) - F.count(col).over(w_prev)
        num = (
            _psum(col.cast("decimal(20,6)")).cast("double")
            if is_float
            else (
                F.sum(col).over(w_cur)
                - F.coalesce(F.sum(col).over(w_prev), F.lit(0))
            ).cast("double")
        )
        agg = F.when(cnt > 0, num / cnt.cast("double"))
    else:
        agg = _AGG_FUNCS[f](field).over(w)
    return df.withColumn(out_field or f"{field}_trailing_{func}", agg)


def lag_delta(
    df: DataFrame,
    partition_by: str | Sequence[str],
    orderby: Sequence[tuple[str, str] | str],
    field: str,
    out_field: str | None = None,
) -> DataFrame:
    """Difference from the previous row in the ordered partition
    (NULL for the first row) — the CDC-adjacent 'what changed since
    last time' primitive."""
    from pyspark.sql import Window

    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    w = Window.partitionBy(*parts).orderBy(*_order_cols(orderby))
    return df.withColumn(
        out_field or f"{field}_delta", F.col(field) - F.lag(field).over(w)
    )


def rollup_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    measures: Sequence[tuple[str, str]],
    mode: str = "rollup",
    include_count: bool = True,
    count_field: str = "record_count",
) -> DataFrame:
    """ROLLUP / CUBE aggregation (engine extension; same measure
    naming as aggregate()).  Subtotal rows carry NULL key values —
    SQL-standard, matches DuckDB's GROUP BY ROLLUP/CUBE output."""
    aggs = [
        _AGG_FUNCS[func.lower()](field).alias(f"{field}_{func.lower()}")
        for field, func in measures
    ]
    if include_count:
        aggs.append(F.count(F.lit(1)).alias(count_field))
    grouped = df.rollup(*keys) if mode == "rollup" else df.cube(*keys)
    return grouped.agg(*aggs)


def pivot_aggregate(
    df: DataFrame,
    key: str | Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[Any],
    field: str,
    func: str = "sum",
) -> DataFrame:
    """groupBy().pivot() aggregation.  ``pivot_values`` is REQUIRED:
    with explicit values Spark skips the extra distinct-scan job and
    the output schema is stable (at 100 TB an unbounded pivot is a
    schema explosion waiting to happen)."""
    keys = [key] if isinstance(key, str) else list(key)
    fn = _AGG_FUNCS[func.lower()]
    return df.groupBy(*keys).pivot(pivot_col, list(pivot_values)).agg(fn(field))


def grouped_apply(
    df: DataFrame,
    keys: str | Sequence[str],
    fn: Callable,
    schema: str,
) -> DataFrame:
    """Grouped pandas transform — the UDAF analog of the reference's
    @operation escape hatch (SURVEY.md §2.12: aggregation UDFs via
    applyInPandas over groups).

    ``fn(pandas.DataFrame) -> pandas.DataFrame`` runs once per key
    group, Arrow-batched.  One shuffle on the keys, then embarrassingly
    parallel per group — but a single giant group lands on one task,
    so keys must have bounded cardinality-per-key at scale (same
    contract as any groupBy-apply)."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    return df.groupBy(*key_list).applyInPandas(fn, schema=schema)


# ---------------------------------------------------------------------
# Joins & set ops (SURVEY.md §2.7)
# ---------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    right_cols: Sequence[str] | None = None,
    prefix: str = "r_",
) -> DataFrame:
    """As-of join (engine extension — absent in both the reference and
    stock Spark): every left row picks the nearest right row at or
    before (``backward``) / at or after (``forward``) its ``on`` value,
    within the same ``by`` group.  Left-outer semantics: unmatched left
    rows keep NULL right columns.

    NOT implemented as a range join — a time-range theta join explodes
    to |L|·|R| per key before pruning.  Instead the merge formulation:
    union both sides tagged, one hash shuffle on ``by``, per-key sort
    on (on, side), and ``last(right_payload, ignorenulls)`` over the
    ordered window carries the most recent right row forward.  That is
    O((|L|+|R|) log) per key with exactly one shuffle — the same shape
    as sessionize, and the plan a hand-written merge-asof would want.
    Equal ``on`` values match (right sorts before left at ties, per
    the conventional asof-backward closure; mirrored for forward).

    ``tolerance_seconds`` (timestamp ``on`` only) nulls matches older
    (newer) than the window — rows are kept, left-outer style.
    Right payload columns land as ``{prefix}{col}``.

    Without ``by`` the window is a single global sort (one task) —
    acceptable only for small inputs; at scale always pass the key.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    from pyspark.sql import Window

    by_list = [] if by is None else [by] if isinstance(by, str) else list(by)
    payload = [c for c in (right_cols or right.columns) if c not in by_list]
    if on not in payload:
        payload = [on, *payload]

    if direction == "nearest":
        # ONE union pass, TWO frames over the same shuffle+sort: the
        # backward candidate (last right ≤ ts — equal-ts rows land
        # here, gap 0) and the forward candidate (first right > ts),
        # then pick the smaller |gap|; ties prefer backward.  Same
        # cost as one directional asof — never two joins.
        return _asof_nearest(
            left, right, on, by_list, tolerance_seconds, payload, prefix
        )

    r_struct = F.struct(*[F.col(c) for c in payload]).alias("__r")
    right_u = right.select(
        *by_list,
        F.col(on).alias("__on"),
        F.lit(0 if direction == "backward" else 1).alias("__side"),
        r_struct,
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left.columns],
    )
    left_u = left.select(
        *by_list,
        F.col(on).alias("__on"),
        F.lit(1 if direction == "backward" else 0).alias("__side"),
        F.lit(None).cast(right_u.schema["__r"].dataType).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    u = right_u.unionByName(left_u)

    # Both directions use a GROWING frame ([unbounded preceding,
    # current] — Spark evaluates it incrementally, O(n) per key).
    # Forward scans the timeline DESCENDING instead of taking
    # first() over [current, unbounded following]: Spark re-
    # aggregates a shrinking frame from scratch per row (O(n²) per
    # key — measured minutes vs seconds on a 200k-row key).  Under
    # (__on DESC, __side DESC) the last right seen at-or-before a
    # left row is exactly the nearest right with on ≥ left.on, ties
    # included (right sorts before left at equal __on both ways).
    if direction == "backward":
        order = [F.col("__on").asc(), F.col("__side").asc()]
    else:
        order = [F.col("__on").desc(), F.col("__side").desc()]
    w = (
        Window.partitionBy(*by_list).orderBy(*order)
        if by_list
        else Window.orderBy(*order)
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    match = F.last("__r", ignorenulls=True).over(frame)

    out = u.withColumn("__m", match).filter(
        F.col("__side") == (1 if direction == "backward" else 0)
    )
    if tolerance_seconds is not None:
        # TIMESTAMP_NTZ can't cast straight to DOUBLE — route timestamp-
        # family `on` columns through TIMESTAMP (session tz pinned UTC;
        # only the difference matters).  Same fix as events.epoch_seconds.
        on_dt = dict(u.dtypes).get("__on", "")
        if on_dt.startswith("timestamp") or on_dt == "date":
            on_s = F.col("__on").cast("timestamp").cast("double")
            m_s = F.col("__m")[on].cast("timestamp").cast("double")
        else:
            on_s = F.col("__on").cast("double")
            m_s = F.col("__m")[on].cast("double")
        gap = on_s - m_s
        if direction == "forward":
            gap = -gap
        out = out.withColumn(
            "__m", F.when(gap <= F.lit(float(tolerance_seconds)), F.col("__m"))
        )
    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col("__m")[c].alias(f"{prefix}{c}") for c in payload],
    )


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by_list: list[str],
    tolerance_seconds: float | None,
    payload: list[str],
    prefix: str,
) -> DataFrame:
    """``asof_join(direction='nearest')`` body: pandas
    ``merge_asof(direction='nearest')`` semantics with a pinned tie
    rule (equal |gap| → the backward match).  One union, one shuffle,
    one per-key sort; two window frames slide over it."""
    from pyspark.sql import Window

    r_struct = F.struct(*[F.col(c) for c in payload]).alias("__r")
    right_u = right.select(
        *by_list,
        F.col(on).alias("__on"),
        F.lit(0).alias("__side"),
        r_struct,
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
            for c in left.columns
        ],
    )
    left_u = left.select(
        *by_list,
        F.col(on).alias("__on"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right_u.schema["__r"].dataType).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    u = right_u.unionByName(left_u)
    w = (
        Window.partitionBy(*by_list).orderBy("__on", "__side")
        if by_list
        else Window.orderBy("__on", "__side")
    )
    back = F.last("__r", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward match via a DESCENDING growing frame (incremental O(n))
    # instead of first() over a shrinking frame (Spark re-aggregates
    # those from scratch per row — O(n²) per key); under (__on DESC,
    # __side DESC) the last right seen equals the first right after
    # the current row, same-on rights excluded exactly as in the
    # ascending formulation (left __side=1 sorts before right 0)
    wd = (
        Window.partitionBy(*by_list).orderBy(
            F.col("__on").desc(), F.col("__side").desc()
        )
        if by_list
        else Window.orderBy(F.col("__on").desc(), F.col("__side").desc())
    )
    fwd = F.last("__r", ignorenulls=True).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.withColumn("__mb", back)
        .withColumn("__mf", fwd)
        .filter(F.col("__side") == 1)
    )
    on_dt = dict(u.dtypes).get("__on", "")
    if on_dt.startswith("timestamp") or on_dt == "date":
        on_s = F.col("__on").cast("timestamp").cast("double")

        def _sec(m):
            return m[on].cast("timestamp").cast("double")

    else:
        on_s = F.col("__on").cast("double")

        def _sec(m):
            return m[on].cast("double")

    gap_b = on_s - _sec(F.col("__mb"))
    gap_f = _sec(F.col("__mf")) - on_s
    if tolerance_seconds is not None:
        tol = F.lit(float(tolerance_seconds))
        out = out.withColumn(
            "__mb", F.when(gap_b <= tol, F.col("__mb"))
        ).withColumn("__mf", F.when(gap_f <= tol, F.col("__mf")))
    pick = (
        F.when(F.col("__mb").isNull(), F.col("__mf"))
        .when(F.col("__mf").isNull(), F.col("__mb"))
        .when(gap_b <= gap_f, F.col("__mb"))
        .otherwise(F.col("__mf"))
    )
    out = out.withColumn("__m", pick)
    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col("__m")[c].alias(f"{prefix}{c}") for c in payload],
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-defeating equi-join: the hot-key pattern for when one join
    key holds a disproportionate share of the left side (at 100 TB a
    single hot key pins one reducer for hours).

    Left rows get a deterministic salt in [0, salt) hashed from the
    full row (xxhash64 — stable across task retries, unlike a random
    salt, so speculative execution and stage reruns stay consistent);
    the right side is replicated ``salt`` times via explode.  The join
    key becomes (key, salt) — a hot key's rows now spread over
    ``salt`` reducers.  Cost: right side shuffles ``salt``× — use for
    modest right sides against a skewed big left, and prefer plain
    broadcast when the right side fits in memory.  AQE's skew-join
    split only helps sort-merge partitions after the fact; salting
    fixes the key distribution itself.

    Semantics identical to ``left.join(right, on, how)`` for
    inner/left joins (verified by oracle).  Right/full joins would
    duplicate unmatched right rows per salt replica — rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    on_list = [on] if isinstance(on, str) else list(on)
    l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int"),
    )
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l.join(r, [*on_list, "__salt"], how).drop("__salt")


def join_details(
    master: DataFrame,
    detail: DataFrame,
    master_key: str | Sequence[str],
    detail_key: str | Sequence[str] | None = None,
    how: str = "inner",
    broadcast_detail: bool | None = None,
    prefix: str | None = None,
) -> DataFrame:
    """Master–detail join: enrich master rows with the matching detail
    row's columns (bubbles/ops/rows.py::join_details — the reference
    builds an in-memory dict on the detail key, i.e. a broadcast hash
    join with inner semantics; SURVEY.md §2.7 J1).

    ``broadcast_detail=None`` (default) leaves the strategy to
    Catalyst statistics + AQE: a detail side under
    ``autoBroadcastJoinThreshold`` broadcasts automatically, and AQE
    can still convert a shuffle join at runtime.  ``True`` forces the
    hint (only when the caller KNOWS the side stays small at every
    scale — a forced hint ignores the threshold and OOMs at sf100 if
    the "dimension" grows with the data); ``False`` forbids it.

    Output: all master columns + detail columns minus the detail key
    (it duplicates the master key).  ``prefix`` optionally prefixes
    detail columns to avoid collisions.
    """
    mkeys = [master_key] if isinstance(master_key, str) else list(master_key)
    dkeys = (
        mkeys
        if detail_key is None
        else [detail_key] if isinstance(detail_key, str) else list(detail_key)
    )
    if len(mkeys) != len(dkeys):
        raise ValueError("master_key and detail_key arity mismatch")

    d = detail
    keep = [c for c in d.columns if c not in dkeys]
    if prefix:
        d = d.select(*dkeys, *[F.col(c).alias(prefix + c) for c in keep])
        keep = [prefix + c for c in keep]
    else:
        collisions = set(keep) & set(master.columns)
        if collisions:
            raise ValueError(
                f"detail columns collide with master: {sorted(collisions)}; "
                "pass prefix="
            )
    cond = reduce(
        lambda a, b: a & b,
        [master[mk] == d[dk] for mk, dk in zip(mkeys, dkeys)],
    )
    right = F.broadcast(d) if broadcast_detail else d.hint("shuffle_merge") if broadcast_detail is False else d
    joined = master.join(right, cond, how)
    return joined.select(*[master[c] for c in master.columns], *[d[c] for c in keep])


def lookup_with_default(
    facts: DataFrame,
    dim: DataFrame,
    key: str | Sequence[str],
    defaults: dict[str, Any] | None = None,
    prefix: str | None = None,
    flag_col: str = "dim_matched",
) -> DataFrame:
    """Dimension lookup with UNKNOWN-member handling — the
    late-arriving-dimension pattern every warehouse load needs: left-
    join the facts to the dimension and, for keys the dimension does
    not (yet) know, fill each dimension column from ``defaults``
    (missing defaults stay NULL) and flag the row ``dim_matched =
    false`` so the backfill job can find it later.  ``join_details``
    is the inner-join sibling; this one NEVER drops a fact.

    The match flag comes from a planted marker on the dim side (a
    dim-column NULL test would misflag rows whose dimension
    legitimately carries NULLs).  Collisions follow the
    ``join_details`` contract (``prefix`` or raise).

    Scale: one left equi-join; Catalyst/AQE broadcasts a small dim.
    Output: all fact columns + dim columns (minus the key) +
    ``flag_col``."""
    keys = [key] if isinstance(key, str) else list(key)
    defaults = defaults or {}
    d = dim.withColumn("__dm", F.lit(True))
    keep = [c for c in dim.columns if c not in keys]
    if prefix:
        d = d.select(*keys, "__dm", *[F.col(c).alias(prefix + c) for c in keep])
        keep = [prefix + c for c in keep]
        defaults = {prefix + k: v for k, v in defaults.items()}
    else:
        collisions = set(keep) & set(facts.columns)
        if collisions:
            raise ValueError(
                f"dim columns collide with facts: {sorted(collisions)}; "
                "pass prefix="
            )
    unknown = set(defaults) - set(keep)
    if unknown:
        raise ValueError(f"defaults for non-dim columns: {sorted(unknown)}")
    joined = facts.join(d, keys, "left")
    matched = F.coalesce(F.col("__dm"), F.lit(False))
    filled = [
        F.when(matched | F.lit(c not in defaults), F.col(c))
        .otherwise(F.lit(defaults.get(c)))
        .alias(c)
        for c in keep
    ]
    return joined.select(
        *[c for c in facts.columns], *filled, matched.alias(flag_col)
    )


def join_details_multi(
    master: DataFrame,
    details: Sequence[tuple],
    how: str = "inner",
) -> DataFrame:
    """Multi-detail star join (the reference's join_details accepts
    several details in one call — SURVEY.md §2.7 J1 [M]): each entry
    is ``(detail_df, master_key)`` or ``(detail_df, master_key,
    detail_key)`` or ``(detail_df, master_key, detail_key, prefix)``.

    Joins apply left-to-right; Catalyst/AQE is free to broadcast every
    small dimension and reorder — a chain of independent equi-joins
    against one fact is exactly the shape its join-reorder rule
    handles."""
    out = master
    for entry in details:
        detail, mkey, *rest = entry
        dkey = rest[0] if len(rest) >= 1 else None
        prefix = rest[1] if len(rest) >= 2 else None
        out = join_details(out, detail, mkey, dkey, how=how, prefix=prefix)
    return out


def range_join(
    facts: DataFrame,
    dims: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
    closed: str = "left",
    broadcast_dims: bool = True,
) -> DataFrame:
    """Interval containment join: each fact row matches dim rows whose
    [lo, hi) interval contains ``value_col`` (engine extension — the
    banding/bucketing join behind rate tables, SLA tiers, histogram
    dims; absent in the reference, SURVEY.md §2.7).

    ``closed``: 'left' = [lo, hi), 'right' = (lo, hi], 'both' =
    [lo, hi].

    Physical shape: a theta join.  With ``broadcast_dims`` (the
    default, and the only sane option for a band table) Spark plans a
    BroadcastNestedLoopJoin — each task scans its facts once against
    the in-memory band list, no shuffle of the fact side at all, which
    is exactly right at 100 TB when |dims| is O(100) bands.  For a
    LARGE dim side, pre-bucket both sides on a shared grid and
    equi-join the bucket key instead (see histogram()) — a raw
    non-broadcast theta join degenerates to a cartesian stream and is
    refused by default.
    """
    if how not in ("inner", "left"):
        raise ValueError("range_join supports inner/left joins only")
    v = facts[value_col]
    conds = {
        "left": (v >= dims[lo_col]) & (v < dims[hi_col]),
        "right": (v > dims[lo_col]) & (v <= dims[hi_col]),
        "both": (v >= dims[lo_col]) & (v <= dims[hi_col]),
    }
    try:
        cond = conds[closed]
    except KeyError:
        raise ValueError("closed must be 'left', 'right' or 'both'")
    d = F.broadcast(dims) if broadcast_dims else dims
    return facts.join(d, cond, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    by: str | Sequence[str] | None = None,
    bucket_width: float | None = None,
    suffix: str = "r_",
) -> DataFrame:
    """Interval-OVERLAP join: every (left, right) pair whose
    [start, end) intervals intersect — sessions × promotions,
    downtime × deployments, reads × gene annotations.  Half-open
    overlap predicate: l_start < r_end AND r_start < l_end.

    Scale shape — a banded equi-join, not a theta join: both sides
    explode each interval into the coarse grid cells it touches
    (``bucket_width``; default = a driver-probed median interval
    span, clamped sane), equi-join on (by..., cell), dedupe the pairs
    that overlap several shared cells, and verify the exact overlap
    predicate.  Shuffle carries (key, cell) tagged rows only; a pair
    is generated at most once per shared cell — intervals spanning k
    cells cost k rows, NOT k² — and no cross product ever forms.
    Long intervals cap their fan-out via the grid (pathological
    full-range intervals should be filtered or bucketed wider).

    ``by``: optional equality keys joined alongside the cell (the
    usual tenant/user scoping, which also bounds skew)."""
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))

    ls, le = F.col(l_start).cast("double"), F.col(l_end).cast("double")
    rs, re_ = F.col(r_start).cast("double"), F.col(r_end).cast("double")
    if bucket_width is None:
        probe = left.select(
            F.expr(
                f"percentile_approx(cast({l_end} as double) - "
                f"cast({l_start} as double), 0.5)"
            ).alias("m")
        ).first()
        m = probe["m"] if probe and probe["m"] else None
        bucket_width = float(m) if m and m > 0 else 1.0
    bw = float(bucket_width)

    def cells(s: Column, e: Column) -> Column:
        # grid cells [floor(s/bw) .. floor(max(s, e-ε)/bw)]; empty or
        # inverted intervals touch their start cell only
        lo = F.floor(s / F.lit(bw)).cast("long")
        hi = F.floor((F.greatest(s, e - F.lit(1e-9))) / F.lit(bw)).cast("long")
        return F.sequence(lo, F.greatest(lo, hi))

    lt = left.withColumn("__cell", F.explode(cells(ls, le)))
    rt = right.select(
        *[F.col(k).alias(k) for k in keys],
        *[
            F.col(c).alias(f"{suffix}{c}")
            for c in right.columns
            if c not in keys
        ],
    )
    rt = rt.withColumn(
        "__cell",
        F.explode(
            cells(
                F.col(f"{suffix}{r_start}").cast("double"),
                F.col(f"{suffix}{r_end}").cast("double"),
            )
        ),
    )
    joined = lt.join(rt, [*keys, "__cell"])
    overlap = (ls < F.col(f"{suffix}{r_end}").cast("double")) & (
        F.col(f"{suffix}{r_start}").cast("double") < le
    )
    # a pair sharing k cells appears k times: keep the smallest shared
    # cell only — a map-side predicate (both cell ranges are in hand),
    # cheaper than a dropDuplicates shuffle over the pair id space
    first_shared = F.col("__cell") == F.greatest(
        F.floor(ls / F.lit(bw)).cast("long"),
        F.floor(F.col(f"{suffix}{r_start}").cast("double") / F.lit(bw)).cast("long"),
    )
    return joined.filter(overlap & first_shared).drop("__cell")


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    keys: str | Sequence[str],
    tracked: Sequence[str],
    load_ts,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge (engine extension — the
    dimension-loading workflow the reference's added/changed_rows CDC
    ops feed, SURVEY.md §2.8; here completed into one operator).

    Inputs: ``dim`` — the versioned dimension (business ``keys`` +
    ``tracked`` attributes + ``valid_from``/``valid_to``/
    ``current_flag``); ``updates`` — today's snapshot (keys +
    tracked).  Output: the new dimension content =

    * history rows (not current) — unchanged,
    * current rows with no change — unchanged,
    * current rows whose tracked attrs differ (NULL-safe) or whose key
      vanished from the snapshot — closed out (valid_to = load_ts,
      is_current = false),
    * changed + brand-new keys — inserted as the new current version
      (valid_from = load_ts, open-ended valid_to).

    Plan shape: ONE left-outer equi-join of current rows against the
    (deduplicated) snapshot computes the change classification, plus
    one anti-join for inserts — both shuffle on the business key (or
    broadcast when the snapshot is small; AQE decides).  Unions are
    shuffle-free.  No window functions, no driver loop — at 100 TB
    the dimension rewrite is bounded by two key-partitioned joins.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    ts = F.lit(load_ts) if not isinstance(load_ts, Column) else load_ts
    open_end = F.lit(None).cast(dim.schema[valid_to].dataType)

    # dropDuplicates (not distinct(), which projects to the keys —
    # bubbles semantics): one snapshot row per business key, full row
    up = updates.select(*key_list, *tracked).dropDuplicates(key_list)
    up_t = up.select(
        *key_list, *[F.col(f).alias(f"__u_{f}") for f in tracked],
        F.lit(True).alias("__in_snap"),
    )

    history = dim.filter(~F.col(current_flag))
    current = dim.filter(F.col(current_flag))

    j = current.join(up_t, on=key_list, how="left")
    changed = reduce(
        lambda a, b: a | b,
        [~F.col(f).eqNullSafe(F.col(f"__u_{f}")) for f in tracked],
    )
    gone = F.col("__in_snap").isNull()
    close = changed | gone

    kept_current = j.filter(~close).select(*dim.columns)
    closed_out = (
        j.filter(close)
        .select(*dim.columns)
        .withColumn(valid_to, ts.cast(dim.schema[valid_to].dataType))
        .withColumn(current_flag, F.lit(False))
    )

    # new version rows: changed keys (from the join) + brand-new keys
    changed_new = j.filter(changed & ~gone).select(
        *key_list, *[F.col(f"__u_{f}").alias(f) for f in tracked]
    )
    brand_new = up.join(current.select(*key_list), on=key_list, how="left_anti")
    inserts = (
        changed_new.unionByName(brand_new)
        .withColumn(valid_from, ts.cast(dim.schema[valid_from].dataType))
        .withColumn(valid_to, open_end)
        .withColumn(current_flag, F.lit(True))
        .select(*dim.columns)
    )
    return history.unionByName(kept_current).unionByName(closed_out).unionByName(inserts)


def scd2_snapshot(
    dim: DataFrame,
    as_of,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time READ of an SCD2 dimension (the query-side twin
    of ``scd2_merge``): the version of each business key that was in
    effect at ``as_of`` — rows with ``valid_from <= as_of`` and
    (``valid_to`` open OR ``valid_to > as_of``).  The half-open
    [from, to) convention means a version closed AT ``as_of`` has
    already been superseded by the row opened at the same instant —
    exactly one version per key survives for any ``as_of``.

    Map-only predicate; with the dimension partitioned or z-ordered
    on ``valid_from`` the scan prunes.  Use ``point_in_time_join``
    when every FACT row needs its own as-of version; this is the
    single-snapshot cut ("the dimension as of last midnight")."""
    ts = as_of if isinstance(as_of, Column) else F.lit(as_of)
    ts = ts.cast(dim.schema[valid_from].dataType)
    return dim.filter(
        (F.col(valid_from) <= ts)
        & (F.col(valid_to).isNull() | (F.col(valid_to) > ts))
    )


def append(dfs: Sequence[DataFrame]) -> DataFrame:
    """Concatenate N objects with identical field lists — UNION ALL
    (bubbles/ops/rows.py::append, itertools.chain in the reference).

    unionByName so field order differences don't silently mis-bind.
    A union is shuffle-free in Spark (partitions concatenate).
    """
    if not dfs:
        raise ValueError("append() needs at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b), dfs)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set intersection (engine extension; absent in reference —
    SURVEY.md §2.7 U2)."""
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset difference (engine extension)."""
    return a.exceptAll(b)


# ---------------------------------------------------------------------
# CDC / dimension-loading (SURVEY.md §2.8;
# bubbles/backends/sql/ops.py::added_keys/added_rows/changed_rows)
# ---------------------------------------------------------------------


def cdc_diff(
    src: DataFrame,
    target: DataFrame,
    keys: str | Sequence[str],
    fields: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Full snapshot diff as a tagged change feed — one DataFrame with
    ``op`` ∈ {insert, update, delete}: src keys absent from target
    (insert), keys in both with a tracked-field difference (update,
    src values carried), target keys absent from src (delete, target
    values carried).  The composition of added_rows / changed_rows /
    the reverse anti-join that turns two snapshots into the event
    stream a downstream MERGE or audit log consumes.

    NULL-safe field comparison (eqNullSafe), same contract as
    changed_rows.  Scale shape: ONE full outer join on the key
    (both snapshots shuffle once), row classification is map-side
    expressions over the joined row — not three separate joins."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    s = src.select(
        *key_list, *[F.col(f).alias(f"__s_{f}") for f in fields]
    ).withColumn("__in_s", F.lit(1))
    t = target.select(
        *key_list, *[F.col(f).alias(f"__t_{f}") for f in fields]
    ).withColumn("__in_t", F.lit(1))
    j = s.join(t, key_list, "full_outer")
    diff = reduce(
        lambda a, b: a | b,
        [~F.col(f"__s_{f}").eqNullSafe(F.col(f"__t_{f}")) for f in fields],
    )
    op = (
        F.when(F.col("__in_t").isNull(), F.lit("insert"))
        .when(F.col("__in_s").isNull(), F.lit("delete"))
        .when(diff, F.lit("update"))
    )
    out_fields = [
        F.when(F.col("__in_s").isNotNull(), F.col(f"__s_{f}"))
        .otherwise(F.col(f"__t_{f}"))
        .alias(f)
        for f in fields
    ]
    return (
        j.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(*key_list, *out_fields, op_col)
    )


def added_keys(
    src: DataFrame, target: DataFrame, src_key: str, target_key: str | None = None
) -> DataFrame:
    """Key values present in src but absent from target
    (bubbles/backends/sql/ops.py::added_keys).  Distinct both sides
    first so the anti-join shuffles key columns only."""
    tk = target_key or src_key
    s = src.select(src_key).distinct()
    t = target.select(F.col(tk).alias(src_key)).distinct()
    return s.join(t, on=src_key, how="left_anti")


def added_rows(
    src: DataFrame, target: DataFrame, src_key: str, target_key: str | None = None
) -> DataFrame:
    """Full src rows whose key is absent from target
    (bubbles/backends/sql/ops.py::added_rows) — left anti join."""
    tk = target_key or src_key
    t = target.select(F.col(tk).alias(src_key)).distinct()
    return src.join(t, on=src_key, how="left_anti")


def changed_rows(
    src: DataFrame,
    target: DataFrame,
    keys: str | Sequence[str],
    fields: Sequence[str],
) -> DataFrame:
    """Src rows whose key matches a target row but at least one tracked
    field differs (bubbles/backends/sql/ops.py::changed_rows).

    NULL-safe comparison: NULL→value and value→NULL count as changes
    (``eqNullSafe`` negated), unlike a bare ``!=`` which would miss
    them — semantics pinned per SURVEY.md §7.4a.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    t = target.select(
        *key_list, *[F.col(f).alias(f"__t_{f}") for f in fields]
    )
    diff = reduce(
        lambda a, b: a | b,
        [~F.col(f).eqNullSafe(F.col(f"__t_{f}")) for f in fields],
    )
    return (
        src.join(t, on=key_list, how="inner")
        .filter(diff)
        .select(*src.columns)
    )


def _del_variants(col: Column) -> Column:
    """FastSS depth-1 deletion neighborhood of a string as an ARRAY:
    the string itself plus every single-character deletion (distinct).
    Theorem (Bocek et al., FastSS): ``levenshtein(a, b) <= 1`` iff
    the depth-1 neighborhoods intersect — equal strings share the
    string, an insertion's longer side deletes down to the shorter,
    and a substitution deletes the edited position from both.  Pure
    codegen (sequence + transform + substring), no UDF."""
    return F.array_distinct(
        F.concat(
            F.array(col),
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(0))),
                lambda i: F.concat(
                    F.substring(col, F.lit(1), i - 1),
                    col.substr(i + 1, F.length(col)),
                ),
            ),
        )
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    block_on: Sequence[tuple[str, str]] = (),
    right_suffix: str = "_r",
    strategy: str = "auto",
) -> DataFrame:
    """Approximate string join: pairs with ``levenshtein(left_col,
    right_col) <= max_dist`` — entity resolution / record linkage for
    near-miss keys (typo'd names, OCR'd ids) that an equi-join
    silently drops.  NO false negatives, NO cartesian product; every
    candidate is verified with the in-JVM thresholded ``levenshtein``
    (O(d·len) early exit).

    Blocking strategies (``strategy``):

    - ``"deletion"`` (auto default for ``max_dist <= 1``): FastSS
      deletion-neighborhood join — both sides explode to their ≤ L+1
      depth-1 deletion variants (``_del_variants``) and candidates
      are pairs sharing ANY variant, an equi-join whose buckets stay
      tiny even when every string has the same length.  This is the
      fix for the degenerate case that kills length blocking:
      fixed-width id/name schemes put the ENTIRE corpus in one length
      bucket (measured: 15k same-length names → 225M candidate pairs
      → 355 s; deletion blocking → sub-second).  Explode factor is
      (len+1)× — meant for short linkage keys; for long-text near-dup
      use the MinHash family instead.  Supports ``max_dist`` 0/1 only.
    - ``"length"`` (auto default for ``max_dist >= 2``): edit
      distance d bounds ``|len(a) − len(b)| <= d``, so the right side
      fans out to 2d+1 candidate lengths and the join is an equi-join
      on exact length.  Sound for any d; weak (skew-prone) when one
      length dominates — pass ``block_on`` there.

    ``block_on`` equi-pairs ((left_col, right_col), e.g. country or
    first token) RESTRICT matches to equal blocks under either
    strategy — the standard linkage trade (stated semantics change,
    not silent skew).  ``max_dist = 0`` collapses to a plain
    equi-join on the string.  Clashing right column names take
    ``right_suffix``."""
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    if strategy == "auto":
        strategy = "deletion" if max_dist <= 1 else "length"
    if strategy not in ("deletion", "length"):
        raise ValueError(f"unknown fuzzy_join strategy: {strategy!r}")
    if strategy == "deletion" and max_dist > 1:
        raise ValueError(
            "deletion blocking supports max_dist <= 1 (depth-d "
            "neighborhoods grow O(len^d)); use strategy='length'"
        )
    reserved = {"__lid", "__rid", "__v", "__len"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"fuzzy_join reserves internal column names {sorted(clash)} "
            "— rename them on the inputs first (withColumn would "
            "silently overwrite and drop them from the output)"
        )
    taken = set(left.columns)
    renames = {
        c: (c + right_suffix if c in taken else c) for c in right.columns
    }
    r = right.select(*[F.col(c).alias(n) for c, n in renames.items()])
    r_col = renames[right_col]
    blocks = [(lc, renames[rc]) for lc, rc in block_on]
    dist = F.levenshtein(F.col(left_col), F.col(r_col), max_dist)
    verified = (dist >= 0) & (dist <= max_dist)

    if max_dist == 0:
        on = [F.col(left_col) == F.col(r_col)] + [
            F.col(lc) == F.col(rc) for lc, rc in blocks
        ]
        return left.join(r, reduce(lambda a, b: a & b, on))

    if strategy == "deletion":
        # a pair sharing several variants would duplicate: tag rows
        # with intra-query ids and keep one copy per (left, right)
        # row pair (ids never escape the query)
        lhs = left.withColumn("__lid", F.monotonically_increasing_id())
        rhs = r.withColumn("__rid", F.monotonically_increasing_id())
        lv = lhs.withColumn("__v", F.explode(_del_variants(F.col(left_col))))
        rv = rhs.withColumn("__v", F.explode(_del_variants(F.col(r_col))))
        # pin the variant-join width: AQE coalesces this exchange by
        # its INPUT size (exploded variants are bytes per row), but
        # the stage's cost is the candidate fan-out it EMITS —
        # measured at 100x corpus, the join collapsed to ONE
        # post-shuffle task grinding levenshtein for 14+ minutes
        # while 31 cores idled.  The explicit-width repartition is
        # the exchange the join requires anyway, just not
        # coalescible (HashPartitioning on __v, a subset of the join
        # keys, co-partitions both sides — no extra shuffle).
        n_shuf = int(
            left.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        lv = lv.repartition(n_shuf, "__v")
        rv = rv.repartition(n_shuf, "__v")
        on = [lv["__v"] == rv["__v"]] + [
            lv[lc] == rv[rc] for lc, rc in blocks
        ]
        # merge hint: the static size estimate for an exploded side
        # is its FILE size (Generate keeps the child's stats), so a
        # 17 MB parquet that explodes to 30M variant rows still
        # "fits" the auto-broadcast threshold — at 100x corpus the
        # planner broadcast the whole exploded side and OOM'd the
        # driver.  Both sides are (len+1)x data-sized by
        # construction: never broadcastable.
        return (
            lv.join(rv.hint("merge"), reduce(lambda a, b: a & b, on))
            # dedup BEFORE verifying: a pair sharing k variants emits
            # k join rows, so deduping first runs the (dominant)
            # thresholded levenshtein ONCE per pair instead of k
            # times — and the pair-keyed exchange redistributes
            # verification away from any hot variant bucket
            .dropDuplicates(["__lid", "__rid"])
            .filter(verified)
            .drop("__v", "__lid", "__rid")
        )

    rl = r.withColumn(
        "__len",
        F.explode(
            F.array(
                *[
                    F.length(F.col(r_col)) + F.lit(k)
                    for k in range(-max_dist, max_dist + 1)
                ]
            )
        ),
    )
    lhs = left.withColumn("__len", F.length(F.col(left_col)))
    on = [lhs["__len"] == rl["__len"]] + [
        lhs[lc] == rl[rc] for lc, rc in blocks
    ]
    # same Generate-stats hazard as the deletion path: the length-
    # exploded side is (2d+1)x data-sized, never broadcastable
    return (
        lhs.join(rl.hint("merge"), reduce(lambda a, b: a & b, on))
        .filter(verified)
        .drop("__len")
    )


def point_in_time_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    keys: str | Sequence[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
    prefix: str = "r_",
) -> DataFrame:
    """Point-in-time lookup against an SCD2-style versioned dimension:
    each left row joins the version whose ``[valid_from, valid_to)``
    interval contains its ``ts_col`` (NULL ``valid_to`` = the open
    current version) — the feature-store / fact-enrichment join that
    makes training data leakage-free ("what did we know THEN?").

    Scale shape: an EQUI-join on the keys plus two range predicates —
    fanout is versions-per-key (small by SCD2 construction), never a
    theta explosion; Catalyst plans the same hash/broadcast join it
    would for the plain lookup.  Exactness: pure timestamp
    comparisons, no arithmetic.

    Output: left columns + prefixed right payload (keys unprefixed)."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in right.columns if c not in key_list]
    r = right.select(
        *key_list, *[F.col(c).alias(f"{prefix}{c}") for c in payload]
    )
    cond = None
    for k in key_list:
        c = left[k] == r[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (left[ts_col] >= r[f"{prefix}{valid_from}"])
        & (
            r[f"{prefix}{valid_to}"].isNull()
            | (left[ts_col] < r[f"{prefix}{valid_to}"])
        )
    )
    joined = left.join(r, cond, how)
    # drop the duplicated right-side key columns
    return joined.select(
        *[left[c] for c in left.columns],
        *[F.col(f"{prefix}{c}") for c in payload],
    )


def cdc_column_diff(
    old: DataFrame,
    new: DataFrame,
    keys: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Column-LEVEL change set between two snapshots: for every key
    present in both, one row per column whose value changed, with the
    old and new values rendered as strings — the human-auditable
    complement to ``changed_rows`` (which answers "which rows", not
    "what exactly moved").  NULL↔value transitions count as changes
    (null-safe comparison).

    Values render via CAST AS STRING: exact for
    string/integer/decimal/date columns; float columns inherit the
    engine's shortest-roundtrip rendering (fine for audit display —
    compare floats numerically upstream if you need bitwise triage).

    Scale shape: ONE inner equi-join on the keys, then a map-only
    per-column explode of (col, old, new) triples filtered to
    changes — never a shuffle per column.

    Output: *keys, col_name, old_value, new_value."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c not in key_list and c in new.columns]
    )
    o = old.select(
        *key_list, *[F.col(c).alias(f"__o_{c}") for c in cols]
    )
    n = new.select(
        *key_list, *[F.col(c).alias(f"__n_{c}") for c in cols]
    )
    joined = o.join(n, key_list)
    triples = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__o_{c}").cast("string").alias("old_value"),
                F.col(f"__n_{c}").cast("string").alias("new_value"),
                (
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
                ).alias("__chg"),
            )
            for c in cols
        ]
    )
    return (
        joined.select(*key_list, F.explode(triples).alias("__t"))
        .filter(F.col("__t.__chg"))
        .select(
            *key_list,
            F.col("__t.col_name").alias("col_name"),
            F.col("__t.old_value").alias("old_value"),
            F.col("__t.new_value").alias("new_value"),
        )
    )


def _len_prefixed(cols: Sequence[str]) -> list[Column]:
    """Injective per-column encoding for content-keyed hashes: each
    non-NULL value string-casts to ``len:value`` and NULL to the bare
    token ``N``, so no value content (separators, ``N``, digits,
    colons) can shift a column boundary when the parts are joined."""
    parts: list[Column] = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("N")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return parts


def _len_prefixed_lit(value: str) -> str:
    """The ``_len_prefixed`` encoding of a known non-NULL literal."""
    return f"{len(value)}:{value}"


def surrogate_key(
    df: DataFrame,
    cols: Sequence[str],
    key_col: str = "sk",
    length: int = 16,
) -> DataFrame:
    """Content-addressed surrogate key from the natural key columns:
    ``md5(col₁ ⊕ col₂ ⊕ …)`` truncated to ``length`` hex chars — the
    dimensional-modeling key that is stable across runs, engines, and
    reloads (no sequence, no monotonically_increasing_id — both are
    run-dependent), so fact and dimension builds can key
    independently and still join.

    The component encoding is INJECTIVE: every non-NULL value is
    length-prefixed (``len:value``) and NULL encodes as the bare
    token ``N``, so no value content — separators, ``N``, digits,
    colons — can shift a column boundary: ('a\\x1fb','c') and
    ('a','b\\x1fc') hash differently, as do (NULL,'a') and
    ('a',NULL).  16 hex chars = 64 bits: birthday collisions at
    ~5×10⁹ keys — run ``surrogate_key_collisions`` before trusting a
    new corpus size, or raise ``length``.

    Map-only codegen, no shuffle."""
    if not cols:
        raise ValueError("surrogate_key: cols must be non-empty")
    if not 1 <= int(length) <= 32:
        raise ValueError("surrogate_key: length must be in [1, 32]")
    return df.withColumn(
        key_col,
        F.substring(
            F.md5(F.concat_ws("\x1f", *_len_prefixed(cols))), 1, int(length)
        ),
    )


def surrogate_key_collisions(
    df: DataFrame, cols: Sequence[str], key_col: str = "sk"
) -> DataFrame:
    """Collision audit for ``surrogate_key``: keys carried by MORE
    than one distinct natural-key tuple.  One keyed
    count-distinct — empty result = the key is injective on this
    corpus.  Output: key_col, n_naturals."""
    keyed = surrogate_key(df.select(*cols).distinct(), cols, key_col)
    return (
        keyed.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_naturals"))
        .filter(F.col("n_naturals") > 1)
    )


def keep_latest(
    df: DataFrame,
    keys: Sequence[str] | str,
    orderby: Sequence[tuple[str, str] | str],
) -> DataFrame:
    """Snapshot compaction: ONE row per key — the row that wins the
    ``orderby`` order (append a unique id as the final tiebreak to
    make the winner total-order deterministic).  The CDC-feed
    compactor: latest version per entity, newest order per customer,
    current record per device.

    One hash shuffle on the key + an in-partition rank — no self-join
    back to the data (the MAX+join alternative pays a second shuffle)
    and no whole-table sort.  At 100 TB this is the standard
    "compact the changelog" plan; AQE handles skewed keys.

    Output: all input columns, one row per key."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*key_list).orderBy(*_order_cols(orderby))
    return (
        df.withColumn("__kl_rn", F.row_number().over(w))
        .filter(F.col("__kl_rn") == 1)
        .drop("__kl_rn")
    )


def group_mode(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
) -> DataFrame:
    """Most frequent value per group, with its exact count — the
    categorical "typical value" summary (``aggregate``'s numeric
    summaries have no mode; SQL's MODE() is engine-specific about
    ties).  Deterministic tie-break: highest count, then smallest
    value.

    Scale: one keyed count (map-side partial) over (keys, value),
    then ``keep_latest`` on the count table — the second shuffle
    moves one row per (key, value) pair, not data.

    Output: ``keys...``, value, n_occurrences."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_list, value_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    return keep_latest(
        counts, key_list, [("n_occurrences", "desc"), value_col]
    )
