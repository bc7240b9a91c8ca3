"""Vector similarity search (SURVEY.md §2.14).

Approximate-nearest-neighbor over an embedding column
(array<float>), two tiers:

- ``cosine_topk`` — exact brute force: broadcast the (small) query
  set against the corpus, dot products with built-in array functions
  (zip_with + aggregate, JVM codegen, double precision), per-query
  top-k via window rank.  Scales linearly in corpus size — the right
  baseline up to ~10⁸ corpus rows per query batch.
- ``cosine_topk_lsh`` — random-hyperplane LSH (IVF-style bucketing):
  corpus bucketed once by sign pattern; each query probes only
  matching buckets (optionally multi-probe by Hamming-1 neighbors).
  Trades recall for a 2^bits candidate reduction; the 100 TB path.

Hyperplanes are generated from a fixed seed on the driver and
embedded as literals (64×bits floats — trivially broadcastable), so
results are deterministic across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product in double precision.

    With ``dim`` known, unrolls into element_at products — plain
    codegen'd expressions (~ns per term).  The zip_with/aggregate
    fallback evaluates interpreted at ~10µs per element (round-1
    measured ~1ms per 64-dim pair — 1000× slower), so every hot path
    passes dim.  Pass ``a``/``b`` as column NAMES (str): the unrolled
    form then parses as ONE SQL expression instead of ~5·dim py4j
    Column calls (~0.3 s of driver time per expression at dim=64,
    paid at every query construction — the ``_minhash_sigs``
    discipline; the parsed tree is term-for-term identical, so values
    are bit-exact)."""
    if dim and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            "+".join(
                f"(CAST(element_at(`{a}`,{i + 1}) AS DOUBLE)"
                f"*CAST(element_at(`{b}`,{i + 1}) AS DOUBLE))"
                for i in range(dim)
            )
        )
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    if dim:
        terms = [
            F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
            for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_col(v: Column | str, dim: int | None = None) -> Column:
    if dim and isinstance(v, str):
        return F.expr(
            "SQRT({})".format(
                "+".join(
                    f"(CAST(element_at(`{v}`,{i + 1}) AS DOUBLE)"
                    f"*CAST(element_at(`{v}`,{i + 1}) AS DOUBLE))"
                    for i in range(dim)
                )
            )
        )
    if isinstance(v, str):
        v = F.col(v)
    if dim:
        terms = [
            F.element_at(v, i + 1).cast("double") * F.element_at(v, i + 1).cast("double")
            for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return F.sqrt(out)
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).tolist()


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimension from the data (one tiny limit-1 job)."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("__d"))
        .filter(F.col("__d") > 0)
        .first()
    )
    if row is None:
        raise ValueError(f"cannot infer dim: no non-empty vectors in {vec_col!r}")
    return int(row[0])


def _train_spherical_kmeans(
    df: DataFrame,
    vec_col: str,
    n_centroids: int | None,
    train_sample: int,
    iters: int,
    seed: int,
    dim: int,
    n_total: int | None = None,
) -> "np.ndarray":
    """Driver-side spherical k-means on a seeded corpus sample →
    unit-norm centroid matrix (n_c, dim).

    Shared by ``cosine_topk_ivf`` (IVF list training) and
    ``semantic_dup_pairs`` (SemDeDup clustering).  The sample is tiny
    next to the corpus (≤ ``train_sample`` rows through the driver —
    a documented, bounded collect); Lloyd rounds on unit vectors use
    the cosine/argmax assignment.  ``n_centroids=None`` auto-sizes to
    ceil(sqrt(n)) clamped [16, 65536] — the standard IVF sizing.
    Without ``n_total`` the corpus is counted eagerly: the exact n
    sets the sample fraction and the centroid count, so a row bound
    (``core.fits``) cannot stand in.  Deterministic for a fixed seed."""
    import math as _math

    if n_total is None:
        n_total = df.count()
    if n_centroids is None:
        n_centroids = min(65536, max(16, _math.ceil(_math.sqrt(max(n_total, 1)))))
    frac = min(1.0, train_sample / max(n_total, 1))
    sample = df.select(vec_col).sample(fraction=frac, seed=seed).collect()
    mat = np.vstack([np.asarray(r[0], dtype=np.float64) for r in sample])
    if mat.shape[1] != dim:
        raise ValueError(f"sample dim {mat.shape[1]} != {dim}")
    norms = np.linalg.norm(mat, axis=1)
    mat = mat[norms > 0] / norms[norms > 0, None]
    n_c = min(n_centroids, len(mat))
    rng = np.random.RandomState(seed)
    cent = mat[rng.choice(len(mat), size=n_c, replace=False)]
    for _ in range(iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(n_c):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[c] = v / nv
    return cent


def _assign_centroids(
    df: DataFrame, id_alias: str, vec_alias: str, cent: "np.ndarray", dim: int
) -> DataFrame:
    """Map-only nearest-centroid assignment: one Arrow-batched numpy
    matmul per batch against the closure-broadcast centroid matrix —
    the corpus never shuffles.  Zero-norm vectors get list -1 and are
    filtered.  Returns (id_alias, vec_alias, __list)."""

    def assign_lists(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_alias].to_numpy()).astype(np.float64)
            if m.shape[1] != dim:
                raise ValueError(f"corpus dim {m.shape[1]} != {dim}")
            cn = np.linalg.norm(m, axis=1)
            ok = cn > 0
            lists = np.full(len(pdf), -1, dtype=np.int64)
            if ok.any():
                lists[ok] = ((m[ok] / cn[ok, None]) @ cent.T).argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_alias: pdf[id_alias],
                    vec_alias: pdf[vec_alias],
                    "__list": lists,
                }
            )

    elem = df.schema[vec_alias].dataType.elementType.simpleString()
    return df.mapInPandas(
        assign_lists,
        schema=f"{id_alias} long, {vec_alias} array<{elem}>, __list long",
    ).filter(F.col("__list") >= 0)


def _bucketize_udf(bits: int, tables: int, seed: int, dim: int):
    """Vectorized multi-table bucketizer: embedding → array<long> of
    ``tables`` sign-pattern bucket ids.

    One Arrow-batched numpy matmul computes every (table, plane) dot
    — (batch × dim) @ (dim × tables·bits) — instead of unrolling
    tables·bits·dim multiply expressions into the Catalyst tree
    (measured: the expression form put ~20k nodes in one Project,
    blew past janino's 64 KB method limit AND made optimizer passes
    take minutes).  This is the sanctioned Pandas-UDF case: built-in
    operators cannot express a 96-way dot product efficiently.

    Deterministic: hyperplanes from a fixed seed per table, generated
    on the driver and closed over (broadcast with the task binary).
    Wrong-dimension vectors fail loudly in the matmul."""
    planes = np.vstack(
        [_hyperplanes(dim, bits, seed + 7919 * t) for t in range(tables)]
    )  # (tables*bits, dim)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def bucketize(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(v.to_numpy())
        if mat.shape[1] != dim:
            raise ValueError(
                f"embedding dim mismatch: expected {dim}, got {mat.shape[1]}"
            )
        signs = (mat.astype("float64") @ planes.T) >= 0  # (n, tables*bits)
        signs = signs.reshape(len(v), tables, bits)
        buckets = (signs * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(buckets))

    return bucketize


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine, rank).  Ties broken by
    neighbor id (deterministic, after the 6dp round both engines
    rank on).

    Scale shape — a brute-force scan done right:
    1. The query matrix collects to the driver (queries are small BY
       CONTRACT — this is the exact baseline, not ANN) and closes
       over a mapInPandas kernel: one numpy matmul per Arrow batch
       scores batch × queries at BLAS speed, ~100× the per-pair
       expression form the round-1 engine used.
    2. Each batch emits only its LOCAL top-k per query (argpartition
       + exact ordering on (−cosine, id)), so the shuffle carries
       ≤ k·n_queries rows per batch — never the full n·q score
       matrix.  A 100M-row corpus × 1000 queries shuffles ~k·1000·
       n_batches rows instead of 10¹¹.
    3. A final per-query window rank merges the per-batch winners.
    The corpus itself never shuffles and is read in one pass.
    """
    import numpy as np
    import pandas as pd

    qid = query_id_col or id_col
    dim = dim or _infer_dim(corpus, vec_col)
    qrows = queries.select(qid, vec_col).collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    if qm.shape[1] != dim:
        raise ValueError(f"query dim {qm.shape[1]} != corpus dim {dim}")
    qn = np.linalg.norm(qm, axis=1)
    keep = qn > 0
    q_ids, qm, qn = q_ids[keep], qm[keep], qn[keep]
    qm_unit = qm / qn[:, None]

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["__cv"].to_numpy()).astype(np.float64)
            if m.shape[1] != dim:
                raise ValueError(f"corpus dim {m.shape[1]} != {dim}")
            cn = np.linalg.norm(m, axis=1)
            ok = cn > 0
            m, cn = m[ok], cn[ok]
            nids = pdf["neighbor_id"].to_numpy()[ok]
            if len(m) == 0:
                continue
            sims = np.round((m / cn[:, None]) @ qm_unit.T, 6)  # (batch, q)
            out_q, out_n, out_c = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                mask = np.ones(len(col), bool)
                if exclude_self:
                    mask &= nids != q_ids[j]
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                # local top-k under the GLOBAL order (−cosine, id);
                # keep EVERY row tied with the kth value so a
                # smaller-id tie outside argpartition's arbitrary cut
                # can't be lost, then order and trim to k
                take = idx
                if len(idx) > k:
                    kth = -np.partition(-col[idx], k - 1)[k - 1]
                    take = idx[col[idx] >= kth]
                order = np.lexsort((nids[take], -col[take]))[:k]
                take = take[order]
                out_q.extend([q_ids[j]] * len(take))
                out_n.extend(nids[take])
                out_c.extend(col[take])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    local = c.mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    bits: int | None = 8,
    tables: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    exclude_self: bool = True,
    dim: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH:
    ``tables`` independent ``bits``-plane sign hashes (AND within a
    table, OR across — the band construction).  The corpus is
    bucketed once per table; each query probes its bucket in every
    table plus (multiprobe) the Hamming-1 neighbors.  A single table
    caps recall at p_agree^bits — ~10% for mid-cosine neighbors on
    random data (measured AND theoretical); the OR across 8 tables
    lifts it to 1-(1-p_t)^8.  Candidate set still shrinks ~2^bits/
    (tables·(bits+1)) fold vs brute force.

    ``dim`` inferred from the corpus when not given (one tiny job).
    ``bits=None`` auto-sizes to ceil(log2(|corpus|)) (clamped
    [8, 24]) so expected bucket occupancy — and with it per-query
    candidate cost — stays O(1) as the corpus grows (same collision
    math as embedding_dup_pairs; see tools/scale_smoke.py).
    ``broadcast_queries=True`` (the contract: a query batch fits in
    executor memory) keeps the probe join map-side over the corpus —
    no corpus shuffle at any size; set False for huge query sets to
    fall back to a shuffled equi-join on (table, bucket)."""
    import math as _math

    qid = query_id_col or id_col
    dim = dim or _infer_dim(corpus, vec_col)
    if bits is None:
        n_corpus = corpus.count()
        bits = min(24, max(8, _math.ceil(_math.log2(max(n_corpus, 2)))))
    bucketize = _bucketize_udf(bits, tables, seed, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm_col(vec_col, dim).alias("__cn"),
        bucketize(F.col(vec_col)).alias("__bkts"),
    ).filter(F.col("__cn") > 0)
    c = c.select(
        "neighbor_id", "__cv", "__cn", F.posexplode("__bkts").alias("__t", "__bucket")
    )

    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm_col(vec_col, dim).alias("__qn"),
        bucketize(F.col(vec_col)).alias("__bkts"),
    ).filter(F.col("__qn") > 0)
    q = q.select(
        "query_id", "__qv", "__qn", F.posexplode("__bkts").alias("__t", "__qb")
    )

    if multiprobe:
        probes = F.array(
            F.col("__qb"),
            *[
                F.col("__qb").bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), i))
                for i in range(bits)
            ],
        )
        q = q.withColumn("__bucket", F.explode(probes))
    else:
        q = q.withColumn("__bucket", F.col("__qb"))

    q_side = q.drop("__qb")
    joined = c.join(
        F.broadcast(q_side) if broadcast_queries else q_side, ["__t", "__bucket"]
    )
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    sim = joined.withColumn(
        "cosine",
        F.round(
            _dot("__qv", "__cv", dim) / (F.col("__qn") * F.col("__cn")), 6
        ),
    )
    # multi-table/multi-probe duplicates of a (query, neighbor) pair
    # carry IDENTICAL (cosine, neighbor_id), so under the rank
    # window's own total order they sort adjacent — drop repeats with
    # one lag pass and rank the survivors under the SAME sort: one
    # exchange + one sort total, where dropDuplicates added its own
    # aggregate exchange before the window's (r13, §2.4 "two
    # operations keyed the same way share one exchange")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    deduped = (
        sim.withColumn("__prev", F.lag("neighbor_id").over(w))
        .filter(
            F.col("__prev").isNull()
            | (F.col("__prev") != F.col("neighbor_id"))
        )
        .drop("__prev")
    )
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    n_centroids: int | None = 64,
    n_probe: int = 8,
    train_sample: int = 20000,
    kmeans_iters: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning — the
    second ANN scale path next to cosine_topk_lsh.

    1. TRAIN (driver): spherical k-means on ≤ ``train_sample``
       corpus vectors (seeded sample → deterministic) — a few numpy
       Lloyd rounds on unit vectors; tiny next to the corpus scan.
    2. ASSIGN (one map-only pass): every corpus vector gets its
       nearest-centroid list id via one Arrow-batched matmul against
       the broadcast centroid matrix — the corpus never shuffles.
    3. PROBE: each query scores the centroids driver-side and keeps
       the top ``n_probe`` lists; candidates = corpus rows whose list
       is probed (an equi join on list id — at 100 TB this is the
       fraction n_probe/n_centroids of the corpus, not all of it).
    4. RESCORE exactly (unrolled dot on the pruned candidates) and
       window-rank per query.

    Recall rises with n_probe (n_probe = n_centroids ⇒ exhaustive =
    exact); clustered real-world embeddings need far fewer probes
    than uniform-random test data.  Ties after the 6dp round break by
    neighbor id — same contract as cosine_topk.

    ``n_centroids=None`` auto-sizes to ceil(sqrt(n)) (the standard
    IVF sizing, clamped [16, 65536]): probed candidates then stay
    ~n_probe·sqrt(n) instead of a fixed fraction of the corpus —
    same growth discipline as the auto-sized LSH bits.
    """
    qid = query_id_col or id_col
    dim = dim or _infer_dim(corpus, vec_col)

    # -- 1. train centroids on a seeded sample (driver numpy) ---------
    cent = _train_spherical_kmeans(
        corpus, vec_col, n_centroids, train_sample, kmeans_iters, seed, dim
    )
    n_c = len(cent)

    # -- 2. assign corpus rows to lists (map-only, Arrow matmul) ------
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    assigned = _assign_centroids(c, "neighbor_id", "__cv", cent, dim)

    # -- 3. probe lists per query (queries are small by contract) -----
    qrows = queries.select(qid, vec_col).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        nq = np.linalg.norm(qv)
        if nq == 0:
            continue
        top = np.argsort(-((qv / nq) @ cent.T))[: min(n_probe, n_c)]
        probe_rows.extend((int(r[0]), list(map(float, qv)), int(c_)) for c_ in top)
    spark = corpus.sparkSession
    from bubbles_spark.ops.core import local_table

    probes = local_table(
        spark, probe_rows, "query_id long, __qv array<double>, __list long"
    )

    # -- 4. candidate join on list id + exact rescore -----------------
    joined = assigned.join(F.broadcast(probes), "__list")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot("__qv", "__cv", dim) / (
        _norm_col("__qv", dim) * _norm_col("__cv", dim)
    )
    sim = joined.withColumn("cosine", F.round(cos, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------


def train_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 256,
    train_sample: int = 20000,
    iters: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> "np.ndarray":
    """Train product-quantization codebooks on a seeded corpus sample
    (driver-side numpy, bounded by ``train_sample`` — same documented
    contract as ``_train_spherical_kmeans``).

    Vectors are unit-normalized, split into ``m`` contiguous
    subspaces of dim/m, and each subspace gets its own ``ks``-entry
    k-means codebook (standard PQ, Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).  Returns
    (m, ks, dim/m) float64 — deterministic for a fixed seed.

    Why PQ at 100 TB: a 64-dim float32 embedding is 256 B; its PQ code
    is ``m`` bytes (8 here, a 32× compression).  The ADC scan in
    ``cosine_topk_pq`` then reads ONLY the code column — the wide
    vector column is never scanned again after encoding, which is the
    difference between scanning 100 TB and scanning 3 TB per query
    batch."""
    dim = dim or _infer_dim(df, vec_col)
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    n_total = df.count()
    frac = min(1.0, train_sample / max(n_total, 1))
    sample = df.select(vec_col).sample(fraction=frac, seed=seed).collect()
    mat = np.vstack([np.asarray(r[0], dtype=np.float64) for r in sample])
    if mat.shape[1] != dim:
        raise ValueError(f"sample dim {mat.shape[1]} != {dim}")
    norms = np.linalg.norm(mat, axis=1)
    mat = mat[norms > 0] / norms[norms > 0, None]
    rng = np.random.RandomState(seed)
    ks_eff = min(ks, len(mat))
    books = np.empty((m, ks_eff, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=ks_eff, replace=False)]
        for _ in range(iters):
            # argmin ||x-c||^2 == argmax x·c - ||c||^2/2
            assign = (sub @ cent.T - 0.5 * (cent * cent).sum(1)).argmax(1)
            for c in range(ks_eff):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Encode each corpus vector to its ``m``-byte PQ code — a map-only
    Arrow-batched pass (one numpy matmul per subspace per batch); the
    corpus never shuffles.  Zero-norm vectors are dropped (they have
    no cosine direction).  Returns (id_col, out: array<int>); a
    production sink would persist ``out`` as m tinyints or a binary —
    the 32× storage cut that makes the ADC scan cheap."""
    m, ks, dsub = codebooks.shape
    dim = m * dsub
    half = 0.5 * (codebooks * codebooks).sum(2)  # (m, ks)

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if mat.shape[1] != dim:
                raise ValueError(f"corpus dim {mat.shape[1]} != {dim}")
            nrm = np.linalg.norm(mat, axis=1)
            ok = nrm > 0
            if not ok.any():
                continue
            unit = mat[ok] / nrm[ok, None]
            codes = np.empty((len(unit), m), dtype=np.int64)
            for j in range(m):
                sub = unit[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = (sub @ codebooks[j].T - half[j]).argmax(1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[ok], out: list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} long, {out} array<long>"
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    m: int = 8,
    ks: int = 256,
    rescore: int | None = 4,
    train_sample: int = 20000,
    kmeans_iters: int = 8,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
    codebooks: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate top-k cosine via product quantization — the
    compressed-domain ANN path next to LSH and IVF.

    1. TRAIN (driver, bounded sample): per-subspace codebooks
       (``train_pq``) unless ``codebooks`` is passed in (train once,
       reuse across query batches — the production shape).
    2. ENCODE (map-only): corpus → m-byte codes (``pq_encode``).
    3. ADC SCAN (map-only): queries collect to the driver (small BY
       CONTRACT, as in ``cosine_topk``); each query precomputes an
       (m × ks) lookup table of subspace dot products, so scoring a
       code is m table lookups — no float vector is touched.  Each
       Arrow batch emits only its local top-``rescore``·k rows per
       query, so the shuffle carries ≤ rescore·k·q·n_batches rows.
    4. EXACT RESCORE: candidates (a broadcast-sized id list) join
       back to the corpus scan, true cosines computed with the
       unrolled codegen dot, final per-query window rank → top-k.

    ``rescore=None`` disables ADC pruning (every corpus row is
    exactly rescored) — PQ becomes exact BY CONSTRUCTION, which is
    what lets the driver oracle-check the whole train/encode/LUT/ADC
    pipeline against brute-force SQL; pruned-recall behavior is
    covered by the planted self-match query and tests/test_vector.py.

    Returns (query_id, neighbor_id, cosine, rank) — the shared ANN
    contract (ties after the 6dp round break by neighbor id)."""
    qid = query_id_col or id_col
    dim = dim or _infer_dim(corpus, vec_col)
    if codebooks is None:
        codebooks = train_pq(
            corpus, vec_col, m, ks, train_sample, kmeans_iters, seed, dim
        )
    m, ks_eff, dsub = codebooks.shape

    qrows = queries.select(qid, vec_col).collect()
    q_ids, qm = [], []
    for r in qrows:
        v = np.asarray(r[1], dtype=np.float64)
        n = np.linalg.norm(v)
        if n > 0:
            q_ids.append(int(r[0]))
            qm.append(v / n)
    spark = corpus.sparkSession
    if not q_ids:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qm = np.vstack(qm)
    if qm.shape[1] != dim:
        raise ValueError(f"query dim {qm.shape[1]} != corpus dim {dim}")
    q_ids_arr = np.array(q_ids, dtype=np.int64)
    # (q, m, ks) lookup tables: ADC score = Σ_j lut[q, j, code_j]
    lut = np.stack(
        [qm[:, j * dsub : (j + 1) * dsub] @ codebooks[j].T for j in range(m)],
        axis=1,
    )
    n_keep = None if rescore is None else max(k * rescore, 32)

    coded = pq_encode(corpus, codebooks, id_col, vec_col, out="__code")
    jdx = np.arange(m)

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["__code"].to_numpy())  # (n, m)
            nids = pdf[id_col].to_numpy()
            out_q, out_n = [], []
            for qi in range(len(q_ids_arr)):
                s = lut[qi][jdx[None, :], codes].sum(1)
                idx = np.arange(len(s))
                if exclude_self:
                    idx = idx[nids != q_ids_arr[qi]]
                if len(idx) == 0:
                    continue
                if n_keep is not None and len(idx) > n_keep:
                    kth = -np.partition(-s[idx], n_keep - 1)[n_keep - 1]
                    idx = idx[s[idx] >= kth]
                out_q.extend([q_ids_arr[qi]] * len(idx))
                out_n.extend(nids[idx])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    cands = coded.mapInPandas(adc, schema="query_id long, neighbor_id long")

    # exact rescore: candidate ids are broadcast-sized (≤ rescore·k·q·
    # batches); the corpus is filtered by a broadcast semi-ish join,
    # never shuffled
    from bubbles_spark.ops.core import local_table

    qdf = local_table(
        spark,
        [(int(i), [float(x) for x in qm[j]]) for j, i in enumerate(q_ids)],
        "query_id long, __qv array<double>",
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    joined = c.join(F.broadcast(cands.dropDuplicates(["query_id", "neighbor_id"])),
                    "neighbor_id").join(F.broadcast(qdf), "query_id")
    cos = _dot("__qv", "__cv", dim) / _norm_col("__cv", dim)
    sim = joined.withColumn("cosine", F.round(cos, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """DISTRIBUTED Lloyd k-means over the FULL corpus → (id, cluster)
    — the clustering step behind corpus curation (topic balancing,
    SemDeDup-style pruning, stratified eval splits).  Complements
    ``_train_spherical_kmeans``, which trains on a driver-side
    SAMPLE; here every vector participates and every step is
    DETERMINISTIC, so the result is reproducible and oracle-checkable:

    - init: the k lowest-``id_col`` vectors (no RNG);
    - assignment: map-only Arrow-batched argmin of squared euclidean
      distance against the closure-broadcast centroid matrix, ties to
      the lowest cluster index (numpy argmin);
    - update: per-dimension EXACT DECIMAL sums via posexplode +
      map-side-combined keyed aggregation — k·dim rows shuffle, k·dim
      scalars reach the driver per round, and decimal addition is
      order-independent (a float sum would vary with partitioning);
    - stop: centroids exactly unchanged, or ``max_iter``.

    Per round: one map pass + one (cluster, dim)-keyed shuffle.  The
    corpus never collects; empty clusters keep their centroid."""
    dim = dim or _infer_dim(df, vec_col)
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    out_schema = T.StructType(
        list(base.schema.fields) + [T.StructField("__cl", T.IntegerType())]
    )
    init = base.orderBy("__id").limit(k).collect()
    if not init:
        raise ValueError("kmeans_assign: empty input")
    cent = np.vstack([np.asarray(r["__vec"], dtype=np.float64) for r in init])

    def _assigned(c: "np.ndarray") -> DataFrame:
        cc = c.copy()
        sq = (cc * cc).sum(axis=1)

        def fn(batches):
            for pdf in batches:
                mat = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
                ) if len(pdf) else np.zeros((0, cc.shape[1]))
                # argmin ||x-c||^2 = argmin (c.c - 2 x.c); ties -> lowest idx
                d = sq[None, :] - 2.0 * (mat @ cc.T)
                pdf = pdf.assign(__cl=d.argmin(axis=1).astype("int32"))
                yield pdf
            
        return base.mapInPandas(fn, schema=out_schema)

    for _ in range(max_iter):
        sums = (
            _assigned(cent)
            .select("__cl", F.posexplode("__vec").alias("__d", "__x"))
            .groupBy("__cl", "__d")
            .agg(
                F.sum(F.col("__x").cast("decimal(38,10)")).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        new = cent.copy()
        per: dict = {}
        for r in sums:
            per.setdefault(r["__cl"], {})[r["__d"]] = (
                float(r["__s"]), int(r["__n"])
            )
        for c in range(k):
            if c in per:
                new[c] = [per[c][d][0] / per[c][d][1] for d in range(dim)]
        if np.array_equal(new, cent):
            break
        cent = new
    return _assigned(cent).select(
        F.col("__id").alias(id_col), F.col("__cl").alias("cluster")
    )


def group_centroids(
    df: DataFrame,
    group_col: str,
    emb_col: str = "embedding",
    quant: float = 1e6,
) -> DataFrame:
    """Per-group embedding centroid in LONG form (group, dim, mean,
    n_vectors) — the aggregate behind IVF coarse training, SemDeDup
    cluster centers, per-class prototypes, and drift monitoring of an
    embedding column ("did the corpus move in vector space?").

    Exactness: each float component quantizes to ``round(v·quant)``
    integer units (one shared IEEE multiply after the exact
    float→double widening), sums accumulate in DECIMAL (order-free),
    and the mean is fixed IEEE divisions — engine-portable.  Unit-norm
    embeddings at the 1e6 default keep sums < 2^53 up to ~9e9 vectors
    per group (the value-exact decimal→double budget).

    Scale: posexplode is map-only; the keyed sum shuffles only
    (groups × dim) cells after map-side combine — the raw vectors
    never shuffle.  Long form avoids a cross-engine array-rebuild
    step; pivot downstream if you need array centroids.

    Output: group_col, dim (int, 0-based), mean (double), n_vectors."""
    q = float(quant)
    ex = df.filter(F.col(emb_col).isNotNull()).select(
        F.col(group_col),
        F.posexplode(F.col(emb_col)).alias("dim", "__v"),
    )
    vu = F.round(F.col("__v").cast("double") * F.lit(q), 0).cast(
        "decimal(19,0)"
    )
    return (
        ex.groupBy(group_col, "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(vu).alias("__s"),
        )
        .select(
            group_col,
            F.col("dim").cast("int").alias("dim"),
            (
                F.col("__s").cast("double")
                / F.col("n_vectors").cast("double")
                / F.lit(q)
            ).alias("mean"),
            "n_vectors",
        )
    )
