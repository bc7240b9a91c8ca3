"""Graph analytics over edge-list DataFrames — degrees, triangle
counting, PageRank.  The link-analysis kit for web-crawl corpora
(rank pages before sampling training data), citation/reference
graphs, and the co-occurrence graphs the affinity module emits.

Reference scope: Stiivi/bubbles has no graph ops; §2.14 extension
surface.  Connected components lives in ``ops.dedup`` (it grew out of
dup-cluster closure) — this module covers the rest of the standard
kit.

Exactness contract: degrees and triangle counts are exact BIGINTs.
PageRank is float but bit-reproducible cross-engine: per-edge
contributions are single IEEE divisions, per-node sums accumulate in
DECIMAL(38,18) (order-independent — a double sum would expose the
engines' different aggregation orders; same device as
``events.seasonal_baseline``), and each update is a fixed sequence of
IEEE steps.

Scale shape: degrees = one keyed count.  Triangles use the
degree-orientation trick — orient every undirected edge from its
lower-(degree, id) endpoint to the higher, so each wedge is
enumerated exactly once at the low-degree corner; the wedge fanout
per node is then O(sqrt(m)) on any graph (Schank/Wagner), and the
close step is an equi-join against the oriented edge set.  PageRank
is one shuffle per iteration (contributions keyed by dst), with one
final ``localCheckpoint`` materializing the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bubbles_spark.ops import core

__all__ = [
    "degrees",
    "triangle_count",
    "pagerank",
    "hits_scores",
    "link_scores",
]

# Small-graph single-task fast paths (r13) — the same
# adaptive-by-measured-size pattern as dedup.connected_components:
# below a few million edges the distributed machinery's per-stage
# floors (4-10 exchanges x 32 tasks on vocabulary-sized tables) cost
# 5-30x more than solving the whole graph in ONE mapInPandas task,
# while every score these ops emit is either an exact integer or a
# replayable fixed IEEE sequence — so the local solve is bit-identical
# and pinned against the distributed path in tests.  Every local solve
# is a ``fold(pdf)`` run by ``core._one_task_fold``, picked by
# ``core.fits`` (no job where parquet footers bound the edges, else a
# LIMIT count that also materializes the persisted edges).  The
# thresholds bound one task's MEMORY/WORK (module constants, not
# tuning knobs): the linear-work ops (pagerank, hits and
# dedup.connected_components' union-find) share one edge cap;
# wedge-enumerating ops (triangles / link scores) do O(m^1.5) local
# work, so their cap keeps that under ~1e8 set operations.
_SMALL_GRAPH_MAX_EDGES = 2_000_000
_WEDGE_FAST_PATH_MAX_EDGES = 100_000


_Q18 = None  # built lazily so decimal import stays off the hot path


def _q18_half_up(d: float) -> int:
    """round_half_up(d * 10**18) over the SHORTEST-DECIMAL rendering
    of the non-negative double ``d`` — integer-unit twin of Spark's
    cast(double AS DECIMAL(38,18)), which goes through
    Double.toString (BigDecimal.valueOf semantics: the shortest
    round-tripping decimal, same digits as Python ``repr``), then
    rounds HALF_UP.  Measured, not assumed: quantizing the EXACT
    binary expansion instead diverges from the distributed plan at
    1e-18 (e.g. 0.01875 -> ...749999999999999999 exact-binary vs
    ...750000000000000000 via toString); the unweighted replay is
    pinned by test_graph_fast_and_distributed_paths_agree[pagerank]."""
    global _Q18
    from decimal import ROUND_HALF_UP, Decimal

    if _Q18 is None:
        _Q18 = Decimal(1).scaleb(-18)
    return int(
        Decimal(repr(d)).quantize(_Q18, rounding=ROUND_HALF_UP).scaleb(18)
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple edges: (lo, hi) ordered pairs,
    self-loops dropped, parallel edges collapsed."""
    u, v = F.col(src), F.col(dst)
    return (
        edges.filter(u != v)
        .select(
            F.least(u, v).alias("lo"), F.greatest(u, v).alias("hi")
        )
        .distinct()
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node degree table: out_degree / in_degree over the DISTINCT
    directed edges, degree over the undirected simple graph (each
    neighbor once, self-loops dropped).  One keyed count per
    direction — map-side partial aggregation, vocabulary-sized
    output.

    Output: node, out_degree, in_degree, degree."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    out_d = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = e.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    und = _undirected(e, "u", "v")
    u_d = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        u_d.join(out_d, "node", "full")
        .join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).cast("bigint").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("bigint").alias("in_degree"),
            F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation count over the undirected
    simple graph (direction and parallel edges ignored; self-loops
    dropped).

    Degree orientation: each edge points from its lower-(degree, id)
    endpoint to the higher, making the oriented out-degree O(sqrt(m))
    on ANY graph — the wedge join (out-neighbor pairs of each node)
    stays bounded even on power-law graphs where the naive a<b-id
    orientation explodes at the hubs.  Wedges close against the
    oriented edge set with one equi-join; every triangle is found
    exactly once, then its three corners explode into per-node
    counts (exact BIGINTs).

    Output: node, triangles (nodes in no triangle are omitted —
    left-join ``degrees`` and coalesce to 0 for the full spine)."""
    und = _undirected(edges, src, dst).persist()
    # small-graph fast path: same degree orientation, same wedge
    # enumeration, run in one task — counts are exact ints either way
    # (paths pinned against each other in test_affinity_graph)
    if core.fits(und, max_rows=_WEDGE_FAST_PATH_MAX_EDGES):

        def _tri_local(pdf):
            import pandas as pd

            lo_all = pdf["lo"].tolist()
            hi_all = pdf["hi"].tolist()
            deg: dict = {}
            for a, b in zip(lo_all, hi_all):
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            out_nbrs: dict = {}
            for a, b in zip(lo_all, hi_all):
                u, v = (
                    (a, b) if (deg[a], a) < (deg[b], b) else (b, a)
                )
                out_nbrs.setdefault(u, set()).add(v)
            tri: dict = {}
            for u, nb in out_nbrs.items():
                for v in nb:
                    ov = out_nbrs.get(v)
                    if not ov:
                        continue
                    common = nb & ov if len(nb) <= len(ov) else ov & nb
                    for w in common:
                        tri[u] = tri.get(u, 0) + 1
                        tri[v] = tri.get(v, 0) + 1
                        tri[w] = tri.get(w, 0) + 1
            return pd.DataFrame(
                {"node": list(tri), "triangles": list(tri.values())}
            )

        t = und.schema["lo"].dataType.simpleString()
        out = core._one_task_fold(
            und, f"node {t}, triangles bigint", _tri_local
        ).localCheckpoint()
        und.unpersist()
        return out
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    # orient by (degree, id): total order, so exactly one direction
    # per edge and every wedge is charged to its lowest corner
    with_deg = (
        und.join(deg.withColumnRenamed("node", "lo"), "lo")
        .withColumnRenamed("__d", "__dlo")
        .join(deg.withColumnRenamed("node", "hi"), "hi")
        .withColumnRenamed("__d", "__dhi")
    )
    fwd = (F.col("__dlo") < F.col("__dhi")) | (
        (F.col("__dlo") == F.col("__dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(fwd, F.col("hi")).otherwise(F.col("lo")).alias("v"),
    ).persist()
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    wedges = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    # close the wedge: an oriented edge exists between v1 and v2 in
    # one of the two directions (orientation is a total order, so
    # exactly one direction can exist)
    tri = wedges.join(
        oriented.select(
            F.col("u").alias("v1"), F.col("v").alias("v2")
        ).unionByName(
            oriented.select(
                F.col("v").alias("v1"), F.col("u").alias("v2")
            )
        ),
        ["v1", "v2"],
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v1").alias("node")))
        .unionByName(tri.select(F.col("v2").alias("node")))
    )
    out = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    # materialize before releasing the inputs the plan still references
    out = out.localCheckpoint()
    und.unpersist()
    oriented.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over the DISTINCT directed edge set — the original
    simplified formulation:

        rank⁰(n)   = 1/N
        rankᵗ(n)   = (1−d)/N + d · Σ_{(m→n)} rankᵗ⁻¹(m) / out_deg(m)

    Dangling mass (nodes with no out-edges) is NOT redistributed, so
    ranks sum to < 1 on graphs with sinks — the variant every
    SQL-expressible oracle can replay step-for-step.  Use it to RANK
    (the ordering matches the stochastic variant on typical crawl
    graphs); renormalize downstream if you need a distribution.

    Exactness: rank/out_deg is one IEEE division; per-dst sums
    accumulate in DECIMAL(38,18) (order-independent); the update is
    (1−d)/N + d·sum in fixed IEEE steps — bit-reproducible in any
    engine that replays the same steps.

    With ``weight_col`` the walk follows edge weights:
    ``rankᵗ⁻¹(m) · w(m→n) / Σ_out w(m)`` — parallel edges collapse by
    SUMMING their weights (exact DECIMAL(20,6); ≤6-dp weights per the
    exactness contract), the share is one IEEE division and one
    multiply per edge.

    Scale shape: one shuffle per iteration (contributions keyed by
    dst, map-side partial decimal sums), vocabulary-sized rank and
    degree tables, one final ``localCheckpoint``.

    Output: node, rank (double)."""
    if weight_col is not None:
        e = (
            edges.select(
                F.col(src).alias("u"),
                F.col(dst).alias("v"),
                F.col(weight_col).cast("decimal(20,6)").alias("__w"),
            )
            .groupBy("u", "v")
            .agg(F.sum("__w").alias("__w"))
            .persist()
        )
    else:
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct().persist()
    # small-graph fast path (unweighted only): replay the SAME fixed
    # IEEE sequence in one task — the per-source share is one IEEE
    # division, contributions quantize HALF_UP to 1e-18 units over the
    # shortest-decimal rendering (_q18_half_up, the integer-unit twin
    # of the DECIMAL(38,18) cast), per-dst sums are exact integer adds,
    # and the update is base + d * correctly-rounded-double(sum) — every
    # step matches the distributed plan operation-for-operation, so
    # ranks are bit-identical (pinned in test_affinity_graph).  A
    # weighted replay would quantize once per EDGE per iteration, not
    # once per source, and measured slower than the distributed plan.
    if weight_col is None and core.fits(e, max_rows=_SMALL_GRAPH_MAX_EDGES):
        _iters, _damp = int(iters), float(damping)

        def _pr_local(pdf):
            from decimal import Decimal

            import pandas as pd

            us = pdf["u"].tolist()
            vs = pdf["v"].tolist()
            nodes_l = set(us) | set(vs)
            n_l = len(nodes_l)
            base_l = (1.0 - _damp) / float(n_l)
            od: dict = {}
            for u in us:
                od[u] = od.get(u, 0) + 1
            ranks = {x: 1.0 / float(n_l) for x in nodes_l}
            for _ in range(_iters):
                q = {
                    u: _q18_half_up(ranks[u] / float(c))
                    for u, c in od.items()
                }
                s: dict = {}
                for u, v in zip(us, vs):
                    s[v] = s.get(v, 0) + q[u]
                ranks = {
                    x: base_l
                    + _damp
                    * float(Decimal(s.get(x, 0)).scaleb(-18))
                    for x in nodes_l
                }
            return pd.DataFrame(
                {"node": list(ranks), "rank": list(ranks.values())}
            )

        t = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .schema["node"]
            .dataType.simpleString()
        )
        out = core._one_task_fold(
            e, f"node {t}, rank double", _pr_local
        ).localCheckpoint()
        e.unpersist()
        return out
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - float(damping)) / float(n)
    if weight_col is not None:
        out_deg = e.groupBy(F.col("u").alias("node")).agg(
            F.sum("__w").alias("__od")
        )
        share = F.col("__w").cast("double") / F.col("__od").cast("double")
    else:
        out_deg = e.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("__od")
        )
        share = None
    # No per-iteration materialization: the iteration count is FIXED
    # (no convergence actions mid-loop), so the whole iters-deep plan
    # executes as ONE job — every stage runs exactly once either way,
    # but the r12 shape paid an eager localCheckpoint job + a blocking
    # materialization per round (3 extra jobs on the bench graph; the
    # deep-lineage hazard that forces per-round cuts in
    # connected_components needs per-round ACTIONS to bite, which this
    # loop does not have).  One final localCheckpoint still
    # materializes the result before e/nodes unpersist.
    # the out-degree join is LOOP-INVARIANT: attach it to the edge
    # table once (r13) so each iteration pays one join (ranks), not
    # two — per-edge operands are identical, so every rank is
    # bit-exact
    e_od = e.join(out_deg.withColumnRenamed("node", "u"), "u").persist()
    ranks = nodes.withColumn("rank", F.lit(1.0) / F.lit(float(n)))
    for _ in range(int(iters)):
        per_edge = (
            (F.col("rank") * share)
            if weight_col is not None
            else (F.col("rank") / F.col("__od").cast("double"))
        )
        contrib = (
            e_od.join(ranks.withColumnRenamed("node", "u"), "u")
            .select(
                F.col("v").alias("node"),
                per_edge.cast("decimal(38,18)").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(float(damping))
                    * F.coalesce(
                        F.col("__s"), F.lit(0).cast("decimal(38,18)")
                    ).cast("double")
                ).alias("rank"),
            )
        )
    ranks = ranks.localCheckpoint()
    e.unpersist()
    e_od.unpersist()
    nodes.unpersist()
    return ranks


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """UNNORMALIZED HITS (Kleinberg) hub/authority scores after
    ``iters`` mutual-reinforcement rounds from all-ones — which, run
    without the per-round normalization, are exactly the directed
    PATH COUNTS of alternating out/in walks: every score is an exact
    BIGINT, the RANKING equals normalized HITS (normalization is one
    global positive scalar per round), and a SQL oracle can replay
    it join-for-join.  Use it to rank; normalize downstream for
    display.

        auth¹(n) = in_degree(n);  hub¹(n) = Σ_{n→m} auth¹(m);
        auth²(n) = Σ_{m→n} hub¹(m);  …

    Overflow note: BIGINT path counts on a 100 TB web graph cap the
    usable ``iters`` at ~3–4 (score ≤ max_degree^(2·iters)); the op
    keeps counts in DECIMAL(38,0) past iteration 2 headroom, which
    both engines sum exactly.

    Scale: one keyed sum per half-round (map-side partial), edge
    table never replicated.  Output: node, hub, auth."""
    if iters < 1:
        raise ValueError("hits_scores: need iters >= 1")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct().persist()
    # small-graph fast path: the scores are exact integer path counts
    # — Python's unbounded ints replay the DECIMAL(38,0) sums exactly
    # in one task (paths pinned against each other in tests)
    if core.fits(e, max_rows=_SMALL_GRAPH_MAX_EDGES):
        _iters = int(iters)

        def _hits_local(pdf):
            from decimal import Decimal

            import pandas as pd

            us = pdf["u"].tolist()
            vs = pdf["v"].tolist()
            nodes_l = set(us) | set(vs)
            hub = {x: 1 for x in nodes_l}
            auth: dict = {}
            for _ in range(_iters):
                auth = {}
                for u, v in zip(us, vs):
                    h = hub.get(u)
                    if h is not None:
                        auth[v] = auth.get(v, 0) + h
                hub = {}
                for u, v in zip(us, vs):
                    a = auth.get(v)
                    if a is not None:
                        hub[u] = hub.get(u, 0) + a
            rows = [
                (x, Decimal(hub.get(x, 0)), Decimal(auth.get(x, 0)))
                for x in nodes_l
            ]
            return pd.DataFrame(rows, columns=["node", "hub", "auth"])

        t = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .schema["node"]
            .dataType.simpleString()
        )
        out = core._one_task_fold(
            e, f"node {t}, hub decimal(38,0), auth decimal(38,0)", _hits_local
        ).localCheckpoint()
        e.unpersist()
        return out
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    # PARTIAL score tables through the loop (r13): a node absent from
    # auth/hub means score 0, and zero scores contribute nothing to
    # the next half-round's sums — so the per-half-round
    # nodes-left-join + zero-fill (2 joins × iters of node-sized
    # tables) is deferred to the single zero-fill at the output.
    # Sums are identical (adding zeros), so scores are bit-exact.
    hub = nodes.withColumn("h", F.lit(1).cast("decimal(38,0)"))
    auth = None
    for _ in range(int(iters)):
        # auth <- sum of in-neighbors' hub
        # no per-half-round materialization: fixed iteration count,
        # no mid-loop actions — the whole plan executes as one job at
        # the final localCheckpoint (see pagerank; r12 paid an eager
        # checkpoint job per half-round)
        auth = (
            e.join(hub.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        # hub <- sum of out-neighbors' auth
        hub = (
            e.join(auth.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
    out = nodes.join(hub, "node", "left").join(auth, "node", "left").select(
        "node",
        F.coalesce("h", F.lit(0).cast("decimal(38,0)")).alias("hub"),
        F.coalesce("a", F.lit(0).cast("decimal(38,0)")).alias("auth"),
    ).localCheckpoint()
    e.unpersist()
    nodes.unpersist()
    return out


def link_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Link-prediction scores for every node pair sharing at least
    ``min_common`` neighbors in the undirected simple graph: common
    neighbor count, union size, Jaccard, and Adamic–Adar
    (``Σ_z 1/ln(deg z)`` over shared neighbors z — rare mutual
    friends weigh more).  The "who should connect next?" primitive
    for recommendation, record-linkage candidate ranking, and graph
    cleanup.

    Exactness: common/union are exact BIGINTs and Jaccard is ONE
    IEEE division on them (oracle-exact).  Adamic–Adar takes ``ln``
    through libm, which engines round differently at the last ulp —
    it is pytest-pinned, not oracle-compared (the ``mi_report``
    precedent); the per-term doubles quantize to nano-units and sum
    exactly in DECIMAL so the value is at least ORDER-independent
    within Spark.

    Scale: wedge enumeration is Σ_z deg(z)² — a hub's neighborhood
    squared.  ``max_hub_degree`` drops wedge CENTERS above the
    threshold (changing semantics for pairs through hubs — their
    common counts shrink; documented trade, same spirit as the LSH
    bucket cap).  Candidate pairs are keyed by (a, b) so counts
    aggregate map-side; degree tables are vocabulary-sized broadcast
    joins.

    Output: node_a, node_b (a < b), common_neighbors, union_size,
    jaccard, adamic_adar."""
    und = _undirected(edges, src, dst)
    # small-graph fast path: counts/union are exact ints, jaccard is
    # the same single IEEE division, and the adamic-adar weight
    # replays round(1e9 / ln(deg)) HALF_UP per center then sums in
    # exact ints — one task instead of the wedge join's 6+ exchanges
    # (paths pinned against each other in tests)
    und_c = und.persist()
    if core.fits(und_c, max_rows=_WEDGE_FAST_PATH_MAX_EDGES):
        _minc = int(min_common)
        _maxhub = None if max_hub_degree is None else int(max_hub_degree)

        def _ls_local(pdf):
            import math
            from decimal import ROUND_HALF_UP, Decimal

            import pandas as pd

            adj_l: dict = {}
            for a, b in zip(pdf["lo"].tolist(), pdf["hi"].tolist()):
                adj_l.setdefault(a, set()).add(b)
                adj_l.setdefault(b, set()).add(a)
            pairs: dict = {}
            one = Decimal(1)
            for z, nb in adj_l.items():
                dz = len(nb)
                if dz < 2 or (_maxhub is not None and dz > _maxhub):
                    continue
                # F.round(double, 0) rounds the shortest-decimal
                # rendering HALF_UP (BigDecimal.valueOf semantics,
                # same as the DECIMAL casts — see _q18_half_up).
                # Replayed inline, not by core._q_halfup: the fold
                # references no bubbles_spark global, so its Python
                # worker never imports the package
                wz = int(
                    Decimal(repr(1e9 / math.log(float(dz)))).quantize(
                        one, rounding=ROUND_HALF_UP
                    )
                )
                nbl = sorted(nb)
                for i in range(len(nbl) - 1):
                    ai = nbl[i]
                    for j in range(i + 1, len(nbl)):
                        key = (ai, nbl[j])
                        ent = pairs.get(key)
                        if ent is None:
                            pairs[key] = [1, wz]
                        else:
                            ent[0] += 1
                            ent[1] += wz
            rows = [
                (
                    a,
                    b,
                    c,
                    len(adj_l[a]) + len(adj_l[b]) - c,
                    float(c)
                    / float(len(adj_l[a]) + len(adj_l[b]) - c),
                    float(wsum) / 1e9,
                )
                for (a, b), (c, wsum) in pairs.items()
                if c >= _minc
            ]
            return pd.DataFrame(
                rows,
                columns=[
                    "node_a",
                    "node_b",
                    "common_neighbors",
                    "union_size",
                    "jaccard",
                    "adamic_adar",
                ],
            )

        t = und_c.schema["lo"].dataType.simpleString()
        out = core._one_task_fold(
            und_c,
            f"node_a {t}, node_b {t}, common_neighbors bigint, "
            "union_size bigint, jaccard double, adamic_adar double",
            _ls_local,
        ).localCheckpoint()
        und_c.unpersist()
        return out
    # big path: revert to the original lazy shape (the probe pass is
    # the price of the adaptive dispatch, as in connected_components)
    und_c.unpersist()
    adj = und.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionByName(
        und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    # a wedge center needs >= 2 neighbors — degree-1 nodes can never
    # produce a pair, and their 1/ln(1) weight would divide by zero
    # under ANSI (hit by scale_smoke's perturbed-copy graph, which has
    # leaf nodes the sf testdata happens not to)
    centers = adj.join(F.broadcast(deg), "node").filter(F.col("degree") >= 2)
    if max_hub_degree is not None:
        centers = centers.filter(F.col("degree") <= int(max_hub_degree))
    # 1/ln(deg z) quantized to nano-units BEFORE the pair sum: the
    # decimal accumulation is order-free; sums stay < 2^53 up to
    # ~6e6 common neighbors per pair
    w_unit = F.round(
        F.lit(1e9) / F.log(F.col("degree").cast("double")), 0
    ).cast("decimal(19,0)")
    lhs = centers.select(
        "node", F.col("nbr").alias("node_a"), w_unit.alias("__w")
    )
    rhs = centers.select("node", F.col("nbr").alias("node_b"))
    wedges = lhs.join(rhs, "node").filter(F.col("node_a") < F.col("node_b"))
    pairs = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        (F.sum("__w").cast("double") / F.lit(1e9)).alias("adamic_adar"),
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("degree").alias("__db"))
    out = (
        pairs.filter(F.col("common_neighbors") >= int(min_common))
        .join(F.broadcast(da), "node_a")
        .join(F.broadcast(db), "node_b")
        .withColumn(
            "union_size",
            (F.col("__da") + F.col("__db") - F.col("common_neighbors")).cast(
                "bigint"
            ),
        )
    )
    return out.select(
        "node_a",
        "node_b",
        F.col("common_neighbors").cast("bigint").alias("common_neighbors"),
        "union_size",
        (
            F.col("common_neighbors").cast("double")
            / F.col("union_size").cast("double")
        ).alias("jaccard"),
        "adamic_adar",
    )
