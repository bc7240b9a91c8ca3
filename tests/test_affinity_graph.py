"""Unit tests: market-basket affinity + graph analytics."""

import math

import pytest
from pyspark.sql import functions as F

from bubbles_spark.ops import affinity, graph


# ---------------------------------------------------------------- affinity

BASKETS = [
    (1, "milk"), (1, "bread"), (1, "butter"),
    (2, "milk"), (2, "bread"),
    (3, "milk"), (3, "beer"),
    (4, "bread"), (4, "butter"),
    (5, "rare"),  # infrequent item — Apriori must prune it
    (5, "milk"),
    (2, "milk"),  # duplicate line: one membership, not two
]


def _baskets(spark):
    return spark.createDataFrame(BASKETS, "basket long, item string")


def test_frequent_pairs_counts(spark):
    got = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in affinity.frequent_pairs(
            _baskets(spark), "basket", "item", min_support=2
        ).collect()
    }
    assert got == {("bread", "milk"): 2, ("bread", "butter"): 2}


def test_frequent_pairs_max_basket_size(spark):
    # at min_support=1 nothing Apriori-prunes; cap 2 drops basket 1
    # (3 items) so its three pairs lose that co-occurrence
    got = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in affinity.frequent_pairs(
            _baskets(spark), "basket", "item",
            min_support=1, max_basket_size=2,
        ).collect()
    }
    assert got == {
        ("bread", "milk"): 1,      # basket 2 only (1 dropped)
        ("bread", "butter"): 1,    # basket 4 only
        ("milk", "rare"): 1,       # basket 5, 2 items <= cap
        ("beer", "milk"): 1,       # basket 3
    }


def test_association_rules_exact_metrics(spark):
    rules = {
        (r["antecedent"], r["consequent"]): r
        for r in affinity.association_rules(
            _baskets(spark), "basket", "item", min_support=2
        ).collect()
    }
    # supports: milk 4 baskets, bread 3, butter 2; n_baskets = 5
    r = rules[("bread", "milk")]
    assert (r["pair_support"], r["antecedent_support"],
            r["consequent_support"], r["n_baskets"]) == (2, 3, 4, 5)
    assert r["confidence"] == 2.0 / 3.0
    assert r["lift"] == (2.0 * 5.0) / (3.0 * 4.0)
    # both orientations present; confidence differs per direction
    assert rules[("milk", "bread")]["confidence"] == 2.0 / 4.0
    # min_confidence filters
    strict = affinity.association_rules(
        _baskets(spark), "basket", "item",
        min_support=2, min_confidence=0.6,
    ).collect()
    assert all(r["confidence"] >= 0.6 for r in strict)
    assert ("milk", "bread") not in {
        (r["antecedent"], r["consequent"]) for r in strict
    }


# ------------------------------------------------------------------- graph

EDGES = [
    (1, 2), (2, 3), (1, 3),          # triangle 1-2-3
    (3, 4), (4, 5), (3, 5),          # triangle 3-4-5
    (5, 6),                          # pendant
    (2, 1),                          # reverse duplicate (same und. edge)
    (6, 6),                          # self-loop — dropped
]


def _edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_degrees(spark):
    got = {r["node"]: r for r in graph.degrees(_edges(spark)).collect()}
    assert got[3]["degree"] == 4            # neighbors 1,2,4,5
    assert got[1]["degree"] == 2
    assert got[6]["degree"] == 1            # self-loop dropped
    assert got[1]["out_degree"] == 2        # 1->2, 1->3
    assert got[1]["in_degree"] == 1         # 2->1
    assert got[6]["in_degree"] == 2         # 5->6 and the self-loop


def test_triangle_count(spark):
    got = {
        r["node"]: r["triangles"]
        for r in graph.triangle_count(_edges(spark)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}


def test_triangle_count_direction_invariant(spark):
    flipped = _edges(spark).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    a = sorted(map(tuple, graph.triangle_count(_edges(spark)).collect()))
    b = sorted(map(tuple, graph.triangle_count(flipped).collect()))
    assert a == b


def test_pagerank_star_exact(spark):
    # star: leaves 1..4 -> hub 0, hub -> each leaf.  Replay the exact
    # IEEE steps engine-side and demand bit equality.
    edges = [(i, 0) for i in range(1, 5)] + [(0, i) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(
        df, iters=3, damping=0.85
    ).collect()}
    n, d = 5, 0.85
    base = (1.0 - d) / n
    hub, leaf = 1.0 / n, 1.0 / n
    for _ in range(3):
        # hub receives 4 equal leaf contributions (leaf/1 each);
        # decimal accumulation == exact sum of 4 equal doubles
        # (HALF_UP: Spark's double->decimal cast rounding)
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-18)
        s_hub = sum(
            Decimal(leaf / 1.0).quantize(q, rounding=ROUND_HALF_UP)
            for _ in range(4)
        )
        s_leaf = Decimal(hub / 4.0).quantize(q, rounding=ROUND_HALF_UP)
        hub, leaf = (
            base + d * float(s_hub), base + d * float(s_leaf)
        )
    assert got[0] == hub
    assert all(got[i] == leaf for i in range(1, 5))
    assert not math.isnan(hub)


def test_pagerank_sink_keeps_base(spark):
    # 1 -> 2, node 2 is a sink: its mass is not redistributed, node 1
    # gets only the base term after iteration 1
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(
        df, iters=2, damping=0.85
    ).collect()}
    assert got[1] == (1.0 - 0.85) / 2.0


def test_hits_scores_path_counts(spark):
    # 1->3, 2->3, 3->4: auth1 = indeg, hub1/auth2/hub2 = path counts
    df = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r["node"]: (int(r["hub"]), int(r["auth"]))
           for r in graph.hits_scores(df, iters=2).collect()}
    # a1: {3:2, 4:1}; h1: {1:2, 2:2, 3:1}
    # a2: {3: h1(1)+h1(2)=4, 4: h1(3)=1}; h2: {1:4, 2:4, 3:1}
    assert got[1] == (4, 0)
    assert got[2] == (4, 0)
    assert got[3] == (1, 4)
    assert got[4] == (0, 1)


def test_link_scores_square_with_diagonal(spark):
    """Square 1-2-3-4 plus diagonal 1-3: known common/union/jaccard
    and the AA pin (libm ln is pytest-pinned, not oracle-compared)."""
    import math

    from bubbles_spark.ops import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long"
    )
    got = {
        (r["node_a"], r["node_b"]): r
        for r in graph.link_scores(edges).collect()
    }
    assert got[(2, 4)]["common_neighbors"] == 2
    assert got[(2, 4)]["union_size"] == 2
    assert got[(2, 4)]["jaccard"] == 1.0
    assert got[(1, 3)]["common_neighbors"] == 2
    assert got[(1, 3)]["union_size"] == 4
    assert got[(1, 3)]["jaccard"] == 0.5
    # AA: z in {1,3} for pair (2,4), both deg 3 -> 2/ln(3), nano-quantized
    expect = 2 * round(1e9 / math.log(3.0)) / 1e9
    assert got[(2, 4)]["adamic_adar"] == expect
    # min_common filters; hub cap drops wedge centers above threshold
    only2 = graph.link_scores(edges, min_common=2)
    assert {(r["node_a"], r["node_b"]) for r in only2.collect()} == {
        (1, 3), (2, 4)
    }
    nohub = graph.link_scores(edges, max_hub_degree=2)
    # centers 1 and 3 (deg 3) excluded: only wedges through 2 and 4 remain
    assert {(r["node_a"], r["node_b"]) for r in nohub.collect()} == {(1, 3)}


def test_link_scores_degree_one_leaf(spark):
    # regression: a leaf node (degree 1) crashed the adamic-adar
    # weight with ANSI DIVIDE_BY_ZERO (1/ln(1)); leaves can never be
    # wedge centers, so they must simply be ignored
    from bubbles_spark.ops import graph

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)],  # 4 is a leaf
        "src long, dst long",
    )
    rows = {(r["node_a"], r["node_b"]): r for r in
            graph.link_scores(edges).collect()}
    assert rows[(1, 2)]["common_neighbors"] == 1
    assert (2, 4) in rows or (1, 4) in rows


# ------------------------------------------- fast/distributed path pins


def _bigger_graph():
    # deterministic mixed-shape graph: hubs, leaves, two cliques, a
    # chain, parallel + reversed edges, self-loops — enough structure
    # that any per-step divergence between the single-task fast path
    # and the distributed path shows up somewhere
    edges = []
    for i in range(1, 9):           # hub 0 <-> spokes
        edges.append((0, i))
        edges.append((i, 0))
    for a in (10, 11, 12, 13):      # 4-clique, one direction each
        for b in (10, 11, 12, 13):
            if a < b:
                edges.append((a, b))
    edges += [(i, i + 1) for i in range(20, 30)]   # chain
    edges += [(5, 11), (6, 12), (25, 0), (13, 20)]  # bridges
    edges += [(3, 3), (10, 10)]                    # self-loops
    edges += [(0, 1), (0, 1)]                      # parallel dupes
    return edges


_GRAPH_OPS = ["triangles", "links", "hits", "pagerank", "pagerank_w"]
# degenerate inputs beside the mixed graph: each op must agree across
# paths and keep its documented columns even with nothing to score
_DEGENERATE_GRAPHS = {
    "empty": [],
    "self_loops": [(3, 3), (7, 7)],
    "one_edge": [(1, 2)],
}
_GRAPH_OUT_COLS = {
    "triangles": ["node", "triangles"],
    "links": ["node_a", "node_b", "common_neighbors", "union_size",
              "jaccard", "adamic_adar"],
    "hits": ["node", "hub", "auth"],
    "pagerank": ["node", "rank"],
    "pagerank_w": ["node", "rank"],
}


@pytest.mark.parametrize(
    "op,shape",
    [pytest.param(op, None, id=op) for op in _GRAPH_OPS]
    + [pytest.param(op, g, id=f"{op}-{g}")
       for g in _DEGENERATE_GRAPHS for op in _GRAPH_OPS],
)
def test_graph_fast_and_distributed_paths_agree(
    spark, monkeypatch, fold_calls, op, shape
):
    """The small-graph single-task fast paths must be BIT-identical to
    the distributed plans — exact == on every column, floats included
    (the contract that lets the adaptive dispatch never change a
    query's oracle hash).  The fold must run when unforced and not
    when forced; weighted pagerank never folds."""
    edges = _bigger_graph() if shape is None else _DEGENERATE_GRAPHS[shape]
    df = spark.createDataFrame(edges, "src long, dst long")
    wdf = spark.createDataFrame(
        [(u, v, float((u * 7 + v * 3) % 11) / 4.0 + 0.25)
         for u, v in edges],
        "src long, dst long, w double",
    )

    def result():
        if op == "triangles":
            return graph.triangle_count(df)
        if op == "links":
            return graph.link_scores(df)
        if op == "hits":
            return graph.hits_scores(df, iters=3)
        if op == "pagerank":
            return graph.pagerank(df, iters=3, damping=0.85)
        return graph.pagerank(wdf, iters=3, damping=0.85, weight_col="w")

    def run():
        out = result()
        if op == "hits":
            rows = sorted(
                (r["node"], int(r["hub"]), int(r["auth"]))
                for r in out.collect()
            )
        else:
            rows = sorted(map(tuple, out.collect()))
        return out.columns, rows

    fast_cols, fast = run()
    fast_folds = len(fold_calls)
    monkeypatch.setattr(graph, "_SMALL_GRAPH_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "_WEDGE_FAST_PATH_MAX_EDGES", -1)
    slow_cols, slow = run()
    assert fast == slow
    assert fast_cols == slow_cols == _GRAPH_OUT_COLS[op]
    # pagerank solves no empty graph in one task (the distributed
    # path's zero-node early return answers it)
    folds = op != "pagerank_w" and not (op == "pagerank" and not edges)
    assert (fast_folds >= 1) == folds
    assert len(fold_calls) == fast_folds
    if shape is None:
        assert len(fast) > 0


def test_graph_fast_paths_string_ids(spark, monkeypatch, fold_calls):
    # string node ids order the same under Python < and Spark's UTF8
    # binary compare — the orientation / pair-key contract
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
             ("d", "e"), ("c", "e"), ("e", "f")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def run():
        tri = sorted(map(tuple, graph.triangle_count(df).collect()))
        ls = sorted(map(tuple, graph.link_scores(df).collect()))
        return tri, ls

    fast = run()
    assert len(fold_calls) >= 1
    n = len(fold_calls)
    monkeypatch.setattr(graph, "_WEDGE_FAST_PATH_MAX_EDGES", -1)
    slow = run()
    assert fast == slow
    assert len(fold_calls) == n
