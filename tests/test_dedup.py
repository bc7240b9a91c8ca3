"""Dedup family: shingles vs a Python reference, minhash/simhash
sanity, exact-Jaccard vs brute force, embedding LSH recall + the
dim-mismatch guard."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from bubbles_spark.ops import dedup

SF0001 = "/root/testdata/sf0.001"


def _py_shingles(text: str, n: int) -> set[str]:
    toks = text.lower().split()
    if n <= 1:
        return set(toks)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_shingles_match_python_reference(docs):
    for n in (1, 2, 3):
        got = {
            r["doc_id"]: set(r["shingles"])
            for r in dedup.with_shingles(docs, n=n).collect()
        }
        for r in docs.collect():
            assert got[r["doc_id"]] == _py_shingles(r["text"], n), (n, r["doc_id"])


def test_minhash_identical_docs_est_one(docs):
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert by_pair[(1, 4)] == 1.0  # exact duplicates agree on every slot
    # docs 1 and 2 share 7 of 9 unigram-tokens; at 3-gram level ~0.5
    assert (1, 2) in by_pair or (2, 4) in by_pair


def test_minhash_signature_column(docs):
    out = dedup.minhash_signature(docs, num_hashes=32)
    rows = {r["doc_id"]: r["minhash"] for r in out.collect()}
    assert rows[1] == rows[4]  # identical text → identical signature
    assert rows[5] is None  # empty doc → NULL signature
    assert len(rows[1]) == 32


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs).select("doc_id").collect()
    assert {r["doc_id"] for r in kept} == {1, 2, 3, 5}  # 4 is a dup of 1
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["min_id"] == 1


def test_simhash_pairs(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sigs[1] == sigs[4]
    assert sigs[5] is None
    pairs = dedup.simhash_dedup_pairs(docs, max_hamming=10).collect()
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ham[(1, 4)] == 0


def test_ngram_jaccard_exact_vs_bruteforce(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.01).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = _py_shingles(texts[a], 1), _py_shingles(texts[b], 1)
        if not sa or not sb:
            continue
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.01:
            assert round(jac, 6) == got[(a, b)], (a, b)
        else:
            assert (a, b) not in got


def test_embedding_dim_mismatch_fails_loudly(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [1.0] * 16), (3, [1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception):  # assert_true → runtime error, not bucket 0
        dedup.embedding_dup_pairs(df, lsh_bits=4, dim=16).collect()


def test_embedding_dup_non64_dim(spark):
    """Regression: round-1 hardcoded dim=64 silently broke other dims."""
    rows = [(i, [float(i == j) for j in range(16)]) for i in range(8)]
    rows += [(100, rows[0][1]), (101, rows[1][1])]  # two exact dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs(df, threshold=0.99, lsh_bits=4).collect()
    }
    assert pairs[(0, 100)] == 1.0 and pairs[(1, 101)] == 1.0


def test_embedding_lsh_recall_planted_near_dups(spark):
    """Multi-table LSH must recover >= 95% of PLANTED near-duplicates
    (cosine >= ~0.95 — the regime the operator exists for; recall at
    low cosine is theoretically capped for any hyperplane scheme)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.limit(200).collect()
    rng = np.random.RandomState(3)
    rows = [(r["vec_id"], r["embedding"]) for r in base]
    for r in base:
        v = np.array(r["embedding"], dtype="float64")
        noisy = v + rng.randn(len(v)) * 0.05 * np.linalg.norm(v) / np.sqrt(len(v))
        rows.append((r["vec_id"] + 10000, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_dup_pairs(df, threshold=0.95, lsh_bits=0).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs(df, threshold=0.95).collect()
    }
    assert set(approx) <= set(exact)  # LSH never invents pairs
    assert len(exact) >= 150  # the planted copies really are near-dups
    assert len(approx & set(exact)) / len(exact) >= 0.95


def test_connected_components_chain(spark):
    """a~b, b~c, d~e: transitivity must merge {1,2,3} without a
    direct 1-3 edge."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node_id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_random_vs_union_find(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(40))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    expect = {n: find(n) for n in nodes}
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node_id"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == expect


def _cc_fast_and_iterative(pairs, monkeypatch, fold_calls):
    """connected_components over ``pairs`` on the fast path, then
    forced onto the iterative path: both label maps, after asserting
    the union-find fold ran only in the first run and that both
    outputs carry the documented columns."""
    from bubbles_spark.ops import graph

    def run():
        out = dedup.connected_components(pairs)
        assert out.columns == ["node_id", "component"]
        return {r["node_id"]: r["component"] for r in out.collect()}

    fast = run()
    assert len(fold_calls) == 1
    monkeypatch.setattr(graph, "_SMALL_GRAPH_MAX_EDGES", -1)
    slow = run()
    assert len(fold_calls) == 1
    return fast, slow


def test_connected_components_fast_and_iterative_paths_agree(
    spark, monkeypatch, fold_calls
):
    """The single-task union-find fast path and the iterative
    hook/pointer-jump path must emit identical (node_id, component)
    maps — including on string ids, where the fast path's Python
    ``<`` must agree with Spark's UTF8 binary min."""
    import random

    rng = random.Random(13)
    edges = [
        (f"doc-{rng.randrange(60):03d}", f"doc-{rng.randrange(60):03d}")
        for _ in range(70)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")

    fast, slow = _cc_fast_and_iterative(pairs, monkeypatch, fold_calls)
    assert fast == slow
    # min-label contract: every component label is the min node in it
    by_comp: dict = {}
    for n, c in fast.items():
        by_comp.setdefault(c, []).append(n)
    assert all(c == min(ns) for c, ns in by_comp.items())


@pytest.mark.parametrize(
    "edges,expect",
    [
        pytest.param([], {}, id="empty"),
        pytest.param([(3, 3), (7, 7)], {3: 3, 7: 7}, id="self_loops"),
        pytest.param([(2, 1)], {1: 1, 2: 1}, id="one_edge"),
    ],
)
def test_connected_components_degenerate_paths_agree(
    spark, monkeypatch, fold_calls, edges, expect
):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast, slow = _cc_fast_and_iterative(pairs, monkeypatch, fold_calls)
    assert fast == slow == expect


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).collect() == []


def test_connected_components_leaves_session_ml_serializable(
    spark, monkeypatch, tmp_path
):
    """Regression: the iterative path's convergence counts must NOT
    register a pyspark ``Observation`` on the session — a registered
    observation leaves ``ObservationManager`` reachable from later
    plans, and any subsequent Spark-ML UDF query on the same session
    dies with ``NotSerializableException: ObservationManager`` at
    task-closure serialization (caught by the full suite in r13)."""
    from bubbles_spark.ops import graph, textan

    monkeypatch.setattr(graph, "_SMALL_GRAPH_MAX_EDGES", -1)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    dedup.connected_components(pairs).collect()

    docs = spark.createDataFrame(
        [(i, ("good clean prose" if i % 2 else "zz spam zz") + f" {i}")
         for i in range(8)],
        "doc_id long, text string",
    )
    model = textan.train_quality_classifier(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        max_iter=5,
    )
    # scoring must run over a PARQUET source: the poisoned-session
    # failure is at task-closure serialization of the scan→UDF stage
    # (a LocalTableScan input never hits it) — the assert is on
    # serializability, not the 8-row data
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    scored = textan.quality_classifier_scores(spark.read.parquet(p), model)
    # the count must CONSUME the model's output column — a bare count()
    # lets Catalyst prune the ScalaUDF away and nothing poisoned ever
    # reaches a task closure
    assert scored.filter(F.col("quality_pred") >= 0.0).count() == 8


def test_dup_clusters_singletons(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(5)],
                               "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: r["component"]
           for r in dedup.dup_clusters(df, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4}


def test_exact_dedup_strategies_agree(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "doc_id long, text string",
    )
    from bubbles_spark.ops import dedup as dd

    rescan = sorted(tuple(r) for r in dd.exact_dedup(df).collect())
    shuffle = sorted(tuple(r) for r in dd.exact_dedup(df, strategy="shuffle").collect())
    assert rescan == shuffle == [(1, "a"), (3, "b"), (5, "c")]
    import pytest

    with pytest.raises(ValueError):
        dd.exact_dedup(df, strategy="sort")


# --- fuzzy_dedup_pairs (PassJoin edit-distance join) ------------------


def _fuzzy_fixture(spark):
    # base strings + planted 1- and 2-edit mutants + unrelated strings
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dot"),   # 1 sub of 0
        (2, "the quick brown fox jump over the lazy dog"),    # 1 del of 0
        (3, "xthe quick brown fox jumps over the lazy dogx"), # 2 ins of 0
        (4, "completely different text with no relation at all"),
        (5, "completely different text with no relation at all"),  # 1 edit of 4
        (6, "short"),
        (7, "shirt"),                                          # 1 sub of 6
        (8, "sh"),                                             # short-path
        (9, "s"),                                              # short-path, dist 1 to 8
        (10, ""),                                              # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_pairs(rows, d):
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        dd = lev(ta, tb)
        if dd <= d:
            out.add((min(ia, ib), max(ia, ib), dd))
    return out


def test_fuzzy_pairs_match_brute_force(spark):
    df = _fuzzy_fixture(spark)
    rows = [(r["doc_id"], r["text"]) for r in df.collect()]
    for d in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.fuzzy_dedup_pairs(df, max_dist=d).collect()
        }
        assert got == _brute_pairs(rows, d), f"mismatch at max_dist={d}"


def test_fuzzy_pairs_zero_distance_is_exact_dup(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "other")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"], r["dist"])
           for r in dedup.fuzzy_dedup_pairs(df, max_dist=0).collect()}
    assert got == {(1, 2, 0)}


def test_fuzzy_pairs_sf0001_planted(spark):
    # every 25th doc gets a 2-edit mutant appended as id+10000; all
    # planted pairs must be recovered with their exact distance
    import pyspark.sql.functions as F

    base = spark.read.parquet(SF0001 + "/documents.parquet").select(
        "doc_id", F.expr("substr(text, 1, 60)").alias("text")
    )
    mut = (
        base.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.expr("substr(text, 2, 59)"), F.lit("Z")).alias("text"),
        )
    )
    got = dedup.fuzzy_dedup_pairs(base.unionByName(mut), max_dist=2)
    planted = {
        (r["id_a"], r["id_b"]) for r in got.filter(F.col("id_b") >= 10000).collect()
    }
    want = {(i, i + 10000) for i in range(0, 500, 25)}
    assert planted >= want


# --- SemDeDup (semantic_dup_pairs / semantic_dedup) -------------------


def test_semantic_pairs_exact_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.semantic_dup_pairs(df, threshold=0.5, n_clusters=1).collect()
    }
    m = mat.astype("float64")
    norms = np.linalg.norm(m, axis=1)
    want = set()
    for a in range(40):
        for b in range(a + 1, 40):
            c = round(float(m[a] @ m[b] / (norms[a] * norms[b])), 6)
            if c >= 0.5:
                want.add((a, b, c))
    assert {(a, b) for a, b, _ in got} == {(a, b) for a, b, _ in want}
    wantd = {(a, b): c for a, b, c in want}
    for a, b, c in got:
        assert c == pytest.approx(wantd[(a, b)], abs=2e-6)


def test_semantic_pairs_planted_recall(spark):
    import pyspark.sql.functions as F

    e = spark.read.parquet(SF0001 + "/embeddings.parquet")
    planted = e.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    pairs = dedup.semantic_dup_pairs(e.unionByName(planted), threshold=0.99)
    got = {
        (r["id_a"], r["id_b"])
        for r in pairs.filter(F.col("id_b") - F.col("id_a") == 100000).collect()
    }
    assert got == {(i, i + 100000) for i in range(20)}


def test_semantic_dedup_drops_planted_copies(spark):
    import pyspark.sql.functions as F

    e = spark.read.parquet(SF0001 + "/embeddings.parquet")
    planted = e.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    out = dedup.semantic_dedup(e.unionByName(planted), threshold=0.99)
    assert out.filter(F.col("vec_id") >= 100000).count() == 0
    # originals all survive (nothing below threshold with a lower id)
    assert out.count() == e.count()


def test_semantic_pairs_max_cluster_cap(spark):
    # 30 identical vectors land in one cluster; cap below that size
    # must drop the cluster entirely (documented skew contract) while
    # a distinct small pair elsewhere still matches
    base = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
    far = [(100, [0.0, 1.0, 0.0, 0.001]), (101, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(
        base + far, "vec_id long, embedding array<float>"
    )
    pairs = dedup.semantic_dup_pairs(
        df, threshold=0.9, n_clusters=4, max_cluster=10, train_sample=100
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (100, 101) in got
    assert not any(a < 30 and b < 30 for a, b in got)


def test_semantic_pairs_deterministic(spark):
    e = spark.read.parquet(SF0001 + "/embeddings.parquet").limit(100)
    a = sorted(map(tuple, dedup.semantic_dup_pairs(e, threshold=0.3).collect()))
    b = sorted(map(tuple, dedup.semantic_dup_pairs(e, threshold=0.3).collect()))
    assert a == b


# ---------------------------------------------------------------------
# incremental dedup against a persisted index
# ---------------------------------------------------------------------


def test_pairs_against_index_finds_known_docs(spark, docs):
    index = dedup.minhash_index(docs)
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # == doc 1/4
            (101, "totally novel text about spark execution plans"),
        ],
        "doc_id long, text string",
    )
    hits = dedup.pairs_against_index(batch, index, threshold=0.9).collect()
    assert {(r["batch_id"], r["index_id"]) for r in hits} == {(100, 1), (100, 4)}
    assert all(r["est_jaccard"] == 1.0 for r in hits)


def test_dedup_against_index_admits_only_novel(spark, docs):
    index = dedup.minhash_index(docs)
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "totally novel text about spark execution plans"),
            (102, ""),  # no shingles -> no signature -> admitted
        ],
        "doc_id long, text string",
    )
    out = dedup.dedup_against_index(batch, index, threshold=0.9)
    assert sorted(r["doc_id"] for r in out.collect()) == [101, 102]


def test_pairs_against_index_broadcast_same_result(spark, docs):
    index = dedup.minhash_index(docs)
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    plain = dedup.pairs_against_index(batch, index, threshold=0.9)
    bcast = dedup.pairs_against_index(batch, index, threshold=0.9, broadcast_batch=True)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, bcast.collect()))


def test_pairs_against_index_bands_must_divide(spark, docs):
    index = dedup.minhash_index(docs)
    with pytest.raises(ValueError):
        dedup.pairs_against_index(docs, index, num_hashes=128, bands=33).collect()


def test_exact_dedup_against_index(spark, docs):
    index = dedup.exact_index(docs)
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (101, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),  # case differs
            (102, "fresh content"),
        ],
        "doc_id long, text string",
    )
    out = dedup.exact_dedup_against_index(batch, index)
    assert sorted(r["doc_id"] for r in out.collect()) == [101, 102]


def test_dedup_eval_metrics(spark):
    pred = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5), (4, 3)], "id_a long, id_b long"
    )  # 3 distinct normalized pairs
    truth = spark.createDataFrame(
        [(2, 1), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    r = dedup.dedup_eval(pred, truth).collect()[0]
    assert (r["n_pred"], r["n_truth"], r["n_hit"]) == (3, 3, 2)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == round(2 / 3, 6)
    assert r["f1"] == round(2 / 3, 6)


def test_dedup_eval_empty_predictions(spark):
    pred = spark.createDataFrame([], "id_a long, id_b long")
    truth = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = dedup.dedup_eval(pred, truth).collect()[0]
    assert (r["precision"], r["recall"], r["f1"]) == (0.0, 0.0, 0.0)


def test_admit_and_extend_index_grows(spark, docs):
    """A doc admitted in batch 1 rejects its copy in batch 2 — the
    index the first call returns really contains the admission."""
    index = dedup.minhash_index(docs)
    b1 = spark.createDataFrame(
        [(100, "totally novel text about spark execution plans")],
        "doc_id long, text string",
    )
    adm1, index2 = dedup.admit_and_extend_index(b1, index, threshold=0.9)
    assert [r["doc_id"] for r in adm1.collect()] == [100]
    b2 = spark.createDataFrame(
        [
            (200, "totally novel text about spark execution plans"),  # copy of 100
            (201, "another unrelated document about warc archives"),
        ],
        "doc_id long, text string",
    )
    adm2, _ = dedup.admit_and_extend_index(b2, index2, threshold=0.9)
    assert sorted(r["doc_id"] for r in adm2.collect()) == [201]


def test_admit_and_extend_index_replay_is_idempotent(spark, docs):
    """A batch re-run against an index already containing ITS OWN ids
    admits the same rows (same-id match = replay, not duplicate)."""
    index = dedup.minhash_index(docs)
    b = spark.createDataFrame(
        [(100, "totally novel text about spark execution plans")],
        "doc_id long, text string",
    )
    _, index2 = dedup.admit_and_extend_index(b, index, threshold=0.9)
    adm_retry, _ = dedup.admit_and_extend_index(b, index2, threshold=0.9)
    assert [r["doc_id"] for r in adm_retry.collect()] == [100]


def test_admit_and_extend_index_replay_with_intra_batch_dups(spark, docs):
    """A batch whose rows are near-duplicates OF EACH OTHER (both
    novel vs the index) admits both on attempt 1; a retry against the
    extended index must admit the SAME two rows — without the
    batch-member exemption each copy finds its twin in the index
    (ids differ, so the same-id rule alone doesn't help) and the
    retry rejects BOTH."""
    index = dedup.minhash_index(docs)
    b = spark.createDataFrame(
        [
            (100, "totally novel text about spark execution plans"),
            (101, "totally novel text about spark execution plans"),
        ],
        "doc_id long, text string",
    )
    adm1, index2 = dedup.admit_and_extend_index(b, index, threshold=0.9)
    assert sorted(r["doc_id"] for r in adm1.collect()) == [100, 101]
    adm_retry, _ = dedup.admit_and_extend_index(b, index2, threshold=0.9)
    assert sorted(r["doc_id"] for r in adm_retry.collect()) == [100, 101]


def test_admit_batch_to_index_store_roundtrip(spark, docs, tmp_path):
    """Store-backed loop: create on first batch, append on later
    batches, cross-batch duplicate rejected, replay idempotent."""
    from bubbles_spark.io import FileStore

    store = FileStore(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely separate document about databases")],
        "doc_id long, text string",
    )
    adm1 = dedup.admit_batch_to_index_store(store, "minhash_idx", b1, threshold=0.9)
    assert sorted(r["doc_id"] for r in adm1.collect()) == [1, 2]  # first batch: all in
    b2 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
         (11, "genuinely new content never indexed before")],
        "doc_id long, text string",
    )
    adm2 = dedup.admit_batch_to_index_store(store, "minhash_idx", b2, threshold=0.9)
    assert sorted(r["doc_id"] for r in adm2.collect()) == [11]
    # replay batch 2: same answer, no duplicate signature rows
    adm2b = dedup.admit_batch_to_index_store(store, "minhash_idx", b2, threshold=0.9)
    assert sorted(r["doc_id"] for r in adm2b.collect()) == [11]
    idx = store.get_object("minhash_idx")
    assert idx.count() == idx.select("doc_id").distinct().count() == 3


def test_pairs_against_index_accepts_presigned_batch(spark, docs):
    """batch may be a minhash_index output (id, minhash) — same pairs
    as the raw-text form, signature pass paid once by the caller."""
    index = dedup.minhash_index(docs)
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "totally novel text about spark execution plans")],
        "doc_id long, text string",
    )
    raw = sorted(map(tuple, dedup.pairs_against_index(batch, index, threshold=0.9).collect()))
    pre = sorted(map(tuple, dedup.pairs_against_index(
        dedup.minhash_index(batch), index, threshold=0.9).collect()))
    assert raw == pre and raw  # non-empty and identical


def test_resolve_entities_survivorship_and_chains(spark):
    """Chained pairs (1~2, 2~3) form ONE entity; survivorship elects
    the modal non-null value with ties to the smallest; unmatched
    records stay singleton entities."""
    df = spark.createDataFrame(
        [
            (1, "ACME", "NY"),
            (2, "ACME Inc", "NY"),
            (3, "ACME Co", "CA"),   # chain 1-2-3: NY wins 2-1
            (4, "Zed", None),       # singleton, null survivor
            (5, "Tie A", "AA"),
            (6, "Tie B", "BB"),     # pair 5-6: tie 1-1 -> smallest "AA"
        ],
        "id long, name string, state string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["entity_id"]: (r["n_records"], r["state"])
        for r in dedup.resolve_entities(
            df, pairs, id_col="id", survivor_cols=("state",)
        ).collect()
    }
    assert got == {1: (3, "NY"), 4: (1, None), 5: (2, "AA")}


def test_connected_components_long_chain_converges(spark):
    """A 200-link chain needs O(log n) rounds with pointer jumping —
    plain min-label propagation would need 200 and blow the cap
    (this failed for real on sf0.1 name chains)."""
    from bubbles_spark.ops import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    got = dedup.connected_components(pairs, max_iter=15)
    comps = {r["component"] for r in got.collect()}
    assert comps == {0}
    assert got.count() == 201


def test_golden_record_rules(spark):
    """Each rule elects under a total order; NULLs never win."""
    import pytest as _pytest

    from bubbles_spark.ops import dedup

    rows = [
        (1, "bob", "b@x.com", "2024-01-01", 10.0),
        (1, "robert", None, "2024-01-05", 5.0),
        (1, "bob", "bob@y.com", "2024-01-03", None),
        (2, None, "z@z.com", "2024-02-01", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "eid long, name string, email string, d string, v double"
    ).selectExpr("eid", "name", "email", "CAST(d AS DATE) AS d", "v")
    got = {r["eid"]: r for r in dedup.golden_record(
        df,
        "eid",
        {
            "name": "most_frequent",
            "email": "longest",
            "v": "max",
            "d": "min",
        },
    ).collect()}
    assert got[1]["n_records"] == 3
    assert got[1]["name"] == "bob"            # modal (2 of 3)
    assert got[1]["email"] == "bob@y.com"     # longest non-null
    assert got[1]["v"] == 10.0
    assert str(got[1]["d"]) == "2024-01-01"
    assert got[2]["name"] is None             # all-null column -> NULL
    latest = dedup.golden_record(
        df, "eid", {"name": ("latest", "d")}
    ).collect()
    assert {r["eid"]: r["name"] for r in latest}[1] == "robert"
    with _pytest.raises(ValueError, match="rule"):
        dedup.golden_record(df, "eid", {"name": "magic"})


def test_prefix_jaccard_matches_bruteforce(docs):
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for t in (0.2, 0.5, 1.0):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.prefix_jaccard_pairs(docs, n=1, threshold=t).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = _py_shingles(texts[a], 1), _py_shingles(texts[b], 1)
            if not sa or not sb:
                continue
            jac = round(len(sa & sb) / len(sa | sb), 6)
            if jac >= t:
                want[(a, b)] = jac
        assert got == want, t


def test_prefix_jaccard_lossless_vs_uncapped_index(docs):
    # prefix filtering is exact for the threshold: output must equal
    # the full inverted-index join with the df cap disabled
    a = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.prefix_jaccard_pairs(docs, n=3, threshold=0.34).collect()
    )
    b = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.34, max_doc_freq=10**9
        ).collect()
    )
    assert a == b
    assert a  # the fixture has near-dup docs: result must be non-empty


def test_prefix_jaccard_threshold_validation(docs):
    with pytest.raises(ValueError):
        dedup.prefix_jaccard_pairs(docs, threshold=0.0)


def test_containment_pairs_matches_bruteforce(docs):
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for t in (0.5, 0.8, 1.0):
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.containment_pairs(
                docs, n=1, threshold=t
            ).collect()
        }
        want = {}
        for a in sorted(texts):
            for b in sorted(texts):
                if a == b:
                    continue
                sa, sb = _py_shingles(texts[a], 1), _py_shingles(texts[b], 1)
                if not sa or not sb:
                    continue
                inter = len(sa & sb)
                if inter >= t * len(sa):
                    want[(a, b)] = round(inter / len(sa), 6)
        assert got == want, t


def test_containment_asymmetry(spark):
    # a short quote inside a long doc: high containment one way,
    # low the other — and low symmetric jaccard
    quote = "alpha beta gamma"
    page = "alpha beta gamma " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, page)], "doc_id long, text string"
    )
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, n=1, threshold=0.9).collect()
    }
    assert out == {(1, 2): 1.0}
    assert not dedup.prefix_jaccard_pairs(df, n=1, threshold=0.5).collect()
