"""Scale-stress smoke: measure how the heavy operator family scales
when the corpus is synthetically multiplied in memory.

Builds k shifted copies of the sf documents/embeddings tables (ids
offset per copy so dedup semantics stay meaningful) and times each
heavy operator at k=1 and k=K, reporting the empirical scaling
exponent alpha = log(t_K / t_1) / log(K).  Linear-time operators show
alpha ≈ 1 (plus fixed overhead pulling it below 1 on small inputs);
a quadratic blowup shows alpha ≈ 2 and is a design regression.

Each side is timed by ``bench.scaling_point``, the protocol shared with
tools/sf1_bench.py: a cold and a warm run at 1x, then at Kx, and the
minimum of 3 warm runs for a side reading under 1 s.  A timed run is
build + noop write: most builds are lazy plan construction, but some
(sample(mode=weighted/reservoir) at large k, size probes) run eager
passes inside build — those passes are part of the operator's cost.

Usage: python tools/scale_smoke.py [K] [op ...]   (default 8, all ops;
       a named subset without warc_splittable_one_file prints no
       "sf_dir" and exits 0)
Prints one JSON line: {"k": K, "ops": {name: {"t1": s, "tk": s,
"alpha": a}}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled(df, k: int, id_col: str):
    """k shifted copies, each PERTURBED to be dissimilar to the other
    copies: an exact union would plant k-cliques of duplicates, making
    the operator's OUTPUT grow as k² and poisoning the timing exponent
    (measured: alpha 1.5 with exact copies vs ~1 with perturbed ones).
    Text copies rotate the consonant alphabet (every token changes,
    within-copy near-dup structure intact); embedding copies apply a
    distinct per-copy diagonal ±1 orthogonal transform (within-copy
    cosines preserved exactly, cross-copy decorrelated)."""
    from functools import reduce

    from pyspark.sql import functions as F

    alpha = "bcdfghjklm"
    copies = []
    for i in range(k):
        c = df.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
        if "text" in df.columns:
            rot = alpha[i % len(alpha) :] + alpha[: i % len(alpha)]
            c = c.withColumn("text", F.translate("text", alpha, rot))
        if "embedding" in df.columns and i > 0:
            # per-copy diagonal ±1 transform: ORTHOGONAL, so every
            # within-copy pairwise cosine is preserved exactly (the
            # dup structure each copy contributes stays identical),
            # while cross-copy cosines decorrelate.  An additive
            # shift instead concentrates each copy into one direction
            # cone and manufactures O(n²) GENUINE near-dup pairs —
            # that measures output explosion, not operator scaling.
            # The sign pattern must be DISTINCT per copy (a parity
            # formula gives only 2 patterns → same-parity copies
            # carry identical vectors → cross-copy dup cliques).
            import random as _random

            rng = _random.Random(7_654_321 + i)
            signs = [float(rng.choice((-1.0, 1.0))) for _ in range(64)]
            sign_arr = F.array(*[F.lit(s) for s in signs])

            def _flip(arr):
                return lambda x, j: (x * F.element_at(arr, j + 1)).cast("float")

            c = c.withColumn("embedding", F.transform("embedding", _flip(sign_arr)))
        copies.append(c)
    return reduce(lambda a, b: a.unionByName(b), copies)


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    only = set(sys.argv[2:])  # optional op-name subset

    from pyspark.sql import functions as F

    from bench import quiet_spark, scaling_point
    from bubbles_spark.io import load_table
    from bubbles_spark.ops import dedup, textan, textprep

    spark = quiet_spark("scale_smoke")
    docs = load_table(spark, SF_DIR, "documents")
    embs = load_table(spark, SF_DIR, "embeddings")
    events = load_table(spark, SF_DIR, "events")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    nation = load_table(spark, SF_DIR, "nation")
    customer = load_table(spark, SF_DIR, "customer")

    results = {}

    def point(name, build1, buildk):
        r = results[name] = scaling_point(build1, buildk, k)
        print(
            f"# {name}: t1={r['t1']:.2f}s t{k}={r['tk']:.2f}s alpha={r['alpha']:.2f}",
            file=sys.stderr,
        )

    def _image_pairs(d):
        """Synthesize a distinct smooth PGM per doc_id (full id in the
        frequency/amplitude params so scaled copies stay visually
        distinct — identical cross-copy images would plant k-cliques
        and measure output explosion, not scaling), then the
        perceptual-hash banded hamming join."""
        import pandas as pd

        from bubbles_spark.ops import imagehash
        from bubbles_spark.ops.multimodal import attach_media

        def synth(batches):
            import numpy as np

            h, w = 32, 40
            y = np.arange(h)[:, None] / h
            x = np.arange(w)[None, :] / w
            for pdf in batches:
                out = []
                for i in pdf["doc_id"]:
                    b = int(i)
                    img = 128.0 + (10 + b % 13) * np.cos(
                        np.pi * ((1 + b % 7) * y + (1 + (b // 7) % 7) * x)
                    ) + (8 + (b // 13) % 11) * np.cos(
                        np.pi * ((1 + (b // 49) % 5) * y - (1 + (b // 11) % 5) * x)
                    )
                    a = np.clip(np.rint(img), 0, 255).astype(np.uint8)
                    out.append(b"P5\n%d %d\n255\n" % (w, h) + a.tobytes())
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": out})

        imgs = d.select("doc_id").mapInPandas(synth, schema="doc_id long, raw binary")
        return imagehash.image_dup_pairs(attach_media(imgs, "raw"), max_hamming=2)

    def _pq_topk(d, idc):
        from pyspark.sql import functions as FF

        from bubbles_spark.ops import vector

        q = d.filter(FF.col(idc) < 20)
        return vector.cosine_topk_pq(d, q, k=5, id_col=idc, ks=64)

    def _zorder(d):
        from bubbles_spark.ops import layout

        return layout.zorder_by(d, ["doc_id", "source"])

    def _bootstrap(d):
        from bubbles_spark.ops import stattests

        # B=25 keeps the smoke quick; the op is rows x B map-only
        # hashes before one aggregate — alpha must stay ~1
        return stattests.bootstrap_ci(d, "value", "event_id", n_boot=25)

    OPS = {
        "bootstrap_ci": (events, "event_id", _bootstrap),
        "exact_dedup": (docs, "doc_id", lambda d: dedup.exact_dedup(d)),
        "minhash_dedup_pairs": (
            docs,
            "doc_id",
            lambda d: dedup.minhash_dedup_pairs(d, threshold=0.8),
        ),
        "simhash_dedup_pairs": (
            docs,
            "doc_id",
            lambda d: dedup.simhash_dedup_pairs(d),
        ),
        "quality_score": (docs, "doc_id", lambda d: textan.quality_score(d)),
        "repetition_ratio": (
            docs,
            "doc_id",
            lambda d: textprep.repetition_ratio(d, n=2),
        ),
        "paragraph_dedup": (docs, "doc_id", lambda d: textprep.paragraph_dedup(d)),
        "remove_boilerplate_lines": (
            docs,
            "doc_id",
            lambda d: textprep.remove_boilerplate_lines(d, min_docs=3),
        ),
        "dsir_logratio": (
            docs,
            "doc_id",
            # target = a fixed slice of the corpus; the raw side scales
            lambda d: textan.dsir_logratio(
                d, d.limit(200), vocab_size=300
            ),
        ),
        "ngram_jaccard_pairs": (
            docs,
            "doc_id",
            lambda d: dedup.ngram_jaccard_pairs(d, n=1, threshold=0.5),
        ),
        # trigram shingles: unigram prefixes on the word-soup corpus
        # degenerate (every doc ≈ every other at J≥0.5 — output itself
        # is Ω(m²)); trigrams measure the operator, not the output
        "prefix_jaccard_pairs": (
            docs,
            "doc_id",
            lambda d: dedup.prefix_jaccard_pairs(d, n=3, threshold=0.5),
        ),
        "containment_pairs": (
            docs,
            "doc_id",
            lambda d: dedup.containment_pairs(d, n=3, threshold=0.8),
        ),
        "tf_idf": (docs, "doc_id", lambda d: textan.tf_idf(d)),
        "duplicated_spans": (
            docs,
            "doc_id",
            lambda d: textprep.duplicated_spans(d),
        ),
        "embedding_dup_pairs_lsh": (
            embs,
            "emb_id",
            lambda d, idc: dedup.embedding_dup_pairs(
                d, id_col=idc, threshold=0.99, lsh_bits=None
            ),
        ),
        "semantic_dup_pairs": (
            embs,
            "emb_id",
            lambda d, idc: dedup.semantic_dup_pairs(d, id_col=idc, threshold=0.99),
        ),
        "image_dup_pairs": (docs, "doc_id", lambda d: _image_pairs(d)),
        # incremental index check: the INDEX side scales (the corpus
        # grows), the incoming batch stays fixed — alpha measures how
        # the banded join + verify degrade with index size
        "pairs_against_index": (
            docs,
            "doc_id",
            lambda d: dedup.pairs_against_index(
                d.limit(200).select(
                    (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
                ),
                dedup.minhash_index(d),
                threshold=0.8,
                cache_index=True,
            ),
        ),
        "cosine_topk_pq": (
            embs,
            "emb_id",
            lambda d, idc: _pq_topk(d, idc),
        ),
        "zorder_by": (docs, "doc_id", lambda d: _zorder(d)),
    }
    # fix the embeddings id column name to whatever the table has
    emb_id = "doc_id" if "doc_id" in embs.columns else embs.columns[0]

    # --- relational family: facts scaled with CONSISTENT keys --------
    # (copies offset every join/group key by the same stride, so the
    # join fan-out per key is invariant and only the row count grows —
    # the "more customers, more orders" scale-out axis)
    def scaled_rel(k: int):
        from functools import reduce as _reduce

        def copies(df, key_cols):
            out = []
            for i in range(k):
                c = df
                for col in key_cols:
                    c = c.withColumn(col, F.col(col) + F.lit(i * 100_000_000))
                out.append(c)
            return _reduce(lambda a, b: a.unionByName(b), out)

        return {
            "lineitem": copies(lineitem, ["l_orderkey"]),
            # item keys offset too: copy-local item vocabularies, so
            # the co-purchase graph grows as k disjoint subgraphs
            # (pair/triangle OUTPUT scales k x, not k^2)
            "lineitem_items": copies(lineitem, ["l_orderkey", "l_partkey"]),
            "orders": copies(orders, ["o_orderkey", "o_custkey"]),
            "customer": copies(customer, ["c_custkey"]),
            "events": copies(events, ["event_id", "user_id"]),
            "embeddings": copies(embs, ["vec_id"]),
        }

    def flagship(t):
        from bubbles_spark.ops import core

        e = core.join_details(
            core.join_details(
                core.join_details(
                    core.filter_by_value(t["lineitem"], "l_returnflag", "R"),
                    t["orders"], "l_orderkey", "o_orderkey", broadcast_detail=False,
                ),
                t["customer"], "o_custkey", "c_custkey", broadcast_detail=False,
            ),
            nation, "c_nationkey", "n_nationkey",
        )
        rev = e.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        return rev.groupBy("n_name").agg(F.sum("rev").alias("rev_sum"))

    def sessionize_op(t):
        from bubbles_spark.ops import events as ev

        return ev.sessionize(t["events"], "ts", "user_id", 30.0)

    def rollup_op(t):
        from bubbles_spark.ops import events as ev

        return ev.time_bucket_rollup(
            t["events"], "ts", ["1 hour", "1 day"], measures=[("value", "sum")]
        )

    def sample_weighted_big_k(t):
        from bubbles_spark.ops import core

        e = t["events"]
        # k proportional to the input (a quarter of it), cutoff forced
        # to 0 so the threshold-select path runs at every scale;
        # linear-time expectation, so alpha ≈ 1
        n = e.count()
        return core.sample(
            e.withColumn("__w", (F.col("value") + F.lit(1.0))),
            n // 4,
            mode="weighted",
            weight_col="__w",
            takeordered_cutoff=0,
        )

    def funnel_op(t):
        from bubbles_spark.ops import events as ev

        return ev.funnel(t["events"], ["view", "click", "purchase"])

    def interval_join_op(t):
        from bubbles_spark.ops import core as c
        from bubbles_spark.ops import events as ev

        e = t["events"]
        sec = ev.epoch_seconds(e, "ts")
        lft = e.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("l_id"), "user_id",
            sec.alias("s"), (sec + F.lit(7200.0)).alias("e"),
        )
        rgt = e.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("r_id"), "user_id",
            sec.alias("s"), (sec + F.lit(3600.0)).alias("e"),
        )
        return c.interval_join(
            lft, rgt, "s", "e", "s", "e", by="user_id", bucket_width=3600.0
        )

    def resample_op(t):
        from bubbles_spark.ops import events as ev

        return ev.resample_time(t["events"], "ts", "user_id", "1 hour")

    def fuzzy_join_op(t):
        from bubbles_spark.ops import core as c

        # name derived from the offset custkey with a per-copy letter
        # triple prefix, so cross-copy pairs sit at distance >= 3 (an
        # unperturbed union would plant n·k² genuine distance-1 pairs
        # and measure output explosion, not operator scaling)
        cst = (
            t["customer"]
            .withColumn(
                "__name",
                F.concat(
                    F.expr(
                        "repeat(substring('ABCDEFGHIJKLMNOP', "
                        "int(c_custkey div 100000000) + 1, 1), 3)"
                    ),
                    F.format_string(
                        "Cust#%011d", F.col("c_custkey") % 100_000_000
                    ),
                ),
            )
            .select("c_custkey", "__name")
        )
        return c.fuzzy_join(cst, cst, "__name", "__name", max_dist=1).filter(
            F.col("c_custkey") < F.col("c_custkey_r")
        )

    def _drift_events(t):
        # per-copy value shift keeps the distinct-value set growing
        # with k (identical values across copies would hold the
        # cumsum input CONSTANT and measure nothing)
        return t["events"].withColumn(
            "__v",
            F.col("value")
            + F.floor(F.col("event_id") / F.lit(100_000_000)).cast("double")
            * F.lit(1000.0),
        )

    def ks_op(t):
        from bubbles_spark.ops import drift

        e = _drift_events(t)
        return drift.ks_distance(
            e.filter(F.col("event_type") == "view").select("__v"),
            e.filter(F.col("event_type") == "click").select("__v"),
            "__v",
        )

    def auc_op(t):
        from bubbles_spark.ops import drift

        e = _drift_events(t).withColumn(
            "__y", (F.col("event_type") == "purchase").cast("int")
        )
        return drift.auc_score(e, "__v", "__y")

    def quantile_normalize_op(t):
        from bubbles_spark.ops import drift

        return drift.quantile_normalize(_drift_events(t), "__v")

    def kmeans_op(t):
        # per-copy value shifts keep blob geometry while rows grow;
        # cost per Lloyd round = one map pass + a (k·dim)-row shuffle
        from bubbles_spark.ops import vector as vec

        e = t["embeddings"].select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double")
                + (F.col("vec_id") % 4).cast("double") * 100.0,
            ).alias("embedding"),
        )
        return vec.kmeans_assign(e, "vec_id", "embedding", k=4, max_iter=3)

    def resolve_entities_op(t):
        # exact-dup name pairs (nation-blocked) -> closure -> election;
        # per-copy offset custkeys keep components copy-local
        from bubbles_spark.ops import dedup as dd

        cst = t["customer"]
        pairs = (
            cst.alias("a")
            .join(
                cst.alias("b"),
                (F.col("a.c_name") == F.col("b.c_name"))
                & (F.col("a.c_custkey") < F.col("b.c_custkey"))
                # copy-local: cross-copy same-name pairs would plant
                # k-cliques and measure output explosion, not scaling
                & (
                    F.floor(F.col("a.c_custkey") / 100_000_000)
                    == F.floor(F.col("b.c_custkey") / 100_000_000)
                ),
            )
            .select(
                F.col("a.c_custkey").alias("id_a"),
                F.col("b.c_custkey").alias("id_b"),
            )
        )
        return dd.resolve_entities(
            cst, pairs, id_col="c_custkey", survivor_cols=("c_mktsegment",)
        )

    def winsorize_by_dominant_op(t):
        # worst case for per-group ranking: EVERY row in one group —
        # the two-phase distinct-value rank must scale like the
        # global winsorize, not like a single-task group sort
        from bubbles_spark.ops import drift

        e = _drift_events(t).withColumn("__g", F.lit("all"))
        return drift.winsorize_by(e, "__v", "__g")

    def frequent_pairs_op(t):
        # basket self-join: per-basket fanout is constant (baskets
        # don't grow), so work must scale with rows, not rows^2
        from bubbles_spark.ops import affinity

        return affinity.frequent_pairs(
            t["lineitem_items"], "l_orderkey", "l_partkey", min_support=2
        )

    def triangle_count_op(t):
        # k disjoint co-purchase subgraphs: triangles scale k x; the
        # degree-oriented wedge join must too
        from bubbles_spark.ops import affinity, graph

        edges = affinity.frequent_pairs(
            t["lineitem_items"], "l_orderkey", "l_partkey", min_support=2
        ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        return graph.triangle_count(edges)

    def group_quantiles_op(t):
        # per-group exact quantiles: counts collapse to distinct
        # values, two-phase cumsum — linear in distinct cells
        from bubbles_spark.ops import drift

        return drift.group_quantiles(
            t["events"], "event_type", "value", [0.5, 0.95, 0.99]
        )

    def growth_accounting_op(t):
        # distinct + first-activity + two shifted equi-joins; all
        # keyed by (user, bucket) — linear in distinct activity
        from bubbles_spark.ops import activity

        return activity.growth_accounting(
            t["events"], "user_id", "ts", "week"
        )

    def link_scores_op(t):
        # k disjoint co-purchase subgraphs: candidate pairs and
        # wedges scale k x (the hub-squared term is per-subgraph)
        from bubbles_spark.ops import affinity, graph

        edges = affinity.frequent_pairs(
            t["lineitem_items"], "l_orderkey", "l_partkey", min_support=2
        ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
        return graph.link_scores(edges, min_common=2)

    def pagerank_op(t):
        # 2 iterations over the supply bipartite graph; per-iteration
        # cost = one edge join + one keyed decimal sum
        from bubbles_spark.ops import graph

        e = t["lineitem_items"].select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
        )
        return graph.pagerank(e, iters=2)

    def decompose_op(t):
        # key cardinality fixed (event_type): per-key work grows k x
        # with bounded parallelism - alpha ~1 is the honest expectation
        from bubbles_spark.ops import events as ev

        e = t["events"].select("event_id", "event_type", "ts", "value")
        return ev.decompose_additive(
            e, "ts", "value", key_col="event_type",
            trend_halfwidth_seconds=43200,
        )

    def gains_table_op(t):
        from bubbles_spark.ops import drift

        e = t["events"].filter(F.col("value").isNotNull()).select(
            "event_id", "value",
            (F.col("event_type") == "purchase").cast("int").alias("lab"),
        )
        return drift.gains_table(e, "value", "lab", "event_id")

    def hits_op(t):
        from bubbles_spark.ops import graph

        e = t["lineitem_items"].select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
        )
        return graph.hits_scores(e, iters=2)

    def grid_distance_op(t):
        # per-copy plane offset (copy i lives at x += i·10_000): the
        # copies are spatially DISJOINT, so pair output grows k×, not
        # k² — the timing measures the banded join, not genuine new
        # neighbors
        from bubbles_spark.ops import spatial

        pts = t["customer"].select(
            F.col("c_custkey").alias("id"),
            (
                (F.col("c_custkey") % 100_000_000) * 2654435761 % 200
                + F.floor(F.col("c_custkey") / F.lit(100_000_000)) * 10_000
            ).alias("x"),
            ((F.col("c_custkey") % 100_000_000) * 40503 % 200).alias("y"),
        )
        return spatial.grid_distance_join(pts, "id", "x", "y", radius=5.0)

    def ewma_op(t):
        from bubbles_spark.ops import events as ev

        return ev.ewma(
            t["events"], "user_id", "ts", "value", alpha=0.25,
            tiebreak_col="event_id",
        )

    def rfm_op(t):
        from bubbles_spark.ops import insights

        return insights.rfm_segments(
            t["events"].filter(F.col("event_type") == "purchase"),
            "user_id", "ts", "value", ref_date="2024-03-01",
        )

    def segment_overlap_op(t):
        # ids grow k x, segment vocabulary fixed (event_type): the
        # co-membership self-join carries k x members, output stays
        # vocab^2-sized - alpha ~1 is the design claim
        from bubbles_spark.ops import activity

        return activity.segment_overlap(t["events"], "user_id", "event_type")

    def theil_sen_op(t):
        # the documented usage: pre-aggregate per (user, day) first;
        # groups grow k x with bounded points per group, so the
        # pairs-per-group quadratic is capped and total work is ~k
        from bubbles_spark.ops import insights

        daily = (
            t["events"]
            .filter(F.col("value").isNotNull())
            .groupBy(
                "user_id",
                F.datediff(
                    F.to_date("ts"), F.lit("1970-01-01").cast("date")
                ).alias("x"),
            )
            .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("y"))
        )
        return insights.theil_sen(daily, "user_id", "x", "y")

    def concurrency_op(t):
        # intervals [ts, ts + value seconds): boundary instants grow
        # k x while the two-phase cumsum stays O(instants) — alpha ~1
        from bubbles_spark.ops import events as ev

        iv = t["events"].filter(F.col("value").isNotNull()).select(
            "ts",
            (
                F.col("ts").cast("timestamp")
                + F.make_interval(secs=F.col("value"))
            ).alias("__end"),
        )
        return ev.concurrency_report(iv, "ts", "__end")

    def debounce_op(t):
        from bubbles_spark.ops import events as ev

        return ev.debounce(t["events"], "user_id", "ts", 3600.0, "event_id")

    def fifo_match_op(t):
        # per-user ledgers grow k x in user count, not depth: windows
        # and the bounded-fanout match join should both scale ~k
        from bubbles_spark.ops import events as ev

        e = t["events"]
        ins = e.filter(F.col("event_type") == "view")
        outs = e.filter(F.col("event_type") == "click")
        return ev.fifo_match(
            ins, outs, "user_id", "event_id", "value",
            decimal="decimal(14,4)",
        )

    def rolling_wau_op(t):
        from bubbles_spark.ops import activity

        return activity.rolling_active_users(t["events"], "user_id", "ts", 7)

    def haversine_op(t):
        # synthesized coords keyed off the shifted ids: copies spread
        # over the globe, so pair output grows ~k, not k²
        from bubbles_spark.ops import spatial

        pts = t["customer"].select(
            F.col("c_custkey").alias("id"),
            ((F.col("c_custkey") * 2654435761 % 120000) / 1000.0 - 60.0)
            .alias("lat"),
            ((F.col("c_custkey") * 40503 % 360000) / 1000.0 - 180.0)
            .alias("lon"),
        )
        return spatial.haversine_join(pts, "id", "lat", "lon", 400.0)

    def global_rank_bigpath_op(t):
        # the 2M-row small-path threshold means unit tests and the
        # sf0.1 bench exercise the single-window path; FORCE the
        # two-phase machinery (value-bucket probe, binary-search
        # buckets, offset map, checkpoint pin) here so its scaling
        # exponent is measured, since at 100 TB this IS the path
        from bubbles_spark.ops import core as _core

        prev = _core._SMALL_RANK_ROWS
        _core._SMALL_RANK_ROWS = 1000
        try:
            return _core._with_global_row_number(
                t["orders"].select("o_orderkey", "o_totalprice"),
                ["o_totalprice", "o_orderkey"],
            )
        finally:
            _core._SMALL_RANK_ROWS = prev

    def spearman_op(t):
        from bubbles_spark.ops import stattests

        return stattests.spearman_corr(
            t["lineitem"], "l_quantity", "l_extendedprice"
        )

    def uplift_op(t):
        from bubbles_spark.ops import drift as _drift

        users = t["orders"].select(
            F.col("o_orderkey").alias("uid"),
            (F.col("o_custkey") % 2).cast("int").alias("tr"),
            (F.col("o_orderkey") % 3 == 0).cast("int").alias("y"),
            ((F.col("o_orderkey") * 2654435761) % 1000)
            .cast("double")
            .alias("s"),
        )
        return _drift.uplift_curve(users, "s", "tr", "y", "uid")

    def kendall_tau_by_op(t):
        # the documented contract (stattests.py kendall_tau_by): feed
        # PRE-AGGREGATED series — groups (users) grow k x with a
        # bounded per-group point count (days), so the in-group
        # O(n_g²) self-join's TOTAL work is ~k·const — alpha ~1
        from bubbles_spark.ops import stattests

        daily = (
            t["events"]
            .filter(F.col("value").isNotNull())
            .groupBy(
                "user_id",
                F.datediff(
                    F.to_date("ts"), F.lit("1970-01-01").cast("date")
                ).alias("x"),
            )
            .agg(
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("y")
            )
        )
        return stattests.kendall_tau_by(daily, "user_id", "x", "y")

    def dunn_test_op(t):
        # group vocabulary fixed (event_type): rows grow k x, the
        # pooled value-bucketed rank cumulative is O(distinct values)
        # and pair output stays vocab²-sized — alpha ~1
        from bubbles_spark.ops import stattests

        return stattests.dunn_test(
            _drift_events(t), "event_type", "__v"
        )

    def friedman_test_op(t):
        # blocks (users) grow k x, treatments fixed (event_type):
        # within-block ranks partition by block — alpha ~1
        from bubbles_spark.ops import stattests

        cell = (
            t["events"]
            .filter(F.col("value").isNotNull())
            .groupBy("user_id", "event_type")
            .agg(
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("y")
            )
        )
        return stattests.friedman_test(cell, "user_id", "event_type", "y")

    def mood_median_op(t):
        # distinct values grow k x (per-copy shift): the grand-median
        # selection and per-group counts stay count-keyed — alpha ~1
        from bubbles_spark.ops import stattests

        return stattests.mood_median_test(
            _drift_events(t), "event_type", "__v"
        )

    def jonckheere_op(t):
        # the zero-filled grid is (distinct values x k arms) — k
        # fixed (event_type), distinct values grow k x, the shared
        # two-phase cum machinery must keep the fold ~linear
        from bubbles_spark.ops import stattests

        return stattests.jonckheere_terpstra(
            _drift_events(t), "event_type", "__v"
        )

    def krippendorff_op(t):
        # units (users) grow k x with bounded votes each: keyed
        # counts + one units-sized fold — alpha ~1
        from bubbles_spark.ops import stattests

        return stattests.krippendorff_alpha(
            t["events"], "user_id", "event_type"
        )

    def log_rank_op(t):
        # distinct durations grow k x (per-copy shifted values feed
        # distinct day buckets); the (duration x 2 arms) grid and its
        # two-phase cum must stay ~linear
        from bubbles_spark.ops import insights

        e = _drift_events(t)
        surv = e.select(
            F.when(F.col("user_id") % 2 == 0, F.lit("even"))
            .otherwise(F.lit("odd"))
            .alias("g"),
            F.floor(F.col("__v")).cast("bigint").alias("t"),
            (F.col("event_type") == "purchase").cast("int").alias("e"),
        ).filter(F.col("t").isNotNull())
        return insights.log_rank_test(surv, "t", "e", "g")

    def wilcoxon_op(t):
        # pairs (users) grow k x; |d| distinct values grow with them;
        # the value-count rank machinery must stay ~linear
        from bubbles_spark.ops import stattests

        e = t["events"].filter(F.col("value").isNotNull())
        per = e.groupBy("user_id").agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,4)"),
                )
            ).cast("double").alias("a"),
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.col("value").cast("decimal(18,4)"),
                )
            ).cast("double").alias("b"),
        )
        return stattests.wilcoxon_signed_rank(per, "a", "b")

    def ansari_bradley_op(t):
        # two arms, distinct values grow k x: the closed-form tie-block
        # score sums ride the shared value-count machinery — alpha ~1
        from bubbles_spark.ops import stattests

        return stattests.ansari_bradley(
            _drift_events(t), "event_type", "__v", "view", "click"
        )

    def brunner_munzel_op(t):
        # pooled AND within-arm midranks from value counts; both grids
        # grow with distinct values (k x) — alpha ~1
        from bubbles_spark.ops import stattests

        return stattests.brunner_munzel(
            _drift_events(t), "event_type", "__v", "view", "click"
        )

    def page_trend_op(t):
        # complete blocks only: per-(user, type) cell sums, keep users
        # holding every treatment; blocks grow k x, treatments fixed —
        # per-block ranking partitions by block, alpha ~1
        from bubbles_spark.ops import stattests

        e = t["events"].filter(F.col("value").isNotNull())
        cell = e.groupBy("user_id", "event_type").agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("y")
        )
        n_types = cell.select("event_type").distinct().count()
        full = (
            cell.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("__nt"))
            .filter(F.col("__nt") == n_types)
            .select("user_id")
        )
        return stattests.page_trend_test(
            cell.join(full, "user_id"), "user_id", "event_type", "y"
        )

    def smd_balance_op(t):
        # covariates unpivot via ONE stack; rows grow k x, the
        # (covariate x arm) moment grid stays fixed-size — alpha ~1
        from bubbles_spark.ops import stattests

        o = t["orders"].select(
            (F.col("o_orderkey") % 2).cast("int").alias("tr"),
            F.col("o_totalprice").cast("double").alias("price"),
            (F.col("o_custkey") % 97).cast("double").alias("ckmod"),
        )
        return stattests.smd_balance(o, "tr", ["price", "ckmod"])

    def isotonic_op(t):
        # one keyed count shuffle to <= bins rows, then metadata-sized
        # pair grid — alpha ~1 (fold-dominated)
        from bubbles_spark.ops import drift

        e = t["events"].filter(F.col("value").isNotNull()).select(
            F.col("value").cast("double").alias("s"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
        return drift.isotonic_calibration(e, "s", "y", 0.0, 500.0, bins=50)

    def brier_op(t):
        # same fold shape as isotonic: one keyed count shuffle to
        # <= bins rows + one global moment fold — alpha ~1
        from bubbles_spark.ops import drift

        e = t["events"].filter(F.col("value").isNotNull()).select(
            (
                F.col("value").cast("decimal(14,4)")
                * F.lit("0.002").cast("decimal(6,4)")
            ).alias("s"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
        return drift.brier_decomposition(e, "s", "y", bins=10)

    def hosmer_op(t):
        from bubbles_spark.ops import drift

        e = t["events"].filter(F.col("value").isNotNull()).select(
            (
                F.col("value").cast("decimal(14,4)")
                * F.lit("0.002").cast("decimal(6,4)")
            ).alias("s"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
        return drift.hosmer_lemeshow(e, "s", "y", bins=10)

    def cronbach_op(t):
        # subjects (users) grow k x, items fixed (event_type): two
        # keyed moment shuffles, metadata after — alpha ~1
        from bubbles_spark.ops import stattests

        e = t["events"].filter(F.col("value").isNotNull())
        per = e.groupBy("user_id", "event_type").agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("bigint")
            .alias("v")
        )
        n_types = per.select("event_type").distinct().count()
        complete = (
            per.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("__k"))
            .filter(F.col("__k") == n_types)
            .select("user_id")
        )
        return stattests.cronbach_alpha(
            per.join(complete, "user_id", "semi"),
            "user_id", "event_type", "v",
        )

    REL_OPS = {
        "cronbach_alpha": cronbach_op,
        "brier_decomposition": brier_op,
        "hosmer_lemeshow": hosmer_op,
        "ansari_bradley": ansari_bradley_op,
        "brunner_munzel": brunner_munzel_op,
        "page_trend_test": page_trend_op,
        "smd_balance": smd_balance_op,
        "isotonic_calibration": isotonic_op,
        "global_rank_bigpath": global_rank_bigpath_op,
        "kendall_tau_by_daily": kendall_tau_by_op,
        "dunn_test": dunn_test_op,
        "friedman_test": friedman_test_op,
        "mood_median_test": mood_median_op,
        "jonckheere_terpstra": jonckheere_op,
        "krippendorff_alpha": krippendorff_op,
        "log_rank_test": log_rank_op,
        "wilcoxon_signed_rank": wilcoxon_op,
        "anderson_darling_k": lambda t: __import__(
            "bubbles_spark.ops.stattests", fromlist=["x"]
        ).anderson_darling_k(_drift_events(t), "event_type", "__v"),
        "spearman_corr": spearman_op,
        "uplift_curve": uplift_op,
        "flagship_join_agg": flagship,
        "sessionize": sessionize_op,
        "time_bucket_rollup": rollup_op,
        "sample_weighted_big_k": sample_weighted_big_k,
        "funnel": funnel_op,
        "interval_join": interval_join_op,
        "resample_ffill": resample_op,
        "fuzzy_join_del1": fuzzy_join_op,
        "ks_distance": ks_op,
        "auc_score": auc_op,
        "quantile_normalize": quantile_normalize_op,
        "winsorize_by_dominant": winsorize_by_dominant_op,
        "kmeans_assign": kmeans_op,
        "resolve_entities": resolve_entities_op,
        "frequent_pairs": frequent_pairs_op,
        "triangle_count": triangle_count_op,
        "link_scores": link_scores_op,
        "group_quantiles": group_quantiles_op,
        "growth_accounting": growth_accounting_op,
        "pagerank": pagerank_op,
        "decompose_additive": decompose_op,
        "gains_table": gains_table_op,
        "hits_scores": hits_op,
        "grid_distance_join": grid_distance_op,
        "ewma": ewma_op,
        "rfm_segments": rfm_op,
        "segment_overlap": segment_overlap_op,
        "theil_sen": theil_sen_op,
        "concurrency_report": concurrency_op,
        "debounce": debounce_op,
        "fifo_match": fifo_match_op,
        "rolling_wau": rolling_wau_op,
        "haversine_join": haversine_op,
    }

    base = scaled_rel(1)
    big = scaled_rel(k)
    for name, build in REL_OPS.items():
        if only and name not in only:
            continue
        point(name, lambda b=build: b(base), lambda b=build: b(big))

    for name, (df, id_col, build) in OPS.items():
        if only and name not in only:
            continue
        if df is embs:
            # embeddings builders take (df, id_col); docs builders take (df)
            id_col = emb_id
            build = lambda d, _b=build, _i=id_col: _b(d, _i)
        big_df = scaled(df, k, id_col)
        point(name, lambda b=build, d=df: b(d), lambda b=build, d=big_df: b(d))

    # --- WARC splittable: ONE plain archive, byte-range parallelism --
    # a single uncompressed .warc (file count = 1 at every k) must
    # still fan out over byte-range tasks and scale ~linearly in
    # archive size — the round-4 structural note (parallelism capped
    # at archive count) closed by read_warc_splittable
    import shutil
    import tempfile

    from bubbles_spark import warc as bw

    def _write_warc(rows, path):
        with open(path, "wb") as fh:
            for i, text in rows:
                body = (text or "")[:400].encode("utf-8", "replace")
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
                )
                head = (
                    "WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Record-ID: urn:sc:{i}\r\n"
                    f"Content-Length: {len(http)}\r\n\r\n"
                ).encode()
                fh.write(head + http + b"\r\n\r\n")

    if only and "warc_splittable_one_file" not in only:
        print(json.dumps({"k": k, "ops": results}))
        return 0

    tmp = tempfile.mkdtemp(prefix="scale_warc_")
    try:
        rows1 = [
            (r["doc_id"], r["text"])
            for r in docs.select("doc_id", "text").collect()
        ]
        os.makedirs(f"{tmp}/one")
        os.makedirs(f"{tmp}/big")
        _write_warc(rows1, f"{tmp}/one/a.warc")
        rowsk = [
            (i * 10_000_000 + rid, t) for i in range(k) for rid, t in rows1
        ]
        _write_warc(rowsk, f"{tmp}/big/a.warc")
        split = 1 << 20

        def _read(p):
            return lambda: bw.read_warc_splittable(spark, p, split_bytes=split)

        n_tasks = bw.read_warc_splittable(
            spark, f"{tmp}/big", split_bytes=split
        ).rdd.getNumPartitions()
        point("warc_splittable_one_file", _read(f"{tmp}/one"), _read(f"{tmp}/big"))
        results["warc_splittable_one_file"].update(tasks_at_k=n_tasks, files=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({"k": k, "sf_dir": SF_DIR, "ops": results}))
    worst = max(r["alpha"] for r in results.values())
    return 0 if worst < 1.5 else 1


if __name__ == "__main__":
    sys.exit(main())
