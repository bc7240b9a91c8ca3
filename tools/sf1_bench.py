"""sf1 full-vector scale run: the top-N sf0.1 bench queries timed at
BOTH sf0.1 and a synthesized sf1 (tools/make_sf1.py, k=10 key-offset
perturbed copies) in ONE session, reporting the 10x scale exponent
alpha = log10(t_sf1 / t_sf0.1) per query.

Per-op k=8 smokes (tools/scale_smoke.py) cannot see super-linear
interactions BETWEEN pipeline stages — shuffle spill, AQE plan flips,
broadcast-threshold crossings — which only a complete-query run above
sf0.1 exercises.  Protocol: flagship warm-up, then per query one cold
+ one reported warm run at sf0.1, then the same at sf1 (same session,
same JIT state, sf0.1 first so the sf1 reading is the warmer of the
two — conservative for alpha).

Usage: python tools/sf1_bench.py [--k K] [N] [SF1_DIR] [name ...]
       (default --k 10, 40 /tmp/sf1; explicit names replace the
       top-N pick; --k is the scaled dir's data multiple vs sf0.1,
       so --k 30 for an sf3 dir gives base-30 exponents and --k 100
       for sf10 gives base-100)
Prints one JSON line {query: {"t01": s, "t1": s, "alpha": a}}.

Each side is timed by ``bench.scaling_point``, the protocol shared
with tools/scale_smoke.py: a side reading under 1s is re-timed to the
MINIMUM of 3 warm reps (BASELINE.md's documented ~1.7x
measurement-context effect: a single warm rep of a <1s query gives
noisy exponents near the 1.3 flag threshold).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    argv = sys.argv[1:]
    k = 10
    if argv and argv[0] == "--k":
        k = int(argv[1])
        argv = argv[2:]
    n = int(argv[0]) if len(argv) > 0 else 40
    sf1 = argv[1] if len(argv) > 1 else "/tmp/sf1"

    import __spark_entry__ as entrymod
    from bench import quiet_spark, scaling_point, timed

    spark = quiet_spark("bubbles_spark_sf1_bench")
    # split synthesized single-file tables at row-group grain
    # (make_sf1.py writes 16 MB row groups): without this the 128 MB
    # default gives sf10's 56 MB documents table ONE split — map
    # phases single-task at every scale and the exponent measures
    # single-thread growth instead of the cluster-realistic
    # parallelism-grows-with-data behavior
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    qs = entrymod.queries()

    with open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "bench_results.json",
        )
    ) as f:
        committed = json.load(f)["queries"]
    top = [
        q
        for q, _ in sorted(committed.items(), key=lambda kv: -kv[1])
        if q in qs
    ][:n]
    if len(argv) > 2:
        top = [q for q in argv[2:] if q in qs]

    timed(lambda: qs["flagship_revenue_by_nation"](spark, SF01))  # warm-up

    results: dict[str, dict] = {}
    for name in top:
        try:
            p = scaling_point(
                lambda: qs[name](spark, SF01), lambda: qs[name](spark, sf1), k
            )
        except Exception as exc:  # noqa: BLE001 — record and continue
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:160]}
            print(f"# ERROR {name}: {results[name]['error']}", file=sys.stderr)
            continue
        results[name] = {"t01": p["t1"], "t1": p["tk"], "alpha": p["alpha"]}
        flag = "  <-- SUPER-LINEAR" if p["alpha"] > 1.3 else ""
        print(
            f"# {name}: sf0.1={p['t1']:.2f}s sf_k{k}={p['tk']:.2f}s "
            f"alpha={p['alpha']:.2f}{flag}",
            file=sys.stderr,
        )

    print(json.dumps({"k": k, "sf1_dir": sf1, "queries": results}))
    worst = max(
        (r["alpha"] for r in results.values() if "alpha" in r), default=0.0
    )
    return 0 if worst <= 2.0 and not any(
        "error" in r for r in results.values()
    ) else 1


if __name__ == "__main__":
    sys.exit(main())
