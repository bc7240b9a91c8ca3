"""Fast self-test of the benchmark code on sf0.001 inputs.

    python3 perfbench/selftest.py

Run from the root of a checkout.  In one Spark session it runs every
workload once (a checked cold pass, one untraced and one traced
pass), and asserts that every metric named in
``BENCHMARK.json`` comes out with its unit and that a deliberately
perturbed result fails the fingerprint check.  Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys

import run
from fingerprint import fingerprint, matches, of_rows

SF = 0.001


def perturb(rows: list[tuple]) -> list[tuple]:
    """The same rows with the first numeric value of the first row changed."""
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            first[i] = v + 1
            return [tuple(first)] + rows[1:]
    raise AssertionError(f"no numeric value to perturb in {rows[0]!r}")


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    run.prepare_env(run.WORK_DIR)
    sf_dir = os.path.abspath(run.datagen.ensure(os.path.join(run.WORK_DIR, "data"), SF))
    bench = run.Bench(sf_dir, run.WORK_DIR, seed=0)
    problems = []
    try:
        bench.setup()
        for wl in spec["workloads"]:
            names = run.WORKLOADS[wl["name"]]
            bench.resolve(names)
            if bench.spark is None:
                bench.start_session()
            expected = {n: fingerprint(bench.queries[n](bench.spark, sf_dir)) for n in names}
            cold = bench.run_pass(names, f"{wl['name']}-cold", expected=expected)
            warm = [bench.run_pass(names, f"{wl['name']}-warm")]
            layers, _ = bench.traced_passes(names, 1, run.pass_seconds(warm))
            e2e = run.end_to_end(bench, cold, warm)
            got = {k: {"value": e2e[k], "unit": u} for k, u in run.END_TO_END.items()}
            got.update(run.per_layer(bench, layers))
            for m in spec["end_to_end"] + spec["per_layer"]:
                have = got.get(m["name"])
                if have is None or have["unit"] != m["unit"] or not isinstance(have["value"], float | int):
                    problems.append(f"{wl['name']}: metric {m['name']} missing or without unit {m['unit']}")
            for m in spec["end_to_end"]:
                if not got[m["name"]]["value"] > 0:
                    problems.append(f"{wl['name']}: end-to-end metric {m['name']} is not positive")

        # a perturbed result must fail the check, an intact one pass it
        bench.start_session()
        name = run.WORKLOADS["batch"][0]
        df = bench.queries[name](bench.spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        want = of_rows(df.columns, rows)
        if not matches(of_rows(df.columns, rows), want)[0]:
            problems.append("an intact result failed its fingerprint")
        if matches(of_rows(df.columns, perturb(rows)), want)[0]:
            problems.append("a perturbed result passed the fingerprint check")
        before = len(bench.failures)
        bench.check(name, df, {**want, "hash": "0" * 32})
        if len(bench.failures) != before + 1:
            problems.append("Bench.check did not count a fingerprint mismatch as a failure")
        problems += [f"unexpected failure: {f}" for f in bench.failures[:before]]
    finally:
        bench.shutdown()
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
