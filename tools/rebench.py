"""Quiet-JVM re-bench: 3-rep minimums for a named query subset.

BASELINE.md's regression policy calls for 3-repetition minimums on a
quiet JVM before declaring a bench delta real — the driver's single
second-run sample is load-sensitive (both r9 and r10 showed >2x
single-sample swings on queries whose plans did not change).  This
tool runs each named query REPS times after the standard flagship
warm-up and reports the minimum, which is the noise-robust statistic
for a deterministic plan (any repetition above the minimum is
interference, never the plan).

Usage: python tools/rebench.py q1 q2 ...      [REPS=3]
       python tools/rebench.py --reps 5 q1
Prints one JSON line {name: min_sec} plus per-rep detail on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(argv: list[str]) -> int:
    reps = 3
    if argv and argv[0] == "--reps":
        reps = int(argv[1])
        argv = argv[2:]
    names = argv
    if not names:
        print("usage: rebench.py [--reps N] query ...", file=sys.stderr)
        return 2

    import __spark_entry__ as entrymod
    from bench import quiet_spark

    spark = quiet_spark("bubbles_spark_rebench")
    qs = entrymod.queries()

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("flagship_revenue_by_nation")  # warm-up: JIT + footer cache

    out: dict[str, float] = {}
    for name in names:
        if name not in qs:
            print(f"# skip {name}: not registered", file=sys.stderr)
            continue
        samples = [run(name) for _ in range(reps + 1)][1:]  # drop cold
        out[name] = round(min(samples), 3)
        print(f"# {name}: min {out[name]}s  reps "
              f"{[round(s, 2) for s in samples]}", file=sys.stderr)
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
