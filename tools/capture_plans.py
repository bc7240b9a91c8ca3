"""Dump ``explain("formatted")`` for named queries to files.

Usage:  python tools/capture_plans.py OUTDIR SUFFIX query [query ...]

Writes ``OUTDIR/<query>_<SUFFIX>.txt``.  Runs with
``BUBBLES_SCHEMA_ONLY=1`` so eager checkpoints/streams stay lazy and
the capture runs no data jobs (the r13 plan-evidence protocol: run
once from the pre-optimization tree with SUFFIX=before, once from
HEAD with SUFFIX=after; the judge diffs the pairs).

Run from the repo checkout whose plans you want: the script imports
``__spark_entry__`` from its own parent directory, so a ``git
worktree`` of an older commit captures that commit's plans.
"""

from __future__ import annotations

import os
import sys

os.environ["BUBBLES_SCHEMA_ONLY"] = "1"
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    outdir, suffix, names = argv[0], argv[1], argv[2:]
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from bench import quiet_spark

    spark = quiet_spark("capture_plans")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"# skip {name}: not registered", file=sys.stderr)
            continue
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
