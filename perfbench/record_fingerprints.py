"""Record the result fingerprints that every benchmark run checks.

    python3 perfbench/record_fingerprints.py

Run from the root of a checkout.  Fingerprints every workload query at
the benchmark's scale factor twice: in one session in workload order,
then in a fresh session in reverse order with a different number of
shuffle partitions.  A query whose two hashes differ is listed under
``unstable`` with the reason, and runs then compare only its row count
and column names.  Reasons already written by hand for a query are kept.
"""

from __future__ import annotations

import json
import os
import sys

import run
from fingerprint import PATH, fingerprint


def main() -> int:
    run.prepare_env(run.WORK_DIR)
    sf_dir = os.path.abspath(run.datagen.ensure(os.path.join(run.WORK_DIR, "data"), run.SF))
    bench = run.Bench(sf_dir, run.WORK_DIR, seed=0)
    names = [n for w in run.WORKLOADS.values() for n in w]
    try:
        bench.setup()
        bench.resolve(names)
        first = {n: fingerprint(bench.queries[n](bench.spark, sf_dir)) for n in names}
        bench.spark.stop()
        bench.start_session()
        partitions = 2 * bench.session_info["shuffle_partitions"] + 1
        bench.spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        second = {n: fingerprint(bench.queries[n](bench.spark, sf_dir)) for n in reversed(names)}
    finally:
        bench.shutdown()

    try:
        with open(PATH) as f:
            data = json.load(f)
    except FileNotFoundError:
        data = {}
    key = f"sf{run.SF:g}"
    old_unstable = data.get(key, {}).get("unstable", {})
    unstable = {}
    for n in names:
        if first[n] != second[n]:
            unstable[n] = old_unstable.get(n) or (
                f"hash differs between sessions ({bench.session_info['shuffle_partitions']} "
                f"vs {partitions} shuffle partitions, opposite query order)"
            )
    data[key] = {"queries": first, "unstable": unstable}
    with open(PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(names)} fingerprints, {len(unstable)} unstable: {sorted(unstable)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
