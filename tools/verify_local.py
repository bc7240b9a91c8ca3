"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at sf0.01, comparing row count, sorted column names, and an
order-insensitive value hash (values normalized: floats rounded to
9 significant-ish decimals, timestamps to isoformat, None → "NULL").

Usage:  python tools/verify_local.py [--vanilla] [--strict] [--dump DIR]
                                     [query_name ...]

Spark master: ``VERIFY_MASTER`` env (default ``local[<cpu_count>]`` —
the driver runs local[32]; a mirror at a different parallelism would
not replicate partition-count-sensitive behavior).

``--dump DIR`` writes each query's sorted normalized rows to
``DIR/<name>.spark.txt`` / ``DIR/<name>.oracle.txt`` so a driver-side
hash mismatch is diffable instead of a bare hash.

``--strict`` hashes floats at FULL round-trip precision (repr) and
tags numeric values with their Python type class (int vs float), so
a 1-ulp cross-engine difference or an int-vs-float dtype skew — both
invisible at the default 9-sig-fig normalization, and both real
driver failure modes (tpch_q1 / tpch_q12 in round 4) — show up
locally.  Strict failures on queries whose contract is only
approximate equality are expected; use it as a diagnostic for
queries that claim BIT-EXACT cross-engine values (the decimal-path
TPC-H family, integer aggregates, string/hash outputs).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

STRICT = False


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if STRICT:
            return f"f{v!r}"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if STRICT and isinstance(v, int):
        return f"i{v}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, len(rows)


def main(only: list[str]) -> int:
    import duckdb

    import __spark_entry__ as entrymod

    global STRICT
    if "--strict" in only:
        STRICT = True
        only = [n for n in only if n != "--strict"]
    dump_dir = None
    if "--dump" in only:
        i = only.index("--dump")
        if i + 1 >= len(only):
            print("--dump needs a directory argument")
            return 2
        dump_dir = only[i + 1]
        # row dumps are hundreds of MB and must never enter the repo
        # (a round-8 run accidentally committed 83 MB of them): only
        # allow repo-internal paths under the gitignored dump_* prefix
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        inside = os.path.abspath(dump_dir).startswith(repo + os.sep)
        if inside and not os.path.basename(
            os.path.abspath(dump_dir)
        ).startswith("dump_"):
            print(
                f"--dump {dump_dir}: refusing a repo-internal dump dir "
                "not named dump_* (use /tmp/... or dump_<name>)"
            )
            return 2
        os.makedirs(dump_dir, exist_ok=True)
        only = only[:i] + only[i + 2 :]
    # replicate the driver's parallelism: VERIFY_MASTER env, default
    # local[cpu_count] (driver = local[32]) — a local[8] mirror would
    # not reproduce partition-count-sensitive behavior
    master = os.environ.get("VERIFY_MASTER", f"local[{os.cpu_count()}]")
    if "--vanilla" in only:
        # driver-fidelity mode: the external driver builds its OWN
        # plain SparkSession, so nothing may depend on get_spark()'s
        # configs (tz pin, AQE, Arrow, shuffle partitions)
        only = [n for n in only if n != "--vanilla"]
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(master)
            .appName("verify_vanilla")
            .getOrCreate()
        )
    else:
        from bench import quiet_spark

        spark = quiet_spark("verify_local", master=master)
    print(f"master: {master}  strict: {STRICT}  sf_dir: {SF_DIR}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or list(qs)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            failures += 1
            continue

        sh, sn = table_hash(scols, srows)
        oh, on = table_hash(ocols, orows)
        ok_cols = sorted(scols) == sorted(ocols)
        if dump_dir is not None:
            for side, cols, rows in (
                ("spark", scols, srows),
                ("oracle", ocols, orows),
            ):
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                lines = sorted(
                    "\x1f".join(norm(r[i]) for i in order) for r in rows
                )
                path = os.path.join(dump_dir, f"{name}.{side}.txt")
                with open(path, "w") as fh:
                    fh.write("\x1f".join(cols[i] for i in order) + "\n")
                    fh.write("\n".join(lines) + "\n")
        status = "PASS" if (sh == oh and sn == on and ok_cols) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(
                f"FAIL  {name}: rows {sn} vs {on}; cols_match={ok_cols}; "
                f"hash {'match' if sh == oh else 'MISMATCH'} [{time.time()-t0:.1f}s]"
            )
            if not ok_cols:
                print(f"      spark cols:  {sorted(scols)}")
                print(f"      oracle cols: {sorted(ocols)}")
            if sn == on and ok_cols and sh != oh:
                # print first differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(norm(r[i]) for i in order_s) for r in srows)
                lo = sorted("\x1f".join(norm(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"      spark : {a[:300]}")
                        print(f"      oracle: {b[:300]}")
                        break
        else:
            print(f"PASS  {name}: {sn} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
