"""Order-insensitive result fingerprints, checked on every run.

The normalization is that of ``tools/verify_local.py::table_hash`` in
its default (non-strict) mode: floats to 9 significant digits,
timestamps to isoformat, NULL spelled out, rows sorted.  It is copied
here so that the stored fingerprints keep their meaning when the
repository's tools change.

``fingerprints.json`` holds, per scale factor, each workload query's
``{"rows", "cols", "hash"}`` and an ``unstable`` map of queries whose
hash differs between runs of identical code, with the reason; for
those only the row count and the column names are compared.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def of_rows(cols: list[str], rows: list[tuple]) -> dict:
    return {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(cols, rows)}


def fingerprint(df) -> dict:
    """Collect ``df`` and fingerprint its rows."""
    rows = [tuple(r) for r in df.collect()]
    return of_rows(df.columns, rows)


def load_expected(sf: float, path: str = PATH) -> dict:
    """``{name: fingerprint}`` at ``sf``; unstable queries carry
    ``"unstable": reason`` and no hash."""
    with open(path) as f:
        data = json.load(f)[f"sf{sf:g}"]
    out = dict(data["queries"])
    for name, reason in data.get("unstable", {}).items():
        out[name] = {**out[name], "unstable": reason}
        out[name].pop("hash", None)
    return out


def matches(got: dict, want: dict | None) -> tuple[bool, str]:
    if want is None:
        return False, "no stored fingerprint"
    for key in ("rows", "cols", "hash"):
        if key in want and got[key] != want[key]:
            return False, f"{key} {got[key]!r} != stored {want[key]!r}"
    return True, ""
