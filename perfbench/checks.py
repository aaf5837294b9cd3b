"""Output checks. They run outside the timed laps.

Query results are compared by an order-insensitive digest: every cell is
normalised (floats by exact repr, as the oracle gate compares them), columns
are taken in name order, and the sorted row encodings are hashed. The
expected digests in ``expected.json`` were computed once from the DuckDB
oracles (``make_expected.py``); keys without an oracle are checked by row
count.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(rows, colnames) -> dict:
    """``{"rows": n, "sha256": hex}`` over the multiset of rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    head = "\x1f".join(colnames[i] for i in order)
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(head.encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}


def load_json(name: str) -> dict:
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def check_result(key: str, df, expected: dict) -> str | None:
    """Collect ``df`` and compare it with the stored expectation. Returns
    None when it matches, else a one-line reason."""
    exp = expected[key]
    rows = df.collect()
    got = digest(rows, df.columns)
    if got["rows"] != exp["rows"]:
        return f"{key}: {got['rows']} rows, expected {exp['rows']}"
    if "sha256" in exp and got["sha256"] != exp["sha256"]:
        return f"{key}: digest {got['sha256'][:12]} != expected {exp['sha256'][:12]}"
    return None


def csv_rows(path: str) -> int:
    """Data rows in a partitioned CSV directory written with a header line
    per part file."""
    n = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as f:
                n += max(sum(1 for _ in f) - 1, 0)
    return n
