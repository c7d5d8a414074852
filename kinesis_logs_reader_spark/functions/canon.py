"""Canonical row serialization for the local parity gate
(tools/check_parity.py, tests/test_queries.py): one definition of how
a cell prints and how a result hashes, independent of row order.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse IEEE signed zero: -0.0 vs 0.0 is not a diff
        # repr of float64 is exact round-trip; both engines produce float64
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash over column-name-sorted cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "\x1f".join(canon_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()
