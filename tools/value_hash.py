"""Value hash of a query result, the comparison every oracle gate applies
(``tools/check_correctness.py`` over the whole registry,
``tests/test_kg_oracles.py`` and ``tests/test_window_session_sweep.py``):
rows sorted, columns sorted by name, floats rounded via repr, bytes as
hex."""

from __future__ import annotations

import hashlib


def _norm_cell(v):
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()
