"""Order-insensitive result fingerprints and a tolerant row comparison.

Spark's ``collect()`` and DuckDB's ``fetchall()`` return the same values in
different Python shapes (``Row`` vs ``dict`` structs, ``Decimal`` vs float,
row order). ``normalize`` maps one result onto a canonical list of tuples
(columns sorted by name, rows sorted), ``fingerprint`` condenses it to
``(row count, digest)``, and ``same_rows`` decides equality with a float
tolerance, so a last-bit difference in a float fold is not a mismatch.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from collections.abc import Iterable, Sequence
from decimal import Decimal

REL_TOL = 1e-9
ABS_TOL = 1e-12


def _value(v):
    """Canonical, comparable form of one result cell."""
    if v is None or isinstance(v, (str, bool, int)):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else (0.0 if v == 0 else v)
    if isinstance(v, Decimal):
        return _value(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # pyspark Row (a struct): compare by field name
        return _value(v.asDict())
    if isinstance(v, dict):
        return tuple(sorted(((str(k), _value(x)) for k, x in v.items()), key=repr))
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _value(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    return repr(v)


def _sort_key(v):
    """Sort key that ignores float noise below six significant digits."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (1, float(f"{v:.6g}"))
    if isinstance(v, tuple):
        return (2, tuple(_sort_key(x) for x in v))
    return (3, str(v))


def normalize(columns: Sequence[str], rows: Iterable[Sequence]) -> list[tuple]:
    """Rows as tuples over the columns sorted by name, in canonical order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return out


def _digest_repr(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, tuple):
        return "(" + ",".join(_digest_repr(x) for x in v) + ")"
    return repr(v)


def fingerprint(norm_rows: Sequence[tuple]) -> tuple[int, str]:
    """``(row count, digest)`` of normalized rows; floats enter the digest
    at six significant digits."""
    h = hashlib.sha1()
    for r in norm_rows:
        h.update(_digest_repr(r).encode())
        h.update(b"\n")
    return len(norm_rows), h.hexdigest()[:16]


def _same(a, b) -> bool:
    if a == b:
        return True
    if isinstance(a, bool) or isinstance(b, bool):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return False


def same_rows(a: Sequence[tuple], b: Sequence[tuple]) -> bool:
    """Equal normalized results, floats within a relative 1e-9."""
    return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
