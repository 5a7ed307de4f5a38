"""Python twin of ``scala/Digest.scala``: the same canonical row text and
order-insensitive hash, computed over DuckDB's result rows so that the
oracle's digest can be compared with the one the benchmarked query returns.
"""
import datetime as _dt
import decimal
import hashlib
import struct

_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_TZ = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_MASK = (1 << 64) - 1


def _dbl(x):
    if x == 0.0:
        x = 0.0
    elif x != x:
        x = float("nan")
    return "d:" + format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def _micros(delta):
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def canon(v):
    """Canonical text of one value, as ``Digest.value`` writes it."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:" + ("true" if v else "false")
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        d = v.normalize()
        return "n:" + ("0" if d == 0 else format(d, "f"))
    if isinstance(v, str):
        return f"s{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + v.hex()
    if isinstance(v, _dt.datetime):
        base = _EPOCH_TZ if v.tzinfo is not None else _EPOCH
        return f"t:{_micros(v - base)}"
    if isinstance(v, _dt.date):
        return f"t:{(v - _dt.date(1970, 1, 1)).days * 86_400_000_000}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(v[k])}" for k in sorted(v)) + "}"
    return "?" + str(v)


def row_hash(text):
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    """``{"columns", "rows", "hash"}`` of a result, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = 0
    for r in rows:
        h = (h + row_hash("|".join(canon(r[i]) for i in order))) & _MASK
    return {"columns": [columns[i] for i in order], "rows": len(rows),
            "hash": format(h, "x")}
