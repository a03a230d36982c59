"""Order-insensitive result fingerprint, computed the same way as
perfbench/src/main/scala/perfbench/Fingerprint.scala: row count, the sum
(mod 2^64) of a 64-bit MD5 prefix of each canonically rendered row, and a
hash of the sorted column names."""
import datetime as dt
import decimal
import hashlib
import math

SEP = "\u001f"
_CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _num(d):
    if d == 0:
        return "0"
    return format(_CTX.plus(d).normalize(_CTX), "f")


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return _num(decimal.Decimal(v))
    if isinstance(v, (int, decimal.Decimal)):
        return _num(decimal.Decimal(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return str((v - _EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def hash64(s):
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def of(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = n = 0
    for r in rows:
        n += 1
        total = (total + hash64(SEP.join(canon(r[i]) for i in order))) % (1 << 64)
    return {"rows": n, "sum": f"{total:016x}",
            "cols": f"{hash64(SEP.join(sorted(columns))):016x}"}
