"""Python twin of perfbench/src/main/scala/perfbench/Digest.scala: the
same canonical rendering and order-insensitive digest, for result sets
read back from DuckDB."""

import datetime
import decimal
import hashlib

_SIG = decimal.Context(prec=8, rounding=decimal.ROUND_HALF_UP)
_EPOCH = datetime.datetime(1970, 1, 1)


def _number(d):
    if d == 0:
        return "0e0"
    r = _SIG.plus(d).normalize(_SIG)
    sign, digits, exp = r.as_tuple()
    return ("-" if sign else "") + "".join(map(str, digits)) + f"e{exp}"


def _exact_int(x):
    if abs(x) < 100_000_000:
        return _number(decimal.Decimal(x))
    d = decimal.Decimal(x).normalize(decimal.Context(prec=100))
    sign, digits, exp = d.as_tuple()
    return ("-" if sign else "") + "".join(map(str, digits)) + f"e{exp}"


def _micros(ts):
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    delta = ts - _EPOCH
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1e0" if v else "0e0"
    if isinstance(v, int):
        return _exact_int(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return str(_micros(v))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return str(v)


def row_hash(s):
    return int.from_bytes(hashlib.sha1(s.encode("utf-8")).digest()[:8], "big", signed=True)


def digest(names, rows):
    order = [i for _, i in sorted((n, i) for i, n in enumerate(names))]
    n = 0
    total = 0
    for r in rows:
        n += 1
        total = (total + row_hash("\u0001".join(canon(r[i]) for i in order))) % (1 << 64)
    return f"{n}:{total:016x}"
