"""Order-insensitive content digest of a result, as `Digest.scala` computes it.

Every row renders to a canonical string (columns sorted by name, values
joined by U+001F), is hashed with MD5, and the first 8 bytes of each hash
are summed modulo 2**64. An integral number below 1e15 renders as an
integer; any other number is rounded to 9 significant digits (half-even,
on its exact binary value), so a double and a decimal of equal value
render alike.
"""
import datetime
import decimal
import hashlib
import math

_SIG = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
_INT_LIMIT = decimal.Decimal("1e15")


def num_decimal(d):
    if d == 0:
        return "0"
    n = d.normalize(decimal.Context(prec=200))
    if n.as_tuple().exponent >= 0 and abs(n) < _INT_LIMIT:
        return str(int(n))
    r = _SIG.create_decimal(d).normalize(_SIG)
    return format(r, "f")


def num_float(x):
    if math.isnan(x):
        return "nan"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    return num_decimal(decimal.Decimal(x))


def _timestamp(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    return s + (".%06d" % t.microsecond if t.microsecond else "")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num_float(v)
    if isinstance(v, decimal.Decimal):
        return num_decimal(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return _timestamp(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))   # DuckDB MAP, older form
            return "<" + ",".join(sorted(f"{value(k)}:{value(x)}"
                                         for k, x in v.items())) + ">"
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def row(values):
    """`values` in column-name order."""
    return "\x1f".join(value(v) for v in values)


def hash64(s):
    h = hashlib.md5(s.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big", signed=False)


def of(columns, rows):
    """(row count, digest) of `rows` whose columns are named `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        n += 1
        total = (total + hash64(row([r[i] for i in order]))) % (1 << 64)
    return n, format(total, "016x")
