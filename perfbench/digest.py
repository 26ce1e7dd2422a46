"""Canonical, order-insensitive result digest.

The same rendering as `Digest` in harness/Harness.scala: numbers compare
as float64 written as their exact decimal expansion (the oracle gate's
own rule), timestamps as UTC wall-clock microseconds, columns in name
order. The digest is the row count plus the sum, modulo 2**64, of the
first 8 bytes (big-endian) of each row's MD5.
"""
import datetime
import decimal
import hashlib
import math


def number(x):
    d = float(x)
    if math.isnan(d):
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == 0.0:
        return "0"
    return format(decimal.Decimal(d).normalize(decimal.Context(prec=2000)), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return number(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def rows(names, rs):
    order = sorted(range(len(names)), key=lambda i: names[i])
    n = 0
    h = 0
    for r in rs:
        line = "\u0001".join(names[i] + "=" + value(r[i]) for i in order)
        h += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    return f"{n}:{h % (1 << 64):016x}"


def query(con, sql):
    """Digest of a DuckDB query's rows."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return rows(names, cur.fetchall())
