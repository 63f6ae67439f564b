"""Order-insensitive result digest, the Python twin of
perfbench/harness/src/main/scala/perfbench/Digest.scala.

Values are canonicalized the way tools/compare.py compares them: columns
by name, doubles exactly, integral numbers equal whatever their type,
rows as a multiset.
"""
import calendar
import datetime
import decimal
import hashlib
import math
import struct

NULL = "␀"
SEP = "\x1f"
MASK = (1 << 64) - 1


def _dbl(d):
    if math.isnan(d):
        return "NaN"
    if d.is_integer() and abs(d) < 9.2e18:
        return str(int(d))
    return "0x%016x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def _micros(t):
    if t.tzinfo is not None:
        return calendar.timegm(t.utctimetuple()) * 1000000 + t.microsecond
    return calendar.timegm(t.timetuple()) * 1000000 + t.microsecond


def canon(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _dbl(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return str(_micros(v))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def _h(s):
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big", signed=True)


def digest(cols, rows):
    """(row count, 16-hex digest) of a result given its column names."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = _h(SEP.join(cols[i] for i in order))
    n = 0
    for r in rows:
        total += _h(SEP.join(canon(r[i]) for i in order))
        n += 1
    return n, "%016x" % (total & MASK)
