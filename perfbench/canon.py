"""Engine-neutral result hashing for the DuckDB goldens.

The JVM side (src/main/scala/graft/perfbench/Canon.scala) implements the
same rules; canon_vectors.json pins both to identical strings, and the
harness refuses to run if its side drifts.
"""
import datetime
import decimal
import hashlib
import math

_SIG10 = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
_INT_LIMIT = decimal.Decimal(10) ** 15
SEP = "\x1f"


def number(d):
    """A non-integer-typed number: exact when integral and below 1e15,
    else 10 significant digits (half-even on the exact value)."""
    if d == 0:
        return "0"
    if d == d.to_integral_value() and abs(d) < _INT_LIMIT:
        return str(int(d))
    r = _SIG10.plus(d).normalize(_SIG10)
    return format(r, "f")


def _timestamp(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return f"{t:%Y-%m-%d %H:%M:%S}.{t.microsecond:06d}"


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return (v.replace("\\", "\\\\").replace("\n", "\\n")
                .replace(SEP, "\\u001f"))
    if isinstance(v, datetime.datetime):
        return _timestamp(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{value(k)}:{value(x)}"
                                     for k, x in v.items())) + "}"
    if isinstance(v, list):
        return "[" + ",".join(value(x) for x in v) + "]"
    return value(str(v))


def result_hash(columns, rows):
    """(row count, hash) of a result given its column names and rows;
    columns are taken in lower-cased name order, rows in sorted order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(SEP.join(value(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode("utf-8")).digest()
    return len(rows), digest[:8].hex()


def parse(tpe, s):
    """A canon_vectors.json input as DuckDB's Python client returns it."""
    return {
        "null": lambda: None,
        "bool": lambda: s == "true",
        "long": lambda: int(s),
        "double": lambda: float(s),
        "decimal": lambda: decimal.Decimal(s),
        "string": lambda: s,
        "date": lambda: datetime.date.fromisoformat(s),
        "timestamp": lambda: datetime.datetime.fromisoformat(s),
    }[tpe]()
