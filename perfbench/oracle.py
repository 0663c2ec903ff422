"""Order-independent result summaries and their comparison.

A summary holds the column names (sorted), a canonical type per column,
the row count, and the sum (mod 2**128) of a 128-bit hash of every row.
The harness computes the same summary from Spark rows
(`harness/src/main/scala/perfbench/Canon.scala`); this module computes it
from DuckDB results and compares two summaries.
"""
import datetime
import decimal
import hashlib
import math
import struct

MOD = 1 << 128

_TYPES = {
    "boolean": "bool", "tinyint": "i8", "smallint": "i16", "integer": "i32",
    "bigint": "i64", "float": "f32", "double": "f64", "varchar": "str",
    "date": "date", "timestamp": "ts", "timestamp with time zone": "ts",
}


def type_name(t):
    """Canonical name of a DuckDB Python type."""
    if t.id == "decimal":
        kids = dict(t.children)
        return f"dec({kids['precision']},{kids['scale']})"
    return _TYPES.get(t.id, str(t))


def _field(text):
    return f"{len(text.encode('utf-8'))}:{text}"


def _micros(v):
    if v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)


def value(v, t):
    """Canonical text of one value of canonical type `t`."""
    if v is None:
        return "N"
    if t in ("f32", "f64"):
        v = float(v)
        if math.isnan(v):
            return "VNaN"
        return "V" + struct.pack(">d", 0.0 if v == 0 else v).hex()
    if t.startswith("dec("):
        d = decimal.Decimal(v)
        return "V" + format(abs(d) if d.is_zero() else d, "f")
    if t == "bool":
        return "Vtrue" if v else "Vfalse"
    if t == "date":
        return "V" + v.isoformat()
    if t == "ts":
        return "V" + str(_micros(v))
    return "V" + str(v)


def summarize(cols, types, rows, positional=False):
    """Summary of `rows` (tuples in `cols` order) with canonical `types`.

    Column names an engine gives unaliased expressions differ between
    Spark and DuckDB; `positional` names the columns c000, c001, ...
    """
    if positional:
        cols = [f"c{i:03d}" for i in range(len(cols))]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    acc = 0
    for r in rows:
        text = "".join(_field(value(r[i], types[i])) for i in order)
        acc += int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:16], "big")
    return {"cols": [cols[i] for i in order], "types": [types[i] for i in order],
            "rows": len(rows), "digest": format(acc % MOD, "x")}


def duckdb_summary(con, sql, positional=False):
    """Summary of `sql` run by DuckDB."""
    rel = con.sql(sql)
    return summarize(list(rel.columns), [type_name(t) for t in rel.types], rel.fetchall(),
                     positional)


def compare(expected, got):
    """None when the summaries agree, else what differs."""
    if expected["cols"] != got["cols"]:
        return f"columns {got['cols']} != expected {expected['cols']}"
    if expected["types"] != got["types"]:
        return f"types {got['types']} != expected {expected['types']}"
    if expected["rows"] != got["rows"]:
        return f"{got['rows']} rows != expected {expected['rows']}"
    if expected["digest"] != got["digest"]:
        return "values differ"
    return None
