"""Order-independent result checksums, computed the same way in Spark
and in DuckDB so a Spark result can be checked against an oracle
without collecting its rows.

A checksum is ``{"rows": n, "cols": {name: [non_null, value_sum]}}``.
Each column's values map to one number before summing: numbers as
doubles, strings as the first 32 bits of their MD5, booleans as 0/1,
dates and timestamps as epoch seconds (UTC), arrays as their length.
Columns of any other type contribute only their non-null count.
"""

from __future__ import annotations

import math

REL_TOL = 1e-6

_DUCK_NUM = (
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
    "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL",
)


def duck_kind(type_name: str) -> str:
    t = type_name.upper()
    if t.endswith("[]"):
        return "list"
    if t.startswith(_DUCK_NUM):
        return "num"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE" or (t.startswith("TIMESTAMP") and "TIME ZONE" not in t):
        return "time"
    return "other"


def spark_kind(data_type) -> str:
    from pyspark.sql import types as T

    if isinstance(data_type, T.NumericType):
        return "num"
    if isinstance(data_type, T.StringType):
        return "str"
    if isinstance(data_type, T.BooleanType):
        return "bool"
    if isinstance(data_type, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "time"
    if isinstance(data_type, T.ArrayType):
        return "list"
    return "other"


def _duck_value(kind: str, col: str) -> str | None:
    return {
        "num": f"CAST({col} AS DOUBLE)",
        "str": f"CAST(('0x' || substr(md5({col}), 1, 8)) AS BIGINT)",
        "bool": f"CAST({col} AS INTEGER)",
        "time": f"epoch(CAST({col} AS TIMESTAMP))",
        "list": f"len({col})",
    }.get(kind)


def _spark_value(kind: str, col):
    from pyspark.sql import functions as F

    if kind == "num":
        return col.cast("double")
    if kind == "str":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
    if kind == "bool":
        return col.cast("int")
    if kind == "time":
        return F.unix_micros(col.cast("timestamp")).cast("double") / 1e6
    if kind == "list":
        return F.when(col.isNotNull(), F.size(col))
    return None


def _assemble(names: list[str], kinds: list[str], row) -> dict:
    cols, i = {}, 1
    for name, kind in zip(names, kinds):
        non_null = int(row[i])
        i += 1
        total = None
        if _duck_value(kind, "x") is not None:
            total = None if row[i] is None else float(row[i])
            i += 1
        cols[name.lower()] = [non_null, total]
    return {"rows": int(row[0]), "cols": cols}


def spark_checksum_df(df):
    """The one-row aggregate DataFrame whose collect() is the checksum.
    Running it is the op's action: every column of every row is
    computed, and only one row reaches the Spark driver."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1))]
    for f in df.schema.fields:
        col = F.col(f"`{f.name}`")
        aggs.append(F.count(col))
        value = _spark_value(spark_kind(f.dataType), col)
        if value is not None:
            aggs.append(F.sum(value))
    return df.agg(*aggs)


def spark_checksum_from_row(df, row) -> dict:
    names = [f.name for f in df.schema.fields]
    kinds = [spark_kind(f.dataType) for f in df.schema.fields]
    return _assemble(names, kinds, row)


def duck_checksum(con, sql: str) -> dict:
    """Checksum of a DuckDB query's result, computed inside DuckDB."""
    rel = con.sql(sql)
    names = list(rel.columns)
    kinds = [duck_kind(str(t)) for t in rel.dtypes]
    parts = ["count(*)"]
    for name, kind in zip(names, kinds):
        col = '"' + name.replace('"', '""') + '"'
        parts.append(f"count({col})")
        value = _duck_value(kind, col)
        if value is not None:
            parts.append(f"sum({value})")
    row = con.sql(f"SELECT {', '.join(parts)} FROM ({sql}) AS t").fetchone()
    return _assemble(names, kinds, row)


def mismatch(actual: dict, expected: dict, rel_tol: float = REL_TOL) -> str | None:
    """None when the checksums agree, else a one-line description."""
    if actual["rows"] != expected["rows"]:
        return f"rows {actual['rows']} != {expected['rows']}"
    if set(actual["cols"]) != set(expected["cols"]):
        return f"columns {sorted(actual['cols'])} != {sorted(expected['cols'])}"
    for name, (nn, total) in expected["cols"].items():
        a_nn, a_total = actual["cols"][name]
        if a_nn != nn:
            return f"{name}: {a_nn} non-null != {nn}"
        if (a_total is None) != (total is None):
            return f"{name}: sum {a_total} != {total}"
        if total is not None and not math.isclose(
            a_total, total, rel_tol=rel_tol, abs_tol=rel_tol
        ):
            return f"{name}: sum {a_total!r} != {total!r}"
    return None
