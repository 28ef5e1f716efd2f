"""The three workloads: their set-up, their seeded op sequences, and how
each op runs against the program and is checked.

``analytics`` and ``dataprep`` run registry rows and check each result
against its DuckDB oracle checksum (``expected.json``). ``lake_rw``
runs reads and writes against one lake table and mirrors every op on a
DuckDB shadow table, which checks every read and write count.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

from lakebench import checksum, corpus

LAKE_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity "
    "l_extendedprice l_discount l_tax l_returnflag l_linestatus l_shipdate"
).split()
#: key width of one lake partition (``truncate(PART_WIDTH, l_orderkey)``)
PART_WIDTH = 10000
#: one lake pass, shuffled per pass; every pass then ends with a MoR
#: delete and its read, then a vacuum
LAKE_PASS = ["append", "scan", "cow_delete", "merge", "update", "agg_scan"]


@dataclass(frozen=True)
class Op:
    kind: str
    params: dict = field(default_factory=dict, compare=True, hash=False)
    pass_no: int = 0


def query_sequence(names: list[str], seed: int, passes: int) -> list[Op]:
    """``passes`` whole passes over ``names``, each in its own seeded
    order: every run does the same ops, only their order varies."""
    rng = random.Random(seed)
    out = []
    for pass_no in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.extend(Op(n, pass_no=pass_no) for n in order)
    return out


def lake_sequence(seed: int, passes: int, key_space: int) -> list[Op]:
    """Seeded lake ops over a table whose keys start as ``[0, key_space)``.
    Each pass shuffles ``LAKE_PASS``, then runs a merge-on-read delete
    and a vacuum. The pending delete is last so that the vacuum, not
    whichever write came next, makes it physical: every pass then does
    the same work whatever the order. Every key
    range lies inside one partition (scans: two whole partitions), so
    each op touches the same number of files whatever the seed; which
    partitions is drawn from the seed. Appends map a source key window
    to a fresh partition above every key so far."""
    rng = random.Random(seed)
    w = min(PART_WIDTH, max(3, key_space // 15))  # keys per partition
    top = key_space

    def part(hi: int) -> int:
        """Start key of a random whole partition below ``hi``."""
        return w * rng.randrange(max(1, hi // w))

    def within(width: int, hi: int) -> tuple[int, int]:
        lo = part(hi) + rng.randrange(w - width + 1)
        return lo, lo + width

    out = []
    for pass_no in range(passes):
        order = list(LAKE_PASS)
        rng.shuffle(order)
        for kind in [*order, "mor_delete_read"]:
            if kind == "append":
                lo = part(key_space)
                p = {"src_lo": lo, "src_hi": lo + w, "base": top}
                top += w
            elif kind == "scan":
                lo = part(top - w)
                p = {"where": f"l_orderkey >= {lo} AND l_orderkey < {lo + 2 * w}"}
            elif kind == "mor_delete_read":
                lo, hi = within(w // 3, top)
                p = {
                    "delete": f"l_orderkey >= {lo} AND l_orderkey < {hi}",
                    "where": f"l_orderkey >= {lo - lo % w} AND l_orderkey < {lo - lo % w + w}",
                }
            elif kind == "cow_delete":
                lo, hi = within(w // 5, top)
                p = {"delete": f"l_orderkey >= {lo} AND l_orderkey < {hi} AND l_quantity > 25"}
            elif kind == "merge":
                lo, hi = within(w // 5, key_space)
                p = {"src_lo": lo, "src_hi": hi}
            elif kind == "update":
                lo, hi = within(w // 3, top)
                p = {"where": f"l_orderkey >= {lo} AND l_orderkey < {hi}"}
            else:  # agg_scan
                p = {}
            out.append(Op(kind, p, pass_no))
        out.append(Op("vacuum", pass_no=pass_no))
    return out


# ----------------------------------------------------------------------
# DuckDB shadow of the lake table
# ----------------------------------------------------------------------
def _src_select(src: str, lo: int, hi: int, key_expr: str = "l_orderkey") -> str:
    cols = ", ".join([f"{key_expr} AS l_orderkey", *LAKE_COLS[1:]])
    return (
        f"SELECT {cols} FROM read_parquet('{src}') "
        f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
    )


def _merge_source_sql(src: str, p: dict) -> str:
    # MERGE needs a key-unique source; (l_orderkey, l_linenumber) repeats
    # in the corpus, so only keys that occur once take part
    return (
        f"SELECT * REPLACE (l_quantity + 1 AS l_quantity, "
        f"l_extendedprice + 1.5 AS l_extendedprice) "
        f"FROM ({_src_select(src, p['src_lo'], p['src_hi'])}) "
        f"QUALIFY count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1"
    )


class Shadow:
    """The lake table's expected state, as a DuckDB table ``t`` that the
    same seeded ops are applied to. ``apply`` returns the rows each write
    affected; ``read_sql`` the query a read op must match."""

    def __init__(self, con, src: str):
        self.con = con
        self.src = src
        con.execute(f"CREATE OR REPLACE TABLE t AS SELECT {', '.join(LAKE_COLS)} FROM read_parquet('{src}')")

    def _n(self, sql: str) -> int:
        return self.con.execute(sql).fetchone()[0]

    def apply(self, op: Op) -> dict:
        p = op.params
        if op.kind == "append":
            key = f"l_orderkey - {p['src_lo']} + {p['base']}"
            return {"rows": self._n(f"INSERT INTO t {_src_select(self.src, p['src_lo'], p['src_hi'], key)}")}
        if op.kind == "mor_delete_read":  # checked by its read
            self.con.execute(f"DELETE FROM t WHERE {p['delete']}")
            return {}
        if op.kind == "cow_delete":
            return {"rows": self._n(f"DELETE FROM t WHERE {p['delete']}")}
        if op.kind == "update":
            return {"rows": self._n(f"UPDATE t SET l_discount = l_discount + 0.01 WHERE {p['where']}")}
        if op.kind == "merge":
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE s AS {_merge_source_sql(self.src, p)}")
            on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
            upd = self._n(
                "UPDATE t SET l_quantity = s.l_quantity, l_extendedprice = s.l_extendedprice "
                f"FROM s WHERE {on}"
            )
            ins = self._n(f"INSERT INTO t SELECT * FROM s WHERE NOT EXISTS (SELECT 1 FROM t WHERE {on})")
            return {"rows": upd + ins}
        return {}

    @staticmethod
    def read_sql(op: Op) -> str | None:
        if op.kind in ("scan", "mor_delete_read"):
            return f"SELECT * FROM t WHERE {op.params['where']}"
        if op.kind in ("agg_scan", "vacuum"):
            return "SELECT * FROM t"
        return None

    def checksum(self, op: Op) -> dict | None:
        sql = self.read_sql(op)
        return None if sql is None else checksum.duck_checksum(self.con, sql)


# ----------------------------------------------------------------------
# Spark side
# ----------------------------------------------------------------------
class Runner:
    """Runs ops against the program. One per Spark session."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.table = None
        #: the last op's scan report and checksum DataFrame, for tracing
        self.scan_report = None
        self.last_df = None

    # -- query rows ----------------------------------------------------
    def run_query(self, op_id: int, name: str, sf_dir: str) -> dict:
        from pg_lake_spark.queries import QUERIES

        span = self.tracer.span
        self.sc.setJobGroup(f"b{op_id}", name)
        with span("queries.build"):
            df = QUERIES[name].fn(self.spark, sf_dir)
        self.sc.setJobGroup(f"x{op_id}", name)
        return self._checksum(df)

    def _checksum(self, df) -> dict:
        span = self.tracer.span
        cdf = checksum.spark_checksum_df(df)
        with span("plans.plan"):
            cdf._jdf.queryExecution().executedPlan()
        with span("exec"):
            row = cdf.collect()[0]
        self.last_df = cdf
        return checksum.spark_checksum_from_row(df, row)

    # -- lake table ----------------------------------------------------
    def create_table(self, location: str, src: str) -> None:
        from pg_lake_spark.lakehouse.table import LakeTable

        df = self.spark.read.parquet(src).select(*LAKE_COLS)
        self.table = LakeTable.create_from_dataframe(
            self.spark, location, df, partition_by=[f"truncate({PART_WIDTH}, l_orderkey)"]
        )

    def _src_df(self, src: str, lo: int, hi: int):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(src).select(*LAKE_COLS).where(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
        )

    def _scan(self, where: str | None):
        with self.tracer.span("lakehouse.scan"):
            df = self.table.scan(where=where)
        self.scan_report = self.table.last_scan_report
        return df

    def run_lake(self, op_id: int, op: Op, src: str) -> dict:
        """Run one lake op; returns ``{"rows": n}`` for writes (rows the
        program reports it changed) and ``{"checksum": …}`` for reads."""
        from pg_lake_spark.lakehouse import maintenance
        from pyspark.sql import functions as F

        t, p, span = self.table, op.params, self.tracer.span
        self.sc.setJobGroup(f"x{op_id}", op.kind)
        self.scan_report = None
        out: dict = {}
        if op.kind == "append":
            df = self._src_df(src, p["src_lo"], p["src_hi"]).withColumn(
                "l_orderkey", F.col("l_orderkey") - p["src_lo"] + p["base"]
            )
            with span("lakehouse.append"):
                snap = t.append(df)
            out["rows"] = snap.summary["added_rows"]
        elif op.kind == "scan":
            out["checksum"] = self._checksum(self._scan(p["where"]))
        elif op.kind == "mor_delete_read":
            with span("lakehouse.delete_mor"):
                t.delete(p["delete"], mode="mor")
            out["checksum"] = self._checksum(self._scan(p["where"]))
        elif op.kind == "cow_delete":
            with span("lakehouse.delete_cow"):
                out["rows"] = t.delete(p["delete"], mode="cow")["deleted_rows"]
        elif op.kind == "update":
            with span("lakehouse.update"):
                out["rows"] = t.update({"l_discount": "l_discount + 0.01"}, where=p["where"])["updated_rows"]
        elif op.kind == "merge":
            from pyspark.sql import Window

            # the same key-unique source as the shadow's _merge_source_sql
            key = Window.partitionBy("l_orderkey", "l_linenumber")
            src_df = self._src_df(src, p["src_lo"], p["src_hi"])
            src_df = src_df.withColumn("_n", F.count(F.lit(1)).over(key)).where("_n = 1").select(
                *[
                    (F.col(c) + 1).alias(c) if c == "l_quantity"
                    else (F.col(c) + 1.5).alias(c) if c == "l_extendedprice"
                    else F.col(c)
                    for c in LAKE_COLS
                ]
            )
            with span("lakehouse.merge"):
                res = t.merge(
                    src_df,
                    on=["l_orderkey", "l_linenumber"],
                    when_matched_update={
                        "l_quantity": "s.l_quantity",
                        "l_extendedprice": "s.l_extendedprice",
                    },
                )
            out["rows"] = res["updated_rows"] + res["inserted_rows"]
        elif op.kind == "agg_scan":
            out["checksum"] = self._checksum(self._scan(None))
        elif op.kind == "vacuum":
            with span("lakehouse.vacuum"):
                maintenance.vacuum(t, max_snapshot_age_s=0, deletion_retention_s=0)
            out["checksum"] = self._checksum(self._scan(None))
        else:
            raise ValueError(f"unknown lake op {op.kind}")
        return out


def lake_mismatch(actual: dict, shadow_out: dict, shadow_sum: dict | None) -> str | None:
    """Compare one lake op's outputs with the shadow's."""
    if "rows" in shadow_out and actual.get("rows") != shadow_out["rows"]:
        return f"changed rows {actual.get('rows')} != {shadow_out['rows']}"
    if shadow_sum is not None:
        if "checksum" not in actual:
            return "read returned no checksum"
        return checksum.mismatch(actual["checksum"], shadow_sum)
    return None


def dir_files(path: str) -> dict[str, int]:
    """Every file under ``path`` with its size in bytes."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            try:
                out[fp] = os.path.getsize(fp)
            except OSError:
                pass
    return out


def fresh_dir(path: str) -> str:
    """An empty directory at ``path``; whatever was there is removed."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
