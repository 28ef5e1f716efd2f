"""Tests for the benchmark's own code: statistics, /proc parsing, op
sequences, the lake shadow model and result checking.

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakebench import checksum, corpus, measure, oracle, workloads  # noqa: E402


# -- statistics ---------------------------------------------------------
def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 1..30
    value, pct = measure.tail(list(reversed(xs)))
    assert value == 20.0  # 10 samples (21..30) lie beyond it
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_too_few_samples_is_the_maximum():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert measure.tail([float(i) for i in range(10)]) == (9.0, 100.0)
    assert measure.tail([float(i) for i in range(11)]) == (0.0, 100 / 11)


def test_geomean_of_type_medians():
    g = measure.geomean_of_medians({"a": [1.0, 3.0, 2.0], "b": [8.0]})
    assert g == pytest.approx(math.sqrt(2.0 * 8.0))


def test_end_to_end_counts_failures_against_attempts():
    rec = measure.Record()
    rec.add("q", 1.0, 2.0, None)
    rec.add("q", 3.0, 4.0, "rows 1 != 2")
    rec.add("r", 2.0, 3.0, None)
    m = measure.end_to_end(rec, setup_s=5.0, storage_amp=1.0)
    assert rec.failed == 1 and rec.errors == ["op 1 q: rows 1 != 2"]
    assert m["success_rate"] == pytest.approx(2 / 3)
    assert m["ops_per_s"] == pytest.approx(3 / 6.0)
    assert m["cpu_s_per_op"] == pytest.approx(3.0)
    assert m["latency_p50_s"] == 2.0
    assert m["latency_geomean_s"] == pytest.approx(math.sqrt(2.0 * 2.0))


def test_throughput_and_cpu_are_medians_over_passes():
    rec = measure.Record()
    for pass_no, (lat, cpu) in enumerate([(1.0, 2.0), (9.0, 30.0), (2.0, 4.0)]):
        rec.add("q", lat, cpu, None, pass_no)
        rec.add("r", lat, cpu, None, pass_no)
    m = measure.end_to_end(rec, setup_s=1.0, storage_amp=1.0)
    assert m["ops_per_s"] == pytest.approx(2 / 4.0)  # pass 2; pass 1 is the outlier
    assert m["cpu_s_per_op"] == pytest.approx(4.0)


# -- /proc --------------------------------------------------------------
def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    rest = " ".join(["0"] * 9)  # fields 5..13
    return f"{pid} ({comm}) S {ppid} {rest} {utime} {stime} {cutime} {cstime} 20 0 1 0"


def test_parse_stat_handles_parens_and_spaces_in_comm():
    assert measure.parse_stat(_stat(42, "java (x) y", 7, 100, 20, 3, 4)) == (42, 7, 127)


def test_tree_ticks_sums_only_descendants():
    procs = {
        10: (1, 5),   # root
        11: (10, 7),  # child
        12: (11, 3),  # grandchild
        13: (1, 1000),  # unrelated
    }
    assert measure.tree_ticks(procs, 10) == 15
    assert measure.tree_ticks(procs, 11) == 10


def test_parse_steal():
    text = "cpu  10 0 20 300 4 0 1 77 0 0\ncpu0 1 0 2 3 0 0 0 9 0 0\n"
    assert measure.parse_steal(text) == 77


def test_live_process_tree_cpu_is_positive():
    assert measure.tree_cpu_s() > 0


# -- op sequences -------------------------------------------------------
def test_query_sequence_is_seeded_whole_passes():
    names = ["a", "b", "c", "d", "e"]
    s1 = workloads.query_sequence(names, 7, 3)
    assert s1 == workloads.query_sequence(names, 7, 3)
    assert s1 != workloads.query_sequence(names, 8, 3)
    for p in range(3):
        assert sorted(op.kind for op in s1[p * 5:(p + 1) * 5]) == names
        assert {op.pass_no for op in s1[p * 5:(p + 1) * 5]} == {p}


def test_lake_sequence_is_seeded_and_ends_passes_with_mor_delete_and_vacuum():
    s1 = workloads.lake_sequence(3, 2, 150000)
    assert s1 == workloads.lake_sequence(3, 2, 150000)
    assert s1 != workloads.lake_sequence(4, 2, 150000)
    per = len(workloads.LAKE_PASS) + 2
    assert len(s1) == 2 * per
    for p in range(2):
        ops = s1[p * per:(p + 1) * per]
        assert [o.kind for o in ops[-2:]] == ["mor_delete_read", "vacuum"]
        assert {o.pass_no for o in ops} == {p}
        assert sorted(o.kind for o in ops[:-2]) == sorted(workloads.LAKE_PASS)
    bases = [o.params["base"] for o in s1 if o.kind == "append"]
    assert bases == [150000, 160000]  # each append gets fresh keys


# -- shadow model -------------------------------------------------------
@pytest.fixture
def src(tmp_path):
    path = str(tmp_path / "lineitem.parquet")
    duckdb.sql(
        """
        COPY (
          SELECT i // 2 AS l_orderkey, 1000 + i AS l_partkey, 7 AS l_suppkey,
                 CAST(i % 2 + 1 AS INTEGER) AS l_linenumber,
                 CAST(i AS DOUBLE) AS l_quantity,
                 CAST(10 * i AS DOUBLE) AS l_extendedprice,
                 CAST(0.05 AS DOUBLE) AS l_discount, CAST(0.01 AS DOUBLE) AS l_tax,
                 'R' AS l_returnflag, 'F' AS l_linestatus,
                 TIMESTAMP '2020-01-01' + INTERVAL (i) DAY AS l_shipdate
          FROM range(20) t(i)
          UNION ALL  -- a repeated (orderkey, linenumber) key
          SELECT 3, 9999, 7, 2, 50.0, 500.0, 0.05, 0.01, 'R', 'F', TIMESTAMP '2021-01-01'
        ) TO '{path}' (FORMAT PARQUET)
        """.format(path=path)
    )
    return path


def test_shadow_apply(src):
    con = duckdb.connect()
    sh = workloads.Shadow(con, src)
    n = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    assert n("SELECT count(*) FROM t") == 21
    # append maps source keys [2, 4) to fresh keys from 100
    assert sh.apply(workloads.Op("append", {"src_lo": 2, "src_hi": 4, "base": 100})) == {"rows": 5}
    assert n("SELECT count(*) FROM t WHERE l_orderkey >= 100") == 5
    assert n("SELECT min(l_orderkey) FROM t WHERE l_orderkey >= 100") == 100
    # copy-on-write delete reports its rows; MoR delete is checked by its read
    assert sh.apply(workloads.Op("cow_delete", {"delete": "l_orderkey < 2 AND l_quantity > 1"})) == {"rows": 2}
    assert sh.apply(workloads.Op("mor_delete_read", {"delete": "l_orderkey = 9", "where": "TRUE"})) == {}
    assert n("SELECT count(*) FROM t WHERE l_orderkey = 9") == 0
    assert sh.apply(workloads.Op("update", {"where": "l_orderkey = 5"})) == {"rows": 2}
    assert n("SELECT count(*) FROM t WHERE l_orderkey = 5 AND l_discount = 0.05::DOUBLE + 0.01") == 2
    # merge over keys [0, 4): the repeated key (3, 2) is left out of the
    # source; keys (1, 1) and (1, 2) were deleted above and come back as
    # inserts, the other five update
    out = sh.apply(workloads.Op("merge", {"src_lo": 0, "src_hi": 4}))
    assert out == {"rows": 7}
    assert n("SELECT count(*) FROM t WHERE l_orderkey = 0") == 2
    assert n("SELECT l_quantity FROM t WHERE l_orderkey = 1 AND l_linenumber = 2") == 4.0
    assert sh.read_sql(workloads.Op("update", {"where": "TRUE"})) is None
    assert sh.checksum(workloads.Op("agg_scan"))["rows"] == n("SELECT count(*) FROM t")


# -- result checks ------------------------------------------------------
def test_corrupted_result_is_a_failure():
    con = duckdb.connect()
    con.execute("CREATE TABLE r AS SELECT i AS k, 'v' || i AS s, i * 0.5 AS x FROM range(100) t(i)")
    good = checksum.duck_checksum(con, "SELECT * FROM r")
    assert checksum.mismatch(good, good) is None
    con.execute("UPDATE r SET s = 'w3' WHERE k = 3")
    assert "s:" in checksum.mismatch(checksum.duck_checksum(con, "SELECT * FROM r"), good)
    con.execute("DELETE FROM r WHERE k = 4")
    bad = checksum.duck_checksum(con, "SELECT * FROM r")
    assert checksum.mismatch(bad, good) == "rows 99 != 100"
    rec = measure.Record()
    rec.add("r", 1.0, 1.0, checksum.mismatch(bad, good))
    assert rec.failed == 1


def test_restated_lsh_oracle_matches_registry():
    from pg_lake_spark.queries import QUERIES

    name = "dd_lsh_candidates"
    for sf_dir in (corpus.TINY, corpus.SMALL):
        con = duckdb.connect()
        corpus.register_duck_views(con, sf_dir)
        want = checksum.duck_checksum(con, QUERIES[name].oracle)
        got = checksum.duck_checksum(con, oracle.oracle_sql(name))
        assert want["rows"] > 0
        assert checksum.mismatch(got, want) is None
