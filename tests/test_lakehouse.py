"""Lakehouse layer tests: transforms (spec vectors), DDL/DML lifecycle,
snapshots/time travel, partition + stats pruning, vacuum.

Reference test analogues: test_data_file_pruning.py,
test_partition_pruning.py, iceberg spec appendix test vectors for
bucket hashing, writes.md lifecycle, FIXTURES.md §6 scenario.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from pg_lake_spark.lakehouse import maintenance
from pg_lake_spark.lakehouse.catalog import DataFile
from pg_lake_spark.lakehouse.pruning import parse_where, prune_files
from pg_lake_spark.lakehouse.table import LakeTable
from pg_lake_spark.lakehouse.transforms import (
    bucket_col,
    bucket_py,
    day_py,
    month_py,
    murmur3_32,
    murmur3_32_long_col,
    parse_transform,
    truncate_py,
    year_py,
)


# ---------------------------------------------------------------------------
# Transforms
# ---------------------------------------------------------------------------

def test_murmur3_spec_vectors():
    """Iceberg spec appendix B: hash results the bucket transform must
    produce (int/long 34 → 2017239379, string 'iceberg' → 1210000089)."""
    import struct

    assert murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_32(b"iceberg") == 1210000089


def test_bucket_py_matches_spec():
    assert bucket_py(34, 100) == 2017239379 % 100
    assert bucket_py("iceberg", 16) == 1210000089 % 16


def test_murmur3_col_matches_python(spark):
    vals = [0, 1, -1, 34, 12345678901234, -987654321, 2**62, -(2**62)]
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    got = {r.v: r.h for r in df.select("v", murmur3_32_long_col(F.col("v")).alias("h")).collect()}
    import struct

    for v in vals:
        assert got[v] == murmur3_32(struct.pack("<q", v)), f"mismatch for {v}"


def test_bucket_col_matches_python(spark):
    df = spark.createDataFrame([(v,) for v in range(-50, 50)], "v bigint")
    rows = df.select("v", bucket_col(F.col("v"), 8, "bigint").alias("b")).collect()
    for r in rows:
        assert r.b == bucket_py(r.v, 8)
        assert 0 <= r.b < 8


def test_temporal_transforms():
    from datetime import date, datetime

    ts = datetime(2024, 3, 15, 7, 30)
    assert year_py(ts) == 54
    assert month_py(ts) == 54 * 12 + 2
    assert day_py(date(1970, 1, 2)) == 1
    assert truncate_py(17, 10) == 10
    assert truncate_py(-7, 10) == -10
    assert truncate_py("hello world", 5) == "hello"


def test_parse_transform():
    assert parse_transform("day(ts)") == ("day", None, "ts")
    assert parse_transform("bucket(8, id)") == ("bucket", 8, "id")
    assert parse_transform("plain_col") == ("identity", None, "plain_col")
    assert parse_transform("years(ts)") == ("year", None, "ts")


# ---------------------------------------------------------------------------
# Pruning unit tests
# ---------------------------------------------------------------------------

def _df(path, lo, hi, nulls=0, rows=100, partition=None):
    return DataFile(
        path=path,
        row_count=rows,
        size_bytes=1000,
        partition=partition or {},
        stats={"x": {"min": lo, "max": hi, "null_count": nulls}},
    )


def test_stats_pruning():
    files = [_df("a", 0, 10), _df("b", 11, 20), _df("c", 21, 30)]
    kept, skipped = prune_files(files, parse_where("x > 15"), [])
    assert {f.path for f in kept} == {"b", "c"} and skipped == 1
    kept, _ = prune_files(files, parse_where("x = 5"), [])
    assert {f.path for f in kept} == {"a"}
    kept, _ = prune_files(files, parse_where("x BETWEEN 8 AND 12"), [])
    assert {f.path for f in kept} == {"a", "b"}
    kept, _ = prune_files(files, parse_where("x IN (25, 99)"), [])
    assert {f.path for f in kept} == {"c"}


def test_null_pruning():
    files = [_df("no_nulls", 0, 10, nulls=0), _df("all_nulls", None, None, nulls=100)]
    files[1].stats["x"] = {"min": None, "max": None, "null_count": 100}
    kept, _ = prune_files(files, [("x", "is_null", None)], [])
    assert {f.path for f in kept} == {"all_nulls"}
    kept, _ = prune_files(files, [("x", "not_null", None)], [])
    assert {f.path for f in kept} == {"no_nulls"}


def test_partition_bucket_pruning():
    spec = [{"transform": "bucket", "param": 8, "column": "x"}]
    files = [
        DataFile(path=f"b{b}", row_count=10, size_bytes=1, partition={"x_bucket8": b}, stats={})
        for b in range(8)
    ]
    kept, skipped = prune_files(files, [("x", "=", 34)], spec)
    assert len(kept) == 1 and kept[0].partition["x_bucket8"] == bucket_py(34, 8)
    assert skipped == 7


def test_partition_day_pruning():
    from datetime import datetime

    spec = [{"transform": "day", "param": None, "column": "ts"}]
    files = [
        DataFile(path=f"d{d}", row_count=10, size_bytes=1, partition={"ts_day": d}, stats={})
        for d in (19700, 19701, 19702)
    ]
    cutoff = datetime(2023, 12, 10)  # day 19701
    kept, _ = prune_files(files, [("ts", ">=", cutoff)], spec)
    assert {f.path for f in kept} == {"d19701", "d19702"}


def test_unparseable_where_keeps_all():
    assert parse_where("x > 5 AND (y = 1 OR z = 2)") is None
    files = [_df("a", 0, 10)]
    kept, skipped = prune_files(files, None, [])
    assert len(kept) == 1 and skipped == 0


def test_disjunction_and_dirty_literal_disable_pruning():
    # top-level OR: only a pure conjunction prunes soundly
    assert parse_where("x = 5 OR y = 2") is None
    # previously "msg = 'x' OR id = 2" parsed as ONE conjunct whose
    # value was the garbage literal "'x' OR id = 2" — pruning every file
    assert parse_where("msg = 'x' OR id = 2") is None
    # OR inside a string literal is fine — still a clean conjunction
    assert parse_where("msg = 'a OR b'") == [("msg", "=", "a OR b")]
    # expression right-hand sides are not one clean literal → no pruning
    assert parse_where("msg = 'a' || 'b'") is None
    assert parse_where("x = 1 + 2") is None


# ---------------------------------------------------------------------------
# Table lifecycle
# ---------------------------------------------------------------------------

@pytest.fixture()
def events_df(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(days=i % 3, hours=i % 5), i % 7, f"type{i % 4}", float(i))
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double"
    )


def test_create_append_read(spark, events_df, tmp_path):
    loc = str(tmp_path / "t1")
    t = LakeTable.create_from_dataframe(spark, loc, events_df)
    assert t.to_df().count() == 200
    t.append(events_df.limit(50))
    assert t.refresh().to_df().count() == 250
    # reload from disk
    t2 = LakeTable.load(spark, loc)
    assert t2.to_df().count() == 250
    assert [s.operation for s in t2.metadata.snapshots] == ["append", "append"]


def test_snapshot_time_travel(spark, events_df, tmp_path):
    loc = str(tmp_path / "t2")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(100))
    t.append(events_df.limit(30))
    assert t.to_df(snapshot_id=1).count() == 100
    assert t.to_df(snapshot_id=2).count() == 130
    snap1 = t.metadata.snapshot_by_id(1)
    assert t.to_df(as_of_ms=snap1.timestamp_ms).count() == 100


def test_partitioned_write_and_pruning(spark, events_df, tmp_path):
    loc = str(tmp_path / "t3")
    t = LakeTable.create(
        spark,
        loc,
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double",
        partition_by=["day(ts)", "bucket(4, user_id)"],
    )
    t.append(events_df)
    # 3 days × ≤4 buckets
    files = t.files().collect()
    assert len(files) >= 3
    df = t.scan(where="ts >= '2024-01-03'")
    rep = t.last_scan_report
    assert rep.files_skipped > 0, "day partition must prune older days"
    expected = events_df.filter(F.col("ts") >= F.lit("2024-01-03").cast("timestamp_ntz")).count()
    assert df.count() == expected
    # bucket equality pruning
    t.scan(where="user_id = 3")
    rep2 = t.last_scan_report
    assert rep2.files_skipped > 0, "bucket partition must prune other buckets"


def test_delete_metadata_only_and_cow(spark, events_df, tmp_path):
    loc = str(tmp_path / "t4")
    t = LakeTable.create(
        spark,
        loc,
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double",
        partition_by=["day(ts)"],
    )
    t.append(events_df)
    total = events_df.count()
    day1 = events_df.filter(F.col("ts") < F.lit("2024-01-02").cast("timestamp_ntz")).count()
    # whole-day delete → metadata-only (file stats prove full match)
    res = t.delete("ts < '2024-01-02'")
    assert res["deleted_rows"] == day1
    assert res["dropped_files"] >= 1 and res["rewritten_files"] == 0
    assert t.to_df().count() == total - day1
    # partial delete → copy-on-write
    res2 = t.delete("event_id = 100")
    assert res2["deleted_rows"] in (0, 1)
    if res2["deleted_rows"]:
        assert res2["rewritten_files"] >= 1
    assert t.to_df().count() == total - day1 - res2["deleted_rows"]


def test_update_cow(spark, events_df, tmp_path):
    loc = str(tmp_path / "t5")
    t = LakeTable.create_from_dataframe(spark, loc, events_df)
    res = t.update({"value": "value * 10"}, where="user_id = 3")
    n3 = events_df.filter("user_id = 3").count()
    assert res["updated_rows"] == n3
    got = t.to_df().filter("user_id = 3").agg(F.sum("value")).collect()[0][0]
    want = (
        events_df.filter("user_id = 3").agg(F.sum(F.col("value") * 10)).collect()[0][0]
    )
    assert abs(got - want) < 1e-6
    # untouched rows unchanged
    got_other = t.to_df().filter("user_id = 0").agg(F.sum("value")).collect()[0][0]
    want_other = events_df.filter("user_id = 0").agg(F.sum("value")).collect()[0][0]
    assert abs(got_other - want_other) < 1e-6


def test_schema_evolution(spark, events_df, tmp_path):
    loc = str(tmp_path / "t6")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.select("event_id", "value"))
    t.add_column("tag", "string")
    df = t.to_df()
    assert "tag" in df.columns
    assert df.filter(F.col("tag").isNull()).count() == 200  # backfilled NULL
    t.drop_column("value")
    assert "value" not in t.to_df().columns
    with pytest.raises(ValueError):
        t.add_column("tag", "string")


def test_vacuum(spark, events_df, tmp_path):
    loc = str(tmp_path / "t7")
    t = LakeTable.create(
        spark, loc, "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double"
    )
    for i in range(5):  # 5 tiny appends → 5+ small files
        t.append(events_df.limit(20))
    n_before = len(t.files().collect())
    assert n_before >= 5
    res = maintenance.compact_data_files(t, target_file_size_mb=64, min_input_files=2)
    assert res["removed_files"] >= 5 and res["added_files"] >= 1
    assert t.to_df().count() == 100  # data preserved
    # expire everything but current → old files queue up
    res2 = maintenance.expire_snapshots(t, max_age_s=0)
    assert res2["expired"] >= 1
    assert len(t.metadata.deletion_queue) > 0
    # purge with zero retention physically deletes
    import os

    queued = [e["path"] for e in t.metadata.deletion_queue]
    res3 = maintenance.purge_deletion_queue(t, retention_s=0)
    assert res3["purged"] == len(queued)
    assert all(not os.path.exists(p) for p in queued)
    assert t.to_df().count() == 100  # current snapshot untouched


def test_concurrent_commit_conflict(spark, events_df, tmp_path):
    from pg_lake_spark.lakehouse import catalog as cat

    loc = str(tmp_path / "t8")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(10))
    stale = cat.read_current_metadata(loc)
    t.append(events_df.limit(5))  # advances version
    stale.snapshots = stale.snapshots[:1]
    with pytest.raises(RuntimeError, match="concurrent commit"):
        cat.commit_metadata(loc, stale)


# ---------------------------------------------------------------------------
# MERGE INTO
# ---------------------------------------------------------------------------

def _mk_kv_table(spark, tmp_path, name="merge_t"):
    df = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(1, 11)], "id bigint, name string, val double"
    )
    return LakeTable.create_from_dataframe(spark, str(tmp_path / name), df)


def test_merge_upsert(spark, tmp_path):
    t = _mk_kv_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(5, "five", 50.0), (10, "ten", 100.0), (11, "new", 11.0), (12, "new", 12.0)],
        "id bigint, name string, val double",
    )
    res = t.merge(
        src, on=["id"], when_matched_update={"name": "s.name", "val": "t.val + s.val"}
    )
    assert res["updated_rows"] == 2
    assert res["inserted_rows"] == 2
    rows = {r.id: (r.name, r.val) for r in t.to_df().collect()}
    assert len(rows) == 12
    assert rows[5] == ("five", 55.0)
    assert rows[10] == ("ten", 110.0)
    assert rows[11] == ("new", 11.0)
    assert rows[1] == ("v1", 1.0)  # untouched row survives


def test_merge_delete_matched(spark, tmp_path):
    t = _mk_kv_table(spark, tmp_path)
    src = spark.createDataFrame([(3,), (4,), (99,)], "id bigint")
    # delete matched, no insert (source lacks non-key columns anyway)
    res = t.merge(
        src.selectExpr("id", "'x' AS name", "0.0 AS val"),
        on=["id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert res["deleted_rows"] == 2
    assert res["inserted_rows"] == 0
    ids = {r.id for r in t.to_df().collect()}
    assert ids == {1, 2, 5, 6, 7, 8, 9, 10}


def test_merge_prunes_untouched_files(spark, tmp_path):
    """Files whose key range cannot match the source stay untouched
    (metadata-only), mirroring the delete() fast path."""
    loc = str(tmp_path / "pruned_merge")
    t = LakeTable.create(spark, loc, "id bigint, val double")
    # three appends → three files with disjoint id ranges
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, float(i)) for i in range(10)], "id bigint, val double"
            ).coalesce(1)
        )
    src = spark.createDataFrame([(205, 5000.0), (206, 6000.0)], "id bigint, val double")
    res = t.merge(src, on=["id"], when_matched_update={"val": "s.val"})
    assert res["updated_rows"] == 2
    assert res["untouched_files"] >= 2  # 0-9 and 100-109 files not rewritten
    rows = {r.id: r.val for r in t.to_df().collect()}
    assert rows[205] == 5000.0 and rows[206] == 6000.0
    assert rows[0] == 0.0 and rows[100] == 0.0
    assert len(rows) == 30


def test_merge_insert_only_when_no_file_can_match(spark, tmp_path):
    """Source keys outside every file's stats: no candidate file, so the
    target side is an empty frame (still carrying the row-id columns);
    all source rows insert and none of the id columns leak out."""
    t = _mk_kv_table(spark, tmp_path, "merge_nocand")
    before = _live_paths(t)
    src = spark.createDataFrame([(50, "x", 5.0), (51, "y", 6.0)], "id bigint, name string, val double")
    res = t.merge(src, on=["id"], when_matched_update={"val": "s.val"})
    assert (res["updated_rows"], res["inserted_rows"], res["rewritten_files"]) == (0, 2, 0)
    assert before <= _live_paths(t)
    assert t.to_df().columns == ["id", "name", "val"]
    assert t.to_df().count() == 12


def test_merge_row_identity_spans_files(spark, tmp_path):
    """The matched-row identity is (file, position): rows at the same
    position in different candidate files are distinct rows, each
    updated once."""
    loc = str(tmp_path / "merge_rid")
    t = LakeTable.create(spark, loc, "id bigint, val double")
    for lo in (0, 10):
        t.append(
            spark.createDataFrame(
                [(lo + i, float(i)) for i in range(3)], "id bigint, val double"
            ).coalesce(1)
        )
    # ids 0 and 10 both sit at position 0 of their file
    src = spark.createDataFrame([(0, 100.0), (10, 110.0)], "id bigint, val double")
    res = t.merge(src, on=["id"], when_matched_update={"val": "s.val"})
    assert (res["updated_rows"], res["inserted_rows"]) == (2, 0)
    rows = sorted((r.id, r.val) for r in t.to_df().collect())
    assert rows == [(0, 100.0), (1, 1.0), (2, 2.0), (10, 110.0), (11, 1.0), (12, 2.0)]


def test_merge_snapshot_isolation(spark, tmp_path):
    """Old snapshot still reads pre-merge data (time travel)."""
    t = _mk_kv_table(spark, tmp_path)
    pre = t.metadata.current_snapshot().snapshot_id
    t.merge(
        spark.createDataFrame([(1, "one", -1.0)], "id bigint, name string, val double"),
        on=["id"],
        when_matched_update={"val": "s.val"},
    )
    assert {r.val for r in t.to_df(snapshot_id=pre).filter("id = 1").collect()} == {1.0}
    assert {r.val for r in t.to_df().filter("id = 1").collect()} == {-1.0}


# ---------------------------------------------------------------------------
# Merge-on-read deletes
# ---------------------------------------------------------------------------

def test_mor_delete_is_metadata_only(spark, tmp_path):
    t = _mk_kv_table(spark, tmp_path, "mor1")
    files_before = {r.path for r in t.files().collect()}
    res = t.delete("id <= 3", mode="mor")
    assert res["mode"] == "mor"
    # no data files touched, but readers see the rows gone
    assert {r.path for r in t.files().collect()} == files_before
    assert {r.id for r in t.to_df().collect()} == set(range(4, 11))


def test_mor_delete_time_travel(spark, tmp_path):
    t = _mk_kv_table(spark, tmp_path, "mor2")
    pre = t.metadata.current_snapshot().snapshot_id
    t.delete("id > 8", mode="mor")
    assert t.to_df().count() == 8
    assert t.to_df(snapshot_id=pre).count() == 10  # pre-delete snapshot unaffected


def test_mor_materialize_preserves_history(spark, tmp_path):
    t = _mk_kv_table(spark, tmp_path, "mor3")
    t.delete("id IN (1, 2)", mode="mor")
    mor_snap = t.metadata.current_snapshot().snapshot_id
    out = t.materialize_deletes()
    assert out["materialized"] == 1
    assert t.to_df().count() == 8                       # physical now
    assert t.active_delete_predicates() == []           # predicate retired
    assert t.to_df(snapshot_id=mor_snap).count() == 8   # MoR-era read still filtered


def _mk_parted(spark, tmp_path, name):
    """Four partitions of 100 keys (``truncate(100, k)``), one data file
    each; ``v`` is NULL on every 10th row."""
    df = spark.createDataFrame(
        [(k, None if k % 10 == 0 else k % 50) for k in range(400)], "k bigint, v int"
    )
    return LakeTable.create_from_dataframe(
        spark, str(tmp_path / name), df, partition_by=["truncate(100, k)"]
    )


def _files_by_part(t):
    from pg_lake_spark.lakehouse import catalog as _cat

    files = _cat.read_snapshot_files(t.location, t.metadata, t.metadata.current_snapshot())
    out: dict = {}
    for f in files:
        out.setdefault(next(iter(f.partition.values())), set()).add(f.path)
    return out


@pytest.mark.parametrize("via_vacuum", [False, True])
def test_materialize_rewrites_only_matching_partition(spark, tmp_path, via_vacuum):
    """A MoR delete confined to one partition is made physical by
    rewriting only that partition's file: every other data file stays
    in the new manifest under the same path."""
    t = _mk_parted(spark, tmp_path, f"mat_prune_{via_vacuum}")
    before = _files_by_part(t)
    assert len(before) == 4 and all(len(p) == 1 for p in before.values())
    t.delete("k >= 110 AND k < 130", mode="mor")
    if via_vacuum:
        out = maintenance.vacuum(t, max_snapshot_age_s=0, deletion_retention_s=0)
        out = out["materialize_deletes"]
    else:
        out = t.materialize_deletes()
    assert (out["rewritten_files"], out["dropped_files"], out["untouched_files"]) == (1, 0, 3)
    assert out["deleted_rows"] == 20
    after = _files_by_part(t)
    assert set(after) == set(before)
    for part in (0, 200, 300):
        assert after[part] == before[part]
    assert after[100].isdisjoint(before[100])
    assert t.active_delete_predicates() == []
    ks = {r.k for r in t.scan().collect()}
    assert ks == set(range(400)) - set(range(110, 130))


def test_materialize_counts_pinned_in_snapshot_summary(spark, tmp_path):
    """materialize_deletes() reports the file classes delete()/merge()
    report, and stamps the same numbers into its snapshot summary: a
    stats-proven full match is dropped without a rewrite."""
    t = _mk_parted(spark, tmp_path, "mat_counts")
    t.delete("k >= 300", mode="mor")  # partition 300: every row matches
    t.delete("k >= 5 AND k < 8", mode="mor")  # partition 0: some rows
    out = t.materialize_deletes()
    want = {"rewritten_files": 1, "dropped_files": 1, "untouched_files": 2, "deleted_rows": 103}
    assert {k: out[k] for k in want} == want
    summary = t.metadata.current_snapshot().summary
    assert {k: summary[k] for k in want} == want
    assert summary["materialized"] == out["materialized"] == 2
    assert t.scan().count() == 400 - 103


def test_materialize_keeps_rows_where_predicate_is_null(spark, tmp_path):
    """Pruned materialization stays NULL-safe: rows whose predicate
    evaluates to NULL (v IS NULL) survive, as they did under MoR."""
    t = _mk_parted(spark, tmp_path, "mat_null")
    t.delete("k >= 200 AND k < 300 AND v < 100", mode="mor")
    mor_rows = sorted((r.k, r.v) for r in t.scan().collect())
    out = t.materialize_deletes()
    assert (out["rewritten_files"], out["untouched_files"]) == (1, 3)
    rows = sorted((r.k, r.v) for r in t.scan().collect())
    assert rows == mor_rows
    assert [k for k, _ in rows if 200 <= k < 300] == list(range(200, 300, 10))


def test_materialize_or_predicate_rewrites_every_scoped_file(spark, tmp_path):
    """An OR predicate cannot be checked against stats file by file, so
    every scoped file is rewritten — and the result is still right."""
    t = _mk_parted(spark, tmp_path, "mat_or")
    t.delete("k = 5 OR k = 305", mode="mor")
    out = t.materialize_deletes()
    assert (out["rewritten_files"], out["untouched_files"]) == (4, 0)
    assert out["deleted_rows"] == 2
    assert {r.k for r in t.scan().collect()} == set(range(400)) - {5, 305}


def test_materialize_leaves_later_appends_alone(spark, tmp_path):
    """Files appended after the MoR delete are out of its scope: neither
    rewritten nor filtered, even when their rows match the predicate
    and sit in the partition the delete rewrites."""
    t = _mk_parted(spark, tmp_path, "mat_append")
    t.delete("k >= 110 AND k < 130", mode="mor")
    before = _live_paths(t)
    t.append(spark.createDataFrame([(115, 1), (450, 2)], "k bigint, v int"))
    appended = _live_paths(t) - before
    assert len(appended) == 2
    out = t.materialize_deletes()
    # the pre-delete partition-100 file is the only rewrite; both
    # appended files (partitions 100 and 400) keep their paths
    assert (out["rewritten_files"], out["untouched_files"]) == (1, 5)
    assert out["deleted_rows"] == 20
    assert appended <= _live_paths(t)
    ks = sorted(r.k for r in t.scan().collect())
    assert ks.count(115) == 1 and 450 in ks and len(ks) == 400 - 20 + 2


def test_materialize_time_travel_to_mor_snapshot(spark, tmp_path):
    """After a pruned materialization, a read at the MoR-delete snapshot
    still applies the predicate to that snapshot's files."""
    t = _mk_parted(spark, tmp_path, "mat_tt")
    t.delete("k >= 110 AND k < 130", mode="mor")
    mor_snap = t.metadata.current_snapshot().snapshot_id
    t.materialize_deletes()
    maintenance.vacuum(t, max_snapshot_age_s=3600, deletion_retention_s=3600)
    want = set(range(400)) - set(range(110, 130))
    assert {r.k for r in t.scan(snapshot_id=mor_snap).collect()} == want
    assert {r.k for r in t.scan().collect()} == want


def test_auto_mode_picks_mor_for_selective_delete(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "id bigint, val double"
    )
    t = LakeTable.create_from_dataframe(spark, str(tmp_path / "auto1"), df)
    res = t.delete("id = 7", mode="auto")          # 0.1% selectivity → MoR
    assert res.get("mode") == "mor"
    res2 = t.delete("id < 900", mode="auto")       # 90% → CoW rewrite
    assert "rewritten_files" in res2
    # CoW removed ids 0-899 physically (id=7 among them); the MoR
    # predicate stays active but now matches nothing → 100 rows left.
    assert t.to_df().count() == 100


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id bigint, tag string"
    )
    t = LakeTable.create_from_dataframe(spark, str(tmp_path / "nulldel"), df)
    t.delete("tag = 'a'")  # NULL tag row must NOT be deleted
    assert {r.id for r in t.to_df().collect()} == {2, 3}


def test_update_materializes_pending_mor(spark, tmp_path):
    t = _mk_kv_table(spark, tmp_path, "mor4")
    t.delete("val >= 9.0", mode="mor")            # deletes ids 9, 10
    # this update would have "resurrected" ids 9,10 by changing val
    t.update({"val": "0.0"}, where="id >= 5")
    ids = {r.id for r in t.to_df().collect()}
    assert ids == {1, 2, 3, 4, 5, 6, 7, 8}
    assert all(r.val == 0.0 for r in t.to_df().filter("id >= 5").collect())


def test_parse_where_typed_literals():
    from datetime import date, datetime

    preds = parse_where("o_orderdate >= TIMESTAMP '2000-01-01'")
    assert preds == [("o_orderdate", ">=", date(2000, 1, 1))]
    preds = parse_where("d = DATE '1999-06-15' AND ts < TIMESTAMP '2001-02-03 04:05:06'")
    assert preds[0] == ("d", "=", date(1999, 6, 15))
    assert preds[1] == ("ts", "<", datetime(2001, 2, 3, 4, 5, 6))


def test_catalog_view_lists_tables(spark, tmp_path):
    from pg_lake_spark.lakehouse.catalog_view import list_tables

    wh = tmp_path / "warehouse"
    wh.mkdir()
    for name in ("alpha", "beta"):
        LakeTable.create_from_dataframe(
            spark, str(wh / name),
            spark.createDataFrame([(1, "x")], "id bigint, s string"),
        )
    (wh / "not_a_table").mkdir()
    got = list_tables(spark, str(wh))
    rows = {r.table_name: r for r in got.collect()}
    assert set(rows) == {"alpha", "beta"}
    assert rows["alpha"].current_snapshot_id == 1
    assert rows["alpha"].n_snapshots == 1
    assert "id bigint" in rows["alpha"].schema_ddl


# ---------------------------------------------------------------------------
# out_of_range_values policy
# ---------------------------------------------------------------------------

def test_out_of_range_error_default(spark, tmp_path):
    from datetime import datetime

    t = LakeTable.create(spark, str(tmp_path / "oor1"), "id bigint, ts timestamp_ntz")
    ok = spark.createDataFrame([(1, datetime(2024, 1, 1))], "id bigint, ts timestamp_ntz")
    t.append(ok)
    bad = spark.sql(
        "SELECT CAST(2 AS BIGINT) AS id, CAST('0000-12-31 00:00:00' AS TIMESTAMP_NTZ) AS ts"
    )
    import py4j.protocol

    with pytest.raises(Exception, match="out of range|USER_RAISED"):
        t.append(bad)
    assert t.to_df().count() == 1  # failed write committed nothing


def test_out_of_range_clamp(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "oor2"),
        "id bigint, ts timestamp_ntz, v double",
        properties={"out_of_range_values": "clamp"},
    )
    bad = spark.sql(
        """SELECT CAST(1 AS BIGINT) AS id,
                  CAST('0000-12-31 00:00:00' AS TIMESTAMP_NTZ) AS ts,
                  CAST('NaN' AS DOUBLE) AS v"""
    )
    t.append(bad)
    row = t.to_df().collect()[0]
    assert str(row.ts).startswith("0001-01-01")  # clamped to bound
    assert row.v != row.v  # NaN is a valid double — passes through unmodified


def test_nan_and_infinity_are_valid_doubles(spark, tmp_path):
    """NaN/inf in double columns are legal per the reference's
    iceberg-tables.md and must not trip the default error policy."""
    t = LakeTable.create(spark, str(tmp_path / "oor3"), "id bigint, v double")
    df = spark.sql(
        "SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST('NaN' AS DOUBLE)),"
        " (CAST(2 AS BIGINT), CAST('Infinity' AS DOUBLE)) AS t(id, v)"
    )
    t.append(df)  # default policy = error; must not raise
    vals = {r.id: r.v for r in t.to_df().collect()}
    assert vals[1] != vals[1]  # NaN
    assert vals[2] == float("inf")


def test_lake_session_facade(spark, tmp_path):
    from pg_lake_spark.session import LakeSession

    sess = LakeSession(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    t = sess.create_lake_table("facade_t", str(tmp_path / "facade"), df=df)
    assert sess.sql("SELECT count(*) AS n FROM facade_t").collect()[0].n == 2
    t.append(spark.createDataFrame([(3, "c")], "id bigint, s string"))
    t2 = sess.lake_table(str(tmp_path / "facade"), name="facade_t")
    assert sess.sql("SELECT count(*) AS n FROM facade_t").collect()[0].n == 3
    out = sess.vacuum(str(tmp_path / "facade"), max_snapshot_age_s=10**9)
    assert "compact" in out and "materialize_deletes" in out


# ---------------------------------------------------------------------------
# MoR delete sequence scoping (Iceberg sequence-number semantics)
# ---------------------------------------------------------------------------

def test_mor_delete_scopes_to_preexisting_files(spark, tmp_path):
    """A MoR delete predicate applies only to rows that existed when it
    committed; rows appended afterwards — even ones matching the
    predicate — stay visible and survive materialization/vacuum."""
    t = LakeTable.create(spark, str(tmp_path / "mor_scope"), "id bigint, val double")
    t.append(spark.createDataFrame([(i, 1.0) for i in range(5)], "id bigint, val double"))
    t.delete("val = 1.0", mode="mor")
    assert t.to_df().count() == 0
    # appended after the delete: matching rows must NOT be hidden
    t.append(spark.createDataFrame([(10, 1.0), (11, 2.0)], "id bigint, val double"))
    assert {r.id for r in t.to_df().collect()} == {10, 11}
    # materialization physically deletes only the pre-delete rows
    t.materialize_deletes()
    assert {r.id for r in t.to_df().collect()} == {10, 11}


def test_mor_scoping_survives_compaction(spark, tmp_path):
    """Compaction must not resurrect MoR-deleted rows (it materializes
    pending deletes before re-stamping file sequences)."""
    t = LakeTable.create(spark, str(tmp_path / "mor_compact"), "id bigint, val double")
    for i in range(4):
        t.append(spark.createDataFrame([(i, float(i % 2))], "id bigint, val double"))
    t.delete("val = 1.0", mode="mor")  # hides ids 1, 3
    t.append(spark.createDataFrame([(7, 1.0)], "id bigint, val double"))
    maintenance.compact_data_files(t, target_file_size_mb=64, min_input_files=2)
    assert {r.id for r in t.to_df().collect()} == {0, 2, 7}


# ---------------------------------------------------------------------------
# Deletion-queue purge safety (time travel preserved)
# ---------------------------------------------------------------------------

def test_purge_keeps_files_referenced_by_retained_snapshots(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "purge_safe"), "id bigint")
    t.append(spark.createDataFrame([(i,) for i in range(10)], "id bigint"))
    pre = t.metadata.current_snapshot_id
    t.delete("id < 5")  # CoW: removed paths enqueue while snapshot `pre` lives
    res = maintenance.purge_deletion_queue(t, retention_s=0)
    assert res["purged"] == 0  # still referenced by the retained snapshot
    assert t.to_df(snapshot_id=pre).count() == 10  # time travel intact
    maintenance.expire_snapshots(t, max_age_s=0)
    res2 = maintenance.purge_deletion_queue(t, retention_s=0)
    assert res2["purged"] >= 1  # released once no snapshot references them
    assert t.to_df().count() == 5


# ---------------------------------------------------------------------------
# Comma-bearing types (decimal/struct) through DDL-derived column lists
# ---------------------------------------------------------------------------

def test_comma_bearing_types_in_ddl_and_dml(spark, tmp_path):
    df = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS id, CAST(12.34 AS DECIMAL(12,2)) AS amt,"
        " named_struct('a', 1, 'b', 'x') AS s"
    )
    t = LakeTable.create_from_dataframe(spark, str(tmp_path / "dec"), df)
    t.add_column("note", "string")
    t.drop_column("note")
    assert t.to_df().columns == ["id", "amt", "s"]
    src = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS id, CAST(99.99 AS DECIMAL(12,2)) AS amt,"
        " named_struct('a', 2, 'b', 'y') AS s"
        " UNION ALL SELECT CAST(2 AS BIGINT), CAST(5.00 AS DECIMAL(12,2)),"
        " named_struct('a', 3, 'b', 'z')"
    )
    t.merge(src, on=["id"], when_matched_update={"amt": "s.amt"})
    rows = {r.id: r for r in t.to_df().collect()}
    assert float(rows[1].amt) == 99.99  # matched update
    assert float(rows[2].amt) == 5.00  # not-matched insert


# ---------------------------------------------------------------------------
# Streaming exactly-once: high-water mark survives interleaved commits
# ---------------------------------------------------------------------------

def test_streaming_replay_skipped_after_interleaved_commit(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "stream_hw"), "id bigint")
    b0 = spark.createDataFrame([(1,), (2,)], "id bigint")
    assert t.append_streaming_batch(b0, "ck1", 0) is not None
    # Interleaved manual commit produces a snapshot without the batch id.
    t.append(spark.createDataFrame([(99,)], "id bigint"))
    # Replay of batch 0 must still be recognized and skipped.
    assert t.append_streaming_batch(b0, "ck1", 0) is None
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2, 99]
    # A second stream on the same table has its own high-water mark.
    assert t.append_streaming_batch(b0, "ck2", 0) is not None
    # And the next batch of stream 1 proceeds.
    b1 = spark.createDataFrame([(3,)], "id bigint")
    assert t.append_streaming_batch(b1, "ck1", 1) is not None
    assert sorted(r.id for r in t.to_df().collect()) == [1, 1, 2, 2, 3, 99]


# ---------------------------------------------------------------------------
# ALTER surface: rename / default backfill / partition-spec evolution
# ---------------------------------------------------------------------------

def test_rename_column_reads_old_files(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "ren"), "id bigint, val double")
    t.append(spark.createDataFrame([(1, 1.5), (2, 2.5)], "id bigint, val double"))
    pre = t.metadata.current_snapshot_id
    t.rename_column("val", "amount")
    assert t.to_df().columns == ["id", "amount"]
    # old files (physical name `val`) resolve through the rename
    assert {r.amount for r in t.to_df().collect()} == {1.5, 2.5}
    # new writes use the new name; both eras read in one scan
    t.append(spark.createDataFrame([(3, 3.5)], "id bigint, amount double"))
    assert {r.amount for r in t.to_df().collect()} == {1.5, 2.5, 3.5}
    # predicates prune/filter correctly across eras (old file stats are
    # keyed by the old physical name)
    assert {r.id for r in t.scan(where="amount > 2.0").collect()} == {2, 3}
    # time travel across the rename presents the current schema
    assert t.to_df(snapshot_id=pre).columns == ["id", "amount"]


def test_rename_chain(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "ren2"), "id bigint, a double")
    t.append(spark.createDataFrame([(1, 1.0)], "id bigint, a double"))
    t.rename_column("a", "b")
    t.append(spark.createDataFrame([(2, 2.0)], "id bigint, b double"))
    t.rename_column("b", "c")
    t.append(spark.createDataFrame([(3, 3.0)], "id bigint, c double"))
    rows = {r.id: r.c for r in t.to_df().collect()}
    assert rows == {1: 1.0, 2: 2.0, 3: 3.0}


def test_add_column_with_default_backfills_on_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "dflt"), "id bigint")
    t.append(spark.createDataFrame([(1,), (2,)], "id bigint"))
    t.add_column("status", "string", default="'active'")
    # existing rows read the constant — no rewrite happened
    assert {r.status for r in t.to_df().collect()} == {"active"}
    # inserts missing the column get the write-time default
    t.append(spark.createDataFrame([(3,)], "id bigint"))
    # explicit values win
    t.append(spark.createDataFrame([(4, "closed")], "id bigint, status string"))
    rows = {r.id: r.status for r in t.to_df().collect()}
    assert rows == {1: "active", 2: "active", 3: "active", 4: "closed"}
    # DROP DEFAULT: future inserts get NULL, old rows keep the backfill
    t.set_column_default("status", None)
    t.append(spark.createDataFrame([(5,)], "id bigint"))
    rows = {r.id: r.status for r in t.to_df().collect()}
    assert rows[5] is None and rows[1] == "active"


def test_add_column_without_default_reads_null(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "dflt2"), "id bigint")
    t.append(spark.createDataFrame([(1,)], "id bigint"))
    t.add_column("note", "string")
    assert [r.note for r in t.to_df().collect()] == [None]


def test_readd_after_drop_does_not_resurrect(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "readd"), "id bigint, v string")
    t.append(spark.createDataFrame([(1, "old-secret")], "id bigint, v string"))
    t.drop_column("v")
    t.add_column("v", "string")
    # the old file still physically contains v='old-secret'; the re-added
    # column must NOT expose it
    assert [r.v for r in t.to_df().collect()] == [None]


def test_rename_then_update_and_delete(spark, tmp_path):
    """DML after a rename reads old-era files correctly (CoW rewrite
    upgrades them to the current schema)."""
    t = LakeTable.create(spark, str(tmp_path / "rendml"), "id bigint, val double")
    t.append(spark.createDataFrame([(i, float(i)) for i in range(6)], "id bigint, val double"))
    t.rename_column("val", "amount")
    t.update({"amount": "amount * 10"}, where="id >= 4")
    rows = {r.id: r.amount for r in t.to_df().collect()}
    assert rows[5] == 50.0 and rows[1] == 1.0
    t.delete("amount >= 40.0")
    assert {r.id for r in t.to_df().collect()} == {0, 1, 2, 3}


def test_partition_spec_evolution(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "specevo"), "id bigint, cat string, v double",
        partition_by=["cat"],
    )
    t.append(spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(20)], "id bigint, cat string, v double"))
    new_id = t.set_partition_spec(["bucket(4, id)"])
    assert new_id == 1
    t.append(spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(20, 40)], "id bigint, cat string, v double"))
    # all rows visible across both spec generations
    assert t.to_df().count() == 40
    # old files prune by cat (their spec), new files cannot — scan stays correct
    df = t.scan(where="cat = 'a'")
    assert df.count() == 20
    rep = t.last_scan_report
    assert rep.files_skipped >= 1  # old-spec 'b' files pruned
    # new files prune by bucket(id); old files keep (no id partition value)
    files = {f.path: f for f in __import__("pg_lake_spark.lakehouse.catalog", fromlist=["x"]).read_snapshot_files(t.location, t.metadata, t.metadata.current_snapshot())}
    assert {f.spec_id for f in files.values()} == {0, 1}
    got = t.scan(where="id = 25")
    assert got.count() == 1


# ---------------------------------------------------------------------------
# Round-3 ADVICE regression tests
# ---------------------------------------------------------------------------

def test_session_manual_registration_after_corpus(spark, tmp_path):
    """register_lake_table must work after register_corpus (r2 ADVICE:
    the corpus LazyTables has no __setitem__ and broke manual adds)."""
    from pg_lake_spark.session import DEFAULT_SF_DIR, LakeSession
    from pg_lake_spark.sources import copy_to

    sess = LakeSession(spark)
    sess.register_corpus(DEFAULT_SF_DIR)
    out = str(tmp_path / "manual_pq")
    copy_to(spark.createDataFrame([(1, "x")], "id bigint, s string"), out, "parquet")
    df = sess.register_lake_table("manual_t", out)
    assert df.count() == 1
    assert "manual_t" in sess.tables
    assert "lineitem" in sess.tables  # corpus still visible through the merge


def test_materialize_marks_only_applied_predicates_atomically(spark, tmp_path):
    """Predicate marking happens in the SAME commit as the rewrite and
    touches only the entries that pass applied (r2 ADVICE: a second lock
    window could stamp a concurrent MoR delete as already-materialized,
    silently resurrecting its rows)."""
    t = _mk_kv_table(spark, tmp_path, "mor_atomic")
    t.delete("id IN (1, 2)", mode="mor")
    n_before = len(t.metadata.snapshots)
    out = t.materialize_deletes()
    t.refresh()
    # exactly ONE new snapshot: rewrite + marking are one commit
    assert len(t.metadata.snapshots) == n_before + 1
    entry = t.metadata.delete_predicates[-1]
    assert entry["materialized_snapshot_id"] == out["snapshot_id"]
    assert entry["materialized_snapshot_id"] == t.metadata.current_snapshot_id


def test_streaming_high_water_migrates_from_legacy_summary(spark, tmp_path):
    """A table whose high-water mark lives only in a legacy snapshot
    summary (pre-properties versions) must not double-append the last
    replayed micro-batch (r2 ADVICE)."""
    t = LakeTable.create(spark, str(tmp_path / "hw_legacy"), "id bigint")
    # legacy-style commit: batch id stamped in the summary, no stream-key,
    # no properties entry
    t.append(
        spark.createDataFrame([(1,), (2,)], "id bigint"),
        extra_summary={"streaming-batch-id": 5},
    )
    assert "streaming.high-water.ck" not in t.metadata.properties
    # replay of batch 5 after upgrade → skipped via the migration read
    skipped = t.append_streaming_batch(
        spark.createDataFrame([(1,), (2,)], "id bigint"), "ck", 5
    )
    assert skipped is None
    assert t.to_df().count() == 2
    # the next batch commits and seeds the property
    snap = t.append_streaming_batch(
        spark.createDataFrame([(3,)], "id bigint"), "ck", 6
    )
    assert snap is not None
    assert int(t.metadata.properties["streaming.high-water.ck"]) == 6
    assert t.to_df().count() == 3


def test_autovacuum_cadence(spark, events_df, tmp_path):
    """Autovacuum fires compaction + snapshot expiry on its cadence
    (reference: the 10-min-per-table background worker,
    test_autovacuum.py), with an injectable clock driving the interval
    logic — no table is vacuumed again before interval_s elapses."""
    loc = str(tmp_path / "av1")
    t = LakeTable.create(
        spark, loc, "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double"
    )
    for _ in range(4):
        t.append(events_df.limit(20))

    now = [1000.0]
    av = maintenance.Autovacuum(
        [t],
        interval_s=600,
        clock=lambda: now[0],
        target_file_size_mb=64,
        max_snapshot_age_s=0,
        deletion_retention_s=0,
    )
    # first check: never-run table is due immediately; vacuum compacts
    # the 4 small files and expires the non-current snapshots
    out = av.run_pending()
    assert out[loc]["compact"]["removed_files"] >= 4
    assert out[loc]["expire"]["expired"] >= 1
    assert t.to_df().count() == 80

    # within the interval: nothing is due even after more appends
    now[0] += 599
    t.append(events_df.limit(20))
    assert av.due() == [] and av.run_pending() == {}

    # past the interval: fires again and compacts the accumulated small
    # files (3 new appends + the first vacuum's output = 4 inputs,
    # vacuum's min_input_files default)
    now[0] += 2
    t.append(events_df.limit(20))
    t.append(events_df.limit(20))
    out2 = av.run_pending()
    assert loc in out2 and out2[loc]["compact"]["removed_files"] >= 4
    assert t.to_df().count() == 140


def test_autovacuum_thread_loop(spark, events_df, tmp_path):
    """The daemon-thread scheduler drives run_pending on its poll."""
    loc = str(tmp_path / "av2")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(10))
    for _ in range(2):
        t.append(events_df.limit(10))
    n_snaps_before = len(t.metadata.snapshots)
    av = maintenance.Autovacuum([t], interval_s=0.01, max_snapshot_age_s=0)
    av.start(poll_s=0.02)
    try:
        deadline = time.time() + 20
        while len(t.metadata.snapshots) >= n_snaps_before and time.time() < deadline:
            time.sleep(0.1)
    finally:
        av.stop()
    assert len(t.metadata.snapshots) < n_snaps_before  # expiry fired
    assert t.to_df().count() == 30


def test_read_transaction_repeatable_read(spark, events_df, tmp_path):
    """Reference isolation parity (isolation_iceberg_repeatable_read
    .spec): a transaction's scans see the snapshot pinned at first
    access, across statements, while concurrent writers commit appends
    and deletes; a new transaction sees the new state."""
    from pg_lake_spark.lakehouse.isolation import read_transaction

    loc = str(tmp_path / "iso1")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(10))

    with read_transaction(spark) as txn:
        assert txn.scan(loc).count() == 10
        # concurrent writer: append then CoW-delete through its own handle
        writer = LakeTable.load(spark, loc)
        writer.append(events_df.limit(5))
        writer.delete("value IS NOT NULL OR value IS NULL")  # delete all
        assert writer.scan().count() == 0
        # the transaction still sees its pinned snapshot — repeatedly
        assert txn.scan(loc).count() == 10
        assert txn.scan(loc, where="event_id >= 0").count() == 10
        assert txn.pins[loc] == 1

    with read_transaction(spark) as txn2:
        assert txn2.scan(loc).count() == 0  # new txn, new snapshot


def test_read_transaction_pins_per_table_at_first_access(spark, events_df, tmp_path):
    from pg_lake_spark.lakehouse.isolation import read_transaction

    loc_a = str(tmp_path / "iso_a")
    loc_b = str(tmp_path / "iso_b")
    LakeTable.create_from_dataframe(spark, loc_a, events_df.limit(3))
    tb = LakeTable.create_from_dataframe(spark, loc_b, events_df.limit(4))

    with read_transaction(spark) as txn:
        assert txn.scan(loc_a).count() == 3
        # b is written AFTER the txn began but BEFORE first access →
        # first access pins the newer state (PG: snapshot per first use)
        tb.append(events_df.limit(2))
        assert txn.scan(loc_b).count() == 6
        tb.append(events_df.limit(2))
        assert txn.scan(loc_b).count() == 6  # pinned from first access on


def test_incremental_scan(spark, events_df, tmp_path):
    """Incremental append scan: exactly the rows of the in-range
    appends; non-append ranges refuse loudly."""
    loc = str(tmp_path / "inc1")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(50))  # snap 1
    t.append(events_df.filter(F.col("event_id").between(50, 79)))  # snap 2
    t.append(events_df.filter(F.col("event_id").between(80, 99)))  # snap 3

    delta = t.incremental_scan(1)
    assert delta.count() == 50
    assert {r.event_id for r in delta.select("event_id").collect()} == set(range(50, 100))
    assert t.incremental_scan(1, to_snapshot_id=2).count() == 30
    assert t.incremental_scan(3).count() == 0

    t.delete("event_id < 10")  # snap 4: not an append
    with pytest.raises(ValueError, match="non-append"):
        t.incremental_scan(1)
    # a range that stops before the delete still works
    assert t.incremental_scan(1, to_snapshot_id=3).count() == 50
    with pytest.raises(ValueError, match="not found"):
        t.incremental_scan(99)


def test_autovacuum_survives_vacuum_errors(spark, events_df, tmp_path, monkeypatch):
    """One failing vacuum must not kill the daemon thread: the loop
    records last_error and keeps polling (reference's background worker
    keeps its cadence through transient lock/IO errors)."""
    loc = str(tmp_path / "av3")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(10))
    av = maintenance.Autovacuum([t], interval_s=0.01)
    calls = {"n": 0}
    real = maintenance.vacuum

    def flaky(table, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("transient IO failure")
        return real(table, **kw)

    monkeypatch.setattr(maintenance, "vacuum", flaky)
    av.start(poll_s=0.02)
    try:
        deadline = time.time() + 20
        while calls["n"] < 2 and time.time() < deadline:
            time.sleep(0.05)
    finally:
        av.stop()
    assert calls["n"] >= 2  # loop survived the first failure
    assert isinstance(av.last_error, OSError)


def test_drop_restore_purge_lifecycle(spark, events_df, tmp_path):
    """DROP TABLE parity (drop_table.c; iceberg-tables.md:845-850):
    drop enqueues every referenced file and hides the table; restore
    within retention brings back the exact pre-drop state (and PIT
    restore an older version); purge after retention removes data files
    and metadata alike."""
    loc = str(tmp_path / "droppable")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(30))
    t.append(events_df.limit(10))
    before = sorted(r.event_id for r in t.to_df().select("event_id").collect())

    out = maintenance.drop_table(loc)
    assert out["queued_files"] >= 2
    from pg_lake_spark.lakehouse import catalog as cat

    assert not cat.table_exists(loc)
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, loc)
    # double-drop fails loudly
    with pytest.raises(FileNotFoundError):
        maintenance.drop_table(loc)

    # restore: full pre-drop state, data intact, table writable again
    t2 = maintenance.restore_table(spark, loc)
    got = sorted(r.event_id for r in t2.to_df().select("event_id").collect())
    assert got == before
    assert "dropped_ms" not in t2.metadata.properties
    t2.append(events_df.limit(5))
    assert t2.to_df().count() == 45

    # drop again, then point-in-time restore to v2 (the initial 30-row
    # commit; v1 is the bare CREATE)
    maintenance.drop_table(loc)
    t3 = maintenance.restore_table(spark, loc, metadata_version=2)
    assert t3.to_df().count() == 30

    # PIT restore carried the newer (now-unreferenced) files' queue
    # entries forward — nothing leaks when the final purge runs
    assert len(t3.metadata.deletion_queue) >= 2

    # drop and purge: inside retention a no-op, retention 0 removes all
    maintenance.drop_table(loc)
    res = maintenance.purge_dropped_table(loc, retention_s=3600)
    assert res["purged"] == 0 and os.path.isdir(loc)
    res = maintenance.purge_dropped_table(loc, retention_s=0)
    assert res["purged"] >= 3  # v2's file + the queued newer files
    assert not os.path.exists(loc)


def test_restore_rejects_bad_targets(spark, events_df, tmp_path):
    loc = str(tmp_path / "badrestore")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(5))
    # not dropped yet
    with pytest.raises(FileExistsError):
        maintenance.restore_table(spark, loc)
    dropped = maintenance.drop_table(loc)["dropped_version"]
    with pytest.raises(ValueError):
        maintenance.restore_table(spark, loc, metadata_version=dropped)
    with pytest.raises(ValueError):
        maintenance.restore_table(spark, loc, metadata_version=0)


def test_rewrite_sorted_tightens_pruning(spark, tmp_path):
    """Sort-clustered rewrite (Iceberg rewrite_data_files(sort)
    analogue): before, every file's event_id min/max spans the whole
    domain and nothing prunes; after, files own disjoint ranges and a
    point/range predicate skips most files."""
    rows = [(i * 37 % 10000, float(i)) for i in range(10000)]  # shuffled key order
    df = spark.createDataFrame(rows, "event_id bigint, value double").repartition(8)
    loc = str(tmp_path / "sorted_t")
    t = LakeTable.create_from_dataframe(spark, loc, df)

    t.scan(where="event_id < 100").count()
    before = t.last_scan_report
    assert before.files_skipped == 0  # every file spans the domain

    out = maintenance.rewrite_sorted(t, ["event_id"], n_files=8)
    assert out["rewritten_files"] >= 8 and out["added_files"] >= 2
    assert t.metadata.properties["sort-order"] == "event_id"
    assert t.to_df().count() == 10000  # no rows gained or lost

    got = t.scan(where="event_id < 100")
    after = t.last_scan_report
    assert got.count() == sum(1 for k, _v in rows if k < 100)
    assert after.files_skipped > 0, "disjoint ranges must prune"
    assert after.files_scanned < before.files_scanned


def test_rewrite_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: after the rewrite, a predicate on EITHER
    clustered column prunes files (single-column sort only helps its
    own column — the multi-dimensional win is the point)."""
    rows = [((i * 37) % 1000, (i * 61) % 1000, float(i)) for i in range(20000)]
    df = spark.createDataFrame(rows, "x bigint, y bigint, v double").repartition(8)
    loc = str(tmp_path / "z_t")
    t = LakeTable.create_from_dataframe(spark, loc, df)

    t.scan(where="x < 50").count()
    assert t.last_scan_report.files_skipped == 0
    t.scan(where="y < 50").count()
    assert t.last_scan_report.files_skipped == 0

    out = maintenance.rewrite_zorder(t, ["x", "y"], n_files=16, bits=6)
    assert out["added_files"] >= 8
    assert t.metadata.properties["zorder-by"] == "x,y"
    assert t.to_df().count() == 20000

    nx = t.scan(where="x < 50")
    assert nx.count() == sum(1 for x, _y, _v in rows if x < 50)
    x_skipped = t.last_scan_report.files_skipped
    ny = t.scan(where="y < 50")
    assert ny.count() == sum(1 for _x, y, _v in rows if y < 50)
    y_skipped = t.last_scan_report.files_skipped
    assert x_skipped > 0 and y_skipped > 0, (x_skipped, y_skipped)


def test_merge_not_matched_by_source_delete(spark, events_df, tmp_path):
    """Full-sync MERGE: target rows with no source match are deleted
    (unconditionally, or gated by a condition over target columns);
    key-range pruning is disabled because unmatched rows are everywhere."""
    loc = str(tmp_path / "sync_t")
    t = LakeTable.create_from_dataframe(spark, loc, events_df.limit(100))
    src = spark.createDataFrame(
        [(i, None, i % 7, "typeX", float(i) + 0.5) for i in range(40, 120)],
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double",
    )
    out = t.merge(
        src,
        ["event_id"],
        when_matched_update={"value": "s.value"},
        when_not_matched_by_source_delete=True,
    )
    # rows 0-39 deleted, 40-99 updated, 100-119 inserted → exactly src's keys
    assert out["source_deleted_rows"] == 40
    assert out["updated_rows"] == 60 and out["inserted_rows"] == 20
    assert out["untouched_files"] == 0  # pruning disabled
    got = sorted(r.event_id for r in t.to_df().select("event_id").collect())
    assert got == list(range(40, 120))

    # conditional variant: only delete unmatched rows with value > 110
    t2 = LakeTable.create_from_dataframe(
        spark, str(tmp_path / "sync_t2"), events_df.limit(120)
    )
    src2 = spark.createDataFrame(
        [(i, None, 0, "t", 0.0) for i in range(50)],
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double",
    )
    out2 = t2.merge(
        src2,
        ["event_id"],
        when_matched_update={"value": "s.value"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="value > 110",
    )
    assert out2["source_deleted_rows"] == 9  # events 111..119
    assert t2.to_df().count() == 120 - 9


def test_list_dropped_tables(spark, events_df, tmp_path):
    from pg_lake_spark.lakehouse import catalog_view

    wh = tmp_path / "wh"
    wh.mkdir()
    t1 = LakeTable.create_from_dataframe(spark, str(wh / "alive"), events_df.limit(5))
    t2 = LakeTable.create_from_dataframe(spark, str(wh / "gone"), events_df.limit(10))
    maintenance.drop_table(str(wh / "gone"))

    live = catalog_view.list_tables(spark, str(wh))
    assert [r.table_name for r in live.collect()] == ["alive"]
    dropped = catalog_view.list_dropped_tables(spark, str(wh)).collect()
    assert len(dropped) == 1
    r = dropped[0]
    assert r.table_name == "gone" and r.queued_files >= 1
    assert r.restore_version == r.dropped_version - 1 and r.dropped_ms > 0
    # restore clears it from the dropped view
    maintenance.restore_table(spark, str(wh / "gone"))
    assert catalog_view.list_dropped_tables(spark, str(wh)).count() == 0
    assert catalog_view.list_tables(spark, str(wh)).count() == 2


def test_dml_model_fuzz(spark, tmp_path):
    """Model-based write-path fuzz: a random sequence of append / CoW
    delete / MoR delete / update / merge / compact against LakeTable,
    mirrored on a plain in-memory model; the table must match the model
    after every operation, and historical snapshots must stay frozen.
    (The differential spine of the reference's test strategy applied to
    the WRITE path, beyond the example-based lifecycle tests.)"""
    import random as _random

    rng = _random.Random(20240814)
    loc = str(tmp_path / "fuzz_t")

    def mk_rows(n, key_lo):
        return [(key_lo + i, rng.randint(0, 9), round(rng.uniform(0, 100), 3))
                for i in range(n)]

    model: dict[int, tuple[int, float]] = {}  # k -> (grp, v)
    rows0 = mk_rows(30, 0)
    model.update({k: (g, v) for k, g, v in rows0})
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame(rows0, "k bigint, grp int, v double")
    )
    next_key = 1000
    history = []  # (snapshot_id, model_copy)

    def check():
        got = sorted(tuple(r) for r in t.to_df().collect())
        want = sorted((k, g, v) for k, (g, v) in model.items())
        assert got == want, f"divergence: {len(got)} vs {len(want)} rows"

    promoted = False
    for step in range(14):
        ops = ["append", "cow_delete", "mor_delete", "update", "merge", "compact"]
        if not promoted:
            ops.append("alter_type")
        else:
            ops.append("add_files")  # int64-typed files need the promotion
        op = rng.choice(ops)
        if op == "alter_type":
            t.alter_column_type("grp", "bigint")
            promoted = True
        elif op == "add_files":
            import pyarrow as _pa
            import pyarrow.parquet as _papq

            rows = mk_rows(rng.randint(1, 10), next_key)
            next_key += 100
            ext = str(tmp_path / f"ext_{step}.parquet")
            _papq.write_table(
                _pa.table(
                    {
                        "k": _pa.array([r[0] for r in rows], _pa.int64()),
                        "grp": _pa.array([r[1] for r in rows], _pa.int64()),
                        "v": _pa.array([r[2] for r in rows], _pa.float64()),
                    }
                ),
                ext,
            )
            model.update({k: (g, v) for k, g, v in rows})
            t.add_files([ext])
        elif op == "append":
            rows = mk_rows(rng.randint(1, 15), next_key)
            next_key += 100
            model.update({k: (g, v) for k, g, v in rows})
            t.append(spark.createDataFrame(rows, "k bigint, grp int, v double"))
        elif op in ("cow_delete", "mor_delete"):
            g = rng.randint(0, 9)
            t.delete(f"grp = {g}", mode="cow" if op == "cow_delete" else "mor")
            model = {k: (gg, v) for k, (gg, v) in model.items() if gg != g}
        elif op == "update":
            g = rng.randint(0, 9)
            t.update({"v": "v + 1000.0"}, where=f"grp = {g}")
            # python and the JVM share IEEE doubles: v + 1000.0 is bit-identical
            model = {
                k: (gg, v + 1000.0 if gg == g else v)
                for k, (gg, v) in model.items()
            }
        elif op == "merge":
            src = mk_rows(rng.randint(1, 8), next_key - 50)  # overlap window
            t.merge(
                spark.createDataFrame(src, "k bigint, grp int, v double"),
                ["k"],
                when_matched_update={"v": "s.v", "grp": "s.grp"},
            )
            model.update({k: (g, v) for k, g, v in src})
        else:
            maintenance.compact_data_files(t, target_file_size_mb=1, min_input_files=2)
        check()
        snap = t.metadata.current_snapshot()
        if snap and rng.random() < 0.4:
            history.append((snap.snapshot_id, dict(model)))

    # historical snapshots frozen (time travel differential)
    for sid, m in history:
        got = sorted(tuple(r) for r in t.to_df(snapshot_id=sid).collect())
        want = sorted((k, g, v) for k, (g, v) in m.items())
        assert got == want, f"snapshot {sid} drifted"


def test_partitions_and_file_stats_metadata_tables(spark, tmp_path):
    """table.partitions() (get_partition_summary / Iceberg partitions
    metadata table) and table.file_stats()
    (pg_lake_read_data_file_stats) — metadata-only views."""
    import json as _json

    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "pt")
    df = spark.range(90).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS p")
    t = LakeTable.create_from_dataframe(spark, loc, df, partition_by=["p"])
    parts = {r.partition: (r.file_count, r.row_count) for r in t.partitions().collect()}
    assert len(parts) == 3
    assert sum(v[1] for v in parts.values()) == 90
    # identity values carry the COLUMN's type: p is a string column, so
    # its dir values stay strings (r13 fix — '0123' must not become 123)
    assert {_json.loads(k)["p"] for k in parts} == {"0", "1", "2"}

    stats = t.file_stats().collect()
    assert len(stats) == sum(v[0] for v in parts.values())
    one = _json.loads(stats[0].stats)
    assert "k" in one and {"min", "max", "null_count"} <= set(one["k"])


def test_add_files_registers_without_rewrite(spark, tmp_path):
    """lake.add_files_to_table / Iceberg add_files parity: existing
    parquet registers as an append snapshot, stats collected, pruning
    and reads work; the file is NOT copied."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "t")
    t = LakeTable.create(spark, loc, "k bigint, v string")
    ext = str(tmp_path / "external.parquet")
    papq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), ext)
    before = t.snapshots().count()
    snap = t.add_files([ext])
    assert t.snapshots().count() == before + 1
    got = sorted(tuple(r) for r in t.to_df().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # registered in place (no copy), stats present for pruning
    files = {r.path for r in t.files().collect()}
    assert ext in files or any(p.endswith("external.parquet") for p in files)
    stats = t.file_stats().collect()
    assert any('"k"' in r.stats for r in stats)
    # schema-mismatch file rejected loudly
    bad = str(tmp_path / "bad.parquet")
    papq.write_table(pa.table({"zz": [1]}), bad)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table schema"):
        t.add_files([bad])


def test_alter_column_type_promotion(spark, tmp_path):
    """Iceberg-safe type promotion (int->bigint, float->double,
    decimal precision widen): metadata-only, mixed-era files scan
    under the widened schema; unsafe changes refuse loudly."""
    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "t")
    t = LakeTable.create(spark, loc, "k int, v float, d decimal(8,2)")
    t.append(
        spark.sql(
            "SELECT * FROM VALUES (CAST(1 AS INT), CAST(1.5 AS FLOAT), "
            "CAST(10.25 AS DECIMAL(8,2))), (2, CAST(2.5 AS FLOAT), "
            "CAST(20.50 AS DECIMAL(8,2))) AS t(k, v, d)"
        )
    )
    t.alter_column_type("k", "bigint")
    t.alter_column_type("v", "double")
    t.alter_column_type("d", "decimal(12,2)")
    t.append(
        spark.sql("SELECT CAST(3000000000000 AS BIGINT) k, CAST(3.25 AS DOUBLE) v, "
                  "CAST(999999999.99 AS DECIMAL(12,2)) d")
    )
    df = t.to_df()
    assert dict(df.dtypes) == {"k": "bigint", "v": "double", "d": "decimal(12,2)"}
    got = sorted((r.k, r.v, str(r.d)) for r in df.collect())
    assert got == [
        (1, 1.5, "10.25"), (2, 2.5, "20.50"), (3000000000000, 3.25, "999999999.99"),
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsafe type change"):
        t.alter_column_type("k", "int")  # narrowing
    with _pytest.raises(ValueError, match="unsafe type change"):
        t.alter_column_type("d", "decimal(12,4)")  # scale change
    with _pytest.raises(ValueError, match="not found"):
        t.alter_column_type("zz", "bigint")


def test_changelog_net_changes(spark, tmp_path):
    """changelog(): UPDATE → delete(old)+insert(new) per changed row;
    copied-but-unchanged rows cancel; appends are pure inserts; the
    MoR-predicate fallback path stays exact."""
    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "cl")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.range(20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    )
    s1 = t.metadata.current_snapshot().snapshot_id
    t.update({"v": "v + 1.0"}, where="k < 5")
    s2 = t.metadata.current_snapshot().snapshot_id
    cl = t.changelog(s1, s2)
    by_type = {r[0]: r[1] for r in cl.groupBy("_change_type").count().collect()}
    assert by_type == {"insert": 5, "delete": 5}
    # appends: inserts only
    t.append(spark.range(100, 103).selectExpr("id AS k", "CAST(0 AS DOUBLE) AS v"))
    s3 = t.metadata.current_snapshot().snapshot_id
    cl2 = t.changelog(s2, s3)
    assert {r[0] for r in cl2.select("_change_type").distinct().collect()} == {"insert"}
    assert cl2.count() == 3
    # MoR delete pending (fallback path, no shared-file pruning): exact
    t.delete("k >= 100", mode="mor")
    s4 = t.metadata.current_snapshot().snapshot_id
    cl3 = t.changelog(s3, s4)
    assert {r[0] for r in cl3.select("_change_type").distinct().collect()} == {"delete"}
    assert cl3.count() == 3
    # full-range diff composes
    assert t.changelog(s1, s4).count() == 10  # 5 del + 5 ins (updates)


def test_in_progress_queue_flush(spark, tmp_path):
    """Crashed-write reclamation (in_progress_files.c parity): staging
    prefixes register before writing and clear on commit; a stale
    uncommitted entry's files are flushed, fresh or committed ones kept."""
    import glob as _glob
    import json as _json
    import os as _os

    from pg_lake_spark.lakehouse import maintenance
    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "t")
    t = LakeTable.create_from_dataframe(spark, loc, spark.range(10).selectExpr("id AS k"))
    ip_dir = _os.path.join(loc, "_lake_metadata", "in_progress")
    # committed write cleared its entry
    assert _glob.glob(ip_dir + "/*.json") == []

    # simulate a crash: files staged + entry registered, no commit
    staging = _os.path.join(loc, "data", "deadbeef")
    _os.makedirs(staging)
    open(_os.path.join(staging, "part-0.parquet"), "wb").write(b"x" * 100)
    entry = t._register_in_progress(staging)
    _json.dump({"prefix": staging, "ts_ms": 0}, open(entry, "w"))  # age it
    t._pending_in_progress = []  # the "crash": this writer is gone

    stats = maintenance.flush_in_progress_queue(t, older_than_s=60)
    assert stats["flushed"] == 1 and stats["bytes"] == 100
    assert not _os.path.exists(staging)
    assert t.to_df().count() == 10  # live data untouched

    # fresh entries survive the grace window
    t._register_in_progress(_os.path.join(loc, "data", "fresh"))
    t._pending_in_progress = []
    assert maintenance.flush_in_progress_queue(t, older_than_s=3600)["kept"] == 1


def test_in_progress_liveness_beats_age(spark, tmp_path):
    """A long-running LIVE write is never reclaimed by age alone: the
    entry's (pid, host) is checked before deletion, so only provably
    dead writers are flushed (reference keys liveness to txn state)."""
    import glob as _glob
    import json as _json
    import os as _os
    import socket as _socket

    from pg_lake_spark.lakehouse import maintenance
    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "t")
    t = LakeTable.create_from_dataframe(spark, loc, spark.range(5).selectExpr("id AS k"))

    # aged entry, but the registering pid (this test process) is alive
    staging = _os.path.join(loc, "data", "longwrite")
    _os.makedirs(staging)
    open(_os.path.join(staging, "f.parquet"), "wb").write(b"x" * 10)
    entry = t._register_in_progress(staging)
    rec = _json.load(open(entry))
    rec["ts_ms"] = 0
    _json.dump(rec, open(entry, "w"))
    t._pending_in_progress = []
    stats = maintenance.flush_in_progress_queue(t, older_than_s=1)
    assert stats["kept"] == 1 and _os.path.exists(staging)

    # same entry with a provably-dead pid → reclaimed
    rec["pid"] = 2 ** 22 + 1  # beyond pid_max on this platform
    _json.dump(rec, open(entry, "w"))
    stats = maintenance.flush_in_progress_queue(t, older_than_s=1)
    assert stats["flushed"] == 1 and not _os.path.exists(staging)
    assert _glob.glob(_os.path.join(loc, "_lake_metadata", "in_progress", "*.json")) == []
    assert rec["host"] == _socket.gethostname()


def test_update_from_delete_using_and_returning(spark, tmp_path):
    """UPDATE ... FROM / DELETE ... USING (writes.md:14-44: FROM/USING
    entries become separate scans feeding tuple identification) plus
    RETURNING on update/delete/merge paths — post-image for updates,
    pre-image for deletes."""
    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "t")
    t = LakeTable.create_from_dataframe(
        spark,
        loc,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
            "k bigint, name string, v double",
        ),
    )

    # UPDATE t SET v = t.v + s.bump FROM s WHERE t.k = s.k AND s.bump > 0
    src = spark.createDataFrame([(1, 5.0), (3, -1.0), (9, 7.0)], "k bigint, bump double")
    res = t.update_from(
        src, ["k"], {"v": "t.v + s.bump"},
        condition="s.bump > 0", returning=["k", "v"],
    )
    assert res["updated_rows"] == 1  # k=3 fails condition, k=9 unmatched
    assert [(r.k, r.v) for r in res["returning"]] == [(1, 15.0)]
    t = t.refresh()
    got = {r.k: r.v for r in t.to_df().collect()}
    assert got == {1: 15.0, 2: 20.0, 3: 30.0, 4: 40.0}

    # DELETE FROM t USING s WHERE t.k = s.k — pre-image returning
    res = t.delete_using(src.filter("k < 5"), ["k"], returning=["k", "name"])
    assert res["deleted_rows"] == 2
    assert sorted((r.k, r.name) for r in res["returning"]) == [(1, "a"), (3, "c")]
    t = t.refresh()
    assert {r.k for r in t.to_df().collect()} == {2, 4}

    # plain UPDATE RETURNING sees post-image even when the SET changes
    # the predicate column
    res = t.update({"v": "0.0"}, where="v > 25", returning=["k", "v"])
    assert res["updated_rows"] == 1 and [(r.k, r.v) for r in res["returning"]] == [(4, 0.0)]

    # plain DELETE RETURNING: pre-image
    t = t.refresh()
    res = t.delete("k = 2", returning=["k", "v"])
    assert res["deleted_rows"] == 1 and [(r.k, r.v) for r in res["returning"]] == [(2, 20.0)]
    t = t.refresh()
    assert {r.k for r in t.to_df().collect()} == {4}


def test_update_from_multi_match_writes_row_once(spark, tmp_path):
    """A target row matched by SEVERAL source rows updates/deletes
    exactly once (PG semantics; the winner is deterministic here).
    Regression: the naive inner-join append duplicated the row."""
    from pg_lake_spark.lakehouse.table import LakeTable

    loc = str(tmp_path / "t")
    t = LakeTable.create_from_dataframe(
        spark, loc,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double"),
    )
    src = spark.createDataFrame(
        [(1, 5.0), (1, 7.0), (1, 9.0)], "k bigint, bump double"
    )
    res = t.update_from(src, ["k"], {"v": "t.v + s.bump"}, returning=["k", "v"])
    assert res["updated_rows"] == 1 and len(res["returning"]) == 1
    t = t.refresh()
    rows = t.to_df().collect()
    assert len(rows) == 2  # row count must NOT grow on UPDATE
    got = {r.k: r.v for r in rows}
    assert got[2] == 20.0 and got[1] in (15.0, 17.0, 19.0)
    # deterministic winner: re-running from the same base picks the same
    t2 = LakeTable.create_from_dataframe(
        spark, str(tmp_path / "t2"),
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double"),
    )
    t2.update_from(src, ["k"], {"v": "t.v + s.bump"})
    assert {r.k: r.v for r in t2.refresh().to_df().collect()}[1] == got[1]

    # DELETE ... USING with duplicate source keys deletes once
    res = t.delete_using(src, ["k"], returning=["k"])
    assert res["deleted_rows"] == 1 and [r.k for r in res["returning"]] == [1]
    assert {r.k for r in t.refresh().to_df().collect()} == {2}


# ---------------------------------------------------------------------------
# r13 maintenance review fixes (commit/retention paths)
# ---------------------------------------------------------------------------

def _second_handle(spark, loc):
    from pg_lake_spark.lakehouse import catalog as cat

    return LakeTable(spark, loc, cat.read_current_metadata(loc))


def test_compaction_pins_oldest_input_sequence(spark, tmp_path):
    """Compacted outputs must inherit their inputs' OLDEST
    added_snapshot_id (not the compaction commit's), so a MoR predicate
    committed during the compaction window still applies to them."""
    from pg_lake_spark.lakehouse import catalog as cat

    loc = str(tmp_path / "seqpin")
    t = LakeTable.create(spark, loc, "id bigint, v double")
    for i in range(4):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 1.0 AS v"))
    res = maintenance.compact_data_files(t, target_file_size_mb=64, min_input_files=2)
    assert res["added_files"] >= 1
    snap = t.metadata.current_snapshot()
    files = cat.read_snapshot_files(t.location, t.metadata, snap)
    assert {f.added_snapshot_id for f in files} == {1}, (
        "outputs must carry the oldest input sequence"
    )


def test_mor_delete_during_compaction_window_still_applies(spark, tmp_path, monkeypatch):
    """A MoR delete committed BETWEEN compaction's read and its commit
    must still delete the rewritten rows (sequence pinning), not
    resurrect them."""
    loc = str(tmp_path / "morrace")
    t = LakeTable.create(spark, loc, "id bigint, v double")
    for i in range(4):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 1.0 AS v"))

    orig = t._write_data_files
    fired = []

    def hijack(df, **kwargs):
        out = orig(df)
        if not fired:
            fired.append(1)
            _second_handle(spark, loc).delete("id < 5", mode="mor")
        return out

    monkeypatch.setattr(t, "_write_data_files", hijack)
    res = maintenance.compact_data_files(t, target_file_size_mb=64, min_input_files=2)
    assert not res.get("aborted")  # MoR adds a predicate, removes nothing
    t.refresh()
    got = {r.id for r in t.to_df().select("id").collect()}
    assert got == set(range(5, 40)), "mid-compaction MoR delete resurrected rows"


def test_compaction_aborts_on_concurrent_cow_delete(spark, tmp_path, monkeypatch):
    """A CoW delete that replaces an input file mid-compaction must
    abort the compaction commit (precondition) — committing would
    re-add the input's stale contents beside the rewritten file."""
    loc = str(tmp_path / "cowrace")
    t = LakeTable.create(spark, loc, "id bigint, v double")
    for i in range(4):
        t.append(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 1.0 AS v"))

    orig = t._write_data_files
    fired = []

    def hijack(df, **kwargs):
        out = orig(df)
        if not fired:
            fired.append(1)
            _second_handle(spark, loc).delete("id = 3", mode="cow")
        return out

    monkeypatch.setattr(t, "_write_data_files", hijack)
    res = maintenance.compact_data_files(t, target_file_size_mb=64, min_input_files=2)
    assert res.get("aborted") is True
    t.refresh()
    got = {r.id for r in t.to_df().select("id").collect()}
    assert got == set(range(40)) - {3}, "concurrent CoW delete was overwritten"
    # aborted staging files are cleaned up (nothing unreferenced on
    # disk, and the whole staging prefix — _SUCCESS markers included —
    # is gone, not just its parquet files)
    assert maintenance.find_unreferenced_files(t) == []
    referenced_dirs = {
        os.path.dirname(p) for p in maintenance.find_all_referenced_files(t)
    }
    data_dir = os.path.join(loc, "data")
    on_disk_dirs = {
        r for r, _d, fs in os.walk(data_dir) if fs and r != data_dir
    }
    assert on_disk_dirs <= referenced_dirs, "aborted staging dir lingers"


def test_purge_dropped_respects_drop_time(spark, tmp_path):
    """A dropped table with an EMPTY deletion queue (never appended)
    must still honor the retention window via dropped_ms — not rmtree
    on the first sweep."""
    loc = str(tmp_path / "emptydrop")
    LakeTable.create(spark, loc, "id bigint")
    maintenance.drop_table(loc)
    res = maintenance.purge_dropped_table(loc)  # default 10-day retention
    assert res["purged"] == 0 and os.path.isdir(loc)
    t = maintenance.restore_table(spark, loc)  # restore window held
    assert t.to_df().count() == 0
    maintenance.drop_table(loc)
    res2 = maintenance.purge_dropped_table(loc, retention_s=0)
    assert not os.path.isdir(loc)
    assert res2["still_retained"] == 0


def test_expire_queues_and_purges_manifests(spark, tmp_path):
    """Expired snapshots' snap-*.json manifests must flow through the
    deletion queue like their data files — one full file list per
    commit otherwise accumulates forever."""
    import glob as _glob

    loc = str(tmp_path / "manifests")
    t = LakeTable.create(spark, loc, "id bigint")
    for i in range(4):
        t.append(spark.range(i, i + 1))
    mdir = os.path.join(loc, "_lake_metadata")
    n_manifests_before = len(_glob.glob(os.path.join(mdir, "snap-*.json")))
    assert n_manifests_before == 4
    maintenance.expire_snapshots(t, max_age_s=0)
    queued_manifests = [
        e["path"] for e in t.metadata.deletion_queue if "snap-" in os.path.basename(e["path"])
    ]
    assert len(queued_manifests) == 3  # all but the current snapshot's
    maintenance.purge_deletion_queue(t, retention_s=0)
    left = _glob.glob(os.path.join(mdir, "snap-*.json"))
    assert len(left) == 1  # current manifest survives
    assert t.to_df().count() == 4  # table still fully readable


def test_autovacuum_isolates_failing_table(spark, tmp_path):
    """One table whose vacuum raises must not starve the tables after
    it — its error is recorded, the others still run."""
    import shutil

    loc_a, loc_b = str(tmp_path / "bad"), str(tmp_path / "good")
    ta = LakeTable.create(spark, loc_a, "id bigint")
    tb = LakeTable.create(spark, loc_b, "id bigint")
    tb.append(spark.range(3))
    shutil.rmtree(loc_a)  # ta.refresh() will now raise
    av = maintenance.Autovacuum([ta, tb], interval_s=0.0)
    out = av.run_pending()
    assert "error" in out[loc_a]
    assert "compact" in out[loc_b], "failing table starved the next one"
    assert av.last_error is not None


def test_writer_alive_on_eperm(monkeypatch):
    """EPERM from kill(pid, 0) means the process EXISTS (another uid) —
    a live writer, not a crashed one."""
    import socket

    rec = {"pid": 12345, "host": socket.gethostname()}

    def eperm(pid, sig):
        raise PermissionError

    monkeypatch.setattr(os, "kill", eperm)
    assert maintenance._writer_alive(rec) is True

    def esrch(pid, sig):
        raise ProcessLookupError

    monkeypatch.setattr(os, "kill", esrch)
    assert maintenance._writer_alive(rec) is False


def test_zorder_bits_clamped_to_long_range(spark, tmp_path):
    """bits*k > 63 must clamp (Spark shiftleft wraps mod 64: colliding
    keys, sign-flipped top bucket) — 9 columns at default bits=8 would
    shift to position 71 unguarded."""
    cols = [f"c{i}" for i in range(9)]
    df = spark.range(64).select(
        *[(F.col("id") * (i + 1) % 17).alias(c) for i, c in enumerate(cols)]
    )
    z = maintenance.zorder_value(df, cols, bits=8)  # clamps to 63//9 = 7... bits
    vals = [r.z for r in df.select(z.alias("z")).collect()]
    assert all(v >= 0 for v in vals), "z key hit the sign bit"
    # and the full rewrite runs end-to-end on a many-column table
    loc = str(tmp_path / "z9")
    t = LakeTable.create_from_dataframe(spark, loc, df)
    res = maintenance.rewrite_zorder(t, cols, n_files=2)
    assert res["added_files"] >= 1
    assert t.to_df().count() == 64


# ---------------------------------------------------------------------------
# r13 table.py review fixes (DML/schema/pruning correctness)
# ---------------------------------------------------------------------------

def test_identity_partition_prunes_typed_values(spark, tmp_path):
    """Identity partition values carry the column's type: a date/string
    partition must match its own equality predicate (the old
    int-or-string dir parse compared str vs date — silently True for
    != — and pruned files that HELD matching rows)."""
    loc = str(tmp_path / "ident_date")
    df = spark.sql(
        "SELECT id, DATE'2024-01-01' + CAST(id % 3 AS INT) AS d "
        "FROM range(30)"
    )
    t = LakeTable.create_from_dataframe(spark, loc, df, partition_by=["d"])
    got = t.scan("d = '2024-01-02'")
    assert got.count() == 10, "matching date-partition rows were pruned away"
    assert t.last_scan_report.files_skipped >= 1  # pruning still prunes
    # string column with a numeric-looking value must stay a string
    loc2 = str(tmp_path / "ident_str")
    df2 = spark.createDataFrame(
        [(1, "0123"), (2, "0123"), (3, "7")], "id int, code string"
    )
    t2 = LakeTable.create_from_dataframe(spark, loc2, df2, partition_by=["code"])
    assert t2.scan("code = '0123'").count() == 2


def test_rename_column_with_pending_mor_predicate(spark, tmp_path):
    """RENAME COLUMN after a MoR delete must not brick the table: the
    stored predicate references the old name, so pending deletes are
    made physical first."""
    loc = str(tmp_path / "renmor")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.range(10).selectExpr("id", "id * 2 AS status")
    )
    t.delete("status >= 10", mode="mor")
    t.rename_column("status", "state")
    got = t.to_df()
    assert "state" in got.columns
    assert got.count() == 5  # the delete stayed applied
    assert t.active_delete_predicates() == []


def test_update_preserves_declared_types(spark, tmp_path):
    """UPDATE assignments that promote a column's type (int/2 → double)
    must be cast back to the declared type in the written files, or the
    schema-pinned scan crashes on the physical mismatch."""
    loc = str(tmp_path / "updtype")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.range(8).selectExpr("CAST(id AS INT) AS qty")
    )
    t.update({"qty": "qty / 2"})
    got = t.to_df()  # would raise Parquet conversion error unfixed
    assert dict(got.dtypes)["qty"] == "int"
    assert sorted(r.qty for r in got.collect()) == [0, 0, 1, 1, 2, 2, 3, 3]


def test_update_conflicts_with_concurrent_cow_delete(spark, tmp_path, monkeypatch):
    """An UPDATE whose candidate file is replaced mid-statement by a
    concurrent CoW delete must raise instead of silently overwriting
    the delete (resurrected rows)."""
    from pg_lake_spark.lakehouse import catalog as cat
    from pg_lake_spark.lakehouse.table import ConcurrentWriteConflict

    loc = str(tmp_path / "updrace")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.range(10).selectExpr("id", "id * 1.0 AS v")
    )
    orig = t._write_data_files
    fired = []

    def hijack(df, **kwargs):
        out = orig(df)
        if not fired:
            fired.append(1)
            LakeTable(spark, loc, cat.read_current_metadata(loc)).delete("id = 3")
        return out

    monkeypatch.setattr(t, "_write_data_files", hijack)
    with pytest.raises(ConcurrentWriteConflict):
        t.update({"v": "v + 100"})
    t.refresh()
    got = {r.id for r in t.to_df().select("id").collect()}
    assert got == set(range(10)) - {3}, "concurrent delete was overwritten"
    assert maintenance.find_unreferenced_files(t) == []


def test_delete_noop_commits_nothing(spark, tmp_path):
    """A DELETE matching zero rows must not rewrite candidate files or
    commit a snapshot."""
    loc = str(tmp_path / "delnoop")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.range(100).selectExpr("id", "id * 1.0 AS v")
    )
    v_before = t.metadata.current_snapshot().snapshot_id
    res = t.delete("id = -1")  # stats overlap is impossible → candidates=0
    res2 = t.delete("v = 0.5")  # inside stats range but matches nothing
    assert res == res2 == {"deleted_rows": 0, "dropped_files": 0, "rewritten_files": 0}
    t.refresh()
    assert t.metadata.current_snapshot().snapshot_id == v_before
    assert t.to_df().count() == 100


def test_delete_rewrites_only_files_with_matches(spark, tmp_path):
    """Stats overlap is a MAY-match: files whose stats admit the
    predicate but hold no matching row must survive untouched."""
    from pg_lake_spark.lakehouse import catalog as cat

    loc = str(tmp_path / "delrefine")
    t = LakeTable.create(spark, loc, "id bigint, v double")
    # two files, both with id stats spanning [0, 19]
    evens = spark.createDataFrame([(i, 1.0) for i in range(0, 20, 2)], "id bigint, v double")
    odds = spark.createDataFrame([(i, 1.0) for i in range(1, 20, 2)], "id bigint, v double")
    t.append(evens.coalesce(1))
    t.append(odds.coalesce(1))
    snap = t.metadata.current_snapshot()
    before_paths = {f.path for f in cat.read_snapshot_files(loc, t.metadata, snap)}
    res = t.delete("id = 2")  # lives only in the evens file
    assert res["deleted_rows"] == 1 and res["rewritten_files"] == 1
    snap2 = t.metadata.current_snapshot()
    after_paths = {f.path for f in cat.read_snapshot_files(loc, t.metadata, snap2)}
    assert len(before_paths & after_paths) == 1, "unmatched file was rewritten"
    assert t.to_df().count() == 19


def test_merge_casts_inserts_to_declared_types(spark, tmp_path):
    """MERGE inserts from a wider-typed source must land in the table's
    declared types (same assignment-cast rule as append)."""
    loc = str(tmp_path / "mergecast")
    t = LakeTable.create(spark, loc, "k int, v int")
    t.append(spark.createDataFrame([(1, 10)], "k int, v int"))
    src = spark.range(2, 4).selectExpr("id AS k", "id * 100 AS v")  # bigints
    t.merge(src, on=["k"], when_matched_update={"v": "s.v"})
    got = t.to_df()
    assert dict(got.dtypes) == {"k": "int", "v": "int"}
    assert {(r.k, r.v) for r in got.collect()} == {(1, 10), (2, 200), (3, 300)}


def test_changelog_from_zero(spark, tmp_path):
    """changelog(from_snapshot_id=0) is the replay-everything lower
    bound (as incremental_scan documents): every current row appears
    once as an insert."""
    loc = str(tmp_path / "cl0")
    t = LakeTable.create_from_dataframe(spark, loc, spark.range(5))
    t.append(spark.range(5, 8))
    ch = t.changelog(0)
    rows = ch.collect()
    assert len(rows) == 8 and all(r._change_type == "insert" for r in rows)


def test_create_rejects_unknown_partition_column(spark, tmp_path):
    with pytest.raises(ValueError, match="partition column tz not found"):
        LakeTable.create(
            spark, str(tmp_path / "badspec"), "id int, ts timestamp_ntz",
            partition_by=["day(tz)"],
        )


def test_add_files_validates_partition_keys(spark, tmp_path):
    """add_files must reject partition_values keyed on anything but the
    spec's field names — a misnamed key used to record None and make
    the rows invisible to pruning."""
    src = spark.createDataFrame([(1, "2024-01-05 00:00:00")], "id bigint, ts string")
    p = str(tmp_path / "loose.parquet")
    src.selectExpr("id", "CAST(ts AS TIMESTAMP_NTZ) AS ts").coalesce(1).write.parquet(p)
    import glob as _glob

    part = _glob.glob(os.path.join(p, "*.parquet"))[0]
    loc = str(tmp_path / "addf")
    t = LakeTable.create(
        spark, loc, "id bigint, ts timestamp_ntz", partition_by=["day(ts)"]
    )
    with pytest.raises(ValueError, match="must be exactly"):
        t.add_files([part], partition_values={"ts": "2024-01-05"})
    t.add_files([part], partition_values={"ts_day": 19727})  # 2024-01-05
    assert t.to_df().count() == 1


def test_rename_swap_reads_old_files(spark, tmp_path):
    """A rename cycle that swaps two columns (x→tmp, y→x, tmp→y) must
    still read pre-swap files correctly (single atomic select — the old
    sequential renames collided on the duplicate name)."""
    loc = str(tmp_path / "swap")
    t = LakeTable.create_from_dataframe(
        spark, loc,
        spark.createDataFrame([(1, 100), (2, 200)], "x int, y int"),
    )
    t.rename_column("x", "tmp")
    t.rename_column("y", "x")
    t.rename_column("tmp", "y")
    got = {(r.x, r.y) for r in t.to_df().collect()}
    assert got == {(100, 1), (200, 2)}, "swap rename misread old files"


def test_delete_in_location_with_space(spark, tmp_path):
    """The per-file match probe compares the scan's percent-encoded
    file URIs against raw manifest paths — a location with a space
    must still delete (the un-decoded compare silently no-ops)."""
    loc = str(tmp_path / "has space" / "t")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.range(10).selectExpr("id", "id * 1.0 AS v")
    )
    res = t.delete("id >= 8 AND id < 9")  # partial-file CoW path
    assert res["deleted_rows"] == 1
    assert t.to_df().count() == 9


def test_update_returning_shows_stored_values(spark, tmp_path):
    """RETURNING reflects the post-image AS STORED (after assignment
    casts): int column updated with a fractional expression returns the
    cast int, not the transient double."""
    loc = str(tmp_path / "updret")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, 7)], "id int, qty int")
    )
    res = t.update({"qty": "qty / 2"}, where="id = 1", returning=["qty"])
    assert [r.qty for r in res["returning"]] == [3]
    assert t.to_df().collect()[0].qty == 3


def test_materialize_after_rename_keeps_current_layout(spark, tmp_path):
    """Rewrites pin added_snapshot_id for MoR scoping but write bytes
    in the CURRENT schema — era resolution must key on the schema
    stamp, or a later rename maps the rewritten file to a physical
    name it never had and its column reads back as silent NULLs."""
    loc = str(tmp_path / "eraseq")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, s string")
    )
    t.rename_column("s", "label")  # rewritten files will carry 'label'
    t.delete("id = 1", mode="mor")
    t.materialize_deletes()  # pins the rewrite to the inputs' sequence
    t.rename_column("label", "tag")  # post-rewrite rename
    got = {(r.id, r.tag) for r in t.to_df().collect()}
    assert got == {(2, "b"), (3, "c")}, "pinned rewrite misread after rename"


# ---------------------------------------------------------------------------
# Typed bucket transform (r14 review: bucket_col silently cast every
# input to bigint — epoch SECONDS for timestamps, NULL for strings —
# so written partition values diverged from bucket_py, which the
# pruner uses: bucket-pruned scans dropped files holding matching rows)
# ---------------------------------------------------------------------------

def test_murmur3_spec_vectors_all_types():
    """Iceberg spec appendix B: date/timestamp/binary vectors (the
    int/string pair is pinned above)."""
    import struct
    from datetime import date as _date, datetime as _dt

    days = (_date(2017, 11, 16) - _date(1970, 1, 1)).days
    assert murmur3_32(struct.pack("<q", days)) == -653330422
    d = _dt(2017, 11, 16, 22, 31, 8) - _dt(1970, 1, 1)
    micros = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    assert murmur3_32(struct.pack("<q", micros)) == -2047944441
    assert murmur3_32(bytes([0, 1, 2, 3])) == -188683207


def test_bucket_py_exact_micros():
    """total_seconds() is float — ±0.5 µs error flips buckets; micros
    must come from exact integer arithmetic."""
    import struct
    from datetime import datetime as _dt

    v = _dt(2500, 1, 1, 0, 0, 0, 123457)
    d = v - _dt(1970, 1, 1)
    exact = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    # the float path demonstrably loses the last microsecond here
    assert int((v - _dt(1970, 1, 1)).total_seconds() * 1_000_000) != exact
    assert bucket_py(v, 1024) == (murmur3_32(struct.pack("<q", exact)) & 0x7FFFFFFF) % 1024


def test_bucket_col_typed_matches_python(spark):
    from datetime import date as _date, datetime as _dt

    strs = ["iceberg", "", "a", "ab", "abc", "abcd", "héllo wörld", "日本語", "x" * 137]
    rows = (
        spark.createDataFrame([(s,) for s in strs], "v string")
        .select("v", bucket_col(F.col("v"), 16, "string").alias("b"))
        .collect()
    )
    assert all(r.b == bucket_py(r.v, 16) for r in rows)

    tss = [_dt(2017, 11, 16, 22, 31, 8), _dt(1970, 1, 1), _dt(2030, 2, 28, 23, 59, 59, 999999)]
    rows = (
        spark.createDataFrame([(t,) for t in tss], "v timestamp")
        .select("v", bucket_col(F.col("v"), 16, "timestamp").alias("b"))
        .collect()
    )
    assert all(r.b == bucket_py(r.v, 16) for r in rows)

    dates = [_date(2017, 11, 16), _date(1969, 12, 31), _date(2100, 6, 15)]
    rows = (
        spark.createDataFrame([(d,) for d in dates], "v date")
        .select("v", bucket_col(F.col("v"), 16, "date").alias("b"))
        .collect()
    )
    assert all(r.b == bucket_py(r.v, 16) for r in rows)

    bins = [bytes([0, 1, 2, 3]), b"", b"\x00", bytes(range(13))]
    rows = (
        spark.createDataFrame([(b,) for b in bins], "v binary")
        .select("v", bucket_col(F.col("v"), 16, "binary").alias("b"))
        .collect()
    )
    assert all(r.b == bucket_py(bytes(r.v), 16) for r in rows)

    import pytest as _pytest

    with _pytest.raises(TypeError, match="bucket transform unsupported"):
        bucket_col(F.col("v"), 8, "double")


def test_string_bucket_partition_prunes_correctly(spark, tmp_path):
    """End-to-end: a bucket(N, string_col) table must return every
    matching row through the bucket-pruned scan — the r14 bug wrote
    NULL partition values while the pruner computed real buckets."""
    loc = str(tmp_path / "tbucket_str")
    df = spark.createDataFrame(
        [(i, f"user{i % 17}", float(i)) for i in range(300)],
        "id bigint, name string, v double",
    )
    t = LakeTable.create(
        spark, loc, "id bigint, name string, v double",
        partition_by=["bucket(4, name)"],
    )
    t.append(df)
    got = t.refresh().to_df(where="name = 'user3'").count()
    assert got == df.filter(F.col("name") == "user3").count()
    # partition values on disk are real buckets, not NULL
    from pg_lake_spark.lakehouse import catalog as cat

    files = cat.read_snapshot_files(
        t.location, t.metadata, t.metadata.current_snapshot()
    )
    pv = {f.partition.get("name_bucket4") for f in files}
    assert None not in pv and pv <= set(range(4))


def test_timestamp_bucket_partition_prunes_correctly(spark, events_df, tmp_path):
    loc = str(tmp_path / "tbucket_ts")
    t = LakeTable.create(
        spark, loc,
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double",
        partition_by=["bucket(4, ts)"],
    )
    t.append(events_df)
    from datetime import datetime as _dt

    target = _dt(2024, 1, 1, 1, 0, 0)
    expect = events_df.filter(F.col("ts") == F.lit(target)).count()
    assert expect > 0
    assert t.refresh().to_df(where="ts = TIMESTAMP '2024-01-01 01:00:00'").count() == expect


def test_commit_lock_token_and_takeover(tmp_path):
    """r14 review: takeover is rename-based (one taker wins a stale
    lock) and release is token-guarded (a displaced owner must not
    delete the usurper's lock)."""
    import os
    import time as _time

    from pg_lake_spark.lakehouse.catalog import CommitLock

    loc = str(tmp_path / "locktbl")
    os.makedirs(os.path.join(loc, "_lake_metadata"))

    # plain acquire/release round-trips
    with CommitLock(loc):
        lockfile = os.path.join(loc, "_lake_metadata", "commit.lock")
        assert os.path.exists(lockfile)
    assert not os.path.exists(lockfile)

    # stale takeover: a crashed writer's old lock is replaced
    a = CommitLock(loc, stale_s=0.2)
    a.__enter__()
    _time.sleep(0.3)
    b = CommitLock(loc, timeout_s=5, stale_s=0.2)
    b.__enter__()  # takes over the stale lock
    # the displaced owner's exit must NOT remove b's lock
    a.__exit__(None, None, None)
    assert os.path.exists(lockfile)
    with open(lockfile) as f:
        assert f.read() == b.token
    b.__exit__(None, None, None)
    assert not os.path.exists(lockfile)


def test_snapshot_as_of_same_millisecond(tmp_path):
    from pg_lake_spark.lakehouse.catalog import Snapshot, TableMetadata

    md = TableMetadata(str(tmp_path), "id bigint")
    md.snapshots = [
        Snapshot(1, 1000, "append", []),
        Snapshot(2, 1000, "append", []),
        Snapshot(3, 2000, "append", []),
    ]
    assert md.snapshot_as_of(1000).snapshot_id == 2
    assert md.snapshot_as_of(1999).snapshot_id == 2
    assert md.snapshot_as_of(2000).snapshot_id == 3


def test_parse_where_quoted_and_or(tmp_path):
    """Quote-masked conjunct splitting (r14): AND/OR inside string
    literals must not break the split (AND) or disable pruning (OR);
    BETWEEN accepts quoted/typed bounds containing spaces."""
    from datetime import datetime as _dt

    from pg_lake_spark.lakehouse.pruning import parse_where

    p = parse_where("msg = 'a AND b' AND id = 3")
    assert p == [("msg", "=", "a AND b"), ("id", "=", 3)]
    p = parse_where("msg = 'x OR y' AND id = 1")
    assert p is not None and len(p) == 2
    p = parse_where(
        "ts BETWEEN TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-01-02 00:00:00'"
    )
    assert p == [("ts", "between", (_dt(2024, 1, 1), _dt(2024, 1, 2)))]
    # still sound: real disjunctions and column-ref bounds disable
    assert parse_where("a = 1 OR b = 2") is None
    assert parse_where("a BETWEEN col1 AND col2") is None


def test_murmur3_binary_col_random_parity(spark):
    """Randomized parity: the expression murmur over arbitrary byte
    strings must equal the Python reference bit-for-bit (seeded, all
    tail lengths exercised)."""
    import random

    rnd = random.Random(0xC0FFEE)
    bins = [
        bytes(rnd.getrandbits(8) for _ in range(rnd.randrange(0, 64)))
        for _ in range(120)
    ]
    import struct as _s

    from pg_lake_spark.lakehouse.transforms import murmur3_32, murmur3_32_binary_col

    df = spark.createDataFrame([(i, b) for i, b in enumerate(bins)], "i int, v binary")
    got = {
        r.i: r.h
        for r in df.select(
            "i", murmur3_32_binary_col(F.col("v")).alias("h")
        ).collect()
    }
    for i, b in enumerate(bins):
        assert got[i] == murmur3_32(b), f"mismatch at {i} len={len(b)}"


def test_parallel_writers_stress(spark, tmp_path):
    """8 threads x 5 appends through independent table handles, each
    retrying on OCC conflict: every append must land exactly once (the
    r14 lock-takeover changes must not admit lost or doubled commits)."""
    import threading

    loc = str(tmp_path / "stress")
    LakeTable.create(spark, loc, "w bigint, i bigint")
    errors: list = []

    def writer(w: int):
        try:
            t = LakeTable.load(spark, loc)
            for i in range(5):
                df = spark.createDataFrame([(w, i)], "w bigint, i bigint")
                for _ in range(60):
                    try:
                        t.refresh().append(df)
                        break
                    except RuntimeError as e:
                        if "concurrent commit" not in str(e):
                            raise
                else:
                    raise RuntimeError(f"writer {w} starved at append {i}")
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    t = LakeTable.load(spark, loc)
    rows = t.to_df().collect()
    assert len(rows) == 40
    assert sorted((r.w, r.i) for r in rows) == [
        (w, i) for w in range(8) for i in range(5)
    ]
    appends = [s for s in t.metadata.snapshots if s.operation == "append"]
    assert len(appends) == 40  # exactly once each — no lost/doubled commits


# ---------------------------------------------------------------------------
# r15 table.py review regressions
# ---------------------------------------------------------------------------

def _mk_kv(spark, tmp_path, name, rows=((1, 10), (2, 20), (3, 30))):
    df = spark.createDataFrame(list(rows), "k int, v int")
    return LakeTable.create_from_dataframe(spark, str(tmp_path / name), df)


def _live_paths(t):
    from pg_lake_spark.lakehouse import catalog as _cat

    return {
        f.path
        for f in _cat.read_snapshot_files(
            t.location, t.metadata, t.metadata.current_snapshot()
        )
    }


def test_mor_delete_rejects_unanalyzable_predicate(spark, tmp_path):
    """A typo'd MoR predicate used to COMMIT and then crash every scan
    and materialize pass with no API path to clear it (r15 review)."""
    t = _mk_kv(spark, tmp_path, "mor_typo")
    with pytest.raises(ValueError, match="does not analyze"):
        t.delete("vv > 10", mode="mor")
    # table still scans; a valid predicate still works
    assert t.scan().count() == 3
    t.delete("v > 25", mode="mor")
    assert t.scan().count() == 2


def test_merge_empty_source_is_noop(spark, tmp_path):
    """Empty source (or all-NULL keys) produced an EMPTY pruning list
    that matched every file — a no-op merge rewrote the whole table
    (r15 review)."""
    t = _mk_kv(spark, tmp_path, "merge_empty")
    before = _live_paths(t)
    res = t.merge(
        spark.createDataFrame([], "k int, v int"),
        ["k"],
        when_matched_update={"v": "s.v"},
    )
    assert res["rewritten_files"] == 0
    assert _live_paths(t) == before
    assert sorted((r.k, r.v) for r in t.scan().collect()) == [
        (1, 10), (2, 20), (3, 30)
    ]


def test_update_zero_matches_is_noop(spark, tmp_path):
    """A WHERE inside every file's stats range but matching no row used
    to rewrite every candidate and commit an 'overwrite' snapshot
    (r15 review; DELETE already had per-file hit counting)."""
    t = _mk_kv(spark, tmp_path, "upd_noop")
    snaps_before = len(t.metadata.snapshots)
    files_before = _live_paths(t)
    res = t.update({"v": "v + 1"}, where="k = 99")
    assert res == {"updated_rows": 0, "rewritten_files": 0}
    assert len(t.metadata.snapshots) == snaps_before
    assert _live_paths(t) == files_before


def test_update_rewrites_only_hit_files(spark, tmp_path):
    """Per-file hit counting: files without a matching row survive
    untouched."""
    df1 = spark.createDataFrame([(1, 10)], "k int, v int").coalesce(1)
    df2 = spark.createDataFrame([(2, 20)], "k int, v int").coalesce(1)
    t = LakeTable.create_from_dataframe(spark, str(tmp_path / "upd_hits"), df1)
    t.append(df2)
    before = _live_paths(t)
    assert len(before) == 2
    res = t.update({"v": "v + 1"}, where="k = 2")
    assert res["updated_rows"] == 1
    after = _live_paths(t)
    # the k=1 file is untouched; only the k=2 file was rewritten
    assert len(before & after) == 1
    assert sorted((r.k, r.v) for r in t.scan().collect()) == [(1, 10), (2, 21)]


def test_update_hits_under_non_normalized_location(spark, tmp_path):
    """UPDATE's per-file hit filter must abspath the manifest path
    before matching the decoded-absolute ``_meta_file_path`` keys —
    raw ``f.path`` under a non-normalized table location (``x/../t``)
    filtered every candidate out, so the statement rewrote nothing
    while still reporting ``updated_rows > 0`` (r16 ADVICE; DELETE
    already used ``os.path.abspath``)."""
    (tmp_path / "x").mkdir()
    loc = str(tmp_path / "x" / ".." / "nn_upd")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int").coalesce(1)
    t = LakeTable.create_from_dataframe(spark, loc, df)
    # precondition for the repro: the manifest keeps the raw ../ form
    # (if a future write path normalizes at record time, this test
    # stops exercising the mismatch and should move the raw form
    # elsewhere)
    assert any("/../" in p for p in _live_paths(t))
    res = t.update({"v": "v + 1"}, where="k = 2")
    assert res["updated_rows"] == 1
    assert res["rewritten_files"] >= 1  # the hit file actually rewrote
    assert sorted((r.k, r.v) for r in t.scan().collect()) == [(1, 10), (2, 21)]


def test_delete_hits_under_non_normalized_location(spark, tmp_path):
    """Same discipline on the DELETE side (shared _meta_path_key)."""
    (tmp_path / "x").mkdir()
    loc = str(tmp_path / "x" / ".." / "nn_del")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int").coalesce(1)
    t = LakeTable.create_from_dataframe(spark, loc, df)
    res = t.delete("k = 2", mode="cow")
    assert res["deleted_rows"] == 1
    assert [(r.k, r.v) for r in t.scan().collect()] == [(1, 10)]


def test_changelog_on_empty_table(spark, tmp_path):
    """changelog(0) before the first ingest returned KeyError instead
    of an empty changelog (r15 review)."""
    t = LakeTable.create(spark, str(tmp_path / "cl_empty"), "k int, v int")
    cl = t.changelog(0)
    assert cl.count() == 0
    assert "_change_type" in cl.columns


def test_footer_stats_poisoned_without_statistics(spark, tmp_path):
    """A row group lacking min/max must leave the column UNBOUNDED —
    narrowed bounds made pruning drop files holding matching rows
    (r15 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_lake_spark.lakehouse.table import _footer_stats

    p = str(tmp_path / "nostats.parquet")
    pq.write_table(
        pa.table({"k": [1, 50, 100], "v": [1, 2, 3]}),
        p,
        write_statistics=False,
    )
    stats = _footer_stats(pq.ParquetFile(p).metadata)
    assert stats["k"]["min"] is None and stats["k"]["max"] is None
    # end-to-end: the registered file is NOT pruned away
    t = LakeTable.create(spark, str(tmp_path / "nostats_t"), "k bigint, v bigint")
    t.add_files([p])
    assert t.scan().filter("k = 50").count() == 1
    res = t.delete("k = 50")
    assert res["deleted_rows"] == 1


def test_add_files_rejects_mistyped_column(spark, tmp_path):
    """A string file column registered into an int table bricked the
    scan far from the add_files call (r15 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "mistyped.parquet")
    pq.write_table(pa.table({"k": [1], "v": ["oops"]}), p)
    t = LakeTable.create(spark, str(tmp_path / "mistyped_t"), "k bigint, v int")
    with pytest.raises(ValueError, match="declares a int type"):
        t.add_files([p])


def test_merge_returning_casts_to_declared_type(spark, tmp_path):
    """merge RETURNING shows the post-image as STORED (update() already
    cast; merge returned the raw expression type — 2.5 for an int
    column that stores 2; r15 review)."""
    t = _mk_kv(spark, tmp_path, "merge_ret")
    res = t.merge(
        spark.createDataFrame([(2, 0)], "k int, v int"),
        ["k"],
        when_matched_update={"v": "t.v / 8"},
        returning=["k", "v"],
    )
    (row,) = res["returning"]
    assert row.v == 2  # int(20 / 8) as stored, not 2.5
    stored = {r.k: r.v for r in t.scan().collect()}
    assert stored[2] == 2


def test_candidates_unchanged_detects_new_mor_predicate(spark, tmp_path):
    """The read-modify-write precondition must abort when a concurrent
    metadata-only MoR delete landed mid-statement — the rewrite's new
    file sequence would lift its rows out of the predicate's scope
    (r15 review)."""
    from pg_lake_spark.lakehouse import catalog as cat

    t = _mk_kv(spark, tmp_path, "precond")
    paths = _live_paths(t)
    check = t._candidates_unchanged(paths)
    md = cat.read_current_metadata(t.location)
    assert check(md) is True
    t.delete("v > 25", mode="mor")  # concurrent metadata-only delete
    md2 = cat.read_current_metadata(t.location)
    assert check(md2) is False


def test_sorted_rewrite_preserves_clustering_on_partitioned_table(spark, tmp_path):
    """_write_data_files' fan-out hash repartition silently destroyed
    the range+sort layout maintenance rewrites had just built — every
    output file spanned the whole domain and pruning pruned nothing
    (r15 review; maintenance now passes cluster=False)."""
    import pyarrow.parquet as pq

    df = spark.range(4000).selectExpr(
        "CAST(id % 2 AS int) AS p", "CAST(id AS bigint) AS ts", "id AS v"
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "sorted_part"),
        "p int, ts bigint, v bigint",
        partition_by=["p"],
    )
    t.append(df)
    res = maintenance.rewrite_sorted(t, ["ts"], target_file_size_mb=1)
    assert res["added_files"] >= 1
    # within each partition, file ts-ranges must not all span the domain
    files = _live_paths(t)
    spans = []
    for p in files:
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st = md.row_group(0).column(idx["ts"]).statistics
        lo = min(
            md.row_group(rg).column(idx["ts"]).statistics.min
            for rg in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(rg).column(idx["ts"]).statistics.max
            for rg in range(md.num_row_groups)
        )
        spans.append(hi - lo)
    # the sort-order property rides the SAME commit now
    assert t.metadata.properties.get("sort-order") == "ts"
    if len(files) > 1:
        assert min(spans) < 3999  # at least one file is range-narrow


def test_zorder_value_refuses_strings_and_handles_dates(spark):
    """cast('double') turned string/date columns into all-NULLs, an
    empty quantile list, and code 0 for every row — z-ordering silently
    provided no clustering (r15 review)."""
    import datetime

    import pytest as _pytest

    df = spark.createDataFrame(
        [(f"u{i}", datetime.date(2024, 1, 1 + i % 28), i) for i in range(100)],
        "uid string, d date, n bigint",
    )
    with _pytest.raises(ValueError, match="zorder column"):
        maintenance.zorder_value(df, ["uid", "n"])
    z = df.select(maintenance.zorder_value(df, ["d", "n"], bits=4).alias("z"))
    zs = [r.z for r in z.collect()]
    assert len(set(zs)) > 1  # dates actually contribute codes
    # absurd bits request is clamped, not a driver OOM
    df.select(maintenance.zorder_value(df, ["n"], bits=40).alias("z")).collect()


def test_rewrite_commit_aborts_on_concurrent_schema_event(spark, tmp_path):
    """A concurrent RENAME during the rewrite window must abort the
    commit: the outputs were written under the OLD physical layout and
    a post-event schema stamp would read the column as NULL
    (r15 review)."""
    t = _mk_kv(spark, tmp_path, "schema_race")
    snap = t.metadata.current_snapshot()
    from pg_lake_spark.lakehouse import catalog as cat

    files = cat.read_snapshot_files(t.location, t.metadata, snap)
    staged = t._write_data_files(t._read_files(files), cluster=False)
    # concurrent rename lands before the rewrite commits
    t2 = LakeTable.load(spark, t.location)
    t2.rename_column("v", "w")
    ok = maintenance._rewrite_commit(
        t, operation="compact", added=staged, input_files=files, summary={}
    )
    assert ok is False
    assert sorted((r.k, r.w) for r in t2.refresh().scan().collect()) == [
        (1, 10), (2, 20), (3, 30)
    ]


def test_flush_skips_malformed_entry_and_unreferenced_excludes_inflight(
    spark, tmp_path
):
    """One malformed in-progress entry aborted the whole flush; a live
    in-flight staging prefix was reported as an unreferenced deletion
    candidate (r15 review)."""
    import json as _json

    t = _mk_kv(spark, tmp_path, "flush_rob")
    d = os.path.join(t.location, "_lake_metadata", "in_progress")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "00-bad.json"), "w") as fh:
        fh.write("{}")  # no 'prefix' key — must be skipped, not crash
    stage = os.path.join(t.location, "data", "deadbeef")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "part-0.parquet"), "wb") as fh:
        fh.write(b"x")
    with open(os.path.join(d, "01-live.json"), "w") as fh:
        _json.dump(
            {"prefix": stage, "ts_ms": time.time() * 1000, "pid": os.getpid()},
            fh,
        )
    res = maintenance.flush_in_progress_queue(t, older_than_s=3600)
    assert res["flushed"] == 0  # live/young entries kept, bad one skipped
    unref = maintenance.find_unreferenced_files(t)
    assert not any("deadbeef" in p for p in unref)


def test_mixed_ops_concurrency_stress(spark, tmp_path):
    """4 writer threads (appends + UPDATEs of their OWN rows) race a
    compactor; every participant retries on OCC conflict. Invariants:
    every appended row lands exactly once, every tombstone UPDATE is
    durable — compaction racing a CoW update/delete must either abort
    or preserve it (the r15 materialize/rewrite precondition class,
    here exercised by real interleaving instead of monkeypatched
    races), and no row is resurrected or doubled."""
    import threading
    import time as _time

    from pg_lake_spark.lakehouse.maintenance import compact_data_files

    loc = str(tmp_path / "mixed_stress")
    LakeTable.create(spark, loc, "w bigint, i bigint, dead boolean")
    errors: list = []
    stop_compactor = threading.Event()

    def retrying(fn, what):
        for _ in range(80):
            try:
                return fn()
            except RuntimeError as e:
                msg = str(e)
                if "concurrent" not in msg and "lost a race" not in msg:
                    raise
                _time.sleep(0.02)
        raise RuntimeError(f"starved: {what}")

    def writer(w: int):
        try:
            t = LakeTable.load(spark, loc)
            for b in range(3):
                df = spark.createDataFrame(
                    [(w, b * 5 + j, False) for j in range(5)],
                    "w bigint, i bigint, dead boolean",
                )
                retrying(lambda: t.refresh().append(df), f"append w={w} b={b}")
                retrying(
                    lambda: t.refresh().update(
                        {"dead": "true"}, where=f"w = {w} AND i = {b * 5}"
                    ),
                    f"update w={w} b={b}",
                )
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def compactor():
        t = LakeTable.load(spark, loc)
        while not stop_compactor.is_set():
            try:
                t.refresh()
                compact_data_files(t, min_input_files=2)
            except RuntimeError:
                pass  # losing an OCC race is fine; corrupting state is not
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                return
            _time.sleep(0.05)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    comp = threading.Thread(target=compactor)
    comp.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    stop_compactor.set()
    comp.join(timeout=120)
    assert not errors, errors

    t = LakeTable.load(spark, loc)
    rows = t.to_df().collect()
    assert len(rows) == 60, f"expected 60 rows, got {len(rows)}"
    assert sorted((r.w, r.i) for r in rows) == [
        (w, i) for w in range(4) for i in range(15)
    ], "rows lost, doubled, or resurrected"
    dead = {(r.w, r.i) for r in rows if r.dead}
    assert dead == {(w, b * 5) for w in range(4) for b in range(3)}, (
        "a tombstone UPDATE was lost (compaction overwrote it) or leaked"
    )


def test_mor_delete_vs_compaction_stress(spark, tmp_path):
    """MoR variant of the mixed stress: writers append then MoR-delete
    their own rows while a compactor continuously materializes pending
    delete predicates and rewrites files (compact_data_files calls
    materialize_deletes — the exact path whose missing commit
    precondition r15 fixed). Deleted rows must stay deleted across
    materialization/rewrite; survivors land exactly once."""
    import threading
    import time as _time

    from pg_lake_spark.lakehouse.maintenance import compact_data_files

    loc = str(tmp_path / "mor_stress")
    LakeTable.create(spark, loc, "w bigint, i bigint")
    errors: list = []
    stop_compactor = threading.Event()

    def retrying(fn, what):
        for _ in range(80):
            try:
                return fn()
            except RuntimeError as e:
                msg = str(e)
                if "concurrent" not in msg and "lost a race" not in msg:
                    raise
                _time.sleep(0.02)
        raise RuntimeError(f"starved: {what}")

    def writer(w: int):
        try:
            t = LakeTable.load(spark, loc)
            for b in range(3):
                df = spark.createDataFrame(
                    [(w, b * 5 + j) for j in range(5)], "w bigint, i bigint"
                )
                retrying(lambda: t.refresh().append(df), f"append w={w} b={b}")
                # MoR-delete the batch's first two rows: the predicate
                # stays logical until a racing materialize pass lands it
                retrying(
                    lambda: t.refresh().delete(
                        f"w = {w} AND i IN ({b * 5}, {b * 5 + 1})", mode="mor"
                    ),
                    f"mor-delete w={w} b={b}",
                )
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def compactor():
        t = LakeTable.load(spark, loc)
        while not stop_compactor.is_set():
            try:
                t.refresh()
                compact_data_files(t, min_input_files=2)
            except RuntimeError:
                pass
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                return
            _time.sleep(0.05)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    comp = threading.Thread(target=compactor)
    comp.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    stop_compactor.set()
    comp.join(timeout=120)
    assert not errors, errors

    t = LakeTable.load(spark, loc)
    # one final materialization so the check reads pure data files too
    t.materialize_deletes()
    rows = t.to_df().collect()
    expect = [
        (w, i) for w in range(4) for i in range(15) if i % 5 not in (0, 1)
    ]
    assert sorted((r.w, r.i) for r in rows) == expect, (
        "a MoR delete was resurrected by a racing materialize/compact, "
        "or a surviving row was lost/doubled"
    )
