"""Streaming surface tests: windowed aggs vs batch/oracle, exactly-once
LakeTable ingestion, stateful operator.

The sources are bounded (the corpus events table), so every streaming
result has an exact batch twin — the same differential discipline as
the rest of the suite.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pg_lake_spark.lakehouse.table import LakeTable
from pg_lake_spark.streaming import (
    read_events_stream,
    run_available_now,
    session_window_agg,
    sliding_window_agg,
    stream_ingest_to_lake,
    tumbling_window_agg,
)
from tests.conftest import SF_DIR, assert_matches


def test_tumbling_matches_oracle(spark, duck):
    got = run_available_now(
        tumbling_window_agg(read_events_stream(spark, SF_DIR), window="1 hour"), spark
    )
    assert_matches(
        got,
        duck,
        """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, sum(value) AS sum_value
        FROM events GROUP BY window_start, event_type
        """,
    )


def test_sliding_matches_batch(spark):
    """Streaming sliding windows equal the batch window() aggregation."""
    got = run_available_now(
        sliding_window_agg(read_events_stream(spark, SF_DIR), window="2 hours", slide="1 hour"),
        spark,
    )
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    # Same dtype guard as streaming/ingest.py:37-42 — `ts` arrives as
    # bigint nanos under nanosAsLong sessions, or directly as NTZ.
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    want = (
        events.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_windows_match_islands_oracle(spark, duck):
    got = run_available_now(
        session_window_agg(read_events_stream(spark, SF_DIR), gap="30 minutes"), spark
    )
    assert_matches(
        got,
        duck,
        """
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        )
        SELECT min(ts) AS session_start, user_id, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_no
        """,
    )


def test_stream_ingest_exactly_once(spark, tmp_path):
    """foreachBatch ingestion commits each micro-batch once per stream.

    Replay protection is keyed by checkpoint location (the stream's
    identity): replaying a batch id within the same checkpoint is a
    no-op — even after other writers commit in between — while a fresh
    checkpoint is a *new* stream and legitimately appends again (the
    same contract as Iceberg's Spark streaming sink)."""
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    n_src = events.count()

    loc = str(tmp_path / "events_lake")
    table = LakeTable.create(
        spark, loc, ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in events.schema.fields)
    )

    q = stream_ingest_to_lake(
        read_events_stream(spark, SF_DIR), table, str(tmp_path / "ckpt1")
    )
    q.awaitTermination()
    table.refresh()
    assert table.to_df().count() == n_src
    snap = table.metadata.current_snapshot()
    assert snap.summary["streaming-batch-id"] == 0

    # Same-checkpoint replay of batch 0 (the at-least-once failure mode
    # foreachBatch exposes) must be recognized and dropped, including
    # after an interleaved non-streaming commit.
    import hashlib

    stream_key = hashlib.md5(
        os.path.abspath(str(tmp_path / "ckpt1")).encode("utf-8")
    ).hexdigest()[:12]
    table.append(events.limit(3))  # interleaved commit, no batch id
    assert table.append_streaming_batch(events, stream_key, 0) is None
    table.refresh()
    assert table.to_df().count() == n_src + 3

    # A fresh checkpoint is a new stream: its batch 0 appends.
    q2 = stream_ingest_to_lake(
        read_events_stream(spark, SF_DIR), table, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()
    table.refresh()
    assert table.to_df().count() == 2 * n_src + 3


def test_stateful_running_totals(spark, duck):
    from pg_lake_spark.streaming import running_user_totals

    got = run_available_now(
        running_user_totals(read_events_stream(spark, SF_DIR)), spark, output_mode="update"
    )
    assert_matches(
        got,
        duck,
        """
        SELECT user_id, count(*) AS n_events, sum(value) AS total_value
        FROM events GROUP BY user_id
        """,
    )


def test_append_feed_at_least_once(spark, tmp_path):
    """AppendFeed tails appends with a durable bookmark: uncommitted
    deltas re-deliver after restart, committed ones don't, and a
    non-append snapshot in the range fails loudly until reset."""
    from pg_lake_spark.streaming import AppendFeed

    loc = str(tmp_path / "feed_t")
    ckpt = str(tmp_path / "feed.ckpt")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, "a")], "k bigint, s string")
    )
    feed = AppendFeed(t, ckpt)  # starts "now": snapshot 1
    assert feed.poll() is None

    t.append(spark.createDataFrame([(2, "b"), (3, "c")], "k bigint, s string"))
    batch = feed.poll()
    assert sorted(r.k for r in batch.collect()) == [2, 3]
    # crash before commit: a new consumer re-reads the same delta
    feed2 = AppendFeed(t, ckpt)
    again = feed2.poll()
    assert sorted(r.k for r in again.collect()) == [2, 3]
    feed2.commit()
    assert feed2.poll() is None
    # restart after commit: caught up
    assert AppendFeed(t, ckpt).poll() is None

    t.append(spark.createDataFrame([(4, "d")], "k bigint, s string"))
    t.delete("k = 1")  # non-append snapshot
    feed3 = AppendFeed(t, ckpt)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-append"):
        feed3.poll()
    feed3.reset(t.metadata.current_snapshot_id)
    assert feed3.poll() is None


def test_append_feed_full_replay_from_zero(spark, tmp_path):
    """start_from=0 is the documented full-replay bookmark: the first
    poll after the first append on an initially-empty-then-written table
    must return everything, not raise 'snapshot 0 not found'."""
    from pg_lake_spark.streaming import AppendFeed

    loc = str(tmp_path / "feed_z")
    ckpt = str(tmp_path / "feed_z.ckpt")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, "a")], "k bigint, s string")
    )
    t.append(spark.createDataFrame([(2, "b")], "k bigint, s string"))
    feed = AppendFeed(t, ckpt, start_from=0)
    batch = feed.poll()
    assert sorted(r.k for r in batch.collect()) == [1, 2]
    feed.commit()
    assert feed.poll() is None
    # incremental_scan(0) directly is the same contract
    assert sorted(r.k for r in t.incremental_scan(0).collect()) == [1, 2]


def test_lake_feed_streaming_source(spark, tmp_path):
    """lake_feed: LakeTable appends as a first-class Structured
    Streaming source (Spark 4 Python Data Source API) — snapshot-id
    offsets, one partition per new file, Spark checkpointing for
    exactly-once delivery, loud failure on a rewrite in range."""
    from pg_lake_spark.streaming.lake_source import register_lake_feed

    register_lake_feed(spark)
    loc = str(tmp_path / "feed_src")
    ckpt = str(tmp_path / "feed_src_ckpt")
    out = str(tmp_path / "feed_src_out")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, "a")], "k bigint, s string")
    )
    t.append(spark.createDataFrame([(2, "b"), (3, "c")], "k bigint, s string"))

    def drain():
        q = (
            spark.readStream.format("lake_feed")
            .option("path", loc)
            .option("startFrom", "0")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r.k for r in spark.read.parquet(out).collect())

    # full replay from snapshot 0 on first start
    assert drain() == [1, 2, 3]
    # restart from the SAME checkpoint: only the delta is appended
    t.append(spark.createDataFrame([(4, "d")], "k bigint, s string"))
    assert drain() == [1, 2, 3, 4]
    # caught up: a third drain appends nothing
    assert drain() == [1, 2, 3, 4]
    # a rewrite inside the pending range fails loudly
    t.delete("k = 1")
    t.append(spark.createDataFrame([(5, "e")], "k bigint, s string"))
    q = (
        spark.readStream.format("lake_feed")
        .option("path", loc)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="non-append"):
        q.awaitTermination(120)


def test_lake_feed_reads_through_schema_eras(spark, tmp_path):
    """Files written before a rename/backfill resolve through the
    schema log: the source rewrites old physical names and fills
    constant defaults executor-side."""
    from pg_lake_spark.streaming.lake_source import register_lake_feed

    register_lake_feed(spark)
    loc = str(tmp_path / "feed_era")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, 10.0)], "k bigint, v double")
    )
    t.rename_column("v", "value")
    t.add_column("tag", "string", default="'legacy'")
    t.append(
        spark.createDataFrame([(2, 20.0, "new")], "k bigint, value double, tag string")
    )
    q = (
        spark.readStream.format("lake_feed")
        .option("path", loc)
        .option("startFrom", "0")
        .load()
        .writeStream.format("memory")
        .queryName("feed_era")
        .option("checkpointLocation", str(tmp_path / "feed_era_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        tuple(r) for r in spark.sql("SELECT k, value, tag FROM feed_era").collect()
    )
    assert rows == [(1, 10.0, "legacy"), (2, 20.0, "new")]


def test_stream_lsh_candidates_equal_batch(spark, tmp_path):
    """The streaming banding+state pipeline emits exactly the batch
    pipeline's candidate set (signature parity is bit-exact)."""
    import os

    from pyspark.sql import functions as F

    from pg_lake_spark.operators import dedup
    from pg_lake_spark.streaming.neardup import (
        stream_lsh_candidates,
        streaming_band_keys,
    )
    from pg_lake_spark.streaming.windows import run_available_now
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    # batch candidates: self-join of the SAME band keys
    banded = streaming_band_keys(docs, "doc_id", "text", shingle_n=2)
    l, r = banded.alias("l"), banded.alias("r")
    batch_cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    schema = docs.schema
    stream = spark.readStream.schema(schema).parquet(
        os.path.join(SF_DIR, "documents.[p]arquet")
    )
    stream_cand = run_available_now(
        stream_lsh_candidates(stream, "doc_id", "text", shingle_n=2),
        spark,
        output_mode="append",
    ).distinct()
    a = set(map(tuple, batch_cand.collect()))
    b = set(map(tuple, stream_cand.collect()))
    assert a == b and a  # identical and non-empty


def test_stream_lsh_gated_candidates_equal_batch_gate(spark, tmp_path):
    """r17 est-gate port parity: the streaming operator with est_gate
    emits EXACTLY the pairs the batch predicate (signature agreement >=
    est_gate*num_hashes) keeps from the ungated candidate set — and the
    gate actually cuts candidates on this corpus (else the port is
    dead code)."""
    import os

    from pyspark.sql import functions as F

    from pg_lake_spark.operators.dedup import _auto_est_gate
    from pg_lake_spark.streaming.neardup import (
        stream_lsh_candidates,
        streaming_band_keys,
    )
    from pg_lake_spark.streaming.windows import run_available_now
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    num_hashes = 12
    gate = _auto_est_gate(0.3, num_hashes, 4)
    # batch ground truth: ungated in-bucket self-join + the batch
    # agreement predicate over the SAME signatures
    banded = streaming_band_keys(
        docs, "doc_id", "text", shingle_n=2, with_signature=True
    )
    l, r = banded.alias("l"), banded.alias("r")
    agree = sum(
        F.when(
            F.element_at("l._sig", i + 1) == F.element_at("r._sig", i + 1), 1
        ).otherwise(0)
        for i in range(num_hashes)
    )
    batch_all = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            agree.alias("__agree"),
        )
    )
    batch_gated = (
        batch_all.filter(F.col("__agree") >= F.lit(gate * num_hashes))
        .select("id_a", "id_b")
        .distinct()
    )
    batch_ungated = batch_all.select("id_a", "id_b").distinct()

    schema = docs.schema
    stream = spark.readStream.schema(schema).parquet(
        os.path.join(SF_DIR, "documents.[p]arquet")
    )
    stream_gated = run_available_now(
        stream_lsh_candidates(
            stream, "doc_id", "text", shingle_n=2, est_gate=gate
        ),
        spark,
        output_mode="append",
    ).distinct()
    want = set(map(tuple, batch_gated.collect()))
    got = set(map(tuple, stream_gated.collect()))
    n_ungated = batch_ungated.count()
    assert got == want and got
    assert len(want) < n_ungated  # the gate actually gates here


def test_stream_lsh_nonpositive_gate_is_ungated(spark):
    """est_gate <= 0 means no gate, as in the batch lsh_candidate_pairs:
    the state keeps the ungated schema (no signatures carried, no
    ``_sig`` column), so est_gate=0.0 plans exactly like est_gate=None."""
    from pg_lake_spark.streaming.neardup import stream_lsh_candidates

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        os.path.join(SF_DIR, "documents.[p]arquet")
    )

    def state_input(gate):
        """Columns fed to the stateful operator (the plan's root)."""
        pairs = stream_lsh_candidates(stream, "doc_id", "text", est_gate=gate)
        plan = pairs._jdf.queryExecution().analyzed()
        return list(plan.children().head().schema().fieldNames())

    assert "_sig" in state_input(0.5)  # the probe sees a real gate
    for gate in (0.0, -1.0):
        assert state_input(gate) == state_input(None)


def test_stream_lsh_gated_state_restore_across_microbatches(spark, tmp_path):
    """The gated emitter's state-RESTORE path (signatures round-tripped
    through the state store) — never exercised by single-micro-batch
    drains: two source files + maxFilesPerTrigger=1 force two
    micro-batches, and cross-batch near-dup pairs must still surface
    gated exactly like the single-batch run."""
    import os

    import pandas as pd

    from pg_lake_spark.operators.dedup import _auto_est_gate
    from pg_lake_spark.streaming.neardup import stream_lsh_candidates
    from tests.conftest import SF_DIR

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "text")
        .toPandas()
    )
    src = tmp_path / "in"
    src.mkdir()
    half = len(docs) // 2
    docs.iloc[:half].to_parquet(src / "part0.parquet")
    docs.iloc[half:].to_parquet(src / "part1.parquet")
    gate = _auto_est_gate(0.3, 12, 4)

    def run(one_file_per_batch: bool):
        reader = spark.readStream.schema("doc_id bigint, text string")
        if one_file_per_batch:
            reader = reader.option("maxFilesPerTrigger", 1)
        stream = reader.parquet(str(src))
        pairs = stream_lsh_candidates(
            stream, "doc_id", "text", shingle_n=2, est_gate=gate
        )
        out = tmp_path / ("out1" if one_file_per_batch else "outN")
        chk = tmp_path / ("chk1" if one_file_per_batch else "chkN")
        q = (
            pairs.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(180)
        return set(
            map(tuple, spark.read.parquet(str(out)).distinct().collect())
        )

    multi = run(True)
    single = run(False)
    assert multi == single and multi


def test_stream_lsh_gated_restart_on_ungated_checkpoint_fails_loudly(spark, tmp_path):
    """Gated state carries each member's signature, so its state schema
    differs from the ungated one. Restarting a drained ungated stream
    gated on the same checkpoint must raise on the first new
    micro-batch instead of resuming from state it cannot read, and must
    emit nothing."""
    import os

    from pyspark.errors import StreamingQueryException

    from pg_lake_spark.streaming.neardup import stream_lsh_candidates
    from tests.conftest import SF_DIR

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "text")
        .toPandas()
    )
    src = tmp_path / "in"
    src.mkdir()
    half = len(docs) // 2
    docs.iloc[:half].to_parquet(src / "part0.parquet")
    out, chk = tmp_path / "out", tmp_path / "chk"

    def drain(est_gate):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(str(src))
        q = (
            stream_lsh_candidates(stream, "doc_id", "text", shingle_n=2, est_gate=est_gate)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(180)

    drain(None)
    emitted = spark.read.parquet(str(out)).count()
    assert emitted > 0
    docs.iloc[half:].to_parquet(src / "part1.parquet")
    with pytest.raises(StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        drain("auto")
    assert spark.read.parquet(str(out)).count() == emitted


def test_streaming_band_keys_fold_equals_per_hash_spelling(spark):
    """r16 differential pin: the single-fold signature (one xxhash64
    pass + aggregate/zip_with running minimum) computes exactly the
    rows of the original per-hash spelling — num_hashes separate
    array_min(transform(shingles, h_i)) trees — which is respelled
    inline here as the ground truth."""
    import os

    from pyspark.sql import functions as F

    from pg_lake_spark.operators.dedup import word_shingles
    from pg_lake_spark.streaming.neardup import _FOLD, _P, streaming_band_keys
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    num_hashes, bands, shingle_n = 12, 4, 2
    rows_per_band = num_hashes // bands

    shingles = word_shingles("text", shingle_n)
    base = docs.where(F.size(shingles) > 0)

    def hasher(i):
        return lambda s: (
            F.lit(2 * i + 1) * F.pmod(F.xxhash64(s), F.lit(_FOLD)).cast("bigint")
            + F.lit(7919 * i + 1)
        ) % F.lit(_P)

    sigs = [
        F.array_min(F.transform(shingles, hasher(i))).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    signed = base.select(F.col("doc_id").alias("_id"), *sigs)
    old = signed.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    f"_h{i}"
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")

    new = streaming_band_keys(
        docs, "doc_id", "text",
        shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.count() > 0


def test_stream_lsh_bucket_cap_bounds_pairs(spark, tmp_path):
    """A stream of identical docs (one mega-bucket per band) emits a
    BOUNDED pair set under the cap — per-bucket state stops growing at
    max_bucket_size, the streaming analogue of batch _cap_buckets."""
    import pandas as pd

    from pg_lake_spark.streaming.neardup import stream_lsh_candidates

    src = tmp_path / "in"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": range(200), "text": ["same boilerplate body here"] * 200}
    ).to_parquet(src / "batch0.parquet")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(str(src))
    )
    cap = 10
    pairs = stream_lsh_candidates(stream, "doc_id", "text", max_bucket_size=cap)
    out = tmp_path / "out"
    chk = tmp_path / "chk"
    q = (
        pairs.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(chk))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out)).distinct()
    n = got.count()
    assert 0 < n <= cap * (cap - 1) // 2


def test_lake_feed_mid_stream_rename_fails_loudly(spark, tmp_path):
    """r14 review: a rename committed AFTER the reader froze its schema
    must raise a clear planner-side error (the frozen mapping cannot
    locate the new physical columns), while a post-freeze ADD is
    tolerated — its extra column is simply not projected."""
    import pytest as _pytest

    from pyspark.sql.types import StructType

    from pg_lake_spark.streaming.lake_source import LakeFeedStreamReader

    loc = str(tmp_path / "feed_mid")
    t = LakeTable.create_from_dataframe(
        spark, loc, spark.createDataFrame([(1, 10.0)], "k bigint, v double")
    )
    reader = LakeFeedStreamReader(
        StructType.fromDDL(t.metadata.schema_ddl), {"path": loc, "startFrom": "0"}
    )
    start = reader.initialOffset()
    # post-freeze ADD: tolerated (prefix of current columns still matches)
    t.add_column("tag", "string", default="'x'")
    t.append(spark.createDataFrame([(2, 20.0, "n")], "k bigint, v double, tag string"))
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    assert parts, "post-freeze ADD must still plan"
    # post-freeze RENAME: loud driver-side failure
    t.rename_column("v", "value")
    t.append(
        spark.createDataFrame([(3, 30.0, "m")], "k bigint, value double, tag string")
    )
    with _pytest.raises(ValueError, match="schema changed after stream start"):
        reader.partitions(start, reader.latestOffset())


def test_keyspace_state_width_derivation(spark, tmp_path):
    """_keyspace_state_width (r17): width follows the corpus time span
    read from parquet footer stats — floor 4 locally, growing with the
    span, capped at parallelism, None on metadata failure."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_lake_spark.queries.streaming_q import (
        _EVENT_TYPE_BOUND,
        _keyspace_state_width,
    )

    def write_span(days: float, name: str) -> str:
        t0 = datetime.datetime(2024, 1, 1)
        ts = [t0, t0 + datetime.timedelta(days=days)]
        pq.write_table(pa.table({"ts": ts}), str(tmp_path / name))
        return name

    # 30-day span (the testdata shape): 721 panes x bound / 2048 -> under
    # the floor -> 4, the r16 sweep value (local behavior unchanged)
    name = write_span(30, "ev30.parquet")
    assert _keyspace_state_width(
        spark, str(tmp_path), name, slide_seconds=3600
    ) == 4

    # 10-year span: panes grow ~120x; width must leave the floor but
    # respect the parallelism cap
    name = write_span(3650, "ev10y.parquet")
    w = _keyspace_state_width(spark, str(tmp_path), name, slide_seconds=3600)
    par = spark.sparkContext.defaultParallelism
    import math

    uncapped = math.ceil((3650 * 24 + 1) * _EVENT_TYPE_BOUND / 2048)
    assert uncapped > 4  # the span term really leaves the floor...
    assert w == max(4, min(par, uncapped))  # ...and the cap clamps it
    # (the shared test session is local[4], so the cap binds here)

    # metadata failure -> None (engine default)
    assert (
        _keyspace_state_width(spark, str(tmp_path), "absent.parquet", slide_seconds=3600)
        is None
    )

    # the real corpus derives the sweep-measured local width
    assert _keyspace_state_width(
        spark, SF_DIR, "events.parquet", slide_seconds=3600
    ) == 4
