"""LakeTable: transactional Iceberg-style tables over Parquet.

Write surface (SURVEY §2.8): CREATE/CTAS, INSERT-append, DELETE
(metadata-only fast path + copy-on-write rewrite), UPDATE (CoW),
snapshot reads + time travel, schema add/drop column, hidden
partitioning with transform fan-out, per-file column stats, and the
``Data Files Scanned/Skipped`` scan report.

Reference lifecycle parity (§3.3): each statement writes new Parquet
file(s), registers them with stats in the catalog, and commits a new
snapshot atomically; readers pin a snapshot and never block writers.

Scale design: the driver only touches *metadata* (file lists, stats,
footers); all row movement is Spark jobs. Footer-stat collection is the
one driver-side loop — O(#new files per commit), each a local footer
read, the same cost the reference pays in GetRemoteParquetColumnStats.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pg_lake_spark.lakehouse import catalog as cat
from pg_lake_spark.lakehouse import pruning
from pg_lake_spark.lakehouse.catalog import DataFile, Snapshot, TableMetadata
from pg_lake_spark.lakehouse.pruning import _pfield_name, parse_where
from pg_lake_spark.lakehouse.transforms import TRANSFORMS, parse_transform

_DERIVED_PREFIX = "__p_"


class ConcurrentWriteConflict(RuntimeError):
    """A read-modify-write DML statement lost a race: between reading
    its candidate files and taking the commit lock, another writer
    replaced one of them (CoW delete/update, compaction). Committing
    anyway would overwrite that writer's change — resurrected deletes,
    duplicated rows — so the statement aborts loudly; re-run it to
    retry on fresh state (the reference serializes whole statements
    under the table lock, writable_table.c, so it never hits this)."""


@dataclass
class ScanReport:
    """Observability equivalent of the reference's EXPLAIN decoration
    ``Data Files Scanned: N / Data Files Skipped: M``."""

    snapshot_id: int | None
    files_scanned: int
    files_skipped: int
    rows_scanned_max: int  # sum of row counts of scanned files


class LakeTable:
    def __init__(self, spark: SparkSession, location: str, metadata: TableMetadata):
        self.spark = spark
        self.location = location
        self.metadata = metadata
        self.last_scan_report: ScanReport | None = None

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        schema_ddl: str,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
    ) -> "LakeTable":
        """CREATE TABLE … USING iceberg [PARTITIONED BY (…)] analogue
        (create_table.c; docs/iceberg-tables.md:1-75)."""
        spec = []
        names = ddl_field_names(schema_ddl)
        for s in partition_by or []:
            t, param, col = parse_transform(s)
            # fail at CREATE, not at the first append (set_partition_spec
            # already validates; a typo'd column would otherwise persist
            # a broken-by-construction table)
            if col not in names:
                raise ValueError(f"partition column {col} not found in schema")
            spec.append({"transform": t, "param": param, "column": col})
        md = cat.create_table_metadata(location, schema_ddl, spec, properties)
        return LakeTable(spark, location, md)

    @staticmethod
    def create_from_dataframe(
        spark: SparkSession,
        location: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
    ) -> "LakeTable":
        """CTAS / ``load_from``-style creation: schema inferred from the
        source (describe.c:61 DescribeColumnsForURL analogue)."""
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        t = LakeTable.create(spark, location, ddl, partition_by, properties)
        t.append(df)
        return t

    @staticmethod
    def load(spark: SparkSession, location: str) -> "LakeTable":
        return LakeTable(spark, location, cat.read_current_metadata(location))

    def refresh(self) -> "LakeTable":
        self.metadata = cat.read_current_metadata(self.location)
        return self

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        extra_summary: dict | None = None,
        *,
        precondition=None,
        mutate=None,
    ) -> Snapshot | None:
        """INSERT: new parquet files + stats + snapshot commit.

        ``extra_summary`` lets callers stamp commit provenance into the
        snapshot (the streaming ingest path records its micro-batch id
        here for exactly-once replay protection). ``precondition`` /
        ``mutate`` pass through to :meth:`_commit` for callers that
        keep their own commit-time bookkeeping (the file pipeline's
        processed-set lives in table properties); an aborted
        precondition returns None and the caller owns staging cleanup
        (:meth:`_discard_staging`).
        """
        df = self._align_for_write(df)
        new_files = self._write_data_files(df)
        summary = {
            "added_files": len(new_files),
            "added_rows": sum(f.row_count for f in new_files),
        }
        if extra_summary:
            summary.update(extra_summary)
        return self._commit(
            operation="append",
            added=new_files,
            removed_paths=set(),
            summary=summary,
            precondition=precondition,
            mutate=mutate,
        )

    def _align_for_write(self, df: DataFrame) -> DataFrame:
        """Fill columns absent from ``df`` with their current write-time
        default (NULL when none — PG DEFAULT semantics on INSERT), order
        columns to the table schema, and apply the out-of-range policy."""
        from pg_lake_spark.lakehouse import validation

        fields = ddl_fields(self.metadata.schema_ddl)
        missing = [(n, t) for n, t in fields if n not in df.columns]
        if missing:
            for n, t in missing:
                d = self.metadata.column_defaults.get(n)
                df = df.withColumn(n, F.expr(d if d is not None else "NULL").cast(t))
        # Assignment casts (PG INSERT semantics): every column lands in
        # its DECLARED type so data files always carry the table schema.
        # Without this, an input with a near-miss type (decimal literal
        # into a double column) writes its own physical type and the
        # schema-pinned scan misreads it (decimal unscaled ints read as
        # doubles).
        df = df.select(*[F.col(n).cast(t).alias(n) for n, t in fields])
        policy = self.metadata.properties.get("out_of_range_values", validation.ERROR)
        if policy != "none":
            df = validation.validate_for_write(df, policy)
        return df

    def append_streaming_batch(
        self, df: DataFrame, stream_key: str, batch_id: int
    ) -> Snapshot | None:
        """Exactly-once micro-batch append.

        The per-stream high-water batch id lives in table *properties*
        keyed by ``stream_key`` and is checked and advanced inside the
        commit lock — so interleaved commits by other writers (manual
        appends, deletes, compaction, a second stream) cannot reset it,
        unlike stamping the latest snapshot's summary. A replayed batch
        is detected at commit time; its staged files are unlinked and
        no snapshot is produced. Returns None for a skipped replay.
        """
        prop_key = f"streaming.high-water.{stream_key}"

        def high_water(md: "TableMetadata") -> int:
            v = md.properties.get(prop_key)
            if v is not None:
                return int(v)
            # One-time migration read: earlier versions tracked the mark
            # only in the newest snapshot's summary ("streaming-batch-id")
            # with no stream key. Without this fallback, a table written
            # by the old version replaying its last micro-batch after
            # upgrade sees -1 and double-appends it once (round-2 ADVICE).
            for snap in reversed(md.snapshots):
                s = snap.summary or {}
                if "streaming-batch-id" in s and s.get("stream-key") in (None, stream_key):
                    return int(s["streaming-batch-id"])
            return -1

        # Cheap pre-check against our metadata image to skip the write.
        if batch_id <= high_water(self.metadata):
            return None
        df = self._align_for_write(df)
        new_files = self._write_data_files(df)
        snap = self._commit(
            operation="append",
            added=new_files,
            removed_paths=set(),
            summary={
                "added_files": len(new_files),
                "added_rows": sum(f.row_count for f in new_files),
                "streaming-batch-id": batch_id,
                "stream-key": stream_key,
            },
            properties_update={prop_key: batch_id},
            precondition=lambda md: batch_id > high_water(md),
        )
        if snap is None:  # lost the race to a concurrent replay — clean up
            # the designated abort path: removes the whole staging
            # prefix (partition subdirs, _SUCCESS) and the in-progress
            # entries — the manual per-parquet unlink loop leaked both
            # (r15 review)
            self._discard_staging()
        return snap

    def add_files(self, paths: list[str], partition_values: dict | None = None) -> Snapshot:
        """Register EXISTING parquet files into the table as an append
        snapshot — no data rewrite (the reference's
        ``lake.add_files_to_table``; Iceberg's ``add_files`` procedure).

        Footer stats are collected per file so pruning works exactly as
        for engine-written files; schemas must be by-name compatible
        with the table (extra columns rejected, missing ones read as
        NULL). For a partitioned table, ``partition_values`` supplies
        the partition tuple the files belong to (one call per tuple)."""
        import pyarrow.parquet as pq

        table_cols = {n for n, _ in ddl_fields(self.metadata.schema_ddl)}
        spec = self.metadata.partition_spec
        if spec and partition_values is None:
            raise ValueError("partitioned table: pass partition_values")
        if spec:
            # keys must be EXACTLY the spec's field names (e.g. 'ts_day'
            # for day(ts), with the transform's value form) — silently
            # recording None for a misnamed key would make every
            # registered row invisible to equality pruning
            want = {_pfield_name(pf) for pf in spec}
            got = set(partition_values or {})
            if got != want:
                raise ValueError(
                    f"partition_values keys {sorted(got)} must be exactly "
                    f"the spec field names {sorted(want)}"
                )
        # coarse type classes: enough to refuse the silently-bricking
        # mismatches (string file column vs int table column) at
        # registration — the schema-pinned scan otherwise fails deep in
        # the parquet reader, far from the add_files call (r15 review).
        # Same-class width changes (int32 file, bigint table) pass.
        _coarse_by_ddl = {
            "tinyint": "int", "smallint": "int", "int": "int",
            "integer": "int", "bigint": "int", "long": "int",
            "float": "float", "real": "float", "double": "float",
            "boolean": "bool", "string": "string", "varchar": "string",
            "binary": "binary", "date": "date",
            "timestamp": "timestamp", "timestamp_ntz": "timestamp",
        }
        table_types = {}
        for n, t in ddl_fields(self.metadata.schema_ddl):
            base = t.strip().lower()
            if base.startswith("decimal"):
                table_types[n] = "decimal"
            else:
                table_types[n] = _coarse_by_ddl.get(base)

        def _coarse_arrow(dt) -> str | None:
            import pyarrow as pa

            if pa.types.is_integer(dt):
                return "int"
            if pa.types.is_floating(dt):
                return "float"
            if pa.types.is_decimal(dt):
                return "decimal"
            if pa.types.is_boolean(dt):
                return "bool"
            if pa.types.is_string(dt) or pa.types.is_large_string(dt):
                return "string"
            if (
                pa.types.is_binary(dt)
                or pa.types.is_large_binary(dt)
                or pa.types.is_fixed_size_binary(dt)
            ):
                return "binary"
            if pa.types.is_timestamp(dt):
                return "timestamp"
            if pa.types.is_date(dt):
                return "date"
            return None

        new_files: list[DataFile] = []
        for path in paths:
            meta = pq.ParquetFile(path).metadata
            file_cols = {meta.schema.column(i).name for i in range(meta.num_columns)}
            extra = file_cols - table_cols
            if extra:
                raise ValueError(
                    f"{path}: columns {sorted(extra)} not in table schema"
                )
            arrow_schema = meta.schema.to_arrow_schema()
            for fld in arrow_schema:
                want = table_types.get(fld.name)
                got = _coarse_arrow(fld.type)
                if want is not None and got is not None and want != got:
                    raise ValueError(
                        f"{path}: column {fld.name!r} is {fld.type} in the "
                        f"file but the table declares a {want} type — the "
                        "schema-pinned scan cannot read it"
                    )
            partition = dict(partition_values or {})
            if spec:
                partition = {_pfield_name(pf): partition.get(_pfield_name(pf)) for pf in spec}
            new_files.append(
                DataFile(
                    path=os.path.abspath(path),
                    row_count=meta.num_rows,
                    size_bytes=os.path.getsize(path),
                    partition=partition,
                    stats=_footer_stats(meta),
                    spec_id=self.metadata.default_spec_id,
                )
            )
        return self._commit(
            operation="append",
            added=new_files,
            removed_paths=set(),
            summary={
                "added_files": len(new_files),
                "added_rows": sum(f.row_count for f in new_files),
                "add-files": True,
            },
        )

    def _register_in_progress(self, staging: str) -> str:
        """Record a staging prefix BEFORE writing (reference:
        in_progress_files.c — committed transactions remove their
        entries; crashed ones are reclaimed by VACUUM's flush)."""
        d = os.path.join(self.location, "_lake_metadata", "in_progress")
        os.makedirs(d, exist_ok=True)
        entry = os.path.join(d, uuid.uuid4().hex + ".json")
        import socket

        with open(entry, "w") as fh:
            # pid/host let VACUUM key liveness to the writing process
            # (reference keys to transaction state), not just wall-clock
            # age — a >1h write must not have its staging reclaimed
            # mid-flight by a concurrent vacuum.
            json.dump(
                {
                    "prefix": staging,
                    "ts_ms": int(time.time() * 1000),
                    "pid": os.getpid(),
                    "host": socket.gethostname(),
                },
                fh,
            )
        self._pending_in_progress = getattr(self, "_pending_in_progress", [])
        self._pending_in_progress.append(entry)
        return entry

    def _clear_in_progress(self) -> None:
        for entry in getattr(self, "_pending_in_progress", []):
            try:
                os.remove(entry)
            except FileNotFoundError:
                pass
        self._pending_in_progress = []

    def _discard_staging(self) -> None:
        """Remove every staging prefix registered since the last commit
        (aborted statement cleanup): the whole directory — _SUCCESS
        markers and partition subdirs included — then the in-progress
        entries themselves."""
        import shutil

        for entry in getattr(self, "_pending_in_progress", []):
            try:
                with open(entry) as fh:
                    shutil.rmtree(json.load(fh)["prefix"], ignore_errors=True)
            except (OSError, ValueError, KeyError):
                pass
        self._clear_in_progress()

    def _candidates_unchanged(self, paths: set[str]):
        """Commit precondition for read-modify-write DML: every
        candidate file the statement read must still be live in the
        freshest snapshot, AND no new MoR delete predicate landed since
        the statement started. A concurrent writer replacing a file
        mid-statement (CoW delete/update, compaction) would otherwise
        have its committed change silently overwritten by this rewrite
        — resurrected deletes, duplicated rows. A concurrent
        metadata-only MoR delete changes no file paths, but this
        rewrite's output files would carry a NEWER sequence than the
        predicate, silently lifting the rewritten rows out of its
        scope (r15 review)."""
        pred_ids_before = {
            (e["predicate"], e["added_snapshot_id"])
            for e in self.metadata.delete_predicates
        }

        def check(md) -> bool:
            cur = md.current_snapshot()
            new_preds = any(
                (e["predicate"], e["added_snapshot_id"]) not in pred_ids_before
                for e in md.delete_predicates
            )
            if new_preds:
                return False
            if cur is None:
                return not paths
            live = {f.path for f in cat.read_snapshot_files(self.location, md, cur)}
            return paths <= live

        return check

    def _write_data_files(self, df: DataFrame, *, cluster: bool = True) -> list[DataFile]:
        staging = os.path.join(self.location, "data", uuid.uuid4().hex)
        self._register_in_progress(staging)
        spec = self.metadata.partition_spec
        if spec:
            out = df
            derived = []
            for pf in spec:
                col_builder, _ = TRANSFORMS[pf["transform"]]
                dtype = dict(df.dtypes).get(pf["column"], "bigint")
                dname = _DERIVED_PREFIX + _pfield_name(pf)
                out = out.withColumn(
                    dname, col_builder(F.col(pf["column"]), pf.get("param"), dtype)
                )
                derived.append(dname)
            if cluster:
                # Fan-out discipline: cluster rows of the same partition
                # into the same task before the partitioned write so each
                # task holds O(1) open files, the Spark analogue of the
                # max_open_files_for_partitioned_write staging design
                # (multi_data_file_dest.c). Maintenance rewrites pass
                # cluster=False: they have ALREADY laid the data out
                # (coalesce sizing, range+sort clustering) and this hash
                # repartition silently destroyed it — one giant file per
                # compacted partition group, zero z/sort locality
                # (r15 review).
                out = out.repartition(*[F.col(d) for d in derived])
            out.write.partitionBy(*derived).parquet(staging)
        else:
            df.write.parquet(staging)
        return self._collect_datafiles(staging)

    def _collect_datafiles(self, root: str) -> list[DataFile]:
        import pyarrow.parquet as pq

        spec = self.metadata.partition_spec
        spec_id = self.metadata.default_spec_id
        ptypes = _partition_field_types(self.metadata.schema_ddl, spec)
        out: list[DataFile] = []
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(dirpath, fn)
                partition = {}
                rel = os.path.relpath(dirpath, root)
                if rel != ".":
                    for comp in rel.split(os.sep):
                        if "=" not in comp:
                            continue
                        k, v = comp.split("=", 1)
                        k = k.removeprefix(_DERIVED_PREFIX)
                        partition[k] = _parse_partition_value(v, ptypes.get(k))
                meta = pq.ParquetFile(path).metadata
                stats = _footer_stats(meta)
                out.append(
                    DataFile(
                        path=path,
                        row_count=meta.num_rows,
                        size_bytes=os.path.getsize(path),
                        partition=partition,
                        stats=stats,
                        spec_id=spec_id,
                    )
                )
        # keep spec field names stable even for identity transforms
        if spec:
            for f in out:
                f.partition = {
                    _pfield_name(pf): f.partition.get(_pfield_name(pf))
                    for pf in spec
                }
        return out

    def _commit(
        self,
        operation: str,
        added: list[DataFile],
        removed_paths: set[str],
        summary: dict,
        schema_ddl: str | None = None,
        properties_update: dict | None = None,
        precondition=None,
        mutate=None,
    ) -> Snapshot | None:
        """Atomic snapshot commit.

        ``precondition(md)`` runs inside the commit lock against the
        freshest metadata; returning False aborts the commit (returns
        None) — callers own cleanup of any files they staged.
        ``properties_update`` merges into table properties in the same
        commit (used by streaming high-water marks). ``mutate(md, sid)``
        applies arbitrary metadata changes (schema log, partition specs,
        defaults) inside the lock, with the new snapshot id.
        """
        with cat.CommitLock(self.location):
            md = cat.read_current_metadata(self.location)
            if precondition is not None and not precondition(md):
                self.metadata = md
                return None
            current = md.current_snapshot()
            sid = (current.snapshot_id + 1) if current else 1
            # Stamp the data-sequence number; files carrying an explicit
            # id (e.g. compaction preserving its inputs' age) keep it.
            # The SCHEMA stamp is always this commit (rewrites pin the
            # sequence but write bytes in the current schema — era
            # resolution must follow the layout, not the sequence).
            for f in added:
                if f.added_snapshot_id is None:
                    f.added_snapshot_id = sid
                if f.schema_snapshot_id is None:
                    f.schema_snapshot_id = sid
            kept: list[DataFile] = []
            if current is not None:
                kept = [
                    f
                    for f in cat.read_snapshot_files(self.location, md, current)
                    if f.path not in removed_paths
                ]
            manifests = []
            if kept or added:
                manifests = [cat.write_manifest(self.location, kept + added)]
            snap = Snapshot(
                snapshot_id=sid,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                manifests=manifests,
                summary=summary,
            )
            md.snapshots.append(snap)
            md.current_snapshot_id = snap.snapshot_id
            for p in removed_paths:
                md.deletion_queue.append({"path": p, "enqueued_ms": snap.timestamp_ms})
            if schema_ddl is not None:
                md.schema_ddl = schema_ddl
            if properties_update:
                md.properties.update(properties_update)
            if mutate is not None:
                mutate(md, sid)
            # max_snapshot_age = 0 (iceberg-tables.md:749): old snapshots
            # expire automatically DURING writes, riding this commit —
            # no separate VACUUM needed. Non-zero ages expire only at
            # VACUUM time (expiring here would cost a manifest walk per
            # write).
            if str(md.properties.get("max_snapshot_age", "")).strip() == "0":
                from pg_lake_spark.lakehouse import maintenance

                maintenance.expire_in_metadata(self.location, md, 0)
            cat.commit_metadata(self.location, md)
            self.metadata = md
            self._clear_in_progress()  # committed: staged files are live
            return snap

    # ------------------------------------------------------------------
    # Schema eras (rename / backfill resolution per file generation)
    # ------------------------------------------------------------------
    def _era_key(self, f: DataFile) -> tuple[int, ...]:
        """Indexes of schema-log events that post-date ``f``'s PHYSICAL
        layout (a file written before a rename carries the old physical
        column name; one written before an add-with-default lacks the
        column). Keys on schema_snapshot_id: rewrites pin
        added_snapshot_id to an older sequence for MoR-delete scoping,
        but their bytes are written in the rewrite-time schema."""
        s = f.schema_snapshot_id or f.added_snapshot_id or 0
        return tuple(
            i for i, e in enumerate(self.metadata.schema_log) if s < e["snapshot_id"]
        )

    def _era_info(self, era_key: tuple[int, ...]):
        """For one era: (logical→physical name map, logical→default-SQL
        backfills). Walks the applicable events newest-first, so rename
        chains (a→b→c) and rename-after-backfill compose correctly."""
        cache = getattr(self, "_era_cache", None)
        ck = (self.metadata.version, self.metadata.schema_ddl, era_key)
        if cache is not None and cache.get("key") == ck[:2] and era_key in cache["eras"]:
            return cache["eras"][era_key]
        fields = ddl_fields(self.metadata.schema_ddl)
        phys = {n: n for n, _ in fields}
        backfills: dict[str, str | None] = {}
        for i in reversed(era_key):
            e = self.metadata.schema_log[i]
            if e["op"] == "rename":
                for lg, p in phys.items():
                    if p == e["to"]:
                        phys[lg] = e["from"]
                        break
            elif e["op"] == "backfill":
                lg = next((l for l, p in phys.items() if p == e["column"]), None)
                if lg is not None:
                    backfills[lg] = e.get("default")
            # "drop" events need no read-time action: a re-added column
            # always records a backfill, which shields stale values.
        info = (phys, backfills)
        if cache is None or cache.get("key") != ck[:2]:
            self._era_cache = {"key": ck[:2], "eras": {}}
        self._era_cache["eras"][era_key] = info
        return info

    def _read_era(
        self, paths: list[str], era_key: tuple[int, ...], with_meta: bool = False
    ) -> DataFrame:
        """Read files of one era and present them in the current schema:
        physical columns renamed to logical, backfilled columns filled
        with their add-time constant (NULL when none). ``with_meta``
        appends ``_meta_file_path``/``_meta_pos`` (the scan's file URI
        and row index) for position-level consumers."""
        fields = ddl_fields(self.metadata.schema_ddl)
        phys, backfills = self._era_info(era_key)
        read_fields = [(phys[n], t) for n, t in fields if n not in backfills]
        ddl = ", ".join(f"{p} {t}" for p, t in read_fields)
        g = self.spark.read.schema(ddl).parquet(*paths)
        # One atomic select with aliases: sequential withColumnRenamed
        # collides when the era's rename mapping is a swap (x→tmp,
        # y→x, tmp→y) — the first rename creates a duplicate name and
        # the second renames both.
        cols = []
        for n, t in fields:
            if n in backfills:
                d = backfills[n]
                cols.append(F.expr(d if d is not None else "NULL").cast(t).alias(n))
            else:
                cols.append(F.col(phys[n]).alias(n))
        if with_meta:
            cols.append(F.col("_metadata.file_path").alias("_meta_file_path"))
            cols.append(F.col("_metadata.row_index").alias("_meta_pos"))
        return g.select(*cols)

    def _read_files(self, files: list[DataFile], with_meta: bool = False) -> DataFrame:
        """Era-grouped read of a file set in the current logical schema
        (no delete-predicate application — DML internals use this)."""
        groups: dict[tuple, list[str]] = {}
        for f in files:
            groups.setdefault(self._era_key(f), []).append(f.path)
        df = None
        for era_key, paths in groups.items():
            g = self._read_era(paths, era_key, with_meta=with_meta)
            df = g if df is None else df.unionByName(g)
        if df is None:
            ddl = self.metadata.schema_ddl
            if with_meta:
                ddl += ", _meta_file_path string, _meta_pos bigint"
            return self.spark.createDataFrame([], ddl)
        return df

    def _read_files_with_meta(self, files: list[DataFile]) -> DataFrame:
        """:meth:`_read_files` plus ``_meta_file_path``/``_meta_pos``."""
        return self._read_files(files, with_meta=True)

    @staticmethod
    def _meta_path_key(uri: str) -> str:
        """Local-filesystem key for a ``_meta_file_path`` URI: the
        percent-decoded path component. Spark reports absolute,
        percent-encoded ``file:`` URIs while manifests may hold
        relative paths — so every hit-filter comparison must pair this
        with ``os.path.abspath(DataFile.path)``. Shared by DELETE and
        UPDATE so the two DML hit filters cannot drift (the r15 UPDATE
        rewrite compared raw ``f.path`` and, under a relative table
        location, filtered every candidate out while still reporting
        ``updated_rows > 0``)."""
        return urllib.parse.unquote(urllib.parse.urlparse(uri).path)

    def _file_matches(self, f: DataFile, preds) -> bool:
        """Era- and spec-aware pruning check: predicates (in logical
        names) are translated to the file's physical names; the file's
        own partition spec applies (spec evolution). Sound: untranslat-
        able predicates keep the file."""
        if preds is None:
            return True
        phys, backfills = self._era_info(self._era_key(f))
        tpreds = []
        for col, op, val in preds:
            if col in backfills:
                continue  # constant column for this era — keep (sound)
            tpreds.append((phys.get(col, col), op, val))
        spec = self.metadata.partition_specs.get(f.spec_id, [])
        return pruning.file_matches(f, tpreds, spec)

    def _file_fully_matches(self, f: DataFile, preds) -> bool:
        phys, backfills = self._era_info(self._era_key(f))
        if any(col in backfills for col, _, _ in preds):
            return False  # cannot prove over constant columns
        tpreds = [(phys.get(col, col), op, val) for col, op, val in preds]
        return _file_fully_matches(f, tpreds)

    def _classify_files(self, files: list[DataFile], pred_sets: list) -> tuple:
        """The DML file classes for deleting rows that match ANY of
        ``pred_sets`` (one ``parse_where`` result per predicate; None
        marks an unparseable one): ``(full, partial)``. Full: stats
        prove every row matches one predicate (metadata-only drop).
        Partial: stats may match, so the file is rewritten. Files in
        neither stay untouched. An unparseable predicate makes every
        file partial. Shared by DELETE and MoR-delete materialization
        so their file scopes cannot drift."""
        if any(p is None for p in pred_sets):
            return [], list(files)
        full, partial = [], []
        for f in files:
            if not any(self._file_matches(f, p) for p in pred_sets):
                continue
            if any(p and self._file_fully_matches(f, p) for p in pred_sets):
                full.append(f)
            else:
                partial.append(f)
        return full, partial

    # ------------------------------------------------------------------
    # Read path
    # ------------------------------------------------------------------
    def _resolve_snapshot(self, snapshot_id: int | None, as_of_ms: int | None) -> Snapshot | None:
        md = self.metadata
        if snapshot_id is not None:
            return md.snapshot_by_id(snapshot_id)
        if as_of_ms is not None:
            return md.snapshot_as_of(as_of_ms)
        return md.current_snapshot()

    def scan(
        self,
        where: str | None = None,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot read with file-level pruning.

        ``where`` (optional, simple conjunction) is used twice: to prune
        the file list via stats/partitions (driver-side) AND as a normal
        Spark filter (so semantics never depend on pruning accuracy —
        pruning is purely a performance layer, exactly like the
        reference where DuckDB re-filters pruned scans).
        """
        snap = self._resolve_snapshot(snapshot_id, as_of_ms)
        files = (
            cat.read_snapshot_files(self.location, self.metadata, snap) if snap else []
        )
        preds = parse_where(where) if where else None
        kept = [f for f in files if self._file_matches(f, preds)] if preds else files
        self.last_scan_report = ScanReport(
            snapshot_id=snap.snapshot_id if snap else None,
            files_scanned=len(kept),
            files_skipped=len(files) - len(kept),
            rows_scanned_max=sum(f.row_count for f in kept),
        )
        if not kept:
            return self.spark.createDataFrame([], self.metadata.schema_ddl)
        # Merge-on-read: apply delete predicates active for this snapshot
        # (added at-or-before it, not yet materialized at its time) — but
        # only to files that already existed when the delete committed
        # (file sequence < delete sequence, Iceberg semantics): rows
        # appended after a MoR delete are never hidden by it. Files group
        # by (applicable-predicate set, schema era); each group is one
        # scan presented in the current schema, unioned — in practice
        # 1-2 groups. The NULL-safe filter keeps rows where the predicate
        # is NULL (SQL DELETE removes only rows where it is TRUE).
        active = self._active_delete_entries(snap)
        groups: dict[tuple, list[DataFile]] = {}
        for f in kept:
            dk = tuple(
                i
                for i, e in enumerate(active)
                if (f.added_snapshot_id or 0) < e["added_snapshot_id"]
            )
            groups.setdefault((dk, self._era_key(f)), []).append(f)
        df = None
        for (dk, era_key), gfiles in groups.items():
            g = self._read_era([f.path for f in gfiles], era_key)
            for i in dk:
                g = g.filter(~F.coalesce(F.expr(active[i]["predicate"]), F.lit(False)))
            df = g if df is None else df.unionByName(g)
        if where:
            df = df.filter(where)
        return df

    def to_df(self, **kwargs) -> DataFrame:
        return self.scan(**kwargs)

    def changelog(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Net row-level changes between two snapshots: each changed row
        appears once with ``_change_type`` = 'insert' or 'delete' (an
        UPDATE contributes one of each; rows merely rewritten by CoW or
        compaction cancel out). The Iceberg-changelog-view analogue
        (pg_lake_table/tests/pytests/test_iceberg_changelog.py), and the
        general-DML complement of :meth:`incremental_scan`'s
        append-only feed.

        Semantics are the multiset diff of the two snapshot scans —
        exact for every operation mix (CoW, MoR predicates, merges,
        compaction). Scale: when no MoR delete predicate is pending at
        either endpoint, both scans are first restricted to the files
        NOT shared by the endpoints (shared files contribute identical
        row multisets to both sides and cancel in EXCEPT ALL), so a
        small commit range reads only its touched files."""
        md = self.metadata
        to_id = (
            to_snapshot_id
            if to_snapshot_id is not None
            else (md.current_snapshot().snapshot_id if md.current_snapshot() else 0)
        )
        if to_id == 0:
            # no snapshots yet: empty changelog, same grace as
            # incremental_scan (scan(snapshot_id=0) raised KeyError for
            # a consumer polling before first ingest; r15 review)
            return self.spark.createDataFrame([], md.schema_ddl).withColumn(
                "_change_type", F.lit("insert")
            ).filter(F.lit(False))
        # from=0 is the pre-table state ("every current row is an
        # insert") — the same replay-everything lower bound
        # incremental_scan documents; never a real snapshot id.
        old = (
            self.spark.createDataFrame([], md.schema_ddl)
            if from_snapshot_id == 0
            else self.scan(snapshot_id=from_snapshot_id)
        )
        new = self.scan(snapshot_id=to_id)
        if not md.delete_predicates:
            from_snap = (
                None if from_snapshot_id == 0 else md.snapshot_by_id(from_snapshot_id)
            )
            to_snap = md.snapshot_by_id(to_id)
            f_from = (
                {f.path for f in cat.read_snapshot_files(self.location, md, from_snap)}
                if from_snap
                else set()
            )
            f_to = {f.path for f in cat.read_snapshot_files(self.location, md, to_snap)}
            shared = f_from & f_to
            if shared:
                keep_old = sorted(f_from - shared)
                keep_new = sorted(f_to - shared)
                old = self._read_files(
                    [f for f in cat.read_snapshot_files(self.location, md, from_snap)
                     if f.path not in shared]
                ) if keep_old else old.limit(0)
                new = self._read_files(
                    [f for f in cat.read_snapshot_files(self.location, md, to_snap)
                     if f.path not in shared]
                ) if keep_new else new.limit(0)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def incremental_scan(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Rows appended AFTER ``from_snapshot_id`` up to
        ``to_snapshot_id`` (inclusive; default current) — the Iceberg
        incremental-append-scan contract, the natural feed for
        downstream ETL/streaming consumers.

        Only valid over an append-only range: a DELETE/MERGE/compaction
        in the range changes or rewrites existing rows, which an
        append-delta cannot represent, so the scan raises rather than
        silently emitting rewritten rows as new data. Scale: the delta
        is just the files stamped with the in-range snapshot ids — no
        diffing, one era-aware read of those files.
        """
        md = self.metadata
        to_id = to_snapshot_id if to_snapshot_id is not None else md.current_snapshot_id
        if to_id is None:
            return self.spark.createDataFrame([], md.schema_ddl)
        known = {s.snapshot_id for s in md.snapshots}
        # from=0 is the pre-table state ("replay everything") — always a
        # valid lower bound, never a real snapshot id (ids start at 1).
        check_ids = [to_id] if from_snapshot_id == 0 else [from_snapshot_id, to_id]
        for sid in check_ids:
            if sid not in known:
                raise ValueError(f"snapshot {sid} not found (expired?)")
        if from_snapshot_id >= to_id:
            return self.spark.createDataFrame([], md.schema_ddl)
        in_range = [
            s for s in md.snapshots if from_snapshot_id < s.snapshot_id <= to_id
        ]
        # "alter" = pure metadata (schema evolution); the era-aware read
        # below presents old files in the current schema, so only true
        # row rewrites poison an append range.
        non_append = [
            s.snapshot_id for s in in_range if s.operation not in ("append", "alter")
        ]
        if non_append:
            raise ValueError(
                f"incremental scan range contains non-append snapshots "
                f"{non_append}; row-level changes cannot be represented "
                "as an append delta"
            )
        to_snap = md.snapshot_by_id(to_id)
        files = [
            f
            for f in cat.read_snapshot_files(self.location, md, to_snap)
            if from_snapshot_id < (f.added_snapshot_id or 0) <= to_id
        ]
        if not files:
            return self.spark.createDataFrame([], md.schema_ddl)
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            groups.setdefault(self._era_key(f), []).append(f)
        df = None
        for era_key, gfiles in groups.items():
            g = self._read_era([f.path for f in gfiles], era_key)
            df = g if df is None else df.unionByName(g)
        return df

    # -- metadata tables (table.files / table.snapshots analogues) ------
    def files(self) -> DataFrame:
        snap = self.metadata.current_snapshot()
        rows = []
        if snap:
            for f in cat.read_snapshot_files(self.location, self.metadata, snap):
                rows.append((f.path, f.row_count, f.size_bytes, str(f.partition)))
        return self.spark.createDataFrame(
            rows, "path string, row_count bigint, size_bytes bigint, partition string"
        )

    def partitions(self) -> DataFrame:
        """Per-partition-tuple summary (files / rows / bytes) — the
        Iceberg ``partitions`` metadata table and the reference's
        ``get_partition_summary`` in one view. Metadata-only."""
        from pg_lake_spark.lakehouse import catalog as cat

        snap = self.metadata.current_snapshot()
        agg: dict[str, list[int]] = {}
        if snap:
            for f in cat.read_snapshot_files(self.location, self.metadata, snap):
                key = json.dumps(f.partition, sort_keys=True, default=str)
                a = agg.setdefault(key, [0, 0, 0])
                a[0] += 1
                a[1] += f.row_count
                a[2] += f.size_bytes
        rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
        return self.spark.createDataFrame(
            rows, "partition string, file_count bigint, row_count bigint, size_bytes bigint"
        )

    def file_stats(self) -> DataFrame:
        """Per-file column stats (min/max/null_count as JSON) — the
        reference's ``pg_lake_read_data_file_stats`` surface; these are
        the same footer stats pruning consults."""
        from pg_lake_spark.lakehouse import catalog as cat

        snap = self.metadata.current_snapshot()
        rows = []
        if snap:
            for f in cat.read_snapshot_files(self.location, self.metadata, snap):
                rows.append(
                    (f.path, f.row_count, f.size_bytes,
                     json.dumps(f.stats, sort_keys=True, default=str))
                )
        return self.spark.createDataFrame(
            rows, "path string, row_count bigint, size_bytes bigint, stats string"
        )

    def snapshots(self) -> DataFrame:
        rows = [
            (s.snapshot_id, s.timestamp_ms, s.operation, str(s.summary))
            for s in self.metadata.snapshots
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id bigint, timestamp_ms bigint, operation string, summary string"
        )

    # ------------------------------------------------------------------
    # DML: DELETE / UPDATE (metadata-only + copy-on-write)
    # ------------------------------------------------------------------
    def delete(
        self,
        where: str,
        mode: str = "cow",
        cow_threshold: float = 0.05,
        returning: list[str] | None = None,
    ) -> dict:
        """DELETE with optional RETURNING: the pre-image of deleted rows
        (captured from the visible scan BEFORE the write) rides in the
        result dict — PG RETURNING semantics (writes.md:30-33)."""
        returning_rows = None
        if returning:
            sel = ["*"] if returning == ["*"] else returning
            returning_rows = (
                self.scan().filter(where).select(*sel).collect()
            )
        result = self._delete_impl(where, mode, cow_threshold)
        if returning_rows is not None:
            result["returning"] = returning_rows
        return result

    def _delete_impl(self, where: str, mode: str = "cow", cow_threshold: float = 0.05) -> dict:
        """DELETE FROM t WHERE …  (writes.md:15-44).

        ``mode``:
        - ``"cow"`` — copy-on-write (default). Three file classes per
          the reference's design: untouched (stats prove no match),
          fully-matching (metadata-only drop, the ``Data Files
          Skipped`` fast path), partial (rewrite without matches).
        - ``"mor"`` — merge-on-read: record the predicate in table
          metadata (the predicate-delete analogue of the reference's
          position-delete files, position_delete_dest.c); readers apply
          it, VACUUM materializes it. O(metadata) write cost.
        - ``"auto"`` — count matched rows on candidate files and pick:
          below ``cow_threshold`` fraction → MoR (cheap write, tiny
          read tax), else CoW — the copy_on_write_threshold policy
          (writable_table.c:543-599) at statement granularity.
        """
        if mode == "mor":
            return self._delete_mor(where)
        if mode == "auto":
            frac = self._matched_fraction(where)
            if frac is not None and 0 < frac < cow_threshold:
                return self._delete_mor(where)
            # fall through to CoW (also when nothing matches: no-op cost)
        # A CoW rewrite re-stamps surviving rows with a new file sequence,
        # which would lift them out of any pending MoR predicate's scope —
        # make pending deletes physical first (same hazard as update()).
        self.materialize_deletes()
        snap = self.metadata.current_snapshot()
        if snap is None:
            return {"deleted_rows": 0, "dropped_files": 0, "rewritten_files": 0}
        files = cat.read_snapshot_files(self.location, self.metadata, snap)
        full, partial = self._classify_files(files, [parse_where(where)])
        full_paths = {f.path for f in full}

        # Stats overlap is only a MAY-match: one per-file aggregation
        # over the candidates yields (rows, matched rows) per file, so
        # files that hold NO matching row survive untouched (a near-miss
        # predicate used to trigger a full rewrite of every candidate —
        # O(table) I/O for a no-op DELETE at scale), and the old
        # separate before/after count() passes fold into it. The match
        # is NULL-safe: DELETE removes only rows where the predicate is
        # TRUE; NULL evaluations survive.
        rewritten: list[DataFile] = []
        deleted_rows = sum(f.row_count for f in full)
        if partial:
            matched = F.coalesce(F.expr(where), F.lit(False))
            per_file = (
                self._read_files_with_meta(partial)
                .groupBy("_meta_file_path")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(matched, 1).otherwise(0)).alias("hits"),
                )
                .collect()
            )
            # file_path is a URI (percent-encoded): decode before
            # matching against the manifest's raw filesystem paths, or
            # a location with a space never matches and rows survive a
            # DELETE that should have removed them
            hit_uris = {
                self._meta_path_key(r._meta_file_path): (r.n, r.hits)
                for r in per_file
                if r.hits > 0
            }
            partial = [f for f in partial if os.path.abspath(f.path) in hit_uris]
            deleted_rows += sum(h for _, h in hit_uris.values())
            survivors = sum(n - h for n, h in hit_uris.values())
            if partial and survivors > 0:
                remaining = self._read_files(partial).filter(
                    ~F.coalesce(F.expr(where), F.lit(False))
                )
                rewritten = self._write_data_files(remaining)
        if not full and deleted_rows == 0:
            # nothing matched anywhere: a no-op DELETE commits nothing
            return {"deleted_rows": 0, "dropped_files": 0, "rewritten_files": 0}

        removed = full_paths | {f.path for f in partial}
        snap2 = self._commit(
            operation="delete",
            added=rewritten,
            removed_paths=removed,
            summary={
                "deleted_rows": deleted_rows,
                "dropped_files": len(full),
                "rewritten_files": len(rewritten),
            },
            precondition=self._candidates_unchanged(removed),
        )
        if snap2 is None:
            self._discard_staging()
            raise ConcurrentWriteConflict(
                "DELETE lost a race: a concurrent writer replaced a "
                "candidate file; re-run the statement"
            )
        return {
            "deleted_rows": deleted_rows,
            "dropped_files": len(full),
            "rewritten_files": len(rewritten),
        }

    def _matched_fraction(self, where: str) -> float | None:
        """Matched-row fraction over candidate files (auto-mode policy
        input). Returns None for an empty table."""
        snap = self.metadata.current_snapshot()
        if snap is None:
            return None
        files = cat.read_snapshot_files(self.location, self.metadata, snap)
        preds = parse_where(where)
        candidates = [f for f in files if self._file_matches(f, preds)] if preds else files
        total = sum(f.row_count for f in candidates)
        if total == 0:
            return 0.0
        return self._read_files(candidates).filter(where).count() / total

    def _delete_mor(self, where: str) -> dict:
        """Merge-on-read delete: metadata-only predicate commit.

        The predicate is ANALYZED against the table schema before it is
        committed — CoW validates implicitly by executing the filter,
        but a committed-unchecked MoR predicate with a typo'd column
        crashed every later scan AND materialize_deletes, leaving no
        API path to clear it (r15 review)."""
        probe = self.spark.createDataFrame([], self.metadata.schema_ddl)
        try:
            # .schema forces analysis; no job runs on an empty frame
            probe.filter(F.expr(where)).schema
        except Exception as exc:
            raise ValueError(
                f"MoR delete predicate {where!r} does not analyze against "
                f"the table schema: {exc}"
            ) from None
        with cat.CommitLock(self.location):
            md = cat.read_current_metadata(self.location)
            current = md.current_snapshot()
            sid = (current.snapshot_id + 1) if current else 1
            snap = Snapshot(
                snapshot_id=sid,
                timestamp_ms=int(time.time() * 1000),
                operation="delete",
                manifests=list(current.manifests) if current else [],
                summary={"mode": "mor", "predicate": where},
            )
            md.snapshots.append(snap)
            md.current_snapshot_id = sid
            md.delete_predicates.append(
                {
                    "predicate": where,
                    "added_snapshot_id": sid,
                    "materialized_snapshot_id": None,
                }
            )
            cat.commit_metadata(self.location, md)
            self.metadata = md
        return {"mode": "mor", "predicate": where, "snapshot_id": sid}

    def _active_delete_entries(self, snap: Snapshot | None) -> list[dict]:
        """MoR delete entries a reader of ``snap`` must consider."""
        if snap is None:
            return []
        return [
            e
            for e in self.metadata.delete_predicates
            if e["added_snapshot_id"] <= snap.snapshot_id
            and (
                e.get("materialized_snapshot_id") is None
                or snap.snapshot_id < e["materialized_snapshot_id"]
            )
        ]

    def active_delete_predicates(self) -> list[str]:
        return [
            e["predicate"]
            for e in self._active_delete_entries(self.metadata.current_snapshot())
        ]

    def materialize_deletes(self) -> dict:
        """Physically apply pending MoR delete predicates (CoW rewrite)
        and mark them materialized — VACUUM's read-tax-removal step,
        the analogue of compacting position-delete files away.

        Scoping matches the read path: each predicate rewrites only
        files that existed when it was added, so rows appended after a
        MoR delete are never physically deleted by it. Within that
        scope, files are classified like a CoW DELETE: only files whose
        partition values or column stats may match one of the pending
        predicates are rewritten, files stats prove all-matching are
        dropped metadata-only, and every other file stays in the
        manifest as it is (an unparseable predicate, e.g. one with an
        OR, rewrites every scoped file). The predicates are marked
        materialized in the same commit either way.

        Returns (and stamps into the snapshot summary) ``deleted_rows``
        plus ``rewritten_files``, ``dropped_files`` and
        ``untouched_files``: the live files this pass read and
        replaced, dropped without reading, and left in place.
        """
        snap = self.metadata.current_snapshot()
        active = self._active_delete_entries(snap)
        if not active:
            return {"materialized": 0}
        files = cat.read_snapshot_files(self.location, self.metadata, snap)
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            dk = tuple(
                i
                for i, e in enumerate(active)
                if (f.added_snapshot_id or 0) < e["added_snapshot_id"]
            )
            groups.setdefault((dk, self._era_key(f)), []).append(f)
        rewritten: list[DataFile] = []
        removed: set[str] = set()
        deleted_rows = rewritten_files = dropped_files = 0
        for (dk, era_key), gfiles in groups.items():
            if not dk:
                continue  # appended after every pending delete — untouched
            full, partial = self._classify_files(
                gfiles, [parse_where(active[i]["predicate"]) for i in dk]
            )
            deleted_rows += sum(f.row_count for f in full)
            dropped_files += len(full)
            removed.update(f.path for f in full)
            if not partial:
                continue
            combined = " OR ".join(f"({active[i]['predicate']})" for i in dk)
            src = self._read_era([f.path for f in partial], era_key)
            # r16 opt: 'before' comes from the manifest's immutable
            # per-file row counts (no job — same source full-file
            # deletes already trust), and the filtered survivors
            # materialize ONCE (eager checkpoint) feeding both the
            # count and the write; previously the group was scanned
            # three times (before-count, after-count, write).
            before = sum(f.row_count for f in partial)
            remaining = src.filter(
                ~F.coalesce(F.expr(combined), F.lit(False))
            ).localCheckpoint(eager=True)
            after = remaining.count()
            deleted_rows += before - after
            if after > 0:
                # Surviving rows keep their group's oldest sequence so
                # later-added (still-pending) predicates in other groups
                # cannot be dodged by the rewrite.
                oldest = min((f.added_snapshot_id or 0) for f in gfiles)
                for nf in self._write_data_files(remaining):
                    nf.added_snapshot_id = oldest
                    rewritten.append(nf)
            rewritten_files += len(partial)
            removed.update(f.path for f in partial)
        counts = {
            "deleted_rows": deleted_rows,
            "rewritten_files": rewritten_files,
            "dropped_files": dropped_files,
            "untouched_files": len(files) - len(removed),
        }
        # Mark ONLY the entries this pass actually applied, in the SAME
        # commit as the rewrite (round-2 ADVICE: a second lock window let
        # a concurrent MoR delete land between rewrite and marking, get
        # stamped materialized_snapshot_id < its added_snapshot_id, and
        # silently never apply — resurrecting its rows).
        applied = {(e["predicate"], e["added_snapshot_id"]) for e in active}

        def mark(md, sid):
            for e in md.delete_predicates:
                if (
                    (e["predicate"], e["added_snapshot_id"]) in applied
                    and e.get("materialized_snapshot_id") is None
                ):
                    e["materialized_snapshot_id"] = sid

        snap = self._commit(
            operation="delete",
            added=rewritten,
            removed_paths=removed,
            summary={**counts, "materialized": len(active)},
            # same read-modify-write discipline as delete/update/merge:
            # a concurrent CoW commit replacing a candidate mid-pass
            # would otherwise be silently overwritten by this rewrite
            # (r15 review — this was the one rewrite path without it)
            precondition=self._candidates_unchanged(removed),
            mutate=mark,
        )
        if snap is None:
            self._discard_staging()
            raise ConcurrentWriteConflict(
                "materialize_deletes lost a concurrent-commit race; "
                "retry the statement"
            )
        return {
            "materialized": len(active),
            **counts,
            "snapshot_id": snap.snapshot_id,
        }

    def update(
        self,
        assignments: dict[str, str],
        where: str | None = None,
        returning: list[str] | None = None,
    ) -> dict:
        """UPDATE t SET col = expr [WHERE …] — copy-on-write rewrite of
        candidate files (writes.md:15-31; CoW branch of
        writable_table.c:543-599). ``returning`` captures the POST-image
        of updated rows in the result dict (PG RETURNING semantics)."""
        # Pending MoR deletes must be physical before a rewrite touches
        # the same rows (an update could otherwise resurrect a deleted
        # row by changing a predicate column).
        self.materialize_deletes()
        snap = self.metadata.current_snapshot()
        if snap is None:
            return {"updated_rows": 0, "rewritten_files": 0}
        files = cat.read_snapshot_files(self.location, self.metadata, snap)
        preds = parse_where(where) if where else None
        candidates = [f for f in files if self._file_matches(f, preds)] if preds else files
        if not candidates:
            return {"updated_rows": 0, "rewritten_files": 0}
        cond = F.expr(where) if where else F.lit(True)
        if where:
            # Stats overlap is only a MAY-match: one per-file aggregation
            # keeps no-hit files untouched and makes a 0-match UPDATE a
            # true no-op — previously every stats-overlapping candidate
            # was rewritten and an 'overwrite' snapshot committed even
            # when nothing matched (r15 review; same discipline DELETE
            # already applies). NULL-safe: only TRUE rows update.
            matched = F.coalesce(cond, F.lit(False))
            per_file = (
                self._read_files_with_meta(candidates)
                .groupBy("_meta_file_path")
                .agg(F.sum(F.when(matched, 1).otherwise(0)).alias("hits"))
                .collect()
            )
            hit_paths = {
                self._meta_path_key(r._meta_file_path)
                for r in per_file
                if r.hits > 0
            }
            updated_rows = int(sum(r.hits for r in per_file))
            if updated_rows == 0:
                out0 = {"updated_rows": 0, "rewritten_files": 0}
                if returning:
                    out0["returning"] = []
                return out0
            # abspath, matching DELETE: manifests may hold relative
            # paths; raw f.path missed every decoded-absolute hit key
            candidates = [
                f for f in candidates if os.path.abspath(f.path) in hit_paths
            ]
        src = self._read_files(candidates)
        if not where:
            updated_rows = src.count()
        # pin the match flag on the PRE-image: an assignment may change
        # a predicate column, and RETURNING must still see those rows
        flagged = src.withColumn("__upd", cond)
        out = flagged
        for colname, expr_sql in assignments.items():
            out = out.withColumn(
                colname,
                F.when(F.col("__upd"), F.expr(expr_sql)).otherwise(F.col(colname)),
            )
        returning_rows = None
        if returning:
            cols = (
                [c for c in out.columns if c != "__upd"]
                if returning == ["*"]
                else returning
            )
            # RETURNING shows the post-image as STORED: cast each column
            # to its declared type, matching the assignment casts the
            # written files get below
            tmap = dict(ddl_fields(self.metadata.schema_ddl))
            returning_rows = (
                out.filter("__upd")
                .select(
                    *[
                        F.col(c).cast(tmap[c]).alias(c) if c in tmap else F.col(c)
                        for c in cols
                    ]
                )
                .collect()
            )
        # assignment casts: an expression like qty/2 promotes the column
        # type; _align_for_write pins every column back to its DECLARED
        # type so the rewritten file stays readable by the schema-pinned
        # scan (same PG-INSERT semantics as append)
        rewritten = self._write_data_files(
            self._align_for_write(out.drop("__upd"))
        )
        cand_paths = {f.path for f in candidates}
        snap2 = self._commit(
            operation="overwrite",
            added=rewritten,
            removed_paths=cand_paths,
            summary={"updated_rows": updated_rows, "rewritten_files": len(rewritten)},
            precondition=self._candidates_unchanged(cand_paths),
        )
        if snap2 is None:
            self._discard_staging()
            raise ConcurrentWriteConflict(
                "UPDATE lost a race: a concurrent writer replaced a "
                "candidate file; re-run the statement"
            )
        result = {"updated_rows": updated_rows, "rewritten_files": len(rewritten)}
        if returning_rows is not None:
            result["returning"] = returning_rows
        return result

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        *,
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_delete: bool | str = False,
        matched_condition: str | None = None,
        returning: list[str] | None = None,
    ) -> dict:
        """MERGE INTO (upsert) — additive over the reference, which
        documents MERGE as unsupported (docs/iceberg-tables.md
        update/delete limitations); Iceberg-on-Spark supports it, so we
        do too.

        ``on`` lists equi-join key columns. ``when_matched_update`` maps
        target column → SQL expression over aliases ``t`` (target) and
        ``s`` (source). Source must be key-unique (standard MERGE
        cardinality rule; duplicates would multiply target rows).
        ``when_not_matched_by_source_delete`` removes target rows with
        no source match (True, or a SQL condition over target columns)
        — the full-sync MERGE shape. It disables key-range pruning:
        unmatched rows live in EVERY file by definition, so all files
        become rewrite candidates.

        ``matched_condition`` (SQL over aliases ``t``/``s``) ANDs into
        the ON condition, ANSI-style — the extra predicate of
        ``UPDATE ... FROM`` / ``DELETE ... USING``. ``returning`` lists
        target columns to capture as rows in the result dict
        (``"returning"``): the post-image for updates, the pre-image
        for deletes — PG RETURNING semantics (writes.md:30-33 routes
        RETURNING Vars through the plan slot; here the matched frame IS
        that slot). Collected driver-side, like a client fetching
        RETURNING.

        Copy-on-write with key-range pruning: the source's min/max per
        join key bound which data files can contain matches; files
        outside those bounds survive untouched (metadata-only), the
        rest are rewritten — the same candidate-file discipline as
        delete()/update().
        """
        if when_matched_update and when_matched_delete:
            raise ValueError("choose one of when_matched_update / when_matched_delete")
        # Pin the source ONCE: merge runs several independent actions
        # (key bounds, matched count, RETURNING collect, insert count,
        # final write) and a non-deterministic source re-executed per
        # action would make them disagree — counts reporting rows the
        # write never saw, key-bound pruning computed from a different
        # incarnation than the join. (The target candidates need no such
        # pin: they are immutable data files.)
        source = source.localCheckpoint(eager=True)
        self.materialize_deletes()  # same resurrect hazard as update()
        snap = self.metadata.current_snapshot()
        files = (
            cat.read_snapshot_files(self.location, self.metadata, snap) if snap else []
        )
        target_cols = ddl_field_names(self.metadata.schema_ddl)

        # Key-range pruning: one tiny agg on the source (driver-side
        # collect of 2×len(on) scalars), then stats-based file filter.
        bounds = source.agg(
            *[F.min(k).alias(f"lo_{k}") for k in on],
            *[F.max(k).alias(f"hi_{k}") for k in on],
        ).collect()[0]
        preds = []
        for k in on:
            lo, hi = bounds[f"lo_{k}"], bounds[f"hi_{k}"]
            if lo is not None:
                preds.append((k, ">=", lo))
            if hi is not None:
                preds.append((k, "<=", hi))
        if when_not_matched_by_source_delete:
            candidates = list(files)  # every file may hold unmatched rows
        elif not preds and on:
            # No bounds means the source is empty or its join keys are
            # all NULL — neither can equal-join a target row, so no file
            # can hold a match. Empty preds otherwise match EVERY file
            # and a no-op merge rewrote the whole table (r15 review).
            candidates = []
        else:
            candidates = [f for f in files if self._file_matches(f, preds)]
        cand_paths = {f.path for f in candidates}
        # A target row matched by SEVERAL source rows must still be
        # written exactly once (PG updates/deletes a row once; naive
        # inner-join append would duplicate it). Its identity is the
        # (file, position) pair DELETE and UPDATE use: data files are
        # immutable, so survivors and matched, which read the candidates
        # independently, see the same ids.
        t = self._read_files_with_meta(candidates).alias("t")
        s = source.alias("s")
        key_cond = None
        for k in on:
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            key_cond = c if key_cond is None else (key_cond & c)
        full_cond = (
            key_cond & F.expr(matched_condition) if matched_condition else key_cond
        )

        survivors = t.join(s, full_cond, "left_anti")
        # One source row per matched target row, winner chosen
        # deterministically (lowest hash of the full source row) — the
        # PG behaviour is "one arbitrary matching row"; ours is the
        # same but reproducible.
        src_cols = source.columns
        win = Window.partitionBy("t._meta_file_path", "t._meta_pos").orderBy(
            F.xxhash64(F.struct(*[F.col(f"s.{c}") for c in src_cols]))
        )
        matched = (
            t.join(s, full_cond, "inner")
            .withColumn("__mrn", F.row_number().over(win))
            .filter(F.col("__mrn") == 1)
            .drop("__mrn")
        )

        returning_rows = None
        if returning:
            assigns = when_matched_update or {}
            if returning == ["*"]:
                returning = list(target_cols)
            if when_matched_delete:  # pre-image
                ret = matched.select(*[F.col(f"t.{c}").alias(c) for c in returning])
            else:  # post-image
                # as STORED: cast assigned expressions to the declared
                # column type, matching the _align_for_write casts the
                # written rows get (update() does the same; merge
                # previously returned the raw expression type —
                # 't.qty / 2' came back 2.5 while the file stored 2;
                # r15 review)
                tmap = dict(ddl_fields(self.metadata.schema_ddl))
                ret = matched.select(
                    *[
                        (
                            F.expr(assigns[c]).cast(tmap[c]).alias(c)
                            if c in tmap
                            else F.expr(assigns[c]).alias(c)
                        )
                        if c in assigns
                        else F.col(f"t.{c}").alias(c)
                        for c in returning
                    ]
                )
            returning_rows = ret.collect()

        # --- one materialization for every output class (r16 opt) -----
        # survivors / matched / inserts used to be separate ACTIONS
        # (matched.count(), inserts.count(), survivor before/after
        # counts for the source-delete arm) and the final write then
        # RE-executed the same joins — the target⋈source join ran up to
        # three times per MERGE. Tag each output class, checkpoint the
        # union once (every join runs exactly once), read all summary
        # counts from one tiny aggregation over the materialized rows,
        # and write from the same frame. Matched-delete and
        # source-delete rows ride along tagged ('d'/'sd') purely for
        # their counts and are filtered out before the write.
        sd = when_not_matched_by_source_delete
        if sd is True:
            surv_tag = F.lit("sd")
        elif isinstance(sd, str):
            surv_tag = F.when(
                F.coalesce(F.expr(sd), F.lit(False)), F.lit("sd")
            ).otherwise(F.lit("k"))
        else:
            surv_tag = F.lit("k")
        pieces = [
            survivors.select(
                *[F.col(c) for c in target_cols], surv_tag.alias("__cls")
            )
        ]
        if when_matched_delete:
            pieces.append(
                matched.select(
                    *[F.col(f"t.{c}").alias(c) for c in target_cols],
                    F.lit("d").alias("__cls"),
                )
            )
        else:
            assignments = when_matched_update or {}
            pieces.append(
                matched.select(
                    *[
                        F.expr(assignments[c]).alias(c)
                        if c in assignments
                        else F.col(f"t.{c}").alias(c)
                        for c in target_cols
                    ],
                    F.lit("u").alias("__cls"),
                )
            )
        if when_not_matched_insert:
            pieces.append(
                s.join(t, full_cond, "left_anti").select(
                    *[F.col(f"s.{c}").alias(c) for c in target_cols],
                    F.lit("i").alias("__cls"),
                )
            )
        new_data = pieces[0]
        for p in pieces[1:]:
            new_data = new_data.unionByName(p)
        new_data = new_data.localCheckpoint(eager=True)
        cls_counts = {
            r["__cls"]: r["n"]
            for r in new_data.groupBy("__cls")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        updated_rows = 0 if when_matched_delete else cls_counts.get("u", 0)
        deleted_rows = cls_counts.get("d", 0) if when_matched_delete else 0
        source_deleted_rows = cls_counts.get("sd", 0)
        inserted_rows = cls_counts.get("i", 0)
        # assignment casts (see update()): inserted source columns and
        # update expressions must land in the table's declared types
        added = (
            self._write_data_files(
                self._align_for_write(
                    new_data.filter(~F.col("__cls").isin("sd", "d")).drop("__cls")
                )
            )
            if candidates or inserted_rows
            else []
        )
        snap2 = self._commit(
            operation="merge",
            added=added,
            removed_paths=cand_paths,
            precondition=self._candidates_unchanged(cand_paths),
            summary={
                "updated_rows": updated_rows,
                "deleted_rows": deleted_rows + source_deleted_rows,
                "inserted_rows": inserted_rows,
                "untouched_files": len(files) - len(candidates),
                "rewritten_files": len(candidates),
            },
        )
        if snap2 is None:
            self._discard_staging()
            raise ConcurrentWriteConflict(
                "MERGE lost a race: a concurrent writer replaced a "
                "candidate file; re-run the statement"
            )
        out = {
            "updated_rows": updated_rows,
            "deleted_rows": deleted_rows,
            "source_deleted_rows": source_deleted_rows,
            "inserted_rows": inserted_rows,
            "untouched_files": len(files) - len(candidates),
            "rewritten_files": len(candidates),
        }
        if returning_rows is not None:
            out["returning"] = returning_rows
        return out

    def update_from(
        self,
        source: DataFrame,
        on: list[str],
        assignments: dict[str, str],
        *,
        condition: str | None = None,
        returning: list[str] | None = None,
    ) -> dict:
        """``UPDATE t SET ... FROM source WHERE t.k = s.k [AND cond]``
        (writes.md:14-28: FROM entries become separate scans feeding the
        tuple identification). ``assignments`` map target column → SQL
        over aliases ``t``/``s`` — source columns usable on the right
        side, exactly the FROM-update power. Rows with no source match
        (or failing ``condition``) are untouched; ``returning`` captures
        the post-image rows."""
        return self.merge(
            source,
            on,
            when_matched_update=assignments,
            when_not_matched_insert=False,
            matched_condition=condition,
            returning=returning,
        )

    def delete_using(
        self,
        source: DataFrame,
        on: list[str],
        *,
        condition: str | None = None,
        returning: list[str] | None = None,
    ) -> dict:
        """``DELETE FROM t USING source WHERE t.k = s.k [AND cond]``
        (writes.md:30-44: USING entries become separate scans; RETURNING
        values come from the identified pre-image rows)."""
        return self.merge(
            source,
            on,
            when_matched_delete=True,
            when_not_matched_insert=False,
            matched_condition=condition,
            returning=returning,
        )

    # ------------------------------------------------------------------
    # Iceberg interop
    # ------------------------------------------------------------------
    def export_iceberg(self) -> str:
        """Write genuine Iceberg v2 metadata (metadata.json + Avro
        manifests) over this table's data files so external Iceberg
        readers can scan it; returns the metadata.json path. See
        :mod:`pg_lake_spark.lakehouse.iceberg_meta`."""
        from pg_lake_spark.lakehouse import iceberg_meta

        return iceberg_meta.export_iceberg(self)

    # ------------------------------------------------------------------
    # Schema evolution (alter_table.c analogue — add/drop/rename/
    # default/partition-spec; docs/iceberg-tables.md §Altering)
    # ------------------------------------------------------------------
    def add_column(self, name: str, dtype: str, default: str | None = None) -> None:
        """ADD COLUMN [DEFAULT const]. With a default, existing rows
        read the constant without any rewrite (PG's const-backfill-on-
        read for ADD COLUMN .. DEFAULT); without one they read NULL. A
        backfill event is always logged so a re-added column name can
        never resurrect values from files written before a prior drop."""
        if name in ddl_field_names(self.metadata.schema_ddl):
            raise ValueError(f"column {name} already exists")
        new_ddl = self.metadata.schema_ddl + f", {name} {dtype}"

        def mutate(md, sid):
            md.schema_log.append(
                {"op": "backfill", "column": name, "default": default, "snapshot_id": sid}
            )
            if default is not None:
                md.column_defaults[name] = default

        self._commit(
            "alter", [], set(), {"add_column": name}, schema_ddl=new_ddl, mutate=mutate
        )

    #: Iceberg-safe type promotions (spec "Schema Evolution": widenings
    #: readable over files written with the old physical type).
    _TYPE_PROMOTIONS = {
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("float", "double"),
    }

    def alter_column_type(self, name: str, new_type: str) -> None:
        """ALTER COLUMN TYPE restricted to Iceberg's safe promotions
        (int→bigint, float→double, smallint widenings, decimal
        precision increase at equal scale). Metadata-only: Spark's
        parquet reader widens the old files' physical type into the new
        logical schema at scan time — no rewrite, same contract as the
        reference's Iceberg schema evolution (docs/iceberg-tables.md
        "Altering an Iceberg table")."""
        new_type = new_type.strip().lower()
        fields = ddl_fields(self.metadata.schema_ddl)
        types = dict(fields)
        if name not in types:
            raise ValueError(f"column {name} not found")
        old = types[name].strip().lower()
        ok = (old, new_type) in self._TYPE_PROMOTIONS
        if not ok and old.startswith("decimal(") and new_type.startswith("decimal("):
            op, osc = map(int, old[8:-1].split(","))
            np_, nsc = map(int, new_type[8:-1].split(","))
            ok = nsc == osc and np_ >= op
        if not ok:
            raise ValueError(
                f"unsafe type change {old} -> {new_type}; allowed: "
                "int->bigint, smallint->int/bigint, float->double, "
                "decimal precision widening at equal scale"
            )
        new_ddl = ", ".join(
            f"{n} {new_type if n == name else t}" for n, t in fields
        )

        def mutate(md, sid):
            md.schema_log.append(
                {"op": "retype", "column": name, "from": old, "to": new_type,
                 "snapshot_id": sid}
            )

        self._commit(
            "alter", [], set(), {"alter_column_type": f"{name}:{new_type}"},
            schema_ddl=new_ddl, mutate=mutate,
        )

    def drop_column(self, name: str) -> None:
        # pending MoR predicates may reference the dropped column — make
        # them physical first (same transparency rule as rename_column)
        if self.active_delete_predicates():
            self.materialize_deletes()
        fields = ddl_fields(self.metadata.schema_ddl)
        kept = [(n, t) for n, t in fields if n != name]
        if len(kept) == len(fields):
            raise ValueError(f"column {name} not found")
        for spec in self.metadata.partition_specs.values():
            if any(pf["column"] == name for pf in spec):
                raise ValueError(f"column {name} is referenced by a partition spec")

        def mutate(md, sid):
            md.schema_log.append({"op": "drop", "column": name, "snapshot_id": sid})
            md.column_defaults.pop(name, None)

        self._commit(
            "alter",
            [],
            set(),
            {"drop_column": name},
            schema_ddl=", ".join(f"{n} {t}" for n, t in kept),
            mutate=mutate,
        )

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN — metadata-only; files written before the
        rename keep the old physical name and are resolved per era at
        read time (the field-id indirection Iceberg gets for free).

        Pending MoR delete predicates store SQL over the CURRENT column
        names; after a rename their text would no longer resolve (every
        scan and materialization crashes — and a later re-add of the
        old name would silently apply them to the wrong column). Make
        them physical first; MoR is an optimization and must stay
        transparent to DDL."""
        if self.active_delete_predicates():
            self.materialize_deletes()
        fields = ddl_fields(self.metadata.schema_ddl)
        names = [n for n, _ in fields]
        if old not in names:
            raise ValueError(f"column {old} not found")
        if new in names:
            raise ValueError(f"column {new} already exists")
        new_ddl = ", ".join(f"{new if n == old else n} {t}" for n, t in fields)

        def mutate(md, sid):
            md.schema_log.append(
                {"op": "rename", "from": old, "to": new, "snapshot_id": sid}
            )
            for spec in md.partition_specs.values():
                for pf in spec:
                    if pf["column"] == old:
                        pf["column"] = new
            if old in md.column_defaults:
                md.column_defaults[new] = md.column_defaults.pop(old)

        self._commit(
            "alter",
            [],
            set(),
            {"rename_column": f"{old}->{new}"},
            schema_ddl=new_ddl,
            mutate=mutate,
        )

    def set_column_default(self, name: str, default: str | None) -> None:
        """SET/DROP DEFAULT — affects future inserts only (PG ALTER
        COLUMN semantics; existing rows are untouched)."""
        if name not in ddl_field_names(self.metadata.schema_ddl):
            raise ValueError(f"column {name} not found")

        def mutate(md, sid):
            if default is None:
                md.column_defaults.pop(name, None)
            else:
                md.column_defaults[name] = default

        self._commit("alter", [], set(), {"set_default": name}, mutate=mutate)

    def set_properties(self, props: dict) -> None:
        """``ALTER TABLE … OPTIONS (ADD/SET key 'value')`` — metadata-
        only property merge (out_of_range_values, max_snapshot_age,
        retention knobs; iceberg-tables.md:176)."""
        self._commit(
            "alter", [], set(),
            {"set_properties": ",".join(sorted(props))},
            properties_update=dict(props),
        )

    def set_partition_spec(self, partition_by: list[str] | None) -> int:
        """Partition-spec evolution: the new spec applies to files
        written from now on; existing files keep (and are pruned by)
        the spec they were written under. Returns the new spec id."""
        spec = []
        for s in partition_by or []:
            t, param, col = parse_transform(s)
            spec.append({"transform": t, "param": param, "column": col})
        names = ddl_field_names(self.metadata.schema_ddl)
        for pf in spec:
            if pf["column"] not in names:
                raise ValueError(f"partition column {pf['column']} not found")

        def mutate(md, sid):
            new_id = max(md.partition_specs) + 1
            md.partition_specs[new_id] = spec
            md.default_spec_id = new_id

        self._commit(
            "alter",
            [],
            set(),
            {"set_partition_spec": ",".join(partition_by or [])},
            mutate=mutate,
        )
        return self.metadata.default_spec_id


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def ddl_fields(schema_ddl: str) -> list[tuple[str, str]]:
    """Parse a comma-joined DDL schema into (name, type) pairs.

    Naive ``split(",")`` breaks on comma-bearing types — decimal(12,2),
    struct<...>, map<...> — all producible by create_from_dataframe;
    use Spark's DDL parser instead.
    """
    from pyspark.sql.types import StructType

    return [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(schema_ddl).fields]


def ddl_field_names(schema_ddl: str) -> list[str]:
    return [name for name, _ in ddl_fields(schema_ddl)]


def _parse_partition_value(v: str, dtype: str | None = None):
    """Directory values are type-lossy strings; ``dtype`` (the Spark
    type the partition FIELD carries — the column type for identity/
    truncate, int for the ordinal/bucket transforms) revives the value
    so pruning compares like with like. Untyped parsing (legacy
    manifests, no dtype) keeps the old int-or-string heuristic; the
    pruning side additionally refuses to prune on mismatched kinds, so
    either representation stays sound."""
    v = urllib.parse.unquote(v)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    if dtype is not None:
        base = dtype.split("(")[0].strip().lower()
        try:
            if base in ("int", "integer", "bigint", "smallint", "tinyint",
                        "long", "short", "byte"):
                return int(v)
            if base in ("double", "float", "real", "decimal", "numeric"):
                return float(v)
            if base in ("date", "timestamp", "timestamp_ntz", "timestamp_ltz"):
                # keep the ISO string (manifests are JSON, same
                # convention as column stats); pruning revives it via
                # _revive at compare time
                return v
            if base in ("boolean", "bool"):
                return v.lower() in ("true", "t", "1")
            if base in ("string", "varchar", "char", "text"):
                return v  # '0123' must NOT collapse to 123
        except ValueError:
            return v
    try:
        return int(v)
    except ValueError:
        return v


def _partition_field_types(schema_ddl: str, spec: list[dict]) -> dict[str, str]:
    """Partition-field name → the Spark type its VALUES carry."""
    coltypes = dict(ddl_fields(schema_ddl))
    out = {}
    for pf in spec or []:
        if pf["transform"] in ("identity", "truncate"):
            out[_pfield_name(pf)] = coltypes.get(pf["column"], "string")
        else:  # year/month/day/hour ordinals and bucket ids are ints
            out[_pfield_name(pf)] = "int"
    return out


def _footer_stats(meta) -> dict[str, dict]:
    """Aggregate parquet row-group statistics into per-column
    min/max/null_count (data_file_stats.c:612 FetchRowGroupStats).

    SOUNDNESS: a column whose stats are missing or unextractable in ANY
    row group is stored with UNBOUNDED min/max — aggregating only the
    groups that expose min/max narrows the range, and pruning on the
    too-narrow bounds silently drops files holding matching rows
    (r15 review; externally-written files via add_files can truncate
    or omit per-group statistics)."""
    agg: dict[str, dict] = {}
    poisoned: set[str] = set()
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested — skip (leaf pruning only on top level)
                continue
            entry = agg.setdefault(name, {"min": None, "max": None, "null_count": 0})
            st = col.statistics
            if st is None:
                poisoned.add(name)
                entry["null_count"] = None  # nulls unknown too
                continue
            if st.has_min_max:
                try:
                    raw_mn, raw_mx = st.min, st.max
                    mn, mx = _jsonable(raw_mn), _jsonable(raw_mx)
                    # Decimal→float can round INWARD; widen by one ulp
                    # so the stored bounds stay a superset (sound prune)
                    import decimal as _decimal
                    import math as _math

                    if isinstance(raw_mn, _decimal.Decimal) and isinstance(mn, float):
                        mn = _math.nextafter(mn, -_math.inf)
                    if isinstance(raw_mx, _decimal.Decimal) and isinstance(mx, float):
                        mx = _math.nextafter(mx, _math.inf)
                except NotImplementedError:
                    # pyarrow can't extract stats for some physical types
                    # (e.g. fixed-len-byte-array decimals)
                    mn = mx = None
                if mn is None or mx is None:
                    poisoned.add(name)
                else:
                    if entry["min"] is None or mn < entry["min"]:
                        entry["min"] = mn
                    if entry["max"] is None or mx > entry["max"]:
                        entry["max"] = mx
            else:
                poisoned.add(name)
            if st.null_count is not None and entry["null_count"] is not None:
                entry["null_count"] += st.null_count
            else:
                entry["null_count"] = None
    for name in poisoned:
        agg[name]["min"] = agg[name]["max"] = None
    return agg


def _jsonable(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    import decimal

    if isinstance(v, decimal.Decimal):
        # pyarrow returns Decimal for decimal column stats; manifests
        # are JSON. float(v) alone could ROUND a bound inward (a min
        # rounding up prunes a file that holds the true min), so the
        # caller widens Decimal-sourced float bounds by one ulp.
        return float(v)
    if isinstance(v, float) and (v != v):  # NaN never prunes
        return None
    return v


def _file_fully_matches(f: DataFile, preds: list) -> bool:
    """Prove every row of ``f`` satisfies all predicates (→ metadata-only
    delete). Conservative: any doubt returns False."""
    from pg_lake_spark.lakehouse.pruning import _comparable, _revive

    for col, op, val in preds:
        st = f.stats.get(col)
        if st is None:
            return False
        lo, hi, nulls = st.get("min"), st.get("max"), st.get("null_count")
        if lo is None or hi is None or nulls is None or nulls > 0:
            return False  # NULL rows never satisfy comparison predicates
        lo, hi = _revive(lo), _revive(hi)
        try:
            if op == "=":
                lo2, v = _comparable(lo, val)
                hi2, _ = _comparable(hi, val)
                if not (lo2 == hi2 == v):
                    return False
            elif op == "<":
                hi2, v = _comparable(hi, val)
                if not hi2 < v:
                    return False
            elif op == "<=":
                hi2, v = _comparable(hi, val)
                if not hi2 <= v:
                    return False
            elif op == ">":
                lo2, v = _comparable(lo, val)
                if not lo2 > v:
                    return False
            elif op == ">=":
                lo2, v = _comparable(lo, val)
                if not lo2 >= v:
                    return False
            elif op == "between":
                lo2, vlo = _comparable(lo, _revive(val[0]))
                hi2, vhi = _comparable(hi, _revive(val[1]))
                if not (lo2 >= vlo and hi2 <= vhi):
                    return False
            elif op == "in":
                lo2, _ = _comparable(lo, _revive(val[0]))
                if not (lo == hi and any(_comparable(lo, _revive(v))[0] == _comparable(lo, _revive(v))[1] for v in val)):
                    return False
            else:
                return False
        except TypeError:
            return False
    return True
