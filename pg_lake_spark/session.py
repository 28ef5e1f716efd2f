"""LakeSession — the engine facade.

Reference parity: pg_lake registers lake tables as foreign tables whose
schema is inferred from data (``DescribeColumnsForURL``,
pg_lake_table/src/describe/describe.c:61) and then delegates execution
to a vectorized engine. Here SparkSession *is* the engine; this module
standardizes its configuration for lakehouse analytics and registers the
test-corpus tables as temp views so SQL and DataFrame code share one
catalog.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces. On a real cluster set it ≈ 2-3× total cores.
- Timestamps are NTZ end-to-end (parquet inferTimestampNTZ), matching
  the reference's TIMESTAMP semantics (type.c:254) and the DuckDB oracle.
- Broadcast threshold left at default (10 MB); dimension tables in the
  star schema broadcast automatically, and `queries/` adds explicit
  ``broadcast()`` hints where the optimizer cannot know sizes.
- Generated-code cache sized to the working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps Janino-compiled classes in
  one JVM-wide LRU cache of ``spark.sql.codegen.cache.maxEntries``
  (default 100). Distinct classes per pass, measured on local[4]: the
  ``bench.py`` headline suite 228 (warm-up at sf0.001 plus sf0.1), the
  lakebench ``dataprep`` rows 185, ``lake_rw`` 109 plus 22 per pass whose
  where-clause literals are compiled into the code. At 100 entries no
  pass ever hit: each headline pass recompiled 278 classes and each
  ``dataprep`` pass ~180, JIT-compiled them again, and loaded ~370 new
  classes (~3.8 MB of metaspace) until a collection unloaded the
  evicted ones. At 2000 a repeated pass compiles nothing; a full cache
  would hold ~40 MB of metaspace (~20 KB per compiled entry).
  Whole-stage class names also drop their codegen stage id
  (``spark.sql.codegen.useIdInClassName``): AQE numbers stages in the
  order their inputs finish, so with the id in the source the same
  stage missed the cache on a later run (``dd_bloom_semi_join``, 4
  classes). The cache is built once per JVM, at its first code
  generation, so the size applies only when :func:`get_spark` creates
  the JVM's first session; a caller's own session keeps 100.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

#: Canonical table inventory of the test corpus (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Entries in Spark's JVM-wide generated-code cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100): well above the
#: engine's largest measured working set of generated classes (228),
#: because an LRU cache smaller than a cyclic working set never hits
#: (see Scale notes).
CODEGEN_CACHE_ENTRIES = 2000


def _default_parallelism() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "pg_lake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for the lake engine."""
    if master is None:
        master = f"local[{_default_parallelism()}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("PG_LAKE_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Parquet TIMESTAMP(NANOS) has no Spark type; read as long and
        # normalize in load_tables (reference handles the same via its
        # TIMESTAMP_NS type-map row, type.c:290-302).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for any pandas-UDF path (the sanctioned Python escape hatch).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("PG_LAKE_SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("PG_LAKE_DRIVER_MEM", "8g"))
        # Static conf: read once, when the JVM first generates code, so
        # it is not in _RUNTIME_CONFS (setting it at runtime raises).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache is keyed by the generated source; keep AQE's run-to-run
        # stage numbering out of it (see Scale notes).
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: SQL confs the engine depends on that are runtime-settable, so queries
#: work even when the caller (e.g. the correctness driver) built its own
#: vanilla SparkSession instead of calling :func:`get_spark`.
_RUNTIME_CONFS = {
    # Parquet TIMESTAMP(NANOS) has no Spark type; read as long and
    # normalize in _normalize_ns_timestamps (reference handles the same
    # via its TIMESTAMP_NS type-map row, type.c:290-302).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # NTZ semantics end-to-end; matches the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the engine's required runtime-settable SQL confs idempotently."""
    for k, v in _RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


class LazyTables(Mapping):
    """Lazy per-table view of the corpus directory.

    Tables load (and register as temp views) on first access, so a query
    touching ``lineitem`` never pays schema inference — or a read error —
    for the nine tables it doesn't use. At 100 TB the eager alternative is
    ten parquet footer reads per query; here it also isolates failures
    (a corrupt ``events`` table can no longer sink a TPC-H query).
    """

    def __init__(self, spark: SparkSession, sf_dir: str, register_views: bool = True):
        self._spark = spark
        self._sf_dir = sf_dir
        self._register_views = register_views
        self._cache: dict[str, DataFrame] = {}
        ensure_runtime_confs(spark)

    def _path(self, name: str) -> str:
        return os.path.join(self._sf_dir, f"{name}.parquet")

    def __getitem__(self, name: str) -> DataFrame:
        df = self._cache.get(name)
        if df is None:
            path = self._path(name)
            if not os.path.exists(path):
                raise KeyError(name)
            ensure_runtime_confs(self._spark)
            df = _normalize_ns_timestamps(self._spark.read.parquet(path), path)
            self._cache[name] = df
        if self._register_views:
            # Re-register every access: another sf_dir's LazyTables may have
            # claimed the view name since we last did.
            df.createOrReplaceTempView(name)
        return df

    def __iter__(self):
        return (n for n in TABLES if os.path.exists(self._path(n)))

    def __len__(self) -> int:
        return sum(1 for _ in self)

    def __contains__(self, name) -> bool:
        return name in TABLES and os.path.exists(self._path(name))


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> LazyTables:
    """Lazy mapping of corpus tables from ``sf_dir``; views register on access.

    Mirrors pg_lake's lake-table registration flow: one DataFrame per
    parquet table, schema inferred from the files. Loading is lazy and
    cached per ``(SparkSession, sf_dir)`` so repeated query calls in one
    session share DataFrames and pay schema inference once per table.
    """
    cache = getattr(spark, "_pg_lake_tables", None)
    if cache is None:
        cache = {}
        spark._pg_lake_tables = cache
    key = (sf_dir, register_views)
    tables = cache.get(key)
    if tables is None:
        tables = LazyTables(spark, sf_dir, register_views)
        cache[key] = tables
    return tables


def warm_python_workers(spark: SparkSession, workers: int | None = None) -> float:
    """Pre-fork the Arrow Python worker pool so the first pandas-UDF
    stage of a session doesn't pay the ramp.

    A cold grouped-map stage forks one Python worker per concurrent
    task; measured on local[32], a 24-32 worker ramp costs a uniform
    ~6s that lands entirely in the first applyInPandas/mapInPandas
    query's wall time (workers are reused across subsequent stages,
    functions, and inputs — verified by /proc fork-age tracing, r15).
    On a real cluster the same cost hits once per executor at first
    Python use. Running one throwaway grouped-map pass sized to the
    session's parallelism moves that cost into session setup, where a
    benchmark's warm-up phase (or a long-lived service's init) absorbs
    it. AQE partition coalescing is suspended for the pass — the whole
    point is forcing ``workers`` simultaneous tasks on a tiny input.

    Returns the ramp wall-seconds (useful to log/stamp).
    """
    import time as _time

    import pandas as _pd  # noqa: F401 — fail fast if pandas is absent

    if workers is None:
        workers = spark.sparkContext.defaultParallelism

    def _noop(pdf):
        return pdf[["wid"]]

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce_key, "true")
    t0 = _time.perf_counter()
    try:
        spark.conf.set(coalesce_key, "false")
        (
            spark.range(0, workers * 4, 1, workers)
            .selectExpr("id % {} AS wid".format(workers))
            .groupBy("wid")
            .applyInPandas(_noop, "wid long")
            .count()
        )
    finally:
        spark.conf.set(coalesce_key, prior)
    return _time.perf_counter() - t0


def _normalize_ns_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Convert TIMESTAMP(NANOS) columns (read as long nanos via
    nanosAsLong) back to timestamp_ntz at microsecond precision.

    Truncation (ns div 1000) matches DuckDB's ns→us conversion, so the
    oracle sees identical values. Column detection uses the parquet
    footer, not name heuristics.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    try:
        schema = pq.read_schema(path)
    except (OSError, ValueError):
        return df
    for field in schema:
        if str(field.type) == "timestamp[ns]":
            # backtick-quote: a raw name with spaces/dots/reserved words
            # would fail F.expr's parser even though Spark reads the
            # column fine
            quoted = "`" + field.name.replace("`", "``") + "`"
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{quoted} div 1000")).cast("timestamp_ntz"),
            )
    return df


class LakeSession:
    """Thin engine facade bundling a SparkSession with lake-table helpers.

    Reference analogue: the pg_lake extension set as a whole — session
    owns the catalog of registered lake tables and exposes read/write/
    maintenance entry points.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        # Manual registrations live apart from the (read-only) corpus
        # mapping: register_corpus stores a LazyTables, which has no
        # __setitem__ — overlaying in one dict broke register_lake_table
        # after register_corpus (round-2 ADVICE).
        self._corpus: Mapping[str, DataFrame] = {}
        self._manual: dict[str, DataFrame] = {}
        self._lake_tables: dict[str, object] = {}  # name -> LakeTable
        self._foreign_meta: dict[str, dict] = {}  # name -> path/fmt/options
        self._pipelines: dict[str, object] = {}  # name -> FileListPipeline
        self.file_cache = None  # set by enable_file_cache
        self.warehouse: str | None = None  # default location root for DDL
        # Session GUCs (SET pg_lake_*.* TO ...) — see ddl._GUC_DEFAULTS
        self.gucs: dict[str, str] = {}

    # -- registration ---------------------------------------------------
    def register_corpus(self, sf_dir: str = DEFAULT_SF_DIR) -> LazyTables:
        tables = load_tables(self.spark, sf_dir)
        self._corpus = tables
        return tables

    @property
    def tables(self) -> dict[str, DataFrame]:
        """Merged registry snapshot: manual registrations shadow corpus."""
        merged: dict[str, DataFrame] = {}
        for n in self._corpus:
            merged[n] = self._corpus[n]
        merged.update(self._manual)
        return merged

    def register_lake_table(self, name: str, path: str, fmt: str = "parquet", **options) -> DataFrame:
        """CREATE FOREIGN TABLE () SERVER pg_lake analogue: infer schema
        from files at ``path`` and register under ``name``."""
        from pg_lake_spark.sources import readers

        options.setdefault("cache", self.file_cache)
        df = readers.read_lake(self.spark, path, fmt=fmt, **options)
        df.createOrReplaceTempView(name)
        self._manual[name] = df
        # remembered so pipeline statements can resolve "read like this
        # foreign table" (use-case-log-management.md workflow)
        self._foreign_meta[name] = {
            "path": path,
            "fmt": fmt,
            "options": {k: v for k, v in options.items() if k != "cache"},
        }
        return df

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- lakehouse tables (transactional write surface) -----------------
    def create_lake_table(
        self,
        name: str,
        location: str,
        df: DataFrame | None = None,
        schema_ddl: str | None = None,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
    ):
        """CREATE TABLE … USING iceberg analogue; with ``df`` it is CTAS.

        The table registers as a temp view under ``name`` (refreshed
        reads require re-calling :meth:`lake_table`)."""
        from pg_lake_spark.lakehouse.table import LakeTable

        if df is not None:
            t = LakeTable.create_from_dataframe(
                self.spark, location, df, partition_by, properties
            )
        elif schema_ddl is not None:
            t = LakeTable.create(self.spark, location, schema_ddl, partition_by, properties)
        else:
            raise ValueError("provide df (CTAS) or schema_ddl")
        t.to_df().createOrReplaceTempView(name)
        self._lake_tables[name] = t
        return t

    def default_table_location(self, name: str) -> str:
        """Location for DDL-created tables without an explicit
        ``location`` option: ``<warehouse>/<name>`` (set
        ``sess.warehouse``; defaults to a per-session temp dir)."""
        import tempfile

        if self.warehouse is None:
            self.warehouse = tempfile.mkdtemp(prefix="pg_lake_wh_")
        return os.path.join(self.warehouse, name)

    def lake_table_handle(self, name: str):
        """The LakeTable behind a session-registered table name."""
        try:
            return self._lake_tables[name]
        except KeyError:
            raise KeyError(f"{name!r} is not a lake table in this session") from None

    def execute(self, sql: str):
        """One SQL entry point for the reference's statement surface:
        CREATE FOREIGN TABLE / CREATE TABLE WITH (load_from=...) /
        COPY TO / COPY FROM / DROP FOREIGN TABLE are routed to the lake
        facades; everything else runs as a Spark SQL query."""
        from pg_lake_spark.ddl import execute_lake_sql

        return execute_lake_sql(self, sql)

    def create_table_from(
        self,
        name: str,
        location: str,
        *,
        load_from: str | None = None,
        definition_from: str | None = None,
        fmt: str | None = None,
        partition_by: list[str] | None = None,
        **read_options,
    ):
        """``CREATE TABLE t () WITH (load_from = '…')`` parity
        (docs/data-lake-import-export.md:13-36): ``load_from`` infers
        the schema from the file AND loads its rows into a new lake
        table; ``definition_from`` takes only the schema (empty table).
        The source may be any read_lake format/scheme, including
        ``hf://``/http(s) through the session file cache."""
        src = load_from or definition_from
        if not src or (load_from and definition_from):
            raise ValueError("provide exactly one of load_from / definition_from")
        if fmt is None:
            # ONE sniffer (ddl._fmt_from_options) for both the SQL path
            # and this facade — a local copy had already drifted (it
            # missed the metadata.json → iceberg rule, reading Iceberg
            # metadata as JSON rows)
            from pg_lake_spark.ddl import _fmt_from_options

            fmt = _fmt_from_options({}, src)
        from pg_lake_spark.sources import readers

        read_options.setdefault("cache", self.file_cache)
        df = readers.read_lake(self.spark, src, fmt=fmt, **read_options)
        if definition_from:
            df = df.limit(0)
        return self.create_lake_table(
            name, location, df=df, partition_by=partition_by
        )

    def lake_table(self, location: str, name: str | None = None):
        """Load an existing LakeTable; optionally (re)register its view."""
        from pg_lake_spark.lakehouse.table import LakeTable

        t = LakeTable.load(self.spark, location)
        if name:
            t.to_df().createOrReplaceTempView(name)
        return t

    def register_iceberg_table(
        self, name: str, location: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Register an *external* Iceberg table (its metadata.json, table
        root, or metadata/ dir) as a view — the analogue of the
        reference's foreign Iceberg snapshot scan
        (describe.c:167 DescribeColumnsFromIcebergMetadataURI)."""
        from pg_lake_spark.lakehouse import iceberg_meta

        df = iceberg_meta.scan_iceberg(self.spark, location, snapshot_id=snapshot_id)
        df.createOrReplaceTempView(name)
        self._manual[name] = df
        return df

    def register_delta_table(
        self, name: str, location: str, version: int | None = None
    ) -> DataFrame:
        """Register an external Delta table root as a view — the
        analogue of the reference's read-only Delta support
        (docs/file-formats-reference.md:34-37), resolved by the
        pure-metadata _delta_log reader."""
        from pg_lake_spark.lakehouse import delta_meta

        df = delta_meta.scan_delta(self.spark, location, version=version)
        df.createOrReplaceTempView(name)
        self._manual[name] = df
        return df

    def register_rest_table(
        self,
        name: str,
        catalog_uri: str,
        namespace: str,
        table: str,
        *,
        token: str | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Register a table served by an Iceberg REST catalog as a view
        (reference interop: pg_lake_iceberg/src/test/rest_catalog.c)."""
        from pg_lake_spark.lakehouse.rest_catalog import RestCatalog

        df = RestCatalog(catalog_uri, token=token).scan(
            self.spark, namespace, table, snapshot_id=snapshot_id
        )
        df.createOrReplaceTempView(name)
        self._manual[name] = df
        return df

    def read_transaction(self):
        """Repeatable-read multi-statement reads over LakeTables
        (reference isolation parity: isolation_iceberg_repeatable_read
        .spec) — ``with sess.read_transaction() as txn: txn.scan(loc)``."""
        from pg_lake_spark.lakehouse.isolation import read_transaction

        return read_transaction(self.spark)

    def vacuum(self, location: str, **kwargs) -> dict:
        from pg_lake_spark.lakehouse import maintenance
        from pg_lake_spark.lakehouse.table import LakeTable

        return maintenance.vacuum(LakeTable.load(self.spark, location), **kwargs)

    def enable_file_cache(
        self,
        cache_dir: str,
        max_bytes: int = 256 * 1024 * 1024,
        interval_s: float | None = None,
        fetcher=None,
    ):
        """Local mirror for remote lake files (reference: the NVMe
        caching filesystem + cache worker, duckdb_pglake/src/fs/
        caching_file_system.cpp, cache_worker.c). ``interval_s`` starts
        the periodic manage worker; otherwise call
        ``sess.file_cache.manage()`` from your own cadence."""
        from pg_lake_spark.sources.cache import FileCacheManager

        kwargs = {} if fetcher is None else {"fetcher": fetcher}
        self.file_cache = FileCacheManager(cache_dir, max_bytes, **kwargs)
        if interval_s is not None:
            self.file_cache.start_worker(interval_s)
        return self.file_cache

    def enable_object_store_catalog(
        self, root: str, name: str = "pg_lake", max_age_s: float = 60.0
    ):
        """Publish this session's lake tables for other engines via a
        catalog.json in object storage (reference:
        object_store_catalog.c; the discovery counterpart is
        ``ObjectStoreCatalog.list_tables/scan`` on any engine)."""
        from pg_lake_spark.lakehouse.object_store_catalog import ObjectStoreCatalog

        self.object_store_catalog = ObjectStoreCatalog(root, name, max_age_s)
        return self.object_store_catalog

    def enable_spatial_sql(self) -> list[str]:
        """Register the st_* surface for ``sess.sql`` queries (the
        reference ships spatial as SQL functions)."""
        from pg_lake_spark.functions.spatial import register_spatial_sql

        return register_spatial_sql(self.spark)

    def register_geojson_table(self, name: str, path: str) -> DataFrame:
        """GeoJSON (NDJSON features or FeatureCollection) as a view with
        WKB geometry + properties JSON (GDAL-slice parity)."""
        from pg_lake_spark.sources.readers import read_geojson

        df = read_geojson(self.spark, path)
        df.createOrReplaceTempView(name)
        return df

    def register_geoparquet_table(self, name: str, path: str) -> tuple[DataFrame, dict]:
        """GeoParquet dataset as a view; returns (df, geo_metadata)
        (describe.c:225 detection parity)."""
        from pg_lake_spark.sources.geoparquet import read_geoparquet

        df, geo = read_geoparquet(self.spark, path)
        df.createOrReplaceTempView(name)
        return df, geo

    def describe(self, path: str, fmt: str = "parquet", **options) -> DataFrame:
        """Column inventory of any lake source — the reference's
        DESCRIBE path (pg_lake_table/src/describe/describe.c): resolve
        the format's schema without scanning data where the format
        allows (parquet/iceberg/delta are metadata-only) and return
        (column, type) rows. GeoParquet geometry columns are typed
        ``geometry(WKB)`` like the reference's describe (describe.c:225)."""
        from pg_lake_spark.sources.readers import read_lake

        fl = fmt.lower()
        if fl == "iceberg":
            from pg_lake_spark.lakehouse import iceberg_meta

            meta = iceberg_meta.iceberg_metadata(path)
            ddl = iceberg_meta.spark_schema_from_iceberg(
                iceberg_meta._current_schema(meta)
            )
            from pyspark.sql.types import StructType

            fields = [(f.name, f.dataType.simpleString()) for f in StructType.fromDDL(ddl).fields]
        elif fl == "delta":
            from pg_lake_spark.lakehouse.delta_meta import scan_delta

            fields = [(n, t) for n, t in scan_delta(self.spark, path).dtypes]
        else:
            df = read_lake(self.spark, path, fmt=fl, **options)
            fields = list(df.dtypes)
            if fl == "parquet":
                from pg_lake_spark.sources.geoparquet import geo_metadata

                geo = geo_metadata(path) if "://" not in path else None
                if geo:
                    geom_cols = set((geo.get("columns") or {}).keys())
                    fields = [
                        (n, "geometry(WKB)" if n in geom_cols else t)
                        for n, t in fields
                    ]
        return self.spark.createDataFrame(fields, "column string, type string")

    def optimize(
        self,
        location: str,
        *,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        **kwargs,
    ) -> dict:
        """Clustering rewrite: ``sort_by`` range-clusters one key,
        ``zorder_by`` Morton-clusters several (tight per-file stats in
        every listed column). Exactly one must be given."""
        from pg_lake_spark.lakehouse import maintenance
        from pg_lake_spark.lakehouse.table import LakeTable

        if bool(sort_by) == bool(zorder_by):
            raise ValueError("pass exactly one of sort_by / zorder_by")
        t = LakeTable.load(self.spark, location)
        if sort_by:
            return maintenance.rewrite_sorted(t, sort_by, **kwargs)
        return maintenance.rewrite_zorder(t, zorder_by, **kwargs)

    def drop_table(self, location: str) -> dict:
        """DROP TABLE: files → deletion queue (10-day retention), table
        hidden, metadata retained for restore (drop_table.c parity)."""
        from pg_lake_spark.lakehouse import maintenance

        return maintenance.drop_table(location)

    def restore_table(self, location: str, metadata_version: int | None = None):
        """Un-drop (default) or point-in-time restore from a retained
        metadata version (docs/iceberg-tables.md:845-850)."""
        from pg_lake_spark.lakehouse import maintenance

        return maintenance.restore_table(self.spark, location, metadata_version)

    def stop(self) -> None:
        self.spark.stop()
