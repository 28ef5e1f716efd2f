"""Generated-code cache sizing: a repeated workload compiles nothing.

Spark caches Janino-compiled whole-stage and expression classes in one
JVM-wide LRU cache keyed by the generated source. The dataprep rows'
working set is larger than Spark's default 100 entries, and an LRU cache
smaller than a cyclic working set never hits, so at the default every
pass over these rows recompiled (and re-JITted) the same classes.
``get_spark`` sizes the cache (``session.CODEGEN_CACHE_ENTRIES``); this
pins that a second pass over the rows hits it for every class.
"""

from __future__ import annotations

from lakebench.corpus import ROWS
from pg_lake_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _one_pass(spark) -> int:
    c0 = _compilations(spark)
    for name in ROWS["dataprep"]:
        QUERIES[name].fn(spark, SF_DIR).collect()
    return _compilations(spark) - c0


def test_second_dataprep_pass_compiles_nothing(spark):
    _one_pass(spark)
    assert _one_pass(spark) == 0
