"""Per-query perf probe: times selected queries with the noop sink.

Usage: python tools/perf_probe.py [-n REPEATS] [query ...]

Unlike bench.py (driver contract, .count() action), this probe times
df.write.format("noop") — every column of every row computed, nothing
collected (optimization guide §1.4) — and reports median/min over N
repeats plus the job count and the Janino compilations per run
(compiles/run: near 0 once the generated-code cache holds the query's
classes; a cache that thrashes recompiles them on every run).
Pure diagnostic; never feeds artifacts.
"""

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--count", action="store_true", help="time .count() like bench.py instead of the noop sink")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pg_lake_spark.queries import QUERIES
    from pg_lake_spark.session import get_spark, warm_python_workers

    spark = get_spark(
        app_name="perf-probe",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    try:
        warm_python_workers(spark)
    except Exception:
        pass

    def run(df):
        if args.count:
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()

    for name in args.queries:
        if name not in QUERIES:
            print(f"skip {name}")
            continue
        fn = QUERIES[name].fn
        # warm once at sf0.001 (codegen) like bench.py
        try:
            sc.setJobDescription(f"warm {name}")
            run(fn(spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"{name}: warm failed {e}")
        samples = []
        jobs0 = sc._jsc.sc().dagScheduler().nextJobId()
        compiles0 = compilations.getCount()
        for i in range(args.n):
            sc.setJobDescription(f"{name} [{i}]")
            t0 = time.perf_counter()
            run(fn(spark, args.sf))
            samples.append(time.perf_counter() - t0)
        jobs1 = sc._jsc.sc().dagScheduler().nextJobId()
        compiles1 = compilations.getCount()
        sc.setJobDescription(None)
        print(
            f"{name}: median {statistics.median(samples):.3f}s min {min(samples):.3f}s "
            f"max {max(samples):.3f}s jobs/run {(jobs1 - jobs0) / args.n:.1f} "
            f"compiles/run {(compiles1 - compiles0) / args.n:.1f} "
            f"samples {[round(s, 3) for s in samples]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
