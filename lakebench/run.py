"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 lakebench/run.py --workload dataprep --seed 1 --seconds 24 --trace 0

Run from the repository root. One Python process drives a
``local[nproc]`` Spark session as a single closed-loop client: each op
starts when the previous one has finished. A run is a fixed number of
whole passes over the workload's op list (``--seconds`` sets how many),
so every run does the same ops in a seeded order; none is retried and
every op counts. Each op's output is checked; the checks run between
ops, outside the measured time.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same ops with spans and Spark counters collected and prints the
per-layer metrics instead (see README.md). The last line of stdout is
the result; the line before it carries the run's environment stamp.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3
#: nominal seconds of one pass per workload: passes = seconds / this
PASS_S = {"analytics": 11.0, "dataprep": 8.0, "lake_rw": 8.0}

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "latency_geomean_s": "s",
    "cpu_s_per_op": "s",
    "success_rate": "ratio",
    "storage_amplification": "ratio",
}


def per_layer_names() -> dict[str, str]:
    from lakebench import corpus, workloads

    names = {
        "session.start_s": "s", "session.warm_s": "s",
        "setup.corpus_s": "s", "setup.table_s": "s",
        "queries.build_s": "s", "queries.build_jobs": "count",
        "queries.build_share": "ratio",
        "plans.plan_s": "s", "plans.exchanges": "count", "plans.broadcasts": "count",
        "exec.wall_s": "s", "exec.wall_share": "ratio",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
        "exec.input_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
        "self.op_s": "s", "self.queries_s": "s", "self.plans_s": "s",
        "self.exec_s": "s", "self.lakehouse_s": "s",
        "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.state_rows": "count", "streaming.state_bytes": "B",
        "lakehouse.scan_plan_s": "s", "lakehouse.files_scanned": "count",
        "lakehouse.files_skipped": "count", "lakehouse.live_files": "count",
        "lakehouse.bytes_written": "B",
        "traced.ops_per_s": "1/s", "traced.latency_p50_s": "s",
        "traced.latency_geomean_s": "s", "traced.cpu_s_per_op": "s",
        "env.steal_s": "s", "env.load1": "count",
    }
    for call in ("append", "delete_mor", "delete_cow", "merge", "update", "vacuum"):
        names[f"lakehouse.{call}_s"] = "s"
    for name in corpus.ROWS["dataprep"]:
        names[f"op.{name}.latency_s"] = "s"
        names[f"op.{name}.build_s"] = "s"
    for kind in [*dict.fromkeys(workloads.LAKE_PASS), "mor_delete_read", "vacuum"]:
        names[f"op.{kind}.latency_s"] = "s"
    return names


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class Bench:
    def __init__(self, args):
        from lakebench import corpus, measure, trace, workloads

        self.args = args
        self.wl = args.workload
        # everything a run writes, emptied at the start of each run
        self.work = workloads.fresh_dir(os.path.join(ROOT, ".lakebench_work"))
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        self.tracer = trace.Tracer(bool(args.trace))
        self.spark = None
        self.runner = None
        self.listener = None
        self.shadow = None
        self.setups: list[dict[str, float]] = []
        self.warm_s = 0.0
        self.rec = measure.Record()
        self.amp: list[float] = []  # storage amplification after each lake op
        self.counters: list[dict] = []  # per-op counters of a traced run
        self.env: dict = {}
        self.expected: dict[str, dict] = {}
        self.sf_dir = corpus.SMALL

    # -- set-up ----------------------------------------------------------
    def _start_session(self):
        from pg_lake_spark.session import get_spark

        ncpu = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name="lakebench",
            master=f"local[{ncpu}]",
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # keep the JVM's temp and perf-data files inside the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup_once(self) -> dict[str, float]:
        """(Re)start the session and make the workload's inputs."""
        from lakebench import corpus, workloads

        if self.spark is not None:
            self.spark.stop()
        t = {"setup.corpus_s": 0.0, "setup.table_s": 0.0}
        t0 = time.perf_counter()
        self.spark = self._start_session()
        t["session.start_s"] = time.perf_counter() - t0
        self.runner = workloads.Runner(self.spark, self.tracer)
        if self.wl == "analytics":
            out = workloads.fresh_dir(os.path.join(self.work, "scaled"))
            t0 = time.perf_counter()
            corpus.generate_scaled(out)
            t["setup.corpus_s"] = time.perf_counter() - t0
            self.sf_dir = out
        elif self.wl == "lake_rw":
            loc = os.path.join(workloads.fresh_dir(os.path.join(self.work, "lake")), "t")
            t0 = time.perf_counter()
            self.runner.create_table(loc, os.path.join(corpus.SRC, "lineitem.parquet"))
            t["setup.table_s"] = time.perf_counter() - t0
        t["setup_s"] = sum(t.values())
        return t

    def setup(self) -> None:
        """``SETUP_REPS`` set-ups, then one warm-up in the last session.
        ``setup_s`` is the median set-up plus the warm-up. The first
        set-up also launches the JVM, so the median is a restart."""
        for _ in range(SETUP_REPS):
            self.setups.append(self.setup_once())
        t0 = time.perf_counter()
        self._warm()
        self.warm_s = time.perf_counter() - t0

    def _warm(self) -> None:
        """Run every op type once before timing starts, so code generation,
        the JIT and Python workers are warm: query rows on the corpus the
        run reads, lake ops on a table made from the sf0.01 ``lineitem``
        (large enough that hot loops compile, unlike sf0.001)."""
        from lakebench import corpus, workloads

        if self.wl == "lake_rw":
            main = self.runner.table
            src = os.path.join(corpus.SMALL, "lineitem.parquet")
            self.runner.create_table(os.path.join(self.work, "lake", "warm"), src)
            for op in workloads.lake_sequence(0, 1, corpus.key_space(corpus.SMALL)):
                self.runner.run_lake(-1, op, src)
            self.runner.table = main
            return
        for name in corpus.ROWS[self.wl]:
            self.runner.run_query(-1, name, self.sf_dir)

    # -- timed phase -----------------------------------------------------
    def sequence(self):
        from lakebench import corpus, workloads

        passes = max(1, int(self.args.seconds // PASS_S[self.wl]))
        if self.wl == "lake_rw":
            return workloads.lake_sequence(self.args.seed, passes, corpus.key_space(corpus.SRC))
        return workloads.query_sequence(corpus.ROWS[self.wl], self.args.seed, passes)

    def run(self) -> None:
        import duckdb

        from lakebench import checksum, corpus, measure, oracle, trace, workloads

        self.setup()
        if self.wl != "lake_rw":
            self.expected = oracle.expected(corpus.ROWS[self.wl], self.sf_dir)
        if self.tracer.enabled:
            self.listener = trace.streaming_listener(self.spark)
        src = os.path.join(corpus.SRC, "lineitem.parquet")
        if self.wl == "lake_rw":
            self.shadow = workloads.Shadow(duckdb.connect(), src)
            table_files = workloads.dir_files(self.runner.table.location)
        written = 0
        ops = self.sequence()
        rec = self.rec
        env0 = measure.env_stamp()
        for i, op in enumerate(ops):
            self.tracer.op_id = i
            if self.listener:
                self.listener.op_id = i
            if op.kind == "vacuum":  # a pass's garbage is all there
                self.amp.append(self._storage_amplification())
            err, out = None, None
            c0 = measure.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    if self.wl == "lake_rw":
                        out = self.runner.run_lake(i, op, src)
                    else:
                        out = self.runner.run_query(i, op.kind, self.sf_dir)
            except Exception as e:  # an op failure is a result, never retried
                err = f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            cpu = measure.tree_cpu_s() - c0
            # -- checks and counters: outside the measured time --------
            if err is None:
                if self.wl == "lake_rw":
                    err = workloads.lake_mismatch(out, self.shadow.apply(op), self.shadow.checksum(op))
                else:
                    err = checksum.mismatch(out, self.expected[op.kind])
            elif self.wl == "lake_rw":
                self.shadow.apply(op)
            rec.add(op.kind, lat, cpu, err, op.pass_no)
            if self.tracer.enabled:
                if self.wl == "lake_rw":
                    files = workloads.dir_files(self.runner.table.location)
                    written = sum(v for k, v in files.items() if k not in table_files)
                    table_files = files
                self.counters.append(self._counters(i, op, written))
        env1 = measure.env_stamp()
        self.env = {"steal_s": env1["steal_s"] - env0["steal_s"], "load1": env1["load1"]}

    def _storage_amplification(self) -> float:
        """Bytes under the table location ÷ bytes of its live data files."""
        from pg_lake_spark.lakehouse import maintenance

        from lakebench import workloads

        files = workloads.dir_files(self.runner.table.location)
        return sum(files.values()) / maintenance.table_size(self.runner.table)["bytes"]

    def _counters(self, i: int, op, written: int) -> dict:
        from pg_lake_spark.plans.explain import plan_summary

        from lakebench import trace

        trace.drain_listeners(self.runner.sc)
        build = trace.job_group_stats(self.runner.sc, f"b{i}")
        ex = trace.job_group_stats(self.runner.sc, f"x{i}")
        c = {k: build[k] + ex[k] for k in ex}
        c["build_jobs"] = build["jobs"]
        c["kind"] = op.kind
        c["bytes_written"] = written
        if self.runner.last_df is not None:
            ps = plan_summary(self.runner.last_df)
            c["exchanges"], c["broadcasts"] = ps.exchanges, ps.broadcasts
            self.runner.last_df = None
        rep = self.runner.scan_report
        if rep is not None:
            c["files_scanned"], c["files_skipped"] = rep.files_scanned, rep.files_skipped
        if op.kind.startswith("st_") and self.listener is not None:
            c.update(trace.streaming_stats(self.listener.progress, i))
        return c

    # -- metrics ---------------------------------------------------------
    def e2e(self) -> dict[str, float]:
        from lakebench import measure

        setup_s = _median([s["setup_s"] for s in self.setups]) + self.warm_s
        # no lake table: nothing is stored beyond the live data
        amp = _mean(self.amp) if self.amp else 1.0
        return measure.end_to_end(self.rec, setup_s, amp)

    def layers(self, e2e: dict) -> dict[str, float]:
        names = per_layer_names()
        out = dict.fromkeys(names, 0.0)
        for k in ("session.start_s", "setup.corpus_s", "setup.table_s"):
            out[k] = _median([s[k] for s in self.setups])
        out["session.warm_s"] = self.warm_s
        rec, cs = self.rec, self.counters
        n = len(cs)
        totals = self.tracer.totals()
        selfs = self.tracer.self_times()
        lat_sum = sum(rec.lat)
        out["queries.build_s"] = totals.get("queries.build", 0.0) / n
        out["plans.plan_s"] = totals.get("plans.plan", 0.0) / n
        out["exec.wall_s"] = totals.get("exec", 0.0) / n
        out["queries.build_share"] = totals.get("queries.build", 0.0) / lat_sum
        out["exec.wall_share"] = totals.get("exec", 0.0) / lat_sum
        out["queries.build_jobs"] = _mean([c["build_jobs"] for c in cs])
        for k in ("exchanges", "broadcasts"):
            out[f"plans.{k}"] = _mean([c[k] for c in cs if k in c])
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "input_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{k}"] = _mean([c[k] for c in cs])
        out["self.op_s"] = selfs.get("op", 0.0) / n
        out["self.queries_s"] = selfs.get("queries.build", 0.0) / n
        out["self.plans_s"] = selfs.get("plans.plan", 0.0) / n
        out["self.exec_s"] = selfs.get("exec", 0.0) / n
        out["self.lakehouse_s"] = sum(v for k, v in selfs.items() if k.startswith("lakehouse.")) / n
        for k in ("trigger_ms", "add_batch_ms", "state_rows", "state_bytes"):
            out[f"streaming.{k}"] = _mean([c[k] for c in cs if k in c])
        for k in ("files_scanned", "files_skipped"):
            out[f"lakehouse.{k}"] = _mean([c[k] for c in cs if k in c])
        out["lakehouse.bytes_written"] = _mean(
            [c["bytes_written"] for c in cs if c["kind"] in ("append", "cow_delete", "merge", "update", "vacuum")]
        )
        if self.wl == "lake_rw":
            from pg_lake_spark.lakehouse import maintenance

            out["lakehouse.live_files"] = maintenance.table_size(self.runner.table)["files"]
        call_lat: dict[str, list[float]] = {}
        for s in self.tracer.spans:
            if s.name.startswith("lakehouse."):
                call_lat.setdefault(s.name, []).append(s.end - s.start)
        for name, xs in call_lat.items():
            key = "lakehouse.scan_plan_s" if name == "lakehouse.scan" else f"{name}_s"
            out[key] = _median(xs)
        for k, xs in rec.by_kind().items():
            if f"op.{k}.latency_s" in out:
                out[f"op.{k}.latency_s"] = _median(xs)
        builds: dict[str, list[float]] = {}
        for s in self.tracer.spans:
            if s.name == "queries.build":
                builds.setdefault(rec.kinds[s.op_id], []).append(s.end - s.start)
        for k, xs in builds.items():
            if f"op.{k}.build_s" in out:
                out[f"op.{k}.build_s"] = _median(xs)
        for k in ("ops_per_s", "latency_p50_s", "latency_geomean_s", "cpu_s_per_op"):
            out[f"traced.{k}"] = e2e[k]
        out["env.steal_s"] = self.env["steal_s"]
        out["env.load1"] = self.env["load1"]
        assert set(out) == set(names)
        return {k: {"value": v, "unit": names[k]} for k, v in out.items()}

    # -- teardown --------------------------------------------------------
    def shutdown(self) -> None:
        """Stop Spark and its JVM, and wait until every process this run
        started has ended."""
        from lakebench import measure

        kids = measure.descendants()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        alive = kids
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if _running(p)]
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rpartition(")")[2].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "dataprep", "lake_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    from lakebench import measure

    bench = Bench(args)
    try:
        bench.run()
        e2e = bench.e2e()
        if args.trace:
            metrics = bench.layers(e2e)
            bench.tracer.write(os.path.join(bench.work, f"spans_{args.workload}.json"))
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    finally:
        bench.shutdown()
    rec = bench.rec
    diag = {
        "workload": args.workload, "seed": args.seed, "ops": len(rec.lat),
        "tail_percentile": measure.tail(rec.lat)[1], "env": bench.env,
        "setups": bench.setups, "warm_s": bench.warm_s, "errors": rec.errors[:20],
        "op_latency_s": [round(x, 4) for x in rec.lat], "op_kinds": rec.kinds,
    }
    print(json.dumps({"lakebench": diag}), flush=True)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": len(rec.lat),
        "failed": rec.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
