"""Statistics over op samples, and CPU / environment readings from /proc.

Pure functions take already-read text so they can be tested without a
live process tree.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` at the highest percentile that still has
    ``TAIL_BEYOND`` samples above it: the (n-10)-th smallest of n. With
    too few samples for that, the maximum (percentile 100)."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    k = n - TAIL_BEYOND  # 1-based rank of the tail sample
    return s[k - 1], 100.0 * k / n


def geomean_of_medians(by_type: dict[str, list[float]]) -> float:
    """Geometric mean over op types of each type's median (TPC-style):
    every op type weighs the same however its latencies compare."""
    meds = [statistics.median(v) for v in by_type.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


@dataclass
class Record:
    """Every timed op of a run: its type, latency, CPU and outcome."""

    kinds: list[str] = field(default_factory=list)
    lat: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    passes: list[int] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    failed: int = 0

    def add(self, kind: str, lat: float, cpu: float, err: str | None, pass_no: int = 0) -> None:
        """``err`` is None for a correct op; a wrong result or an
        exception counts as failed, and the op is never retried."""
        self.passes.append(pass_no)
        self.kinds.append(kind)
        self.lat.append(lat)
        self.cpu.append(cpu)
        if err is not None:
            self.failed += 1
            self.errors.append(f"op {len(self.lat) - 1} {kind}: {err}"[:300])

    def by_kind(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for k, v in zip(self.kinds, self.lat):
            out.setdefault(k, []).append(v)
        return out


def end_to_end(rec: Record, setup_s: float, storage_amp: float) -> dict[str, float]:
    """The end-to-end metrics of one run. With one closed-loop client the
    timed wall time is the sum of op latencies; the benchmark's own
    checks between ops are outside it. Throughput and CPU per op are the
    median over passes, so a burst of host contention during one pass
    does not set the run's figure."""
    n = len(rec.lat)
    per_pass: dict[int, list[int]] = {}
    for i, p in enumerate(rec.passes):
        per_pass.setdefault(p, []).append(i)
    return {
        "setup_s": setup_s,
        "ops_per_s": statistics.median(
            len(ix) / sum(rec.lat[i] for i in ix) for ix in per_pass.values()
        ),
        "latency_p50_s": statistics.median(rec.lat),
        "latency_tail_s": tail(rec.lat)[0],
        "latency_geomean_s": geomean_of_medians(rec.by_kind()),
        "cpu_s_per_op": statistics.median(
            sum(rec.cpu[i] for i in ix) / len(ix) for ix in per_pass.values()
        ),
        "success_rate": (n - rec.failed) / n,
        "storage_amplification": storage_amp,
    }


# ----------------------------------------------------------------------
# /proc readers
# ----------------------------------------------------------------------


def parse_stat(text: str) -> tuple[int, int, int]:
    """``(pid, ppid, ticks)`` from one ``/proc/<pid>/stat`` line, where
    ticks = utime + stime + cutime + cstime. A live process's own time
    is in utime/stime; a reaped child's moved into its parent's
    cutime/cstime, so summing all four over a tree counts each CPU
    second once."""
    head, _, rest = text.rpartition(")")
    pid = int(head.split("(", 1)[0])
    f = rest.split()
    # f[0] is field 3 (state); utime..cstime are fields 14..17
    return pid, int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_ticks(procs: dict[int, tuple[int, int]], root: int) -> int:
    """Sum ticks over ``root`` and all its descendants;
    ``procs`` maps pid → (ppid, ticks)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
        stack.extend(children.get(pid, ()))
    return total


def read_procs() -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                pid, ppid, ticks = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        out[pid] = (ppid, ticks)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and its descendants
    (the JVM and its Python workers)."""
    return tree_ticks(read_procs(), os.getpid() if root is None else root) / CLK_TCK


def descendants(root: int | None = None) -> list[int]:
    procs = read_procs()
    root = os.getpid() if root is None else root
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        kids = [p for p, (pp, _) in procs.items() if pp == pid]
        out.extend(kids)
        stack.extend(kids)
    return out


def parse_steal(proc_stat: str) -> int:
    """Steal ticks from the aggregate ``cpu`` line of ``/proc/stat``."""
    for line in proc_stat.splitlines():
        if line.startswith("cpu "):
            return int(line.split()[8])
    raise ValueError("no cpu line")


def env_stamp() -> dict:
    """Steal CPU-seconds so far and the 1-minute load average. Diagnosis
    only: no run is discarded, repeated or adjusted for them."""
    with open("/proc/stat") as fh:
        steal = parse_steal(fh.read()) / CLK_TCK
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal_s": steal, "load1": load1}
