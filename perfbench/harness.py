"""The closed loop shared by all workloads, the memory sampler and the
per-span summaries the workloads turn into per-layer metrics."""

from __future__ import annotations

import gc
import os
import statistics
import threading
import time
import traceback
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from perfbench.trace import SparkAgg


@dataclass
class Step:
    """One timed unit of work. ``run`` returns the output ``check``
    inspects; ``check`` runs outside the timed region and returns a
    list of problems (empty = correct)."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]


@dataclass
class StepResult:
    name: str
    seconds: float
    ok: bool


@dataclass
class Measurement:
    passes: list[list[StepResult]] = field(default_factory=list)
    pass_peak_rss: list[int] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)

    @property
    def steps(self) -> list[StepResult]:
        return [s for p in self.passes for s in p]

    @property
    def pass_walls(self) -> list[float]:
        return [sum(s.seconds for s in p) for p in self.passes]

    @property
    def wall_s(self) -> float:
        """Median wall time of one pass over the workload's steps."""
        return statistics.median(self.pass_walls)

    @property
    def peak_rss_mb(self) -> float:
        """Median over passes of the peak resident memory in the pass."""
        return statistics.median(self.pass_peak_rss) / (1 << 20)

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.steps)


def between_steps(spark) -> None:
    """Per-step isolation, as bench.py does: drop cached frames, let
    the driver release dropped checkpoints, and collect the JVM heap,
    so one step's garbage is not billed to the next."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_step(step: Step, tracer, problems: list[str]) -> StepResult:
    t0 = time.perf_counter()
    try:
        with tracer.span(step.name):
            out = step.run()
        ok = True
    except Exception:  # a failed step is counted, never fatal
        problems.append(f"{step.name}: raised\n{traceback.format_exc()}")
        ok = False
    dt = time.perf_counter() - t0
    if ok:
        found = step.check(out)
        problems.extend(found)
        ok = not found
    return StepResult(step.name, dt, ok)


def measure(
    spark, steps_of: Callable[[], Iterable[Step]], seconds: float, tracer, rss: "PeakRss"
) -> Measurement:
    """Run whole passes until the timed steps add up to ``seconds``
    (at least one pass). Checks and isolation between steps are not
    timed."""
    m = Measurement()
    timed = 0.0
    while timed < seconds or not m.passes:
        results = []
        rss.take()
        for step in steps_of():
            results.append(run_step(step, tracer, m.problems))
            between_steps(spark)
        m.pass_peak_rss.append(rss.take())
        m.passes.append(results)
        timed += sum(r.seconds for r in results)
    return m


# --- peak resident memory -------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the JVM the
    driver launched and the JVM's Python workers)."""
    ppid: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    kids: dict[int, list[int]] = {}
    for pid, pp in ppid.items():
        kids.setdefault(pp, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory every ``interval``
    seconds on a daemon thread; ``take`` returns the largest sum seen
    since the previous ``take``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss(me)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def take(self) -> int:
        rss = _tree_rss(os.getpid())
        with self._lock:
            peak, self.peak = max(self.peak, rss), 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- span summaries --------------------------------------------------------


class Spans:
    """Read-only view of the timed region's spans."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.spans = tracer.spans
        self.selfs = tracer.self_times()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median_duration(self, name: str) -> float:
        durs = [s["end"] - s["start"] for s in self.named(name)]
        return statistics.median(durs) if durs else 0.0

    def subtree_agg(self, sid: int, spark_by_span) -> SparkAgg:
        total = SparkAgg()
        for d in self.tracer.descendants(sid):
            if d in spark_by_span:
                total.add(spark_by_span[d])
        return total

    def median_jobs(self, name: str, spark_by_span) -> float:
        jobs = [self.subtree_agg(s["id"], spark_by_span).jobs for s in self.named(name)]
        return statistics.median(jobs) if jobs else 0.0
