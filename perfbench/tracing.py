"""Tracing for the benchmark's traced run, plus process-level probes.

- :class:`Tracer` records spans and tags every Spark job submitted
  inside a span with the span's name as its job group. Job groups are
  thread-local in PySpark's pinned-thread mode, so a span opened inside
  a write-pool thread tags that thread's jobs.
- :func:`instrument_crawl` wraps the names ``run_round`` looks up in
  ``web_scraper_spark.crawl.rounds`` (``probe_seen``, ``schedule_round``,
  ``_write``) for the duration of a ``with`` block. ``extract_pages``
  only builds a plan; the extraction runs inside the ``results`` write
  and is attributed through the ``_write`` wrapper. Nothing inside
  ``web_scraper_spark`` is edited.
- :func:`reduce_event_log` folds a Spark event log (written with
  ``spark.eventLog.enabled``) into per-job-group totals.
- :func:`codegen_counters`, :func:`tree_peak_rss_mb` and
  :func:`dir_bytes` read the JVM's codegen counters, the peak RSS of
  this process tree and the bytes under a directory.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory plus job-group tagging.

    ``op`` is the index of the timed operation the benchmark is running
    (a crawl round, an extraction job, a suite pass); spans record it so
    totals can be reported per operation. Only the driver thread sets
    it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op = -1
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        op = self.op
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(Span(name, t0, t1, op, attrs))

    def select(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name == name and s.op >= 0]


def _patched(module, name: str, wrapper):
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    return orig


@contextlib.contextmanager
def instrument_crawl(tracer: Tracer):
    """Wrap ``crawl.rounds``' phase calls with spans and job groups.

    ``probe_seen`` additionally records the candidate count, the
    sketch-positive count (both read from the probe's own cached output)
    and the broadcast sketch bytes; those extra jobs run under the
    ``trace.`` group, which no layer metric counts."""
    from pyspark.sql import functions as F

    from web_scraper_spark.crawl import rounds

    def wrap_probe(orig):
        def probe_seen(candidates, seen_shards, seen_exact, n_shards, **kw):
            caches = kw.get("unpersist_into")
            n_before = len(caches) if caches is not None else 0
            with tracer.span("crawl.frontier.probe") as attrs:
                out = orig(candidates, seen_shards, seen_exact, n_shards, **kw)
            if caches is not None and len(caches) > n_before:
                with tracer.span("trace.probe_counts"):
                    flags = dict(caches[-1].groupBy("_maybe_seen").count().collect())
                    attrs["candidates"] = sum(flags.values())
                    attrs["suspects"] = flags.get(True, 0)
                    attrs["sketch_bytes"] = seen_shards.agg(
                        F.sum(F.length("sketch"))
                    ).collect()[0][0]
            return out

        return probe_seen

    def wrap_schedule(orig):
        def schedule_round(*a, **kw):
            with tracer.span("crawl.politeness.schedule"):
                return orig(*a, **kw)

        return schedule_round

    def wrap_write(orig):
        def _write(df, path, coalesce=None):
            with tracer.span(f"crawl.rounds.write.{os.path.basename(path)}"):
                return orig(df, path, coalesce)

        return _write

    saved = {
        "probe_seen": _patched(rounds, "probe_seen", wrap_probe),
        "schedule_round": _patched(rounds, "schedule_round", wrap_schedule),
        "_write": _patched(rounds, "_write", wrap_write),
    }
    try:
        yield
    finally:
        for name, orig in saved.items():
            setattr(rounds, name, orig)


# ---------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------

#: task-end accumulables (SQL metrics) summed per job group
PY_ACCUMULABLES = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_worker_start_ms",
}


def event_log_files(log_dir: str) -> list[str]:
    """The parts of the (rolling, Spark 4 default) event log under
    ``log_dir``, in order."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


def reduce_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Per job group totals: ``jobs``, ``tasks``, executor run/CPU/GC
    time, shuffle bytes written, fetch wait, disk spill and the Python
    worker SQL metrics. Stages are attributed to the group of the first
    job that lists them; jobs without a group fall under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    g["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    g["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    g["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
                    g["gc_ms"] += tm.get("JVM GC Time", 0)
                    g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_ACCUMULABLES.get(acc.get("Name"))
                        if key is not None and acc.get("Update") is not None:
                            g[key] += int(acc["Update"])
    return {k: dict(v) for k, v in out.items()}


def sum_groups(groups: dict[str, dict[str, float]], pred) -> dict[str, float]:
    """Add up the totals of every group whose name satisfies ``pred``."""
    acc: dict[str, float] = defaultdict(float)
    for name, totals in groups.items():
        if pred(name):
            for k, v in totals.items():
                acc[k] += v
    return acc


# ---------------------------------------------------------------------
# Process and JVM probes
# ---------------------------------------------------------------------

def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling) since JVM start."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9


def _proc_status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of VmHWM over ``root_pid`` (default: this process) and all
    its descendants: the driver, the JVM and the Python workers."""
    root_pid = os.getpid() if root_pid is None else root_pid
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _proc_status(int(entry)).get("PPid")
            if ppid is not None:
                children[int(ppid)].append(int(entry))
    total_kb, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        hwm = _proc_status(pid).get("VmHWM", "0 kB").split()[0]
        total_kb += int(hwm)
        stack.extend(children.get(pid, []))
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            fp = os.path.join(root, name)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total
