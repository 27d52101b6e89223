"""Per-layer metrics of the traced run.

Every metric is reported on every workload; a layer that does not run
on a workload reports 0 there. Totals are given per timed operation
unit: per crawl round, per extraction job, per suite pass.
"""

from __future__ import annotations

from .tracing import sum_groups
from .workloads import CURATE_SHAPE

PLAN_QUERIES = CURATE_SHAPE["queries"]
STATE_TABLES = ("metrics", "seen", "shards", "host_state", "frontier")

PER_LAYER = (
    "session.start_s",
    "sources.gen_s",
    "crawl.frontier.probe_s",
    "crawl.frontier.candidates",
    "crawl.frontier.sketch_positive_ratio",
    "crawl.frontier.sketch_bytes",
    "crawl.frontier.py_bytes_sent",
    "crawl.frontier.py_bytes_returned",
    "crawl.politeness.scheduled",
    "crawl.rounds.fetch_log_s",
    "crawl.rounds.fetch_log_shuffle_bytes",
    "crawl.rounds.results_s",
    "crawl.rounds.state_writes_s",
    "crawl.rounds.state_writes_sum_s",
    "crawl.rounds.state_writes_overlap",
    "crawl.rounds.frontier_write_s",
    "crawl.rounds.seen_write_s",
    "crawl.rounds.shards_write_s",
    "crawl.rounds.frontier_bytes",
    "crawl.rounds.seen_bytes",
    "crawl.rounds.ckpt_bytes_per_url",
    "crawl.rounds.jobs_per_round",
    "functions.udfs.py_bytes_sent",
    "functions.udfs.py_bytes_returned",
    "functions.udfs.py_run_s",
    "functions.udfs.py_worker_start_s",
    "functions.udfs.rows",
    "functions.udfs.out_bytes_per_page",
    "html.parse_us",
    "html.clean_us",
    "html.markdown_us",
    "html.extract_us",
    *(f"plans.{q}.wall_s" for q in PLAN_QUERIES),
    "spark.codegen_compiles",
    "spark.codegen_compile_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.busy_share",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes",
    "spark.jobs",
    "spark.tasks",
    "trace.op_p50_s",
    "trace.pass_wall_s",
)

#: job groups whose Python crossing is the extraction UDF
UDF_GROUPS = {
    "crawl_frontier": "crawl.rounds.write.results",
    "extract_corpus": "functions.udfs.extract",
    "curate_suite": "plans.q50_extract_pages",
}


def _timed_group(name: str) -> bool:
    return bool(name) and name != "setup" and not name.startswith("trace.")


def layer_metrics(workload, ctx, m, groups, html, cores, e2e) -> dict[str, float]:
    """All :data:`PER_LAYER` metrics for one traced run.

    ``groups`` is :func:`tracing.reduce_event_log` output, ``html`` the
    :func:`html_layer.time_html_layer` result, ``e2e`` the run's own
    end-to-end metrics (measured with tracing on)."""
    tracer = ctx.tracer
    units = max(1, len({s.op for s in tracer.spans if s.op >= 0}))
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = ctx.setup["session_s"]
    out["sources.gen_s"] = ctx.setup["gen_s"]
    out.update(html)
    out.update({k: v for k, v in m.layer.items() if k in out})

    def walls(name):
        return sum(s.wall for s in tracer.select(name)) / units

    if workload == "crawl_frontier":
        probes = tracer.select("crawl.frontier.probe")
        cand = sum(s.attrs.get("candidates", 0) for s in probes)
        susp = sum(s.attrs.get("suspects", 0) for s in probes)
        probe_g = groups.get("crawl.frontier.probe", {})
        out["crawl.frontier.probe_s"] = walls("crawl.frontier.probe")
        out["crawl.frontier.candidates"] = cand / units
        out["crawl.frontier.sketch_positive_ratio"] = susp / cand if cand else 0.0
        out["crawl.frontier.sketch_bytes"] = sum(s.attrs.get("sketch_bytes") or 0 for s in probes) / units
        out["crawl.frontier.py_bytes_sent"] = probe_g.get("py_bytes_sent", 0) / units
        out["crawl.frontier.py_bytes_returned"] = probe_g.get("py_bytes_returned", 0) / units
        out["crawl.politeness.scheduled"] = sum(m.op_items) / units
        out["crawl.rounds.fetch_log_s"] = walls("crawl.politeness.schedule") + walls(
            "crawl.rounds.write.fetch_log"
        )
        out["crawl.rounds.fetch_log_shuffle_bytes"] = groups.get(
            "crawl.rounds.write.fetch_log", {}
        ).get("shuffle_write_bytes", 0) / units
        out["crawl.rounds.results_s"] = walls("crawl.rounds.write.results")
        pool, total = 0.0, 0.0
        for op in sorted({s.op for s in tracer.spans if s.op >= 0}):
            writes = [
                s for t in STATE_TABLES for s in tracer.select(f"crawl.rounds.write.{t}")
                if s.op == op
            ]
            if writes:
                pool += max(s.end for s in writes) - min(s.start for s in writes)
                total += sum(s.wall for s in writes)
        out["crawl.rounds.state_writes_s"] = pool / units
        out["crawl.rounds.state_writes_sum_s"] = total / units
        out["crawl.rounds.state_writes_overlap"] = total / pool if pool else 0.0
        for t in ("frontier", "seen", "shards"):
            out[f"crawl.rounds.{t}_write_s"] = walls(f"crawl.rounds.write.{t}")
        crawl_jobs = sum_groups(groups, lambda g: g.startswith("crawl."))
        out["crawl.rounds.jobs_per_round"] = crawl_jobs.get("jobs", 0) / units

    udf = groups.get(UDF_GROUPS[workload], {})
    out["functions.udfs.py_bytes_sent"] = udf.get("py_bytes_sent", 0) / units
    out["functions.udfs.py_bytes_returned"] = udf.get("py_bytes_returned", 0) / units
    out["functions.udfs.py_run_s"] = udf.get("py_run_ms", 0) / 1e3 / units
    out["functions.udfs.py_worker_start_s"] = udf.get("py_worker_start_ms", 0) / 1e3 / units

    spark = sum_groups(groups, _timed_group)
    (n0, t0), (n1, t1) = ctx.codegen
    out["spark.codegen_compiles"] = (n1 - n0) / units
    out["spark.codegen_compile_s"] = (t1 - t0) / units
    out["spark.executor_run_s"] = spark.get("executor_run_ms", 0) / 1e3 / units
    out["spark.executor_cpu_s"] = spark.get("executor_cpu_ns", 0) / 1e9 / units
    out["spark.busy_share"] = (
        spark.get("executor_run_ms", 0) / 1e3 / (ctx.timed_wall * cores) if ctx.timed_wall else 0.0
    )
    out["spark.gc_s"] = spark.get("gc_ms", 0) / 1e3 / units
    out["spark.shuffle_write_bytes"] = spark.get("shuffle_write_bytes", 0) / units
    out["spark.shuffle_fetch_wait_s"] = spark.get("fetch_wait_ms", 0) / 1e3 / units
    out["spark.spill_bytes"] = spark.get("spill_bytes", 0) / units
    out["spark.jobs"] = spark.get("jobs", 0) / units
    out["spark.tasks"] = spark.get("tasks", 0) / units
    out["trace.op_p50_s"] = e2e["op_p50_s"]
    out["trace.pass_wall_s"] = e2e["pass_wall_s"]
    return out
