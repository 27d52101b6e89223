#!/usr/bin/env python3
"""Layered benchmark for crawl, extraction and curation.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 5 --trace 0

Runs one workload (``crawl_frontier``, ``extract_corpus`` or
``curate_suite``) on a ``local[4]`` session, checks its outputs and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run enables the Spark event log and the phase wrappers and reports
the per-layer metrics instead. ``--overhead`` runs the workload once
untraced and once traced and prints the tracing overhead per metric.

Must be run from the root of a source checkout; every file it writes
lives under ``.perfbench/`` there and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p85_s": "s",
    "items_per_s": "1/s",
    "pass_wall_s": "s",
    "peak_rss_mb": "MB",
    "disk_mb": "MB",
}


def _unit(name: str) -> str:
    """Unit of a per-layer metric, read off its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us"):
        return "us"
    if "bytes" in name:
        return "B"
    if name.endswith("ratio") or name.endswith("overlap") or name.endswith("share"):
        return "ratio"
    return "count"


def _p85(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=20, method="inclusive")[16]


def _start_session(work: str, trace: bool):
    from web_scraper_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # A fixed, pre-touched 1 GiB heap: the JVM's resident size does not
    # depend on when the collector chose to grow the heap.
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, record: bool, work: str,
        t_process: float) -> dict:
    from .tracing import Tracer, event_log_files, instrument_crawl, reduce_event_log, tree_peak_rss_mb
    from .workloads import EXTRACT_SHAPE, WORKLOADS, Ctx

    t0 = time.perf_counter()
    spark = _start_session(work, trace)
    ctx = Ctx(spark=spark, seed=seed, seconds=seconds, work=work, record=record)
    ctx.setup["session_s"] = time.perf_counter() - t0
    try:
        if trace:
            ctx.tracer = Tracer(spark.sparkContext)
        if trace and workload == "crawl_frontier":
            with instrument_crawl(ctx.tracer):
                m = WORKLOADS[workload](ctx)
        else:
            m = WORKLOADS[workload](ctx)
        rss = tree_peak_rss_mb()
    finally:
        _stop_session(spark)

    failed = min(m.failed, m.attempted)
    print(f"perfbench: {workload}: set-up {ctx.setup}, {len(m.op_walls)} ops in "
          f"{len(m.pass_walls)} passes, timed {ctx.timed_wall:.2f} s, op walls "
          f"{[round(w, 2) for w in m.op_walls]}", file=sys.stderr)
    for why in m.problems:
        print(f"perfbench: {workload}: {why}", file=sys.stderr)
    e2e = {
        "setup_s": ctx.t_timed - t_process,
        "op_p50_s": statistics.median(m.op_walls) if m.op_walls else 0.0,
        "op_p85_s": _p85(m.op_walls) if m.op_walls else 0.0,
        "items_per_s": (
            statistics.median(n / w for n, w in zip(m.op_items, m.op_walls)) if m.op_walls else 0.0
        ),
        "pass_wall_s": statistics.median(m.pass_walls) if m.pass_walls else 0.0,
        "peak_rss_mb": rss,
        "disk_mb": m.data_bytes / 1e6,
    }
    if trace:
        from .html_layer import time_html_layer
        from .layers import layer_metrics

        html = time_html_layer(seed, 200, universe=EXTRACT_SHAPE["pages"])
        groups = reduce_event_log(event_log_files(os.path.join(work, "eventlog")))
        values = layer_metrics(workload, ctx, m, groups, html, CORES, e2e)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {
        "correct": failed == 0 and m.attempted > 0,
        "attempted": max(1, m.attempted),
        "failed": failed if m.attempted else 1,
        "metrics": metrics,
    }


def overhead(args) -> dict:
    """Run untraced then traced; report traced/untraced - 1 for the
    end-to-end numbers the traced run also measures."""
    out = {}
    for trace in (0, 1):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
        res = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=ROOT)
        out[trace] = json.loads(res.stdout.strip().splitlines()[-1])["metrics"]
    return {
        name: out[1][f"trace.{name}"]["value"] / out[0][name]["value"] - 1.0
        for name in ("op_p50_s", "pass_wall_s")
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_frontier", "extract_corpus", "curate_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's outputs in perfbench/expected.json")
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced and traced, print the tracing overhead")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import web_scraper_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.overhead:
        print(json.dumps(overhead(args)))
        return 0

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    try:
        # run() uses package-relative imports: call it through the package
        from perfbench.run import run as run_workload

        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                              args.record, work, T_PROCESS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
