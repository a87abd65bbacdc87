"""One benchmark run: pin the deployment, start the session, set up,
measure, check, stop every process, and assemble the result."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

from . import cache, host, metrics
from .checks import Verdict
from .eventlog import SPAN_PROPERTY, parse_file
from .spans import Patcher, SpanRecorder
from .workloads import PACKAGE, WORKLOADS, Context, install_tracing

SETUP_REPEATS = 3
# a run must end within 180 s; past this, the watchdog ends it
RUN_LIMIT_S = 170


class Tracer:
    """Span recorder plus the patches that feed it. ``enable(False)``
    takes the patches out and stops tagging jobs, so the same process
    can time an operation untraced."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.rec = SpanRecorder(run_id, on_switch=self._tag)
        self.patcher = Patcher(PACKAGE)
        self.on = False
        self.enable(True)

    def _tag(self, span_id: int | None) -> None:
        self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    def enable(self, on: bool) -> None:
        if on and not self.on:
            install_tracing(self.patcher, self.rec)
        elif not on and self.on:
            self.patcher.restore()
        self.on = on

    def span(self, name: str):
        return self.rec.span(name)


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    t_start = time.perf_counter()
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    state_dir = os.path.join(root, ".perfbench")
    work = os.path.join(state_dir, "work", run_id)
    os.makedirs(work, exist_ok=True)
    os.makedirs(os.path.join(state_dir, "results"), exist_ok=True)
    try:
        with host.Watchdog(RUN_LIMIT_S) as watchdog:
            return _run(workload, seed, seconds, trace, root, run_id, work, state_dir, t_start, watchdog)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload, seed, seconds, trace, root, run_id, work, state_dir, t_start, watchdog) -> dict:
    pinned = host.pin_environment(root, work)
    record: dict = {
        "run_id": run_id, "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "env": pinned,
        "host": {
            "nproc": host.nproc(), "mem_total_mb": host.mem_total_mb(),
            "loadavg_before": host.loadavg(), "git_head": host.git_head(root),
            "source_sha256": host.source_digest(root, PACKAGE),
        },
    }
    steal0 = host.steal_ticks()
    cls = WORKLOADS[workload]
    conf = {**cache.spark_conf(os.environ["TMPDIR"]), **cls.session_conf}
    eventlog_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    verdict = Verdict()
    import pyspark

    from kbase_cdm_ontologies_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    try:
        session_s = time.perf_counter() - t_start
        record["host"]["pyspark"] = pyspark.__version__
        record["host"]["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        ctx = Context(spark, root, work, os.path.join(state_dir, "cache"), seed, seconds)
        wl = cls(ctx)
        # one-time inputs, outside setup_s and the run's time limit (a
        # child process builds them, with its own limit)
        with watchdog.paused():
            wl.ensure_inputs()
        preps = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            preps.append(time.perf_counter() - t)
        # once, after the set-ups and counted whole
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + metrics.median(preps) + warm_s
        tracer = ctx.tracer = Tracer(spark, run_id) if trace else None
        # memory of the measured operations, not of set-up or the checks
        # (DuckDB runs in this process)
        cpu0, split0 = host.tree_cpu_s(), host.tree_cpu_split()
        with host.PeakRss() as rss:
            wl.measure()
        cpu_split = {k: v - split0[k] for k, v in host.tree_cpu_split().items()}
        # threads and processes that ended inside the window are no
        # longer listed, but their time is in the tree's total
        cpu_split["ended"] = host.tree_cpu_s() - cpu0 - sum(cpu_split.values())
        if tracer:
            tracer.enable(False)
        wl.check(verdict)
    finally:
        spark.stop()
        host.stop_jvm()
    record["host"]["loadavg_after"] = host.loadavg()
    record["host"]["steal_ticks"] = host.steal_ticks() - steal0
    record["detail"] = {"total_s": wl.total_s, "total_cpu_s": wl.total_cpu_s, **wl.detail()}
    record["setup"] = {"session_s": session_s, "prepare_s": preps, "warm_up_s": warm_s}
    record["detail"]["measure_cpu_split_s"] = cpu_split
    record["detail"]["peak_rss_mb"] = rss.peak_mb
    record["detail"]["peak_rss_split_mb"] = rss.at_peak
    record["problems"] = verdict.problems
    for p in verdict.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    if trace:
        values = _traced_values(wl, tracer, eventlog_dir, state_dir, run_id)
        values.update({f"memory.{k}.peak_rss_mb": v for k, v in rss.part_peaks.items()})
        units = metrics.PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "total_cpu_s": wl.total_cpu_s,
            "success_ratio": verdict.success_ratio,
        }
        units = metrics.END_TO_END
    line = metrics.result_line(verdict.correct, verdict.attempted, verdict.failed, values, units)
    record["result"] = line
    with open(os.path.join(state_dir, "results", run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in ("run_id", "host", "setup", "detail")}))
    return line


def _traced_values(wl, tracer, eventlog_dir, state_dir, run_id) -> dict[str, float]:
    (logfile,) = [f for f in os.listdir(eventlog_dir) if not f.startswith(".")]
    log = parse_file(os.path.join(eventlog_dir, logfile))
    spans = tracer.rec.spans
    tracer.rec.dump(os.path.join(state_dir, "results", run_id + ".spans.json"))
    values = {k: 0.0 for k in metrics.PER_LAYER}
    values.update(wl.layer_metrics(spans, log))
    values["trace_overhead_pct"] = wl.trace_overhead_pct()
    return values
