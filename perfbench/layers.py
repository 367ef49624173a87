"""The traced half of a ``--trace 1`` run: per-layer metrics.

Per-pass figures are averages over the traced window's passes. A layer
or query that the workload does not run reads 0.
"""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import urlparse

import kernels
import workloads
from tracing import EventLog, Spans

PIPELINE_WORKLOAD = "spatial_scan"


def install_spans(spans: Spans) -> None:
    import __spark_entry__ as entry
    from geotiff_processor_spark.operators import dedup, par, textprep
    from geotiff_processor_spark.plans import lineage

    spans.install("par.spread", [par, entry, dedup, textprep], "spread")
    spans.install("lineage.checkpoint_write", [lineage], "checkpoint_write")
    spans.install("lineage.resume_filter", [lineage], "resume_filter")


def run_pipeline(bench, sf_dir: str, spans: Spans) -> dict:
    """``submit_pipeline.run`` into an empty directory, then again over
    its committed output; checks the committed stages and that the
    resume rewrote none of them."""
    import submit_pipeline
    from geotiff_processor_spark.sources import synth

    pages = synth.build_pages_staged(bench.spark, sf_dir, with_html=True)
    pages_path = os.path.dirname(urlparse(pages.inputFiles()[0]).path)
    out_dir = os.path.join(bench.work, "pipeline")
    before = dict(spans.seconds)
    sc = bench.spark.sparkContext
    times = {}
    listings = []
    for phase in ("fresh", "resume"):
        bench.attempted += 1
        sc.setJobGroup(f"pipeline:{phase}", phase)
        t0 = time.perf_counter()
        submit_pipeline.run(bench.spark, pages_path, out_dir)
        times[phase] = time.perf_counter() - t0
        listings.append(workloads.stage_listing(out_dir))
    sc.setJobGroup("perfbench:idle", "idle")
    bench.attempted += 3
    if listings[0] != listings[1]:
        bench.failures.append("pipeline: resume rewrote committed stages")
    bench.failures.extend(workloads.check_pipeline(
        bench.spark, out_dir, bench.con, bench.oracles))
    written = workloads.dir_bytes(out_dir)
    values = {
        "lineage.fresh_s": times["fresh"],
        "lineage.resume_s": times["resume"],
        "lineage.commit_s": spans.seconds["lineage.checkpoint_write"]
        - before.get("lineage.checkpoint_write", 0.0),
        "lineage.resume_filter_s": spans.seconds["lineage.resume_filter"]
        - before.get("lineage.resume_filter", 0.0),
        "lineage.bytes_written": written,
        "lineage.bytes_written_per_input_byte":
            written / workloads.dir_bytes(pages_path),
    }
    for stage in workloads.PIPELINE_STAGES:
        values[f"lineage.{stage}.bytes_written"] = (
            workloads.dir_bytes(os.path.join(out_dir, stage))
            + workloads.dir_bytes(os.path.join(out_dir, f"{stage}__done")))
    shutil.rmtree(out_dir, ignore_errors=True)
    return {k: (values[k], u) for k, (_, u) in pipeline_metrics().items()}


def pipeline_metrics() -> dict[str, tuple[float, str]]:
    """The pipeline's metric names and units, all 0: what a workload
    that does not run the pipeline reports."""
    units = {"lineage.fresh_s": "s", "lineage.resume_s": "s",
             "lineage.commit_s": "s", "lineage.resume_filter_s": "s",
             "lineage.bytes_written": "bytes",
             "lineage.bytes_written_per_input_byte": "ratio"}
    units.update({f"lineage.{s}.bytes_written": "bytes"
                  for s in workloads.PIPELINE_STAGES})
    return {k: (0.0, u) for k, u in units.items()}


def traced(bench, sf_dir: str, untraced_pass_s: float,
           stage_s: float) -> dict:
    """Restart with the event log on, run the traced window (and the
    pipeline on ``spatial_scan``), time the codec kernels, and turn it
    all into per-layer metrics."""
    from run import pass_seconds, query_median

    log_dir = os.path.join(bench.work, "events")
    bench.restart_with_event_log(log_dir)
    spans = Spans()
    install_spans(spans)
    try:
        passes = bench.window(sf_dir, "trace")
        spread = (spans.calls["par.spread"], spans.seconds["par.spread"])
        if bench.wl.name == PIPELINE_WORKLOAD:
            pipeline = run_pipeline(bench, sf_dir, spans)
        else:
            pipeline = pipeline_metrics()
    finally:
        spans.uninstall()
    per_1k = kernels.decode_seconds_per_1k(bench.spark, sf_dir,
                                           bench.wl.staged)
    bench.spark.stop()  # flushes and closes the event log
    ev = EventLog.from_dir(log_dir)

    n = len(passes)
    traced_pass_s = pass_seconds(bench.wl, passes)

    def groups(kinds: tuple[str, ...]) -> list[int]:
        return ev.group_jobs(f"trace{p}:{kind}:{q}" for p in range(n)
                             for q in bench.wl.queries for kind in kinds)

    eager_jobs = groups(("plan",))
    exec_jobs = groups(("exec",))
    tot = ev.totals(eager_jobs + exec_jobs)
    exec_tot = ev.totals(exec_jobs)
    driver_only = 0.0
    for p, record in enumerate(passes):
        for q, t in record.items():
            jobs = ev.group_jobs([f"trace{p}:plan:{q}", f"trace{p}:exec:{q}"])
            driver_only += (t["end"] - t["start"]) - ev.busy_seconds(
                jobs, t["start"], t["end"])

    def per_pass(key: str) -> float:
        return sum(t[key] for r in passes for t in r.values()) / n

    m = {
        "entry.plan_build_s": (per_pass("plan_s"), "s"),
        "entry.eager_jobs": (len(eager_jobs) / n, "count"),
        "spark.exec_s": (per_pass("exec_s"), "s"),
        "spark.jobs": (len(exec_jobs) / n, "count"),
        "spark.stages": (exec_tot["stages"] / n, "count"),
        "spark.tasks": (exec_tot["tasks"] / n, "count"),
        "spark.executor_run_s": (tot["run_s"] / n, "s"),
        "spark.executor_cpu_s": (tot["cpu_s"] / n, "s"),
        "spark.gc_s": (tot["gc_s"] / n, "s"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "bytes"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n, "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"] / n, "bytes"),
        "spark.driver_only_s": (driver_only / n, "s"),
        "python.worker_boot_s": (tot["worker_boot"] / n, "s"),
        "python.worker_init_s": (tot["worker_init"] / n, "s"),
        "python.worker_run_s": (tot["worker_run"] / n, "s"),
        "python.bytes_to_python": (tot["bytes_to_python"] / n, "bytes"),
        "python.bytes_from_python": (tot["bytes_from_python"] / n, "bytes"),
        "par.spread_calls": (spread[0] / n, "count"),
        "par.spread_probe_s": (spread[1] / n, "s"),
        "sources.stage_s": (stage_s, "s"),
    }
    m.update({f"functions.{c}.decode_s_per_1k": (v, "s")
              for c, v in per_1k.items()})
    m.update(pipeline)
    for q in workloads.ALL_QUERIES:
        for key in ("plan_s", "exec_s"):
            m[f"query.{q}.{key}"] = (query_median(passes, q, key), "s")
    m.update({
        "trace.untraced_pass_s": (untraced_pass_s, "s"),
        "trace.traced_pass_s": (traced_pass_s, "s"),
        "trace.overhead_s": (traced_pass_s - untraced_pass_s, "s"),
    })
    return m

