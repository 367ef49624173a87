"""Closed-loop benchmark of the spark-graft engine, one client.

    python3 perfbench/run.py --workload spatial_scan --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. One driver process starts a session
through the engine's own factory (``session.get_spark``, local mode
with one task slot per CPU), generates the workload's tables from
``--seed`` (``gen.py``), fills the engine's staging caches, checks
every query once against its DuckDB oracle, then runs passes over the
workload's queries one at a time for ``--seconds`` seconds (at least
``MIN_PASSES`` passes). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same untraced window, then restarts the session with Spark's JSON
event log on, installs timing wrappers around engine functions
(``tracing.py``) and reports the per-layer metrics of a second window;
on ``spatial_scan`` it also runs ``scripts/submit_pipeline.run`` fresh
and then resumed. Everything the run writes stays under
``perfbench/.work`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_FILES = ("__spark_entry__.py", "geotiff_processor_spark/session.py",
                "scripts/submit_pipeline.py")
SETUP_REPS = 3
MIN_PASSES = 4
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, 1 to 8 GB: fixed per host, so
    that other tenants' use of memory does not change the heap."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{max(1, min(8, total_kb // (4 * 1024 * 1024)))}g"


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1024


def configure_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and put the engine
    on the driver's and the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    for path in (ROOT, os.path.join(ROOT, "scripts")):
        if path not in sys.path:
            sys.path.insert(0, path)


class Bench:
    def __init__(self, wl, seed: int, seconds: float, trace: bool,
                 work: str) -> None:
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        from geotiff_processor_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{host_cpus()}]",
                               driver_memory=driver_memory())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle
                           .current().pid())

    def restart_with_event_log(self, log_dir: str) -> None:
        """Stop the session and start another in the same JVM whose
        SparkConf picks the event-log settings up from system
        properties."""
        from pyspark import SparkContext

        self.spark.stop()
        os.makedirs(log_dir)
        system = SparkContext._jvm.java.lang.System
        for k, v in {**EVENT_LOG_CONF,
                     "spark.eventLog.dir": f"file://{log_dir}"}.items():
            system.setProperty(k, v)
        self.start_session()

    # -- set-up -------------------------------------------------------------

    def setup(self) -> tuple[str, float, float]:
        """Session start once, then input generation plus staging-cache
        fill ``SETUP_REPS`` times into fresh directories. Returns the
        last input directory, set-up seconds (session start plus the
        median repetition) and the median staging seconds."""
        import workloads

        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        reps, stages = [], []
        for r in range(SETUP_REPS):
            sf_dir = os.path.join(self.work, f"input{r}")
            t0 = time.perf_counter()
            workloads.generate(self.wl, sf_dir, self.seed)
            t1 = time.perf_counter()
            workloads.fill_staging(self.wl, self.spark, sf_dir)
            t2 = time.perf_counter()
            reps.append(t2 - t0)
            stages.append(t2 - t1)
        log(f"set-up: session {session_s:.2f}s, repetitions "
            + ", ".join(f"{s:.2f}s" for s in reps))
        return sf_dir, session_s + statistics.median(reps), \
            statistics.median(stages)

    # -- queries ------------------------------------------------------------

    def query(self, name: str, sf_dir: str, tag: str, collect: bool):
        """Build and run one query under job groups ``<tag>:plan:<name>``
        and ``<tag>:exec:<name>``. Returns (timing, rows or None), or
        None when it raised."""
        sc = self.spark.sparkContext
        self.attempted += 1
        try:
            t_start = time.time()
            t0 = time.perf_counter()
            sc.setJobGroup(f"{tag}:plan:{name}", name)
            df = self.queries[name](self.spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}:exec:{name}", name)
            rows = None
            if collect:
                rows = (df.columns, df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            self.failures.append(f"{name} raised")
            log(f"{name} raised:\n{traceback.format_exc()}")
            return None
        finally:
            sc.setJobGroup("perfbench:idle", "idle")
        timing = {"plan_s": t1 - t0, "exec_s": t2 - t1,
                  "start": t_start, "end": t_start + (t2 - t0)}
        return timing, rows

    def verify(self, sf_dir: str) -> None:
        """One untimed pass, compared with the oracles; also the
        warm-up of the timed window."""
        import workloads

        t0 = time.perf_counter()
        for name in self.wl.queries:
            out = self.query(name, sf_dir, "verify", collect=True)
            if out is None:
                continue
            cols, rows = out[1]
            self.attempted += 1  # the comparison itself
            t1 = time.perf_counter()
            exp_cols, exp_rows = workloads.expected(name, self.con,
                                                    self.oracles)
            diff = workloads.mismatch(cols, rows, exp_cols, exp_rows)
            log(f"verify {name}: query "
                f"{out[0]['plan_s'] + out[0]['exec_s']:.2f}s, check "
                f"{time.perf_counter() - t1:.2f}s, {len(rows)} rows")
            if diff:
                self.failures.append(f"{name}: {diff}")
                log(f"MISMATCH {name}: {diff}")
        log(f"verification pass {time.perf_counter() - t0:.2f}s, "
            f"{len(self.failures)} failures")

    def window(self, sf_dir: str, tag: str) -> list[dict]:
        """Passes over the workload's queries, one query at a time,
        until ``seconds`` have elapsed and at least ``MIN_PASSES`` ran."""
        passes = []
        deadline = time.perf_counter() + self.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            p = len(passes)
            record = {}
            tp = time.perf_counter()
            for name in self.wl.queries:
                out = self.query(name, sf_dir, f"{tag}{p}", collect=False)
                if out is None:
                    continue
                record[name] = out[0]
            passes.append(record)
            log(f"{tag}{p}: {time.perf_counter() - tp:.2f}s " + " ".join(
                f"{q}={t['plan_s']:.2f}+{t['exec_s']:.2f}"
                for q, t in record.items()))
        return passes

    # -- run ----------------------------------------------------------------

    def run(self) -> dict:
        import workloads

        sf_dir, setup_s, stage_s = self.setup()
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.con = workloads.duck_connection(sf_dir)
        self.verify(sf_dir)

        t0 = time.perf_counter()
        passes = self.window(sf_dir, "pass")
        log(f"timed window: {len(passes)} passes in "
            f"{time.perf_counter() - t0:.2f}s")
        pass_s = pass_seconds(self.wl, passes)
        rows = self.wl.n_events * len(self.wl.queries)
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (rows / pass_s, "1/s"),
            "peak_rss_mb": (vm_hwm_mb(self.jvm_pid) + vm_hwm_mb(), "MB"),
        }
        if self.trace:
            import layers

            metrics = layers.traced(self, sf_dir, pass_s, stage_s)
        self.spark.stop()
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }


def pass_seconds(wl, passes: list[dict]) -> float:
    """Wall time of one pass: the sum over queries of each query's
    median plan time plus its median execution time across passes."""
    return sum(query_median(passes, q, "plan_s") + query_median(
        passes, q, "exec_s") for q in wl.queries)


def query_median(passes: list[dict], query: str, key: str) -> float:
    values = [p[query][key] for p in passes if query in p]
    return statistics.median(values) if values else 0.0


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit
    (the Python workers are the JVM's children and stop with it)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Py4JError:  # the JVM is already going away
            log(f"stopping the session:\n{traceback.format_exc()}")
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        log(f"engine sources missing under {ROOT}: {missing}")
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    configure_env(work)
    bench = Bench(workloads.WORKLOADS[args.workload], args.seed,
                  args.seconds, bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may share it
                os.rmdir(os.path.dirname(work))
    for name, m in result["metrics"].items():
        print(f"{name:44s} {m['value']:.6g} {m['unit']}")
    print(f"failed {result['failed']} of {result['attempted']} attempted")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
