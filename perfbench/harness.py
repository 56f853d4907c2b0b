"""Shared benchmark harness: set-ups, the closed timed loop, end-to-end
metrics, the run record and the traced-run bookkeeping. Workloads
subclass :class:`Bench`."""

from __future__ import annotations

import multiprocessing as mp
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

import pyspark
from pyspark import SparkContext

import tracing
from pero_ocr_api_spark.session import get_spark, stop_spark

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS_ROOT = os.path.join(ROOT, ".perfbench_spans")
SETUP_REPS = 3  # setup_s is the median of this many set-ups; the first is cold
# The host's CPU capacity is not steady: on a shared 4-vCPU VM a fixed
# pure-Python probe (tracing.cpu_probe_s) took 0.055 s for stretches of
# many minutes and 0.10-0.14 s for others, and job walls, set-ups and
# cold starts grew 2-2.7 times with it, with no steal reported. So the
# probe runs before and after every set-up and timed job, and end-to-end
# times are given at a reference host speed: each measured time x
# REF_PROBE_S / the mean of the two probes around it. The run record
# keeps the measured times and the probes.
REF_PROBE_S = 0.055


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    """Materialize every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """Set-ups, the closed timed loop, end-to-end metrics and the run
    record; subclasses supply inputs, one job and the traced job."""

    # job groups whose event-log stages count towards spark.*
    traced_groups: set[str] = set()

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.jobs: list[dict] = []
        self.setups: list[dict] = []
        self.failed = 0
        self.attempted = 0
        self.correct = True
        self.tracer = tracing.Tracer()

    # -- to override ----------------------------------------------------------

    def stage(self) -> None:
        """Build the inputs and the expected output, before any JVM runs."""
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def warmup(self, rep: int) -> None:
        raise NotImplementedError

    def job(self, i: int) -> dict:
        """Job ``i`` of the timed loop; returns at least ``wall_s``."""
        raise NotImplementedError

    def trace_layers(self) -> dict:
        """Run the traced job; returns at least ``trace.job_wall_s``."""
        raise NotImplementedError

    def event_log_layers(self, stats: dict) -> dict:
        return {}

    def input_record(self) -> dict:
        raise NotImplementedError

    def docs(self) -> int:
        """Documents one job processes."""
        raise NotImplementedError

    # -- shared ---------------------------------------------------------------

    def record_ops(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.correct = False
            print(f"perfbench: {failed} {what} differ from the oracle", file=sys.stderr)

    def setup(self, rep: int, event_log: bool = False) -> dict:
        """One set-up: start a session, load the staged input into cache,
        run one warm-up job. Set-up 0 is a cold start, so its session
        start includes launching the JVM; the others restart the session
        inside that JVM."""
        cold = SparkContext._gateway is None
        stop_spark()
        conf = None
        if event_log:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one JSON file
            }
        tr = self.tracer
        with tr.span("setup") as root:
            with tr.span("session.get_spark") as s_sess:
                self.spark = get_spark(cores=self.cores, extra_conf=conf)
            with tr.span("sources.load") as s_load:
                self.load()
            with tr.span("setup.warmup"):
                self.warmup(rep)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return {
            "cold": cold,
            "setup_s": root["end"] - root["start"],
            "session_s": s_sess["end"] - s_sess["start"],
            "load_s": s_load["end"] - s_load["start"],
        }

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def run(self) -> tuple[dict, dict]:
        ticks0 = tracing.cpu_ticks()
        t0 = time.perf_counter()
        self.stage()
        self.stage_s = time.perf_counter() - t0
        with mp.get_context("spawn").Pool(self.cores) as pool:

            def timed(step, before: float) -> tuple[dict, float]:
                """Run one step; scale its time to the reference speed."""
                rec = step()
                after = tracing.cpu_probe_s(pool, self.cores)
                key = "setup_s" if "setup_s" in rec else "wall_s"
                rec["probe_s"] = (before + after) / 2
                rec["ref_" + key] = rec[key] * REF_PROBE_S / rec["probe_s"]
                return rec, after

            probe = tracing.cpu_probe_s(pool, self.cores)
            for rep in range(SETUP_REPS):
                rec, probe = timed(lambda: self.setup(rep), probe)
                self.setups.append(rec)
            # the set-ups' warm-up jobs are the only warm-up: JIT
            # compilation can still slow the first timed job by up to a
            # quarter, and the median over the timed jobs absorbs part
            # of that; an untimed full job would lengthen every run by
            # one job
            while sum(j["wall_s"] for j in self.jobs) < self.args.seconds:
                rec, probe = timed(lambda: self.job(len(self.jobs)), probe)
                self.jobs.append(rec)
        # the JVM (whole life) plus the Python workers of the last session
        self.peak_rss_mb = tracing.tree_high_water(self.jvm_pid) / 2**20
        wall = median([j["ref_wall_s"] for j in self.jobs])
        metrics = {
            "setup_s": median([s["ref_setup_s"] for s in self.setups]),
            "wall_s": wall,
            "docs_per_s": self.docs() / wall,
            "ops_ok_frac": 1.0 - self.failed / self.attempted,
        }
        record = self.run_record()
        if self.args.trace:
            metrics = self.trace_metrics()
        record["steal"] = tracing.steal_frac(ticks0, tracing.cpu_ticks())
        return metrics, record

    def run_record(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": self.cores,
            "mem_total_kb": mem_total_kb(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "input": self.input_record(),
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "spark.local.dir": conf.get("spark.local.dir", None),
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "stage_s": self.stage_s,
            "peak_rss_mb": self.peak_rss_mb,
            "setups": self.setups,
            "jobs": [
                {k: v for k, v in j.items() if not isinstance(v, (list, dict))}
                for j in self.jobs
            ],
        }

    def trace_metrics(self) -> dict:
        """Per-layer metrics. The timed jobs above ran without the event
        log; the traced job runs after one more set-up, in a session with
        the event log on. ``trace.overhead_s`` is its wall minus that of
        the last timed job, the untraced job nearest to it in time and in
        how warm the JVM is."""
        m = {
            "session.start_s": median([s["session_s"] for s in self.setups]),
            "session.cold_start_s": self.setups[0]["session_s"],
            # the whole cold set-up, JVM launch included, at reference speed
            "setup.cold_start_s": self.setups[0]["ref_setup_s"],
            "sources.load_s": median([s["load_s"] for s in self.setups]),
            "mem.peak_rss_mb": self.peak_rss_mb,
        }
        self.setup(SETUP_REPS, event_log=True)
        self.tracer.spark = self.spark
        m.update(self.trace_layers())
        self.tracer.spark = None
        m["trace.overhead_s"] = m["trace.job_wall_s"] - self.jobs[-1]["wall_s"]
        app_id = self.spark.sparkContext.applicationId
        self.stop()  # flushes the event log
        stats = tracing.event_log_stats(os.path.join(self.work, "eventlog", app_id))
        m.update(self.event_log_layers(stats))
        traced = [v for g, v in stats.items() if g in self.traced_groups]
        m["spark.jobs"] = sum(v["jobs"] for v in traced)
        m["spark.tasks"] = sum(v["tasks"] for v in traced)
        m["spark.failed_tasks"] = sum(v["failed_tasks"] for v in traced)
        m["spark.gc_s"] = sum(v["gc_s"] for v in traced)
        self.tracer.dump(
            os.path.join(SPANS_ROOT, f"{self.args.workload}-seed{self.args.seed}.json")
        )
        return m

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        gw = SparkContext._gateway
        try:
            stop_spark()
        except Exception:  # an interrupted py4j call can break the gateway
            print("perfbench: stopping the session failed:", file=sys.stderr)
            traceback.print_exc()
        self.spark = None
        if gw is None:
            return
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = gw.proc
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
