#!/usr/bin/env python3
"""Batch-extraction benchmark for pero_ocr_api_spark.

Run from the repository root:

    python3 perfbench/run.py --workload mixed_batch --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client: one batch job at a
time, the next submitted only after the previous one has finished, in
a ``local[nproc]`` session on the program's own session defaults (only
the core count is passed). Inputs are generated from ``--seed`` and
staged as parquet, and their expected output is computed with an
oracle, before any JVM starts. Then come three set-ups (the first
launches the JVM, the other two restart the session in it, and each
ends in a warm-up job) and the timed jobs; every timed job's output is
compared with the oracle's after the job.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` then starts
one more session, with the Spark event log on, and runs a traced job
(spans around each layer call, plan counters), a single-process
kernel replay and one traced pass of the query suite, and prints the
per-layer metrics. The last stdout line is always the JSON result;
the line before it is the run record (machine, versions, seed, host
state).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time
from multiprocessing import resource_tracker

import tracing  # stdlib only, so importable before _prepare_env

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PR_SET_CHILD_SUBREAPER = 36
CHILD_GRACE_S = 20  # how long children get to exit by themselves


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: a process
    that outlives its parent (a Python worker of the JVM, say) is then
    re-parented here, so the benchmark can wait for it to end."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        sys.exit(f"perfbench: prctl: {os.strerror(ctypes.get_errno())}")


def _end_children() -> None:
    """Wait for every child (and every adopted orphan) to end: first
    let them exit by themselves, then terminate, then kill them."""
    resource_tracker._resource_tracker._stop()  # the spawn pools' tracker
    deadline = time.monotonic() + CHILD_GRACE_S
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in tracing.children_by_ppid().get(os.getpid(), ()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _prepare_env(work: str) -> None:
    """Keep the benchmark's own files inside the checkout, and let the
    Python workers import the package from it. Spark's shuffle and
    spill files stay where the program's session defaults put them."""
    for sub in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


# workload factories import lazily: the workload modules import the
# package, which is importable only after _prepare_env
def _extract(kind: str, n_docs: int):
    def make(args, work):
        from extraction import ExtractBench

        return ExtractBench(args, work, kind, n_docs)

    return make


def _curate(args, work):
    from curate import CurateBench

    return CurateBench(args, work)


# n_docs: documents per job. The blob side of mixed_batch must stay
# above the 64 MiB autoBroadcastJoinThreshold (1300 docs: ~86 MB of PNG
# pages, ~78 MB planner estimate) so its media join is a sort-merge
# join; scan_batch (~4 MB) stays far below it, so its join broadcasts.
WORKLOADS = {
    "mixed_batch": _extract("mixed", 1300),
    "scan_batch": _extract("scan", 48),
    "curate_suite": _curate,
}


def _unit(name: str) -> str:
    units = {"docs_per_s": "1/s", "mem.peak_rss_mb": "MB", "ops_ok_frac": "frac"}
    if name in units:
        return units[name]
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("core_s"):
        return "core-s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_ms", "ms_per_page")):
        return "ms"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    _adopt_orphans()
    # a terminated run still stops its session and waits for its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _main(args)
    finally:
        _end_children()


def _main(args) -> None:
    for rel in ("pero_ocr_api_spark/session.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} is missing: run from a full checkout")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    bench = WORKLOADS[args.workload](args, work)
    try:
        metrics, record = bench.run()
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for name, value in metrics.items():
        print(f"{name:40s} {value:16.6f} {_unit(name)}")
    print(json.dumps({"run_record": record}))
    print(
        json.dumps(
            {
                "correct": bench.correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
