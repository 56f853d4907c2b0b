"""Measurement helpers that look at the program from outside.

* :class:`Tracer` — in-memory spans (name, start, end, parent) recorded
  around the benchmark's calls into the program; each span also names
  the Spark job group, so event-log stages map back to spans.
* :func:`event_log_stats` — per-job-group task counts, failed tasks,
  GC time and shuffle bytes from a Spark JSON event log.
* :func:`plan_nodes` — every physical node of an executed plan,
  descending into AQE stages and cached relations.
* :func:`tree_high_water` — peak resident memory of the JVM plus its
  Python workers, from the kernel's per-process high-water marks;
  :func:`children_by_ppid` — the process tree it walks.
* :func:`cpu_probe_s`, :func:`cpu_ticks`, :func:`meminfo_mb` — host
  state recorded beside every run and job.
* :func:`replay_kernel` — single-process replay of media rows through
  the OCR stages, timed per stage.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spark = None  # set to a session to tag its jobs with span names
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.spark is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else "untraced"
                self.spark.sparkContext.setJobGroup(outer, outer)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def event_log_stats(path: str) -> dict[str, dict[str, float]]:
    """job group -> {jobs, tasks, failed_tasks, gc_s, shuffle_bytes}, from
    the uncompressed JSON event log of one application."""
    stage_group: dict[int, str] = {}
    stats: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return stats.setdefault(
            group,
            {"jobs": 0, "tasks": 0, "failed_tasks": 0, "gc_s": 0.0, "shuffle_bytes": 0},
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                bucket(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev.get("Stage ID"), "untraced"))
                b["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    b["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                b["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return stats


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(plan) -> list:
    """Flatten a py4j SparkPlan, looking through AQE wrappers, query
    stages, reused exchanges and cached relations."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        out.append(node)
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name.startswith("InMemoryTableScan"):
            todo.append(node.relation().cachedPlan())
        todo.extend(_seq(node.children()))
    return out


def output_names(node) -> set[str]:
    return {a.name() for a in _seq(node.output())}


def children_by_ppid() -> dict[int, list[int]]:
    """parent pid -> pids of its live children, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    return children


def tree_high_water(pid: int) -> int:
    """Sum of the kernel's per-process RSS high-water marks (VmHWM), in
    bytes, over process ``pid`` and all of its live descendants."""
    children = children_by_ppid()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
        todo.extend(children.get(p, ()))
    return total


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mgmt.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def meminfo_mb() -> dict[str, float]:
    """Page cache, dirty and writeback pages and swap in use, from
    /proc/meminfo, in MiB."""
    kb = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            kb[key] = int(val.split()[0])
    return {
        "cached_mb": kb.get("Cached", 0) / 1024,
        "dirty_mb": (kb.get("Dirty", 0) + kb.get("Writeback", 0)) / 1024,
        "swap_mb": (kb.get("SwapTotal", 0) - kb.get("SwapFree", 0)) / 1024,
    }


def _spin(_) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return time.perf_counter() - t0


def cpu_probe_s(pool, procs: int, rounds: int = 2) -> float:
    """Median time of a fixed pure-Python loop run ``rounds`` times in
    each of the ``procs`` processes of ``pool`` at once: how fast the
    host runs CPU work right now, independent of the program."""
    return statistics.median(pool.map(_spin, range(procs * rounds), chunksize=rounds))


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def replay_kernel(rows: list[dict], page_counts: dict[str, int], seed: int, per_kind: int) -> dict:
    """Replay a seeded sample of media rows through decode, layout,
    exports and the whole kernel; per-page milliseconds per stage.

    ``page_counts`` (media_kind -> pages in the workload) weights the
    per-kind kernel cost into one per-page figure for the workload."""
    from pero_ocr_api_spark.ocr import exports, jpeg, kernel, layout, pdf, png

    cfg = kernel.DEFAULT_CONFIG
    rng = random.Random(seed)
    by_kind: dict[str, list[dict]] = {}
    for r in rows:
        by_kind.setdefault(r["media_kind"], []).append(r)
    acc = {k: {"decode_ms": 0.0, "kernel_ms": 0.0, "pages": 0} for k in by_kind}
    raster = {"layout_ms": 0.0, "exports_ms": 0.0, "pages": 0}
    for kind, krows in by_kind.items():
        sample = krows if len(krows) <= per_kind else rng.sample(krows, per_kind)
        for r in sample:
            data, ref = r["media_bytes"], r["media_ref"]
            t0 = time.perf_counter()
            try:
                if kind == "image/png":
                    grays = [png.decode_gray(data)]
                elif kind == "image/jpeg":
                    grays = [jpeg.decode_gray(data)]
                else:
                    try:
                        pdf.extract_text(data)
                        grays = []
                    except pdf.NoTextPdfError:
                        grays = pdf.extract_page_images(data)
            except ValueError:
                grays = []  # a corrupt page: decode cost only
            acc[kind]["decode_ms"] += _ms(t0)
            for gray in grays:
                t0 = time.perf_counter()
                blocks = layout.analyze_page(gray, int(cfg["scale"]))
                raster["layout_ms"] += _ms(t0)
                wh = (gray.shape[1], gray.shape[0])
                t0 = time.perf_counter()
                exports.to_alto_xml(
                    blocks, wh, ref, str(cfg["engine_name"]),
                    str(cfg["engine_version"]), float(cfg["min_confidence"]),
                )
                exports.to_page_xml(blocks, wh, ref)
                exports.to_txt(blocks)
                raster["exports_ms"] += _ms(t0)
                raster["pages"] += 1
            t0 = time.perf_counter()
            kernel.process_media(data, kind, ref, cfg)
            acc[kind]["kernel_ms"] += _ms(t0)
            acc[kind]["pages"] += 1

    def per_page(kind: str, key: str) -> float:
        a = acc.get(kind)
        return a[key] / a["pages"] if a and a["pages"] else 0.0

    weight = sum(page_counts.get(k, 0) for k in acc)
    kernel_ms = (
        sum(page_counts.get(k, 0) * per_page(k, "kernel_ms") for k in acc) / weight
        if weight else 0.0
    )
    return {
        "ocr.png.decode_ms_per_page": per_page("image/png", "decode_ms"),
        "ocr.jpeg.decode_ms_per_page": per_page("image/jpeg", "decode_ms"),
        "ocr.pdf.decode_ms_per_page": per_page("application/pdf", "decode_ms"),
        "ocr.layout.ms_per_page": raster["layout_ms"] / raster["pages"] if raster["pages"] else 0.0,
        "ocr.exports.ms_per_page": raster["exports_ms"] / raster["pages"] if raster["pages"] else 0.0,
        "ocr.kernel_ms_per_page": kernel_ms,
        "ocr.replay_pages": float(sum(a["pages"] for a in acc.values())),
    }
