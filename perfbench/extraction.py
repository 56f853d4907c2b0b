"""mixed_batch and scan_batch: run_extract -> write_extracted -> lineage
over staged documents, checked document by document against the
single-process oracle."""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

import inputs
import tracing
from curate import QuerySuite
from harness import Bench, fail, median, noop
from pero_ocr_api_spark.plans import extract
from pero_ocr_api_spark.plans.io import write_extracted
from pero_ocr_api_spark.sources.tables import read_table

WARMUP_FRACTION = 0.125  # share of the documents the warm-up job extracts
REPLAY_PER_KIND = 16  # media rows per media_kind in the kernel replay
STATES = ("PROCESSED", "NOT_FOUND", "INVALID_FILE", "PROCESSING_FAILED")
# the layer functions run_extract calls, by their name in plans.extract,
# and the span each call is traced as
LAYERS = {
    "text_path": "functions.text_path",
    "media_path": "plans.extract.media_path",
    "restitch": "operators.restitch",
}


@contextmanager
def layer_spans(tracer):
    """Trace the layer calls ``run_extract`` makes, keeping its own
    composition: each layer function is wrapped so that its result is
    cached and materialized inside a span named after the layer.
    Yields span name -> (span, materialized DataFrame)."""
    saved = {name: getattr(extract, name) for name in LAYERS}
    calls: dict[str, tuple[dict, object]] = {}

    def wrap(fn, span_name):
        def traced(*args, **kwargs):
            with tracer.span(span_name) as span:
                res = fn(*args, **kwargs)
                df = (res[0] if isinstance(res, tuple) else res).cache()
                noop(df)
            calls[span_name] = (span, df)
            return (df, *res[1:]) if isinstance(res, tuple) else df

        return traced

    for name, span_name in LAYERS.items():
        setattr(extract, name, wrap(saved[name], span_name))
    try:
        yield calls
    finally:
        for name, fn in saved.items():
            setattr(extract, name, fn)
        for _, df in calls.values():
            df.unpersist()


class ExtractBench(Bench):
    """run_extract -> write_extracted -> lineage over staged documents."""

    traced_groups = {"job.extract", *LAYERS.values(), "plans.io.write_extracted",
                     "plans.extract.lineage"}

    def __init__(self, args, work: str, kind: str, n_docs: int):
        super().__init__(args, work)
        self.kind, self.n_docs = kind, n_docs

    def stage(self) -> None:
        self.staged = inputs.stage(
            self.kind, self.args.seed, self.n_docs,
            os.path.join(self.work, "input"), self.cores,
        )

    def input_record(self) -> dict:
        st = self.staged
        return {
            "sf": None,  # a generated corpus, not a scale-factor dataset
            "docs": st.n_docs,
            "media_pages": st.n_pages,
            "blob_bytes": st.blob_bytes,
            "pages_by_kind": st.pages_by_kind,
            "expected_states": st.expected_states,
        }

    def docs(self) -> int:
        return self.n_docs

    def load(self) -> None:
        src = self.staged.input_dir
        self.doc_df = read_table(self.spark, src, "documents").cache()
        self.media_df = read_table(self.spark, src, "media").cache()
        if self.doc_df.count() != self.n_docs or self.media_df.count() < 1:
            fail("staged input did not load")

    def warmup(self, rep: int) -> None:
        warm = self.doc_df.sample(False, WARMUP_FRACTION, seed=self.args.seed)
        self.extract_job(warm, f"warm{rep}", check=False)

    def job(self, i: int) -> dict:
        return self.extract_job(self.doc_df, f"t{i}")

    def extract_job(self, docs, run_id: str, check: bool = True) -> dict:
        """run_extract -> write_extracted -> collect lineage, timed as one
        job; the written output is checked afterwards, untimed."""
        out = os.path.join(self.work, "out", run_id)
        c0, gc0 = tracing.cpu_ticks(), tracing.jvm_gc_s(self.spark)
        t0 = time.perf_counter()
        extracted, lineage = extract.run_extract(self.spark, docs, self.media_df, run_id=run_id)
        n = write_extracted(self.spark, extracted, out)
        lin = lineage.collect()
        wall = time.perf_counter() - t0
        steal = tracing.steal_frac(c0, tracing.cpu_ticks())
        gc = tracing.jvm_gc_s(self.spark) - gc0
        extract.release_run(run_id)
        job = {
            "wall_s": wall,
            "rows": n,
            "steal": steal,
            "gc_s": gc,
            **tracing.meminfo_mb(),
            "lineage_ms": sorted(r["wall_ms"] for r in lin),
            "persisted_rdds_after": self.persisted_rdds(),
        }
        if check:
            job["failed"] = self.check_output(out)
        shutil.rmtree(out, ignore_errors=True)
        return job

    def check_output(self, out: str) -> int:
        got = inputs.output_digests(out)
        exp = self.staged.expected
        bad = sum(1 for k, v in exp.items() if got.get(k) != v)
        bad += sum(1 for k in got if k not in exp)
        self.record_ops(len(exp), bad, "documents")
        return bad

    def lineage_layers(self) -> dict:
        """UDF busy time and partition walls from the timed jobs' lineage."""
        busy = median([sum(j["lineage_ms"]) / 1000.0 for j in self.jobs])
        p50 = median([median(j["lineage_ms"]) for j in self.jobs])
        pmax = median([max(j["lineage_ms"], default=0) for j in self.jobs])
        wall = median([j["wall_s"] for j in self.jobs])
        return {
            "extract.udf_busy_core_s": busy,
            "extract.plumbing_share": 1.0 - busy / (wall * self.cores),
            "extract.partition_wall_p50_ms": p50,
            "extract.partition_wall_max_ms": pmax,
            "extract.straggler_ratio": pmax / p50 if p50 else 0.0,
            "extract.persisted_rdds_after": max(j["persisted_rdds_after"] for j in self.jobs),
        }

    def trace_layers(self) -> dict:
        m = self.lineage_layers()
        m.update(self.traced_job())
        media = pq.read_table(os.path.join(self.staged.input_dir, "media.parquet")).to_pylist()
        with self.tracer.span("ocr.replay"):
            m.update(
                tracing.replay_kernel(
                    media, self.staged.pages_by_kind, self.args.seed, REPLAY_PER_KIND
                )
            )
        # the plans.queries layer, which no extract job calls, is timed
        # here too: the query suite is too slow to be a timed workload
        suite = QuerySuite(self.work, self.args.seed)
        suite.load(self.spark)
        suite.warmup(self.spark)
        m.update(suite.traced(self))
        return m

    def event_log_layers(self, stats: dict) -> dict:
        def shuffle(group: str) -> float:
            return stats.get(group, {}).get("shuffle_bytes", 0)

        return {
            "extract.media_shuffle_bytes": shuffle(LAYERS["media_path"]),
            "restitch.shuffle_bytes": shuffle(LAYERS["restitch"]),
            **QuerySuite.event_log_layers(stats),
        }

    def traced_job(self) -> dict:
        """The timed job's pipeline, run once with each layer call of
        run_extract materialized in its own span; its written output is
        checked against the oracle like every timed job's."""
        tr, run_id = self.tracer, "traced"
        out = os.path.join(self.work, "out", run_id)
        with layer_spans(tr) as calls:
            with tr.span("job.extract") as root:
                extracted, lineage = extract.run_extract(
                    self.spark, self.doc_df, self.media_df, run_id=run_id
                )
                with tr.span("plans.io.write_extracted") as s_write:
                    rows_written = write_extracted(self.spark, extracted, out)
                with tr.span("plans.extract.lineage"):
                    lin = lineage.collect()
            missing = set(LAYERS.values()) - set(calls)
            if missing:
                fail(f"run_extract no longer calls {sorted(missing)}")
            m_rows = calls[LAYERS["media_path"]][1]
            # plan counters, read from the executed (final AQE) plan
            nodes = tracing.plan_nodes(m_rows._jdf.queryExecution().executedPlan())
            states = {r["state"]: r["count"] for r in m_rows.groupBy("state").count().collect()}
        extract.release_run(run_id)
        if self.check_output(out):
            fail("the traced job's output differs from the oracle")
        shutil.rmtree(out, ignore_errors=True)
        names = [n.nodeName() for n in nodes]
        blob_exchanges = sum(
            1 for n, name in zip(nodes, names)
            if name in ("Exchange", "BroadcastExchange")
            and "media_bytes" in tracing.output_names(n)
        )
        n_pages = sum(states.values())

        def secs(span_name: str) -> float:
            span = calls[span_name][0]
            return span["end"] - span["start"]

        m = {
            "trace.job_wall_s": root["end"] - root["start"],
            "extract.media_path_s": secs(LAYERS["media_path"]),
            "functions.text_path_s": secs(LAYERS["text_path"]),
            "restitch.s": secs(LAYERS["restitch"]),
            "io.write_s": s_write["end"] - s_write["start"],
            "io.rows_written": rows_written,
            "extract.udf_tasks": len(lin),
            "extract.udf_waves": math.ceil(len(lin) / self.cores),
            "extract.blob_exchanges": blob_exchanges,
            "extract.broadcast_joins": names.count("BroadcastHashJoin"),
            "extract.sort_merge_joins": names.count("SortMergeJoin"),
            "extract.pages_processed_ratio": states.get("PROCESSED", 0) / n_pages if n_pages else 0.0,
        }
        for st in STATES:
            m[f"extract.rows_state.{st}"] = states.get(st, 0)
        return m
