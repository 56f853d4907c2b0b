"""The registry query suite over a seeded row sample: the plans.queries
layer, measured in the extract workloads' traced runs, and the
``curate_suite`` workload, which times whole passes of the suite.

The sample is staged once per seed from the sf0.1 tables that sit beside
the smoke dataset of ``__spark_entry__`` (``SF_SMOKE``), or
from the sf directory named by ``SPARK_GRAFT_SF_DIR``: every table the
suite reads keeps the rows whose ``hash(key, seed)`` falls in one of
``SAMPLE_MOD`` buckets, so joins on that key stay whole. The expected
result of each query is its DuckDB twin from
``__spark_entry__.oracle_sql()`` over the same staged files.

One pass is the whole suite, caches released first so that every pass
pays for the caches it builds. Each query's result is collected
(every output column, no pruning) and compared with its twin after
the pass, outside the timed region.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

import duckdb
from pyspark.sql import functions as F

import __spark_entry__
from harness import Bench, fail, noop
from pero_ocr_api_spark.operators.dedup import minhash_signatures, winnow_col
from pero_ocr_api_spark.plans.queries_textops import release_query_caches
from pero_ocr_api_spark.sources.tables import read_table
from tests.parity import assert_frames_match

SUITE = (
    "usage_statistics",
    "fair_dequeue",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "incremental_dedup",
    "ann_self_near_pairs",
    "embedding_dedup_keep",
    "ivf_topk",
    "lm_quality_scores",
    "tokenize_corpus",
    "pack_blocks",
    "bpe_merges",
    "tokenize_corpus_bpe",
    "user_sessions",
)
# table -> sampling key; a table the suite does not read is not staged
SAMPLE_KEYS = {
    "customer": "c_custkey",
    "orders": "o_custkey",
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "user_id",
}
SAMPLE_MOD = 20  # keep 1 row in 20
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR",
    os.path.join(os.path.dirname(__spark_entry__.SF_SMOKE), "sf0.1"),
)


class _Collected:
    """A collected result in the shape tests.parity compares."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class QuerySuite:
    """The staged sample, the twins' results and passes of the suite."""

    def __init__(self, work: str, seed: int):
        if not os.path.isdir(SF_DIR):
            fail(f"the query suite reads its tables from {SF_DIR}, which is missing")
        self.sf_name = os.path.basename(os.path.normpath(SF_DIR))
        self.sf = os.path.join(work, "queries-input")
        os.makedirs(self.sf)
        con = duckdb.connect()
        self.rows = {}
        for table, key in SAMPLE_KEYS.items():
            dst = os.path.join(self.sf, f"{table}.parquet")
            con.execute(
                f"COPY (SELECT * FROM '{SF_DIR}/{table}.parquet' "
                f"WHERE hash({key}, {int(seed)}) % {SAMPLE_MOD} = 0) "
                f"TO '{dst}' (FORMAT parquet)"
            )
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{dst}'")
            self.rows[table] = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        sql = __spark_entry__.oracle_sql()
        self.expected = {q: con.execute(sql[q]).df() for q in SUITE}

    def record(self) -> dict:
        return {"sf": self.sf_name, "sample_mod": SAMPLE_MOD, "rows": self.rows}

    def load(self, spark) -> None:
        for table in SAMPLE_KEYS:
            noop(read_table(spark, self.sf, table))

    def warmup(self, spark) -> None:
        """The first regexp, shingle and winnow expressions of a JVM pay a
        one-time code-generation cost; run each once on 50 documents."""
        docs = read_table(spark, self.sf, "documents").limit(50)
        noop(docs.select(F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0)))))
        noop(minhash_signatures(docs))
        noop(docs.select(F.size(winnow_col(F.col("text")))))

    def run(self, spark, span=None) -> tuple[float, dict, dict]:
        """Run every query once; (wall, name -> seconds, name -> result)."""
        queries = __spark_entry__.queries()
        release_query_caches()
        secs, results = {}, {}
        t0 = time.perf_counter()
        for q in SUITE:
            with span(f"plans.queries.{q}") if span else nullcontext():
                q0 = time.perf_counter()
                results[q] = queries[q](spark, self.sf).toPandas()
                secs[q] = time.perf_counter() - q0
        return time.perf_counter() - t0, secs, results

    def failures(self, results: dict) -> int:
        bad = 0
        for q in SUITE:
            try:
                assert_frames_match(_Collected(results[q]), self.expected[q], q)
            except AssertionError as e:
                print(f"perfbench: {e}", file=sys.stderr)
                bad += 1
        return bad

    def traced(self, bench: Bench) -> dict:
        """One traced pass in ``bench``'s session, a span per query."""
        with bench.tracer.span("job.queries") as root:
            _, secs, results = self.run(bench.spark, bench.tracer.span)
        bench.record_ops(len(SUITE), self.failures(results), "queries")
        m = {
            "queries.wall_s": root["end"] - root["start"],
            "queries.persisted_rdds_after": bench.persisted_rdds(),
        }
        for q in SUITE:
            m[f"query.{q}.s"] = secs[q]
        return m

    @staticmethod
    def event_log_layers(stats: dict) -> dict:
        def group(q: str) -> dict:
            return stats.get(f"plans.queries.{q}", {})

        m = {f"query.{q}.shuffle_bytes": group(q).get("shuffle_bytes", 0) for q in SUITE}
        m["queries.jobs"] = sum(group(q).get("jobs", 0) for q in SUITE)
        return m


class CurateBench(Bench):
    """``curate_suite``: one job is one pass of the suite."""

    traced_groups = {"job.queries"} | {f"plans.queries.{q}" for q in SUITE}

    def stage(self) -> None:
        self.suite = QuerySuite(self.work, self.args.seed)

    def input_record(self) -> dict:
        return self.suite.record()

    def docs(self) -> int:
        return self.suite.rows["documents"]

    def load(self) -> None:
        self.suite.load(self.spark)

    def warmup(self, rep: int) -> None:
        self.suite.warmup(self.spark)

    def job(self, i: int) -> dict:
        wall, secs, results = self.suite.run(self.spark)
        failed = self.suite.failures(results)
        self.record_ops(len(SUITE), failed, "queries")
        return {
            "wall_s": wall,
            "persisted_rdds_after": self.persisted_rdds(),
            "failed": failed,
            "query_s": secs,
        }

    def trace_layers(self) -> dict:
        m = self.suite.traced(self)
        m["trace.job_wall_s"] = m.pop("queries.wall_s")
        return m

    def event_log_layers(self, stats: dict) -> dict:
        return QuerySuite.event_log_layers(stats)
