"""X10 re-stitch of one media-heavy document against the oracle: the
document's spans reach the stitch from many input partitions, and
reading order must still come from ``offset`` alone."""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import functions as F

from pero_ocr_api_spark.operators.restitch import restitch
from pero_ocr_api_spark.plans import extract
from pero_ocr_api_spark.sources.tables import DOCUMENTS_SCHEMA

from tests import oracle

N_SPANS = 2400
TEXT_PARTITIONS = 6


def _heavy_doc(docs_pdf: pd.DataFrame, seed: int = 11) -> pd.DataFrame:
    """One document made of every fixture span: each media span once,
    text/html spans repeated up to N_SPANS, offsets shuffled and the
    array stored out of offset order."""
    spans = [s for row in docs_pdf["spans"] for s in row]
    media = [s for s in spans if s["kind"] == "media"]
    texts = [s for s in spans if s["kind"] != "media"]
    body = media + [texts[i % len(texts)] for i in range(N_SPANS - len(media))]
    rng = random.Random(seed)
    offsets = list(range(len(body)))
    rng.shuffle(offsets)
    heavy = [{**s, "offset": o} for s, o in zip(body, offsets)]
    rng.shuffle(heavy)
    return pd.DataFrame({"doc_id": ["heavy"], "spans": [heavy]})


def test_heavy_document_from_many_partitions_matches_oracle(spark, corpus_pandas, media_df):
    docs_pdf, media_pdf = corpus_pandas
    heavy_pdf = _heavy_doc(docs_pdf)
    docs = spark.createDataFrame(heavy_pdf.to_dict("records"), DOCUMENTS_SCHEMA)
    spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    t_rows = extract.text_path(spans.repartition(TEXT_PARTITIONS))
    m_rows, _ = extract.media_path(spans, media_df, run_id="heavy")
    span_rows = t_rows.unionByName(m_rows.withColumn("kind", F.lit("media")))
    try:
        assert span_rows.rdd.getNumPartitions() >= 4
        (got,) = [r.asDict(recursive=True) for r in restitch(span_rows).collect()]
    finally:
        extract.release_run("heavy")
    (expect,) = oracle.extract_docs(heavy_pdf, media_pdf)
    assert len(got["spans"]) == N_SPANS
    assert [s["offset"] for s in got["spans"]] == list(range(N_SPANS))
    assert got["spans"] == expect["spans"]
    for field in ("doc_id", "score", "state", "error", "alto_xml", "page_xml", "txt"):
        assert got[field] == expect[field], field
