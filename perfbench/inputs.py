"""Seeded benchmark inputs and their expected outputs.

Every input is built from ``pero_ocr_api_spark.corpus`` public functions
and written as parquet with the engine's table layout, so the program
only ever sees staged files. The expected output of every document is
computed here, once per seed and outside any timed region, with the
single-process oracle ``tests/oracle.py::extract_docs``; it is kept as
one digest per document.

Staging and the oracle run in a process pool, one chunk of documents
per task, before the benchmark starts any JVM.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from pero_ocr_api_spark.sources import tables

DOCS_SCHEMA = to_arrow_schema(tables.DOCUMENTS_SCHEMA)
MEDIA_SCHEMA = to_arrow_schema(tables.MEDIA_SCHEMA)
# the compared columns of the extracted table; the error text is a
# traceback, so (as in the golden suite) only whether it is set counts
EXPECTED_COLS = ("doc_id", "spans", "score", "state", "error", "alto_xml", "page_xml", "txt")


def doc_digest(row: dict) -> str:
    """Order-normalized digest of one extracted document."""
    spans = sorted(
        (s["offset"], s["kind"], s["text"], s["media_ref"]) for s in row["spans"]
    )
    key = [
        row["doc_id"],
        spans,
        repr(row["score"]),
        row["state"],
        row["error"] is None,
        row["alto_xml"],
        row["page_xml"],
        row["txt"],
    ]
    return hashlib.md5(json.dumps(key).encode()).hexdigest()


def output_digests(path: str) -> dict[str, str]:
    """doc_id -> digest for an extracted parquet directory."""
    table = pq.read_table(path, columns=list(EXPECTED_COLS))
    return {r["doc_id"]: doc_digest(r) for r in table.to_pylist()}


@dataclass
class Staged:
    input_dir: str  # holds documents.parquet/ and media.parquet/ (sources.tables layout)
    expected: dict[str, str]  # doc_id -> digest
    n_docs: int
    n_pages: int
    blob_bytes: int
    pages_by_kind: dict[str, int] = field(default_factory=dict)
    expected_states: dict[str, int] = field(default_factory=dict)


def _mixed_docs(seed: int, lo: int, hi: int, n_docs: int):
    """The corpus.generate_spark corpus, rows lo..hi (doc_record is the
    pure per-row function generate_spark distributes)."""
    from pero_ocr_api_spark.corpus import doc_record

    for idx in range(lo, hi):
        yield doc_record(seed, idx)


# which pinned doc_record index carries which scanned page kind
SCAN_KINDS = ((15, "image/jpeg"), (16, "application/pdf"))
SCAN_POOL_SEED = 1_000_003  # doc_record seed of scanned page j is this + j


def _scan_docs(seed: int, lo: int, hi: int, n_docs: int):
    """Media-only documents of one scanned page each, half baseline
    JPEG pages and half /DCTDecode scanned PDFs, taken from
    corpus.doc_record's pinned scanned-page rows.

    The pages form a fixed pool (page j comes from doc_record seed
    ``SCAN_POOL_SEED + j``) and ``seed`` permutes the pool over the
    documents. A page's decode cost varies about fivefold with its
    content, so drawing new pages per seed made the job wall spread
    ~20% across seeds; a permuted pool keeps the work equal while the
    seed still moves pages between documents and UDF partitions."""
    import random

    from pero_ocr_api_spark.corpus import doc_record

    perm = list(range(n_docs))
    random.Random(seed).shuffle(perm)
    for i in range(lo, hi):
        j = perm[i]
        pinned, kind = SCAN_KINDS[j % 2]
        _, media = doc_record(SCAN_POOL_SEED + j, pinned)
        (m,) = [
            r for r in media
            if r["media_kind"] == kind and r["media_ref"].endswith(("_jpeg", "_pdfscan"))
        ]
        ref = f"s{i:07d}"
        doc = {
            "doc_id": f"scan{i:07d}",
            "spans": [{"kind": "media", "text": None, "media_ref": ref, "offset": 0}],
        }
        yield doc, [{**m, "media_ref": ref}]


_BUILDERS = {"mixed": _mixed_docs, "scan": _scan_docs}


def _stage_chunk(args) -> dict:
    kind, seed, lo, hi, n_docs, out_dir, part = args
    import pandas as pd

    from tests.oracle import extract_docs

    docs, media = [], []
    for d, m in _BUILDERS[kind](seed, lo, hi, n_docs):
        docs.append(d)
        media.extend(m)
    docs_pdf = pd.DataFrame(docs, columns=["doc_id", "spans"])
    media_pdf = pd.DataFrame(media, columns=MEDIA_SCHEMA.names)
    expected = {r["doc_id"]: r for r in extract_docs(docs_pdf, media_pdf)}
    pq.write_table(
        pa.Table.from_pylist(docs, schema=DOCS_SCHEMA),
        os.path.join(out_dir, "documents.parquet", f"part-{part:05d}.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(media, schema=MEDIA_SCHEMA),
        os.path.join(out_dir, "media.parquet", f"part-{part:05d}.parquet"),
    )
    pages_by_kind: dict[str, int] = {}
    for m in media:
        pages_by_kind[m["media_kind"]] = pages_by_kind.get(m["media_kind"], 0) + 1
    states: dict[str, int] = {}
    for r in expected.values():
        states[r["state"]] = states.get(r["state"], 0) + 1
    n_refs = sum(1 for d in docs for s in d["spans"] if s["kind"] == "media")
    return {
        "expected": {k: doc_digest(v) for k, v in expected.items()},
        "n_pages": n_refs,
        "blob_bytes": sum(len(m["media_bytes"] or b"") for m in media),
        "pages_by_kind": pages_by_kind,
        "states": states,
    }


def stage(kind: str, seed: int, n_docs: int, out_dir: str, procs: int) -> Staged:
    """Generate one workload's inputs and expected output in a pool of
    ``procs`` processes."""
    for table in ("documents", "media"):
        os.makedirs(os.path.join(out_dir, f"{table}.parquet"))
    n_chunks = procs * 2
    bounds = [n_docs * i // n_chunks for i in range(n_chunks + 1)]
    tasks = [
        (kind, seed, bounds[i], bounds[i + 1], n_docs, out_dir, i)
        for i in range(n_chunks)
        if bounds[i + 1] > bounds[i]
    ]
    with mp.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_stage_chunk, tasks, chunksize=1)
    staged = Staged(input_dir=out_dir, expected={}, n_docs=n_docs, n_pages=0, blob_bytes=0)
    for p in parts:
        staged.expected.update(p["expected"])
        staged.n_pages += p["n_pages"]
        staged.blob_bytes += p["blob_bytes"]
        for k, v in p["pages_by_kind"].items():
            staged.pages_by_kind[k] = staged.pages_by_kind.get(k, 0) + v
        for k, v in p["states"].items():
            staged.expected_states[k] = staged.expected_states.get(k, 0) + v
    return staged
