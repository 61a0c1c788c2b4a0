"""Reference check of a job's output against the pure-Python oracle.

Spans: every processed document's ``(kind, text, media_ref, offset, page)``
sequence must equal ``oracle.extract_document``'s. Chunks: each document's
chunk rows must equal ``operators.chunking.chunk_layout`` over the oracle
spans, after the chunker's per-document exact-duplicate filter (keep the
first chunk of each normalised content, chunk indexes unchanged).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.operators.chunking import chunk_layout
from mivaa_pdf_extractor_spark.oracle import extract_document
from mivaa_pdf_extractor_spark.plans.chunk_pipeline import CHUNKS_TABLE
from mivaa_pdf_extractor_spark.plans.pipeline import EXTRACTED_TABLE

CHUNK_MAX_SIZE = 1000  # build_chunks' default, which run_chunk_indexing uses

_WS = re.compile("[ \t\n\x0b\f\r]+")
_SPAN_KEYS = ("kind", "text", "media_ref", "offset", "page")
_CHUNK_KEYS = ("chunk_index", "content", "is_table", "page", "start_offset",
               "end_offset")


def _dedup_key(content: str) -> str:
    return _WS.sub(" ", content.lower()).strip(" ")


class Reference:
    """Oracle spans and chunks for a set of documents, computed once."""

    def __init__(self, docs: list[dict]):
        self.spans: dict[str, list[tuple]] = {}
        self.chunks: dict[str, list[tuple]] = {}
        for d in docs:
            out = extract_document(d["doc_id"], d["spans"])["spans"]
            self.spans[d["doc_id"]] = [tuple(s[k] for k in _SPAN_KEYS)
                                       for s in out]
            seen: set[str] = set()
            rows = []
            for i, c in enumerate(chunk_layout(out, CHUNK_MAX_SIZE)):
                key = _dedup_key(c["content"])
                if key in seen:
                    continue
                seen.add(key)
                rows.append((i, c["content"], c["is_table"], c["page"],
                             c["start_offset"], c["end_offset"]))
            self.chunks[d["doc_id"]] = rows


def check_outputs(catalog, ref: Reference, run_id: str) -> tuple[int, int]:
    """Compare what ``run_id`` wrote with ``ref``.

    Returns ``(failed, attempted)``: attempted is the number of documents the
    job had to process (the keys of ``ref``); failed counts documents with
    status ``failed``, documents missing from or unexpected in the run's
    output, and documents whose spans or chunks differ from the reference."""
    ext = (catalog.read(EXTRACTED_TABLE)
           .filter(F.col("run_id") == run_id)
           .select("doc_id", "status", "spans").toArrow().to_pylist())
    want = set(ref.spans)
    got = {r["doc_id"]: r for r in ext}
    bad = want ^ set(got)
    for doc_id in want & set(got):
        r = got[doc_id]
        spans = [tuple(s[k] for k in _SPAN_KEYS) for s in r["spans"] or []]
        if r["status"] == C.STATUS_FAILED or spans != ref.spans[doc_id]:
            bad.add(doc_id)

    # the whole chunks table is read and filtered here: a Python-side
    # DataFrame of the ids would start a second Python worker pool, whose
    # memory would then show in the next job's peak RSS
    rows = (catalog.read(CHUNKS_TABLE).select("doc_id", *_CHUNK_KEYS)
            .toArrow().to_pylist())
    chunks: dict[str, list[tuple]] = {d: [] for d in want}
    for r in rows:
        if r["doc_id"] in chunks:
            chunks[r["doc_id"]].append(tuple(r[k] for k in _CHUNK_KEYS))
    for doc_id, have in chunks.items():
        if sorted(have) != ref.chunks[doc_id]:
            bad.add(doc_id)
    return len(bad), len(want)
