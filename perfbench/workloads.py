"""Seeded inputs for the benchmark workloads.

Every corpus comes from ``sources.synthetic.gen_corpus``; the seed changes
document contents, never the workload's size, so run-to-run spread across
seeds reflects the engine rather than the input volume.

- ``bulk_mixed``: a cold run over documents cycling the 12 fixture classes
  plus a skew tail of ``giant``-class documents (50-100 pages each) — the
  whole-document extraction kernel, the salted per-page skew path and the
  chunker carry the job. The giants are the subset of the seed's first
  ``GIANT_POOL`` whose span total is closest to ``GIANT_SPANS``, so every
  seed extracts almost the same number of spans.
- ``resume_delta``: ``BASE_DOCS`` documents are extracted and chunked in
  set-up; each timed job then submits that listing plus ``DELTA_DOCS`` new
  documents, so resume (checkpoint anti-join) and the table writes carry
  the job, the kernels see only the delta and the skew path nothing.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from mivaa_pdf_extractor_spark.sources.synthetic import gen_corpus

BULK_DOCS = 4000  # normal documents of bulk_mixed
GIANT_SPANS = 20_000  # bulk_mixed's skew tail
# a giant has 50-100 pages of 61-91 spans plus a title (3051-9101 spans):
# eight of them always reach GIANT_SPANS, and their 255 subsets come within
# a few hundred spans of it
GIANT_POOL = 8
BASE_DOCS = 2000  # resume_delta's warehouse
DELTA_DOCS = 100  # 5% of the base listing

WORKLOADS = ("bulk_mixed", "resume_delta")

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])


@dataclass
class Workload:
    # documents the timed job submits (its listing)
    docs: list[dict]
    # untimed passes of the timed job in set-up
    warmup_jobs: int
    # documents extracted and chunked in set-up (resume_delta's warehouse)
    base_docs: list[dict] = field(default_factory=list)

    @property
    def todo(self) -> list[dict]:
        """Documents one timed job must process."""
        done = {d["doc_id"] for d in self.base_docs}
        return [d for d in self.docs if d["doc_id"] not in done]


def build(name: str, seed: int) -> Workload:
    if name == "bulk_mixed":
        # each document depends only on (seed, class, index), so giant and
        # normal document ids never collide
        pool = gen_corpus(GIANT_POOL, seed=seed, giants=GIANT_POOL)
        giants = min((c for r in range(1, GIANT_POOL + 1)
                      for c in itertools.combinations(pool, r)),
                     key=lambda c: (abs(span_count(c) - GIANT_SPANS), len(c)))
        docs = list(giants) + gen_corpus(BULK_DOCS, seed=seed, giants=0)
        # the first pass is cold throughout; the second still runs slower
        # than later ones
        return Workload(docs, warmup_jobs=2)
    if name == "resume_delta":
        # normal documents depend only on (seed, index): the first
        # BASE_DOCS of the longer listing are exactly the base corpus
        listing = gen_corpus(BASE_DOCS + DELTA_DOCS, seed=seed, giants=0)
        # the base build has warmed the layers the job shares with it
        return Workload(listing, warmup_jobs=1,
                        base_docs=listing[:BASE_DOCS])
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")


def stage(docs: list[dict], path: str, n_files: int) -> None:
    """Write ``docs`` as ``n_files`` parquet files under ``path`` (the
    document table the job reads), in the engine's input schema."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // n_files)
    for i in range(0, len(docs), step):
        part = docs[i:i + step]
        table = pa.Table.from_pylist(
            [{"doc_id": d["doc_id"],
              "spans": [{k: s[k] for k in ("kind", "text", "media_ref",
                                           "offset")} for s in d["spans"]]}
             for d in part], schema=_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i // step:05d}.parquet"))


def span_count(docs: list[dict]) -> int:
    return sum(len(d["spans"]) for d in docs)


def text_bytes(docs: list[dict]) -> int:
    """UTF-8 bytes of the documents' input span text."""
    return sum(len((s["text"] or "").encode()) for d in docs
               for s in d["spans"])
