"""The one size rule for giant documents, and the resources around it.

Documents above ``C.DEFAULT_SKEW_THRESHOLD`` spans are salted into page
buckets; everything at or under it runs the whole-document kernel, whose
coalesced chunks are bounded by both a document count and a span budget.
"""

import pyarrow as pa
import pytest

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.operators import extract
from mivaa_pdf_extractor_spark.oracle import extract_document
from mivaa_pdf_extractor_spark.plans.pipeline import (EXTRACTED_TABLE,
                                                      run_pipeline)
from mivaa_pdf_extractor_spark.sources.synthetic import (corpus_to_spark_df,
                                                          gen_corpus)
from mivaa_pdf_extractor_spark.sources.tables_io import Catalog

from .conftest import spans_tuples


def _assert_oracle_equal(docs, rows):
    assert set(rows) == {d["doc_id"] for d in docs}
    for d in docs:
        o = extract_document(d["doc_id"], d["spans"])
        r = rows[d["doc_id"]]
        assert spans_tuples(r["spans"]) == spans_tuples(o["spans"]), \
            d["doc_id"]
        assert r["status"] == o["status"], d["doc_id"]
        assert int(r["n_spans"]) == o["n_spans"], d["doc_id"]
        assert int(r["n_chars"]) == o["n_chars"], d["doc_id"]


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.spark
def test_pipeline_salts_only_above_threshold_and_releases_cache(
        spark, tmp_path):
    docs = gen_corpus(40, seed=11, giants=2)
    sizes = sorted(len(d["spans"]) for d in docs)
    # one giant stays on the kernel, one is salted into two page buckets
    assert sizes[-2] <= C.DEFAULT_SKEW_THRESHOLD < sizes[-1]
    assert -(-sizes[-1] // C.DEFAULT_SKEW_THRESHOLD) == 2

    before = _persistent_rdd_ids(spark)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, corpus_to_spark_df(spark, docs), catalog,
                 run_id="salted")
    rows = {r["doc_id"]: r.asDict()
            for r in catalog.read(EXTRACTED_TABLE).collect()}
    _assert_oracle_equal(docs, rows)
    # the giant-subset cache is released once the write has consumed it
    assert _persistent_rdd_ids(spark) <= before


def test_kernel_chunks_flush_at_span_budget(monkeypatch):
    docs = gen_corpus(120, seed=7, giants=1)
    batches = [pa.RecordBatch.from_pydict({
        "doc_id": [d["doc_id"] for d in docs[i:i + 16]],
        "spans": [d["spans"] for d in docs[i:i + 16]]})
        for i in range(0, len(docs), 16)]
    monkeypatch.setattr(extract, "_CHUNK_SPANS", 600)

    chunks = list(extract._coalesce_batches(iter(batches)))
    # far under the doc cap, so only the span budget can have flushed
    assert len(docs) < extract._CHUNK_DOCS
    assert len(chunks) > 1
    assert sum(c.num_rows for c in chunks) == len(docs)

    rows = {r["doc_id"]: r
            for b in extract.extract_iter_arrow(iter(batches))
            for r in b.to_pylist()}
    _assert_oracle_equal(docs, rows)
