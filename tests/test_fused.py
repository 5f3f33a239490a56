"""r6 fusion guards: the single-crossing documents->candidates stage must
equal the two-stage pages path exactly, and the render->extract identity
the fusion relies on must hold on the derived corpus."""

import pytest
from pyspark.sql import functions as F

from kgre import synthgen
from kgre.candidates import allowlist_filter
from kgre.extract import extract_text_from_html
from kgre.pipeline import documents_to_candidates, pages_to_candidates
from kgre.session import get_spark
from kgre.webtext import doc_to_page, page_text, pages_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-fused", master="local[4]", shuffle_partitions=8)
    yield s


def test_page_text_matches_doc_to_page(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200).collect()
    for r in docs:
        page = doc_to_page(int(r["doc_id"]), r["text"], r["lang"])
        assert page_text(int(r["doc_id"]), r["text"]) == page["text"]


def test_render_extract_is_identity_on_corpus(spark):
    """extract(render(t)) == t for every derived page text — the identity
    the fused stage exploits (it falls back to render+extract when the
    text contains the article close tag)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    for r in docs:
        page = doc_to_page(int(r["doc_id"]), r["text"], r["lang"])
        assert extract_text_from_html(page["html"]) == page["text"]


def test_fused_candidates_equal_two_stage(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stop = synthgen.stop_entity_ids()
    two = pages_to_candidates(pages_from_documents(docs, lang="en"),
                              "GENE", "ONTOLOGY", stop)
    fused = documents_to_candidates(docs, "GENE", "ONTOLOGY", stop)
    cols = two.columns
    assert fused.columns == cols
    a = sorted(tuple(r) for r in two.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b
    # slim variant: same rows, sentence columns dropped
    slim = documents_to_candidates(docs, "GENE", "ONTOLOGY", stop,
                                   with_sentence=False)
    keep = [c for c in cols if c not in ("sent_text", "start_tok",
                                         "end_tok")]
    assert slim.columns == keep
    idx = [cols.index(c) for c in keep]
    a_slim = sorted(tuple(t[i] for i in idx) for t in a)
    assert sorted(tuple(r) for r in slim.collect()) == a_slim


def test_fused_respects_stop_and_allowlists(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 100)
    stop = synthgen.stop_entity_ids()
    allow1 = ["G%05d" % k for k in range(1, 40)]
    allow2 = ["GO:%07d" % k for k in range(1, 30)]
    two = pages_to_candidates(pages_from_documents(docs, lang="en"),
                              "GENE", "ONTOLOGY", stop,
                              allow1=allow1, allow2=allow2)
    # the fused path takes no allowlists: its candidates through the
    # declarative allowlist twin equal the in-stage allowlisted ones
    fused = allowlist_filter(
        documents_to_candidates(docs, "GENE", "ONTOLOGY", stop),
        allow1, allow2)
    assert (sorted(tuple(r) for r in two.collect())
            == sorted(tuple(r) for r in fused.collect()))
