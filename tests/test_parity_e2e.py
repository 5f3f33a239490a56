"""End-to-end parity gate (SURVEY.md §5.2 items 2+5, BASELINE.md targets):
the Spark pipeline's emitted triples vs the single-process oracle on the
same deterministic corpus.  The BASELINE target is P/R >= 0.95; we assert
exact equality (P = R = 1.0) plus the byte-identity invariant for
extracted text."""

from __future__ import annotations

from collections import Counter

import pytest

from kgre import pyoracle, synthgen
from kgre.extract import extract_text_from_html
from kgre.pipeline import KgPipeline
from kgre.score import emitted_triples

N_PAGES = 80
OCCUR = 3


@pytest.fixture(scope="module")
def corpus():
    pages = synthgen.gen_pages_rows(N_PAGES)
    return (pages, synthgen.kb_rows(), synthgen.ontology_rows(),
            synthgen.stop_entity_ids())


@pytest.fixture(scope="module")
def oracle_out(corpus):
    pages, kb, onto, stop = corpus
    return pyoracle.run_pipeline(pages, kb, onto, stop, occur_count=OCCUR)


@pytest.fixture(scope="module")
def spark_out(spark, corpus):
    pages, kb, onto, stop = corpus
    pages_df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        schema=synthgen.PAGES_SCHEMA,
    )
    pipe = KgPipeline(spark, occur_count=OCCUR)
    scored, vocab_df, key_order = pipe.run(pages_df, kb, onto, stop)
    return pages_df, scored, vocab_df, key_order


def _key(t):
    return (t["url"], t["subj"], t["obj"], t["rel"], t["label"],
            round(t["prob"], 9))


def test_scored_triples_exact_multiset_match(oracle_out, spark_out):
    o_triples, _, o_key_order = oracle_out
    _, scored, _, key_order = spark_out
    assert key_order == o_key_order
    got = Counter(_key(r.asDict()) for r in scored.collect())
    want = Counter(_key(t) for t in o_triples)
    assert got == want


def test_emitted_triples_precision_recall_gate(oracle_out, spark_out):
    """The BASELINE.json metric: P/R >= 0.95 on the emitted (prob>0.5)
    triple set; ours is exact so both are 1.0."""
    o_triples, _, _ = oracle_out
    _, scored, _, _ = spark_out
    want = {(t["url"], t["subj"], t["obj"], t["rel"])
            for t in o_triples if t["prob"] > 0.5}
    got = {(r["url"], r["subj"], r["obj"], r["rel"])
           for r in emitted_triples(scored).collect()}
    assert want, "oracle emitted no triples — corpus too small"
    precision = len(got & want) / len(got)
    recall = len(got & want) / len(want)
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0


def test_vocab_sets_match(oracle_out, spark_out):
    _, o_vocabs, _ = oracle_out
    _, _, vocab_df, _ = spark_out
    got: dict[str, set] = {}
    for r in vocab_df.collect():
        got.setdefault(r["kind"], set()).add(r["feature"])
    for kind, want in o_vocabs.items():
        assert got.get(kind, set()) == want, kind


def test_vocab_min_count_boundary(oracle_out, spark_out):
    """Features with count == occur_count are kept; below are dropped
    (load_data.py:114-119 boundary)."""
    _, _, vocab_df, _ = spark_out
    counts = [r["cnt"] for r in vocab_df.collect()]
    assert counts and min(counts) >= OCCUR
    assert OCCUR in counts  # boundary value actually exercised


def test_extracted_text_byte_identity(corpus):
    """input_hint per-row invariant: the extractor the fused stage runs
    recovers every page's stored text byte-for-byte."""
    pages, _, _, _ = corpus
    for p in pages:
        got = extract_text_from_html(p["html"])
        assert got.encode("utf-8") == p["text"].encode("utf-8"), p["url"]
