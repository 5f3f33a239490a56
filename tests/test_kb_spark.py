"""Spark-side KB operators vs the oracle: the DataFrame ontology closure
and KB expansion (J2) against the transliterated set logic, and the
sentence-parse stage."""

from __future__ import annotations

from kgre import kb as kbmod
from kgre import pyoracle, synthgen
from kgre.candidates import sentence_stage
from kgre.parse import (SENTENCE_COLS, SENTENCES_SCHEMA, sentence_row,
                        text_sentences)
from tests.helpers import collect_kb_sets, expand_kb, kb_df, ontology_df


def test_closure_df_matches_python(spark):
    onto_rows = synthgen.ontology_rows()
    want = pyoracle.ontology_closure(onto_rows)
    got_df = kbmod.ontology_closure_df(ontology_df(spark, onto_rows))
    got: dict[str, set] = {}
    for r in got_df.collect():
        got.setdefault(r["term"], set()).add(r["anc"])
    assert got == want


def test_expanded_kb_matches_python(spark):
    onto_rows = synthgen.ontology_rows()
    kb_rows = synthgen.kb_rows()
    closure = pyoracle.ontology_closure(onto_rows)
    want_fwd, want_rev = pyoracle.load_kb(kb_rows, closure)
    expanded = expand_kb(
        kb_df(spark, kb_rows),
        kbmod.ontology_closure_df(ontology_df(spark, onto_rows)),
    )
    got_fwd, got_rev = collect_kb_sets(expanded)
    assert got_fwd == want_fwd
    assert got_rev == want_rev


def _parse_sentences(pages_df):
    en = pages_df.filter(pages_df.lang == "en").select("url", "text")
    return sentence_stage(en, text_sentences, sentence_row,
                          SENTENCES_SCHEMA, SENTENCE_COLS)


def test_parse_sentences_roundtrip(spark):
    """The per-text stage with the parse source and sentence-row emitter
    yields the shared deterministic convention for every page."""
    from kgre import nlp
    pages = synthgen.gen_pages_rows(10)
    pages_df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        schema=synthgen.PAGES_SCHEMA,
    )
    rows = _parse_sentences(pages_df).collect()
    by_key = {(r["url"], r["sent_id"]): r for r in rows}
    n_sent = 0
    for p in pages:
        if p["lang"] != "en":
            continue
        for s in nlp.parse_text(p["text"]):
            r = by_key[(p["url"], s["sent_id"])]
            assert [t.asDict() for t in r["tokens"]] == s["tokens"]
            assert [d.asDict() for d in r["deps"]] == s["deps"]
            n_sent += 1
    assert n_sent == len(rows) > 0
    # pages whose html has no article body extract to "": a batch of
    # only such rows parses to zero sentences and must still convert
    ts = pages[0]["warc_ts"]
    empty_df = spark.createDataFrame(
        [("https://empty.example/%d" % i, ts, b"", "", "en")
         for i in range(2)],
        schema=synthgen.PAGES_SCHEMA,
    ).coalesce(1)
    assert _parse_sentences(empty_df).collect() == []
