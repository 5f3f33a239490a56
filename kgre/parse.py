"""Sentence split + deterministic parse stub -> ``sentences`` rows.

Spark analog of the reference's CoreNLP-XML scan (S1, load_data.py:352-396):
one output row per sentence with 1-based tokens (implicit ROOT=0) and the
dependency edge list.  FIXTURES.md §2 schema.

Runs as the shared per-text stage (``candidates.sentence_stage``: 1 page
row -> N sentence rows, Arrow batches) with ``text_sentences`` as the
source and ``sentence_row`` as the emitter.  The language filter is
applied *before* this stage so Catalyst pushes it into the parquet scan
(predicate pushdown — never parse pages we won't use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgre import nlp
from kgre.candidates import sentence_stage

SENTENCES_SCHEMA = (
    "url string, sent_id int, sent_text string, "
    "tokens array<struct<id:int,word:string,lemma:string,pos:string,"
    "ner:string,norm_ner:string>>, "
    "deps array<struct<type:string,gov:int,dep:int>>"
)
SENTENCE_COLS = ("url", "sent_id", "sent_text", "tokens", "deps")


def text_sentences(url, text):
    """``sentences`` source for plain text: split + parse it."""
    for s in nlp.parse_text(text):
        yield url, s


def sentence_row(url, s):
    """``emit`` for sentence rows: the parsed sentence dict itself (fresh
    per sentence, so it is keyed by ``url`` in place, not copied)."""
    s["url"] = url
    return (s,)


def parse_sentences(extracted: DataFrame, lang: str = "en") -> DataFrame:
    """extracted(url, text, lang, ...) -> sentences rows (lang-filtered)."""
    slim = extracted.filter(extracted.lang == lang).select("url", "text")
    return sentence_stage(slim, text_sentences, sentence_row,
                          SENTENCES_SCHEMA, SENTENCE_COLS)
