"""Sentence split + deterministic parse stub -> ``sentences`` rows.

Spark analog of the reference's CoreNLP-XML scan (S1, load_data.py:352-396):
one output row per sentence with 1-based tokens (implicit ROOT=0) and the
dependency edge list.  FIXTURES.md §2 schema.

The pieces here plug into the shared per-text stage
(``candidates.sentence_stage``: 1 page row -> N sentence rows, Arrow
batches): ``text_sentences`` is the source the fused html stage runs on
extracted text, and ``sentence_row`` the emitter that writes sentence
rows (the CoreNLP reader).
"""

from __future__ import annotations

from kgre import nlp

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
