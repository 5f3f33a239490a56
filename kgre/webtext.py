"""Bridge from the driver's ``documents`` table to the pipeline's
``pages`` input: deterministically inject entity surface forms and
sentence breaks into document text, wrap in the synthetic HTML template.

Pure function of (doc_id, text): the oracle can reproduce the exact same
pages driver-side for parity checks at small scale.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre.candidates import rows_to_pdf
from kgre.synthgen import HTML_TEMPLATE, N_GENES, N_GO, PAGES_SCHEMA
from kgre.util import ensure_min_partitions, h48, hseq

_TS_BASE = datetime(2024, 1, 1)

# bump when doc_to_page semantics change — benchmark corpus caches key on it
WEBTEXT_VERSION = "v1"

_PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def page_text(doc_id: int, text: str) -> str:
    """The derived page text alone (no url/ts/html wrapping) — the text
    half of ``doc_to_page``, split out so the fused documents->candidates
    stage (kgre/pipeline.py, r6) can derive and parse pages in one Python
    crossing without building the html wrapper it would immediately
    unwrap.  One hash per document; per-position draws are integer-mixed
    from it (pure function of (doc_id, j), like the string-keyed
    original).  A numpy ``hseq_vec`` variant was measured SLOWER here:
    corpus docs average ~10^2 words, below numpy's per-array break-even."""
    words = text.split()
    out = []
    base = h48("page|%d" % doc_id)
    for j, w in enumerate(words):
        out.append(w)
        r = hseq(base, j, 1, 23)
        if r == 0:
            out.append("GENE%d" % (1 + hseq(base, j, 2, N_GENES)))
        elif r == 1:
            out.append("GO%d" % (1 + hseq(base, j, 3, N_GO)))
        elif r == 2:
            out.append("VGENE%d" % (1 + hseq(base, j, 4, N_GENES)))
        if j % 12 == 11:
            out.append(".")
    return " ".join(out) + " ."


def doc_to_page(doc_id: int, text: str, lang: str) -> dict:
    new_text = page_text(doc_id, text)
    url = "https://docs.example/d%d" % doc_id
    return {
        "url": url,
        "warc_ts": _TS_BASE + timedelta(seconds=int(doc_id)),
        "html": HTML_TEMPLATE.format(title="doc %d" % doc_id, text=new_text,
                                     footer=doc_id).encode("utf-8"),
        "text": new_text,
        "lang": lang,
    }


def pages_from_documents(docs: DataFrame, lang: str | None = None) -> DataFrame:
    """``lang``: when the consumer keeps only one page language (the KG
    pipeline filters ``lang == 'en'`` before extraction), filtering the
    DOCUMENTS side here prunes rows before the derivation UDF — the
    derivation is an Arrow crossing with a per-word hash loop, and on a
    Common-Crawl-style mix roughly half the corpus is non-English, so
    deriving pages that are dropped one operator later doubles the cost
    of the first crossing.  Page lang is a passthrough of doc lang, so
    the result is identical either way."""

    def run(batches):
        for pdf in batches:
            rows = [
                doc_to_page(int(d), t, l)
                for d, t, l in zip(pdf["doc_id"], pdf["text"], pdf["lang"])
            ]
            yield rows_to_pdf(rows, _PAGE_COLS)

    slim = docs.select("doc_id", "text", "lang")
    if lang is not None:
        slim = slim.filter(F.col("lang") == lang)
    slim = ensure_min_partitions(slim, cols=("doc_id",))
    return slim.mapInPandas(run, schema=PAGES_SCHEMA)


def scaled_corpus(docs: DataFrame, n_pages: int) -> DataFrame:
    """Deterministically scale a small documents table to ``n_pages``
    synthetic web pages, generated DISTRIBUTED via ``spark.range`` (the
    base texts are broadcast — dictionary-sized; page i reuses the text of
    base doc i % n_base under a fresh doc_id, so entity injections differ
    per page).  Used by the scaling benchmark: same deterministic corpus
    at every parallelism level, generation itself parallel."""
    spark = docs.sparkSession
    bpdf = docs.select("doc_id", "text", "lang").toPandas()
    base = sorted(zip((int(x) for x in bpdf["doc_id"]),
                      bpdf["text"], bpdf["lang"]))
    bc = spark.sparkContext.broadcast(base)
    n_parts = spark.sparkContext.defaultParallelism * 2

    def run(batches):
        rows_base = bc.value
        nb = len(rows_base)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                _, text, lang = rows_base[i % nb]
                rows.append(doc_to_page(i, text, lang))
            yield rows_to_pdf(rows, _PAGE_COLS)

    rng = spark.range(0, n_pages, 1, n_parts)
    return rng.mapInPandas(run, schema=PAGES_SCHEMA)
