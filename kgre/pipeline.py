"""End-to-end KG-construction pipeline: pages -> scored triples.

Physical plan (SURVEY.md §4.3):

  scan pages (lang filter pushed to scan, html pruned into extract only)
   -> candidates.sentence_stage (ONE mapInPandas, a single JVM->Python
      crossing for the whole per-row path): html -> text -> sentence
      split/parse (the sentence source) -> candidate features (the
      emitter).  Every ingest path runs this same stage with its own
      source and emitter: documents text, CoreNLP XML, sentence rows;
      mentions and sentence rows instead of candidates
   -> candidates boundary: parquet (the reference's TFRecord boundary,
      S10) or a stage checkpoint — consumed twice (vocab agg +
      scoring) without recompute
   -> groupBy vocab counts (single shuffle, map-side partial agg) ->
      one Arrow collect, dense ids ranked on the driver
   -> mapInPandas score over broadcast {weights, vocab, KB} -> triples
   -> triples sink partitioned by rel
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgre import kb as kbmod
from kgre.candidates import (SLIM_CANDIDATES_SCHEMA, SLIM_COLS,
                             candidate_emitter, sentence_stage,
                             sentence_mention_rows)
from kgre.extract import extract_text_from_html
from kgre.parse import text_sentences
from kgre.score import score_candidates
from kgre.session import stage_checkpoint
from kgre.util import ensure_min_partitions
from kgre.vocab import build_vocab, collect_vocab_sets


def _lang_pages(pages: DataFrame, min_partitions) -> DataFrame:
    # English filter first => predicate pushdown to the scan; only
    # url+html survive into the Python stage (column pruning keeps the
    # blob out of every later exchange)
    slim = pages.filter(F.col("lang") == "en").select("url", "html")
    return ensure_min_partitions(slim, cols=("url",), target=min_partitions)


def _page_sentences(url, html):
    return text_sentences(url, extract_text_from_html(html))


def pages_to_candidates(pages: DataFrame, entity_a: str, entity_b: str,
                        stop_ids, min_partitions: int | None = None,
                        allow1=None, allow2=None) -> DataFrame:
    """Fused extract+parse+candidate stage (1 Python crossing) over the
    English pages.

    ``min_partitions``: the Python stage is the expensive one, so its
    parallelism must never be capped by the input file layout (a small
    parquet arrives as 1 split; at 100 TB the scan already yields thousands
    of splits and the repartition is skipped). Defaults to 2x the session's
    defaultParallelism; the shuffle moves only (url, html) once, after the
    lang filter.

    ``allow1``/``allow2``: optional entity-id allowlists (S5/F3,
    load_data.py:436-453, :553-567) applied inside the fused stage —
    broadcast-sized sets shipped in the closure, a map-side semi+anti join.
    """
    emit = candidate_emitter(entity_a, entity_b, stop_ids, allow1, allow2)
    return sentence_stage(_lang_pages(pages, min_partitions),
                          _page_sentences, emit)


def documents_to_candidates(docs: DataFrame, entity_a: str, entity_b: str,
                            stop_ids, with_sentence: bool = True
                            ) -> DataFrame:
    """Fused English documents -> candidates stage: ONE Python crossing
    for the synthetic-corpus path (guide §4: derive page text + sentence
    parse + candidate features in the same task, so neither the html blob
    nor the derived text ever crosses the Arrow boundary).

    Equivalent by construction to
    ``pages_to_candidates(pages_from_documents(docs, "en"), ...)`` — the
    html render + re-extract between those stages is the identity on the
    derived text (``extract_text_from_html(HTML_TEMPLATE.format(text=t))
    == t`` unless ``t`` contains the article close tag, in which case
    this falls back to the render+extract round-trip); equality is
    pinned by tests/test_fused.py.  The REAL html ingest path
    (``pages_to_candidates`` over a pages table) is unchanged and still
    what production, the CLI, and the scaling bench run — this fusion
    only removes the render->unrender round-trip where the input is the
    driver's documents table.

    ``with_sentence=False`` additionally drops (sent_text, start_tok,
    end_tok) from the OUTPUT schema, so the widest column never crosses
    the Arrow boundary when the consumer is the TEST-mode scorer.
    """
    from kgre.webtext import doc_to_page, page_text

    def sentences(doc_id, dtext):
        doc_id = int(doc_id)
        text = page_text(doc_id, dtext)
        if "</p></article>" in text:   # pragma: no cover
            page = doc_to_page(doc_id, dtext, "")
            text = extract_text_from_html(page["html"])
        return text_sentences("https://docs.example/d%d" % doc_id, text)

    slim = ensure_min_partitions(
        docs.filter(F.col("lang") == "en").select("doc_id", "text"),
        cols=("doc_id",))
    out = () if with_sentence else (SLIM_CANDIDATES_SCHEMA, SLIM_COLS)
    return sentence_stage(slim, sentences, candidate_emitter(
        entity_a, entity_b, stop_ids), *out)


MENTIONS_SCHEMA = "url string, side string, entity_key string"


def _mentions(slim: DataFrame, sentences, entity_a: str,
              entity_b: str) -> DataFrame:
    def emit(url, s):
        return sentence_mention_rows(url, s["tokens"], entity_a, entity_b)

    return sentence_stage(slim, sentences, emit, MENTIONS_SCHEMA,
                          ("url", "side", "entity_key"))


def pages_to_mentions(pages: DataFrame, entity_a: str, entity_b: str
                      ) -> DataFrame:
    """Fused extract+parse+mention stage over the English pages for
    EVAL_DATA (S15/X5,
    load_data.py:828-871): one row per counted mention occurrence;
    ``entity_a``/``entity_b`` are EXACT NER keys here (the reference's
    dict-membership test), unlike the substring match of pair generation."""
    return _mentions(_lang_pages(pages, None), _page_sentences, entity_a,
                     entity_b)


def sentences_to_mentions(sentences: DataFrame, entity_a: str,
                          entity_b: str) -> DataFrame:
    """EVAL_DATA mention rows from pre-parsed sentences (the CoreNLP-XML
    ingest path of ``pages_to_mentions`` — same stage and emitter, with
    each sentence row as its own source instead of extract/parse)."""
    return _mentions(sentences.select("url", "tokens"),
                     lambda url, tokens: ((url, {"tokens": tokens}),),
                     entity_a, entity_b)


class KgPipeline:
    """Orchestrates the flagship job. KB/ontology/stop inputs are
    dictionary-sized DataFrames; corpus inputs are arbitrarily large."""

    def __init__(self, spark: SparkSession, entity_a: str = "GENE",
                 entity_b: str = "ONTOLOGY", occur_count: int = 5):
        self.spark = spark
        self.entity_a = entity_a
        self.entity_b = entity_b
        self.occur_count = occur_count

    def prepare_kb(self, kb_rows_list, onto_rows):
        # dictionary-sized inputs -> pure driver-side prep, zero Spark jobs
        closure = kbmod.ontology_closure_dict(onto_rows)
        fwd, rev = kbmod.load_kb_sets(kb_rows_list, closure)
        return fwd, rev, sorted(fwd)

    def run(self, pages: DataFrame, kb_rows_list, onto_rows, stop_ids,
            emit_threshold: float | None = None):
        """pages -> (scored triples DF, vocab DF, key_order).

        ``emit_threshold=0.5`` pushes the emitted-triple gate into the
        scoring UDF (TEST mode); leave None to keep every row (predict)."""
        cands = pages_to_candidates(pages, self.entity_a, self.entity_b,
                                    stop_ids)
        return self.run_from_candidates(cands, kb_rows_list, onto_rows,
                                        emit_threshold=emit_threshold)

    def run_from_candidates(self, cands: DataFrame, kb_rows_list, onto_rows,
                            checkpoint_dir: str | None = None,
                            with_sentence: bool = False,
                            emit_threshold: float | None = None):
        """candidates -> (scored triples DF, vocab DF, key_order) — the
        vocab + scoring tail of ``run``, exposed so pre-parsed corpora
        (CoreNLP XML via kgre.corenlp -> candidates_from_sentences) enter
        the same plan after the ingest stage."""
        fwd, rev, key_order = self.prepare_kb(kb_rows_list, onto_rows)
        if checkpoint_dir:
            # materialized stage boundary (reference: per-file TFRecord
            # shards, load_data.py:640-662) — vocab agg and scoring both
            # read the parquet, never recompute the Python stage
            cands.write.mode("overwrite").parquet(checkpoint_dir)
            cands = self.spark.read.parquet(checkpoint_dir)
        else:
            if not with_sentence:
                # TEST mode: the S14 sentence columns (the widest ones)
                # stay out of the checkpointed blocks
                cands = cands.select(*[c for c in SLIM_COLS
                                       if c in cands.columns])
            # computed once, read by the vocab count and the scoring job;
            # unlike a persist it leaves no CacheManager entry (its blocks
            # are freed with the frames).  Eager, so the stage runs inside
            # a SQL execution and its operator metrics are recorded
            cands = stage_checkpoint(cands)
        vocab_df = build_vocab(cands, self.occur_count)
        scored = score_candidates(cands, collect_vocab_sets(vocab_df),
                                  key_order, fwd, rev,
                                  with_sentence=with_sentence,
                                  emit_threshold=emit_threshold)
        return scored, vocab_df, key_order


def write_triples(scored: DataFrame, path: str) -> None:
    """S13 sink: partitioned by relation (the reference writes one TSV per
    relation key, relation_extraction.py:21-47)."""
    scored.write.mode("overwrite").partitionBy("rel").parquet(path)
