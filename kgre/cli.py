"""spark-submit entry point mirroring the reference CLI's mode dispatch
(reference ``relation_extraction.py:430-565`` — TRAIN_* / TEST / PREDICT /
EVAL_DATA via ``sys.argv[1]``).

Usage (north_rule: "run via spark-submit --py-files"):

    zip -r kgre.zip kgre
    spark-submit --py-files kgre.zip -m kgre.cli <mode> [options]
    # or: spark-submit --py-files kgre.zip path/to/kgre/cli.py <mode> ...

Modes:
  build      corpus pass: pages -> materialized candidates + vocab table
             (reference TRAIN_FEED_FORWARD's two corpus passes collapsed to
             one materialized candidates table, relation_extraction.py:336-427)
  score      candidates/pages -> scored triples partitioned by rel
             (reference TEST, relation_extraction.py:508-537; sink S13 :21-47)
  predict    like score but keeps every pair (label=-1 semantics) and adds
             the ***entity*** highlighted sentence column
             (reference PREDICT, relation_extraction.py:539-562, S14)
  eval-data  entity distribution sinks (reference EVAL_DATA,
             relation_extraction.py:217-250, S15)
  clean      training-data-pipeline recipe: exact dedup -> near-dup
             collapse -> quality/lang filters -> KG pipeline with
             lineage-manifest resume (no reference counterpart; the
             composition of the engine's dedup/textstats operators)

build, score --resume and clean materialize the candidates one way:
<out>/candidates in --buckets key-hash buckets with a lineage manifest
(kgre.lineage); a rerun recomputes only buckets whose input changed.

Input pages: --pages <parquet dir> with columns
(url, warc_ts, html, text, lang), or --synth N for the deterministic
generator corpus (no external data).
"""

from __future__ import annotations

import argparse
import hashlib
import sys

import pandas as pd
from pyspark.sql import functions as F

from kgre import kb as kbmod
from kgre import synthgen, webtext
from kgre.lineage import run_stage_with_resume
from kgre.pipeline import KgPipeline, pages_to_candidates, write_triples
from kgre.score import emitted_triples
from kgre.session import get_spark, stage_checkpoint
from kgre.vocab import build_vocab


def _load_pages(spark, args):
    if args.pages:
        # S2 directory-walk + F5 file-suffix predicate as scan options
        # (reference: os.walk + endswith('.txt'), load_data.py:457-475):
        # both evaluated at file listing, before any bytes are read
        reader = spark.read
        if args.pages_glob:
            reader = reader.option("pathGlobFilter", args.pages_glob)
        if args.recursive:
            reader = reader.option("recursiveFileLookup", "true")
        return reader.parquet(args.pages)
    if args.documents:
        return webtext.pages_from_documents(spark.read.parquet(args.documents),
                                            lang="en")
    return synthgen.pages_df(spark, args.synth)


def _pipe(spark, args) -> KgPipeline:
    return KgPipeline(spark, entity_a=args.entity_a, entity_b=args.entity_b,
                      occur_count=args.occur_count)


def _allowlists(args):
    """S5 id-list scans (reference CLI passes optional entity-id TSVs,
    load_data.py:436-453); None disables the F3 filter for that side."""
    a1 = kbmod.load_id_list(args.allow1_file) if args.allow1_file else None
    a2 = kbmod.load_id_list(args.allow2_file) if args.allow2_file else None
    return a1, a2


def _ingest(spark, args):
    """(input frame, its bucket key column) of either ingest path: the
    --corenlp-xml files (binaryFile rows keyed by path) or the pages
    (keyed by url)."""
    if args.corenlp_xml:
        from kgre.corenlp import _binary_reader
        return _binary_reader(spark, args.pages_glob or "*.txt",
                              args.recursive).load(args.corenlp_xml), "path"
    return _load_pages(spark, args), "url"


def _to_candidates(args, a1, a2, min_partitions=None):
    """input frame -> candidates: the fused parse+candidates stage of the
    ingest path (one Python crossing), XML parse or html extract+parse.
    Every mode that consumes candidates routes through here, so the XML
    ingest is never silently ignored (ADVICE r3)."""
    stop = synthgen.stop_entity_ids()
    if args.corenlp_xml:
        from kgre.corenlp import corenlp_files_to_candidates
        return lambda files: corenlp_files_to_candidates(
            files, args.entity_a, args.entity_b, stop, allow1=a1, allow2=a2,
            on_error=args.xml_on_error)
    return lambda pages: pages_to_candidates(
        pages, args.entity_a, args.entity_b, stop,
        min_partitions=min_partitions, allow1=a1, allow2=a2)


def _load_candidates(spark, args, a1, a2):
    inputs, _ = _ingest(spark, args)
    return _to_candidates(args, a1, a2)(inputs)


def _materialized_candidates(spark, args, a1, a2, inputs, key_col):
    """The one materialized candidates boundary (build, score --resume,
    clean): the reference's skip-if-.tfrecord-exists
    (relation_extraction.py:393-399) per key-hash bucket, kgre.lineage.
    The stage name digests the transform's parameters, so other entity
    types, allowlists or XML error policy recompute."""
    params = (args.entity_a, args.entity_b,
              *[None if a is None else sorted(a) for a in (a1, a2)],
              args.xml_on_error)
    stage = "candidates-" + hashlib.sha1(
        repr(params).encode()).hexdigest()[:12]
    return run_stage_with_resume(
        spark, inputs, stage, _to_candidates(args, a1, a2, min_partitions=0),
        args.out + "/candidates", args.out + "/manifest",
        n_buckets=args.buckets, key_col=key_col)


def mode_build(spark, args):
    a1, a2 = _allowlists(args)
    cands = _materialized_candidates(spark, args, a1, a2,
                                     *_ingest(spark, args))
    build_vocab(cands, args.occur_count).write.mode("overwrite").parquet(
        args.out + "/vocab")
    print("BUILD ok: candidates=%d vocab=%d" % (
        cands.count(), spark.read.parquet(args.out + "/vocab").count()))


def _write_emitted(spark, args, cands):
    """candidates -> vocab -> score (TEST mode, the 0.5 gate inside the
    scorer) -> triples sink; returns (emitted rows, relation count)."""
    scored, _, key_order = _pipe(spark, args).run_from_candidates(
        cands, synthgen.kb_rows(), synthgen.ontology_rows(),
        emit_threshold=0.5)
    write_triples(emitted_triples(scored), args.out + "/triples")
    return spark.read.parquet(args.out + "/triples").count(), len(key_order)


def mode_score(spark, args):
    a1, a2 = _allowlists(args)
    if args.resume:
        cands = _materialized_candidates(spark, args, a1, a2,
                                         *_ingest(spark, args))
    else:
        cands = _load_candidates(spark, args, a1, a2)
    n, n_rels = _write_emitted(spark, args, cands)
    print("SCORE ok: emitted=%d rels=%d" % (n, n_rels))


def mode_predict(spark, args):
    from kgre.score import highlight_sentences

    # XML sentences carry sent_text, so the highlight sink works
    # identically off either ingest path
    a1, a2 = _allowlists(args)
    scored, _, _ = _pipe(spark, args).run_from_candidates(
        _load_candidates(spark, args, a1, a2), synthgen.kb_rows(),
        synthgen.ontology_rows(), with_sentence=True)
    # rich sink S14: all pairs with probabilities, no 0.5 gate; label is
    # -1 in predict mode (build_instances_predict, load_data.py:336-338),
    # and each row carries the ***entity***-highlighted sentence in the
    # reference's TSV layout PMID/E1/E2/LABEL/PROB/SENTENCE
    # (relation_extraction.py:548-562)
    out = highlight_sentences(scored).withColumn("label", F.lit(-1))
    out = out.withColumn(
        "display",
        F.concat_ws("\t", "url", "subj", "obj",
                    F.col("label").cast("string"),
                    F.round("prob", 6).cast("string"), "sentence"))
    out.drop("sent_text").write.mode("overwrite").partitionBy("rel").parquet(
        args.out + "/predictions")
    print("PREDICT ok: rows=%d" %
          spark.read.parquet(args.out + "/predictions").count())


def mode_eval_data(spark, args):
    from kgre.pipeline import pages_to_mentions, sentences_to_mentions

    inputs, _ = _ingest(spark, args)
    cands = _to_candidates(args, None, None)(inputs)
    # S15 (relation_extraction.py:217-250): per-side entity occurrence
    # distribution, count ascending
    for side in ("subj", "obj"):
        (cands.groupBy(side).agg(F.count("*").alias("cnt"))
         .orderBy("cnt", side)
         .write.mode("overwrite").parquet(f"{args.out}/dist_{side}"))
    # X5 (load_data.py:828-871): mention-level norm|lemma-phrase
    # distribution; entity types are EXACT NER keys here (the reference
    # dict-membership test), e.g. HUMAN_GENE, not the GENE substring
    if args.corenlp_xml:
        from kgre.corenlp import corenlp_xml_to_sentences
        mentions = sentences_to_mentions(corenlp_xml_to_sentences(inputs),
                                         args.eval_ner_a, args.eval_ner_b)
    else:
        mentions = pages_to_mentions(inputs, args.eval_ner_a, args.eval_ner_b)
    (mentions.groupBy("side", "entity_key").agg(F.count("*").alias("cnt"))
     .orderBy("cnt", "entity_key")
     .write.mode("overwrite").parquet(f"{args.out}/dist_phrases"))
    print("EVAL_DATA ok")


def mode_train(spark, args):
    """Reference TRAIN_FEED_FORWARD (relation_extraction.py:336-427):
    candidates -> vocab -> offline Adam logistic fit -> weights table."""
    from kgre import train
    from kgre.vocab import collect_vocab_sets

    cands = stage_checkpoint(_load_candidates(spark, args, None, None),
                             eager=False)
    vocab_df = build_vocab(cands, args.occur_count)
    vocab_df.write.mode("overwrite").parquet(args.out + "/vocab")
    vocabs = collect_vocab_sets(vocab_df)
    fwd, rev, key_order = _pipe(spark, args).prepare_kb(
        synthgen.kb_rows(), synthgen.ontology_rows())
    wt, losses = train.train_model(cands, vocabs, key_order, fwd, rev,
                                   epochs=args.epochs)
    train.weights_to_df(spark, wt, key_order).write.mode(
        "overwrite").parquet(args.out + "/weights")
    print("TRAIN ok: loss %.4f -> %.4f, weights=%d" % (
        losses[0], losses[-1],
        spark.read.parquet(args.out + "/weights").count()))


def mode_train_lstm(spark, args):
    """Reference TRAIN_LSTM (M4, tf_lstm.py:75-368): candidates -> LSTM
    vocabs (min-count 0, load_data.py:605-610) -> offline numpy Adam+BPTT
    fit -> weights table keyed by feature/relation string."""
    from kgre import lstm, lstm_train

    a1, a2 = _allowlists(args)
    cands = stage_checkpoint(_load_candidates(spark, args, a1, a2),
                             eager=False)
    # bounded distributed vocab build — no unbounded driver collect
    dep_vocab, word_vocab = lstm.lstm_vocab_features(
        cands, max_words=args.lstm_max_words)
    fwd, rev, key_order = _pipe(spark, args).prepare_kb(
        synthgen.kb_rows(), synthgen.ontology_rows())
    params, losses = lstm_train.train_lstm_model(
        cands, dep_vocab, word_vocab, key_order, fwd, rev,
        epochs=args.epochs)
    lstm_train.lstm_weights_to_df(
        spark, params, dep_vocab, word_vocab, key_order
    ).write.mode("overwrite").parquet(args.out + "/lstm_weights")
    print("TRAIN_LSTM ok: loss %.4f -> %.4f" % (losses[0], losses[-1]))


def mode_clean(spark, args):
    """End-to-end "clean corpus" recipe (VERDICT r3 #8): exact dedup ->
    near-dup collapse (LSH pairs -> connected components, keep the
    component min) -> quality/language filters -> KG pipeline with
    lineage-manifest resume.  Every stage is an individually-tested
    operator; this mode is the documented composition so a user doesn't
    wire them by hand.

    Input: --documents parquet (doc_id, text, lang).  Output under --out:
      clean_docs/       surviving documents
      clean_manifest/   per-stage (stage, rows_in, rows_out, wall_ms)
      candidates/ + manifest/   lineage-bucketed candidates stage
                        (a rerun skips buckets whose input is unchanged)
      triples/          emitted triples partitioned by rel
    """
    from kgre.clean import clean_documents

    if args.corenlp_xml:
        raise SystemExit("clean mode operates on --documents; "
                         "--corenlp-xml is not supported here")
    if not args.documents:
        raise SystemExit("clean mode requires --documents <parquet>")
    if args.host_cap is not None and args.url_col is None:
        raise SystemExit("--host-cap requires --url-col")
    docs = stage_checkpoint(spark.read.parquet(args.documents), eager=False)
    bench = (spark.read.parquet(args.decontam_bench)
             if args.decontam_bench else None)
    stages: list = []
    clean = clean_documents(docs, neardup_threshold=args.neardup_threshold,
                            min_quality=args.min_quality,
                            lang_threshold=args.lang_threshold,
                            manifest=stages,
                            max_bucket=args.max_bucket or None,
                            url_col=args.url_col,
                            line_dedup_min_count=args.line_dedup_min_count,
                            max_rep_frac=args.max_rep_frac,
                            max_bits=args.max_bits,
                            decontam_bench=bench,
                            host_cap=args.host_cap,
                            token_budget=args.token_budget)
    clean.write.mode("overwrite").parquet(args.out + "/clean_docs")
    clean = spark.read.parquet(args.out + "/clean_docs")
    by_stage = {s[0]: s for s in stages}
    n0, n1 = by_stage["exact_dedup"][1], by_stage["exact_dedup"][2]
    n2, n3 = by_stage["near_dedup"][2], by_stage["quality_lang"][2]
    capped_b, capped_r = (by_stage["near_dedup_caps"][1],
                          by_stage["near_dedup_caps"][2])
    # pandas, not a list: a list-built frame starts a plain-RDD Python
    # worker pool just to convert these rows
    spark.createDataFrame(
        pd.DataFrame(stages),
        "stage string, rows_in long, rows_out long, wall_ms long"
    ).write.mode("overwrite").parquet(args.out + "/clean_manifest")
    # KG pipeline over the cleaned corpus, candidates stage bucketed
    # through the lineage manifest (crash-safe resume)
    pages = webtext.pages_from_documents(clean, lang="en")
    n_triples, _ = _write_emitted(spark, args, _materialized_candidates(
        spark, args, None, None, pages, "url"))
    url_note = ""
    if "url_dedup" in by_stage:
        url_note = ("url %d -> %d; "
                    % (by_stage["url_dedup"][1], by_stage["url_dedup"][2]))
    extra = [s for s in stages
             if s[0] in ("line_dedup", "repetition", "perplexity",
                         "decontaminate", "host_cap", "token_budget")]
    extra_note = "".join(" -> %s %d" % (s[0], s[2]) for s in extra)
    print("CLEAN ok: %sdocs %d -> exact %d -> neardup %d -> quality %d%s; "
          "triples=%d; capped_buckets=%d capped_rows=%d"
          % (url_note, n0, n1, n2, n3, extra_note, n_triples,
             capped_b, capped_r))


MODES = {"build": mode_build, "score": mode_score, "predict": mode_predict,
         "eval-data": mode_eval_data, "train": mode_train,
         "train-lstm": mode_train_lstm, "clean": mode_clean}


def main(argv=None):
    p = argparse.ArgumentParser(prog="kgre", description=__doc__)
    p.add_argument("mode", choices=sorted(MODES))
    p.add_argument("--pages", help="parquet dir of pages")
    p.add_argument("--pages-glob", default=None,
                   help="pathGlobFilter for --pages (F5 file-suffix "
                        "predicate, e.g. '*.parquet')")
    p.add_argument("--recursive", action="store_true",
                   help="recursiveFileLookup for --pages (S2 directory walk)")
    p.add_argument("--documents", help="parquet file of driver documents")
    p.add_argument("--corenlp-xml", default=None,
                   help="directory of Stanford-CoreNLP XML .txt files "
                        "(the reference's real input format) — S1-compat "
                        "ingest bypassing the html extract/parse stage")
    p.add_argument("--xml-on-error", choices=["fail", "skip"],
                   default="fail",
                   help="corenlp ingest: fail the job on an unparseable "
                        "file (reference parity) or skip it (web-scale "
                        "permissive mode; audit with "
                        "kgre.corenlp.corenlp_corrupt_files)")
    p.add_argument("--synth", type=int, default=200,
                   help="generate N synthetic pages when no input given")
    p.add_argument("--out", default="/tmp/kgre_cli_out")
    p.add_argument("--entity-a", default="GENE")
    p.add_argument("--entity-b", default="ONTOLOGY")
    p.add_argument("--occur-count", type=int, default=5,
                   help="vocab min count (reference uses 100 at corpus scale)")
    p.add_argument("--allow1-file", default=None,
                   help="entity-id allowlist TSV for side 1 (S5/F3, "
                        "load_data.py:436-453, :553-567)")
    p.add_argument("--allow2-file", default=None,
                   help="entity-id allowlist TSV for side 2")
    p.add_argument("--eval-ner-a", default="HUMAN_GENE",
                   help="exact NER key for eval-data phrase counts (X5)")
    p.add_argument("--eval-ner-b", default="ONTOLOGY",
                   help="exact NER key for eval-data phrase counts, side 2")
    p.add_argument("--epochs", type=int, default=40,
                   help="training epochs (reference default is 250)")
    p.add_argument("--lstm-max-words", type=int, default=500_000,
                   help="LSTM word-vocab bound: keep the top-N corpus "
                        "words by count (min-count-0 reference semantics "
                        "but bounded driver collect)")
    p.add_argument("--resume", action="store_true",
                   help="score: materialize the candidates as build and "
                        "clean do, per key-hash bucket with a lineage "
                        "manifest; reruns skip buckets whose input is "
                        "unchanged")
    p.add_argument("--buckets", type=int, default=8,
                   help="lineage bucket count of the materialized "
                        "candidates (build, score --resume, clean)")
    p.add_argument("--neardup-threshold", type=float, default=0.6,
                   help="clean mode: MinHash-LSH Jaccard threshold for the "
                        "near-dup collapse")
    p.add_argument("--min-quality", type=float, default=0.1,
                   help="clean mode: minimum textstats composite quality "
                        "score (stopword/vowel ratio blend)")
    p.add_argument("--lang-threshold", type=float, default=0.08,
                   help="clean mode: language-ID stopword-density cutoff "
                        "for keeping a doc as English")
    p.add_argument("--url-col", default=None,
                   help="clean mode: name of a URL column to dedup by "
                        "canonical URL (kgre.urls) BEFORE the text "
                        "stages; omit for corpora without URLs")
    p.add_argument("--line-dedup-min-count", type=int, default=None,
                   help="clean mode: strip every copy of any line "
                        "occurring this many times corpus-wide (C4 line "
                        "dedup) before doc-level dedup")
    p.add_argument("--max-rep-frac", type=float, default=None,
                   help="clean mode: drop docs whose duplicate-3-gram "
                        "fraction (Gopher repetition signal) exceeds this")
    p.add_argument("--max-bits", type=float, default=None,
                   help="clean mode: drop docs scoring above this "
                        "bits-per-token under a bigram LM trained on the "
                        "surviving docs (CCNet-style perplexity filter)")
    p.add_argument("--decontam-bench", default=None,
                   help="clean mode: parquet of benchmark docs (doc_id, "
                        "text); drop corpus docs sharing >= 3 5-gram "
                        "windows with it")
    p.add_argument("--host-cap", type=int, default=None,
                   help="clean mode: keep at most this many docs per "
                        "canonical host (requires --url-col)")
    p.add_argument("--token-budget", type=int, default=None,
                   help="clean mode: per-source token quota "
                        "(deterministic greedy take in hash order)")
    p.add_argument("--max-bucket", type=int, default=10_000,
                   help="clean mode: LSH band-bucket width cap for the "
                        "near-dup stage (0 = uncapped); capped "
                        "bucket/row counts land in clean_manifest as "
                        "the near_dedup_caps row")
    p.add_argument("--reliable-checkpoint", metavar="DIR", default=None,
                   help="store stage checkpoints as recoverable "
                        ".checkpoint() files under DIR (HDFS path on a "
                        "real cluster) instead of the executor-local "
                        "localCheckpoint default — survives executor "
                        "loss (see kgre.session.stage_checkpoint)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    spark = get_spark("kgre-" + args.mode, master=args.master)
    if args.reliable_checkpoint:
        spark.conf.set("spark.kgre.reliableCheckpoint", "true")
        spark.sparkContext.setCheckpointDir(args.reliable_checkpoint)
    MODES[args.mode](spark, args)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
