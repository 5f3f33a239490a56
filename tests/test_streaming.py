"""Incremental ingest: the streaming path must emit EXACTLY the batch
path's triples on the same input with the same frozen vocab (the stream is
just micro-batched execution of the same plan)."""

from collections import Counter

from pyspark.sql import functions as F

from kgre import kb as kbmod
from kgre import streaming, synthgen
from kgre.pipeline import pages_to_candidates
from kgre.score import emitted_triples, score_candidates
from kgre.vocab import build_vocab, collect_vocab_sets

KEY = ["url", "sent_id", "pair_idx", "is_reverse", "rel"]


def _multiset(df):
    rows = df.select(*KEY, F.round("prob", 9).alias("p")).collect()
    return Counter(tuple(r) for r in rows)


def test_stream_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    # several files -> several micro-batches (maxFilesPerTrigger=4)
    synthgen.pages_df(spark, 80).repartition(8).write.parquet(pages_dir)
    stop = synthgen.stop_entity_ids()

    # frozen vocab + KB state from a prior batch build (reference TEST mode)
    batch_cands = pages_to_candidates(
        spark.read.parquet(pages_dir), "GENE", "ONTOLOGY", stop).persist()
    vocabs = collect_vocab_sets(build_vocab(batch_cands, 2))
    closure = kbmod.ontology_closure_dict(synthgen.ontology_rows())
    fwd, rev = kbmod.load_kb_sets(synthgen.kb_rows(), closure)
    batch = emitted_triples(
        score_candidates(batch_cands, vocabs, sorted(fwd), fwd, rev))
    expected = _multiset(batch)
    assert expected, "batch path must emit triples"

    out = str(tmp_path / "triples")
    q = streaming.stream_triples(
        spark, pages_dir, out, str(tmp_path / "ckpt"),
        synthgen.kb_rows(), synthgen.ontology_rows(), stop, vocabs)
    assert q.awaitTermination(300), "stream did not drain in time"
    got = _multiset(spark.read.parquet(out))
    assert got == expected
    batch_cands.unpersist()


def test_stream_resume_is_exactly_once(spark, tmp_path):
    """Restarting with the same checkpoint must not duplicate output."""
    pages_dir = str(tmp_path / "pages")
    synthgen.pages_df(spark, 40).repartition(4).write.parquet(pages_dir)
    stop = synthgen.stop_entity_ids()
    cands = pages_to_candidates(
        spark.read.parquet(pages_dir), "GENE", "ONTOLOGY", stop)
    vocabs = collect_vocab_sets(build_vocab(cands, 2))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    for _ in range(2):  # second run: offsets already committed -> no-op
        q = streaming.stream_triples(
            spark, pages_dir, out, ckpt,
            synthgen.kb_rows(), synthgen.ontology_rows(), stop, vocabs)
        assert q.awaitTermination(300)

    n = spark.read.parquet(out).count()
    first = _multiset(spark.read.parquet(out))
    assert sum(first.values()) == n
    assert max(first.values()) == 1, "restart duplicated micro-batch output"


def test_mid_batch_replay_does_not_duplicate(spark, tmp_path):
    """Crash-after-sink-write semantics: re-running the SAME batch_id
    (what a foreachBatch replay does) must leave the sink unchanged."""
    pages = synthgen.pages_df(spark, 30)
    stop = synthgen.stop_entity_ids()
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY", stop).persist()
    vocabs = collect_vocab_sets(build_vocab(cands, 2))
    closure = kbmod.ontology_closure_dict(synthgen.ontology_rows())
    fwd, rev = kbmod.load_kb_sets(synthgen.kb_rows(), closure)
    out = str(tmp_path / "out")
    process = streaming.batch_processor(out, vocabs, sorted(fwd), fwd, rev)
    process(cands, 7)
    once = _multiset(spark.read.parquet(out))
    process(cands, 7)   # replay of the same micro-batch
    twice = _multiset(spark.read.parquet(out))
    assert once == twice and once
    assert max(twice.values()) == 1
    cands.unpersist()


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: a fingerprint emits its
    FIRST page only, even when duplicates arrive in later micro-batches."""
    import pandas as pd

    pages_dir = str(tmp_path / "pages")
    # 3 files = 3 micro-batches (maxFilesPerTrigger=1 below is implicit
    # via separate writes); duplicates within AND across files
    base = synthgen.gen_pages_rows(6)
    rows = []
    for i, p in enumerate(base):
        rows.append((p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]))
    dup = rows[0]
    for fidx, chunk in enumerate((rows[:2] + [dup], rows[2:4] + [dup],
                                  rows[4:] + [(dup[0] + "x", *dup[1:])])):
        spark.createDataFrame(chunk, synthgen.PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(pages_dir)
    stream = streaming.read_page_stream(spark, pages_dir,
                                        max_files_per_trigger=1)
    out = str(tmp_path / "dedup_out")
    q = (streaming.dedup_page_stream(stream)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300)
    got = spark.read.parquet(out)
    fps = [r["fp"] for r in got.collect()]
    assert len(fps) == len(set(fps)), "a fingerprint was emitted twice"
    # every distinct text is represented exactly once, by its min url
    batch_fp = {}
    for url, _, _, text, _ in rows + [(dup[0] + "x", *dup[1:])]:
        batch_fp.setdefault(text, set()).add(url)
    assert len(fps) == len(batch_fp)
    by_fp = {r["fp"]: r["url"] for r in got.collect()}
    for text, urls in batch_fp.items():
        assert min(urls) in by_fp.values()


def test_windowed_page_counts_watermark(spark, tmp_path):
    """Watermarked tumbling windows: closed windows emit exactly once
    with the right totals."""
    from datetime import datetime, timedelta

    pages_dir = str(tmp_path / "pages")
    t0 = datetime(2024, 1, 1)
    rows = []
    for h in range(8):           # 8 hourly windows
        for j in range(h + 1):   # h+1 pages in window h
            rows.append(("u%d_%d" % (h, j), t0 + timedelta(hours=h, minutes=j),
                         b"<html></html>", "t", "en"))
    spark.createDataFrame(rows, synthgen.PAGES_SCHEMA).repartition(4) \
        .write.mode("overwrite").parquet(pages_dir)
    stream = streaming.read_page_stream(spark, pages_dir)
    out = str(tmp_path / "win_out")
    q = (streaming.windowed_page_counts(stream)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300)
    got = {(r["win_start"].hour, r["n_pages"])
           for r in spark.read.parquet(out).collect()}
    starts = [h for h, _ in got]
    assert len(starts) == len(set(starts)), "a window emitted twice"
    for h, n in got:
        assert n == h + 1, (h, n)
    # windows more than the watermark behind the max event time closed
    assert {h for h, _ in got} >= {0, 1, 2, 3, 4}


def test_streaming_data_ops_match_batch(spark, tmp_path):
    """The map-only crawl hygiene ops (PII scrub, quality score, URL
    canonicalization) are pure Catalyst expressions, so the SAME
    transformation applied to a readStream emits exactly the batch
    result — corpus hygiene can run incrementally as crawl shards
    land."""
    from kgre import pii, textstats, urls

    docs_dir = str(tmp_path / "docs")
    rows = [(i,
             f"contact me at user{i}@example.com or 10.0.0.{i % 250} "
             "about the quick brown fox and the lazy dog",
             f"HTTPS://Site{i % 5}.Example.COM:443/p?utm_source=x&b={i % 3}")
            for i in range(40)]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, url string")
    df.repartition(4).write.parquet(docs_dir)

    def transform(d):
        scrubbed = d.select("doc_id", "url",
                            pii.scrubbed_text("text").alias("text"))
        # one fused map-only projection: no joins, no state -> the
        # streaming plan is identical to the batch plan per micro-batch
        return (urls.canonicalize_urls(scrubbed, "url")
                .withColumn("quality", textstats.quality_col())
                .select("doc_id", "text", "canon_url", "host", "quality"))

    batch = {tuple(r) for r in transform(spark.read.parquet(docs_dir))
             .collect()}

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(
        "doc_id long, text string, url string")
        .option("maxFilesPerTrigger", 1).parquet(docs_dir))
    q = (transform(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == batch and len(got) == 40
    # and the scrub actually redacted: no raw emails/IPs in the stream
    assert not any("@example.com" in t for _, t, *_ in got)
