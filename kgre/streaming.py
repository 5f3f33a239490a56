"""Incremental (Structured Streaming) ingest of the pages table.

The reference is a batch corpus pipeline with a file-existence resume
check (relation_extraction.py:393-399) — it has no streaming semantics
(SURVEY.md §2.12).  At Common-Crawl scale, however, new WARC drops arrive
continuously, so the engine exposes an incremental path:

  readStream(pages parquet dir)
    -> same fused extract/parse/candidates stage (pages_to_candidates is
       plan-compatible with streaming DataFrames: filter/select/mapInPandas
       only, no repartition on the streaming side)
    -> foreachBatch: distant-label + score each micro-batch against the
       broadcast KB and a FROZEN vocab (exactly the reference's TEST mode:
       dictionaries are loaded from the pickle of a prior training pass,
       relation_extraction.py:185-187, never updated online)
    -> IDEMPOTENT per-batch sink: each micro-batch overwrites its own
       out_dir/batch=<batch_id> partition, so a crash between the sink
       write and the streaming offset commit replays the batch into the
       same directory instead of appending a duplicate — end-to-end
       exactly-once (foreachBatch itself is only at-least-once; the
       batch_id-keyed overwrite is what upgrades it).

Checkpointing is Spark's streaming offset log layered on the same
lineage-manifest model used by the batch path (kgre/lineage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgre.pipeline import KgPipeline, pages_to_candidates, write_triples
from kgre.score import emitted_triples, score_candidates
from kgre.synthgen import PAGES_SCHEMA


def read_page_stream(spark: SparkSession, pages_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a pages parquet directory (new files = new
    micro-batches; at production scale this is the Iceberg/warc drop
    directory)."""
    reader = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger or 4))
    return reader.parquet(pages_dir)


def batch_processor(out_dir: str, vocabs, key_order, fwd, rev):
    """foreachBatch body: score a candidates micro-batch and OVERWRITE its
    batch_id-keyed output partition.  Replaying the same batch_id (crash
    after sink write, before offset commit) rewrites identical content
    instead of appending duplicates — this is what makes the pipeline
    exactly-once end-to-end (tests call this directly to simulate a
    mid-batch replay)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_candidates(batch_df, vocabs, key_order, fwd, rev,
                                  emit_threshold=0.5)
        write_triples(emitted_triples(scored), f"{out_dir}/batch={batch_id}")

    return process_batch


def stream_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    kb_rows_list,
    onto_rows,
    stop_ids,
    vocabs: dict[str, set],
):
    """Start the incremental GENE/ONTOLOGY pages->triples job; returns
    the StreamingQuery.  It drains everything currently in the directory,
    then stops (the ``availableNow`` trigger: a rerun picks up the pages
    added since, exactly once).

    ``vocabs`` is the frozen vocabulary of a prior batch ``build`` run
    (mode_build in kgre/cli.py) — scoring state is broadcast once, never
    mutated by the stream."""
    fwd, rev, key_order = KgPipeline(spark).prepare_kb(kb_rows_list,
                                                       onto_rows)

    stream = read_page_stream(spark, pages_dir)
    cands = pages_to_candidates(stream, "GENE", "ONTOLOGY", stop_ids,
                                min_partitions=0)
    process_batch = batch_processor(out_dir, vocabs, key_order, fwd, rev)
    return (cands.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def dedup_page_stream(pages_stream: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator: cross-micro-batch exact dedup
    — emit each content fingerprint's FIRST page only, ever (later
    micro-batches carrying the same fingerprint emit nothing).

    Built on ``applyInPandasWithState`` keyed by the content fingerprint
    (the engine's custom-stateful-operator surface; state = seen flag in
    the streaming state store, checkpointed with the offsets, so resume
    keeps dedup exact).  Within a batch the earliest url wins
    (deterministic).  At cluster scale the state store shards by the
    group key, i.e. the dedup is distributed exactly like a shuffle by
    fingerprint."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (StringType, StructField, StructType)

    from kgre.textstats import normalized_text

    out_schema = StructType([
        StructField("fp", StringType()),
        StructField("url", StringType()),
        StructField("text", StringType()),
    ])
    state_schema = StructType([StructField("seen", StringType())])

    def keep_first(key, pdfs, state):
        import pandas as pd
        first = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            row = pdf.sort_values("url").iloc[0]
            if first is None or row["url"] < first["url"]:
                first = row
        if state.exists or first is None:
            # fingerprint already emitted in an earlier batch
            return iter(())
        state.update(("y",))
        return iter([pd.DataFrame({"fp": [key[0]], "url": [first["url"]],
                                   "text": [first["text"]]})])

    fp = pages_stream.select(
        F.col("url"), F.col("text"),
        F.md5(normalized_text("text")).alias("fp"))
    return fp.groupBy("fp").applyInPandasWithState(
        keep_first, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def windowed_page_counts(pages_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window ingest statistics: pages per
    (1-hour window, lang), tolerating 2 hours of event-time lateness on
    ``warc_ts`` before a window finalizes — the standard late-data
    pattern for continuous WARC drops (no reference counterpart;
    SURVEY.md §2.12 extension)."""
    return (pages_stream
            .withWatermark("warc_ts", "2 hours")
            .groupBy(F.window("warc_ts", "1 hour").alias("win"), "lang")
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("win.start").alias("win_start"), "lang",
                    "n_pages"))
