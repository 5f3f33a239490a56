"""Benchmark decontamination for training corpora (engine extension; no
reference counterpart — standard LLM-pipeline hygiene: before training,
drop corpus documents that overlap an evaluation/benchmark set, detected
by shared word n-grams à la the GPT-3 appendix-C 13-gram protocol).

Shape at 100 TB:

  * the benchmark side is SMALL by definition (an eval suite, not a
    corpus) — its distinct n-gram hash set is broadcast, so the overlap
    join is map-side;
  * the corpus side streams through tokenize → explode → hash inside one
    whole-stage-codegen pipeline (the token array is never shuffled, only
    the narrow ``(doc_id, h)`` stream);
  * one shuffle for the per-doc distinct, one for the per-doc counts —
    both keyed by ``doc_id``, no pair-shaped intermediates anywhere.

Hashes are the first 12 hex digits of md5 as a 48-bit int — the same
DuckDB-reproducible convention as ``textstats.winnow_fingerprints``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ngram_hash_stream(docs: DataFrame, n: int = 5) -> DataFrame:
    """The raw (one row per window position, duplicates included)
    word-``n``-gram hash stream: lower-case, whitespace-tokenize (empty
    tokens dropped), hash each n-token window.  Documents with fewer
    than ``n`` tokens contribute no rows.  Shared by decontamination
    (which distincts it) and textstats.repetition_stats (which counts
    the duplicates — they ARE its signal)."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "),
                    lambda t: t != "")
    base = (docs.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= n))
    # explode + slice + hash fuse into one codegen stage: the exploded
    # rows never materialize the token array past the hash projection
    return base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1)))
        .alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.conv(F.substring(
            F.md5(F.array_join(F.slice("toks", F.col("i"), n), " ")),
            1, 12), 16, 10).cast("bigint").alias("h"),
    )


def ngram_hashes(docs: DataFrame, n: int = 5) -> DataFrame:
    """Distinct word-``n``-gram hashes per document."""
    return ngram_hash_stream(docs, n).distinct()


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 5,
                  min_hits: int = 1) -> DataFrame:
    """Per-corpus-document overlap stats against the benchmark n-gram
    set: ``(doc_id, n_grams, n_hits, contamination, contaminated)``.
    ``contaminated`` is ``n_hits >= min_hits``.  Only documents with at
    least ``n`` tokens appear (shorter ones cannot overlap)."""
    bench_h = F.broadcast(ngram_hashes(benchmark, n).select("h").distinct()
                          .withColumn("_hit", F.lit(1)))
    doc_h = ngram_hashes(docs, n)
    stats = (doc_h.join(bench_h, "h", "left")
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_grams"),
                  F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
                  .alias("n_hits")))
    return stats.select(
        "doc_id", "n_grams", "n_hits",
        F.round(F.col("n_hits") / F.col("n_grams"), 4)
        .alias("contamination"),
        (F.col("n_hits") >= min_hits).alias("contaminated"),
    )


def drop_contaminated(docs: DataFrame, benchmark: DataFrame, n: int = 5,
                      min_hits: int = 1) -> DataFrame:
    """The corpus with contaminated documents removed (documents too
    short to form an n-gram are kept — they cannot leak a benchmark)."""
    flagged = (decontaminate(docs, benchmark, n, min_hits)
               .filter(F.col("contaminated")).select("doc_id"))
    return docs.join(flagged, "doc_id", "left_anti")
