"""Line-level corpus cleaning (engine extension): the C4 line dedup
(Raffel et al. 2020 §2.2) — dedup the corpus at LINE granularity (any
line occurring at least ``min_count`` times across the corpus is
boilerplate: navigation chrome, cookie banners, license footers — remove
every copy).

Shape: lines explode to a (doc_id, line_no, hash) stream — the same
narrow-stream idiom as the n-gram ops; the hot-line set comes from one
partial-agg count (output is distinct-line sized); removal is an
anti-join by hash; documents reassemble with one groupBy collecting
(line_no, line) structs — sorted in-row, never a window.  Pure Catalyst
end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def line_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, line_no, line) — one row per newline-separated line,
    original order preserved via line_no."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("line_no", "line"))


def _reassemble(lines: DataFrame, out_col: str = "text") -> DataFrame:
    """(doc_id, line_no, line) -> (doc_id, text): sort the surviving
    lines in-row (array_sort on (line_no, line) structs — no window)
    and rejoin with newlines.  Docs whose every line was removed emit
    an empty-text row (dropping is the caller's policy)."""
    return (lines.groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("line_no", "line"))),
                    lambda s: s["line"]),
                "\n").alias(out_col)))


def dedup_lines(docs: DataFrame, min_count: int = 3,
                text_col: str = "text") -> DataFrame:
    """C4 line dedup: remove EVERY copy of any line whose total
    occurrence count across the corpus is >= ``min_count``; rebuild each
    doc's text from its surviving lines (empty text if none survive).
    Returns (doc_id, text)."""
    from kgre.session import stage_checkpoint

    # the line stream is referenced twice (hot-line count + the
    # anti-join side) and Spark does not share common subplans; the lazy
    # checkpoint runs the split/posexplode/md5 pass once (measured
    # 1.40->0.97s at sf0.1, identical rows).  The stored rows carry the
    # line text — the same rows the anti-join shuffles anyway — and the
    # checkpoint flavor is a session config for clusters with executor
    # churn (session.stage_checkpoint).
    lines = stage_checkpoint(
        line_stream(docs, text_col).withColumn("h", F.md5(F.col("line"))),
        eager=False)
    hot = (lines.groupBy("h").agg(F.count("*").alias("c"))
           .filter(F.col("c") >= min_count).select("h"))
    kept = lines.join(hot, "h", "left_anti").drop("h")
    return (docs.select("doc_id")
            .join(_reassemble(kept), "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col(text_col), F.lit("")).alias(text_col)))
