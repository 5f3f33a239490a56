"""N-gram language-model perplexity scoring (engine extension): the
CCNet-style quality filter (Wenzek et al. 2020 — score each page by a
reference LM's perplexity; keep the natural-language head of the
distribution, drop gibberish/boilerplate tails).

The reference LM here is a Laplace-smoothed bigram model trained on a
reference slice of the corpus itself — deliberately simple so every
probability is a ratio of integer counts and the whole computation is
reproducible in DuckDB (the oracle recomputes identical scores; a real
deployment would swap in a KenLM table via the same join shape).

Scale shape: training is two partial-agg groupBys (output is
vocabulary-sized, not corpus-sized); scoring is the bigram stream joined
against the count tables by key — a plain shuffle join that Spark
broadcasts automatically when the LM is small — then one per-doc rollup.
Zero Python anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, w) — one row per adjacent token pair; lower-cased,
    whitespace-tokenized, empty tokens dropped; <2-token docs emit no
    rows.  Explode + element_at fuse into one codegen stage."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "),
                    lambda t: t != "")
    base = (docs.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 2))
    return base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("prev"),
        F.element_at("toks", F.col("i") + 1).alias("w"),
    )


def train_bigram_lm(train_docs: DataFrame
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables for a Laplace-smoothed bigram LM:
    ``(bigram_counts(prev, w, c), context_counts(prev, cp),
    vocab_size(vs) — one row)``.  All three are aggregation outputs:
    vocabulary-sized at worst, never corpus-sized."""
    from kgre.session import stage_checkpoint
    pairs = _bigram_stream(train_docs)
    # lazy-checkpoint the bigram table (vocabulary-sized — it IS the
    # model): it is referenced twice downstream (the scoring join and
    # the context rollup) and Spark does not share common subplans, so
    # without the cut each reference re-aggregates the training stream.
    bigrams = stage_checkpoint(
        pairs.groupBy("prev", "w").agg(F.count("*").alias("c")),
        eager=False)
    # c(prev) == sum over w of c(prev, w) exactly (integer counts), so
    # the context table rolls up from the bigram table instead of
    # re-scanning the training corpus (r6: 3 corpus-stream aggs -> 2)
    ctx = bigrams.groupBy("prev").agg(F.sum("c").alias("cp"))
    toks = F.filter(F.split(F.lower(F.col("text")), " "),
                    lambda t: t != "")
    vocab = (train_docs.select(F.explode(toks).alias("t"))
             .agg(F.countDistinct("t").alias("vs")))
    return bigrams, ctx, vocab


def bits_per_token(docs: DataFrame, bigrams: DataFrame, ctx: DataFrame,
                   vocab: DataFrame) -> DataFrame:
    """Per-doc mean negative log2 bigram probability (``bits``) under
    the trained LM, Laplace add-one over the training vocabulary:
    ``P(w|prev) = (c(prev,w) + 1) / (c(prev) + V)`` — unseen contexts
    fall back to the uniform ``1/V``.  Low bits = natural text under the
    reference distribution; threshold high-bits docs out.

    Returns ``(doc_id, n_terms, bits)``; <2-token docs emit no row."""
    # the bigram and context tables grow with the training corpus (in
    # the clean recipe it is the surviving corpus itself), so they carry
    # no broadcast hint: AQE broadcasts them from their measured size
    # when they are small and keeps the shuffle join when they are not.
    # The vocabulary size is one row.
    pairs = _bigram_stream(docs)
    scored = (pairs
              .join(bigrams, ["prev", "w"], "left")
              .join(ctx, "prev", "left")
              .crossJoin(F.broadcast(vocab))
              .select(
                  "doc_id",
                  F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.coalesce(F.col("cp"), F.lit(0))
                           + F.col("vs"))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_terms"),
                 F.round(-F.avg("lp") / math.log(2.0), 4).alias("bits")))


def perplexity_filter(docs: DataFrame, train_docs: DataFrame,
                      max_bits: float) -> DataFrame:
    """Train on ``train_docs``, drop docs scoring above ``max_bits`` —
    one anti-join, so docs too short to score are kept (length filtering
    is a separate rule)."""
    bigrams, ctx, vocab = train_bigram_lm(train_docs)
    scores = bits_per_token(docs, bigrams, ctx, vocab)
    bad = scores.filter(F.col("bits") > max_bits).select("doc_id")
    return docs.join(bad, "doc_id", "left_anti")
