"""Text-analysis operators for large-scale training-data pipelines:
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure Catalyst expressions (JVM-side, whole-stage codegen, no Python) —
these run over the full corpus at 100 TB, so staying out of UDF space
matters more here than anywhere.  Every operator has a DuckDB oracle twin
in __spark_entry__.oracle_sql(); floats are rounded identically on both
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deterministic English function-word list shared with the SQL oracles
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "on", "with", "for",
                "is", "was"]

# ASCII punctuation stripped by the fingerprint normalization.  A fixed
# char set + translate() is the normalization SPEC (shared with the
# DuckDB oracles): one codegen-friendly char-map pass per byte, vs the
# old regexp_replace('[^a-z0-9 ]') char-class scan that costs ~2x more
# per byte warm plus a regex JIT-compile on first use (measured sf0.1).
PUNCT = ".,;:!?\"'()[]{}<>/\\|@#$%^&*-_=+~`"


def normalized_text(col: str = "text"):
    """Case-fold + strip PUNCT — the stable identity transform used by
    fingerprint() and exact dedup."""
    return F.translate(F.lower(F.col(col)), PUNCT, "")


def tokens_col(col: str = "text"):
    return F.split(F.col(col), " ")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token count per document (SURVEY.md A-family analog)."""
    return docs.select(
        "doc_id", F.size(tokens_col()).alias("n_tokens")
    )


def stopword_density(text_col: str = "text"):
    """Share of the whitespace tokens that are EN_STOPWORDS (unrounded) —
    the English signal of both the quality score and the language ID."""
    toks = tokens_col(text_col)
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    return hits / F.size(toks)


def vowel_ratio(text_col: str = "text"):
    """Share of the characters that are lowercase vowels (unrounded)."""
    n_chars = F.length(text_col)
    vowels = n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[aeiou]", ""))
    return vowels / n_chars


def quality_col(text_col: str = "text"):
    """The composite stopword/vowel quality score as a bare COLUMN
    expression, so it can fuse into any projection (a streaming select,
    the clean composition) without a join."""
    return F.round(stopword_density(text_col) * 0.5
                   + vowel_ratio(text_col) * 0.5, 4)


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / vowel-ratio / stopword-ratio quality features + a composite
    score; everything in built-in expressions."""
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(tokens_col()).alias("n_tokens"),
        F.round(vowel_ratio(), 4).alias("vowel_ratio"),
        F.round(stopword_density(), 4).alias("stopword_ratio"),
        quality_col().alias("quality"),
    )


def lang_id(docs: DataFrame, threshold: float = 0.08) -> DataFrame:
    """N-gram-free language-ID heuristic: English stopword density."""
    score = stopword_density()
    return docs.select(
        "doc_id",
        F.round(score, 4).alias("en_score"),
        F.when(score >= threshold, F.lit("en")).otherwise(F.lit("other"))
        .alias("lang_pred"),
    )


# BPE-ish subword pattern: greedy <=4-letter chunks, digit runs, single
# other symbols.  No lookarounds, so Java regex (Spark) and RE2 (DuckDB)
# tokenize identically; greedy leftmost-first matching is common to both.
BPE_PATTERN = "[a-z]{1,4}|[0-9]+|[^a-z0-9 ]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Subword-ish token count: number of BPE_PATTERN matches — the
    LLM-pipeline 'token budget' estimator next to the whitespace count
    (both pure Catalyst, JVM regex, no Python)."""
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
        .alias("n_bpe_tokens"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Rolling-hash document fingerprints by WINNOWING (Schleimer et al.,
    SIGMOD'03): hash every k-char gram, keep the minimum hash of each
    w-gram window, distinct per doc.  Near-identical documents share most
    fingerprints, so the output joins like shingle sets but is ~1/w the
    size.

    All Catalyst: char-gram positions explode to a NARROW (doc_id, i, h)
    stream (no text duplication — the gram is hashed in the same
    projection), one shuffle for the per-doc window, then the distinct.
    Hash = first 12 hex of md5 as a 48-bit int, reproducible in DuckDB.
    """
    n_grams = F.length("text") - (k - 1)
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] — docs
    # shorter than k contribute no grams
    grams = docs.filter(F.length("text") >= k).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n_grams)).alias("i"),
        "text",
    ).selectExpr(
        "doc_id", "i",
        "cast(conv(substring(md5(substring(text, i, %d)), 1, 12), 16, 10) "
        "as bigint) as h" % k,
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    return (
        grams.select("doc_id", F.min("h").over(win).alias("fp"))
        .distinct()
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over case/punctuation-normalized text
    (the stable identity used for exact dedup and lineage)."""
    return docs.select("doc_id", F.md5(normalized_text()).alias("fp"))


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    §A1.1: pages dominated by repeated phrases are boilerplate/spam):
    per doc, the fraction of word-``n``-gram OCCURRENCES that are
    duplicates of an earlier one (``dup_frac = 1 - distinct/total``) and
    the fraction claimed by the single most frequent n-gram
    (``top_frac``).  Docs with fewer than ``n`` tokens emit no row.

    Shape: the narrow (doc_id, hash) stream from
    ``decontam.ngram_hash_stream`` → count per (doc, gram) → per-doc
    rollup.  Both aggregations partial-aggregate map-side; the second
    shuffle carries one row per DISTINCT gram, already collapsed."""
    from kgre.decontam import ngram_hash_stream

    per_gram = (ngram_hash_stream(docs, n)
                .groupBy("doc_id", "h").agg(F.count("*").alias("cnt")))
    return (per_gram.groupBy("doc_id")
            .agg(F.sum("cnt").cast("long").alias("n_grams"),
                 F.count("*").alias("n_distinct"),
                 F.max("cnt").alias("top_cnt"))
            .select(
                "doc_id", "n_grams", "n_distinct",
                F.round(1 - F.col("n_distinct") / F.col("n_grams"), 4)
                .alias("dup_frac"),
                F.round(F.col("top_cnt") / F.col("n_grams"), 4)
                .alias("top_frac")))
