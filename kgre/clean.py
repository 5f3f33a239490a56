"""Clean-corpus composition (engine extension; no reference
counterpart): exact dedup -> near-dup collapse -> quality/language
filters, the standard hygiene pass a training-data pipeline runs before
KG construction.

Every stage is an individually-tested operator (kgre.dedup /
kgre.canon / kgre.textstats); this module is the documented composition
so the CLI mode (kgre/cli.py clean) and the oracle-checked driver query
(q_clean_corpus) share one implementation.

Scale shape: one md5-keyed shuffle for the exact collapse; LSH banding
over the exact survivors with the r4 hot-bucket guards; connected
components over the (tiny relative to corpus) near-dup pair graph with
salted min-aggregation; pure-Catalyst quality/language expressions.
Nothing corpus-sized is ever collected.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre import decontam, dedup, lines, lm, sampling, textstats, urls
from kgre.canon import connected_components
from kgre.session import stage_checkpoint

# 2^63 as a decimal literal (exceeds long, so it travels as a string
# cast to decimal); shifting a signed bigint by this lands in [0, 2^64),
# which fits decimal(20,0) and exactly 20 decimal digits zero-padded.
# Built lazily: F.lit at module scope would make importing this module
# require an already-active SparkContext.
def _id_bias():
    return F.lit("9223372036854775808").cast("decimal(20,0)")


def _encode_id(c: str):
    """Signed-bigint column -> 20-char zero-padded string whose byte
    order equals the numeric order (bias by 2^63 into unsigned)."""
    biased = (F.col(c).cast("decimal(20,0)")
              + _id_bias()).cast("decimal(20,0)")
    return F.lpad(biased.cast("string"), 20, "0")


def _decode_id(c: str):
    """Inverse of :func:`_encode_id`: padded string -> bigint."""
    return (F.col(c).cast("decimal(20,0)") - _id_bias()).cast("long")


def clean_documents(docs: DataFrame, neardup_threshold: float = 0.6,
                    min_quality: float = 0.1,
                    lang_threshold: float = 0.08,
                    manifest: list | None = None,
                    max_bucket: int | None = 10_000,
                    url_col: str | None = None,
                    line_dedup_min_count: int | None = None,
                    max_rep_frac: float | None = None,
                    max_bits: float | None = None,
                    decontam_bench: DataFrame | None = None,
                    host_cap: int | None = None,
                    token_budget: int | dict | None = None) -> DataFrame:
    """documents -> surviving documents (same schema).

    The recipe is an ordered list of ``(stage, fn)`` pairs, one loop
    applying them; an optional stage is in the list when its argument is
    not None.  In order (dedup -> doc-level quality -> corpus shaping, so
    the cheap collapses run before any per-window work and the quota
    stages see only the docs that survive quality):

    - ``url_dedup`` (``url_col``): keep the min doc_id per canonical URL
      (kgre.urls) — the cheapest collapse, before any byte-level hashing
      touches the (much larger) text column;
    - ``line_dedup`` (``line_dedup_min_count``): C4 line dedup
      (kgre.lines) — every copy of any line occurring >= N times
      corpus-wide is stripped and doc text rebuilt, so boilerplate never
      pollutes the minhash shingles; docs left empty are dropped;
    - ``exact_dedup``: keep the min doc_id per identical raw text;
    - ``near_dedup``: MinHash-LSH pairs over the survivors, connected
      components over the pair graph (zero-padded string ids so the CC
      lexicographic min == numeric min), keep each component's min;
    - ``quality_lang``: composite stopword/vowel score >= ``min_quality``
      AND stopword-density language-ID == 'en' at ``lang_threshold``;
    - ``repetition`` (``max_rep_frac``): Gopher filter — drop docs whose
      duplicate-3-gram fraction exceeds it (too-short docs are kept);
    - ``perplexity`` (``max_bits``): bigram-LM filter (kgre.lm), trained
      on the surviving docs themselves (self-referential outlier
      pruning);
    - ``decontaminate`` (``decontam_bench``): drop docs overlapping the
      bench set by >= 3 5-gram window hits;
    - ``host_cap`` (requires ``url_col``): at most ``host_cap`` docs per
      canonical host (kgre.urls.cap_per_host);
    - ``token_budget``: per-source token quotas
      (kgre.sampling.token_budget_sample), int or {source: tokens}.

    Count/cut rule.  ``manifest`` None: the plan stays lazy; only the
    exact-dedup output is cut (a lazy stage checkpoint — near_dedup reads
    it twice), apart from the CC iteration.  ``manifest`` a list: every
    stage's output is cut once and counted once, appending
    ``(stage, rows_in, rows_out, wall_ms)`` — so the counts are linear,
    not a recompute of the chain per stage — plus, right after
    near_dedup, a ``near_dedup_caps`` row carrying (capped_buckets,
    capped_rows) from the LSH hot-bucket guard: the cap is the right
    bounded-work behavior at web scale, but recall loss is never silent
    (VERDICT r4 #2).  ``max_bucket``: LSH band-bucket width cap (None =
    uncapped exact semantics, what the DuckDB oracle models)."""
    if host_cap is not None and url_col is None:
        raise ValueError("host_cap requires url_col")
    cap_stats: dict = {}

    def line_dedup(df):
        rebuilt = lines.dedup_lines(df, min_count=line_dedup_min_count)
        return (df.drop("text").join(rebuilt, "doc_id")
                .filter(F.length("text") > 0).select(*df.columns))

    def near_dedup(reps):
        pairs = dedup.minhash_near_dups(reps, threshold=neardup_threshold,
                                        collapse_exact=False,
                                        max_bucket=max_bucket,
                                        stats=cap_stats)
        # CC works on strings and picks the LEXICOGRAPHIC min per
        # component, so the encoding must be order-preserving over the
        # FULL signed-64 doc_id range (hash-derived ids are routinely
        # >= 10^12 and can be negative; a fixed-width pad of the raw
        # digits would truncate the former and mis-order the latter —
        # ADVICE r4).  Bias by 2^63 into [0, 2^64) and zero-pad to 20
        # digits: numeric order == byte order.
        comp = connected_components(
            pairs.select(_encode_id("d1").alias("src"),
                         _encode_id("d2").alias("dst")))
        drop = (comp.filter(F.col("node") != F.col("component"))
                .select(_decode_id("node").alias("doc_id")))
        return reps.join(drop, "doc_id", "left_anti")

    # quality and language-ID are row-local expressions — ONE map-side
    # filter (r6: two doc_id-keyed shuffle joins removed).  Predicate
    # identity: lang_id says 'en' iff the unrounded stopword density >=
    # lang_threshold.
    en_score = textstats.stopword_density()
    quality_ok = ((textstats.quality_col() >= min_quality)
                  & (en_score >= lang_threshold))

    def repetition(df):
        noisy = (textstats.repetition_stats(df, n=3)
                 .filter(F.col("dup_frac") > max_rep_frac).select("doc_id"))
        return df.join(noisy, "doc_id", "left_anti")

    def cap_hosts(df):
        hosted = df.withColumn("_host", urls.canonical_host(url_col))
        return urls.cap_per_host(hosted, host_cap,
                                 host_col="_host").drop("_host")

    stages = [(name, fn) for name, fn, arg in (
        ("url_dedup", lambda df: urls.dedup_by_canonical(
            df, id_col="doc_id", url_col=url_col).select(*df.columns),
         url_col),
        ("line_dedup", line_dedup, line_dedup_min_count),
        ("exact_dedup", dedup.collapse_exact_docs, True),
        ("near_dedup", near_dedup, True),
        ("quality_lang", lambda df: df.filter(quality_ok), True),
        ("repetition", repetition, max_rep_frac),
        ("perplexity", lambda df: lm.perplexity_filter(df, df, max_bits),
         max_bits),
        ("decontaminate", lambda df: decontam.drop_contaminated(
            df, decontam_bench, n=5, min_hits=3), decontam_bench),
        ("host_cap", cap_hosts, host_cap),
        ("token_budget",
         lambda df: sampling.token_budget_sample(df, token_budget),
         token_budget),
    ) if arg is not None]

    rows = docs.count() if manifest is not None else None
    for name, fn in stages:
        t0 = time.time()
        docs = fn(docs)
        # lazy stage checkpoint, not persist: it leaves nothing in the
        # CacheManager (a re-run of the same plan would warn "already
        # cached" and the entry would outlive the call); the flavor
        # (local vs reliable) is a session config (VERDICT r4 #3).  The
        # exact-dedup output is cut even without a manifest: near_dedup
        # reads it twice (pair graph + anti-join)
        if manifest is not None or name == "exact_dedup":
            docs = stage_checkpoint(docs, eager=False)
        if manifest is not None:
            rows_in, rows = rows, docs.count()
            manifest.append((name, rows_in, rows,
                             int((time.time() - t0) * 1000)))
            if name == "near_dedup":
                # accounting row, not a flow stage: rows_in = buckets the
                # width cap excluded from pair expansion, rows_out = rows
                # inside them
                manifest.append(("near_dedup_caps",
                                 cap_stats.get("capped_buckets", 0),
                                 cap_stats.get("capped_rows", 0), 0))
    return docs
