"""Entity linking with a minhash-blocked candidate index (north-star
extension, BASELINE.json north_star — no reference counterpart,
SURVEY.md §7.4).

Links free-text mention phrases to a canonical entity dictionary:

  1. character-3-gram shingles of the normalized phrase
  2. MinHash signature banded into buckets (``dedup.minhash_bands``, the
     md5-string minima the near-dup path uses — engine-portable)
  3. candidate pairs = (mention, dictionary alias) sharing a band bucket
     — the dictionary side is dictionary-sized, so the bucket join is a
     broadcast; blocking keeps the candidate set ~linear in mentions
  4. verify with true 3-gram Jaccard, keep the best alias per mention
     (deterministic tie-break: jaccard desc, entity_id asc)

Web-scale guards (same family as kgre.dedup's r4 hot-bucket guards):
  * phrase collapse: a web corpus repeats the same surface form by the
    million, and the link result is a pure function of the phrase — so
    the pipeline links each DISTINCT phrase once and joins the verdict
    back onto the mention stream (``collapse_phrases``, default on;
    output is row-for-row identical to the uncollapsed path).
  * dictionary hot-bucket cap: a band bucket holding thousands of
    aliases (shared prefixes hashing alike) multiplies every mention
    that lands in it; buckets wider than ``max_bucket`` are excluded
    from blocking (recall lost only where blocking was already
    near-cartesian), counted via the optional ``stats`` dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgre.dedup import _cap_hot_buckets, minhash_bands


def phrase_shingles(df: DataFrame, phrase_col: str, id_col: str,
                    n: int = 3) -> DataFrame:
    """(id, shingle): distinct character n-grams of the normalized
    (lowercased, alphanumeric-only) phrase; phrases shorter than n drop."""
    norm = F.lower(F.regexp_replace(F.col(phrase_col), "[^a-zA-Z0-9]", ""))
    d = df.select(F.col(id_col).alias("id"), norm.alias("p")).filter(
        F.length("p") >= n
    )
    return d.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(p) - %d), i -> substring(p, i, %d))"
                % (n - 1, n)
            )
        ).alias("shingle"),
    ).distinct()


def link_mentions(mentions: DataFrame, dictionary: DataFrame,
                  threshold: float = 0.5, n: int = 3,
                  n_hashes: int = 6, bands: int = 3,
                  collapse_phrases: bool = True,
                  max_bucket: int | None = 10_000,
                  stats: dict | None = None) -> DataFrame:
    """mentions(mention_id, phrase) x dictionary(entity_id, alias) ->
    (mention_id, entity_id, jaccard): best dictionary alias per mention,
    minhash-blocked then exact-verified.  See module docstring for the
    ``collapse_phrases`` / ``max_bucket`` web-scale guards."""
    if collapse_phrases:
        # link each distinct surface form once (the phrase is its own
        # id through the inner pipeline), then join the verdict back
        forms = mentions.select(
            F.col("phrase").alias("mention_id"), "phrase").distinct()
        linked = link_mentions(forms, dictionary, threshold, n, n_hashes,
                               bands, collapse_phrases=False,
                               max_bucket=max_bucket, stats=stats)
        return (mentions
                .join(linked.withColumnRenamed("mention_id", "phrase"),
                      "phrase")
                .select("mention_id", "entity_id", "jaccard"))
    m_sh = phrase_shingles(mentions, "phrase", "mention_id", n)
    d_sh = phrase_shingles(dictionary, "alias", "entity_id", n)
    m_bands = minhash_bands(m_sh, "id", n_hashes, bands) \
        .withColumnRenamed("id", "mid")
    d_bands = _cap_hot_buckets(minhash_bands(d_sh, "id", n_hashes, bands)
                               .withColumnRenamed("id", "eid"),
                               max_bucket, stats)
    cands = (
        m_bands.join(F.broadcast(d_bands), ["band", "key"])
        .select("mid", "eid")
        .distinct()
    )
    m_sizes = m_sh.groupBy("id").agg(F.count("*").alias("m_sz"))
    d_sizes = d_sh.groupBy("id").agg(F.count("*").alias("d_sz"))
    m_tok = m_sh.select(F.col("id").alias("mid"), "shingle")
    d_tok = d_sh.select(F.col("id").alias("eid"),
                        F.col("shingle").alias("d_shingle"))
    inter = (
        cands.join(m_tok, "mid")
        .join(F.broadcast(d_tok),
              (cands.eid == d_tok.eid) & (F.col("shingle") == F.col("d_shingle")))
        .groupBy("mid", cands.eid.alias("eid"))
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        inter.join(m_sizes.withColumnRenamed("id", "mid"), "mid")
        .join(F.broadcast(d_sizes.withColumnRenamed("id", "eid")), "eid")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("m_sz") + F.col("d_sz") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("mid").orderBy(F.desc("jaccard"), F.asc("eid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("mid").alias("mention_id"),
                F.col("eid").alias("entity_id"), "jaccard")
    )
