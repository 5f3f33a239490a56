"""URL canonicalization for web-crawl corpora (engine extension; no
reference counterpart — the reference ingests pre-extracted per-document
files, but a Common-Crawl-scale pipeline dedups by canonical URL before
anything else touches the bytes).

Canonical form (documented; the DuckDB oracle reproduces it with an
independent regexp decomposition):

  * scheme and authority lower-cased;
  * default ports stripped (``:80``/``:443``); other explicit ports kept
    (``host:8080`` is a different origin, conflating it would merge
    distinct documents);
  * fragment dropped (never sent to the server);
  * empty path normalized to ``/``;
  * tracking query parameters removed (``utm_*``, ``fbclid``,
    ``gclid``) and the surviving parameters SORTED, so a reshuffled
    tracking link reaches the same canonical key.

Everything is built-in expressions (``parse_url`` runs JVM-side inside
whole-stage codegen) — no Python in the path, so canonicalizing 10^12
urls is a map-only scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACKING_RE = "^(utm_[A-Za-z0-9_]*|fbclid|gclid)="


def _part(u: Column, part: str) -> Column:
    # try_parse_url: Spark 4's parse_url THROWS on a malformed URL under
    # ANSI mode — a single garbage crawl URL would abort the whole scan.
    # The try_ variant yields NULL, which dedup_by_canonical falls back
    # on (collapse by raw string) and canonicalize_urls surfaces as a
    # NULL canon_url.  Identical result for every parseable URL.
    return F.try_parse_url(u, F.lit(part))


def canonical_host(url) -> Column:
    """Lower-cased authority with default ports stripped."""
    u = F.col(url) if isinstance(url, str) else url
    return F.regexp_replace(F.lower(_part(u, "AUTHORITY")), ":(80|443)$", "")


def canonical_url(url) -> Column:
    """Canonical form of a URL column (see module docstring)."""
    u = F.col(url) if isinstance(url, str) else url
    proto = F.lower(_part(u, "PROTOCOL"))
    host = canonical_host(u)
    path = F.coalesce(_part(u, "PATH"), F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.coalesce(_part(u, "QUERY"), F.lit(""))
    kept = F.filter(F.split(query, "&"),
                    lambda p: (p != "") & ~p.rlike(_TRACKING_RE))
    q = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        proto, F.lit("://"), host, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)))


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canon_url`` and ``host`` columns — map-only, codegen'd."""
    return df.withColumn("canon_url", canonical_url(url_col)) \
             .withColumn("host", canonical_host(url_col))


def dedup_by_canonical(df: DataFrame, id_col: str = "doc_id",
                       url_col: str = "url") -> DataFrame:
    """One representative row (min id) per canonical URL: the crawl-side
    twin of ``dedup.collapse_exact_docs`` — one hash-keyed shuffle on the
    canonical string, group-shaped output.

    Unparseable URLs (``canonical_url`` yields NULL when ``parse_url``
    cannot decompose the string — relative links, missing scheme,
    garbage) collapse by their RAW url string instead (ADVICE r5: a
    NULL group key would silently merge every malformed-URL doc into
    one representative).  Two malformed docs dedup only when their raw
    strings are byte-identical — the conservative choice."""
    canon = canonicalize_urls(df, url_col)
    key = F.coalesce(F.col("canon_url"), F.col(url_col))
    keep = (canon.groupBy(key.alias("_ck"))
            .agg(F.min(id_col).alias(id_col)).select(id_col))
    return canon.join(keep, id_col)


def host_stats(df: DataFrame) -> DataFrame:
    """Per-host corpus statistics (docs, tokens, chars, mean length) —
    the first report any crawl triage produces.  One groupBy shuffle
    with map-side partial aggregation; the output is host-cardinality
    sized, never corpus sized."""
    toks = F.split(F.col("text"), " ")
    return (df.groupBy("host")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size(toks)).alias("total_tokens"),
                 F.sum(F.length("text")).alias("total_chars"),
                 F.round(F.avg(F.length("text")), 4).alias("mean_chars")))


def cap_per_host(df: DataFrame, k: int, host_col: str = "host"
                 ) -> DataFrame:
    """Domain balancing: keep at most ``k`` docs per host — exactly the
    ``k`` smallest ``(hash_bucket, id)`` per host, so the selection is
    deterministic, layout-invariant, and oracle-reproducible.

    Scale shape (heavy-tailed crawls have a few mega-hosts and millions
    of tiny ones):

    * hosts at-or-under the cap pass through a hash join only — no
      ranking, no per-host window;
    * over-cap hosts are PRE-FILTERED by a per-host hash cutoff
      (expected ~``4 * k`` survivors each), so the exact ``row_number``
      window never sees a mega-host's full row set in one partition;
    * a per-host survivor count check falls back to the unfiltered rows
      for any host whose prefilter undershot ``k`` (hash variance), so
      the result is exact whatever the hashes.

    The corpus is scanned four times (host counts; cold pass-through;
    prefilter; fallback branch — the last filters to nothing unless a
    host actually undershot), each a column-pruned parquet scan.  That
    trade is deliberate: the alternative — shuffling the WHOLE corpus by
    host into one window — moves every payload byte for rows the cap
    never touches, which is strictly worse at crawl scale.  Verified
    plan shape (Spark 4): the stats-table joins broadcast whenever the
    tables are actually small (AQE decides for ``hot``, which is
    host-cardinality-sized under a low cap), and the ``rn <= k`` filter
    compiles to ``WindowGroupLimit`` — the rank stage keeps only k rows
    per host per partition, never a mega-host's full row set.
    """
    from pyspark.sql import Window

    from kgre.sampling import _BUCKETS, hash_frac

    if k < 1:
        raise ValueError("k must be >= 1")
    counts = df.groupBy(host_col).agg(F.count("*").alias("_host_n"))
    # no broadcast hint on `hot`: with a low cap on a billion-host crawl
    # it is host-cardinality-sized, and a forced broadcast would OOM the
    # driver — Catalyst/AQE broadcasts it automatically whenever it is
    # actually small, and falls back to a key-shuffled join otherwise
    # (still scale-safe: the join key is the host).  `under` stays
    # hinted — it holds only prefilter-undershot hosts, ~always empty.
    hot = counts.filter(F.col("_host_n") > k)
    tagged = df.join(hot, host_col, "left")
    cold = tagged.filter(F.col("_host_n").isNull()).drop("_host_n")
    hotrows = (tagged.filter(F.col("_host_n").isNotNull())
               .withColumn("_bucket", hash_frac("doc_id")))
    cutoff = F.least(
        F.lit(_BUCKETS).cast("long"),
        F.ceil(F.lit(float(k) * 4.0 * _BUCKETS) / F.col("_host_n")))
    pref = hotrows.filter(F.col("_bucket") < cutoff)
    got = pref.groupBy(host_col).agg(F.count("*").alias("_got_n"))
    under = (hot.join(got, host_col, "left")
             .filter(F.coalesce(F.col("_got_n"), F.lit(0)) < k)
             .select(host_col))
    rank_in = (pref.join(F.broadcast(under), host_col, "left_anti")
               .unionByName(
                   hotrows.join(F.broadcast(under), host_col,
                                "left_semi")))
    w = Window.partitionBy(host_col).orderBy("_bucket", "doc_id")
    kept_hot = (rank_in.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .drop("_rn", "_bucket", "_host_n"))
    return cold.unionByName(kept_hot)
