"""Deterministic hash-based dataset splitting and token-budget sampling
(engine extension): train/val/test assignment and per-source quotas that
are a pure function of the row id — reproducible across engines, cluster
sizes, partitionings and reruns, unlike ``rand()`` (whose stream depends
on partition layout) or ``df.sample`` (seeded per-partition).

Everything is one md5 projection — map-only, zero shuffles, zero
Python; the same arithmetic is reproducible in DuckDB, so every split
is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# hash granularity: ~10k distinguishable weights is plenty for corpus
# splits, and 8 hex digits (32 bits) of md5 keep the conv() exact
_BUCKETS = 10_000


def hash_frac(id_col, salt: str = "") -> Column:
    """Uniform bucket in [0, 10000) from md5 of the id's decimal string
    (salted so independent splits/samples decorrelate)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (F.conv(F.substring(
        F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8), 16, 10)
        .cast("long") % _BUCKETS)


def split_by_hash(df: DataFrame, id_col: str = "doc_id",
                  weights: dict[str, float] | None = None,
                  salt: str = "") -> DataFrame:
    """Add a ``split`` column assigning each row to a named split with
    the given weights (default 90/5/5 train/val/test).  Assignment is
    per-row deterministic: moving a row between partitions or growing
    the cluster never changes its split."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    frac = hash_frac(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = frac < int(round(acc * _BUCKETS))
        expr = F.when(cond, name) if expr is None else \
            expr.when(cond, name)
    expr = (F.lit(names[-1]) if expr is None
            else expr.otherwise(names[-1]))
    return df.withColumn("split", expr)


def token_budget_sample(df: DataFrame, budgets, source_col: str = "source",
                        id_col: str = "doc_id", text_col: str = "text",
                        salt: str = "") -> DataFrame:
    """Data mixing: greedily take docs per source — in deterministic
    (hash-bucket, id) order — while the running whitespace-token total
    stays within the source's budget (the per-source token quota step of
    an LLM training-mix recipe; Gopher/Llama-style source reweighting).
    ``budgets``: tokens per source, a single int for all sources or a
    ``{source: tokens}`` dict (sources absent from the dict pass
    through unsampled).

    A doc is kept iff its INCLUSIVE running total ≤ budget — exactly the
    semantics of one cumulative-sum window per source, but computed in
    two phases so no source's full row set ever lands in one window
    partition:

    1. per-(source, bucket) token sums (partial-agg; ≤ 10k rows per
       source) + a running total over that tiny table; because the
       cumulative total is MONOTONE in bucket order, the whole bucket
       classification compresses to ONE ROW PER SOURCE — the first
       bucket whose inclusive total exceeds the budget (``_bstar``) and
       the total before it (``_prev``).  Rows in earlier buckets are
       all kept, rows in later buckets all dropped (token counts are
       ≥ 1, so nothing after the crossing can fit);
    2. only rows in the single crossing bucket (~1/10000 of a source)
       flow through the exact per-doc cumulative window.

    The per-source summary is the only broadcast — O(#sources) rows, so
    the plan is the same whether a source has 10^2 or 10^10 docs.
    """
    from pyspark.sql import Window

    toks = F.size(F.split(F.col(text_col), " "))
    b = hash_frac(id_col, salt)
    base = df.withColumn("_nt", toks).withColumn("_bk", b)

    if isinstance(budgets, dict):
        spark = df.sparkSession
        bdf = spark.createDataFrame(
            [(s, int(t)) for s, t in budgets.items()],
            f"{source_col} string, _budget long")
        base = base.join(F.broadcast(bdf), source_col, "left")
    else:
        base = base.withColumn("_budget", F.lit(int(budgets)))
    unlimited = base.filter(F.col("_budget").isNull()) \
                    .drop("_nt", "_bk", "_budget")
    base = base.filter(F.col("_budget").isNotNull())

    per_bucket = (base.groupBy(source_col, "_bk", "_budget")
                  .agg(F.sum("_nt").alias("_bt")))
    wb = (Window.partitionBy(source_col).orderBy("_bk")
          .rowsBetween(Window.unboundedPreceding, 0))
    status = per_bucket.select(
        source_col, "_bk",
        (F.sum("_bt").over(wb) - F.col("_bt")).alias("_prev"),
        F.sum("_bt").over(wb).alias("_incl"), "_budget")
    # the single crossing bucket per source (may not exist: everything
    # fits).  _prev >= budget means the crossing bucket itself is
    # entirely dropped and the window stage sees nothing for it.
    summary = (status.filter(F.col("_incl") > F.col("_budget"))
               .groupBy(source_col)
               .agg(F.min("_bk").alias("_bstar"),
                    F.min_by("_prev", "_bk").alias("_sprev")))

    tagged = base.join(F.broadcast(summary), source_col, "left")
    kept_full = (tagged.filter(F.col("_bstar").isNull()
                               | (F.col("_bk") < F.col("_bstar")))
                 .drop("_nt", "_bk", "_budget", "_bstar", "_sprev"))
    brows = tagged.filter((F.col("_bk") == F.col("_bstar"))
                          & (F.col("_sprev") < F.col("_budget")))
    wd = (Window.partitionBy(source_col).orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, 0))
    kept_boundary = (brows
                     .withColumn("_cum", F.col("_sprev")
                                 + F.sum("_nt").over(wd))
                     .filter(F.col("_cum") <= F.col("_budget"))
                     .drop("_nt", "_bk", "_budget", "_bstar", "_sprev",
                           "_cum"))
    return unlimited.unionByName(kept_full).unionByName(kept_boundary)
