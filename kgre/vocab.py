"""Vocabulary aggregation (A1, reference build_dataset load_data.py:106-131).

Count every feature occurrence corpus-wide, prune below ``occur_count``
(reference uses 100 for feed-forward vocabularies), and assign dense ids by
(count desc, feature asc) — a deterministic tie-break replacing Python
``Counter`` insertion order (SURVEY.md A1 note; acceptable because model
weights are keyed by feature *string*, never dense id, SURVEY.md §7.4.2).

Counts include BOTH forward and reverse instances regardless of
gene_to_gene (the reference always feeds both into the vocab lists,
load_data.py:201-208, even though only gene-gene reverse instances are
scored).

Plan shape: four projections of the candidates table union into one
groupBy — a single shuffle keyed by (kind, feature) with map-side partial
aggregation.  The pruned counts reach the driver in one Arrow ``toPandas``
(the table every scorer broadcasts anyway) and are ranked there in pandas;
the vocab DataFrame is rebuilt from that frame through Arrow, so no Spark
job ranks and no plain-RDD Python worker starts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgre.session import stage_checkpoint


def _kf(kind, feature):
    return F.struct(F.lit(kind).alias("kind"), feature.alias("feature"))


def vocab_counts(candidates: DataFrame) -> DataFrame:
    """candidates -> (kind, feature, cnt); occurrence counts (duplicates
    within an instance count individually, mirroring Counter.update).

    Single scan of the candidates table: the four feature projections are
    concatenated row-locally into one exploded (kind, feature) stream —
    no 4-branch union (which would read the table four times and, on a
    freshly persisted upstream, race to recompute it 4x)."""
    kf = F.concat(
        F.array(_kf("dep_path", F.col("dep_path_string"))),
        F.transform("sdp_words", lambda x: _kf("dep_word", x)),
        F.transform("sdp_elements", lambda x: _kf("element", x)),
        F.transform("between_words", lambda x: _kf("between", x)),
    )
    return (
        candidates.select(F.explode(kf).alias("kf"))
        .select("kf.kind", "kf.feature")
        .groupBy("kind", "feature").agg(F.count("*").alias("cnt"))
    )


def two_phase_dense_ids(df: DataFrame, partition_cols, order_cols,
                        id_col: str = "id") -> DataFrame:
    """Skew-proof dense id assignment: ids count 0,1,2,... within each
    ``partition_cols`` group in ``order_cols`` order — the semantics of
    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` — without
    ever collapsing a group onto a single task.  It range-partitions into
    ``spark.sql.shuffle.partitions`` parts.

    Two phases: (1) range-repartition on the full (group, order) sort
    key, so each group occupies a contiguous run of physical partitions
    and every per-(partition, group) cell is bounded by the range
    partitioner's balance; one small job counts rows per cell and the
    driver prefix-sums them into offsets (#partitions x #groups rows —
    tiny).  (2) a window partitioned by PHYSICAL partition id + group
    (never a single-partition WindowExec) numbers rows locally and adds
    the broadcast offset.  ``order_cols`` must be a total order within a
    group for deterministic ids.

    The range-shuffled frame is materialized ONCE with an eager
    checkpoint — the phase-1 count job and the phase-2 window both read
    the stored blocks.  (A ``persist`` here leaked: the CacheManager
    entry outlived the call, accumulating across CV folds and warning
    "Asked to cache already cached data" on every bench re-run — ADVICE
    r3.  Checkpoint blocks are instead released by the ContextCleaner
    once the returned frame is garbage-collected, and materializing
    eagerly also means the range boundaries are sampled exactly once,
    so the count job and the output plan agree by construction.)  The
    checkpoint FLAVOR is a session config (``session.stage_checkpoint``,
    VERDICT r4 #3): localCheckpoint by default; reliable ``.checkpoint``
    under ``spark.kgre.reliableCheckpoint=true`` for clusters with
    executor churn.
    """
    from pyspark.sql import types as T

    spark = df.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    gcols = list(partition_cols)
    sort_exprs = [F.col(c) for c in gcols] + list(order_cols)
    parted = stage_checkpoint(
        df.repartitionByRange(num_parts, *sort_exprs)
        .withColumn("_pid", F.spark_partition_id()), eager=True)
    cnt_rows = (parted.groupBy("_pid", *gcols)
                .agg(F.count("*").alias("_n")).collect())
    if not cnt_rows:
        # long to match the non-empty path (row_number int + _off long)
        return df.withColumn(id_col, F.lit(0).cast("long"))
    totals: dict = {}
    offs = []
    for r in sorted(cnt_rows, key=lambda r: r["_pid"]):
        key = tuple(r[c] for c in gcols)
        offs.append(tuple([r["_pid"]] + list(key) + [totals.get(key, 0)]))
        totals[key] = totals.get(key, 0) + r["_n"]
    off_schema = T.StructType(
        [T.StructField("_opid", T.IntegerType())]
        + [T.StructField("_og_" + c, df.schema[c].dataType) for c in gcols]
        + [T.StructField("_off", T.LongType())])
    # pandas, not a list: a list-built frame starts a plain-RDD Python
    # worker pool just to convert these rows
    off_df = spark.createDataFrame(pd.DataFrame(offs, dtype=object),
                                   off_schema)
    w = Window.partitionBy("_pid", *gcols).orderBy(*order_cols)
    # null-safe group-key join: row_number() OVER (PARTITION BY g) ranks
    # the NULL group too, so a plain inner join would silently drop
    # null-keyed rows (ADVICE r3)
    cond = parted["_pid"] == off_df["_opid"]
    for c in gcols:
        cond = cond & parted[c].eqNullSafe(off_df["_og_" + c])
    return (parted.join(F.broadcast(off_df), cond)
            .withColumn(id_col, F.row_number().over(w) - 1 + F.col("_off"))
            .drop("_pid", "_opid", "_off", *["_og_" + c for c in gcols]))


VOCAB_SCHEMA = ("kind string not null, feature string, cnt bigint not null, "
                "id bigint")


def build_vocab(candidates: DataFrame, occur_count: int) -> DataFrame:
    """(kind, feature, cnt, id) with min-count pruning and dense ids per
    kind: ``row_number() OVER (PARTITION BY kind ORDER BY cnt DESC,
    feature ASC) - 1``.  The pruned counts — the table every scorer
    collects anyway — are collected once through Arrow and ranked on the
    driver in pandas (nulls first, as Spark's ``asc``; Python ``str``
    order is code-point order, which equals Spark's UTF-8 binary order)."""
    pdf = (vocab_counts(candidates).filter(F.col("cnt") >= occur_count)
           .toPandas()
           .sort_values(["kind", "cnt", "feature"],
                        ascending=[True, False, True], na_position="first"))
    pdf["id"] = pdf.groupby("kind").cumcount()
    return candidates.sparkSession.createDataFrame(pdf, VOCAB_SCHEMA)


def collect_vocab_sets(vocab: DataFrame) -> dict[str, set]:
    """vocab table -> {kind: set(feature)} for broadcast into the scorer.
    Arrow-path collect (toPandas) — row-at-a-time collect() costs seconds
    at 10^5 features."""
    out: dict[str, set] = {"dep_path": set(), "dep_word": set(),
                           "element": set(), "between": set()}
    pdf = vocab.select("kind", "feature").toPandas()
    for kind, grp in pdf.groupby("kind"):
        out[kind] = set(grp["feature"])
    return out
