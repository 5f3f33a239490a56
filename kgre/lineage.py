"""Per-partition lineage manifests + checkpoint resume (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

The reference's resume unit is "skip the input file if its .tfrecord
already exists" (relation_extraction.py:393-399, load_data.py:640-662).
Here the unit is a *bucket* of urls (url-hash mod n_buckets): each
completed bucket appends a manifest row

    (stage, bucket, rows_in, rows_out, input_fingerprint, wall_ms, status)

and a re-run plans only buckets absent from the manifest (left-anti join,
crash-safe because the manifest row is written only after the bucket's
output parquet is committed).
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = ("stage string, bucket int, rows_in long, rows_out long, "
                   "input_fingerprint long, wall_ms long, status string")


def with_bucket(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, manifest_dir: str, stage: str) -> set:
    if not os.path.exists(manifest_dir):
        return set()
    m = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    return {
        r["bucket"]
        for r in m.filter((F.col("stage") == stage) & (F.col("status") == "ok"))
        .select("bucket").distinct().collect()
    }


def run_stage_with_resume(
    spark: SparkSession,
    inputs: DataFrame,
    stage: str,
    transform,
    out_dir: str,
    manifest_dir: str,
    n_buckets: int = 8,
    key: str = "url",
    max_concurrency: int = 4,
) -> DataFrame:
    """Run ``transform(bucket_df) -> DataFrame`` per pending bucket, write
    each bucket's output under out_dir/bucket=N, append a manifest row per
    completed bucket; return the full stage output (all buckets).

    Pending buckets are submitted CONCURRENTLY from a thread pool
    (``max_concurrency`` Spark jobs in flight; the session runs the FAIR
    scheduler so they share executors instead of FIFO-queueing) — a
    resumed run keeps the cluster saturated instead of draining between
    serial bucket jobs.  Bucket outputs go to distinct directories, so
    the only serialized step is the tiny manifest append (concurrent
    appends to ONE parquet dir race on the _temporary committer dir)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    done = completed_buckets(spark, manifest_dir, stage)
    pending = [b for b in range(n_buckets) if b not in done]
    bucketed = with_bucket(inputs, n_buckets, key).persist()
    manifest_lock = threading.Lock()

    def run_bucket(b: int) -> None:
        t0 = time.time()
        part = bucketed.filter(F.col("bucket") == b).drop("bucket")
        # ONE aggregation job over the persisted scan yields both the
        # row count and the order-independent content fingerprint
        # (bit_xor never overflows, unlike sum under ANSI mode)
        stats_row = part.select(F.xxhash64(key).alias("h")).agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(h)").alias("s")).collect()[0]
        rows_in = stats_row["n"]
        fingerprint = stats_row["s"] or 0
        out = transform(part)
        out.write.mode("overwrite").parquet(f"{out_dir}/bucket={b}")
        # parquet count() is footer-metadata-only — no data decode
        rows_out = spark.read.parquet(f"{out_dir}/bucket={b}").count()
        wall_ms = int((time.time() - t0) * 1000)
        with manifest_lock:
            # pandas, not a list: a list-built frame starts a plain-RDD
            # Python worker pool just to convert this row
            spark.createDataFrame(
                pd.DataFrame([(stage, b, rows_in, rows_out, int(fingerprint),
                               wall_ms, "ok")]),
                schema=MANIFEST_SCHEMA,
            ).write.mode("append").parquet(manifest_dir)

    try:
        if len(pending) > 1:
            # materialize the cache once up front so concurrent first
            # touches don't duplicate the upstream computation
            bucketed.count()
        if pending:
            workers = min(max_concurrency, len(pending))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                # list() propagates the first worker exception
                list(ex.map(run_bucket, pending))
    finally:
        bucketed.unpersist()
    return spark.read.option("basePath", out_dir).parquet(
        *[f"{out_dir}/bucket={b}" for b in range(n_buckets)]
    )
