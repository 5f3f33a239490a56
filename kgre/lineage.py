"""Per-partition lineage manifests + checkpoint resume (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

The reference's resume unit is "skip the input file if its .tfrecord
already exists" (relation_extraction.py:393-399, load_data.py:640-662).
Here it is a *bucket* of input rows (key-column hash mod n_buckets):
``out_dir`` holds exactly bucket=0..n_buckets-1, and each bucket appends
a manifest row (MANIFEST_SCHEMA) once its output parquet is committed.
Planning is one grouped aggregation over the input: per bucket, the key
``(rows_in, content_key)``, ``content_key`` being the decimal(38,0) sum
of ``xxhash64`` over all input columns (duplicate rows cannot cancel it
and it cannot overflow).  A bucket is skipped only when its latest ok row
(by ``committed_ms``) names this stage and carries this key, and its
output committed (``_SUCCESS``): a crash, new or changed input, an
A -> B -> A rerun or another ``n_buckets`` recomputes exactly the
buckets whose input moved.  One manifest describes one ``out_dir``.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = ("stage string, bucket int, rows_in long, "
                   "content_key decimal(38,0), rows_out long, wall_ms long, "
                   "status string, committed_ms long")


def _latest_ok(spark: SparkSession, manifest_dir: str) -> dict:
    """bucket -> (stage, rows_in, content_key) of its latest ok row."""
    if not os.path.exists(manifest_dir):
        return {}
    rows = (spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
            .filter(F.col("status") == "ok").collect())
    # rows written before the committed_ms column existed sort first
    rows.sort(key=lambda r: r["committed_ms"] or 0)
    return {r["bucket"]: (r["stage"], r["rows_in"], r["content_key"])
            for r in rows}


def completed_buckets(spark: SparkSession, manifest_dir: str, stage: str) -> set:
    """Buckets whose latest ok manifest row is ``stage``'s."""
    return {b for b, row in _latest_ok(spark, manifest_dir).items()
            if row[0] == stage}


def run_stage_with_resume(
    spark: SparkSession,
    inputs: DataFrame,
    stage: str,
    transform,
    out_dir: str,
    manifest_dir: str,
    n_buckets: int = 8,
    key_col: str = "url",
) -> DataFrame:
    """Run ``transform(bucket_df) -> DataFrame`` per pending
    ``key_col``-hash bucket, write each bucket's output under
    out_dir/bucket=N, append a manifest row per completed bucket; return
    the full stage output (all buckets).

    Pending buckets are submitted CONCURRENTLY from a thread pool
    (up to 4 Spark jobs in flight; the session runs the FAIR
    scheduler so they share executors instead of FIFO-queueing) — a
    resumed run keeps the cluster saturated instead of draining between
    serial bucket jobs.  Bucket outputs go to distinct directories, so
    the only serialized step is the tiny manifest append (concurrent
    appends to ONE parquet dir race on the _temporary committer dir)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    bucketed = inputs.withColumn("bucket", F.pmod(
        F.xxhash64(key_col), F.lit(n_buckets)).cast("int")).persist()
    manifest_lock = threading.Lock()

    def run_bucket(b: int) -> None:
        t0 = time.time()
        path = f"{out_dir}/bucket={b}"
        transform(bucketed.filter(F.col("bucket") == b).drop("bucket")) \
            .write.mode("overwrite").parquet(path)
        # parquet count() is footer-metadata-only — no data decode
        rows_out = spark.read.parquet(path).count()
        wall_ms = int((time.time() - t0) * 1000)
        with manifest_lock:
            # pandas, not a list: a list-built frame starts a plain-RDD
            # Python worker pool just to convert this row
            spark.createDataFrame(
                pd.DataFrame([(stage, b, *keys[b], rows_out, wall_ms, "ok",
                               int(time.time() * 1000))]),
                schema=MANIFEST_SCHEMA,
            ).write.mode("append").parquet(manifest_dir)

    try:
        # the one stats pass; it also fills the cache the buckets read
        h = F.xxhash64(*inputs.columns).cast("decimal(38,0)")
        keys = {b: (0, None) for b in range(n_buckets)}
        keys.update({
            r["bucket"]: (r["rows_in"], r["content_key"])
            for r in bucketed.groupBy("bucket").agg(
                F.count("*").alias("rows_in"),
                F.sum(h).alias("content_key")).collect()})
        latest = _latest_ok(spark, manifest_dir)
        pending = [b for b in range(n_buckets)
                   if latest.get(b) != (stage, *keys[b])
                   or not os.path.exists(f"{out_dir}/bucket={b}/_SUCCESS")]
        # a whole-directory read of out_dir equals the stage output
        stale = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
        for name in stale - {f"bucket={b}" for b in range(n_buckets)}:
            path = os.path.join(out_dir, name)
            (shutil.rmtree if os.path.isdir(path) else os.remove)(path)
        if pending:
            workers = min(4, len(pending))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                # list() propagates the first worker exception
                list(ex.map(run_bucket, pending))
    finally:
        bucketed.unpersist()
    return spark.read.parquet(out_dir)
