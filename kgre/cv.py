"""K-fold cross-validation by document id (reference
``cross_validation.py:11-106``).

The reference module documents the intended evaluation protocol but is
DEAD CODE — it calls ``feed_forward_train``/``neural_network_test_tfrecord``
with signatures that no longer exist (SURVEY.md §5.1).  This module
implements the protocol it intended, working:

  * folds are CONTIGUOUS chunks of the pmid list, chunk length
    ``len // k`` (cross_validation.py:14-16); when ``len % k != 0`` the
    remainder forms extra chunk(s) that are never a test fold and always
    train — the reference's quirk, preserved;
  * per fold, the feature dictionaries are rebuilt from the TRAINING
    sentences only (cross_validation.py:38-45 — no vocab leakage), the
    model is trained on the training folds and applied to the held-out
    fold;
  * per-relation F1 against the distant labels per epoch/fold
    (tf_feed_forward.py:235-240 semantics) comes back as a DataFrame.

Spark shape: the candidates table is computed ONCE and persisted; fold
membership is a DISTRIBUTED chunk assignment (``fold_assignment``: a
two-phase dense rank over the distinct urls — the url list is never
collected to the driver, VERDICT r3 #2) joined onto the candidates once;
each fold is then a pair of chunk filters, one vocab aggregation over
the training side, a driver-side fit (kgre/train.py — deliberately off
the hot path) and one distributed scoring pass over the held-out side.
At corpus scale prefer the J5 hash-fold split
(``pmod(xxhash64(url), k)``) — list-chunk folds exist for reference
parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre import train as train_mod
from kgre.score import score_candidates
from kgre.vocab import build_vocab, collect_vocab_sets


def fold_assignment(candidates: DataFrame, k: int) -> DataFrame:
    """(url, chunk): the reference's contiguous url-ordered chunks of
    length ``n // k`` (cross_validation.py:14-16) computed DISTRIBUTED —
    a two-phase dense rank over the distinct urls plus
    ``chunk = rank // (n // k)``; the url list never reaches the driver
    (only a count and the two-phase rank's per-cell counts do).  Chunks
    ``>= k`` are the reference's remainder quirk: never a test fold,
    always train."""
    from kgre.vocab import two_phase_dense_ids

    urls = candidates.select("url").distinct()
    n = urls.count()
    if n < k:
        raise ValueError(
            f"k_fold_cv: need at least k={k} distinct documents, got {n}")
    length = max(1, n // k)
    ranked = two_phase_dense_ids(urls, [], [F.asc("url")], id_col="_uid")
    return ranked.select(
        "url", F.floor(F.col("_uid") / length).cast("int").alias("chunk"))


def fold_f1(scored: DataFrame, fold: int) -> DataFrame:
    """(fold, rel, tp, fp, fn, f1) against distant labels at the 0.5
    class threshold (tf_feed_forward.py:163, :235-240)."""
    agg = scored.groupBy("rel").agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("prob") > 0.5), 1)
              .otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("prob") > 0.5), 1)
              .otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("prob") <= 0.5), 1)
              .otherwise(0)).alias("fn"),
    )
    denom = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    return agg.select(
        F.lit(fold).alias("fold"), "rel", "tp", "fp", "fn",
        F.when(denom > 0, F.round(2.0 * F.col("tp") / denom, 4))
        .otherwise(F.lit(0.0)).alias("f1"))


def k_fold_cv(candidates: DataFrame, k: int, key_order, fwd_kb, rev_kb
              ) -> DataFrame:
    """candidates -> per-(fold, relation) F1 DataFrame: per fold, a
    min-count-5 vocabulary and a 40-epoch logistic fit on the other
    folds.

    ``candidates`` should be persisted by the caller (each fold filters
    it twice)."""
    # distributed fold membership: chunk map joined on url (Spark/AQE
    # broadcasts it when small; at corpus scale it's a plain equi-join —
    # either way no url list is ever collected to the driver)
    chunked = candidates.join(fold_assignment(candidates, k), "url")
    results = None
    for fold in range(k):
        train_c = chunked.filter(F.col("chunk") != fold).drop("chunk")
        test_c = chunked.filter(F.col("chunk") == fold).drop("chunk")
        # per-fold dictionaries from TRAINING sentences only
        vocabs = collect_vocab_sets(build_vocab(train_c, 5))
        wt, _ = train_mod.train_model(train_c, vocabs, key_order, fwd_kb,
                                      rev_kb, epochs=40)
        scored = score_candidates(test_c, vocabs, key_order, fwd_kb,
                                  rev_kb, weight_table=wt)
        r = fold_f1(scored, fold)
        results = r if results is None else results.union(r)
    return results
