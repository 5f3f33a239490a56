"""Offline training (M2, reference feed_forward_train
tf_feed_forward.py:66-288) — deliberately OUT of the Spark hot path
(SURVEY.md §2.10: train once on one node, broadcast weights).

The reference materializes int8 feature matrices to TFRecords and trains a
single-node TF graph: Adam, sigmoid cross-entropy, 250 epochs, batch 128,
seed 10 (tf_feed_forward.py:7-11, :96-97).  Its shipped configuration is
``hidden_array=[]``, so the model IS multi-label logistic regression.
There is one fit, ``fit_ff``: the reference graph with N(0, 0.1) init and
``reduce_mean`` sigmoid cross-entropy, for the shipped config and for any
hidden stack alike.  It consumes the distributed candidates table in two
steps:

  1. distributed: the scorable instances are hash-range sampled
     (``hash_range_sample``) and collected once (``collect_instances``,
     bounded by ``sample`` the same way the reference is bounded by what
     fits in TFRecords on one box); labels come from the scorer's J1 truth
     table and features are looked up in the scorer's feature index;
  2. driver: Adam steps (``adam_step``, shared with the LSTM fit) over the
     sparse hit lists.

Output is ``(idx, layers)`` keyed by feature STRING (never dense id,
SURVEY.md §7.4.2), consumable by ``score_candidates``, and one persisted
format, the layered (layer, kind, feature, i, rel, j, weight) table of
``weights_to_df`` — the trained model is a table like every other
artifact (the reference pickles its dictionaries,
relation_extraction.py:374-385; we persist parquet).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre.score import distant_labels, feature_index, ff_layers
from kgre.similarity import grow_cutoff

SEED = 10          # tf_feed_forward.py:7-8
BATCH = 128        # tf_feed_forward.py:97
EPOCHS = 250       # tf_feed_forward.py:96
LR = 0.001         # Adam default, tf.train.AdamOptimizer


_HASH_BITS = 20
_INSTANCE_KEY = ("url", "sent_id", "pair_idx", "is_reverse")


def hash_range_sample(df: DataFrame, sample: int) -> DataFrame:
    """Deterministic ~``sample``-row subset WITHOUT ranking the full table:
    keep rows whose 20-bit instance-key hash falls below a cutoff sized
    from a cheap count (``similarity.grow_cutoff``, the shared
    cutoff-growth protocol), then order/limit only the ~1.3x-sample
    survivors.

    The heavy table only flows through a map-side filter, and the top-k
    sees a bounded subset (VERDICT r1 'what's wrong' #3).  Callers should
    pass a persisted DataFrame — the sizing count and the final collect
    share the materialization."""
    total = df.count()
    if total <= sample:
        return df
    sub = df.withColumn("_h", F.pmod(F.xxhash64(*_INSTANCE_KEY),
                                     F.lit(1 << _HASH_BITS)))
    cutoff = grow_cutoff(total, sample,
                         lambda c: sub.filter(F.col("_h") < c).count(),
                         bits=_HASH_BITS)
    return (sub.filter(F.col("_h") < cutoff)
            .orderBy("_h", *_INSTANCE_KEY).limit(sample).drop("_h"))


def collect_instances(candidates: DataFrame, cols, key_order: list[str],
                      fwd_kb, rev_kb, sample: int):
    """Scorable instances -> (pandas frame of ``cols``, distant-label
    matrix y[n, n_rel]) on the driver.  ``sample`` caps driver memory
    (the reference is equally bounded by TFRecords on one box); sampling
    is deterministic (hash of the instance key).  Labels come from the
    scorer's own J1 truth table (``score.distant_labels``)."""
    inst = hash_range_sample(
        candidates.filter((~F.col("is_reverse")) | F.col("gene_to_gene")),
        sample,
    ).select("is_reverse", "pair_e1_ids", "pair_e2_ids", *cols)
    # Arrow-path collect (toPandas): row-at-a-time collect() pickles each
    # Row object — seconds slower at the 100k sample cap
    pdf = inst.toPandas()
    y = np.array([distant_labels(e1, e2, rev, key_order, fwd_kb, rev_kb)
                  for rev, e1, e2 in zip(pdf["is_reverse"],
                                         pdf["pair_e1_ids"],
                                         pdf["pair_e2_ids"])],
                 dtype=np.float64).reshape(len(pdf), len(key_order))
    return pdf, y


def collect_training_set(candidates: DataFrame, vocabs: dict[str, set],
                         key_order: list[str], fwd_kb, rev_kb,
                         sample: int = 100_000):
    """candidates -> (feature index, per-instance feature-hit lists,
    distant-label matrix): ``collect_instances`` encoded the way the
    scorer looks its features up."""
    idx, _ = feature_index(vocabs)
    cols = {"dep_word": "sdp_words", "element": "sdp_elements",
            "between": "between_words"}
    pdf, y = collect_instances(candidates, ["dep_path_string", *cols.values()],
                               key_order, fwd_kb, rev_kb, sample)
    hits: list[list[int]] = []
    for r in range(len(pdf)):
        h = []
        i = idx["dep_path"].get(pdf["dep_path_string"].iat[r])
        if i is not None:
            h.append(i)
        for kind, c in cols.items():
            d = idx[kind]
            for f in set(pdf[c].iat[r]):
                j = d.get(f)
                if j is not None:
                    h.append(j)
        hits.append(h)
    return idx, hits, y


def adam_step(state, grads, params, lr, t):
    """One in-place Adam update (tf.train.AdamOptimizer defaults) of
    ``params`` from ``grads``; ``state`` holds the moment lists ``m``/``v``
    in the same order, ``t`` is the 1-based step."""
    b1, b2, eps = 0.9, 0.999, 1e-8
    for g, wt, m, v in zip(grads, params, state["m"], state["v"]):
        m *= b1; m += (1 - b1) * g
        v *= b2; v += (1 - b2) * g * g
        wt -= lr * (m / (1 - b1**t)) / (np.sqrt(v / (1 - b2**t)) + eps)


def fit_ff(hits, y, n_feat: int, hidden_array, epochs: int = EPOCHS,
           batch: int = BATCH, lr: float = LR, seed: int = SEED,
           keep_prob: float = 0.5):
    """General feed-forward training (tf_feed_forward.py:66-288):
    ``hidden_array`` ReLU layers with inverted dropout (keep_prob 0.5 at
    train, :194) + linear output, sigmoid cross-entropy reduce_mean, Adam
    defaults, all weights/biases init N(0, 0.1) (:150-158), no L2 (the FF
    graph has none — only the LSTM adds it).  Returns
    ``(layers, losses)`` where layers = [(W1,b1),...,(Wout,bout)]
    consumable by score_candidates via (idx, layers)."""
    rng = np.random.RandomState(seed)
    n, n_rel = y.shape
    dims = [n_feat] + list(hidden_array) + [n_rel]
    layers = [(rng.normal(0.0, 0.1, size=(dims[i], dims[i + 1])),
               rng.normal(0.0, 0.1, size=dims[i + 1]))
              for i in range(len(dims) - 1)]
    params = [p for wb in layers for p in wb]
    state = {"m": [np.zeros_like(p) for p in params],
             "v": [np.zeros_like(p) for p in params]}
    t = 0
    losses = []
    order = np.arange(n)
    for _ in range(epochs):
        rng.shuffle(order)
        ep_loss = 0.0
        for s in range(0, n, batch):
            sel = order[s:s + batch]
            bsz = len(sel)
            # first layer from sparse hit lists (multi-hot x W1)
            w1, b1 = layers[0]
            z = np.tile(b1, (bsz, 1))
            for r, i in enumerate(sel):
                if hits[i]:
                    z[r] += w1[hits[i]].sum(axis=0)
            acts = [z]        # pre-activations per layer
            drops = []        # dropout masks on hidden activations
            h = z
            for w, b in layers[1:]:
                a = np.maximum(h, 0.0)
                mask = (rng.random_sample(a.shape) < keep_prob) / keep_prob
                a = a * mask
                drops.append((a, mask))
                h = a @ w + b
                acts.append(h)
            p = 1.0 / (1.0 + np.exp(-np.clip(h, -60, 60)))
            ep_loss += float(
                -(y[sel] * np.log(p + 1e-12)
                  + (1 - y[sel]) * np.log(1 - p + 1e-12)).sum())
            # dL/dlogits for mean sigmoid-CE over all B*n_rel elements
            d = (p - y[sel]) / (bsz * n_rel)
            grads = [None] * len(layers)
            for li in range(len(layers) - 1, 0, -1):
                a_in, mask = drops[li - 1]
                w, b = layers[li]
                grads[li] = (a_in.T @ d, d.sum(axis=0))
                d = (d @ w.T) * mask * (acts[li - 1] > 0)
            gw1 = np.zeros_like(layers[0][0])
            for r, i in enumerate(sel):
                if hits[i]:
                    gw1[hits[i]] += d[r]
            grads[0] = (gw1, d.sum(axis=0))
            t += 1
            adam_step(state, [g for wb in grads for g in wb], params, lr, t)
        losses.append(ep_loss / max(n, 1))
    return layers, losses


def train_model(candidates: DataFrame, vocabs: dict[str, set],
                key_order: list[str], fwd_kb, rev_kb,
                epochs: int = EPOCHS, sample: int = 100_000,
                hidden_array=()):
    """-> ((idx, layers) for score_candidates(weight_table=...), losses).

    ``hidden_array=()`` is the reference's shipped config — one output
    layer, i.e. multi-label logistic regression; a non-empty stack (e.g.
    [256, 64]) adds ReLU+dropout hidden layers (tf_feed_forward.py:32-63)."""
    _, n_feat = feature_index(vocabs)
    idx, hits, y = collect_training_set(candidates, vocabs, key_order,
                                        fwd_kb, rev_kb, sample)
    layers, losses = fit_ff(hits, y, n_feat, hidden_array, epochs=epochs)
    return (idx, layers), losses


WEIGHTS_SCHEMA = ("layer int, kind string, feature string, i int, "
                  "rel string, j int, weight double")


def weights_to_df(spark, weight_table, key_order: list[str]) -> DataFrame:
    """Persist an FF layer stack (the one weight format): layer-0 rows keyed by FEATURE STRING,
    output columns keyed by RELATION STRING (id-assignment independent,
    SURVEY.md §7.4.2); interior dims are structural integers.  Per layer:
    the weight rows row-major, then one bias row per output column."""
    idx, layers = ff_layers(weight_table)
    last = len(layers) - 1
    n0 = layers[0][0].shape[0]
    kind0, feat0 = np.empty(n0, object), np.empty(n0, object)
    for kind, d in idx.items():
        for feat, r in d.items():
            kind0[r], feat0[r] = kind, feat
    cols: dict[str, list] = {c: [] for c in
                             ("layer", "kind", "feature", "i", "rel", "j",
                              "weight")}
    for li, (w, b) in enumerate(layers):
        n_r, n_c = w.shape
        if li:
            kind, feat, i = (np.full(n_r, "__dense__", object),
                             np.full(n_r, "", object), np.arange(n_r))
        else:
            kind, feat, i = kind0, feat0, np.full(n_r, -1)
        if li == last:
            rel, j = np.array(key_order, object), np.full(n_c, -1)
        else:
            rel, j = np.full(n_c, "", object), np.arange(n_c)
        cols["layer"].append(np.full(n_r * n_c + n_c, li))
        cols["kind"] += [np.repeat(kind, n_c),
                         np.full(n_c, "__bias__", object)]
        cols["feature"] += [np.repeat(feat, n_c), np.full(n_c, "", object)]
        cols["i"] += [np.repeat(i, n_c), np.full(n_c, -1)]
        cols["rel"].append(np.tile(rel, n_r + 1))
        cols["j"].append(np.tile(j, n_r + 1))
        cols["weight"] += [w.ravel(), b]
    return spark.createDataFrame(
        pd.DataFrame({c: np.concatenate(v) for c, v in cols.items()}),
        WEIGHTS_SCHEMA)


def weights_from_df(df: DataFrame, vocabs: dict[str, set],
                    key_order: list[str]):
    """Inverse of weights_to_df; layer-0 rows for features no longer in
    the vocab are dropped, new features get zero rows."""
    idx, n_feat = feature_index(vocabs)
    rows = df.collect()
    n_layers = max(r["layer"] for r in rows) + 1
    kpos = {rel: k for k, rel in enumerate(key_order)}
    dout = {}
    for r in rows:
        c = kpos[r["rel"]] if r["j"] == -1 else r["j"]
        dout[r["layer"]] = max(dout.get(r["layer"], 0), c + 1)
    din = {0: n_feat}
    for li in range(1, n_layers):
        din[li] = dout[li - 1]
    layers = [(np.zeros((din[li], dout[li])), np.zeros(dout[li]))
              for li in range(n_layers)]
    for r in rows:
        li = r["layer"]
        c = kpos[r["rel"]] if r["j"] == -1 else r["j"]
        if r["kind"] == "__bias__":
            layers[li][1][c] = r["weight"]
        elif li == 0:
            ri = idx.get(r["kind"], {}).get(r["feature"])
            if ri is not None:
                layers[li][0][ri, c] = r["weight"]
        else:
            layers[li][0][r["i"], c] = r["weight"]
    return idx, layers
