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
     table and features from the scorer's FF encoder (``score.ff_hits``);
  2. driver: Adam steps (``adam_step``, shared with the LSTM fit) over the
     sparse hit lists.

Output is ``(idx, layers)``, consumable by ``score_candidates``.  Both
models persist through one table, ``WEIGHTS_SCHEMA`` (tensor, key,
values): one row per row of a 2-D parameter, keyed by feature STRING
(never dense id, SURVEY.md §7.4.2) or by position, with relation columns
re-mapped on read.  ``tensors_to_df``/``tensors_from_df`` are its one
writer and reader; ``weights_to_df``/``weights_from_df`` (FF) and
``lstm_train.lstm_weights_to_df``/``lstm_weights_from_df`` only name
their tensors — the trained model is a table like every other artifact
(the reference pickles its dictionaries, relation_extraction.py:374-385;
we persist parquet).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre.score import (FF_COLS, feature_index, ff_hits, ff_layers,
                        label_matrix, scorable)
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
    is deterministic (hash of the instance key).  The instances and their
    labels are the scorer's own (``score.scorable``,
    ``score.label_matrix``)."""
    inst = hash_range_sample(scorable(candidates), sample).select(
        "is_reverse", "pair_e1_ids", "pair_e2_ids", *cols)
    # Arrow-path collect (toPandas): row-at-a-time collect() pickles each
    # Row object — seconds slower at the 100k sample cap
    pdf = inst.toPandas()
    y = label_matrix(pdf, key_order, fwd_kb, rev_kb).astype(np.float64)
    return pdf, y


def collect_training_set(candidates: DataFrame, vocabs: dict[str, set],
                         key_order: list[str], fwd_kb, rev_kb,
                         sample: int = 100_000):
    """candidates -> (feature index, per-instance feature-hit lists,
    distant-label matrix): ``collect_instances`` encoded by the scorer's
    FF encoder ``score.ff_hits``."""
    idx, _ = feature_index(vocabs)
    pdf, y = collect_instances(candidates, FF_COLS, key_order, fwd_kb,
                               rev_kb, sample)
    rows, feats = ff_hits(pdf, idx)
    bounds = np.searchsorted(rows, np.arange(len(pdf) + 1))
    return idx, [feats[a:b].tolist() for a, b in zip(bounds, bounds[1:])], y


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


WEIGHTS_SCHEMA = "tensor string, key string, values array<double>"


def tensors_to_df(spark, tensors, key_order: list[str]) -> DataFrame:
    """Persist named 2-D tensors as one row per tensor row.

    ``tensors``: ``(name, array, keys)`` triples; a 1-D array is one row.
    ``keys`` maps a feature string to its row (rows keyed by STRING, never
    by dense id, SURVEY.md §7.4.2); ``None`` keys each row by its
    position.  Columns that stand for relations are written in
    ``key_order``, which the ``relations`` tensor records (relation ->
    position) so a reader can re-map them."""
    n_rel = len(key_order)
    relations = ("relations", np.arange(n_rel, dtype=np.float64)[:, None],
                 dict(zip(key_order, range(n_rel))))
    names, keys, values = [], [], []
    for name, arr, row_keys in [relations, *tensors]:
        arr = np.atleast_2d(arr)
        if row_keys is None:
            row_keys = {str(r): r for r in range(len(arr))}
        names.append(np.full(len(row_keys), name, object))
        keys.append(np.array(list(row_keys), object))
        values += list(arr[list(row_keys.values())])
    return spark.createDataFrame(pd.DataFrame({
        "tensor": np.concatenate(names), "key": np.concatenate(keys),
        "values": values}), WEIGHTS_SCHEMA)


def tensors_from_df(df: DataFrame, key_order: list[str], row_keys,
                    rel_cols) -> dict[str, np.ndarray]:
    """Inverse of ``tensors_to_df`` -> {name: 2-D array}, read through one
    ``toPandas`` (Arrow).  A tensor in ``row_keys`` gets one row per entry
    of its ``{key: row}`` map: rows for keys the map lacks are dropped,
    keys with no stored row stay zero.  Any other tensor is keyed by
    position.  Tensors in ``rel_cols`` get their columns moved to this
    ``key_order``; relations the writer did not have stay zero."""
    pdf = df.toPandas()
    rel = pdf[pdf["tensor"] == "relations"]
    wpos = dict(zip(rel["key"], (int(v[0]) for v in rel["values"])))
    cols = np.array([wpos.get(r, -1) for r in key_order], dtype=np.int64)
    out = {}
    for name, g in pdf[pdf["tensor"] != "relations"].groupby("tensor"):
        vals = np.stack(g["values"].to_numpy())
        if name in row_keys:
            rows = g["key"].map(row_keys[name]).to_numpy()
            hit = ~pd.isna(rows)
            rows, vals, n = (rows[hit].astype(np.int64), vals[hit],
                             len(row_keys[name]))
        else:
            rows = g["key"].astype(np.int64).to_numpy()
            n = rows.max() + 1
        if name in rel_cols:
            vals = np.where(cols >= 0, vals[:, cols], 0.0)
        out[name] = np.zeros((n, vals.shape[1]))
        out[name][rows] = vals
    return out


def _ff_names(n_layers: int) -> list[tuple[str, str]]:
    """(weight, bias) tensor names per FF layer.  The output layer is
    always ``w_out``/``b_out``, so a reader knows which tensors have
    relation columns before it knows the depth."""
    return ([(f"w{li}", f"b{li}") for li in range(n_layers - 1)]
            + [("w_out", "b_out")])


def _ff_keys(idx):
    """(row_keys, rel_cols) of ``tensors_from_df`` for an FF table read
    under the feature index ``idx``: layer-0 weights are one tensor per
    feature kind (``w0/dep_path``, or ``w_out/dep_path`` without hidden
    layers), each keyed by feature string."""
    row_keys = {f"{w}/{kind}": dict(zip(d, range(len(d))))
                for w in ("w0", "w_out") for kind, d in idx.items()}
    return row_keys, {"w_out", "b_out", *(f"w_out/{kind}" for kind in idx)}


def weights_to_df(spark, weight_table, key_order: list[str]) -> DataFrame:
    """Persist an FF layer stack through ``tensors_to_df``."""
    idx, layers = ff_layers(weight_table)
    names = _ff_names(len(layers))
    w0 = names[0][0]
    return tensors_to_df(spark, [
        *((f"{w0}/{kind}", layers[0][0], d) for kind, d in idx.items()),
        *((w, layer[0], None) for (w, _), layer in zip(names[1:], layers[1:])),
        *((b, layer[1], None) for (_, b), layer in zip(names, layers)),
    ], key_order)


def weights_from_df(df: DataFrame, vocabs: dict[str, set],
                    key_order: list[str]):
    """Inverse of weights_to_df under ``vocabs`` -> ``(idx, layers)``."""
    idx, _ = feature_index(vocabs)
    t = tensors_from_df(df, key_order, *_ff_keys(idx))
    (w0, b0), *rest = _ff_names(sum(name[0] == "b" for name in t))
    width = t[b0].shape[1]
    # feature_index lays kinds out in order, so the per-kind tensors stack;
    # a kind the writer had no features of has no tensor
    layers = [(np.concatenate([t.get(f"{w0}/{kind}", np.zeros((len(d), width)))
                               for kind, d in idx.items()]), t[b0][0])]
    return idx, layers + [(t[w], t[b][0]) for w, b in rest]
