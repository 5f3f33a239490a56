"""M4: offline LSTM training loop (reference ``lstm_train``,
tf_lstm.py:75-368) — numpy Adam + full BPTT through the fused cell,
deliberately OUT of the Spark hot path like train.py (train once on one
node, broadcast weights; SURVEY.md §2.10).

Reference fidelity:
  * Adam defaults, 250 epochs x batch 128, seed 10 (tf_lstm.py:107-108).
  * loss = reduce_mean sigmoid cross-entropy over all B x n_rel elements
    + lambda_l2 * sum(l2_loss(v)) with lambda 1e-5 (tf_lstm.py:101,
    :240-243).
  * L2 applies to the LSTM kernel, the LSTM cell bias (the reference's
    ``non_reg`` exclusion checks for the substring 'biases' and the cell
    variable is named 'bias', so it IS regularized, tf_lstm.py:235-238),
    hidden W and sigmoid W — NOT the embeddings and NOT hidden/sigmoid b.
  * dropout keep_prob 0.5 at train on BOTH the word embeddings
    (word_dropout, tf_lstm.py:191-192) AND the hidden-layer output
    (tf_lstm.py:221, fed 0.5 at train :276); dep embeddings are not
    dropped.
  * inits: embeddings uniform[0,1) with a zeros PADDING tail row
    (tf_lstm.py:162-163, :185-186; the tail row is part of the trainable
    variable and receives gradients, faithfully kept); dense layers
    ``tf.truncated_normal(shape, -0.1, 0.1)`` — i.e. mean=-0.1 std=0.1
    truncated at 2 std, matched by rejection sampling (tf_lstm.py:215,
    :222; the odd mean is the reference's, kept); cell kernel
    glorot-uniform, cell bias zeros with forget_bias 1.0 applied at the
    gate (LSTMBlockFusedCell defaults).

Training reuses the scorer's pieces: instances and distant labels come
from ``train.collect_instances``, the X11 encode and interleave from
``lstm.encode_batch``/``lstm.interleave``, the forward pass is the
scorer's ``lstm.lstm_forward_batch`` (which records each step's gates for
BPTT), and the update is ``train.adam_step``.  The gradient math is
verified against finite differences in tests/test_train.py; the trained
weight dict drops into ``lstm.score_candidates_lstm(params=...)``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from kgre.lstm import (DEP_DIM, HIDDEN, PAD_LEN, STATE, WORD_DIM,
                       encode_batch, interleave, lstm_forward_batch)
from kgre.score import sigmoid
from kgre.train import (SAMPLE, adam_step, collect_instances,
                         tensors_from_df, tensors_to_df)

SEED = 10
BATCH = 128
EPOCHS = 250
LR = 0.001
LAMBDA_L2 = 1e-5          # tf_lstm.py:101
KEEP_PROB = 0.5


# ----------------------------------------------------------- data collection


def collect_lstm_training_set(candidates: DataFrame, dep_vocab, word_vocab,
                              key_order, fwd_kb, rev_kb):
    """Scorable instances -> (t_ids, w_ids, lens, y) on the driver:
    ``train.collect_instances`` encoded by the scorer's X11
    ``encode_batch``."""
    pdf, y = collect_instances(candidates, ["sdp_types", "sdp_words"],
                               key_order, fwd_kb, rev_kb, SAMPLE)
    t_ids, w_ids, lens = encode_batch(pdf["sdp_types"], pdf["sdp_words"],
                                      dep_vocab, word_vocab)
    return t_ids, w_ids, lens, y


# ------------------------------------------------------------------- weights


def truncated_normal(rng, shape):
    """``tf.truncated_normal(shape, -0.1, 0.1)`` semantics: draw
    N(mean, std), redraw any sample farther than 2 std from the mean
    (rejection sampling)."""
    mean, std = -0.1, 0.1
    out = rng.normal(mean, std, size=shape)
    bad = np.abs(out - mean) > 2.0 * std
    while bad.any():
        out[bad] = rng.normal(mean, std, size=int(bad.sum()))
        bad = np.abs(out - mean) > 2.0 * std
    return out


def init_lstm_params(dep_vocab, word_vocab, key_order):
    """Reference init scheme (see module docstring)."""
    rng = np.random.RandomState(SEED)
    word_emb = rng.random_sample((len(word_vocab), WORD_DIM))
    word_emb[word_vocab["PADDING_WORD"]] = 0.0
    dep_emb = rng.random_sample((len(dep_vocab), DEP_DIM))
    dep_emb[dep_vocab["PADDING_WORD"]] = 0.0
    lim = np.sqrt(6.0 / (2 * STATE + 4 * STATE))
    kernel = rng.uniform(-lim, lim, size=(2 * STATE, 4 * STATE))
    cbias = np.zeros(4 * STATE)
    w1 = truncated_normal(rng, (STATE, HIDDEN))
    b1 = np.zeros(HIDDEN)
    w2 = truncated_normal(rng, (HIDDEN, len(key_order)))
    b2 = np.zeros(len(key_order))
    return {"word_emb": word_emb, "dep_emb": dep_emb, "kernel": kernel,
            "bias": cbias, "w1": w1, "b1": b1, "w2": w2, "b2": b2}


_PARAM_ORDER = ("word_emb", "dep_emb", "kernel", "bias", "w1", "b1",
                "w2", "b2")
_L2_PARAMS = ("kernel", "bias", "w1", "w2")   # tf_lstm.py:235-238


def lstm_loss_and_grads(params, t_ids, w_ids, lens, y,
                        word_drop_mask=None, hidden_drop_mask=None):
    """Forward + full BPTT for one batch.  Returns (loss, grads dict).

    ``word_drop_mask``: optional [B, PAD_LEN, 1] inverted-dropout mask for
    the word-embedding steps (None = identity, the test/predict config).
    ``hidden_drop_mask``: optional [B, HIDDEN] inverted-dropout mask on
    the hidden-layer output before the sigmoid layer (tf_lstm.py:221,
    keep_prob fed 0.5 at train :276; None = identity).
    """
    we, de = params["word_emb"], params["dep_emb"]
    kernel, cbias = params["kernel"], params["bias"]
    w1, b1, w2, b2 = (params["w1"], params["b1"], params["w2"], params["b2"])
    n = t_ids.shape[0]
    n_rel = b2.shape[0]

    xw = we[w_ids]                               # [B, PAD, WORD]
    if word_drop_mask is not None:
        xw = xw * word_drop_mask
    seq = interleave(xw, de[t_ids])
    cache = []
    h = lstm_forward_batch(seq, lens, params, cache)

    hidden = h @ w1 + b1                          # linear (tf_lstm.py:214-217)
    if hidden_drop_mask is not None:
        hidden = hidden * hidden_drop_mask
    logits = hidden @ w2 + b2
    p = sigmoid(logits)
    ce = -(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12)).mean()
    l2_loss = LAMBDA_L2 * sum(0.5 * float((params[k] ** 2).sum())
                              for k in _L2_PARAMS)
    loss = ce + l2_loss

    # ---- backward
    d = (p - y) / (n * n_rel)
    g_w2 = hidden.T @ d
    g_b2 = d.sum(axis=0)
    dhidden = d @ w2.T
    if hidden_drop_mask is not None:
        dhidden = dhidden * hidden_drop_mask
    g_w1 = h.T @ dhidden
    g_b1 = dhidden.sum(axis=0)
    dh = dhidden @ w1.T
    dc = np.zeros_like(dh)
    g_kernel = np.zeros_like(kernel)
    g_cbias = np.zeros_like(cbias)
    dseq = np.zeros_like(seq)
    for t in range(len(cache) - 1, -1, -1):
        m, xh, i, g, f, o, c_prev, tc = cache[t]
        dh_cand = np.where(m, dh, 0.0)
        dh_pass = np.where(m, 0.0, dh)
        dc_cand = np.where(m, dc, 0.0)
        dc_pass = np.where(m, 0.0, dc)
        do = dh_cand * tc
        dc_total = dc_cand + dh_cand * o * (1.0 - tc * tc)
        df = dc_total * c_prev
        di = dc_total * g
        dg = dc_total * i
        dz = np.concatenate(
            [di * i * (1 - i), dg * (1 - g * g), df * f * (1 - f),
             do * o * (1 - o)], axis=1)
        g_kernel += xh.T @ dz
        g_cbias += dz.sum(axis=0)
        dxh = dz @ kernel.T
        dseq[:, t, :] = dxh[:, :STATE]
        dh = dxh[:, STATE:] + dh_pass
        dc = dc_total * f + dc_pass

    dxw = dseq[:, 0::2, :WORD_DIM]
    if word_drop_mask is not None:
        dxw = dxw * word_drop_mask
    g_we = np.zeros_like(we)
    np.add.at(g_we, w_ids, dxw)
    g_de = np.zeros_like(de)
    np.add.at(g_de, t_ids, dseq[:, 1::2, WORD_DIM:])

    grads = {"word_emb": g_we, "dep_emb": g_de, "kernel": g_kernel,
             "bias": g_cbias, "w1": g_w1, "b1": g_b1, "w2": g_w2,
             "b2": g_b2}
    for k in _L2_PARAMS:
        grads[k] = grads[k] + LAMBDA_L2 * params[k]
    return loss, grads


def fit_lstm(t_ids, w_ids, lens, y, dep_vocab, word_vocab, key_order,
             epochs: int = EPOCHS):
    """Adam training loop (tf_lstm.py:252-368 shape).  Returns
    (params, losses); ``params`` drops into score_candidates_lstm."""
    rng = np.random.RandomState(SEED)
    params = init_lstm_params(dep_vocab, word_vocab, key_order)
    plist = [params[k] for k in _PARAM_ORDER]
    state = {"m": [np.zeros_like(p) for p in plist],
             "v": [np.zeros_like(p) for p in plist]}
    t_step = 0
    n = t_ids.shape[0]
    order = np.arange(n)
    losses = []
    for _ in range(epochs):
        rng.shuffle(order)
        ep = 0.0
        for s in range(0, n, BATCH):
            sel = order[s:s + BATCH]
            mask = ((rng.random_sample((len(sel), PAD_LEN, 1))
                     < KEEP_PROB) / KEEP_PROB)
            hmask = ((rng.random_sample((len(sel), HIDDEN))
                      < KEEP_PROB) / KEEP_PROB)
            loss, grads = lstm_loss_and_grads(
                params, t_ids[sel], w_ids[sel], lens[sel], y[sel],
                word_drop_mask=mask, hidden_drop_mask=hmask)
            ep += loss * len(sel)
            t_step += 1
            adam_step(state, [grads[k] for k in _PARAM_ORDER], plist, LR,
                      t_step)
        losses.append(ep / max(n, 1))
    return params, losses


def train_lstm_model(candidates: DataFrame, dep_vocab, word_vocab,
                     key_order, fwd_kb, rev_kb, epochs: int = EPOCHS):
    """candidates -> trained LSTM params + losses (driver-side fit over a
    hash-sampled collected set, like train.train_model)."""
    t_ids, w_ids, lens, y = collect_lstm_training_set(
        candidates, dep_vocab, word_vocab, key_order, fwd_kb, rev_kb)
    return fit_lstm(t_ids, w_ids, lens, y, dep_vocab, word_vocab, key_order,
                    epochs=epochs)


# ---------------------------------------------------------------- persistence

_VECTORS = ("bias", "b1", "b2")


def lstm_weights_to_df(spark, params, dep_vocab, word_vocab, key_order):
    """Persist trained weights through ``train.tensors_to_df``: embedding
    rows keyed by their feature string, the output layer's columns by
    relation, everything else by position."""
    keyed = {"word_emb": word_vocab, "dep_emb": dep_vocab}
    return tensors_to_df(spark, [(k, params[k], keyed.get(k))
                                 for k in _PARAM_ORDER], key_order)


def lstm_weights_from_df(df, dep_vocab, word_vocab, key_order):
    """Inverse of lstm_weights_to_df under possibly RE-ASSIGNED dense ids
    (string keys survive vocab rebuilds; unseen features get zero rows)."""
    t = tensors_from_df(df, key_order,
                        {"word_emb": word_vocab, "dep_emb": dep_vocab},
                        {"w2", "b2"})
    return {k: t[k][0] if k in _VECTORS else t[k] for k in _PARAM_ORDER}
