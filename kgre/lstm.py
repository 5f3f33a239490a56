"""LSTM scoring path (reference M3/M5/M6 + X11, SURVEY.md §2.10-2.11).

Mirrors the reference's tf_lstm graph (tf_lstm.py:160-229) as pure numpy;
``lstm_batch_logits`` is the model's forward in the one scoring stage
``score.score_stage`` (shared with the FF model: broadcast, scorable
filter, distant labels and row assembly):

  * X11 encode (instances.py:199-219): SDP type list and lowercased SDP
    word list -> int id sequences padded to 100 with PADDING, unknown ->
    UNKNOWN; lengths appended.
  * embeddings (tf_lstm.py:160-188): word rows carry [emb_200 | zeros_50],
    dep rows carry [zeros_200 | emb_50]; the PADDING row of each table is
    all-zeros (the reference concats a zeros row last).
  * interleave (tf_lstm.py:194-195): sequence = word0, dep0, word1, dep1,
    ... reshaped to 200 steps of 250-d vectors; effective length =
    word_len + dep_len (tf_lstm.py:197) — the reference's quirk of mixing
    padded steps into the active window is preserved.
  * fused LSTM cell, state 250 (tf_lstm.py:205-210): gate order [i g f o]
    with forget_bias 1.0 (LSTMBlockFusedCell semantics); steps past the
    sequence length leave the state untouched.
  * dense 100 -> sigmoid multi-label (tf_lstm.py:214-229); triple emitted
    at prob > 0.5.

The reference ships no trained weights, so default weights are a frozen
deterministic function of (layer, shape key) — identical in the Spark
engine and the single-process oracle (tests/test_lstm.py checks the
batched forward against the per-instance oracle loop bit-for-bit within
float tolerance).  A real word2vec .bin drops in via kgre.w2v
(S8/M6, tf_lstm.py:13-48: same UNKNOWN/PADDING tail convention), and
trained weights via kgre.lstm_train's string-keyed weight table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from kgre.score import score_stage, sigmoid
from kgre.util import hfloats

WORD_DIM = 200
DEP_DIM = 50
STATE = WORD_DIM + DEP_DIM          # 250 (tf_lstm.py:205)
HIDDEN = 100
PAD_LEN = 100
SEQ = 2 * PAD_LEN                   # 200 interleaved steps
_W_SCALE = 0.08

# ------------------------------------------------------------- vocabularies


def lstm_vocabs(type_features, word_features):
    """(dep_type_vocab, word_vocab): {feature: id} with UNKNOWN/PADDING
    appended last (load_data.py:605-610; ids by (count-ish) sorted order is
    irrelevant here — the engine keys weights by feature string, so plain
    sorted order is used for determinism)."""
    dep = {f: i for i, f in enumerate(sorted(set(type_features)))}
    word = {f.lower(): None for f in word_features}
    word = {f: i for i, f in enumerate(sorted(word))}
    for d in (dep, word):
        n = len(d)
        d["UNKNOWN_WORD"] = n
        d["PADDING_WORD"] = n + 1
    return dep, word


def lstm_vocab_features(candidates: DataFrame, max_words: int = 500_000,
                        w2v_words=None):
    """Bounded distributed LSTM vocab build (load_data.py:605-616).

    The reference's LSTM vocab min-count is 0 (load_data.py:605-610), so
    a naive ``distinct().collect()`` drags every distinct corpus word to
    the driver — unbounded at corpus scale (472k words already at the
    5M-page stress run).  Instead: aggregate counts distributedly
    (map-side partial agg), optionally left-semi-join against the
    word2vec vocabulary (the embedding table bounds the usable words
    anyway; everything else scores as UNKNOWN, tf_lstm.py:42-48), and
    collect only the top ``max_words`` lowercased words by
    (count desc, word asc).  Dep types are a closed set (dozens) and
    collected whole.  Returns (dep_vocab, word_vocab) like
    ``lstm_vocabs``."""
    from pyspark.sql import functions as F

    spark = candidates.sparkSession
    types = [r["f"] for r in candidates.select(
        F.explode("sdp_types").alias("f")).distinct().collect()]
    words = (candidates.select(F.explode("sdp_words").alias("w"))
             .select(F.lower("w").alias("f"))
             .groupBy("f").agg(F.count("*").alias("cnt")))
    if w2v_words is not None:
        w2v_df = spark.createDataFrame(
            pd.DataFrame({"f": [w.lower() for w in w2v_words]}),
            "f string").distinct()
        words = words.join(F.broadcast(w2v_df), "f", "left_semi")
    top = (words.orderBy(F.desc("cnt"), F.asc("f"))
           .limit(int(max_words)).collect())
    return lstm_vocabs(types, [r["f"] for r in top])


def encode_instance(sdp_types, sdp_words, dep_vocab, word_vocab):
    """X11: -> (type_ids[100], word_ids[100], len_types, len_words)."""
    t_ids = [dep_vocab["PADDING_WORD"]] * PAD_LEN
    w_ids = [word_vocab["PADDING_WORD"]] * PAD_LEN
    unk_t, unk_w = dep_vocab["UNKNOWN_WORD"], word_vocab["UNKNOWN_WORD"]
    for i, t in enumerate(sdp_types[:PAD_LEN]):
        t_ids[i] = dep_vocab.get(t, unk_t)
    for i, w in enumerate(sdp_words[:PAD_LEN]):
        w_ids[i] = word_vocab.get(w.lower(), unk_w)
    return t_ids, w_ids, min(len(sdp_types), PAD_LEN), min(len(sdp_words), PAD_LEN)


def encode_batch(types_col, words_col, dep_vocab, word_vocab):
    """X11 over a batch of SDP (type list, word list) pairs ->
    (type_ids [B, PAD_LEN], word_ids [B, PAD_LEN], lens [B]) where
    ``lens`` = type length + word length, the effective sequence length
    (tf_lstm.py:197)."""
    n = len(types_col)
    t_ids = np.empty((n, PAD_LEN), dtype=np.int64)
    w_ids = np.empty((n, PAD_LEN), dtype=np.int64)
    lens = np.empty(n, dtype=np.int64)
    for r, (types, words) in enumerate(zip(types_col, words_col)):
        ti, wi, lt, lw = encode_instance(list(types), list(words),
                                         dep_vocab, word_vocab)
        t_ids[r], w_ids[r], lens[r] = ti, wi, lt + lw
    return t_ids, w_ids, lens


def interleave(word_rows, dep_rows):
    """[B, L, WORD_DIM] word and [B, L, DEP_DIM] dep embedding rows ->
    the [B, 2L, STATE] input sequence word0, dep0, word1, dep1, ...
    (tf_lstm.py:194-195): word steps carry [emb | 0], dep steps [0 | emb]."""
    n, steps = word_rows.shape[:2]
    seq = np.zeros((n, 2 * steps, STATE))
    seq[:, 0::2, :WORD_DIM] = word_rows
    seq[:, 1::2, WORD_DIM:] = dep_rows
    return seq


# ------------------------------------------------------------------ weights


def embedding_tables(dep_vocab, word_vocab):
    """Embedding matrices with the reference's zeros-PADDING-row tail
    (tf_lstm.py:162-163, :185-186)."""
    n_dep, n_word = len(dep_vocab), len(word_vocab)
    dep_emb = np.empty((n_dep, DEP_DIM))
    for f, i in dep_vocab.items():
        dep_emb[i] = hfloats("demb|" + f, DEP_DIM) * _W_SCALE
    dep_emb[dep_vocab["PADDING_WORD"]] = 0.0
    word_emb = np.empty((n_word, WORD_DIM))
    for f, i in word_vocab.items():
        word_emb[i] = hfloats("wemb|" + f, WORD_DIM) * _W_SCALE
    word_emb[word_vocab["PADDING_WORD"]] = 0.0
    return dep_emb, word_emb


def lstm_weights(key_order):
    """Frozen deterministic cell + dense weights (keyed by relation string
    for the output layer, never by dense id)."""
    kernel = hfloats("lstm|kernel", (STATE + STATE) * 4 * STATE).reshape(
        STATE + STATE, 4 * STATE) * _W_SCALE
    bias = hfloats("lstm|bias", 4 * STATE) * _W_SCALE
    w1 = hfloats("lstm|dense1", STATE * HIDDEN).reshape(STATE, HIDDEN) * _W_SCALE
    b1 = hfloats("lstm|bias1", HIDDEN) * _W_SCALE
    w2 = np.stack([hfloats("lstm|out|" + rel, HIDDEN) for rel in key_order],
                  axis=1) * _W_SCALE
    b2 = (hfloats("lstm|outb", len(key_order))
          if key_order else np.zeros(0)) * _W_SCALE
    return {"kernel": kernel, "bias": bias, "w1": w1, "b1": b1,
            "w2": w2, "b2": b2}


def lstm_forward_batch(seq, seq_len, weights, cache=None):
    """Batched fused-LSTM forward: seq [B, SEQ, STATE], seq_len [B] ->
    final hidden state [B, STATE].  Gate order [i g f o], forget_bias 1.0;
    steps at or past seq_len leave c/h untouched (fused-cell
    sequence_length semantics).  ``cache``: optional list that receives
    one (active, [x | h], i, g, f, o, c_prev, tanh(c)) tuple per step, for
    backprop through time (kgre.lstm_train)."""
    kernel, bias = weights["kernel"], weights["bias"]
    n = seq.shape[0]
    c = np.zeros((n, STATE))
    h = np.zeros((n, STATE))
    max_t = int(seq_len.max()) if n else 0
    for t in range(min(max_t, seq.shape[1])):
        active = (seq_len > t)[:, None]
        xh = np.concatenate([seq[:, t, :], h], axis=1)
        z = xh @ kernel + bias
        i = sigmoid(z[:, 0:STATE])
        g = np.tanh(z[:, STATE:2 * STATE])
        f = sigmoid(z[:, 2 * STATE:3 * STATE] + 1.0)
        o = sigmoid(z[:, 3 * STATE:4 * STATE])
        c_new = f * c + i * g
        tc = np.tanh(c_new)
        if cache is not None:
            cache.append((active, xh, i, g, f, o, c, tc))
        c = np.where(active, c_new, c)
        h = np.where(active, o * tc, h)
    return h


def lstm_logits(h, weights):
    hidden = h @ weights["w1"] + weights["b1"]
    return hidden @ weights["w2"] + weights["b2"]


# ----------------------------------------------------------------- scoring

# the seq tensor is the memory hot spot: a full Arrow batch padded to
# SEQ=200 steps is ~1.6 GB at 4096 rows x 200 x 250 float64, PER python
# worker.  Batches run in fixed-size row chunks with the buffer sized to
# the chunk's true max step count (SDP sequences are almost always far
# shorter than the 100-token pad) — peak drops to
# CHUNK x 2*ceil(max_len/2) x 250.
CHUNK = 256


def lstm_batch_logits(pdf, model):
    """M3 logits [n, n_rel] of an Arrow batch of candidates (the
    ``logits`` of ``score.score_stage``): X11 encode, interleave and the
    fused forward per ``CHUNK`` rows."""
    dv, wv, de, we, weights = model
    out = []
    for lo in range(0, len(pdf), CHUNK):
        part = pdf.iloc[lo:lo + CHUNK]
        t_ids, w_ids, lens = encode_batch(part["sdp_types"],
                                          part["sdp_words"], dv, wv)
        # the buffer covers only the chunk's effective window (rounded up
        # to a whole word/dep step pair)
        half = min(PAD_LEN, (int(lens.max()) + 1) // 2)
        seq = interleave(we[w_ids[:, :half]], de[t_ids[:, :half]])
        out.append(lstm_logits(lstm_forward_batch(seq, lens, weights),
                               weights))
    return np.concatenate(out)


def score_candidates_lstm(candidates: DataFrame, dep_vocab, word_vocab,
                          key_order, fwd_kb, rev_kb,
                          params=None) -> DataFrame:
    """candidates -> LSTM-scored triples (one row per instance x
    relation, distant label included) through ``score.score_stage``.

    ``params``: optional trained weight dict from kgre.lstm_train (M4) —
    keys word_emb/dep_emb/kernel/bias/w1/b1/w2/b2; defaults to the frozen
    deterministic weights + embedding tables."""
    if params is None:
        dep_emb, word_emb = embedding_tables(dep_vocab, word_vocab)
        weights = lstm_weights(key_order)
    else:
        dep_emb, word_emb = params["dep_emb"], params["word_emb"]
        weights = {k: params[k] for k in ("kernel", "bias", "w1", "b1",
                                          "w2", "b2")}
    return score_stage(candidates, ["sdp_types", "sdp_words"],
                       lstm_batch_logits,
                       (dep_vocab, word_vocab, dep_emb, word_emb, weights),
                       key_order, fwd_kb, rev_kb)
