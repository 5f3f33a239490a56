"""Distant labeling + model scoring -> scored triples.

One ``mapInPandas`` stage (``score_stage``) scores both models.  It fuses
J1 (distant label membership, load_data.py:275-286) with a model's
forward pass — M1, the feed-forward net (``score_candidates``; the
reference's shipped config degenerates to per-relation logistic
regression, relation_extraction.py:405, tf_feed_forward.py:32-63), or
M3, the LSTM (``kgre.lstm.score_candidates_lstm``) — over one broadcast:

  * the model's state (for FF the feature index
    {kind: {feature: row}} and the layer stack, materialized once on the
    driver from the frozen feature-string-keyed model, kgre/model.py, or
    a trained table; the hot loop does dict lookups + a scatter-add, no
    hashing);
  * KB forward/reverse tuple sets (the reference keeps them in driver
    RAM; here they ship once per executor) and the relation order.

Output: one row per (instance x relation) in the reference's write_output
layout (relation_extraction.py:21-47): (url=pmid, subj, obj, rel,
distant label, probability); emitted-triple set = prob > 0.5
(tf_feed_forward.py:163).

Reverse instances are scored only for gene-gene pairs
(load_data.py:288-290, ``scorable``); the candidates table carries both so
the vocab builder sees reverse features (load_data.py:201-208).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre.model import KINDS, bias, feature_weight

TRIPLES_SCHEMA = (
    "url string, sent_id int, pair_idx int, is_reverse boolean, "
    "subj string, obj string, rel string, label int, prob double"
)

# S14 rich predict sink carries the sentence + endpoint token ids so the
# ***entity*** highlighting can be rebuilt without re-parsing
PREDICT_SCHEMA = TRIPLES_SCHEMA + (
    ", sent_text string, start_tok int, end_tok int"
)

_KEY_COLS = ["url", "sent_id", "pair_idx", "is_reverse", "subj", "obj"]

# the candidate column each FF feature kind is looked up from
_FF_KIND_COLS = {"dep_path": "dep_path_string", "dep_word": "sdp_words",
                 "element": "sdp_elements", "between": "between_words"}
FF_COLS = list(_FF_KIND_COLS.values())


def feature_index(vocabs: dict[str, set]):
    """({kind: {feature: row}}, n_rows): one row per vocab feature, KINDS
    order then sorted within a kind — the row layout of every weight
    matrix (the frozen scorer's and the trained ones)."""
    idx: dict[str, dict[str, int]] = {}
    r = 0
    for kind in KINDS:
        idx[kind] = {feat: r + i
                     for i, feat in enumerate(sorted(vocabs[kind]))}
        r += len(idx[kind])
    return idx, r


def build_weight_table(vocabs: dict[str, set], key_order: list[str]):
    """({kind: {feature: row}}, W[n_feat, n_rel], bias[n_rel]) driver-side.

    One contiguous matrix + per-kind index dicts instead of one tiny array
    per feature: broadcast-pickles in one buffer and row lookups in the
    scorer are a single fancy-index."""
    idx, n_feat = feature_index(vocabs)
    w = np.empty((n_feat, len(key_order)), dtype=np.float64)
    for kind, rows in idx.items():
        for feat, i in rows.items():
            for j, rel in enumerate(key_order):
                w[i, j] = feature_weight(kind, rel, feat)
    bias_vec = np.array([bias(rel) for rel in key_order], dtype=np.float64)
    return idx, w, bias_vec


def ff_layers(weight_table):
    """Normalize a weight table to the feed-forward layer stack of
    ``tf_feed_forward.py:32-63``: ``[(W1, b1), ..., (Wout, bout)]`` with
    ReLU between layers (dropout is identity at test keep_prob=1).
    Training and ``kgre.train.weights_from_df`` produce ``(idx, layers)``;
    ``build_weight_table`` keeps returning the frozen model as the
    ``(idx, W, bias)`` triple (the benchmark harness reads its W and
    bias by position), and this is the one place that turns it into a
    single output layer — the shipped ``hidden_array=[]`` config."""
    if len(weight_table) == 3:
        idx, w_mat, bias_vec = weight_table
        return idx, [(w_mat, bias_vec)]
    idx, layers = weight_table
    return idx, list(layers)


def distant_labels(e1_ids, e2_ids, is_reverse, key_order, fwd_kb, rev_kb):
    """J1 distant label of one instance per relation (load_data.py:275-286)
    -> list of 0/1 in ``key_order``: any (e1, e2) id combination in the
    relation's KB set.  A SYMMETRIC relation matches either direction; a
    reverse instance is labeled only when the forward set did NOT match
    (the reference's if/elif, load_data.py:283-286)."""
    combos = set(itertools.product(e1_ids, e2_ids))
    out = []
    for key in key_order:
        fwd = not combos.isdisjoint(fwd_kb[key])
        if "SYMMETRIC" in key:
            out.append(int(fwd or not combos.isdisjoint(rev_kb[key])))
        elif is_reverse:
            out.append(int(not fwd and not combos.isdisjoint(rev_kb[key])))
        else:
            out.append(int(fwd))
    return out


def label_matrix(pdf: pd.DataFrame, key_order, fwd_kb, rev_kb) -> np.ndarray:
    """``distant_labels`` of every instance of ``pdf`` -> int32
    [n, n_rel]; the scorer and the training collector both label
    through this."""
    return np.array(
        [distant_labels(e1, e2, rev, key_order, fwd_kb, rev_kb)
         for rev, e1, e2 in zip(pdf["is_reverse"], pdf["pair_e1_ids"],
                                pdf["pair_e2_ids"])],
        dtype=np.int32).reshape(len(pdf), len(key_order))


def scorable(candidates: DataFrame) -> DataFrame:
    """The instances a model scores and trains on: forward ones, and
    reverse ones only for gene-gene pairs (load_data.py:288-290)."""
    return candidates.filter((~F.col("is_reverse")) | F.col("gene_to_gene"))


def ff_hits(pdf: pd.DataFrame, idx) -> tuple[np.ndarray, np.ndarray]:
    """The FF encoder: per instance of ``pdf``, the feature-index rows of
    its vocab features -> (rows, feats), one (instance, feature row) hit
    per entry, instances in order.  Within an instance: the dep path,
    then the distinct SDP words, SDP elements and between words; features
    missing from the vocab score nothing.  The multi-hot input times W1
    is then a scatter-sum of W1 rows (``ff_logits``, ``train.fit_ff``)."""
    idx_path, idx_word, idx_elem, idx_betw = (idx[k] for k in _FF_KIND_COLS)
    rows: list[int] = []
    feats: list[int] = []
    it = zip(*(pdf[c] for c in FF_COLS))
    for r, (path_s, words, elems, betw) in enumerate(it):
        i = idx_path.get(path_s)
        if i is not None:
            rows.append(r)
            feats.append(i)
        for d, fs in ((idx_word, words), (idx_elem, elems),
                      (idx_betw, betw)):
            for f in set(fs):
                i = d.get(f)
                if i is not None:
                    rows.append(r)
                    feats.append(i)
    return np.array(rows, dtype=np.int64), np.array(feats, dtype=np.int64)


def ff_forward_from_z1(z1, layers):
    """Forward pass given the FIRST layer's pre-activation (the multi-hot
    input times W1 is a scatter-sum of W1 rows — computed upstream).
    Hidden layers apply ReLU (tf_feed_forward.py:54); the output layer is
    linear logits."""
    h = z1
    for w, b in layers[1:]:
        h = np.maximum(h, 0.0) @ w + b
    return h


def ff_logits(pdf: pd.DataFrame, model) -> np.ndarray:
    """M1 logits [n, n_rel] of a batch under ``model`` = (idx, layers):
    one batch-wide scatter-add of the first layer's rows, then the rest
    of the stack."""
    idx, layers = model
    rows, feats = ff_hits(pdf, idx)
    w, b = layers[0]
    z = np.tile(b, (len(pdf), 1))
    np.add.at(z, rows, w[feats])
    return ff_forward_from_z1(z, layers)


def sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


def score_stage(candidates: DataFrame, cols: list[str], logits, state,
                key_order: list[str], fwd_kb: dict[str, set],
                rev_kb: dict[str, set], with_sentence: bool = False,
                emit_threshold: float | None = None) -> DataFrame:
    """The scoring stage of every model: scorable ``candidates`` ->
    (instance x relation) rows of label and ``sigmoid(logits(pdf,
    state))``, where ``logits`` reads the model's ``cols`` of an Arrow
    batch.  ``state`` ships once per executor in one broadcast with the
    KB sets and ``key_order``.

    ``with_sentence``: carry (sent_text, start_tok, end_tok) through the
    scorer for the S14 rich predict sink (relation_extraction.py:70-80,
    :548-562); off for the TEST path so the hot Arrow boundary never moves
    sentence strings.
    ``emit_threshold``: apply the emitted-triple gate (strictly >,
    tf_feed_forward.py:163) INSIDE the UDF so sub-threshold
    instance x relation rows never cross the Arrow boundary or reach the
    sink — with many relations most rows are discarded, so this cuts the
    dominant Arrow traffic of the TEST path (VERDICT r1 item 9).  None
    (predict mode) keeps every row."""
    b_state = candidates.sparkSession.sparkContext.broadcast(
        {"model": state, "key_order": key_order, "fwd": fwd_kb,
         "rev": rev_kb})
    sentence = ["sent_text", "start_tok", "end_tok"] if with_sentence else []

    def run(batches):
        st = b_state.value
        keys = st["key_order"]
        rels = np.array(keys, dtype=object)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            labels = label_matrix(pdf, keys, st["fwd"], st["rev"])
            probs = sigmoid(logits(pdf, st["model"]))
            # (instance x relation) rows in row-major order: every pair in
            # predict mode, the emitted ones under a threshold
            keep = (np.ones(probs.shape, dtype=bool) if emit_threshold is None
                    else probs > emit_threshold)
            ri, ki = np.nonzero(keep)
            out = {c: pdf[c].to_numpy()[ri] for c in _KEY_COLS}
            out.update(rel=rels[ki], label=labels[ri, ki],
                       prob=probs[ri, ki])
            out.update({c: pdf[c].to_numpy()[ri] for c in sentence})
            yield pd.DataFrame(out)

    # explicit projection: mapInPandas ships every input column through
    # Arrow, so prune to exactly what the stage reads (keeps unused
    # feature columns — and, in TEST mode, the sentence strings — off the
    # hot boundary)
    return scorable(candidates).select(
        *_KEY_COLS, "pair_e1_ids", "pair_e2_ids", *cols, *sentence
    ).mapInPandas(
        run, schema=PREDICT_SCHEMA if with_sentence else TRIPLES_SCHEMA)


def score_candidates(
    candidates: DataFrame,
    vocabs: dict[str, set],
    key_order: list[str],
    fwd_kb: dict[str, set],
    rev_kb: dict[str, set],
    weight_table=None,
    with_sentence: bool = False,
    emit_threshold: float | None = None,
) -> DataFrame:
    """candidates -> FF-scored triples (one row per instance x relation)
    through ``score_stage``.

    ``weight_table``: optional ``(idx, [(W1,b1),...,(Wout,bout)])`` layer
    stack (tf_feed_forward.py:32-63) from an offline training run
    (``kgre.train.train_model`` or ``kgre.train.weights_from_df``, M2);
    defaults to the frozen deterministic logistic model of
    ``build_weight_table`` (see ``ff_layers``)."""
    if weight_table is None:
        weight_table = build_weight_table(vocabs, key_order)
    return score_stage(candidates, FF_COLS, ff_logits,
                       ff_layers(weight_table), key_order, fwd_kb, rev_kb,
                       with_sentence, emit_threshold)


def emitted_triples(scored: DataFrame) -> DataFrame:
    """Triples the pipeline asserts true: prob > 0.5 (tf_feed_forward.py:163)."""
    return scored.filter(F.col("prob") > 0.5)


def highlight_sentences(scored: DataFrame) -> DataFrame:
    """S14: add a ``sentence`` column with the two pair-endpoint tokens
    wrapped as ``***word***`` (reference relation_extraction.py:70-80 —
    that code indexes sentence words by ``pair[x]`` tuples and crashes,
    flagged WORK IN PROGRESS at :53; this implements the evident intent,
    marking tokens ``pair[0][0]`` and ``pair[1][0]``).  Pure Catalyst
    (split/transform/array_join) — no Python.

    Tokenization parity: ``start_tok``/``end_tok`` index the output of
    ``nlp.tokenize`` which uses Python ``str.split()`` — any whitespace
    run, empties dropped.  Real HTML-extracted text carries double
    spaces/tabs/newlines, so we split on ``\\s+`` and drop empties here
    to keep the 1-based indices aligned with the tokenizer."""
    words = F.filter(F.split("sent_text", r"\s+"), lambda w: w != F.lit(""))
    marked = F.transform(
        words,
        lambda w, i: F.when(
            (i + 1 == F.col("start_tok")) | (i + 1 == F.col("end_tok")),
            F.concat(F.lit("***"), w, F.lit("***")),
        ).otherwise(w),
    )
    return scored.withColumn("sentence", F.array_join(marked, " "))
