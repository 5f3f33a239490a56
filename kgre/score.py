"""Distant labeling + model scoring -> scored triples.

Fuses J1 (distant label membership, load_data.py:275-286) and M1 (logistic
forward pass — the reference's shipped feed-forward config degenerates to
per-relation logistic regression, relation_extraction.py:405,
tf_feed_forward.py:32-63) into ONE ``mapInPandas`` stage over broadcast
state:

  * KB forward/reverse tuple sets (broadcast — the reference keeps them in
    driver RAM; here they ship once per executor)
  * vocabulary feature sets and a precomputed weight table
    {(kind, feature) -> np.float64[n_rel]} — weights are materialized once
    on the driver from the frozen feature-string-keyed model (kgre/model.py)
    so the hot loop does dict lookups + vector adds, no hashing.

Output: one row per (instance x relation) in the reference's write_output
layout (relation_extraction.py:21-47): (url=pmid, subj, obj, rel,
distant label, probability); emitted-triple set = prob > 0.5
(tf_feed_forward.py:163).

Reverse instances are scored only for gene-gene pairs
(load_data.py:288-290); the candidates table carries both so the vocab
builder sees reverse features (load_data.py:201-208).
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
    """Normalize a weight table to the general feed-forward layer stack of
    ``tf_feed_forward.py:32-63``: ``[(W1, b1), ..., (Wout, bout)]`` with
    ReLU between layers (dropout is identity at test keep_prob=1).  The
    legacy ``(idx, W, bias)`` triple is the shipped ``hidden_array=[]``
    config — a single output layer, i.e. multi-label logistic."""
    if len(weight_table) == 3:
        idx, w_mat, bias_vec = weight_table
        return idx, [(w_mat, bias_vec)]
    idx, layers = weight_table
    return idx, list(layers)


def ff_forward_from_z1(z1, layers):
    """Forward pass given the FIRST layer's pre-activation (the multi-hot
    input times W1 is a scatter-sum of W1 rows — computed upstream).
    Hidden layers apply ReLU (tf_feed_forward.py:54); the output layer is
    linear logits."""
    h = z1
    for w, b in layers[1:]:
        h = np.maximum(h, 0.0) @ w + b
    return h


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
    """candidates -> scored triples (one row per instance x relation).

    ``weight_table``: optional weights from an offline training run
    (kgre/train.py, M2) — either the legacy logistic ``(idx, W, bias)``
    or the general ``(idx, [(W1,b1),...,(Wout,bout)])`` hidden stack
    (tf_feed_forward.py:32-63); defaults to the frozen deterministic
    logistic model.
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
    spark = candidates.sparkSession
    if weight_table is None:
        weight_table = build_weight_table(vocabs, key_order)
    idx, layers = ff_layers(weight_table)
    b_state = spark.sparkContext.broadcast(
        {
            "idx": idx,
            "layers": layers,
            "key_order": key_order,
            "fwd": fwd_kb,
            "rev": rev_kb,
        }
    )
    n_rel = len(key_order)

    def run(batches):
        st = b_state.value
        layers_l = st["layers"]
        W, bias_v = layers_l[0]
        idx_path = st["idx"]["dep_path"]
        idx_word = st["idx"]["dep_word"]
        idx_elem = st["idx"]["element"]
        idx_betw = st["idx"]["between"]
        keys, fwd, rev = st["key_order"], st["fwd"], st["rev"]
        sym = np.array(["SYMMETRIC" in k for k in keys])
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            labels = np.zeros((n, n_rel), dtype=np.int32)
            # one batch-wide scatter-add instead of a per-row fancy-index:
            # collect (row, feature-row) hit pairs, then z[rows] += W[feats]
            hit_rows: list[int] = []
            hit_feats: list[int] = []
            it = zip(
                pdf["is_reverse"], pdf["pair_e1_ids"], pdf["pair_e2_ids"],
                pdf["dep_path_string"], pdf["sdp_words"],
                pdf["sdp_elements"], pdf["between_words"],
            )
            z = np.tile(bias_v, (n, 1))
            for r, (is_rev, pe1, pe2, path_s, words, elems, betw) in enumerate(it):
                i = idx_path.get(path_s)
                if i is not None:
                    hit_rows.append(r)
                    hit_feats.append(i)
                for d, fs in ((idx_word, words), (idx_elem, elems),
                              (idx_betw, betw)):
                    for f in set(fs):
                        i = d.get(f)
                        if i is not None:
                            hit_rows.append(r)
                            hit_feats.append(i)
                combos = set(itertools.product(pe1, pe2))
                for k, key in enumerate(keys):
                    if sym[k]:
                        if combos & fwd[key] or combos & rev[key]:
                            labels[r, k] = 1
                    elif not is_rev:
                        if combos & fwd[key]:
                            labels[r, k] = 1
                    else:
                        # reference if/elif (load_data.py:283-286): the
                        # reverse instance is labeled only when the forward
                        # set did NOT match
                        if not (combos & fwd[key]) and combos & rev[key]:
                            labels[r, k] = 1
            if hit_rows:
                np.add.at(z, np.asarray(hit_rows), W[np.asarray(hit_feats)])
            logits = ff_forward_from_z1(z, layers_l)
            probs = 1.0 / (1.0 + np.exp(-np.clip(logits, -60, 60)))
            if emit_threshold is not None:
                ri, ki = np.nonzero(probs > emit_threshold)
                cols = {
                    c: pdf[c].to_numpy()[ri]
                    for c in ("url", "sent_id", "pair_idx", "is_reverse",
                              "subj", "obj")
                }
                cols["rel"] = np.array(keys, dtype=object)[ki]
                cols["label"] = labels[ri, ki]
                cols["prob"] = probs[ri, ki]
                if with_sentence:
                    for c in ("sent_text", "start_tok", "end_tok"):
                        cols[c] = pdf[c].to_numpy()[ri]
                yield pd.DataFrame(cols)
                continue
            cols = {
                "url": np.repeat(pdf["url"].to_numpy(), n_rel),
                "sent_id": np.repeat(pdf["sent_id"].to_numpy(), n_rel),
                "pair_idx": np.repeat(pdf["pair_idx"].to_numpy(), n_rel),
                "is_reverse": np.repeat(pdf["is_reverse"].to_numpy(), n_rel),
                "subj": np.repeat(pdf["subj"].to_numpy(), n_rel),
                "obj": np.repeat(pdf["obj"].to_numpy(), n_rel),
                "rel": np.tile(np.array(keys, dtype=object), n),
                "label": labels.ravel(),
                "prob": probs.ravel(),
            }
            if with_sentence:
                for c in ("sent_text", "start_tok", "end_tok"):
                    cols[c] = np.repeat(pdf[c].to_numpy(), n_rel)
            yield pd.DataFrame(cols)

    # explicit projection: mapInPandas ships every input column through
    # Arrow, so prune to exactly what the scorer reads (keeps sdp_types —
    # and, in TEST mode, the sentence strings — off the hot boundary)
    needed = ["url", "sent_id", "pair_idx", "is_reverse", "subj", "obj",
              "pair_e1_ids", "pair_e2_ids", "dep_path_string", "sdp_words",
              "sdp_elements", "between_words"]
    if with_sentence:
        needed += ["sent_text", "start_tok", "end_tok"]
    scorable = candidates.filter(
        (~F.col("is_reverse")) | F.col("gene_to_gene")
    ).select(*needed)
    schema = PREDICT_SCHEMA if with_sentence else TRIPLES_SCHEMA
    return scorable.mapInPandas(run, schema=schema)


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
