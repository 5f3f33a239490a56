"""Shared test helpers: hand-built sentences, an oracle-side candidate
row builder mirroring the reference pair loop (for row-level comparison
against kgre.candidates.sentence_candidates), and the independent
oracles the tests check kgre against: the DataFrame KB expansion, the
per-instance LSTM forward, the per-row FF feature lookup, the reference's
fold chunks and the per-token SimHash."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgre import pyoracle
from kgre.lstm import DEP_DIM, STATE, WORD_DIM, encode_instance
from kgre.nlp import tag_word
from kgre.score import sigmoid


def tok(i: int, word: str, ner: str | None = None, norm: str | None = None):
    """Build a token dict; ner/norm default from the deterministic tagger."""
    lemma, pos, tner, tnorm = tag_word(word)
    return {
        "id": i,
        "word": word,
        "lemma": lemma,
        "pos": pos,
        "ner": ner if ner is not None else tner,
        "norm_ner": norm if norm is not None else tnorm,
    }


def dep(typ: str, gov: int, dpt: int):
    return {"type": typ, "gov": gov, "dep": dpt}


def chain_deps(n: int):
    """Simple connected tree: ROOT->1, i-1 -> i."""
    deps = [dep("root", 0, 1)]
    for i in range(2, n + 1):
        deps.append(dep("conj", i - 1, i))
    return deps


def oracle_candidate_rows(url, sent_id, tokens, deps, entity_a, entity_b,
                          stop=frozenset(), allow1=None, allow2=None):
    """Reference-transliteration twin of sentence_candidates (same row
    layout) for exact comparison."""
    from kgre.candidates import allowlist_keep

    sent = pyoracle.OSentence(url, sent_id, tokens, deps)
    sent.generate_entity_pairs(entity_a, entity_b)
    rows = []
    if sent.pairs is None:
        return rows
    pair_idx = 0
    for pair in sent.pairs:
        tok1 = sent.tokens[pair[0][0]]
        tok2 = sent.tokens[pair[1][0]]
        e1 = set(tok1["norm_ner"].split("|"))
        e2 = set(tok2["norm_ner"].split("|"))
        if e1 & stop or e2 & stop:
            pair_idx += 1
            continue
        if not allowlist_keep(e1, e2, allow1, allow2):
            pair_idx += 1
            continue
        g2g = "GENE" in tok1["ner"] and "GENE" in tok2["ner"]
        sent_text = " ".join(t["word"] for t in tokens)
        for is_rev, (s, e) in ((False, (pair[0], pair[1])),
                               (True, (pair[1], pair[0]))):
            inst = pyoracle.OInstance(sent, s, e, [0])
            rows.append(
                {
                    "url": url,
                    "sent_id": sent_id,
                    "pair_idx": pair_idx,
                    "is_reverse": is_rev,
                    "gene_to_gene": g2g,
                    "subj": sent.tokens[s[0]]["norm_ner"],
                    "obj": sent.tokens[e[0]]["norm_ner"],
                    "pair_e1_ids": tok1["norm_ner"].split("|"),
                    "pair_e2_ids": tok2["norm_ner"].split("|"),
                    "sent_text": sent_text,
                    "start_tok": s[0],
                    "end_tok": e[0],
                    "dep_path_string": inst.dependency_path_string,
                    "sdp_types": inst.dependency_path_list,
                    "sdp_words": inst.dependency_words,
                    "sdp_elements": inst.dependency_elements,
                    "between_words": inst.between_words,
                }
            )
        pair_idx += 1
    return rows


KB_SCHEMA = "rel string, e1 string, e2 string, rel_text string"
ONTOLOGY_SCHEMA = "term string, is_a string"


def kb_df(spark: SparkSession, kb_rows_list) -> DataFrame:
    return spark.createDataFrame(
        [(r["rel"], r["e1"], r["e2"], r["rel_text"]) for r in kb_rows_list],
        schema=KB_SCHEMA,
    )


def ontology_df(spark: SparkSession, onto_rows) -> DataFrame:
    return spark.createDataFrame(
        [(r["term"], r["is_a"]) for r in onto_rows], schema=ONTOLOGY_SCHEMA
    )


def expand_kb(kb: DataFrame, closure: DataFrame) -> DataFrame:
    """Declarative twin of kb.load_kb_sets: endpoint ontology-closure
    expansion (J2, load_data.py:419-427) via two broadcast left joins;
    rows whose relation text ends with 'by' are reverse-set rows
    (load_data.py:428-431)."""
    c1 = closure.select(F.col("term").alias("_t1"), F.col("anc").alias("_a1"))
    c2 = closure.select(F.col("term").alias("_t2"), F.col("anc").alias("_a2"))
    return (
        kb.join(F.broadcast(c1), kb.e1 == F.col("_t1"), "left")
        .join(F.broadcast(c2), kb.e2 == F.col("_t2"), "left")
        .select(
            "rel",
            F.coalesce(F.col("_a1"), kb.e1).alias("e1"),
            F.coalesce(F.col("_a2"), kb.e2).alias("e2"),
            F.col("rel_text").endswith("by").alias("is_reverse"),
        )
        .distinct()
    )


def collect_kb_sets(expanded: DataFrame):
    """Expanded KB -> ({rel: fwd set}, {rel: rev set}), the shape of
    kb.load_kb_sets.
    Both dicts carry every relation key (reference initializes both,
    load_data.py:498-514)."""
    fwd: dict[str, set] = {}
    rev: dict[str, set] = {}
    for row in expanded.collect():
        fwd.setdefault(row["rel"], set())
        rev.setdefault(row["rel"], set())
        (rev if row["is_reverse"] else fwd)[row["rel"]].add((row["e1"], row["e2"]))
    return fwd, rev


def oracle_score_instance(sdp_types, sdp_words, dep_vocab, word_vocab,
                          dep_emb, word_emb, weights):
    """Single-instance, per-step LSTM forward (independent code path from
    kgre.lstm's batched kernel; validates the batch math)."""
    t_ids, w_ids, lt, lw = encode_instance(sdp_types, sdp_words,
                                           dep_vocab, word_vocab)
    c = np.zeros(STATE)
    h = np.zeros(STATE)
    kernel, bias = weights["kernel"], weights["bias"]
    for t in range(lt + lw):
        if t % 2 == 0:
            x = np.concatenate([word_emb[w_ids[t // 2]], np.zeros(DEP_DIM)])
        else:
            x = np.concatenate([np.zeros(WORD_DIM), dep_emb[t_ids[t // 2]]])
        z = np.concatenate([x, h]) @ kernel + bias
        i = sigmoid(z[0:STATE])
        g = np.tanh(z[STATE:2 * STATE])
        f = sigmoid(z[2 * STATE:3 * STATE] + 1.0)
        o = sigmoid(z[3 * STATE:4 * STATE])
        c = f * c + i * g
        h = o * np.tanh(c)
    hidden = h @ weights["w1"] + weights["b1"]
    return sigmoid(hidden @ weights["w2"] + weights["b2"])


def ff_hit_lists(pdf, idx) -> list[list[int]]:
    """Per-row reference for ``score.ff_hits``: one feature-row list per
    instance, the dep path first, then the distinct SDP words, SDP
    elements and between words, looked up one feature at a time."""
    cols = {"dep_word": "sdp_words", "element": "sdp_elements",
            "between": "between_words"}
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
    return hits


def tensors_from_rows(rows, key_order, row_keys, rel_cols):
    """Per-row reference for train.tensors_from_df over (tensor, key,
    values) rows, one scalar at a time."""
    wpos = {key: int(v[0]) for name, key, v in rows if name == "relations"}
    shapes: dict[str, tuple[int, int]] = {}
    for name, key, v in rows:
        if name != "relations":
            n = (len(row_keys[name]) if name in row_keys
                 else max(shapes.get(name, (0,))[0], int(key) + 1))
            shapes[name] = (n, len(key_order) if name in rel_cols else len(v))
    out = {name: np.zeros(shape) for name, shape in shapes.items()}
    for name, key, v in rows:
        if name == "relations" or (name in row_keys
                                   and key not in row_keys[name]):
            continue
        r = row_keys[name][key] if name in row_keys else int(key)
        for j in range(out[name].shape[1]):
            if name not in rel_cols:
                out[name][r, j] = v[j]
            elif key_order[j] in wpos:
                out[name][r, j] = v[wpos[key_order[j]]]
    return out


def pmid_fold_chunks(pmids: list, k: int) -> list[list]:
    """Driver-side fold chunks, cross_validation.py:14-16:
    ``[pmids[i:i+n//k] for i in range(0, n, n//k)]`` — contiguous chunks;
    may yield MORE than k chunks (the tail never becomes a test fold)."""
    n = len(pmids)
    length = max(1, n // k)
    return [pmids[i:i + length] for i in range(0, n, length)]


def simhash64(tokens: list[str]) -> int:
    """64-bit bit-majority simhash over md5 token hashes, one token at a
    time (the per-row oracle of dedup.simhash_fingerprints)."""
    if not tokens:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for t in set(tokens):
        h = np.uint64(int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big"))
        bits = (h >> shifts) & np.uint64(1)
        acc += np.where(bits == 1, 1, -1)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out
