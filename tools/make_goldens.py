"""Materialize pyoracle goldens as parquet fixtures for the driver's
DuckDB correctness gate.

The four KG-pipeline queries (q_kg_flagship, q_kg_candidates,
q_triple_parity, q_lstm_scoring) compute things DuckDB cannot express
(BFS SDP, LSTM forward).  Their oracle is the single-process reference
transliteration (kgre/pyoracle.py); this tool runs it ONCE per scale
factor on the driver documents table and freezes its output as parquet,
so ``oracle_sql()`` becomes a plain ``SELECT ... FROM read_parquet(...)``
and the driver's hard rows/schema/hash signal covers the flagship
(VERDICT r1 item 1).  The exact-parity pytest (tests/test_parity_e2e.py)
remains the independent gate that Spark == pyoracle.

Everything here is a pure function of the committed testdata + kgre code:
re-running regenerates byte-identical goldens (column values are
deterministic; parquet metadata may differ).

Usage: python tools/make_goldens.py [sf_dir] [out_dir]
       defaults: the sf0.01 test-data dir -> goldens/sf0.01 of the checkout
       this script is in
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from kgre import lstm, pyoracle, synthgen, webtext  # noqa: E402
from tests.helpers import oracle_candidate_rows  # noqa: E402

# subset bounds must match the queries in __spark_entry__.py
PARITY_MAX_DOC = 200   # _q_triple_parity: doc_id < 200
LSTM_MAX_DOC = 60      # _q_lstm_scoring: doc_id < 60
OCCUR_COUNT = 2


def load_docs(sf_dir: str):
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text, lang FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id").fetchall()
    return [(int(d), t, l) for d, t, l in rows]


def pages_for(docs):
    return [webtext.doc_to_page(d, t, l) for d, t, l in docs]


def write(path: str, table: pa.Table):
    pq.write_table(table, path)
    print("wrote %s (%d rows)" % (path, table.num_rows))


def golden_flagship(docs, out_dir):
    """Emitted-triples golden for q_kg_flagship (full sf corpus) and the
    parity golden (doc_id < PARITY_MAX_DOC subset — q_triple_parity
    recomputes vocab on the subset, so its triples differ)."""
    for name, subset in (
        ("kg_flagship", docs),
        ("triple_parity", [d for d in docs if d[0] < PARITY_MAX_DOC]),
    ):
        triples, _, _ = pyoracle.run_pipeline(
            pages_for(subset), synthgen.kb_rows(), synthgen.ontology_rows(),
            synthgen.stop_entity_ids(), occur_count=OCCUR_COUNT)
        emitted = [t for t in triples if t["prob"] > 0.5]
        cols = {
            "url": pa.array([t["url"] for t in emitted], pa.string()),
            "subj": pa.array([t["subj"] for t in emitted], pa.string()),
            "obj": pa.array([t["obj"] for t in emitted], pa.string()),
            "rel": pa.array([t["rel"] for t in emitted], pa.string()),
            "label": pa.array([t["label"] for t in emitted], pa.int32()),
        }
        if name == "kg_flagship":
            cols["prob"] = pa.array(
                [round(t["prob"], 6) for t in emitted], pa.float64())
        else:
            # parity joins on a 9-decimal key (matches the pytest gate)
            cols["prob_r9"] = pa.array(
                [round(t["prob"], 9) for t in emitted], pa.float64())
        write(os.path.join(out_dir, name + ".parquet"),
              pa.table(cols))


def candidate_rows(docs):
    rows = []
    for p in pages_for(docs):
        if p["lang"] != "en":
            continue
        from kgre import nlp

        for s in nlp.parse_text(p["text"]):
            rows.extend(oracle_candidate_rows(
                p["url"], s["sent_id"], s["tokens"], s["deps"],
                "GENE", "ONTOLOGY", frozenset(synthgen.stop_entity_ids())))
    return rows


def golden_candidates(docs, out_dir):
    rows = candidate_rows(docs)
    write(os.path.join(out_dir, "kg_candidates.parquet"), pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "sent_id": pa.array([r["sent_id"] for r in rows], pa.int32()),
        "pair_idx": pa.array([r["pair_idx"] for r in rows], pa.int32()),
        "is_reverse": pa.array([r["is_reverse"] for r in rows], pa.bool_()),
        "subj": pa.array([r["subj"] for r in rows], pa.string()),
        "obj": pa.array([r["obj"] for r in rows], pa.string()),
        "dep_path_string": pa.array([r["dep_path_string"] for r in rows],
                                    pa.string()),
    }))


def golden_lstm(docs, out_dir):
    """LSTM scoring golden: vocabs from ALL candidate rows of the subset
    (what _q_lstm_scoring's distinct-collect sees), scoring over the
    scorable rows, via the same numpy kernels the Spark UDF broadcasts."""
    rows = candidate_rows([d for d in docs if d[0] < LSTM_MAX_DOC])
    types = {t for r in rows for t in r["sdp_types"]}
    words = {w for r in rows for w in r["sdp_words"]}
    dep_vocab, word_vocab = lstm.lstm_vocabs(sorted(types), sorted(words))
    key_order = sorted({r["rel"] for r in synthgen.kb_rows()})
    weights = lstm.lstm_weights(key_order)
    dep_emb, word_emb = lstm.embedding_tables(dep_vocab, word_vocab)
    scorable = [r for r in rows if (not r["is_reverse"]) or r["gene_to_gene"]]
    n = len(scorable)
    t_ids = np.empty((n, lstm.PAD_LEN), dtype=np.int64)
    w_ids = np.empty((n, lstm.PAD_LEN), dtype=np.int64)
    lens = np.empty(n, dtype=np.int64)
    for i, r in enumerate(scorable):
        ti, wi, lt, lw = lstm.encode_instance(r["sdp_types"], r["sdp_words"],
                                              dep_vocab, word_vocab)
        t_ids[i], w_ids[i], lens[i] = ti, wi, lt + lw
    seq = np.zeros((n, lstm.SEQ, lstm.STATE))
    seq[:, 0::2, :lstm.WORD_DIM] = word_emb[w_ids]
    seq[:, 1::2, lstm.WORD_DIM:] = dep_emb[t_ids]
    h = lstm.lstm_forward_batch(seq, lens, weights)
    probs = 1.0 / (1.0 + np.exp(-np.clip(lstm.lstm_logits(h, weights),
                                         -60, 60)))
    out = {"url": [], "sent_id": [], "pair_idx": [], "is_reverse": [],
           "rel": [], "prob": []}
    for i, r in enumerate(scorable):
        for k, rel in enumerate(key_order):
            out["url"].append(r["url"])
            out["sent_id"].append(r["sent_id"])
            out["pair_idx"].append(r["pair_idx"])
            out["is_reverse"].append(r["is_reverse"])
            out["rel"].append(rel)
            out["prob"].append(round(float(probs[i, k]), 6))
    write(os.path.join(out_dir, "lstm_scoring.parquet"), pa.table({
        "url": pa.array(out["url"], pa.string()),
        "sent_id": pa.array(out["sent_id"], pa.int32()),
        "pair_idx": pa.array(out["pair_idx"], pa.int32()),
        "is_reverse": pa.array(out["is_reverse"], pa.bool_()),
        "rel": pa.array(out["rel"], pa.string()),
        "prob": pa.array(out["prob"], pa.float64()),
    }))


def golden_ivf_centroids(sf_dir, out_dir):
    """Frozen IVF codebook for the q_ann_ivf_topk oracle (VERDICT r4
    #6): the DuckDB-side hash-range sample (shared ``grow_cutoff``
    protocol over the 24-bit md5(vec_id) prefix, float32 parquet values
    upcast to float64) through ``kgre.similarity.kmeans_codebook``,
    MATERIALIZED — the oracle reads this file instead of retraining, so
    a Lloyd regression fails the driver gate and the golden-drift test
    rather than silently updating the oracle's codebook in lockstep."""
    import duckdb

    from kgre.similarity import grow_cutoff, kmeans_codebook

    rel = f"read_parquet('{sf_dir}/embeddings.parquet')"
    hx = "('0x' || substring(md5(vec_id::VARCHAR), 1, 6))::BIGINT"
    total = duckdb.sql(f"SELECT count(*) FROM {rel}").fetchall()[0][0]
    cutoff = grow_cutoff(
        total, 4096,
        lambda c: duckdb.sql(
            f"SELECT count(*) FROM {rel} WHERE {hx} < {c}").fetchall()[0][0])
    where = f"WHERE {hx} < {cutoff}" if cutoff < (1 << 24) else ""
    rows = duckdb.sql(
        f"SELECT embedding FROM {rel} {where} "
        f"ORDER BY {hx}, vec_id LIMIT 4096").fetchall()
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    cent = kmeans_codebook(X, n_cells=16)
    write(os.path.join(out_dir, "ivf_centroids.parquet"), pa.table({
        "cell": pa.array(range(cent.shape[0]), pa.int64()),
        "emb": pa.array([[float(x) for x in cent[c]]
                         for c in range(cent.shape[0])],
                        pa.list_(pa.float64())),
    }))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (sys.argv[2] if len(sys.argv) > 2
               else os.path.join(ROOT, "goldens",
                                 os.path.basename(sf_dir.rstrip("/"))))
    os.makedirs(out_dir, exist_ok=True)
    docs = load_docs(sf_dir)
    golden_flagship(docs, out_dir)
    golden_candidates(docs, out_dir)
    golden_lstm(docs, out_dir)
    golden_ivf_centroids(sf_dir, out_dir)


if __name__ == "__main__":
    main()
