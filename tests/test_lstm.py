"""LSTM scoring path (M3/M5 + X11): encode semantics, batch-vs-oracle
forward parity, and the Spark stage end-to-end."""

import numpy as np
import pytest

from kgre import lstm, synthgen
from kgre.kb import load_kb_sets, ontology_closure_dict
from kgre.pipeline import pages_to_candidates
from kgre.score import score_candidates
from kgre.vocab import build_vocab, collect_vocab_sets
from tests.helpers import oracle_score_instance

KEYS = ["activates.txt", "inhibited_by.txt", "SYMMETRICbinds.txt"]


def test_encode_pad_unk_truncate():
    dep, word = lstm.lstm_vocabs(["a", "b"], ["X", "y"])
    # UNKNOWN/PADDING appended last (load_data.py:605-610)
    assert dep["UNKNOWN_WORD"] == 2 and dep["PADDING_WORD"] == 3
    t, w, lt, lw = lstm.encode_instance(["a", "zz"], ["X", "q"], dep, word)
    assert t[0] == dep["a"] and t[1] == dep["UNKNOWN_WORD"]
    # word lookup lowercases (instances.py:214)
    assert w[0] == word["x"] and w[1] == word["UNKNOWN_WORD"]
    assert t[2:] == [dep["PADDING_WORD"]] * 98
    assert (lt, lw) == (2, 2)
    t, _, lt, _ = lstm.encode_instance(["a"] * 150, [], dep, word)
    assert lt == 100 and len(t) == 100


def test_padding_rows_are_zeros():
    dep, word = lstm.lstm_vocabs(["a"], ["x"])
    de, we = lstm.embedding_tables(dep, word)
    assert not de[dep["PADDING_WORD"]].any()
    assert not we[word["PADDING_WORD"]].any()
    assert de[dep["UNKNOWN_WORD"]].any()  # UNKNOWN is random, not zeros


def test_batch_forward_matches_oracle():
    dep, word = lstm.lstm_vocabs(["nsubj", "dobj", "-prep"],
                                 ["gene", "binds", "start_entity"])
    de, we = lstm.embedding_tables(dep, word)
    weights = lstm.lstm_weights(KEYS)
    cases = [
        (["nsubj", "dobj"], ["START_ENTITY", "binds", "END_ENTITY"]),
        (["-prep"], []),
        ([], []),
        (["nsubj"] * 7, ["gene"] * 4),
    ]
    # batched path
    n = len(cases)
    t_ids = np.empty((n, lstm.PAD_LEN), dtype=np.int64)
    w_ids = np.empty((n, lstm.PAD_LEN), dtype=np.int64)
    lens = np.empty(n, dtype=np.int64)
    for r, (types, words) in enumerate(cases):
        ti, wi, lt, lw = lstm.encode_instance(types, words, dep, word)
        t_ids[r], w_ids[r], lens[r] = ti, wi, lt + lw
    seq = np.zeros((n, lstm.SEQ, lstm.STATE))
    seq[:, 0::2, :lstm.WORD_DIM] = we[w_ids]
    seq[:, 1::2, lstm.WORD_DIM:] = de[t_ids]
    h = lstm.lstm_forward_batch(seq, lens, weights)
    batch_probs = 1.0 / (1.0 + np.exp(-lstm.lstm_logits(h, weights)))
    # per-instance oracle path
    for r, (types, words) in enumerate(cases):
        oracle = oracle_score_instance(types, words, dep, word, de,
                                       we, weights)
        np.testing.assert_allclose(batch_probs[r], oracle, atol=1e-12)


def _kb_sets():
    return load_kb_sets(synthgen.kb_rows(),
                        ontology_closure_dict(synthgen.ontology_rows()))


def test_lstm_stage_end_to_end(spark):
    pages = synthgen.pages_df(spark, 40)
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY",
                                synthgen.stop_entity_ids()).persist()
    types = [r["f"] for r in
             cands.selectExpr("explode(sdp_types) f").distinct().collect()]
    words = [r["f"] for r in
             cands.selectExpr("explode(sdp_words) f").distinct().collect()]
    dep, word = lstm.lstm_vocabs(types, words)
    fwd, rev = _kb_sets()
    scored = lstm.score_candidates_lstm(cands, dep, word, sorted(KEYS),
                                        fwd, rev)
    rows = scored.collect()
    assert len(rows) > 0 and len(rows) % len(KEYS) == 0
    assert all(0.0 < r["prob"] < 1.0 for r in rows)
    # deterministic: same probs on recompute
    again = {(r["url"], r["sent_id"], r["pair_idx"], r["is_reverse"],
              r["rel"]): r["prob"] for r in scored.collect()}
    for r in rows:
        k = (r["url"], r["sent_id"], r["pair_idx"], r["is_reverse"], r["rel"])
        assert again[k] == pytest.approx(r["prob"], abs=1e-12)
    cands.unpersist()


def test_lstm_and_ff_score_the_same_instances_with_the_same_labels(spark):
    """Both models run through one scoring stage: over one candidates
    frame the LSTM rows and the FF predict-mode rows cover the same
    (instance x relation) keys with the same distant labels."""
    pages = synthgen.pages_df(spark, 30)
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY",
                                synthgen.stop_entity_ids()).persist()
    fwd, rev = _kb_sets()
    key_order = sorted(fwd)
    dep, word = lstm.lstm_vocab_features(cands)
    vocabs = collect_vocab_sets(build_vocab(cands, 2))
    cols = ["url", "sent_id", "pair_idx", "is_reverse", "rel", "label"]
    lstm_rows = [tuple(r) for r in lstm.score_candidates_lstm(
        cands, dep, word, key_order, fwd, rev).select(*cols).collect()]
    ff_rows = [tuple(r) for r in score_candidates(
        cands, vocabs, key_order, fwd, rev).select(*cols).collect()]
    cands.unpersist()
    assert len(set(lstm_rows)) == len(lstm_rows)
    assert set(lstm_rows) == set(ff_rows)
    assert any(r[-1] for r in lstm_rows) and not all(r[-1] for r in lstm_rows)


def test_w2v_bin_roundtrip_and_tail_convention(tmp_path):
    """S8 (tf_lstm.py:13-48): binary parse roundtrips a fixture .bin;
    UNKNOWN/PADDING tail ids and the zeros-PADDING row match the
    reference convention."""
    import numpy as np

    from kgre import w2v

    words = ["alpha", "beta", "gamma"]
    vectors = np.arange(12, dtype=np.float32).reshape(3, 4) / 7.0
    p = str(tmp_path / "tiny.bin")
    w2v.write_bin_vec(p, words, vectors)
    got_words, got_vecs, w2i = w2v.load_bin_vec(p)
    assert got_words == words + ["UNKNOWN_WORD", "PADDING_WORD"]
    assert w2i == {"alpha": 0, "beta": 1, "gamma": 2,
                   "UNKNOWN_WORD": 3, "PADDING_WORD": 4}
    np.testing.assert_allclose(got_vecs[:3], vectors, rtol=1e-6)
    assert (got_vecs[4] == 0).all()
    assert 0.0 <= got_vecs[3].min() and got_vecs[3].max() < 1.0


def test_w2v_embedding_tables_from_bin(tmp_path):
    """M6: vocab words found in the .bin take pretrained rows, missing
    words take UNKNOWN, PADDING stays zeros."""
    import numpy as np

    from kgre import lstm, w2v

    dep_vocab, word_vocab = lstm.lstm_vocabs(["conj"], ["alpha", "zzz"])
    n_words = len(word_vocab)
    rng_vecs = np.random.RandomState(0).rand(2, lstm.WORD_DIM).astype(
        np.float32)
    p = str(tmp_path / "w.bin")
    w2v.write_bin_vec(p, ["alpha", "other"], rng_vecs)
    dep_emb, word_emb = w2v.embedding_tables_from_bin(
        p, word_vocab, dep_vocab, lstm.DEP_DIM)
    np.testing.assert_allclose(word_emb[word_vocab["alpha"]], rng_vecs[0],
                               rtol=1e-6)
    assert (word_emb[word_vocab["PADDING_WORD"]] == 0).all()
    # 'zzz' missing from the bin -> UNKNOWN row
    _, vecs, w2i = w2v.load_bin_vec(p)
    np.testing.assert_allclose(word_emb[word_vocab["zzz"]],
                               vecs[w2i["UNKNOWN_WORD"]], rtol=1e-12)


def test_lstm_vocab_features_bounded_distributed(spark):
    """VERDICT r2 #1: the LSTM vocab path must not drag every distinct
    corpus word to the driver — distributed counting, bounded collect;
    unbounded path matches lstm_vocabs."""
    import inspect

    from kgre import lstm, synthgen
    from kgre.pipeline import pages_to_candidates

    pages = synthgen.pages_df(spark, 30)
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY",
                                synthgen.stop_entity_ids()).persist()
    dv, wv = lstm.lstm_vocab_features(cands)
    types = [r["f"] for r in
             cands.selectExpr("explode(sdp_types) f").distinct().collect()]
    words = [r["f"] for r in
             cands.selectExpr("explode(sdp_words) f").distinct().collect()]
    assert (dv, wv) == lstm.lstm_vocabs(types, words)
    # bounded: top-5 by (count desc, word asc) + UNKNOWN/PADDING tail
    _, wv5 = lstm.lstm_vocab_features(cands, max_words=5)
    assert len(wv5) == 7
    top5 = set(list(wv5)[:0]) or {w for w in wv5
                                  if w not in ("UNKNOWN_WORD",
                                               "PADDING_WORD")}
    assert top5 < {w for w in wv if w not in ("UNKNOWN_WORD",
                                              "PADDING_WORD")}
    # the driver-contract LSTM query goes through the bounded builder
    import __spark_entry__ as entry_mod
    src = inspect.getsource(entry_mod._q_lstm_scoring)
    assert "lstm_vocab_features" in src
    assert "distinct().collect()" not in src
    cands.unpersist()


def test_q_lstm_scoring_leaves_no_cache_entry(spark, tmp_path):
    """The driver-contract LSTM query reuses its candidates through a
    stage checkpoint, not a ``persist()`` that outlives the call."""
    import pandas as pd

    import __spark_entry__ as entry_mod

    rows = synthgen.gen_pages_rows(40)
    pd.DataFrame({"doc_id": range(len(rows)),
                  "text": [r["text"] for r in rows],
                  "lang": [r["lang"] for r in rows]}).to_parquet(
        tmp_path / "documents.parquet")
    spark.catalog.clearCache()
    assert entry_mod._q_lstm_scoring(spark, str(tmp_path)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
