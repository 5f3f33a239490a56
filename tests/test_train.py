"""Offline training (M2): Adam fit on distantly-labeled
candidates — loss decreases, the trained model predicts distant labels far
better than the frozen init, and the persisted weight table round-trips."""

import numpy as np
import pytest

from kgre import kb as kbmod
from kgre import synthgen, train
from kgre.pipeline import pages_to_candidates
from kgre.score import emitted_triples, score_candidates
from kgre.vocab import build_vocab, collect_vocab_sets
from tests.helpers import ff_hit_lists, pmid_fold_chunks, tensors_from_rows


def _setup(spark, n_pages=150):
    pages = synthgen.pages_df(spark, n_pages)
    stop = synthgen.stop_entity_ids()
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY", stop).persist()
    vocabs = collect_vocab_sets(build_vocab(cands, 2))
    closure = kbmod.ontology_closure_dict(synthgen.ontology_rows())
    fwd, rev = kbmod.load_kb_sets(synthgen.kb_rows(), closure)
    return cands, vocabs, sorted(fwd), fwd, rev


def test_training_reduces_loss_and_beats_frozen_model(spark):
    cands, vocabs, key_order, fwd, rev = _setup(spark)
    wt, losses = train.train_model(cands, vocabs, key_order, fwd, rev,
                                   epochs=40)
    assert losses[-1] < losses[0] * 0.7, "loss must drop substantially"

    def f1_vs_distant(weight_table):
        scored = score_candidates(cands, vocabs, key_order, fwd, rev,
                                  weight_table=weight_table)
        agg = scored.selectExpr(
            "sum(case when label = 1 and prob > 0.5 then 1 else 0 end) tp",
            "sum(case when label = 0 and prob > 0.5 then 1 else 0 end) fp",
            "sum(case when label = 1 and prob <= 0.5 then 1 else 0 end) fn",
        ).collect()[0]
        denom = 2 * agg["tp"] + agg["fp"] + agg["fn"]
        return 2.0 * agg["tp"] / denom if denom else 0.0

    trained_f1 = f1_vs_distant(wt)
    frozen_f1 = f1_vs_distant(None)
    # the synthetic distant labels hinge on entity IDs, which SDP features
    # deliberately mask — so absolute F1 is capped; what training must
    # show is a large improvement over the frozen init
    assert trained_f1 > 1.5 * frozen_f1, (trained_f1, frozen_f1)
    assert trained_f1 > 0.25, trained_f1
    cands.unpersist()


def test_weight_table_roundtrip(spark):
    cands, vocabs, key_order, fwd, rev = _setup(spark, n_pages=60)
    wt, _ = train.train_model(cands, vocabs, key_order, fwd, rev, epochs=5)
    df = train.weights_to_df(spark, wt, key_order)
    idx2, layers2 = train.weights_from_df(df, vocabs, key_order)
    idx, layers = wt
    assert len(layers2) == len(layers)
    for (w, b), (w2, b2) in zip(layers, layers2):
        np.testing.assert_array_equal(w2, w)
        np.testing.assert_array_equal(b2, b)
    assert idx2 == idx
    # triples scored through the round-tripped table are identical
    a = emitted_triples(score_candidates(cands, vocabs, key_order, fwd, rev,
                                         weight_table=wt)).count()
    b_ = emitted_triples(score_candidates(cands, vocabs, key_order, fwd, rev,
                                          weight_table=(idx2, layers2))).count()
    assert a == b_
    cands.unpersist()


def test_hash_range_sample_no_full_table_ranking(spark):
    cands, _, _, _, _ = _setup(spark, n_pages=80)
    total = cands.count()
    # under the cap: returned unchanged, no Sort/TakeOrdered in the plan
    full = train.hash_range_sample(cands, total + 10)
    assert "Sort" not in full._jdf.queryExecution().executedPlan().toString()
    # over the cap: deterministic, exactly `sample` rows, and the top-k
    # input is the hash-FILTERED subset (pmod filter precedes it)
    sample = max(10, total // 3)
    a = train.hash_range_sample(cands, sample)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and "xxhash64" in plan
    key = ["url", "sent_id", "pair_idx", "is_reverse"]
    sa = {tuple(r) for r in a.select(*key).collect()}
    sb = {tuple(r) for r in
          train.hash_range_sample(cands, sample).select(*key).collect()}
    assert sa == sb and len(sa) == sample
    cands.unpersist()


def test_ff_hidden_layers_train_and_score(spark):
    """General FF stack (tf_feed_forward.py:32-63): training reduces loss;
    Spark scoring through the hidden stack equals a direct numpy forward."""
    from kgre.score import ff_forward_from_z1

    cands, vocabs, key_order, fwd, rev = _setup(spark, n_pages=80)
    wt, losses = train.train_model(cands, vocabs, key_order, fwd, rev,
                                   epochs=25, hidden_array=[32])
    assert losses[-1] < losses[0] * 0.8
    idx, layers = wt
    assert len(layers) == 2 and layers[0][0].shape[1] == 32
    scored = score_candidates(cands, vocabs, key_order, fwd, rev,
                              weight_table=wt)
    rows = scored.filter("rel = '%s'" % key_order[0]) \
        .select("url", "sent_id", "pair_idx", "is_reverse", "prob").collect()
    # recompute a few rows by hand from the candidates table
    cand_rows = {(r["url"], r["sent_id"], r["pair_idx"], r["is_reverse"]): r
                 for r in cands.collect()}
    checked = 0
    for r in rows[:25]:
        c = cand_rows[(r["url"], r["sent_id"], r["pair_idx"], r["is_reverse"])]
        z = layers[0][1].copy()
        hit = set()
        i0 = idx["dep_path"].get(c["dep_path_string"])
        if i0 is not None:
            hit.add(i0)
        for kind, col in (("dep_word", "sdp_words"), ("element", "sdp_elements"),
                          ("between", "between_words")):
            for f in set(c[col]):
                j = idx[kind].get(f)
                if j is not None:
                    hit.add(j)
        for i in hit:
            z += layers[0][0][i]
        logits = ff_forward_from_z1(z[None, :], layers)[0]
        p = 1.0 / (1.0 + np.exp(-logits[0]))
        assert abs(p - r["prob"]) < 1e-9
        checked += 1
    assert checked > 0
    # persistence roundtrip preserves scores exactly
    df = train.weights_to_df(spark, wt, key_order)
    idx2, layers2 = train.weights_from_df(df, vocabs, key_order)
    for (w, b), (w2, b2) in zip(layers, layers2):
        np.testing.assert_array_equal(w2, w)
        np.testing.assert_array_equal(b2, b)
    cands.unpersist()


def test_ff_hits_match_per_row_lookup(spark):
    """``score.ff_hits`` (the one FF encoder, shared by the scorer and
    ``collect_training_set``) returns the per-row lookup's hits in the
    same order per instance — ``fit_ff`` sums ``w1[hits]`` in list
    order — including instances with empty feature lists and features
    missing from the vocab."""
    import pandas as pd

    from kgre.score import FF_COLS, feature_index, ff_hits

    cands, vocabs, key_order, fwd, rev = _setup(spark, 40)
    idx, _ = feature_index(vocabs)
    pdf = pd.concat([cands.select(*FF_COLS).toPandas(), pd.DataFrame({
        "dep_path_string": ["zz_unseen", "zz_unseen_path"],
        "sdp_words": [[], ["zz_unseen", "zz_unseen"]],
        "sdp_elements": [[], []],
        "between_words": [[], ["zz_unseen"]],
    })], ignore_index=True)
    want = ff_hit_lists(pdf, idx)
    rows, feats = ff_hits(pdf, idx)
    got = [[] for _ in range(len(pdf))]
    for r, f in zip(rows.tolist(), feats.tolist()):
        got[r].append(f)
    assert got == want
    assert want[-2:] == [[], []] and sum(map(len, want)) > len(want)
    # the training collector encodes its instances the same way
    inst, _ = train.collect_instances(cands, FF_COLS, key_order, fwd, rev,
                                      sample=10_000)
    _, hits, y = train.collect_training_set(cands, vocabs, key_order, fwd,
                                            rev, sample=10_000)
    assert hits == ff_hit_lists(inst, idx) and len(hits) == len(y)
    cands.unpersist()


def test_fit_ff_empty_hidden_matches_logistic_shape():
    # hidden_array=[] degenerates to the logistic layout
    hits = [[0], [1], [0, 2], []]
    y = np.array([[1.0], [0.0], [1.0], [0.0]])
    layers, losses = train.fit_ff(hits, y, n_feat=3, hidden_array=[],
                                  epochs=30, batch=2)
    assert len(layers) == 1 and layers[0][0].shape == (3, 1)
    assert losses[-1] < losses[0]


# ------------------------------------------------------------- LSTM training


def _lstm_setup(spark, n_pages=60):
    from kgre import lstm

    cands, _, key_order, fwd, rev = _setup(spark, n_pages)
    types = [r["f"] for r in
             cands.selectExpr("explode(sdp_types) f").distinct().collect()]
    words = [r["f"] for r in
             cands.selectExpr("explode(sdp_words) f").distinct().collect()]
    dep_vocab, word_vocab = lstm.lstm_vocabs(types, words)
    return cands, dep_vocab, word_vocab, key_order, fwd, rev


def test_lstm_gradients_match_finite_differences(spark):
    """BPTT correctness: analytic grads vs central differences on a tiny
    batch (no dropout), across every parameter tensor."""
    from kgre import lstm_train

    cands, dep_vocab, word_vocab, key_order, fwd, rev = _lstm_setup(
        spark, n_pages=20)
    t_ids, w_ids, lens, y = lstm_train.collect_lstm_training_set(
        cands, dep_vocab, word_vocab, key_order, fwd, rev, sample=3)
    assert len(lens) > 0 and lens.max() > 2
    params = lstm_train.init_lstm_params(dep_vocab, word_vocab, key_order,
                                         seed=3)
    loss, grads = lstm_train.lstm_loss_and_grads(params, t_ids, w_ids,
                                                 lens, y)
    rng = np.random.RandomState(0)
    eps = 1e-6
    for name in lstm_train._PARAM_ORDER:
        flat = params[name].ravel()
        gflat = grads[name].ravel()
        # probe positions that actually participate (nonzero grad) plus one
        idxs = np.argsort(-np.abs(gflat))[:3]
        for i in idxs:
            old = flat[i]
            flat[i] = old + eps
            lp, _ = lstm_train.lstm_loss_and_grads(params, t_ids, w_ids,
                                                   lens, y)
            flat[i] = old - eps
            lm, _ = lstm_train.lstm_loss_and_grads(params, t_ids, w_ids,
                                                   lens, y)
            flat[i] = old
            num = (lp - lm) / (2 * eps)
            assert abs(num - gflat[i]) < 1e-5 * max(1.0, abs(num)), (
                name, i, num, gflat[i])
    cands.unpersist()


def test_lstm_gradients_with_dropout_masks(spark):
    """The word-embedding AND hidden-layer dropout masks (tf_lstm.py:192,
    :221) must be threaded through backward too — fd check with fixed
    masks applied."""
    from kgre import lstm_train
    from kgre.lstm import HIDDEN, PAD_LEN

    cands, dep_vocab, word_vocab, key_order, fwd, rev = _lstm_setup(
        spark, n_pages=20)
    t_ids, w_ids, lens, y = lstm_train.collect_lstm_training_set(
        cands, dep_vocab, word_vocab, key_order, fwd, rev, sample=3)
    params = lstm_train.init_lstm_params(dep_vocab, word_vocab, key_order,
                                         seed=3)
    mrng = np.random.RandomState(7)
    wmask = (mrng.random_sample((len(lens), PAD_LEN, 1)) < 0.5) / 0.5
    hmask = (mrng.random_sample((len(lens), HIDDEN)) < 0.5) / 0.5
    kw = dict(word_drop_mask=wmask, hidden_drop_mask=hmask)
    _, grads = lstm_train.lstm_loss_and_grads(params, t_ids, w_ids, lens,
                                              y, **kw)
    eps = 1e-6
    for name in ("w1", "b1", "w2", "kernel", "word_emb"):
        flat = params[name].ravel()
        gflat = grads[name].ravel()
        for i in np.argsort(-np.abs(gflat))[:2]:
            old = flat[i]
            flat[i] = old + eps
            lp, _ = lstm_train.lstm_loss_and_grads(params, t_ids, w_ids,
                                                   lens, y, **kw)
            flat[i] = old - eps
            lm, _ = lstm_train.lstm_loss_and_grads(params, t_ids, w_ids,
                                                   lens, y, **kw)
            flat[i] = old
            num = (lp - lm) / (2 * eps)
            assert abs(num - gflat[i]) < 1e-5 * max(1.0, abs(num)), (
                name, i, num, gflat[i])
    cands.unpersist()


def test_truncated_normal_init_bounds():
    # tf.truncated_normal semantics: all samples within 2 std of the mean,
    # distribution centred near the mean
    from kgre.lstm_train import truncated_normal

    rng = np.random.RandomState(0)
    x = truncated_normal(rng, (20000,), mean=-0.1, std=0.1)
    assert np.abs(x - (-0.1)).max() <= 0.2 + 1e-12
    assert abs(float(x.mean()) - (-0.1)) < 0.005


def test_lstm_training_reduces_loss_and_weights_roundtrip(spark):
    from kgre import lstm, lstm_train

    cands, dep_vocab, word_vocab, key_order, fwd, rev = _lstm_setup(spark)
    t_ids, w_ids, lens, y = lstm_train.collect_lstm_training_set(
        cands, dep_vocab, word_vocab, key_order, fwd, rev, sample=200)
    params, losses = lstm_train.fit_lstm(
        t_ids, w_ids, lens, y, dep_vocab, word_vocab, key_order,
        epochs=8, batch=32)
    assert losses[-1] < losses[0], losses
    # roundtrip through the string-keyed weights table
    df = lstm_train.lstm_weights_to_df(spark, params, dep_vocab, word_vocab,
                                       key_order)
    params2 = lstm_train.lstm_weights_from_df(df, dep_vocab, word_vocab,
                                              key_order)
    for k in lstm_train._PARAM_ORDER:
        np.testing.assert_array_equal(params2[k], params[k])
    # trained weights drop into the Spark scorer and match a direct
    # numpy forward on the same instances
    scored = lstm.score_candidates_lstm(cands, dep_vocab, word_vocab,
                                        key_order, fwd, rev, params=params2)
    row = scored.filter("rel = '%s'" % key_order[0]).first()
    c = [r for r in cands.collect()
         if (r["url"], r["sent_id"], r["pair_idx"], r["is_reverse"])
         == (row["url"], row["sent_id"], row["pair_idx"], row["is_reverse"])][0]
    ti, wi, lt, lw = lstm.encode_instance(list(c["sdp_types"]),
                                          list(c["sdp_words"]),
                                          dep_vocab, word_vocab)
    seq = np.zeros((1, lstm.SEQ, lstm.STATE))
    seq[0, 0::2, :lstm.WORD_DIM] = params["word_emb"][np.array(wi)]
    seq[0, 1::2, lstm.WORD_DIM:] = params["dep_emb"][np.array(ti)]
    h = lstm.lstm_forward_batch(seq, np.array([lt + lw]), params)
    probs = 1.0 / (1.0 + np.exp(-lstm.lstm_logits(h, params)))
    assert abs(probs[0, 0] - row["prob"]) < 1e-9
    cands.unpersist()


# writer -> reader changes shared by every model: ids re-assigned (a new
# key sorts before a kept one), keys dropped and added, relations permuted
# and one gained
_KEY_ORDER, _READ_KEY_ORDER = ["r0", "r1", "r2"], ["r2", "rNew", "r0", "r1"]
_FF_VOCABS = {"dep_path": {"p_a", "p_b", "p_c"}, "dep_word": {"x", "y"},
              "element": {"e1"}, "between": set()}
_FF_READ_VOCABS = {"dep_path": {"p_a", "p_aa", "p_c"}, "dep_word": {"y", "z"},
                   "element": {"e1"}, "between": {"btw"}}


def _ff_case(spark, hidden):
    """-> (table, row_keys, rel_cols, (writer, reader) of: {key: row of
    the keyed matrix}, keyed matrix, output bias)."""
    from kgre.score import feature_index

    rng = np.random.RandomState(len(hidden))
    idx, n_feat = feature_index(_FF_VOCABS)
    dims = [n_feat, *hidden, len(_KEY_ORDER)]
    layers = [(rng.normal(size=dims[i:i + 2]), rng.normal(size=dims[i + 1]))
              for i in range(len(dims) - 1)]
    df = train.weights_to_df(spark, (idx, layers), _KEY_ORDER)
    idx2, layers2 = train.weights_from_df(df, _FF_READ_VOCABS,
                                          _READ_KEY_ORDER)
    flat = [{(k, f): r for k, d in ix.items() for f, r in d.items()}
            for ix in (idx, idx2)]
    return (df, *train._ff_keys(idx2),
            [(flat[0], layers[0][0], layers[-1][1]),
             (flat[1], layers2[0][0], layers2[-1][1])])


def _lstm_case(spark, _):
    from kgre import lstm_train

    vocabs = ({"PADDING_WORD": 0, "dobj": 1, "nsubj": 2},
              {"PADDING_WORD": 0, "w_b": 1, "w_c": 2, "w_d": 3})
    read_vocabs = ({"PADDING_WORD": 0, "amod": 1, "nsubj": 2},
                   {"PADDING_WORD": 0, "w_c": 1, "w_a": 2, "w_e": 3})
    params = lstm_train.init_lstm_params(*vocabs, _KEY_ORDER)
    params["b2"] = np.arange(1.0, 4.0)
    df = lstm_train.lstm_weights_to_df(spark, params, *vocabs, _KEY_ORDER)
    got = lstm_train.lstm_weights_from_df(df, *read_vocabs, _READ_KEY_ORDER)
    return (df, {"word_emb": read_vocabs[1], "dep_emb": read_vocabs[0]},
            {"w2", "b2"},
            [(vocabs[1], params["word_emb"], params["b2"]),
             (read_vocabs[1], got["word_emb"], got["b2"])])


@pytest.mark.parametrize("case,hidden", [(_ff_case, ()), (_ff_case, (8, 4)),
                                         (_lstm_case, None)],
                         ids=["ff_logistic", "ff_hidden_8_4", "lstm"])
def test_tensors_from_df_remaps_keys_like_a_row_loop(spark, case, hidden):
    """String keys land at the reader's (re-assigned) rows, keys it does
    not know are dropped, unseen keys and relations get zeros, relation
    columns follow the reader's key_order — exactly as a per-row loop
    places every scalar; the model readers return those tensors."""
    df, row_keys, rel_cols, ((keys, mat, bias), (keys2, mat2, bias2)) = (
        case(spark, hidden))
    got = train.tensors_from_df(df, _READ_KEY_ORDER, row_keys, rel_cols)
    want = tensors_from_rows([tuple(r) for r in df.collect()],
                             _READ_KEY_ORDER, row_keys, rel_cols)
    assert sorted(got) == sorted(want)
    for name in want:
        np.testing.assert_array_equal(got[name], want[name])

    def read_order(v):          # writer's relation columns, reader's order
        return [v[2], 0.0, v[0], v[1]]

    np.testing.assert_array_equal(bias2, read_order(bias))
    kept = set(keys) & set(keys2)
    assert kept and set(keys) - kept and set(keys2) - kept
    assert any(keys[k] != keys2[k] for k in kept)
    rel_mat = mat2.shape[1] == len(_READ_KEY_ORDER)   # logistic layer 0
    for k in keys2:
        row = mat[keys[k]] if k in kept else np.zeros(mat.shape[1])
        np.testing.assert_array_equal(mat2[keys2[k]],
                                      read_order(row) if rel_mat else row)


def test_emit_threshold_inside_udf_matches_post_filter(spark):
    """The in-UDF emitted-triple gate must produce exactly the rows that
    post-filtering the full score output produces (prob strictly > 0.5)."""
    cands, vocabs, key_order, fwd, rev = _setup(spark, n_pages=60)
    key = ["url", "sent_id", "pair_idx", "is_reverse", "rel", "label",
           "prob"]
    full = emitted_triples(score_candidates(
        cands, vocabs, key_order, fwd, rev)).select(*key)
    gated = score_candidates(cands, vocabs, key_order, fwd, rev,
                             emit_threshold=0.5).select(*key)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in gated.collect()}
    assert a == b and a
    cands.unpersist()


# ------------------------------------------------------- cross-validation


def test_pmid_fold_chunks_reference_quirk():
    """cross_validation.py:14-16: contiguous len//k chunks; a remainder
    forms extra chunks that never serve as a test fold."""
    chunks = pmid_fold_chunks(list(range(10)), 3)
    assert chunks == [[0, 1, 2], [3, 4, 5], [6, 7, 8], [9]]
    assert pmid_fold_chunks(list(range(9)), 3) == [
        [0, 1, 2], [3, 4, 5], [6, 7, 8]]


def test_k_fold_cv_runs_and_respects_fold_membership(spark):
    """The working CV protocol the reference's dead module intended:
    per-fold vocab from training only, per-(fold, rel) F1 rows."""
    from kgre import cv
    cands, _, key_order, fwd, rev = _setup(spark, n_pages=60)
    out = cv.k_fold_cv(cands, 3, key_order, fwd, rev, occur_count=2,
                       epochs=5).collect()
    assert {r["fold"] for r in out} == {0, 1, 2}
    assert {r["rel"] for r in out} <= set(key_order)
    for r in out:
        assert 0.0 <= r["f1"] <= 1.0
        assert r["tp"] >= 0 and r["fp"] >= 0 and r["fn"] >= 0
    cands.unpersist()


def test_fold_assignment_distributed_matches_chunk_protocol(spark, monkeypatch):
    """VERDICT r3 #2: fold membership comes from a distributed two-phase
    rank — identical chunks to the driver-side pmid_fold_chunks protocol,
    with NO url list ever collected to the driver (the only collects are
    the two-phase rank's tiny (_pid, count) cell frames)."""
    from pyspark.sql import DataFrame

    from kgre import cv
    cands, _, _, _, _ = _setup(spark, n_pages=60)
    orig_collect = DataFrame.collect
    collected_cols: list[list[str]] = []

    def spy(self):
        collected_cols.append(list(self.columns))
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    fa = cv.fold_assignment(cands, 4)
    monkeypatch.setattr(DataFrame, "collect", orig_collect)
    assert all("url" not in cols for cols in collected_cols), collected_cols
    got = {r["url"]: r["chunk"] for r in fa.collect()}
    urls = sorted(got)
    chunks = pmid_fold_chunks(urls, 4)
    want = {u: ci for ci, chunk in enumerate(chunks) for u in chunk}
    assert got == want
    # remainder quirk preserved: any chunk >= k exists only when n % k != 0
    if len(urls) % 4 != 0:
        assert max(got.values()) >= 4 or len(urls) < 8
    cands.unpersist()


def test_k_fold_cv_rejects_too_few_documents(spark):
    """Fewer distinct urls than k would IndexError partway through the
    fold loop (pmid_fold_chunks clamps chunk length to 1) — fail fast."""
    from kgre import cv
    cands, _, key_order, fwd, rev = _setup(spark, n_pages=2)
    n_urls = cands.select("url").distinct().count()
    with pytest.raises(ValueError, match="distinct documents"):
        cv.k_fold_cv(cands, n_urls + 1, key_order, fwd, rev,
                     occur_count=2, epochs=1)
    cands.unpersist()
