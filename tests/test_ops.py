"""Tests for the training-data-pipeline operators and north-star
extensions: dedup, similarity, connected components, entity linking,
multimodal plumbing, lineage/resume."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from kgre import canon, dedup, linking, multimodal, similarity
from kgre.lineage import run_stage_with_resume, completed_buckets
from tests.helpers import ontology_df, simhash64


def _docs_df(spark):
    rows = [
        (0, "the red fox jumps over the lazy dog", "en"),
        (1, "the red fox jumps over the lazy dog", "en"),      # exact dup of 0
        (2, "the red fox jumps over the lazy cat", "en"),      # near dup
        (3, "completely different words entirely here now", "en"),
        (4, "the red fox jumps over the lazy dog today", "en"),  # near dup
        (5, "alpha beta gamma delta epsilon zeta eta theta", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ------------------------------------------------------------------ dedup


def test_jaccard_pairs_vs_python(spark):
    df = _docs_df(spark)
    got = {(r["d1"], r["d2"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, n=1, threshold=0.5).collect()}
    texts = {r["doc_id"]: set(r["text"].split()) for r in df.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        j = len(texts[a] & texts[b]) / len(texts[a] | texts[b])
        if round(j, 4) >= 0.5:
            want[(a, b)] = round(j, 4)
    assert got == want and (0, 1) in got


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    df = _docs_df(spark)
    # default: exact dups collapse to their representative (doc 1 -> 0),
    # so the (0, 1) pair is exact_rep_members' business, not a near-dup
    got = {(r["d1"], r["d2"]) for r in
           dedup.minhash_near_dups(df, threshold=0.5,
                                   shingle_n=2).collect()}
    assert (0, 1) not in got
    assert all(1 not in pair for pair in got)
    assert all(d not in (3, 5) for pair in got for d in pair)
    members = {r["doc_id"]: r["rep"]
               for r in dedup.exact_rep_members(df).collect()}
    assert members[1] == 0 and members[0] == 0 and members[2] == 2
    # historical all-pairs behavior stays available for verify baselines
    raw = {(r["d1"], r["d2"]) for r in
           dedup.minhash_near_dups(df, threshold=0.5, shingle_n=2,
                                   collapse_exact=False).collect()}
    assert (0, 1) in raw            # identical docs always collide
    assert got <= raw


def test_simhash_vs_python_and_symmetry(spark):
    df = _docs_df(spark)
    fps = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_fingerprints(df).collect()}
    # identical text -> identical fingerprint
    assert fps[0] == fps[1]
    # matches the pure-python reference
    for r in df.collect():
        want = simhash64(r["text"].split(" "))
        assert fps[r["doc_id"]] == want - (1 << 63)
    # doc 1 collapses into rep 0 before banding; the pairs are exactly
    # the representative pairs within Hamming 10 sharing a 16-bit band
    u = {i: h & ((1 << 64) - 1) for i, h in fps.items() if i != 1}
    want = {}
    for x in u:
        for y in u:
            ham = bin(u[x] ^ u[y]).count("1")
            if x < y and ham <= 10 and any(
                    (u[x] >> 16 * b) & 0xFFFF == (u[y] >> 16 * b) & 0xFFFF
                    for b in range(4)):
                want[(x, y)] = ham
    got = {(r["d1"], r["d2"]): r["hamming"]
           for r in dedup.simhash_near_dups(df, max_hamming=10).collect()}
    assert want and got == want


def test_near_dup_hot_bucket_guards(spark):
    """VERDICT r3 #3: 10k byte-identical docs must not explode the band
    self-join quadratically — the exact-collapse reduces them to one
    representative, and the max_bucket cap bounds any residual hot
    bucket."""
    n_dup = 10_000
    rows = [(i, "the red fox jumps over the lazy dog", "en")
            for i in range(n_dup)]
    rows += [(n_dup, "the red fox jumps over the lazy cat", "en"),
             (n_dup + 1, "completely different words entirely here", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r["d1"], r["d2"]): r["jaccard"]
           for r in dedup.minhash_near_dups(df, threshold=0.5,
                                            shingle_n=2).collect()}
    # the 10k-group collapses to rep 0; only the rep pairs with the cat doc
    assert set(got) == {(0, n_dup)}
    # structural no-explosion property (host-speed independent — wall
    # bounds flake in the degraded co-tenant windows BENCH/BASELINE.md
    # documents, ADVICE r4): the exact-collapse leaves 3 reps, so the
    # band self-join expands to at most C(3,2) candidate pairs, not the
    # ~50M an uncollapsed 10k-wide bucket would produce (threshold 0
    # keeps every candidate: a shared band key means a shared shingle)
    assert dedup.minhash_near_dups(df, threshold=0.0,
                                   shingle_n=2).count() <= 3
    # simhash: the 10k-group contributes only its representative, so no
    # pair may involve a collapsed member (whether the dog/cat pair
    # collides in a 16-bit band is a property of the hash, not asserted)
    sim_pairs = dedup.simhash_near_dups(df, max_hamming=10).collect()
    assert all(r["d1"] == 0 or r["d1"] >= n_dup for r in sim_pairs)
    assert all(r["d2"] == 0 or r["d2"] >= n_dup for r in sim_pairs)
    # the width cap drops buckets that stay hot even after the collapse:
    # 60 distinct one-token-suffix variants share the leading shingles
    vrows = [(i, "the red fox jumps over the lazy dog variant%d" % i, "en")
             for i in range(60)]
    vdf = spark.createDataFrame(vrows, "doc_id long, text string, lang string")
    stats: dict = {}
    capped = dedup.minhash_near_dups(vdf, threshold=0.0, shingle_n=2,
                                     max_bucket=10, stats=stats)
    assert stats["capped_buckets"] >= 1
    assert capped.count() < 60 * 59 / 2


# -------------------------------------------------------------- similarity


def test_cosine_topk_matches_numpy(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    got = [(r["vec_id"], r["cos_sim"])
           for r in similarity.cosine_topk(df, 0, 5).collect()]
    v0 = vecs[0].astype("float64")
    sims = {}
    for i in range(1, 30):
        v = vecs[i].astype("float64")
        sims[i] = float(v @ v0 / (np.linalg.norm(v) * np.linalg.norm(v0)))
    want = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-4


def test_ann_topk_recall_against_brute_force(spark):
    import numpy as np
    rng = np.random.RandomState(11)
    base = rng.randn(10, 16)
    # clustered vectors: 10 clusters x 8 members with small noise
    rows = []
    vid = 0
    for c in range(10):
        for _ in range(8):
            v = base[c] + rng.randn(16) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r["vec_id"] for r in similarity.cosine_topk(df, 0, 5).collect()}
    approx = {r["vec_id"] for r in similarity.ann_topk(df, 0, 5,
                                                       n_planes=4).collect()}
    # same-cluster neighbors land in the query's hyperplane bucket
    assert len(exact & approx) >= 3


# ---------------------------------------------------- connected components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    import random
    rng = random.Random(42)
    edges = [("n%d" % rng.randint(0, 60), "n%d" % rng.randint(0, 60))
             for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"]
           for r in canon.connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want


def test_canonicalize_triples(spark):
    triples = spark.createDataFrame(
        [("e1", "r", "e9"), ("e2", "r", "e3")],
        "subj string, rel string, obj string")
    same_as = spark.createDataFrame([("e1", "e2")], "src string, dst string")

    def run():
        df = canon.canonicalize_triples(triples, same_as)
        rows = {(r["subj_canon"], r["obj_canon"]) for r in df.collect()}
        return rows, df._jdf.queryExecution().executedPlan().toString()

    out, _ = run()
    assert out == {("e1", "e9"), ("e1", "e3")}
    # the component maps grow with the SAME_AS nodes, so nothing may
    # force them into a broadcast once the size gate says no
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        unbroadcast, plan = run()
    finally:
        spark.conf.set(key, old)
    assert unbroadcast == out
    assert "BroadcastHashJoin" not in plan, plan


# ------------------------------------------------------------ entity linking


def test_link_mentions_exact_and_noisy(spark):
    dictionary = spark.createDataFrame(
        [(1, "red widget"), (2, "blue bolt"), (3, "small ring")],
        "entity_id long, alias string")
    mentions = spark.createDataFrame(
        [(10, "red widget"), (11, "RED WIDGET item"), (12, "blue bolts"),
         (13, "zzzz qqqq")],
        "mention_id long, phrase string")
    got = {r["mention_id"]: r["entity_id"]
           for r in linking.link_mentions(mentions, dictionary,
                                          threshold=0.4).collect()}
    assert got.get(10) == 1
    assert got.get(11) == 1
    assert got.get(12) == 2
    assert 13 not in got


def test_link_mentions_phrase_collapse_and_dict_bucket_cap(spark):
    """Web-scale guards: repeated surface forms link identically through
    the distinct-phrase collapse, and hot dictionary band buckets can be
    width-capped."""
    dictionary = spark.createDataFrame(
        [(1, "red widget"), (2, "blue bolt"), (3, "small ring")],
        "entity_id long, alias string")
    # 30k mentions over 3 distinct phrases — the inner link problem is
    # size 3 regardless of the mention count
    rows = [(i, ["red widget", "blue bolts", "zzzz qqqq"][i % 3])
            for i in range(30_000)]
    mentions = spark.createDataFrame(rows, "mention_id long, phrase string")
    got = {r["mention_id"]: (r["entity_id"], r["jaccard"])
           for r in linking.link_mentions(mentions, dictionary,
                                          threshold=0.4).collect()}
    # no wall bound (flakes under co-tenant load, ADVICE r4): the
    # structural collapse property is pinned by collapsed==uncollapsed
    # below and the no-cartesian linking plan assert in test_plans
    assert len(got) == 20_000          # zzzz qqqq never links
    assert got[0] == got[3] and got[0][0] == 1
    assert got[1][0] == 2
    # collapsed == uncollapsed row-for-row on a small slice
    small = mentions.filter("mention_id < 30")
    a = sorted(map(tuple, linking.link_mentions(
        small, dictionary, threshold=0.4).collect()))
    b = sorted(map(tuple, linking.link_mentions(
        small, dictionary, threshold=0.4,
        collapse_phrases=False).collect()))
    assert a == b and a
    # dictionary bucket cap: 200 aliases sharing the normalized form all
    # hash to identical band keys -> one 200-wide bucket per band, capped
    hot = spark.createDataFrame(
        [(100 + i, "red widget!" * 1) for i in range(200)],
        "entity_id long, alias string")
    with pytest.warns(RuntimeWarning, match="hot-bucket cap"):
        capped = linking.link_mentions(small, dictionary.union(hot),
                                       threshold=0.4,
                                       max_bucket=50).collect()
    # the 200 hot aliases normalize like "red widget", so entity 1's own
    # bucket is the capped one — red-widget mentions drop out of blocking
    # entirely while the untouched blue-bolt bucket still links
    assert {r["entity_id"] for r in capped} == {2}


# ---------------------------------------------------------------- multimodal


def test_multimodal_roundtrip(spark):
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    meta = {r["doc_id"]: r.asDict()
            for r in multimodal.decode_metadata(
                multimodal.blobs_from_documents(docs)).collect()}
    assert len(meta) == 30
    for d, m in meta.items():
        assert m["valid"]
        assert m["width"] == 8 + d % 16
        assert m["height"] == 8 + (d // 3) % 16
        assert m["n_bytes"] == 16 + m["width"] * m["height"] * m["n_frames"]
    frames = multimodal.frame_sample(
        multimodal.blobs_from_documents(docs), every_k=2).collect()
    video_ids = {d for d in range(30) if d % 3 == 2}
    assert {r["doc_id"] for r in frames} <= video_ids
    for r in frames:
        assert r["frame_idx"] % 2 == 0
        assert 0.0 <= r["mean_intensity"] <= 255.0


# ------------------------------------------------------------------ lineage


def test_lineage_resume_skips_completed_buckets(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    inputs = spark.createDataFrame(
        [("u%d" % i, i) for i in range(100)], "url string, v int")

    calls = []

    def transform(df):
        calls.append(1)
        return df.withColumn("v2", F.col("v") * 2)

    out1 = run_stage_with_resume(spark, inputs, "stage1", transform,
                                 out_dir, man_dir, n_buckets=4)
    assert out1.count() == 100
    assert len(calls) == 4
    assert completed_buckets(spark, man_dir, "stage1") == {0, 1, 2, 3}

    # re-run: everything already complete -> transform never called again
    calls.clear()
    out2 = run_stage_with_resume(spark, inputs, "stage1", transform,
                                 out_dir, man_dir, n_buckets=4)
    assert out2.count() == 100
    assert calls == []

    # manifest rows carry metrics
    m = spark.read.parquet(man_dir)
    rows = m.filter(F.col("stage") == "stage1").collect()
    assert len(rows) == 4
    assert sum(r["rows_in"] for r in rows) == 100
    assert sum(r["rows_out"] for r in rows) == 100
    assert all(r["status"] == "ok" for r in rows)


def test_connected_components_log_iterations_on_path_graph(spark,
                                                           monkeypatch):
    """Pointer jumping: a 64-node chain must converge in O(log n) rounds
    (plain neighbor-min needs 63) and label every node with the chain
    head."""
    edges = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows, rounds = _cc_rounds(monkeypatch, df)
    got = {(r["node"], r["component"]) for r in rows}
    assert got == {("n%03d" % i, "n000") for i in range(64)}
    assert rounds <= 9, rounds


def _cc_rounds(monkeypatch, df):
    """connected_components' rows and its round count (each round runs
    one count())."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kgre import canon

    rounds = []
    orig_count = DataFrame.count

    def counting(self):
        rounds.append(1)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    labels = canon.connected_components(df)
    monkeypatch.undo()
    return labels.collect(), len(rounds)


def test_connected_components_one_action_per_iteration(spark, monkeypatch):
    """VERDICT r2 #4: the convergence check rides along in the same pass
    as the label step — per iteration there is exactly ONE driver action
    (the changed-count, which materializes the lazy checkpoint), not a
    checkpoint action plus a separate convergence join+count.  (Job
    counts are meaningless under AQE — each action fans into several
    stage-jobs — so count actions directly.)"""
    # patch the concrete classic class — pyspark.sql.DataFrame is an
    # abstract facade in Spark 4 and its methods are overridden
    from pyspark.sql.classic.dataframe import DataFrame

    from kgre import canon

    counts = []
    ckpts = []
    orig_count = DataFrame.count
    orig_ckpt = DataFrame.localCheckpoint

    def counting(self):
        counts.append(1)
        return orig_count(self)

    def ckpting(self, eager=True):
        ckpts.append(eager)
        return orig_ckpt(self, eager=eager)

    monkeypatch.setattr(DataFrame, "count", counting)
    monkeypatch.setattr(DataFrame, "localCheckpoint", ckpting)
    edges = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string")
    labels = canon.connected_components(df)
    # setup checkpoints (sym, labels) are eager; each round cuts one
    # lazy checkpoint and runs one count
    assert ckpts[:2] == [True, True]
    assert all(e is False for e in ckpts[2:]), ckpts
    assert len(ckpts) == 2 + len(counts)
    assert {r["component"] for r in labels.collect()} == {"n000"}


def test_ivf_topk_recall_against_brute_force(spark):
    """IVF with n_probe cells must recover most exact top-k neighbors on
    clustered data (the query's cluster lands in its probed cells)."""
    import numpy as np
    rng = np.random.RandomState(12)
    base = rng.randn(8, 16)
    # interleave clusters so vec_ids 0..7 (the training-free codebook)
    # span one member of EACH cluster
    rows = []
    for member in range(10):
        for c in range(8):
            v = base[c] + rng.randn(16) * 0.05
            rows.append((member * 8 + c, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r["vec_id"] for r in similarity.cosine_topk(df, 0, 5).collect()}
    approx = {r["vec_id"] for r in similarity.ivf_topk(
        df, 0, 5, n_cells=8, n_probe=3).collect()}
    assert len(exact & approx) >= 4
    # every vector lands in exactly one cell
    cells = similarity.ivf_cells(df, n_cells=8)
    assert cells.count() == 80
    assert cells.select("vec_id").distinct().count() == 80


def test_ivf_trained_codebook_recall_beats_untrained(spark):
    """VERDICT r2 #7: the k-means codebook must discover the clusters
    even when the first-N vectors don't span them (vec_ids laid out
    cluster-by-cluster, so the training-free quantizer's 8 centroids all
    sit in cluster 0); recall >= the untrained quantizer's and near
    perfect."""
    import numpy as np
    rng = np.random.RandomState(5)
    base = rng.randn(8, 16) * 3
    rows = []
    for c in range(8):             # sequential: ids 0..9 cluster 0, ...
        for member in range(10):
            v = base[c] + rng.randn(16) * 0.05
            rows.append((c * 10 + member, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r["vec_id"] for r in similarity.cosine_topk(df, 0, 5).collect()}
    untrained = {r["vec_id"] for r in similarity.ivf_topk(
        df, 0, 5, n_cells=8, n_probe=2).collect()}
    cb = similarity.train_ivf_codebook(df, n_cells=8)
    assert cb.shape == (8, 16)
    np.testing.assert_allclose(np.linalg.norm(cb, axis=1), 1.0, rtol=1e-9)
    trained = {r["vec_id"] for r in similarity.ivf_topk(
        df, 0, 5, n_cells=8, n_probe=2, codebook=cb).collect()}
    assert len(exact & trained) >= len(exact & untrained)
    assert len(exact & trained) >= 4


def test_winnow_fingerprints_overlap_behavior(spark):
    """Winnowing: identical docs share ALL fingerprints; a doc with one
    edit shares most; an unrelated doc shares few."""
    from kgre import textstats
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a.replace("lazy", "hazy")
    c = "completely different content with nothing shared at all here"
    df = spark.createDataFrame([(0, a), (1, a), (2, b), (3, c)],
                               "doc_id long, text string")
    fp = textstats.winnow_fingerprints(df, k=5, w=4)
    sets = {i: set() for i in range(4)}
    for r in fp.collect():
        sets[r["doc_id"]].add(r["fp"])
    assert sets[0] == sets[1] and sets[0]
    inter_ab = len(sets[0] & sets[2]) / len(sets[0] | sets[2])
    inter_ac = len(sets[0] & sets[3]) / len(sets[0] | sets[3])
    assert inter_ab > 0.5 > inter_ac
    # short docs (< k chars) contribute nothing, and don't crash
    tiny = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    assert textstats.winnow_fingerprints(tiny, k=5, w=4).count() == 0


def test_token_count_bpe_values(spark):
    from kgre import textstats
    df = spark.createDataFrame(
        [(0, "hello world42"), (1, "a,b")], "doc_id long, text string")
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in textstats.token_count_bpe(df).collect()}
    # hello -> hell+o (2), world42 -> worl+d+42 (3); a,b -> a + ',' + b
    assert got == {0: 5, 1: 3}


def test_multimodal_resize_and_features(spark):
    """Nearest-neighbor resize + per-frame features on the deterministic
    byte-planes (real math, only the codec decode is stubbed)."""
    import numpy as np
    from kgre import multimodal
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    blobs = multimodal.blobs_from_documents(docs)
    rs = {(r["doc_id"], r["frame_idx"]): r["out_mean"]
          for r in multimodal.resize_frames(blobs, 4, 4).collect()}
    ft = {(r["doc_id"], r["frame_idx"]): r
          for r in multimodal.frame_features(blobs).collect()}
    # hand-compute doc 2 (video, w=10, h=8, nf=3), frame 1
    d, w, h, f = 2, 10, 8, 1
    frame = ((d * 131 + (np.arange(w * h) + f * w * h) * 17) % 256)
    grid = frame.reshape(h, w)
    ys, xs = (np.arange(4) * h) // 4, (np.arange(4) * w) // 4
    want_mean = round(float(grid[np.ix_(ys, xs)].mean()), 4)
    assert rs[(2, 1)] == want_mean
    r = ft[(2, 1)]
    assert r["n_px"] == w * h
    assert r["min_px"] == int(frame.min()) and r["max_px"] == int(frame.max())
    assert abs(r["mean_px"] - round(float(frame.mean()), 4)) < 1e-9
    # images (doc_id % 3 == 0) have exactly one frame in features, and
    # never appear in the video-only resize output
    assert (0, 0) in ft and (0, 1) not in ft
    assert all(d_ % 3 == 2 for d_, _ in rs)


def test_connected_components_hot_hub_salted(spark, monkeypatch):
    """Skew shape (north_rule: salted repartitioning for hot entities):
    one hub with 5,000 leaves — the hub's component floods every leaf in
    one round through the salted two-phase min, labels correct."""
    edges = [("hub", "leaf%05d" % i) for i in range(5000)]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows, rounds = _cc_rounds(monkeypatch, df)
    got = {r["node"]: r["component"] for r in rows}
    assert len(got) == 5001
    assert set(got.values()) == {"hub"}
    assert rounds <= 3, rounds


def test_two_phase_dense_ids_matches_window(spark):
    """VERDICT r2 #6: skew-proof dense ids == row_number() semantics,
    with and without group columns, across partition boundaries."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kgre.vocab import two_phase_dense_ids

    random.seed(1)
    rows = [("k%d" % (i % 3), "f%05d" % i, random.randint(1, 40))
            for i in range(1500)]
    df = spark.createDataFrame(rows, "kind string, feature string, cnt int"
                               ).repartition(7)
    got = {(r["kind"], r["feature"]): r["id"]
           for r in two_phase_dense_ids(
               df, ["kind"], [F.desc("cnt"), F.asc("feature")]).collect()}
    w = Window.partitionBy("kind").orderBy(F.desc("cnt"), F.asc("feature"))
    want = {(r["kind"], r["feature"]): r["id"]
            for r in df.withColumn("id", F.row_number().over(w) - 1)
            .collect()}
    assert got == want
    # flat (no group columns) path
    flat = two_phase_dense_ids(df.limit(40), [],
                               [F.desc("cnt"), F.asc("feature")])
    assert sorted(r["id"] for r in flat.collect()) == list(range(40))
    # empty input — and the id column keeps the non-empty path's LongType
    # so schema-sensitive unions/writes don't fork on emptiness (ADVICE r3)
    e = spark.createDataFrame([], "kind string, feature string, cnt int")
    empty_out = two_phase_dense_ids(e, ["kind"], [F.desc("cnt")])
    assert empty_out.count() == 0
    assert empty_out.schema["id"].dataType.typeName() == "long"
    nonempty_out = two_phase_dense_ids(
        df.limit(5), ["kind"], [F.desc("cnt"), F.asc("feature")])
    assert nonempty_out.schema["id"].dataType.typeName() == "long"


def test_two_phase_dense_ids_null_group_and_no_cache(spark):
    """ADVICE r3: NULL group keys rank as their own group (row_number
    OVER PARTITION BY semantics), and the helper leaves nothing in the
    CacheManager (the old persist leaked across CV folds / bench passes)."""
    from pyspark.sql import functions as F

    from kgre.vocab import two_phase_dense_ids

    rows = [(None if i % 4 == 0 else "k%d" % (i % 2), "f%04d" % i)
            for i in range(200)]
    df = spark.createDataFrame(rows, "kind string, feature string")
    spark.catalog.clearCache()   # isolate the CacheManager assertion below
    out = two_phase_dense_ids(df, ["kind"], [F.asc("feature")])
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["kind"], []).append((r["id"], r["feature"]))
    # every group — including the NULL group — gets contiguous 0..n-1 ids
    # in feature order
    assert set(got) == {None, "k0", "k1"}
    for kind, pairs in got.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(len(pairs)))
        assert [p[1] for p in pairs] == sorted(p[1] for p in pairs)
    assert len(got[None]) == 50
    # no CacheManager residue: re-running the identical call must not
    # find (or re-register) a cached plan
    assert spark.catalog._jcatalog.isCached is not None  # api guard
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "two_phase_dense_ids left a cached plan"


def test_build_vocab_driver_rank_matches_window(spark):
    """build_vocab ranks on the driver; its ids must equal row_number()
    OVER (PARTITION BY kind ORDER BY cnt DESC, feature ASC) - 1 over the
    same counts: cnt ties inside and across kinds, a null feature (first,
    as in Spark's asc) and non-ASCII features (Python code-point order ==
    Spark's UTF-8 binary order, unlike UTF-16), and an empty vocabulary
    that keeps the bigint id."""
    from pyspark.sql import Window

    from kgre.vocab import build_vocab, collect_vocab_sets, vocab_counts

    between = ["b", "a", "\u00e9", "Z", "\uff21", "\U0001f600", None]
    rows = [([None, "p0", "p1"][i % 3], ["x", "y"],
             ["e%d" % j for j in range(i)], between) for i in range(6)]
    cands = spark.createDataFrame(
        rows, "dep_path_string string, sdp_words array<string>, "
              "sdp_elements array<string>, between_words array<string>")
    counts = vocab_counts(cands).filter(F.col("cnt") >= 2)
    w = Window.partitionBy("kind").orderBy(F.desc("cnt"), F.asc("feature"))
    want = {(r["kind"], r["feature"]): (r["cnt"], r["id"])
            for r in counts.withColumn("id", F.row_number().over(w) - 1)
            .collect()}
    vocab = build_vocab(cands, 2)
    assert vocab.schema.simpleString() == (
        "struct<kind:string,feature:string,cnt:bigint,id:bigint>")
    got = {(r["kind"], r["feature"]): (r["cnt"], r["id"])
           for r in vocab.collect()}
    assert got == want
    # the ties the ranking has to break really are there
    assert want[("between", None)] == (6, 0)
    assert want[("dep_word", "x")][0] == want[("between", "a")][0] == 6
    assert want[("dep_path", None)] == (2, 0)
    assert collect_vocab_sets(vocab)["between"] == set(between)
    empty = build_vocab(cands, 100)
    assert empty.count() == 0
    assert empty.schema == vocab.schema


def test_scoring_paths_never_build_frames_from_lists(spark, tmp_path,
                                                     monkeypatch):
    """build_vocab, KgPipeline.run_from_candidates, the lineage manifest,
    CLI clean (its clean manifest), CLI train / train-lstm (their
    weight artifacts) and token_budget_sample's per-source budgets hand
    createDataFrame pandas frames, never Python lists: a list-built frame
    converts its rows in a plain-RDD Python worker pool, a second pool
    beside the Arrow UDF workers.  Arrow fallback is off so a frame Arrow
    cannot convert fails instead of taking the list path."""
    from pyspark.sql import SparkSession

    from kgre import cli, sampling, synthgen
    from kgre.pipeline import KgPipeline, pages_to_candidates
    from kgre.vocab import build_vocab

    inputs = spark.createDataFrame(
        [("u%d" % i, i) for i in range(20)], "url string, v int")
    docs_dir = str(tmp_path / "docs")
    synthgen.pages_df(spark, 30).select(
        F.monotonically_increasing_id().alias("doc_id"), "text", "lang") \
        .write.parquet(docs_dir)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    cands = pages_to_candidates(synthgen.pages_df(spark, 30), "GENE",
                                "ONTOLOGY", synthgen.stop_entity_ids())
    seen = []
    create = SparkSession.createDataFrame

    def recording(self, data, *args, **kwargs):
        seen.append(type(data))
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    fallback = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    spark.conf.set(fallback, "false")
    try:
        build_vocab(cands, 2).collect()
        scored, vocab_df, _ = KgPipeline(spark, occur_count=2) \
            .run_from_candidates(cands, synthgen.kb_rows(),
                                 synthgen.ontology_rows())
        scored.count()
        vocab_df.collect()
        run_stage_with_resume(spark, inputs, "s", lambda df: df,
                              str(tmp_path / "out"), str(tmp_path / "man"),
                              n_buckets=2).count()
        cli.main(["clean", "--documents", docs_dir, "--occur-count", "2",
                  "--lang-threshold", "0.02", "--buckets", "2",
                  "--out", str(tmp_path / "clean")])
        for mode in ("train", "train-lstm"):
            cli.main([mode, "--synth", "30", "--occur-count", "2",
                      "--epochs", "1", "--out", str(tmp_path / mode)])
        sampling.token_budget_sample(
            spark.read.parquet(docs_dir).withColumnRenamed("lang", "source"),
            {"en": 50}).count()
    finally:
        spark.conf.unset(fallback)
    assert seen and list not in seen, seen


def test_kg_pipeline_leaves_no_cached_plan(spark):
    """KgPipeline.run reuses its candidates through a lazy stage
    checkpoint, not a persist: once its triples are forced the
    CacheManager is empty, so a later query over the same plan measures
    the candidates stage instead of reading a leftover cache."""
    from kgre import synthgen
    from kgre.pipeline import KgPipeline
    from kgre.score import emitted_triples

    spark.catalog.clearCache()
    scored, _, _ = KgPipeline(spark, occur_count=2).run(
        synthgen.pages_df(spark, 40), synthgen.kb_rows(),
        synthgen.ontology_rows(), synthgen.stop_entity_ids(),
        emit_threshold=0.5)
    assert emitted_triples(scored).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_clean_extreme_doc_ids(spark):
    """ADVICE r4 (medium): the CC node encoding must be order-preserving
    over the FULL signed-64 doc_id range.  The old lpad(...,12) silently
    TRUNCATED any id >= 10^12 to its first 12 digits, colliding distinct
    docs into one CC node (false component merges) and mangling the
    bigint cast-back.  Here two SEPARATE near-dup components use huge
    ids sharing the same first 12 digits — under truncation they merge
    and component B never collapses; under the biased 20-digit encoding
    each collapses to its own numeric-min id (negative ids included)."""
    from kgre.clean import clean_documents, _encode_id, _decode_id

    text_a = ("the quick brown fox and the lazy dog were in a big house "
              "with a cat on the mat and they all sat by the fire")
    text_b = ("it was the best of times and it was the worst of times in "
              "the city by the sea where the people would walk for hours")
    a_big = 4611686018427387905     # 2^62 + 1
    b_big = 4611686018427399999     # same first 12 digits as a_big
    b_min = 4611686018427300001     # ditto; numeric min of component B
    rows = [
        (-5, text_a),               # numeric min of component A (negative)
        (a_big, text_a + " extratail"),
        (b_min, text_b),
        (b_big, text_b + " othertail"),
        (7, "completely different words about trains and planes and the "
            "many cars that the people drive around the town all day"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in clean_documents(
        docs, min_quality=0.0, lang_threshold=0.02).collect()}
    assert kept == {-5, b_min, 7}

    # encoding invariants: byte order == numeric order, exact roundtrip,
    # across negatives / zero / >= 10^12 / LONG_MIN / LONG_MAX
    ids = [-(2 ** 63), -5, 0, 7, 10 ** 12, a_big, b_big, 2 ** 63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    enc = [r["e"] for r in df.select(_encode_id("doc_id").alias("e"))
           .orderBy("doc_id").collect()]
    assert enc == sorted(enc) and all(len(e) == 20 for e in enc)
    back = [r["b"] for r in
            df.select(_encode_id("doc_id").alias("e"))
              .select(_decode_id("e").alias("b")).orderBy("b").collect()]
    assert back == sorted(ids)


def test_cap_warning_without_stats(spark):
    """ADVICE r4: the hot-bucket cap must never be silent — with no
    stats dict, capping raises a driver-side RuntimeWarning."""
    import warnings as _w

    vrows = [(i, "the red fox jumps over the lazy dog variant%d" % i, "en")
             for i in range(60)]
    vdf = spark.createDataFrame(vrows, "doc_id long, text string, lang string")
    with pytest.warns(RuntimeWarning, match="hot-bucket cap"):
        dedup.minhash_near_dups(vdf, threshold=0.0, shingle_n=2,
                                max_bucket=10)
    # uncapped or unexceeded: no warning
    with _w.catch_warnings():
        _w.simplefilter("error")
        dedup.minhash_near_dups(vdf, threshold=0.0, shingle_n=2,
                                max_bucket=None)
        dedup.minhash_near_dups(vdf, threshold=0.0, shingle_n=2,
                                max_bucket=100_000)


def test_stage_checkpoint_flavors_equivalent(spark, tmp_path):
    """VERDICT r4 #3: the checkpoint flavor is a session config; both
    flavors must produce identical dense ids, clean survivors, connected
    components and ontology closure, the reliable flavor without a
    checkpoint dir fails loudly, and with the flag on connected
    components really writes reliable checkpoint files."""
    import os

    from kgre import kb as kbmod
    from kgre import synthgen
    from kgre.clean import clean_documents
    from kgre.session import stage_checkpoint
    from kgre.vocab import two_phase_dense_ids

    feats = spark.createDataFrame(
        [("a", "f%02d" % (i % 17), 100 - i) for i in range(50)]
        + [("b", "g%02d" % i, i) for i in range(20)],
        "kind string, feature string, cnt long")
    docs = _docs_df(spark)
    edges = spark.createDataFrame(
        [("n%d" % i, "n%d" % (i + 1)) for i in range(6)]
        + [("m3", "m1"), ("m2", "m3"), ("x", "x")],
        "src string, dst string")
    onto = ontology_df(spark, synthgen.ontology_rows())

    def run_both():
        ids = sorted(map(tuple, two_phase_dense_ids(
            feats, ["kind"], [F.desc("cnt"), F.asc("feature")]).collect()))
        surv = sorted(r["doc_id"] for r in clean_documents(
            docs, min_quality=0.0, lang_threshold=0.02).collect())
        comps = sorted(map(tuple, canon.connected_components(edges)
                           .collect()))
        closure = sorted(map(tuple, kbmod.ontology_closure_df(onto)
                             .collect()))
        return ids, surv, comps, closure

    local_ids, local_surv, local_comps, local_closure = run_both()
    spark.conf.set("spark.kgre.reliableCheckpoint", "true")
    try:
        if spark.sparkContext.getCheckpointDir() is None:
            # no checkpoint dir configured -> loud failure, not silent
            # local fallback (skipped when an earlier test in this
            # session-scoped fixture already set a dir)
            with pytest.raises(ValueError, match="checkpoint"):
                stage_checkpoint(docs)
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        rel_ids, rel_surv, rel_comps, rel_closure = run_both()
        # connected components alone, into a fresh dir: its iterative
        # labels must land in reliable checkpoint files, not only in
        # executor-local blocks
        cc_dir = tmp_path / "cc_ckpt"
        spark.sparkContext.setCheckpointDir(str(cc_dir))
        canon.connected_components(edges).collect()
        written = [f for _, _, fs in os.walk(cc_dir) for f in fs]
    finally:
        spark.conf.set("spark.kgre.reliableCheckpoint", "false")
    assert rel_ids == local_ids and rel_surv == local_surv
    assert rel_comps == local_comps and local_comps
    assert dict(local_comps)["n6"] == "n0" and dict(local_comps)["m3"] == "m1"
    assert rel_closure == local_closure and local_closure
    assert written, "connected_components wrote no reliable checkpoint"


def test_canonical_url_edge_cases(spark):
    """URL canonicalization (kgre/urls.py): case folding is scheme/host
    ONLY (paths are case-sensitive per RFC 3986), default ports drop but
    explicit ports survive (distinct origins), fragments drop, tracking
    params drop, surviving params sort."""
    from kgre import urls

    cases = [
        ("HTTPS://WWW.Ex.COM:443/A/b?utm_source=x&b=2&a=1#f",
         "https://www.ex.com/A/b?a=1&b=2", "www.ex.com"),
        ("http://ex.com:8080", "http://ex.com:8080/", "ex.com:8080"),
        ("http://ex.com:80/x", "http://ex.com/x", "ex.com"),
        ("https://ex.com/p?utm_campaign=z", "https://ex.com/p", "ex.com"),
        ("https://ex.com/p?fbclid=1&z=9&gclid=2",
         "https://ex.com/p?z=9", "ex.com"),
        ("https://Ex.com/#only-frag", "https://ex.com/", "ex.com"),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)],
                               "doc_id long, url string")
    got = {r["doc_id"]: (r["canon_url"], r["host"])
           for r in urls.canonicalize_urls(df).collect()}
    for i, (_, canon, host) in enumerate(cases):
        assert got[i] == (canon, host), (i, got[i])
    # dedup_by_canonical keeps the min id per canonical key
    dupes = spark.createDataFrame(
        [(10, "https://ex.com/p?b=1&a=1"),
         (11, "HTTPS://EX.com:443/p?a=1&utm_source=x&b=1"),
         (12, "https://other.com/q")],
        "doc_id long, url string")
    kept = {r["doc_id"] for r in urls.dedup_by_canonical(dupes).collect()}
    assert kept == {10, 12}


def test_dedup_by_canonical_malformed_urls_pass_through(spark):
    """ADVICE r5: parse_url yields NULL canon for unparseable URLs; they
    must collapse by their RAW string, not be merged into one NULL group
    (which silently dropped all but one malformed doc)."""
    from kgre import urls
    df = spark.createDataFrame(
        [(1, "not a url"), (2, "also::nota url"), (3, "not a url"),
         (4, "https://ex.com/p")],
        "doc_id long, url string")
    out = urls.dedup_by_canonical(df).collect()
    kept = {r["doc_id"] for r in out}
    # distinct malformed strings each keep a representative; identical
    # malformed strings dedup to the min id
    assert kept == {1, 2, 4}
    assert {r["doc_id"]: r["canon_url"] for r in out}[1] is None


# ------------------------------------------------------- pii / decontam


def test_pii_scrub_spec(spark):
    """PII scrubbing (kgre/pii.py): per-class counts on the original
    text, sequential email->IP->phone replacement; the dialect-portable
    patterns must NOT match near-misses (3-octet 'IPs', phones without
    '+', emails without a TLD, version strings like v1.2.3.4)."""
    from kgre import pii

    rows = [
        (0, "reach me at a.b+c@sub.ex.co or x@y.io thanks"),
        (1, "server 192.168.0.1 and 10.0.0.255 up"),
        (2, "call +44 7911 123456 or +1 555-0187 now"),
        (3, "no pii here at all"),
        (4, "mixed a@b.com 1.2.3.4 +1 555-0100"),
        (5, "not an ip 1.2.3 nor phone 555-0187 nor email a@b"),
        (6, "version v1.2.3.4 tag"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii.scrub_pii(df).collect()}
    counts = {i: (got[i]["n_email"], got[i]["n_ip"], got[i]["n_phone"])
              for i in range(7)}
    assert counts == {0: (2, 0, 0), 1: (0, 2, 0), 2: (0, 0, 2),
                      3: (0, 0, 0), 4: (1, 1, 1), 5: (0, 0, 0),
                      6: (0, 0, 0)}
    assert got[4]["clean_text"] == "mixed <EMAIL> <IP> <PHONE>"
    assert got[5]["clean_text"] == rows[5][1]  # untouched
    assert got[0]["clean_text"] == "reach me at <EMAIL> or <EMAIL> thanks"


def test_decontaminate_flags_planted(spark):
    """Benchmark decontamination (kgre/decontam.py): full-overlap doc
    flagged, single-shared-gram doc below min_hits stays, <n-token doc
    excluded from stats but KEPT by drop_contaminated."""
    from kgre import decontam

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    corpus = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2, "totally different words with no overlap at all here"),
        (3, "short doc"),
        (4, "one alpha beta gamma delta epsilon stray tail words"),
    ], "doc_id long, text string")
    stats = {r["doc_id"]: r
             for r in decontam.decontaminate(corpus, bench, n=5,
                                             min_hits=2).collect()}
    assert 3 not in stats  # cannot form a 5-gram
    assert stats[1]["contaminated"] and stats[1]["n_hits"] == 4 \
        and stats[1]["n_grams"] == 5
    assert stats[2]["n_hits"] == 0 and not stats[2]["contaminated"]
    assert stats[4]["n_hits"] == 1 and not stats[4]["contaminated"]
    kept = {r["doc_id"]
            for r in decontam.drop_contaminated(corpus, bench, n=5,
                                                min_hits=2).collect()}
    assert kept == {2, 3, 4}


def test_clean_url_dedup_stage(spark):
    """clean_documents(url_col=...): canonical-URL dedup runs FIRST —
    docs whose urls canonicalize identically collapse to the min doc_id
    even when their texts differ (crawl refetches drift), then the text
    stages run on the survivors; schema is preserved and the manifest
    gains a url_dedup row."""
    from kgre.clean import clean_documents

    good = ("the quick brown fox and the lazy dog were in a big house "
            "with a cat on the mat and they all sat by the fire")
    rows = [
        (0, good, "https://ex.com/a?b=1&a=2"),
        (1, good + " refetched later", "HTTPS://EX.com:443/a?a=2&utm_source=x&b=1"),
        (2, good + " other page entirely", "https://ex.com/b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    manifest: list = []
    kept = clean_documents(docs, min_quality=0.0, lang_threshold=0.02,
                           neardup_threshold=0.95, manifest=manifest,
                           url_col="url")
    assert kept.columns == ["doc_id", "text", "url"]
    assert {r["doc_id"] for r in kept.collect()} == {0, 2}
    stages = {s[0]: s for s in manifest}
    assert stages["url_dedup"][1] == 3 and stages["url_dedup"][2] == 2


def test_repetition_stats(spark):
    """Gopher repetition signals: all-unique grams -> dup_frac 0; a
    repeated phrase raises dup_frac/top_frac by exactly the expected
    counts; <n-token docs emit no row."""
    from kgre import textstats

    rows = [
        (0, "a b c a b c"),     # grams: abc bca cab abc -> 4 total 3 distinct
        (1, "one two three four five"),  # 3 grams, all unique
        (2, "x y"),             # too short
        (3, "spam spam spam spam spam spam"),  # 4 grams, 1 distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in textstats.repetition_stats(df, n=3).collect()}
    assert 2 not in got
    assert (got[0]["n_grams"], got[0]["n_distinct"]) == (4, 3)
    assert got[0]["dup_frac"] == 0.25 and got[0]["top_frac"] == 0.5
    assert got[1]["dup_frac"] == 0.0 and got[1]["n_grams"] == 3
    assert got[3]["dup_frac"] == 0.75 and got[3]["top_frac"] == 1.0


# ------------------------------------------------------------------ sampling


def test_split_by_hash_deterministic_and_layout_invariant(spark):
    """Split assignment is a pure function of the id: identical across
    reruns and unchanged when the partition layout changes (the property
    rand()/df.sample cannot give)."""
    from kgre import sampling

    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in sampling.split_by_hash(ids, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in sampling.split_by_hash(
             ids.repartition(7), "doc_id").collect()}
    assert a == b
    # 90/5/5 must be roughly respected on 2000 uniform ids
    from collections import Counter
    c = Counter(a.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert 0.02 < c["val"] / 2000 < 0.08
    assert 0.02 < c["test"] / 2000 < 0.08


def test_hash_frac_salts_decorrelate(spark):
    """Independent salts give independent buckets (the driver contract's
    split query draws its sample with a salt besides the unsalted
    split)."""
    from kgre import sampling

    ids = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a, b = zip(*ids.orderBy("doc_id").select(
        sampling.hash_frac("doc_id"),
        sampling.hash_frac("doc_id", "x")).collect())
    assert a != b



def _hosted_df(spark, n=400, hot_hosts=2, rare_every=10):
    """n rows; most on `hot_hosts` hot hosts, every `rare_every`-th on
    its own rare host."""
    d = F.col("id")
    host = (F.when(d % rare_every == 0,
                   F.concat(F.lit("rare"), d.cast("string")))
            .otherwise(F.concat(F.lit("hot"),
                                (d % hot_hosts).cast("string"))))
    return (spark.range(0, n).select(
        F.col("id").alias("doc_id"), host.alias("host")))


def test_host_stats(spark):
    from kgre import urls

    rows = [(0, "h1", "a b c"), (1, "h1", "dd ee"), (2, "h2", "x")]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = {r["host"]: r for r in urls.host_stats(df).collect()}
    assert got["h1"]["n_docs"] == 2
    assert got["h1"]["total_tokens"] == 5
    assert got["h1"]["total_chars"] == 10
    assert got["h1"]["mean_chars"] == 5.0
    assert got["h2"]["n_docs"] == 1 and got["h2"]["total_tokens"] == 1


def _brute_cap(spark, df, k):
    """Reference semantics: k smallest (hash_frac, doc_id) per host."""
    from kgre.sampling import hash_frac

    rows = df.select("doc_id", "host",
                     hash_frac("doc_id").alias("b")).collect()
    byhost = {}
    for r in rows:
        byhost.setdefault(r["host"], []).append((r["b"], r["doc_id"]))
    keep = set()
    for host, lst in byhost.items():
        for _, did in sorted(lst)[:k]:
            keep.add((did, host))
    return keep


def test_cap_per_host_exact_and_pass_through(spark):
    from kgre import urls

    df = _hosted_df(spark)
    got = set((r["doc_id"], r["host"]) for r in
              urls.cap_per_host(df, 15).collect())
    assert got == _brute_cap(spark, df, 15)
    # rare hosts (1 doc each) all pass through untouched
    rare_in = df.filter(F.col("host").startswith("rare")).count()
    rare_out = sum(1 for _, h in got if h.startswith("rare"))
    assert rare_in == rare_out


def test_cap_per_host_fallback_path_is_exact(spark):
    """A host whose every row hashes above the prefilter cutoff (k=1 of
    5 rows keeps buckets < 8000): the prefilter keeps nothing, the
    fallback branch re-ranks the full host rows and the result is still
    exactly the k smallest."""
    import hashlib

    from kgre import urls

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000

    high = [i for i in range(200) if bucket(i) >= 8000][:5]
    rows = [(i, "hot") for i in high] + [(1000 + i, f"rare{i}")
                                         for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    got = set((r["doc_id"], r["host"]) for r in
              urls.cap_per_host(df, 1).collect())
    assert got == _brute_cap(spark, df, 1)
    assert len(got) == 4
    with pytest.raises(ValueError):
        urls.cap_per_host(df, 0)


def test_cross_doc_span_stats(spark):
    """Two docs sharing a verbatim 8-token passage: exactly the windows
    inside the shared passage are cross-doc dup; a doc with no shared
    span has dup_frac 0; short docs emit no row."""
    shared = "one two three four five six seven eight"  # 8 tokens
    rows = [
        (0, shared + " tailA tailB"),      # 3 windows, 1 shared
        (1, "headX " + shared),            # 2 windows, 1 shared
        (2, "a b c d e f g h"),            # 1 window, unshared
        (3, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from kgre import dedup as dd
    got = {r["doc_id"]: r
           for r in dd.cross_doc_span_stats(df, n=8).collect()}
    assert 3 not in got
    assert (got[0]["n_windows"], got[0]["n_dup_windows"]) == (3, 1)
    assert (got[1]["n_windows"], got[1]["n_dup_windows"]) == (2, 1)
    assert got[1]["dup_frac"] == 0.5
    assert got[2]["n_dup_windows"] == 0 and got[2]["dup_frac"] == 0.0
    # a gram repeated WITHIN one doc only is not cross-doc dup
    intra = spark.createDataFrame(
        [(0, shared + " " + shared), (1, "i j k l m n o p")],
        "doc_id long, text string")
    g2 = {r["doc_id"]: r
          for r in dd.cross_doc_span_stats(intra, n=8).collect()}
    assert g2[0]["n_dup_windows"] == 0


# --------------------------------------------------------------- bigram LM


def test_bigram_lm_bits_hand_computed(spark):
    """Train on 'a b a c': P(b|a)=2/5, P(a|b)=1/2, P(c|a)=2/5 under
    Laplace with V=3; unseen contexts fall back to 1/V."""
    import math

    from kgre import lm

    train = spark.createDataFrame([(0, "a b a c")],
                                  "doc_id long, text string")
    bigrams, ctx, vocab = lm.train_bigram_lm(train)
    score = spark.createDataFrame(
        [(1, "a b"), (2, "z q"), (3, "a b a c"), (4, "solo")],
        "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in lm.bits_per_token(score, bigrams, ctx, vocab).collect()}
    assert 4 not in got                       # <2 tokens: no row
    assert got[1]["n_terms"] == 1
    assert got[1]["bits"] == round(-math.log2(0.4), 4)
    assert got[2]["bits"] == round(math.log2(3), 4)       # uniform 1/V
    expect3 = round(-(math.log2(0.4) + math.log2(0.5)
                      + math.log2(0.4)) / 3, 4)
    assert got[3]["bits"] == expect3


def test_perplexity_filter(spark):
    from kgre import lm

    train = spark.createDataFrame([(0, "a b a c")],
                                  "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "a b"), (2, "z q"), (3, "solo")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  lm.perplexity_filter(docs, train, max_bits=1.4).collect())
    # 2 ('z q', 1.585 bits) dropped; 3 kept unscored (too short)
    assert kept == [0, 1, 3]


def test_token_budget_sample_matches_one_window_semantics(spark):
    """The two-phase bucket plan must equal the plain per-source
    cumulative-window rule: keep iff inclusive running token total (in
    (hash-bucket, id) order) <= budget."""
    from kgre import sampling

    rows = [(i, f"s{i % 3}", "w " * (i % 7 + 1)) for i in range(300)]
    df = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows],
        "doc_id long, source string, text string")
    budget = 120
    got = sorted(r["doc_id"] for r in
                 sampling.token_budget_sample(df, budget).collect())

    # brute reference
    data = df.select("doc_id", "source", "text",
                     sampling.hash_frac("doc_id").alias("b")).collect()
    keep = []
    for s in {"s0", "s1", "s2"}:
        cum = 0
        for r in sorted((r for r in data if r["source"] == s),
                        key=lambda r: (r["b"], r["doc_id"])):
            cum += len(r["text"].split(" "))
            if cum <= budget:
                keep.append(r["doc_id"])
    assert got == sorted(keep)


def test_token_budget_sample_dict_budgets_and_passthrough(spark):
    from kgre import sampling

    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b", "one two three") for i in range(20)],
        "doc_id long, source string, text string")
    # 'a' capped at 9 tokens -> 3 docs; 'b' absent -> passes through whole
    out = sampling.token_budget_sample(df, {"a": 9})
    by = {}
    for r in out.collect():
        by.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by["a"]) == 3 and len(by["b"]) == 10
    # budget 0: nothing from 'a'
    none = sampling.token_budget_sample(df, {"a": 0, "b": 0})
    assert none.count() == 0


# --------------------------------------------------- clean: optional stages


def test_clean_documents_optional_stages(spark):
    """The r5 optional stages compose after quality_lang in order
    (repetition -> perplexity -> decontaminate -> host_cap ->
    token_budget), each with a manifest row, defaults-off semantics
    preserved."""
    from kgre.clean import clean_documents

    base_text = "the quick brown fox and the lazy dog run over a hill"
    rows = []
    for i in range(8):
        rows.append((i, base_text + f" extra{i}", "en", "s0",
                     "http://big.example.com/p%d" % i))
    # survives dedup/quality/lang but is pure repetition
    rows.append((100, "the the the the the the the the the the", "en",
                 "s0", "http://big.example.com/rep"))
    # contaminated: equals the bench doc
    rows.append((101, base_text + " benchmarked words here", "en", "s1",
                 "http://other.example.com/c"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " url string")
    bench = spark.createDataFrame(
        [(0, base_text + " benchmarked words here")],
        "doc_id long, text string")

    man: list = []
    out = clean_documents(
        docs, min_quality=0.0, lang_threshold=0.02, manifest=man,
        url_col="url", max_rep_frac=0.5, max_bits=50.0,
        decontam_bench=bench, host_cap=3, token_budget=10_000)
    kept = sorted(r["doc_id"] for r in out.collect())

    stages = [s[0] for s in man]
    assert stages == ["url_dedup", "exact_dedup", "near_dedup",
                      "near_dedup_caps", "quality_lang", "repetition",
                      "perplexity", "decontaminate", "host_cap",
                      "token_budget"]
    by = {s[0]: s for s in man}
    assert 100 not in kept                       # repetition-dropped
    assert by["repetition"][1] - by["repetition"][2] == 1
    assert by["perplexity"][1] == by["perplexity"][2]  # 50 bits drops none
    assert 101 not in kept                       # decontaminated
    assert by["decontaminate"][1] - by["decontaminate"][2] == 1
    # 8 near-dup'd big.example.com docs collapse below the host cap or
    # cap to exactly 3 — either way the cap bound holds
    assert sum(1 for d in kept if d < 100) <= 3
    assert by["host_cap"][2] == len(kept)        # huge budget drops none
    assert by["token_budget"][2] == len(kept)
    # host_cap without url_col is a usage error
    with pytest.raises(ValueError):
        clean_documents(docs, host_cap=3)


# ------------------------------------------------------------- line cleaning


def test_dedup_lines_c4(spark):
    """Any line occurring >= min_count times corpus-wide is removed from
    EVERY doc (including intra-doc copies); surviving lines keep their
    original order; fully-boilerplate docs come back empty."""
    from kgre import lines

    boiler = "accept cookies to continue"
    rows = [
        (0, f"alpha one.\n{boiler}\nbeta two."),
        (1, f"{boiler}\ngamma three."),
        (2, f"delta four.\n{boiler}"),
        (3, boiler),                      # only the hot line -> empty
        (4, "unique line stays."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in lines.dedup_lines(df, min_count=3).collect()}
    assert got[0] == "alpha one.\nbeta two."
    assert got[1] == "gamma three."
    assert got[2] == "delta four."
    assert got[3] == ""
    assert got[4] == "unique line stays."


def test_clean_documents_line_dedup_stage(spark):
    """line_dedup runs before exact dedup: boilerplate lines are
    stripped corpus-wide (so text-identical-after-stripping docs then
    collapse), and docs reduced to nothing disappear."""
    from kgre.clean import clean_documents

    boiler = "accept all cookies now please friend"
    body = "the quick brown fox and the lazy dog jumped"
    rows = [
        (0, f"{body}\n{boiler}", "en"),
        (1, f"{boiler}\n{body}", "en"),    # same body after stripping
        (2, boiler, "en"),                 # only boilerplate -> dropped
        (3, "a small green bird sits upon an old oak tree", "en"),
    ]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, lang string")
    man: list = []
    out = clean_documents(docs, min_quality=0.0, lang_threshold=0.02,
                          manifest=man, line_dedup_min_count=3)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert [s[0] for s in man][:2] == ["line_dedup", "exact_dedup"]
    by = {s[0]: s for s in man}
    assert by["line_dedup"] == (by["line_dedup"][0], 4, 3,
                                by["line_dedup"][3])
    # 0 and 1 become text-identical -> exact dedup keeps 0 only
    assert kept == [0, 3]


def test_quality_classifier_log_odds_hand_computed(spark):
    """ref='good good text', bg='bad text': w(good)=ln 2.5,
    w(text)=ln(5/6), w(bad)=ln(5/12), unseen=ln(5/6)."""
    import math

    from kgre import qualityclf

    ref = spark.createDataFrame([(0, "good good text")],
                                "doc_id long, text string")
    bg = spark.createDataFrame([(1, "bad text")],
                               "doc_id long, text string")
    weights, unseen = qualityclf.train_log_odds(ref, bg)
    w = {r["t"]: r["w"] for r in weights.collect()}
    assert abs(w["good"] - math.log(2.5)) < 1e-12
    assert abs(w["text"] - math.log(5 / 6)) < 1e-12
    assert abs(w["bad"] - math.log(5 / 12)) < 1e-12
    assert abs(unseen.collect()[0]["w_unseen"]
               - math.log(5 / 6)) < 1e-12

    score = spark.createDataFrame(
        [(10, "good zzz"), (11, "bad bad"), (12, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in qualityclf.log_odds_score(score, weights,
                                              unseen).collect()}
    assert 12 not in got                       # zero tokens: no row
    assert got[10]["n_tokens"] == 2
    assert got[10]["quality_lr"] == round(
        (math.log(2.5) + math.log(5 / 6)) / 2, 4)
    assert got[11]["quality_lr"] == round(math.log(5 / 12), 4)
    # reference-like text scores above background-like text
    assert got[10]["quality_lr"] > got[11]["quality_lr"]


# ---------------------------------------------------------- python worker


def test_worker_skips_rereading_unchanged_zip_archives(spark):
    """PySpark calls importlib.invalidate_caches() at the start of every
    task; once a kgre UDF runs on a worker, that call re-reads no
    unchanged zip archive (pyspark.zip, py4j, the spark-core jar)."""
    import importlib
    import zipimport

    import pandas as pd

    def body(batches):
        similarity.grow_cutoff        # unpickling this imports kgre
        importlib.invalidate_caches()
        read = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    got = (spark.range(0, 64, numPartitions=8)
           .mapInPandas(body, "reads long").collect())
    assert [r["reads"] for r in got] == [0] * 8
