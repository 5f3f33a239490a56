"""CLI mode dispatch (reference relation_extraction.py:430-565): each mode
runs end-to-end on the synthetic corpus and writes its sink."""

import os

import pytest

from kgre import cli
from pyspark.sql import functions as F


def _run(spark, monkeypatch, mode, out, extra=()):
    # reuse the session fixture instead of letting the CLI build its own
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    # and keep it alive across modes
    monkeypatch.setattr(spark, "stop", lambda: None)
    spark.catalog.clearCache()
    cli.main([mode, "--synth", "60", "--occur-count", "2",
              "--out", out, *extra])
    # no mode leaves a CacheManager entry behind: its stage reuse goes
    # through stage checkpoints, whose blocks free with the frames
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), mode


def test_cli_score_and_build(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "score")
    _run(spark, monkeypatch, "score", out)
    triples = spark.read.parquet(out + "/triples")
    assert triples.count() > 0
    assert set(triples.columns) >= {"url", "subj", "obj", "rel", "prob"}
    # partitioned by rel (S13: one sink partition per relation key)
    assert any(d.startswith("rel=") for d in os.listdir(out + "/triples"))

    out2 = str(tmp_path / "build")
    _run(spark, monkeypatch, "build", out2)
    assert spark.read.parquet(out2 + "/candidates").count() > 0
    vocab = spark.read.parquet(out2 + "/vocab")
    assert {"kind", "feature", "cnt", "id"} <= set(vocab.columns)


def test_cli_predict_and_eval(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "pred")
    _run(spark, monkeypatch, "predict", out)
    preds = spark.read.parquet(out + "/predictions")
    # predict keeps every instance row (no prob>0.5 gate)
    assert preds.count() >= preds.filter("prob > 0.5").count() > 0
    # S14: label is -1 (load_data.py:336-338) and every row carries the
    # ***entity***-highlighted sentence with exactly the endpoint tokens
    # marked (relation_extraction.py:70-80 intent)
    assert preds.filter("label != -1").count() == 0
    for r in preds.select("sentence", "start_tok", "end_tok").limit(20).collect():
        words = r["sentence"].split(" ")
        for t in (r["start_tok"], r["end_tok"]):
            w = words[t - 1]
            assert w.startswith("***") and w.endswith("***") and len(w) > 6
        n_marked = sum(w.startswith("***") for w in words)
        assert n_marked == len({r["start_tok"], r["end_tok"]})
    # display column mirrors the reference TSV layout incl. the sentence
    d = preds.select("display").first()["display"]
    assert d.count("\t") == 5 and "***" in d

    out3 = str(tmp_path / "eval")
    _run(spark, monkeypatch, "eval-data", out3)
    dist = spark.read.parquet(out3 + "/dist_subj")
    assert dist.count() > 0
    # X5: mention-level norm|lemma-phrase distribution
    ph = spark.read.parquet(out3 + "/dist_phrases")
    assert ph.filter("side = 'e1'").count() > 0
    assert ph.filter("entity_key like '%|%'").count() == ph.count()


def test_cli_rejects_unknown_mode():
    with pytest.raises(SystemExit):
        cli.main(["nonsense"])


def test_cli_train(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "train")
    _run(spark, monkeypatch, "train", out, extra=("--epochs", "5"))
    w = spark.read.parquet(out + "/weights")
    assert {"tensor", "key", "values"} == set(w.columns)
    assert w.filter("tensor = 'relations'").count() == 3
    # the shipped logistic config: per-kind layer-0 tensors keyed by
    # feature string, and the output bias as one row of 3 relations
    assert w.filter("tensor = 'w_out/dep_path'").count() > 0
    assert [len(r["values"]) for r in
            w.filter("tensor = 'b_out'").collect()] == [3]


def test_cli_score_resume_matches_plain(spark, tmp_path, monkeypatch):
    """--resume (lineage-bucketed candidates stage) must emit the same
    triples as the plain path, and a rerun must skip all buckets."""
    plain, res = str(tmp_path / "plain"), str(tmp_path / "res")
    _run(spark, monkeypatch, "score", plain)
    _run(spark, monkeypatch, "score", res, extra=("--resume", "--buckets", "4"))
    key = ["url", "sent_id", "pair_idx", "is_reverse", "rel"]
    a = {tuple(r) for r in
         spark.read.parquet(plain + "/triples").select(*key).collect()}
    b = {tuple(r) for r in
         spark.read.parquet(res + "/triples").select(*key).collect()}
    assert a == b and a
    m1 = spark.read.parquet(res + "/manifest")
    assert m1.filter("status = 'ok'").count() == 4
    # rerun: all buckets already in the manifest -> no new rows
    _run(spark, monkeypatch, "score", res,
         extra=("--resume", "--buckets", "4"))
    assert spark.read.parquet(res + "/manifest").count() == 4
    c = {tuple(r) for r in
         spark.read.parquet(res + "/triples").select(*key).collect()}
    assert c == a


def _triples(spark, out):
    key = ["url", "sent_id", "pair_idx", "is_reverse", "rel"]
    return {tuple(r) for r in
            spark.read.parquet(out + "/triples").select(*key).collect()}


def test_cli_score_resume_reruns_under_other_allowlists(spark, tmp_path,
                                                        monkeypatch):
    """The lineage stage is named by the candidates transform's
    parameters: a --resume rerun with a restrictive --allow1-file
    recomputes its buckets instead of reusing the unrestricted ones."""
    ids = tmp_path / "allow1.tsv"
    ids.write_text("".join("G%05d\tx\n" % k for k in range(1, 40)))
    allow = ("--allow1-file", str(ids))
    plain, res = str(tmp_path / "plain"), str(tmp_path / "res")
    _run(spark, monkeypatch, "score", plain, extra=allow)
    _run(spark, monkeypatch, "score", res, extra=("--resume", "--buckets", "4"))
    unrestricted = _triples(spark, res)
    _run(spark, monkeypatch, "score", res,
         extra=("--resume", "--buckets", "4", *allow))
    assert _triples(spark, res) == _triples(spark, plain) != unrestricted


def test_load_id_list(tmp_path):
    # S5 id-list scan (load_data.py:436-453): first TSV column -> set
    from kgre import kb
    p = tmp_path / "ids.tsv"
    p.write_text("G00001\tname1\nG00002\tx\n\nG00003\ty\n")
    assert kb.load_id_list(str(p)) == {"G00001", "G00002", "G00003"}


def test_cli_train_lstm(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "tl")
    _run(spark, monkeypatch, "train-lstm", out, extra=("--epochs", "2"))
    w = spark.read.parquet(out + "/lstm_weights")
    assert {"tensor", "key", "values"} == set(w.columns)
    # output-layer columns in the relations tensor's order, embedding rows
    # keyed by word
    assert w.filter("tensor = 'relations'").count() == 3
    words = {r["key"] for r in w.filter("tensor = 'word_emb'").collect()}
    assert "PADDING_WORD" in words
    assert words != {str(i) for i in range(len(words))}


def test_cli_pages_glob_and_recursive(spark, tmp_path, monkeypatch):
    """F5/S2 as scan options: nested dirs + suffix filter reach the file
    listing (only matching files are read)."""
    from kgre import synthgen
    pages = synthgen.pages_df(spark, 30)
    root = tmp_path / "pagedirs"
    pages.limit(20).coalesce(1).write.parquet(str(root / "a"))
    pages.coalesce(1).write.parquet(str(root / "b"))
    # rename b's data file so the glob excludes it
    import os
    for f in os.listdir(root / "b"):
        if f.endswith(".parquet"):
            os.rename(root / "b" / f, root / "b" / (f[:-8] + ".other"))
    out = str(tmp_path / "glob_out")
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    cli.main(["build", "--pages", str(root), "--recursive",
              "--pages-glob", "*.parquet", "--occur-count", "2",
              "--out", out])
    # only dir a's 20 pages contribute candidates
    cands = spark.read.parquet(out + "/candidates")
    urls = {r["url"] for r in cands.select("url").distinct().collect()}
    a_urls = {r["url"] for r in spark.read.parquet(str(root / "a"))
              .select("url").collect()}
    assert urls <= a_urls and urls


def test_cli_clean_corpus_recipe(spark, tmp_path, monkeypatch):
    """VERDICT r3 #8: the documented exact-dedup -> near-dup -> quality/
    lang -> pipeline composition as one CLI mode, with per-stage clean
    manifest rows and lineage rows for the candidates stage."""
    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .select("doc_id", "text", "lang").filter("doc_id < 60")
    first = base.orderBy("doc_id").first()
    extra = spark.createDataFrame(
        [(1000, first["text"], "en"),             # exact dup of doc 0...
         (1001, first["text"], "en"),             # ...twice
         (1002, first["text"] + " extraword", "en"),   # near dup of doc 0
         (1003, "zzz qqq xyzzy frob nix grue blorp zork quux gnip", "en")],
        "doc_id long, text string, lang string")  # no EN stopwords -> drop
    docs_dir = str(tmp_path / "docs")
    base.union(extra).write.parquet(docs_dir)
    out = str(tmp_path / "clean_out")
    _run(spark, monkeypatch, "clean", out,
         extra=("--documents", docs_dir, "--min-quality", "0.0",
                "--lang-threshold", "0.02", "--buckets", "4"))
    kept = {r["doc_id"]
            for r in spark.read.parquet(out + "/clean_docs").collect()}
    # exact dups 1000/1001 collapse into doc 0; the near dup 1002 falls to
    # the CC component min; the stopword-free doc 1003 fails language ID
    assert 0 in kept
    assert kept.isdisjoint({1000, 1001, 1002, 1003})
    man = {r["stage"]: (r["rows_in"], r["rows_out"])
           for r in spark.read.parquet(out + "/clean_manifest").collect()}
    assert set(man) == {"exact_dedup", "near_dedup", "near_dedup_caps",
                        "quality_lang"}
    # no bucket here approaches the width cap -> explicit zero accounting
    assert man["near_dedup_caps"] == (0, 0)
    assert man["exact_dedup"] == (64, 62)       # 1000/1001 collapsed
    assert man["near_dedup"][1] <= 61           # 1002 (at least) collapsed
    # 53 of the 60 base docs clear the 0.02 stopword-density cutoff; the
    # stopword-free 1003 never does
    assert man["quality_lang"][1] == 53
    # lineage rows for the bucketed candidates stage
    lin = spark.read.parquet(out + "/manifest")
    assert lin.filter("status = 'ok'").count() == 4
    assert spark.read.parquet(out + "/triples").count() > 0


def test_cli_clean_mode_reports_hot_bucket_caps(spark, tmp_path, monkeypatch):
    """VERDICT r4 #2: the clean mode must SURFACE recall lost to the LSH
    width cap — a hot-bucket fixture (template variants sharing leading
    shingles) run with a tiny --max-bucket must write a non-zero
    near_dedup_caps accounting row into clean_manifest."""
    # 40 one-token-suffix variants: distinct texts (survive exact dedup)
    # whose leading shingles collide into hot band buckets
    rows = [(i, "the quick brown fox jumps over the lazy dog again and "
                "again in the big green field variant%d" % i, "en")
            for i in range(40)]
    rows.append((100, "totally unrelated words about ships and the sea "
                      "and the people who sail them every day", "en"))
    docs_dir = str(tmp_path / "hotdocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string").write.parquet(docs_dir)
    out = str(tmp_path / "hot_clean_out")
    _run(spark, monkeypatch, "clean", out,
         extra=("--documents", docs_dir, "--min-quality", "0.0",
                "--lang-threshold", "0.02", "--buckets", "2",
                "--max-bucket", "10"))
    man = {r["stage"]: (r["rows_in"], r["rows_out"])
           for r in spark.read.parquet(out + "/clean_manifest").collect()}
    capped_buckets, capped_rows = man["near_dedup_caps"]
    assert capped_buckets >= 1 and capped_rows > 10
    # capped semantics: the hot variants escape the near-dup collapse
    kept = {r["doc_id"]
            for r in spark.read.parquet(out + "/clean_docs").collect()}
    assert 100 in kept and len(kept) > 10


def test_cli_score_crash_resume_recomputes_only_missing(spark, tmp_path,
                                                        monkeypatch):
    """VERDICT r4 #4: crash-resume e2e.  Simulate a crash after 2 of 4
    candidate buckets committed (delete the other buckets' outputs AND
    their manifest rows — exactly the on-disk state a mid-run kill
    leaves, since the manifest row commits only after the bucket's
    parquet), re-run `score --resume`, and assert the completed buckets
    were NOT recomputed while the final triples equal a no-resume run."""
    import shutil

    plain, res = str(tmp_path / "plain"), str(tmp_path / "res")
    _run(spark, monkeypatch, "score", plain)
    _run(spark, monkeypatch, "score", res, extra=("--resume", "--buckets", "4"))

    # -- crash surgery: keep buckets {0,1}, erase {2,3} ------------------
    man_dir = res + "/manifest"
    rows = spark.read.parquet(man_dir) \
        .withColumn("_f", F.input_file_name()).collect()
    victim_files = {r["_f"] for r in rows if r["bucket"] in (2, 3)}
    keeper_files = {r["_f"] for r in rows if r["bucket"] in (0, 1)}
    # each bucket's manifest append committed its own file(s), so a
    # partial manifest is representable by deleting whole files
    assert victim_files.isdisjoint(keeper_files)
    for f in victim_files:
        os.remove(f.replace("file://", ""))
    for b in (2, 3):
        shutil.rmtree(res + f"/candidates/bucket={b}")

    survivors_before = {
        p: os.path.getmtime(os.path.join(res, "candidates", f"bucket={b}", p))
        for b in (0, 1)
        for p in os.listdir(res + f"/candidates/bucket={b}")}

    _run(spark, monkeypatch, "score", res, extra=("--resume", "--buckets", "4"))

    # completed buckets were skipped: their data files untouched on disk
    survivors_after = {
        p: os.path.getmtime(os.path.join(res, "candidates", f"bucket={b}", p))
        for b in (0, 1)
        for p in os.listdir(res + f"/candidates/bucket={b}")}
    assert survivors_after == survivors_before
    # manifest is whole again: exactly one ok row per bucket
    man = spark.read.parquet(man_dir).filter("status = 'ok'")
    assert sorted(r["bucket"] for r in man.collect()) == [0, 1, 2, 3]
    # and the resumed output equals the no-resume run, row for row
    key = ["url", "sent_id", "pair_idx", "is_reverse", "rel"]
    a = {tuple(r) for r in
         spark.read.parquet(plain + "/triples").select(*key).collect()}
    b = {tuple(r) for r in
         spark.read.parquet(res + "/triples").select(*key).collect()}
    assert a == b and a


def test_cli_reliable_checkpoint_flag(spark, tmp_path, monkeypatch):
    """--reliable-checkpoint routes stage checkpoints through recoverable
    .checkpoint() files under the given dir (VERDICT r4 #3 as a user
    surface), and the output equals the localCheckpoint default."""
    ckpt = str(tmp_path / "ckpt")
    plain, rel = str(tmp_path / "plain"), str(tmp_path / "rel")
    # score reuses its candidates through a stage checkpoint (the vocab
    # count job and the scoring job both read it)
    _run(spark, monkeypatch, "score", plain)
    try:
        _run(spark, monkeypatch, "score", rel,
             extra=("--reliable-checkpoint", ckpt))
    finally:
        spark.conf.set("spark.kgre.reliableCheckpoint", "false")
    # reliable checkpoint files actually landed under the dir
    assert any(files for _, _, files in os.walk(ckpt))
    # identical triples under either flavor
    a = sorted(map(tuple, spark.read.parquet(plain + "/triples").collect()))
    b = sorted(map(tuple, spark.read.parquet(rel + "/triples").collect()))
    assert a == b and a


def test_cli_clean_optional_flag_validation(spark, tmp_path, monkeypatch):
    """--host-cap without --url-col is rejected before any Spark work."""
    docs_dir = str(tmp_path / "d")
    spark.createDataFrame([(0, "the quick fox", "en")],
                          "doc_id long, text string, lang string") \
        .write.parquet(docs_dir)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    with pytest.raises(SystemExit):
        cli.main(["clean", "--documents", docs_dir, "--host-cap", "5",
                  "--out", str(tmp_path / "o")])


def test_session_runs_on_the_spark_submit_master(tmp_path):
    """Without a ``master``, ``get_spark`` runs on the master spark-submit
    was given: a builder ``.master`` would override ``--master``, so the
    CLI submitted to a cluster would still run locally."""
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    import pyspark

    root = Path(__file__).resolve().parent.parent
    py_files = shutil.make_archive(str(tmp_path / "kgre"), "zip", root,
                                   "kgre")
    script = tmp_path / "s.py"
    script.write_text("from kgre.session import get_spark; "
                      "print('MASTER=' + get_spark('m').sparkContext.master)"
                      "\n")
    submit = shutil.which("spark-submit") or str(
        Path(pyspark.__file__).parent / "bin" / "spark-submit")
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    run = subprocess.run([submit, "--master", "local[2]", "--py-files",
                          py_files, str(script)], capture_output=True,
                         text=True, timeout=300, env=env)
    assert "MASTER=local[2]\n" in run.stdout, run.stderr[-3000:]
