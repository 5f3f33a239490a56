"""Physical-plan regression guards: the scale properties we rely on
(predicate pushdown, column pruning, broadcast joins, single-scan vocab)
must be visible in the optimized plan, not just assumed."""

import re

import pytest

from kgre import synthgen
from kgre.pipeline import documents_to_candidates, pages_to_candidates
from kgre.vocab import vocab_counts

SF = "/root/testdata/sf0.01"


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_filter_pushdown_and_column_pruning(spark, lineitem):
    from pyspark.sql import functions as F
    q = (lineitem.filter(F.col("l_shipdate") <= "1998-09-01")
         .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")))
    plan = _plan(q)
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    # pruning: only the 3 referenced columns reach the scan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" in read and "l_returnflag" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_dimension_joins_broadcast(spark):
    from pyspark.sql import functions as F
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    r = spark.read.parquet(f"{SF}/region.parquet")
    q = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .groupBy("r_name").count())
    plan = _plan(q)
    # formatted explain names each node in the tree and the detail section
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_candidates_stage_prunes_page_columns(spark):
    """The html blob is consumed by the fused Python stage; text/warc_ts
    must never be read from the pages scan (at Common-Crawl scale the
    unused columns dominate I/O).  Every fused entry point (pages,
    documents, CoreNLP XML) plans exactly one Python crossing."""
    from kgre import nlp
    from kgre.corenlp import read_corenlp_candidates, sentence_rows_to_xml

    pages = synthgen.pages_df(spark, 10)
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY",
                                synthgen.stop_entity_ids())
    plan = _plan(cands)
    assert "url" in plan and "html" in plan
    # the real check is on a parquet-backed source (pruning must reach
    # the scan)
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        pages.write.mode("overwrite").parquet(d)
        cands2 = pages_to_candidates(spark.read.parquet(d), "GENE",
                                     "ONTOLOGY", synthgen.stop_entity_ids())
        plan2 = _plan(cands2)
        read = [ln for ln in plan2.splitlines() if "ReadSchema" in ln][0]
        assert "html" in read and "url" in read
        assert "warc_ts" not in read and "text" not in read
        assert _python_stages(plan2) == 1, plan2
    with tempfile.TemporaryDirectory() as d:
        rows = [dict(s, url="u0") for s in nlp.parse_text(
            synthgen.gen_pages_rows(2)[0]["text"])]
        with open(f"{d}/d0.txt", "wb") as f:
            f.write(sentence_rows_to_xml(rows))
        plan_x = _plan(read_corenlp_candidates(
            spark, d, "GENE", "ONTOLOGY", synthgen.stop_entity_ids()))
        assert _python_stages(plan_x) == 1, plan_x
    # the documents entry point reads only what it parses (+ the lang
    # predicate) from the scan, in one Python crossing
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan3 = _plan(documents_to_candidates(docs, "GENE", "ONTOLOGY",
                                          synthgen.stop_entity_ids()))
    reads = [ln for ln in plan3.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 1, plan3
    read_cols = re.findall(r"(\w+):", reads[0].split("ReadSchema:")[1])
    assert sorted(read_cols) == ["doc_id", "lang", "text"], reads[0]
    assert _python_stages(plan3) == 1, plan3


def _python_stages(plan: str) -> int:
    return len(set(re.findall(r"\((\d+)\) MapInPandas", plan)))


def test_vocab_is_single_scan(spark):
    pages = synthgen.pages_df(spark, 10)
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY",
                                synthgen.stop_entity_ids())
    plan = _plan(vocab_counts(cands))
    # the old 4-branch union read the candidates stage four times; the
    # single-scan shape has each upstream python stage exactly once
    # (pages generator + candidates = 2 distinct MapInPandas nodes)
    import re
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", plan))
    assert len(nodes) == 2, plan
    assert "Union" not in plan

def test_neardup_production_paths_have_no_cartesian(spark):
    """VERDICT r1 item 6: the near-dup queries the driver exercises must
    not plan a cartesian product / BroadcastNestedLoopJoin — candidates
    come from equi-joins on bucket keys."""
    from kgre import dedup, similarity
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (
        similarity.cosine_neardup_bucketed(embs, threshold=0.30,
                                           n_planes=8, bands=4, max_id=150),
        dedup.minhash_near_dups(docs, threshold=0.6, n_hashes=8, bands=4,
                                shingle_n=1),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_neardup_recall_vs_exact(spark):
    """Banded hyperplane blocking is a subset of the exact pairs with
    usable recall at the tested threshold (OR-of-bands)."""
    from kgre import similarity
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {(r["v1"], r["v2"]) for r in similarity.cosine_neardup_pairs(
        embs, threshold=0.30, max_id=150).collect()}
    lsh = {(r["v1"], r["v2"]) for r in similarity.cosine_neardup_bucketed(
        embs, threshold=0.30, n_planes=8, bands=4, max_id=150).collect()}
    assert lsh <= exact
    assert len(lsh) >= 0.6 * len(exact), (len(lsh), len(exact))


def _scorer_input(spark, model):
    """The argument lists of the scoring stage's MapInPandas nodes, with
    the FF scorer in TEST mode or the LSTM scorer."""
    from kgre import lstm, synthgen
    from kgre.kb import load_kb_sets, ontology_closure_dict
    from kgre.score import score_candidates
    from kgre.vocab import build_vocab, collect_vocab_sets

    pages = synthgen.pages_df(spark, 10)
    cands = pages_to_candidates(pages, "GENE", "ONTOLOGY",
                                synthgen.stop_entity_ids()).persist()
    fwd, rev = load_kb_sets(synthgen.kb_rows(),
                            ontology_closure_dict(synthgen.ontology_rows()))
    if model == "ff":
        vocabs = collect_vocab_sets(build_vocab(cands, 2))
        scored = score_candidates(cands, vocabs, sorted(fwd), fwd, rev,
                                  emit_threshold=0.5)
    else:
        dep, word = lstm.lstm_vocabs(["nsubj"], ["gene"])
        scored = lstm.score_candidates_lstm(cands, dep, word, sorted(fwd),
                                            fwd, rev)
    plan = _plan(scored)
    cands.unpersist()
    # the scorer's MapInPandas INPUT list (text before the ')#' closing
    # run(...)); the candidates stage's own node lists the pruned
    # columns in its OUTPUT, which is fine
    args = [ln.split(")#")[0] for ln in plan.splitlines()
            if "Arguments: run(" in ln
            and "pair_e1_ids" in ln.split(")#")[0]]
    assert args, plan
    return args


def test_scorer_input_is_pruned(spark):
    """The TEST-mode scoring stage must not ship sentence text or the
    unused sdp_types through the Arrow boundary (mapInPandas receives
    every input column, so the projection must be explicit upstream)."""
    for args in _scorer_input(spark, "ff"):
        assert "sent_text" not in args and "sdp_types" not in args, args


def test_lstm_scorer_input_is_pruned(spark):
    """The same stage under the LSTM ships only its two SDP sequences:
    no sentence text and none of the FF feature columns."""
    for args in _scorer_input(spark, "lstm"):
        assert "sdp_types" in args and "sdp_words" in args, args
        for col in ("sent_text", "dep_path_string", "sdp_elements",
                    "between_words"):
            assert col not in args, args


def _recorded_plans(spark) -> dict[int, str]:
    """{SQL execution id: formatted physical plan} of every execution the
    session's status store holds."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def test_cosine_bucketing_runs_once(spark):
    """The hyperplane bucketing Python stage is planned once per near-dup
    query: the band self-join reads one cut stream, not one Python stage
    per side.  The cut moves the stage out of the query's own plan into
    the checkpoint's, so this counts over every plan the query records."""
    from kgre import similarity

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    seen = set(_recorded_plans(spark))
    df = similarity.cosine_neardup_bucketed(embs, threshold=0.30,
                                            n_planes=8, bands=4, max_id=150)
    assert df.count() > 0
    plans = [p for e, p in _recorded_plans(spark).items() if e not in seen]
    assert sum(_python_stages(p) for p in plans) == 1, plans


def test_linking_and_clean_have_no_cartesian(spark):
    """The r4 web-scale guards keep every join an equi-join: the linking
    collapse/back-join and the whole clean composition must not plan a
    CartesianProduct / BroadcastNestedLoopJoin."""
    from kgre import linking
    from kgre.clean import clean_documents
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    parts = spark.read.parquet(f"{SF}/part.parquet")
    from pyspark.sql import functions as F
    dictionary = parts.select(F.col("p_partkey").alias("entity_id"),
                              F.col("p_name").alias("alias")).distinct()
    mentions = parts.select(
        F.col("p_partkey").alias("mention_id"),
        F.concat(F.upper("p_name"), F.lit(" item")).alias("phrase"))
    for df in (
        linking.link_mentions(mentions, dictionary, threshold=0.4),
        clean_documents(docs.filter("doc_id < 100")),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pii_scrub_is_map_only(spark):
    """PII scrubbing must stay a zero-shuffle scan: no Exchange in the
    plan, all three regexes inside one codegen'd projection."""
    from kgre import pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pii.scrub_pii(docs))
    assert "Exchange" not in plan, plan


def test_decontaminate_benchmark_side_is_broadcast(spark):
    """The benchmark n-gram set is the small side by definition — the
    overlap join must be a BroadcastHashJoin (map-side), and nothing in
    the plan may fall back to CartesianProduct/BNLJ."""
    from kgre import decontam

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter("doc_id % 97 = 0")
    plan = _plan(decontam.decontaminate(docs, bench))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_r5_ops_plan_shapes(spark):
    """Scale-shape pins for the r5 operators: no cartesian anywhere; the
    cap_per_host rank compiles to WindowGroupLimit (top-k per host, the
    full host row set is never materialized through the window); the
    token-budget boundary window is fed by broadcast-joined bucket
    status, not a whole-corpus shuffle-by-source."""
    from pyspark.sql import functions as F

    from kgre import dedup, lines, lm, sampling, urls

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hosted = docs.select(
        "doc_id", "text", "source",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
        .alias("host"))

    cap_plan = _plan(urls.cap_per_host(hosted.select("doc_id", "host"), 5))
    assert "WindowGroupLimit" in cap_plan
    budget_plan = _plan(sampling.token_budget_sample(hosted, 500))
    span_plan = _plan(dedup.cross_doc_span_stats(docs, n=8))
    line_plan = _plan(lines.dedup_lines(docs))
    bigrams, ctx, vocab = lm.train_bigram_lm(docs)
    lm_plan = _plan(lm.bits_per_token(docs, bigrams, ctx, vocab))

    for plan in (cap_plan, budget_plan, span_plan, line_plan, lm_plan):
        assert "CartesianProduct" not in plan
    # equi-join ops must never nested-loop; the LM scorer is exempt —
    # its one BroadcastNestedLoopJoin is the deliberate 1-row
    # vocabulary-size scalar crossJoin(broadcast(...))
    for plan in (cap_plan, budget_plan, span_plan, line_plan):
        assert "BroadcastNestedLoopJoin" not in plan
    import re
    lm_bnlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin",
                                   lm_plan))
    assert len(lm_bnlj_nodes) <= 1


def test_r5_ops_empty_input(spark):
    """Every r5 operator must return an empty, correctly-schema'd result
    on an empty corpus rather than erroring (a real pipeline hits empty
    partitions/filters constantly)."""
    from kgre import dedup, lines, lm, sampling, urls

    empty = spark.createDataFrame(
        [], "doc_id long, text string, source string, host string")
    assert sampling.split_by_hash(empty).count() == 0
    assert sampling.token_budget_sample(empty, 100).count() == 0
    assert urls.host_stats(empty).count() == 0
    assert urls.cap_per_host(empty, 3).count() == 0
    assert dedup.cross_doc_span_stats(empty).count() == 0
    assert lines.dedup_lines(empty).count() == 0
    bigrams, ctx, vocab = lm.train_bigram_lm(empty)
    assert lm.bits_per_token(empty, bigrams, ctx, vocab).count() == 0
