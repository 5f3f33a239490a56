"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline (SURVEY.md §7.1)
over pages derived from the sf0.001 documents table.  ``queries()`` maps
one entry per implemented operator family from SURVEY.md §2 (plus the
training-data-pipeline extensions) to a DataFrame builder; ``oracle_sql()``
provides the DuckDB twin for every SQL-expressible one.  Column names and
rounding are aligned on both sides (driver compares by sorted column name
+ value hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgre import decontam, dedup, kb as kbmod, linking, multimodal
from kgre import pii, similarity, synthgen, textstats
from kgre.pipeline import KgPipeline
from kgre.score import emitted_triples

# ---------------------------------------------------------------- fixtures

# tiny inline KB for the declarative label-join check (J1)
_KB_WORDS = [("join", "R_join"), ("merge", "R_join"), ("agg", "R_agg"),
             ("spark", "R_spark"), ("window", "R_window")]
_KB_VALUES_SQL = ", ".join("('%s','%s')" % (w, r) for w, r in _KB_WORDS)

_STOP_WORDS = ["spark", "join"]

# inline is_a DAG for the closure check (S7/G4): multi-parent + a cycle
_ONTO_EDGES = [("B", "A"), ("C", "B"), ("D", "B"), ("D", "C"), ("E", "D"),
               ("G", "F"), ("H", "G"), ("X", "Y"), ("Y", "X")]
_ONTO_VALUES_SQL = ", ".join("('%s','%s')" % (t, a) for t, a in _ONTO_EDGES)

# inline undirected edges for connected components: two chains, a cycle,
# a star
_CC_EDGES = [("a1", "a2"), ("a2", "a3"), ("a3", "a4"),
             ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
             ("c1", "c2"), ("c1", "c3"), ("c1", "c4"), ("c1", "c5"),
             ("d1", "d2")]
_CC_VALUES_SQL = ", ".join("('%s','%s')" % (s, d) for s, d in _CC_EDGES)
_CC_TRIPLES = [(s, "rel%d" % (i % 3), d) for i, (s, d) in enumerate(_CC_EDGES)]
_CC_TRIPLES_SQL = ", ".join("('%s','%s','%s')" % t for t in _CC_TRIPLES)

_EN_STOP_SQL = "[" + ", ".join("'%s'" % w for w in textstats.EN_STOPWORDS) + "]"
_PUNCT_SQL = textstats.PUNCT.replace("'", "''")

# the PII regexes are the SHARED SPEC (Java-regex ∩ RE2 dialect) — the
# oracle interpolates the exact same strings kgre/pii.py compiles
_PII_EMAIL, _PII_IP, _PII_PHONE = (p for _, p, _ in pii.PII_PATTERNS)

# Materialized pyoracle goldens (tools/make_goldens.py) for the four
# non-SQL-expressible KG queries; the driver's correctness sf is 0.01
# (TESTDATA.md), which these fixtures are generated from.  The pytest
# parity gate (tests/test_parity_e2e.py) independently proves
# Spark == pyoracle, so golden SQL == live Spark output.
_GOLDEN_DIR = "/root/repo/goldens/sf0.01"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    """Exact integer cents from a 2-decimal double — engine-portable sums."""
    return F.round(F.col(col) * 100, 0).cast("long")


# ------------------------------------------------------------------ entry


def _kg_scored(spark, docs):
    """Shared flagship tail: fused documents->candidates stage (ONE
    Python crossing, r6 — equality with the two-stage pages path pinned
    by tests/test_fused.py) -> vocab sets -> scoring.  TEST mode needs
    neither the S14 sentence columns nor the vocab dense-id ranking, so
    both stay out of the plan (guide §1.2: don't compute what you throw
    away)."""
    from kgre.pipeline import documents_to_candidates
    cands = documents_to_candidates(docs, "GENE", "ONTOLOGY",
                                    synthgen.stop_entity_ids(),
                                    with_sentence=False)
    pipe = KgPipeline(spark, occur_count=2)
    scored, _, _ = pipe.run_from_candidates(
        cands, synthgen.kb_rows(), synthgen.ontology_rows(),
        emit_threshold=0.5)
    return scored


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> synthetic web pages -> extract -> parse ->
    candidates -> distant labels + logistic scoring -> emitted triples."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    return emitted_triples(_kg_scored(spark, docs))


# ------------------------------------------------------ query definitions


def _q_kg_flagship(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scored = _kg_scored(spark, docs)
    return emitted_triples(scored).select("url", "subj", "obj", "rel",
                                          "label", F.round("prob", 6).alias("prob"))


def _q_kg_candidates(spark, sf_dir):
    from kgre.pipeline import documents_to_candidates
    docs = _docs(spark, sf_dir)
    cands = documents_to_candidates(docs, "GENE", "ONTOLOGY",
                                    synthgen.stop_entity_ids(),
                                    with_sentence=False)
    return cands.select("url", "sent_id", "pair_idx", "is_reverse", "subj",
                        "obj", "dep_path_string")


def _q_vocab_topk(spark, sf_dir):
    from pyspark.sql import Window
    tok = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("word"))
    counts = tok.groupBy("word").agg(F.count("*").alias("cnt")).filter(
        F.col("cnt") >= 10)
    # map-side top-k (TakeOrderedAndProject) bounds the set to 100 rows,
    # so a plain single-partition row_number is safe at ANY corpus scale
    # and replaces the r5 two-phase rank machinery (range shuffle + eager
    # checkpoint + count job + broadcast join) with one window over the
    # driver-bounded survivor set (guide §1.2; the two-phase rank remains
    # the right tool for UNBOUNDED groups — q_dense_rank still uses it)
    top = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = top.withColumn("id",
                            (F.row_number().over(w) - 1).cast("long"))
    return ranked.orderBy("id").select("word", "cnt", "id")


def _q_dense_rank(spark, sf_dir):
    """Skew-proof two-phase dense ranking as a first-class query
    (VERDICT r2 #6): per-source word ranks by (count desc, word asc)
    with NO per-group single-task window — semantics == row_number()."""
    from kgre.vocab import two_phase_dense_ids
    tok = _docs(spark, sf_dir).select(
        "source", F.explode(F.split("text", " ")).alias("word"))
    counts = (tok.groupBy("source", "word")
              .agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 20))
    ranked = two_phase_dense_ids(
        counts, ["source"], [F.desc("cnt"), F.asc("word")], id_col="rank")
    return ranked.select("source", "word", "cnt", "rank")


def _q_entity_distribution(spark, sf_dir):
    return (_docs(spark, sf_dir).groupBy("source")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("source")))


def _q_label_join(spark, sf_dir):
    kb = spark.createDataFrame(_KB_WORDS, "word string, rel string")
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    return tok.join(F.broadcast(kb), "word").select("doc_id", "rel").distinct()


def _q_stop_anti_join(spark, sf_dir):
    # exists() short-circuits on the first stop-word hit instead of
    # materializing the filtered array and counting it (r6); zero hits
    # == NOT exists, so the kept set is identical
    toks = F.split("text", " ")
    any_hit = F.exists(toks, lambda t: t.isin(_STOP_WORDS))
    return _docs(spark, sf_dir).filter(~any_hit).select("doc_id")


def _q_fold_split(spark, sf_dir):
    fold = F.expr("ascii(substring(md5(cast(doc_id as string)), 1, 1)) % 4")
    return (_docs(spark, sf_dir).select(fold.alias("fold"))
            .groupBy("fold").agg(F.count("*").alias("n_docs")))


def _q_ontology_closure(spark, sf_dir):
    onto = spark.createDataFrame(_ONTO_EDGES, "term string, is_a string")
    return kbmod.ontology_closure_df(onto)


def _q_connected_components(spark, sf_dir):
    from kgre.canon import connected_components
    edges = spark.createDataFrame(_CC_EDGES, "src string, dst string")
    return connected_components(edges)


def _q_segment_chunking(spark, sf_dir):
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _events(spark, sf_dir).withColumn(
        "chg",
        F.when(F.lag("event_type").over(w).isNull()
               | (F.lag("event_type").over(w) != F.col("event_type")), 1)
        .otherwise(0),
    )
    return ev.groupBy("user_id").agg(F.sum("chg").alias("n_segments"))


def _q_sessionize(spark, sf_dir):
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ev = _events(spark, sf_dir).withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    return ev.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


def _q_window_tumbling(spark, sf_dir):
    # group on the truncated TIMESTAMP and render the string per GROUP,
    # not per row (guide §2.3: narrower grouping key in the exchange, and
    # the date_format run count drops from |events| to |groups|);
    # date_format is deterministic per distinct truncated ts, so the
    # result is identical.  date_trunc and date_format follow
    # spark.sql.session.timeZone, which get_spark pins to UTC: the hour
    # buckets and strings are UTC ones
    return (_events(spark, sf_dir)
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
                     "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(_cents("value")).alias("sum_value_cents"))
            .select(F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("hour"),
                    "event_type", "n_events", "sum_value_cents"))


def _q_set_ops(spark, sf_dir):
    ev = _events(spark, sf_dir)
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    errorers = ev.filter(F.col("event_type") == "error").select("user_id")
    return clickers.intersect(errorers).orderBy("user_id")


def _q_topk_users(spark, sf_dir):
    return (_events(spark, sf_dir).groupBy("user_id")
            .agg(F.sum(_cents("value")).alias("total_cents"))
            .orderBy(F.desc("total_cents"), F.asc("user_id")).limit(10))


def _q_confusion_f1(spark, sf_dir):
    pred = F.expr("ascii(substring(md5(cast(event_id as string)), 1, 1)) % 2 = 0")
    label = F.col("value") > 50.0
    ev = _events(spark, sf_dir).select(
        "event_type", label.alias("label"), pred.alias("pred"))
    agg = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("label") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("label") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("label") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    )
    return agg.withColumn(
        "f1", F.round(2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp")
                                           + F.col("fn")), 4))


def _q_json_props(spark, sf_dir):
    k = F.regexp_extract("props", "([0-9]+)", 1).cast("long")
    return (_events(spark, sf_dir).groupBy("event_type")
            .agg(F.sum(k).alias("sum_k")))


def _q_tpch_pricing(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_cents("l_quantity")).alias("sum_qty_cents"),
        F.sum(_cents("l_extendedprice")).alias("sum_price_cents"),
        F.count("*").alias("n_rows"),
    )


def _q_tpch_top_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                  0).cast("long")
    # join ORDER matters (guide §3): reduce orders by the selective
    # broadcast customer filter FIRST (~1/5 survive), project to the join
    # key, and only then touch lineitem.  The broadcast hint pins the
    # BUILD side to the keys-only bought relation (8 bytes x 5% of
    # orders ~ 1/250 of the lineitem bytes at every sf; without the hint
    # the planner's static estimates picked lineitem as build side at
    # sf0.1) — the big side is never shuffled and the groupBy aggregates
    # only matching lines.
    bought = (o.join(F.broadcast(c), o.o_custkey == F.col("c_custkey"))
              .select("o_orderkey"))
    return (li.join(F.broadcast(bought), li.l_orderkey == F.col("o_orderkey"))
            .groupBy("l_orderkey")
            .agg(F.sum(rev).alias("revenue_cents"))
            .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey")).limit(10))


def _q_broadcast_join(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name").agg(F.count("*").alias("n_suppliers")))


_ALLOW1 = ["table", "key", "row"]
_ALLOW2 = ["value", "scan", "agg"]


def _q_entity_allowlist(spark, sf_dir):
    """S5/F3: entity-id allowlist with cross-contamination rule over a
    candidates-shaped table (kgre.candidates.allowlist_filter — the
    declarative twin of the in-UDF filter)."""
    from kgre.candidates import allowlist_filter
    toks = F.split("text", " ")
    pairs = _docs(spark, sf_dir).select(
        "doc_id",
        F.slice(toks, 1, 2).alias("pair_e1_ids"),
        F.slice(toks, 3, 2).alias("pair_e2_ids"))
    return allowlist_filter(pairs, _ALLOW1, _ALLOW2).select("doc_id")


def _q_pair_generation(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    a = s.select(F.col("s_nationkey").alias("nk"), F.col("s_suppkey").alias("k1"))
    b = s.select(F.col("s_nationkey").alias("nk"), F.col("s_suppkey").alias("k2"))
    pairs = a.join(b, "nk").filter(F.col("k1") < F.col("k2"))
    return (pairs.join(F.broadcast(n), F.col("nk") == n.n_nationkey)
            .groupBy("n_name").agg(F.count("*").alias("n_pairs")))


def _q_dedup_exact(spark, sf_dir):
    # split with limit=6: the fingerprint reads only the first 5 tokens,
    # so the full-text token array is never materialized (limit 6 keeps
    # the first 5 elements identical to an unlimited split)
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " ", 6), 1, 5)))
    return (_docs(spark, sf_dir).select("doc_id", fp.alias("fp"))
            .groupBy("fp")
            .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
            .filter(F.col("n_docs") > 1))


def _q_ngram_jaccard(spark, sf_dir):
    """Production shape: MinHash-LSH candidate blocking over unigram
    shingles, exact Jaccard verified only within buckets (the skewed
    shingle self-join is q_ngram_jaccard_exact, the verify baseline)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 120)
    return dedup.minhash_near_dups(docs, threshold=0.6, n_hashes=8,
                                   bands=4, shingle_n=1, max_bucket=None)


def _q_ngram_jaccard_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 120)
    return dedup.jaccard_pairs(docs, n=1, threshold=0.6)


def _q_minhash_lsh(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return dedup.minhash_near_dups(docs, threshold=0.3, n_hashes=8, bands=4,
                                   shingle_n=3, max_bucket=None)


def _q_simhash_neardups(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return dedup.simhash_near_dups(docs, max_hamming=6, max_bucket=None)


def _q_ann_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_embs(spark, sf_dir), query_id=0, k=10)


def _q_cosine_neardup(spark, sf_dir):
    """Production shape: banded hyperplane blocking, exact cosine verified
    within buckets (no cartesian join; the all-pairs exact variant is
    q_cosine_neardup_exact, the verify baseline)."""
    return similarity.cosine_neardup_bucketed(_embs(spark, sf_dir),
                                              threshold=0.30, n_planes=8,
                                              bands=4, max_id=150)


def _q_cosine_neardup_exact(spark, sf_dir):
    return similarity.cosine_neardup_pairs(_embs(spark, sf_dir),
                                           threshold=0.30, max_id=150)


def _q_ann_lsh_topk(spark, sf_dir):
    return similarity.ann_topk(_embs(spark, sf_dir), query_id=0, k=10,
                               n_planes=6)


def _q_token_count(spark, sf_dir):
    return textstats.token_count(_docs(spark, sf_dir))


def _q_token_count_bpe(spark, sf_dir):
    return textstats.token_count_bpe(_docs(spark, sf_dir))


def _q_winnow_fingerprint(spark, sf_dir):
    """Winnowing rolling-hash fingerprints, aggregated per doc."""
    fp = textstats.winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)
    return fp.groupBy("doc_id").agg(F.count("*").alias("n_fps"),
                                    F.min("fp").alias("min_fp"))


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF with a TRAINED codebook (spherical k-means on a bounded
    deterministic sample, VERDICT r2 #7); the oracle inlines the same
    deterministic centroids as SQL literals."""
    embs = _embs(spark, sf_dir)
    cb = similarity.train_ivf_codebook(embs, n_cells=16)
    return similarity.ivf_topk(embs, query_id=0, k=10, n_cells=16,
                               n_probe=4, codebook=cb)


def _q_quality_score(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def _q_url_canonical(spark, sf_dir):
    """Web-crawl URL canonicalization (kgre/urls.py): deterministic
    messy URLs derived from doc_id (mixed-case scheme/host, default and
    explicit ports, tracking params, fragments, with/without query) →
    canonical form + origin host, all pure Catalyst (parse_url is
    JVM-side).  The oracle decomposes the same URLs with an independent
    regexp parser."""
    from kgre import urls

    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"), (d % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(d % 4 == 0, F.lit(":443"))
         .when(d % 4 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/path"), (d % 5).cast("string"),
        F.when(d % 3 == 0, F.lit("")).otherwise(F.lit("/")),
        F.when(d % 6 == 0, F.lit("")).otherwise(
            F.concat(F.lit("?utm_source=feed&b="), (d % 3).cast("string"),
                     F.lit("&a=1"))),
        F.when(d % 2 == 0, F.lit("#frag")).otherwise(F.lit("")))
    messy = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return urls.canonicalize_urls(messy).select("doc_id", "canon_url",
                                                "host")


def _q_pii_scrub(spark, sf_dir):
    """PII scrubbing (kgre/pii.py): deterministic emails / IPv4s / phone
    numbers planted from doc_id (some docs get none, some several) →
    per-class counts on the original text + the sequentially-scrubbed
    text.  Map-only, pure Catalyst; the oracle replays the same spec
    with RE2."""
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(
            F.lit(" Contact user"), (d % 50).cast("string"),
            F.lit("@mail"), (d % 7).cast("string"),
            F.lit(".example.com now."))).otherwise(F.lit("")),
        F.when(d % 4 == 1, F.concat(
            F.lit(" Server 10."), (d % 200).cast("string"),
            F.lit(".0."), (d % 9).cast("string"),
            F.lit(" up."))).otherwise(F.lit("")),
        F.when(d % 5 == 2, F.concat(
            F.lit(" Call +1 555-0"), (100 + d % 100).cast("string"),
            F.lit("."))).otherwise(F.lit("")))
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return pii.scrub_pii(docs)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (kgre/decontam.py): docs with
    doc_id % 97 == 0 form the 'benchmark'; every corpus doc with
    doc_id % 7 == 3 gets a 12-token benchmark snippet appended
    (deterministic rn = doc_id % |benchmark| mapping), then the 5-gram
    overlap detector must flag exactly the planted docs (min_hits=3
    keeps natural single-gram collisions unflagged)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    bench = docs.filter(d % 97 == 0)
    # single-partition window is fine: the benchmark side is an eval
    # suite, tiny by definition
    w = Window.orderBy("doc_id")
    snippet = F.array_join(
        F.slice(F.split(F.lower(F.col("text")), " "), 1, 12), " ")
    bench_rn = bench.select((F.row_number().over(w) - 1).alias("rn"),
                            snippet.alias("snippet"))
    nb = bench_rn.groupBy().agg(F.count("*").alias("nb"))
    corpus = (docs.filter(d % 97 != 0)
              .crossJoin(F.broadcast(nb))
              .withColumn("key", F.when(d % 7 == 3, d % F.col("nb"))
                          .otherwise(F.lit(-1)))
              .join(F.broadcast(bench_rn),
                    F.col("key") == F.col("rn"), "left")
              .select("doc_id",
                      F.concat(F.col("text"),
                               F.coalesce(
                                   F.concat(F.lit(" "), F.col("snippet")),
                                   F.lit(""))).alias("text")))
    return decontam.decontaminate(corpus, bench, n=5, min_hits=3)


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (kgre/textstats.py): docs with
    doc_id % 4 == 0 are doubled (text appended to itself), so the
    duplicate-3-gram and top-3-gram fractions must spike exactly
    there."""
    d = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(d % 4 == 0, F.concat(F.lit(" "), F.col("text")))
        .otherwise(F.lit("")))
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return textstats.repetition_stats(docs, n=3)


def _q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def _host_docs(spark, sf_dir):
    """documents + a deterministic skewed host column: ~1/13 of docs
    spread across up to 50 rare hosts, the rest concentrated on 3 big
    hosts — the heavy-tailed shape cap_per_host exists for."""
    d = F.col("doc_id")
    host = (F.when(d % 13 == 0,
                   F.concat(F.lit("rare"), (d % 50).cast("string"),
                            F.lit(".example.com")))
            .otherwise(F.concat(F.lit("big"), (d % 3).cast("string"),
                                F.lit(".example.com"))))
    return _docs(spark, sf_dir).select("doc_id", host.alias("host"),
                                       "text")


def _line_docs(spark, sf_dir):
    """documents re-laid-out as multi-line text (5-token lines); docs
    with doc_id % 4 == 1 get a planted boilerplate line occurring
    corpus-wide, which C4 line-dedup must strip from every copy."""
    d = F.col("doc_id")
    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(5.0)).cast("int")
    linetext = F.array_join(
        F.transform(F.sequence(F.lit(1), nl),
                    lambda j: F.array_join(
                        F.slice(toks, j * 5 - 4, 5), " ")),
        "\n")
    t = (F.when(d % 4 == 1,
                F.concat(linetext,
                         F.lit("\nthis line is boilerplate everywhere")))
         .otherwise(linetext))
    return _docs(spark, sf_dir).select("doc_id", t.alias("text"))


def _q_line_dedup(spark, sf_dir):
    """C4 line-level corpus dedup (kgre/lines.py): every copy of any
    line occurring >= 3 times corpus-wide is removed, docs rebuilt from
    the survivors in original line order."""
    from kgre import lines
    return lines.dedup_lines(_line_docs(spark, sf_dir), min_count=3)


def _q_token_budget(spark, sf_dir):
    """Data-mixing token quotas (kgre/sampling.py token_budget_sample):
    keep docs per source in deterministic (md5-bucket, doc_id) order
    while the running whitespace-token total stays ≤ 700.  The oracle is
    the plain one-window cumulative sum the two-phase plan must equal."""
    from kgre import sampling
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    out = sampling.token_budget_sample(docs, 700)
    return out.select("doc_id", "source")


def _q_quality_classifier(spark, sf_dir):
    """GPT-3-style quality classifier (kgre/qualityclf.py): closed-form
    token log-odds between a reference slice (doc_id % 7 < 2) and the
    rest; every doc scored by its mean token weight.  Count-ratio
    arithmetic throughout, so DuckDB reproduces exact scores."""
    from kgre import qualityclf
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = F.col("doc_id")
    weights, unseen = qualityclf.train_log_odds(
        docs.filter(d % 7 < 2), docs.filter(d % 7 >= 2))
    return qualityclf.log_odds_score(docs, weights, unseen)


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM perplexity scoring (kgre/lm.py): train a
    Laplace bigram LM on the doc_id % 3 == 0 reference slice, score
    every doc's bits-per-token.  Every probability is a ratio of
    integer counts, so DuckDB reproduces the scores exactly."""
    from kgre import lm
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bigrams, ctx, vocab = lm.train_bigram_lm(
        docs.filter(F.col("doc_id") % 3 == 0))
    return lm.bits_per_token(docs, bigrams, ctx, vocab)


def _q_host_stats(spark, sf_dir):
    """Per-host corpus stats (kgre/urls.py host_stats): one partial-agg
    groupBy, host-cardinality output."""
    from kgre import urls
    return urls.host_stats(_host_docs(spark, sf_dir))


def _q_cap_per_host(spark, sf_dir):
    """Domain balancing (kgre/urls.py cap_per_host): exactly the 10
    smallest (md5-bucket, doc_id) rows per host; big hosts rank through
    the hash-prefiltered window, rare hosts pass through join-only."""
    from kgre import urls
    out = urls.cap_per_host(
        _host_docs(spark, sf_dir).select("doc_id", "host"), k=10)
    return out.select("doc_id", "host")


def _q_cross_doc_spans(spark, sf_dir):
    """Cross-document repeated-span stats (kgre/dedup.py
    cross_doc_span_stats): docs with doc_id % 5 == 0 carry a planted
    11-token shared snippet, so exactly their in-snippet 8-gram windows
    must count as cross-doc duplicated."""
    d = F.col("doc_id")
    snippet = (" planted shared span alpha bravo charlie delta echo"
               " foxtrot golf hotel")
    t = F.concat(F.col("text"),
                 F.when(d % 5 == 0, F.lit(snippet)).otherwise(F.lit("")))
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return dedup.cross_doc_span_stats(docs, n=8, min_docs=2)


def _q_split_sample(spark, sf_dir):
    """Deterministic hash-based train/val/test split + subsample flag
    (kgre/sampling.py).  Pure md5 arithmetic on doc_id, so the oracle
    recomputes the identical assignment in DuckDB — per-row, not just
    distributionally."""
    from kgre import sampling
    docs = _docs(spark, sf_dir).select("doc_id")
    out = sampling.split_by_hash(docs, "doc_id")
    samp = (sampling.hash_frac("doc_id", "s1") < 2500).cast("int")
    return out.withColumn("sampled", samp)


def _q_multimodal_meta(spark, sf_dir):
    blobs = multimodal.blobs_from_documents(_docs(spark, sf_dir))
    return multimodal.decode_metadata(blobs)


def _q_frame_sample(spark, sf_dir):
    blobs = multimodal.blobs_from_documents(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 100))
    return multimodal.frame_sample(blobs, every_k=2)


def _q_frame_resize(spark, sf_dir):
    blobs = multimodal.blobs_from_documents(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 100))
    return multimodal.resize_frames(blobs, out_w=4, out_h=4)


def _q_frame_features(spark, sf_dir):
    blobs = multimodal.blobs_from_documents(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 60))
    return multimodal.frame_features(blobs)


def _q_triple_parity(spark, sf_dir):
    """THE BASELINE metric: precision/recall of the Spark pipeline's
    emitted triples vs the materialized single-process-oracle golden
    (tools/make_goldens.py) on the same doc subset — target P/R >= 0.95,
    the engine achieves exact equality.  Computed as a distributed
    multiset join (group both sides by the 9-decimal key, full-outer
    join, sum of per-key minima) — no driver collect, so the same query
    shape survives a 100x corpus."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    scored = _kg_scored(spark, docs)
    key = ["url", "subj", "obj", "rel", "prob_r9"]
    s = (emitted_triples(scored)
         .select("url", "subj", "obj", "rel",
                 F.round("prob", 9).alias("prob_r9"))
         .groupBy(*key).agg(F.count("*").alias("n_s")))
    o = (spark.read.parquet(_GOLDEN_DIR + "/triple_parity.parquet")
         .groupBy(*key).agg(F.count("*").alias("n_o")))
    j = s.join(o, key, "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("n_s"), F.lit(0)).cast("long").alias("n_spark"),
        F.coalesce(F.sum("n_o"), F.lit(0)).cast("long").alias("n_oracle"),
        F.coalesce(
            F.sum(F.least(F.coalesce(F.col("n_s"), F.lit(0)),
                          F.coalesce(F.col("n_o"), F.lit(0)))),
            F.lit(0)).cast("long").alias("n_both"))
    return agg.select(
        "n_spark", "n_oracle", "n_both",
        F.round(F.col("n_both") / F.col("n_spark"), 6).alias("precision"),
        F.round(F.col("n_both") / F.col("n_oracle"), 6).alias("recall"))


def _q_canonicalize(spark, sf_dir):
    """Canonicalization pass: rewrite triple endpoints through the
    connected-components map of SAME_AS-style edges (north-star)."""
    from kgre.canon import canonicalize_triples
    triples = spark.createDataFrame(
        _CC_TRIPLES, "subj string, rel string, obj string")
    same_as = spark.createDataFrame(_CC_EDGES, "src string, dst string")
    out = canonicalize_triples(triples, same_as)
    return out.select("subj", "rel", "obj", "subj_canon", "obj_canon")


def _q_lstm_scoring(spark, sf_dir):
    """M3/M5 (rows-only: recurrent forward pass isn't SQL; batch-vs-oracle
    parity is enforced in tests/test_lstm.py)."""
    from kgre import lstm
    from kgre.pipeline import documents_to_candidates
    from kgre.session import stage_checkpoint
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 60)
    cands = stage_checkpoint(documents_to_candidates(
        docs, "GENE", "ONTOLOGY", synthgen.stop_entity_ids(),
        with_sentence=False))
    # bounded distributed vocab build — no unbounded driver collect
    # (distributed count + top-N collect; VERDICT r2 #1)
    dep_vocab, word_vocab = lstm.lstm_vocab_features(cands)
    fwd, rev, key_order = KgPipeline(spark).prepare_kb(
        synthgen.kb_rows(), synthgen.ontology_rows())
    scored = lstm.score_candidates_lstm(cands, dep_vocab, word_vocab,
                                        key_order, fwd, rev)
    return scored.select("url", "sent_id", "pair_idx", "is_reverse", "rel",
                         F.round("prob", 6).alias("prob"))


def _q_clean_corpus(spark, sf_dir):
    """The clean-corpus composition (kgre/clean.py, shared with the CLI
    clean mode) as ONE oracle-checked query: exact dedup -> MinHash-LSH
    near-dup collapse via connected components -> quality + language-ID
    filters; returns the surviving doc_ids.  lang_threshold 0.02 keeps a
    non-trivial subset of the synthetic corpus (53/60 of the first docs
    clear it; see test_cli_clean_corpus_recipe)."""
    from kgre.clean import clean_documents
    # max_bucket=None: the DuckDB oracle models UNCAPPED LSH semantics,
    # so the gate compares exactly that (ADVICE r4); the capped
    # production default is exercised by the CLI clean mode + tests
    surv = clean_documents(_docs(spark, sf_dir), neardup_threshold=0.6,
                           min_quality=0.1, lang_threshold=0.02,
                           max_bucket=None)
    return surv.select("doc_id")


def _q_stream_dedup(spark, sf_dir):
    """§2.12 streaming as an oracle-checked query (VERDICT r3 #6): the
    custom stateful operator ``dedup_page_stream`` (applyInPandasWithState
    keyed by content fingerprint) runs over a two-micro-batch file source
    and must emit each fingerprint's FIRST page only, ever.

    Determinism vs the batch oracle: urls zero-pad the doc_id, so url
    order == doc_id order, and the batch split is a doc_id threshold —
    therefore the first batch containing a fingerprint also contains its
    min url, and the survivor set equals DuckDB's min(url)-per-fp
    regardless of how the files land in micro-batches.  File mtimes are
    staggered anyway so the file source replays them in order."""
    import os
    import shutil

    from kgre.streaming import dedup_page_stream, read_page_stream

    # scratch dir keyed by this driver's applicationId, not a fixed
    # path: two concurrent gate runs on the same sf must not rmtree
    # each other's live streaming checkpoint/input mid-run (ADVICE r4)
    tag = os.path.basename(sf_dir.rstrip("/"))
    app = spark.sparkContext.applicationId
    base = f"/tmp/kgre_stream_dedup_{tag}_{app}"
    in_dir, out_dir, ck = base + "/in", base + "/out", base + "/ck"
    for d in (base,):
        shutil.rmtree(d, ignore_errors=True)
    # reap stale siblings from finished runs (anything >1h old cannot be
    # a live gate run) so per-app scratch dirs don't accumulate in /tmp
    import glob
    import time as _time
    for d in glob.glob(f"/tmp/kgre_stream_dedup_{tag}_*"):
        try:
            if d != base and _time.time() - os.path.getmtime(d) > 3600:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    os.makedirs(in_dir, exist_ok=True)
    docs = _docs(spark, sf_dir)
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://docs.example/d"),
                 F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"), F.col("lang"))
    for i, part in enumerate([pages.filter(F.col("doc_id") <= mid),
                              pages.filter(F.col("doc_id") > mid)]):
        stage = f"{base}/stage{i}"
        part.drop("doc_id").coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = f"{in_dir}/b{i}.parquet"
        shutil.move(f"{stage}/{src}", dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    stream = read_page_stream(spark, in_dir, max_files_per_trigger=1)
    q = (dedup_page_stream(stream).select("fp", "url")
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("fp", "url")


def _q_entity_linking(spark, sf_dir):
    parts = _t(spark, sf_dir, "part")
    dictionary = parts.select(F.col("p_partkey").alias("entity_id"),
                              F.col("p_name").alias("alias")).distinct()
    # noisy mention surface forms: suffix token + case noise
    mentions = parts.select(
        F.col("p_partkey").alias("mention_id"),
        F.concat(F.upper("p_name"), F.lit(" item")).alias("phrase"))
    return linking.link_mentions(mentions, dictionary, threshold=0.4,
                                 max_bucket=None)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG pipeline (SURVEY.md §2.1-2.10; rows-only, non-SQL-expressible)
        "q_kg_flagship": _q_kg_flagship,
        "q_kg_candidates": _q_kg_candidates,
        "q_triple_parity": _q_triple_parity,
        # aggregations / sorts (A1, A3, O1-O3)
        "q_vocab_topk": _q_vocab_topk,
        "q_dense_rank": _q_dense_rank,
        "q_entity_distribution": _q_entity_distribution,
        "q_topk_users": _q_topk_users,
        # joins (J1, J3, J5) + filters (F1)
        "q_label_join": _q_label_join,
        "q_stop_anti_join": _q_stop_anti_join,
        "q_fold_split": _q_fold_split,
        "q_broadcast_join": _q_broadcast_join,
        "q_pair_generation": _q_pair_generation,
        "q_entity_allowlist": _q_entity_allowlist,
        # graph (S7/G4, north-star CC)
        "q_ontology_closure": _q_ontology_closure,
        "q_connected_components": _q_connected_components,
        "q_canonicalize": _q_canonicalize,
        # window / sequence (W1-family)
        "q_segment_chunking": _q_segment_chunking,
        "q_sessionize": _q_sessionize,
        "q_window_tumbling": _q_window_tumbling,
        # set ops (U1/U2)
        "q_set_ops": _q_set_ops,
        # metrics (A5)
        "q_confusion_f1": _q_confusion_f1,
        # scalar/string (X-family)
        "q_json_props": _q_json_props,
        # TPC-H-ish relational coverage
        "q_tpch_pricing": _q_tpch_pricing,
        "q_tpch_top_orders": _q_tpch_top_orders,
        # dedup suite
        "q_dedup_exact": _q_dedup_exact,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_ngram_jaccard_exact": _q_ngram_jaccard_exact,
        "q_minhash_lsh": _q_minhash_lsh,
        "q_simhash_neardups": _q_simhash_neardups,
        # similarity suite
        "q_ann_cosine_topk": _q_ann_cosine_topk,
        "q_cosine_neardup": _q_cosine_neardup,
        "q_cosine_neardup_exact": _q_cosine_neardup_exact,
        "q_ann_lsh_topk": _q_ann_lsh_topk,
        "q_ann_ivf_topk": _q_ann_ivf_topk,
        # text analysis
        "q_token_count": _q_token_count,
        "q_token_count_bpe": _q_token_count_bpe,
        "q_winnow_fingerprint": _q_winnow_fingerprint,
        "q_quality_score": _q_quality_score,
        "q_lang_id": _q_lang_id,
        "q_fingerprint": _q_fingerprint,
        "q_url_canonical": _q_url_canonical,
        "q_pii_scrub": _q_pii_scrub,
        "q_decontaminate": _q_decontaminate,
        "q_repetition": _q_repetition,
        "q_split_sample": _q_split_sample,
        "q_cross_doc_spans": _q_cross_doc_spans,
        "q_lm_perplexity": _q_lm_perplexity,
        "q_token_budget": _q_token_budget,
        "q_line_dedup": _q_line_dedup,
        "q_quality_classifier": _q_quality_classifier,
        "q_host_stats": _q_host_stats,
        "q_cap_per_host": _q_cap_per_host,
        # multimodal plumbing
        "q_multimodal_meta": _q_multimodal_meta,
        "q_frame_sample": _q_frame_sample,
        "q_frame_resize": _q_frame_resize,
        "q_frame_features": _q_frame_features,
        # entity linking (north-star)
        "q_entity_linking": _q_entity_linking,
        # streaming (§2.12): stateful cross-batch dedup
        "q_stream_dedup": _q_stream_dedup,
        # clean-corpus composition (exact dedup -> near-dup CC -> filters)
        "q_clean_corpus": _q_clean_corpus,
        # LSTM scoring path (M3/M5; rows-only, non-SQL)
        "q_lstm_scoring": _q_lstm_scoring,
    }




def _ivf_codebook_sql() -> str:
    """Centroid table for the q_ann_ivf_topk oracle — read from the
    MATERIALIZED golden (goldens/sf0.01/ivf_centroids.parquet, written
    by tools/make_goldens.py), not retrained here (VERDICT r4 #6): with
    a live retrain the oracle's codebook would move in lockstep with a
    k-means regression and the gate could never catch one.  The golden
    is regenerated only deliberately (make_goldens.py) and pinned by the
    golden-drift test; the Spark side still TRAINS its codebook live
    (kgre.similarity.train_ivf_codebook), so engine-vs-golden divergence
    fails the driver gate.  Bound to the driver's correctness-gate scale
    (sf0.01), exactly like the goldens mechanism above."""
    return (f"(SELECT cell, emb FROM "
            f"read_parquet('{_GOLDEN_DIR}/ivf_centroids.parquet')) "
            "AS t(cell, emb)")


def oracle_sql() -> dict[str, str]:
    return {
        # KG pipeline queries: oracle = materialized pyoracle golden
        # (tools/make_goldens.py; regenerate after any semantic change)
        "q_kg_flagship": f"""
            SELECT url, subj, obj, rel, label, prob
            FROM read_parquet('{_GOLDEN_DIR}/kg_flagship.parquet')
        """,
        "q_kg_candidates": f"""
            SELECT url, sent_id, pair_idx, is_reverse, subj, obj,
                   dep_path_string
            FROM read_parquet('{_GOLDEN_DIR}/kg_candidates.parquet')
        """,
        "q_lstm_scoring": f"""
            SELECT url, sent_id, pair_idx, is_reverse, rel, prob
            FROM read_parquet('{_GOLDEN_DIR}/lstm_scoring.parquet')
        """,
        # parity holds exactly, so the golden side reduces to its own
        # count with P=R=1; any Spark drift changes n_spark/n_both and
        # the value hash goes red
        "q_triple_parity": f"""
            SELECT count(*)::BIGINT AS n_spark, count(*)::BIGINT AS n_oracle,
                   count(*)::BIGINT AS n_both,
                   1.0 AS precision, 1.0 AS recall
            FROM read_parquet('{_GOLDEN_DIR}/triple_parity.parquet')
        """,
        "q_vocab_topk": """
            WITH t AS (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents),
            c AS (SELECT word, count(*) AS cnt FROM t GROUP BY word
                  HAVING count(*) >= 10)
            SELECT word, cnt,
                   row_number() OVER (ORDER BY cnt DESC, word) - 1 AS id
            FROM c ORDER BY id LIMIT 100
        """,
        "q_dense_rank": """
            WITH t AS (SELECT source,
                              unnest(string_split(text, ' ')) AS word
                       FROM documents),
            c AS (SELECT source, word, count(*) AS cnt FROM t
                  GROUP BY source, word HAVING count(*) >= 20)
            SELECT source, word, cnt,
                   (row_number() OVER (PARTITION BY source
                      ORDER BY cnt DESC, word) - 1)::INTEGER AS rank
            FROM c
        """,
        "q_entity_distribution": """
            SELECT source, count(*) AS n_docs FROM documents
            GROUP BY source ORDER BY n_docs DESC, source
        """,
        "q_label_join": f"""
            SELECT DISTINCT d.doc_id, k.rel
            FROM documents d, unnest(string_split(d.text, ' ')) AS t(word),
                 (VALUES {_KB_VALUES_SQL}) k(word, rel)
            WHERE t.word = k.word
        """,
        "q_stop_anti_join": """
            SELECT doc_id FROM documents
            WHERE len(list_filter(string_split(text, ' '),
                      x -> x IN ('spark', 'join'))) = 0
        """,
        "q_fold_split": """
            SELECT ascii(substring(md5(doc_id::VARCHAR), 1, 1)) % 4 AS fold,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "q_ontology_closure": f"""
            WITH RECURSIVE
            edges(term, anc) AS (SELECT * FROM (VALUES {_ONTO_VALUES_SQL})),
            terms(term) AS (SELECT term FROM edges UNION SELECT anc FROM edges),
            closure(term, anc) AS (
                SELECT term, term FROM terms
                UNION
                SELECT c.term, e.anc FROM closure c JOIN edges e ON c.anc = e.term
            )
            SELECT term, anc FROM closure
        """,
        "q_connected_components": f"""
            WITH RECURSIVE
            raw(s, d) AS (SELECT * FROM (VALUES {_CC_VALUES_SQL})),
            e(a, b) AS (SELECT s, d FROM raw WHERE s != d
                        UNION SELECT d, s FROM raw WHERE s != d),
            nodes(n) AS (SELECT DISTINCT a FROM e),
            reach(n, r) AS (
                SELECT n, n FROM nodes
                UNION
                SELECT reach.n, e.b FROM reach JOIN e ON reach.r = e.a
            )
            SELECT n AS node, min(r) AS component FROM reach GROUP BY n
        """,
        "q_canonicalize": f"""
            WITH RECURSIVE
            raw(s, d) AS (SELECT * FROM (VALUES {_CC_VALUES_SQL})),
            triples(subj, rel, obj) AS (
                SELECT * FROM (VALUES {_CC_TRIPLES_SQL})),
            e(a, b) AS (SELECT s, d FROM raw WHERE s != d
                        UNION SELECT d, s FROM raw WHERE s != d),
            nodes(n) AS (SELECT DISTINCT a FROM e),
            reach(n, r) AS (
                SELECT n, n FROM nodes
                UNION
                SELECT reach.n, e.b FROM reach JOIN e ON reach.r = e.a
            ),
            comp AS (SELECT n AS node, min(r) AS component
                     FROM reach GROUP BY n)
            SELECT t.subj, t.rel, t.obj,
                   coalesce(c1.component, t.subj) AS subj_canon,
                   coalesce(c2.component, t.obj) AS obj_canon
            FROM triples t
            LEFT JOIN comp c1 ON t.subj = c1.node
            LEFT JOIN comp c2 ON t.obj = c2.node
        """,
        "q_segment_chunking": """
            WITH w AS (
              SELECT user_id,
                     CASE WHEN lag(event_type) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                            IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events)
            SELECT user_id, CAST(sum(chg) AS BIGINT) AS n_segments
            FROM w GROUP BY user_id
        """,
        "q_sessionize": """
            WITH w AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                          OR epoch(ts - lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events)
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions
            FROM w GROUP BY user_id
        """,
        "q_window_tumbling": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                     AS sum_value_cents
            FROM events GROUP BY 1, 2
        """,
        "q_set_ops": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'error'
            ORDER BY user_id
        """,
        "q_topk_users": """
            SELECT user_id,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM events GROUP BY user_id
            ORDER BY total_cents DESC, user_id LIMIT 10
        """,
        "q_confusion_f1": """
            WITH e AS (
              SELECT event_type, value > 50.0 AS label,
                     ascii(substring(md5(event_id::VARCHAR), 1, 1)) % 2 = 0
                       AS pred
              FROM events),
            a AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN label AND pred THEN 1 ELSE 0 END)
                          AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN NOT label AND pred THEN 1 ELSE 0 END)
                          AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN label AND NOT pred THEN 1 ELSE 0 END)
                          AS BIGINT) AS fn
              FROM e GROUP BY event_type)
            SELECT event_type, tp, fp, fn,
                   round(2.0 * tp / (2 * tp + fp + fn), 4) AS f1
            FROM a
        """,
        "q_json_props": """
            SELECT event_type,
                   CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1)
                                 AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
        """,
        "q_tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT))
                        AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS sum_price_cents,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_tpch_top_orders": """
            SELECT l_orderkey,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100,
                                       0) AS BIGINT)) AS BIGINT)
                     AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue_cents DESC, l_orderkey LIMIT 10
        """,
        "q_broadcast_join": """
            SELECT r_name, count(*) AS n_suppliers
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q_entity_allowlist": """
            WITH p AS (SELECT doc_id,
                              string_split(text, ' ')[1:2] AS e1,
                              string_split(text, ' ')[3:4] AS e2
                       FROM documents)
            SELECT doc_id FROM p
            WHERE list_has_any(e1, ['table', 'key', 'row'])
              AND NOT list_has_any(e2, ['table', 'key', 'row'])
              AND list_has_any(e2, ['value', 'scan', 'agg'])
              AND NOT list_has_any(e1, ['value', 'scan', 'agg'])
        """,
        "q_pair_generation": """
            SELECT n_name, count(*) AS n_pairs
            FROM supplier a
            JOIN supplier b ON a.s_nationkey = b.s_nationkey
                           AND a.s_suppkey < b.s_suppkey
            JOIN nation ON a.s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q_dedup_exact": """
            WITH f AS (
              SELECT doc_id,
                     md5(array_to_string(string_split(text, ' ')[1:5], ' '))
                       AS fp
              FROM documents)
            SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM f GROUP BY fp HAVING count(*) > 1
        """,
        "q_ngram_jaccard": """
            WITH sh AS (SELECT DISTINCT doc_id,
                               unnest(string_split(text, ' ')) AS shingle
                        FROM documents WHERE doc_id < 120),
            sig AS (SELECT doc_id,
                           min(md5(shingle || '#0')) AS h0,
                           min(md5(shingle || '#1')) AS h1,
                           min(md5(shingle || '#2')) AS h2,
                           min(md5(shingle || '#3')) AS h3,
                           min(md5(shingle || '#4')) AS h4,
                           min(md5(shingle || '#5')) AS h5,
                           min(md5(shingle || '#6')) AS h6,
                           min(md5(shingle || '#7')) AS h7
                    FROM sh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, 0 AS band, h0 || '|' || h1 AS bkey FROM sig
              UNION ALL
              SELECT doc_id, 1, h2 || '|' || h3 FROM sig
              UNION ALL
              SELECT doc_id, 2, h4 || '|' || h5 FROM sig
              UNION ALL
              SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
            cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.bkey = b.bkey
                      AND a.doc_id < b.doc_id),
            sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
            i AS (SELECT c.d1, c.d2, count(*) AS inter
                  FROM cand c
                  JOIN sh a ON a.doc_id = c.d1
                  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
                  GROUP BY 1, 2)
            SELECT d1, d2,
                   round(inter * 1.0 / (s1.s + s2.s - inter), 4) AS jaccard
            FROM i JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
            WHERE round(inter * 1.0 / (s1.s + s2.s - inter), 4) >= 0.6
        """,
        "q_ngram_jaccard_exact": """
            WITH d AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
                         AS shingle
                       FROM documents WHERE doc_id < 120),
            sz AS (SELECT doc_id, count(*) AS s FROM d GROUP BY doc_id),
            i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                  FROM d a JOIN d b ON a.shingle = b.shingle
                                    AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
            SELECT d1, d2,
                   round(inter * 1.0 / (s1.s + s2.s - inter), 4) AS jaccard
            FROM i JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
            WHERE round(inter * 1.0 / (s1.s + s2.s - inter), 4) >= 0.6
        """,
        "q_minhash_lsh": """
            WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents
                          WHERE doc_id < 200 GROUP BY md5(text)),
            dd AS (SELECT d.doc_id, string_split(d.text, ' ') AS l
                   FROM documents d JOIN reps USING (doc_id)),
            idx AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM dd),
            sh AS (SELECT DISTINCT doc_id,
                          l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
                   FROM idx),
            sig AS (SELECT doc_id,
                           min(md5(shingle || '#0')) AS h0,
                           min(md5(shingle || '#1')) AS h1,
                           min(md5(shingle || '#2')) AS h2,
                           min(md5(shingle || '#3')) AS h3,
                           min(md5(shingle || '#4')) AS h4,
                           min(md5(shingle || '#5')) AS h5,
                           min(md5(shingle || '#6')) AS h6,
                           min(md5(shingle || '#7')) AS h7
                    FROM sh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, 0 AS band, h0 || '|' || h1 AS bkey FROM sig
              UNION ALL
              SELECT doc_id, 1, h2 || '|' || h3 FROM sig
              UNION ALL
              SELECT doc_id, 2, h4 || '|' || h5 FROM sig
              UNION ALL
              SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
            cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.bkey = b.bkey
                      AND a.doc_id < b.doc_id),
            sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
            i AS (SELECT c.d1, c.d2, count(*) AS inter
                  FROM cand c
                  JOIN sh a ON a.doc_id = c.d1
                  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
                  GROUP BY 1, 2)
            SELECT d1, d2,
                   round(inter * 1.0 / (s1.s + s2.s - inter), 4) AS jaccard
            FROM i JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
            WHERE round(inter * 1.0 / (s1.s + s2.s - inter), 4) >= 0.3
        """,
        "q_simhash_neardups": """
            WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents
                          WHERE doc_id < 200 GROUP BY md5(text)),
            toks AS (SELECT DISTINCT d.doc_id,
                            unnest(string_split(d.text, ' ')) AS t
                     FROM documents d JOIN reps USING (doc_id)),
            h AS (SELECT doc_id,
                         ('0x' || substring(md5(t), 1, 16))::UBIGINT AS hv
                  FROM toks),
            bits AS (SELECT doc_id, b,
                            sum(CASE WHEN (hv >> b) & 1 = 1
                                     THEN 1 ELSE -1 END) AS acc
                     FROM h, (SELECT unnest(range(0, 64)) AS b)
                     GROUP BY doc_id, b),
            fp AS (SELECT doc_id,
                          sum(CASE WHEN acc > 0
                                   THEN (1::UBIGINT << b) ELSE 0 END)
                            ::UBIGINT AS sh
                   FROM bits GROUP BY doc_id),
            bands AS (SELECT doc_id, sh, b AS band,
                             (sh >> (16 * b)) & 65535 AS key
                      FROM fp, (SELECT unnest(range(0, 4)) AS b)),
            pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                             a.sh AS h1, b.sh AS h2
                      FROM bands a
                      JOIN bands b ON a.band = b.band AND a.key = b.key
                                   AND a.doc_id < b.doc_id)
            SELECT d1, d2,
                   CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
            FROM pairs WHERE bit_count(xor(h1, h2)) <= 6
        """,
        "q_ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            s AS (SELECT vec_id,
                         list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                           / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                    embedding::DOUBLE[]))
                              * sqrt(list_dot_product(qe::DOUBLE[],
                                                      qe::DOUBLE[]))) AS sim
                  FROM embeddings, q WHERE vec_id != 0)
            SELECT vec_id, round(sim, 4) AS cos_sim
            FROM s ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "q_cosine_neardup": """
            WITH pl AS (
              SELECT p, d,
                     (('0x' || substring(md5('hp|' || p || '|' || d), 1, 12))
                        ::BIGINT / 281474976710656.0) * 2.0 - 1.0 AS w
              FROM (SELECT unnest(range(0, 8)) AS p),
                   (SELECT unnest(range(0, 64)) AS d)),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                  FROM embeddings WHERE vec_id <= 150),
            proj AS (SELECT e.vec_id, pl.p,
                            sum(e.emb[pl.d + 1] * pl.w) AS s
                     FROM e, pl GROUP BY e.vec_id, pl.p),
            bk AS (SELECT vec_id,
                          sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END)
                            AS bucket
                   FROM proj GROUP BY vec_id),
            banded AS (SELECT vec_id, b AS band,
                              (bucket >> (2 * b)) & 3 AS key
                       FROM bk, (SELECT unnest(range(0, 4)) AS b)),
            cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.key = b.key
                      AND a.vec_id < b.vec_id),
            p2 AS (SELECT c.v1, c.v2,
                          round(list_dot_product(ea.emb, eb.emb)
                                / (sqrt(list_dot_product(ea.emb, ea.emb))
                                   * sqrt(list_dot_product(eb.emb, eb.emb))),
                                4) AS cos_sim
                   FROM cand c
                   JOIN e ea ON ea.vec_id = c.v1
                   JOIN e eb ON eb.vec_id = c.v2)
            SELECT v1, v2, cos_sim FROM p2 WHERE cos_sim >= 0.30
        """,
        "q_cosine_neardup_exact": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                       FROM embeddings WHERE vec_id <= 150),
            p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
                         round(list_dot_product(a.emb, b.emb)
                               / (sqrt(list_dot_product(a.emb, a.emb))
                                  * sqrt(list_dot_product(b.emb, b.emb))), 4)
                           AS cos_sim
                  FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT v1, v2, cos_sim FROM p WHERE cos_sim >= 0.30
        """,
        "q_ann_lsh_topk": """
            WITH pl AS (
              SELECT p, d,
                     (('0x' || substring(md5('hp|' || p || '|' || d), 1, 12))
                        ::BIGINT / 281474976710656.0) * 2.0 - 1.0 AS w
              FROM (SELECT unnest(range(0, 6)) AS p),
                   (SELECT unnest(range(0, 64)) AS d)),
            proj AS (
              SELECT e.vec_id, pl.p,
                     sum(e.embedding[pl.d + 1]::DOUBLE * pl.w) AS s
              FROM embeddings e, pl
              GROUP BY e.vec_id, pl.p),
            bk AS (
              SELECT vec_id,
                     sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS bucket
              FROM proj GROUP BY vec_id),
            qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
            cand AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS emb
                     FROM embeddings e
                     JOIN bk ON e.vec_id = bk.vec_id
                     JOIN qb ON bk.bucket = qb.bucket),
            q AS (SELECT emb AS qe FROM cand WHERE vec_id = 0),
            s AS (SELECT vec_id,
                         list_dot_product(emb, qe)
                           / (sqrt(list_dot_product(emb, emb))
                              * sqrt(list_dot_product(qe, qe))) AS sim
                  FROM cand, q WHERE vec_id != 0)
            SELECT vec_id, round(sim, 4) AS cos_sim
            FROM s ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "q_token_count": """
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER)
                     AS n_tokens
            FROM documents
        """,
        "q_token_count_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]')) AS INTEGER)
                     AS n_bpe_tokens
            FROM documents
        """,
        "q_winnow_fingerprint": """
            WITH g AS (
              SELECT doc_id, i,
                     ('0x' || substring(md5(substring(text, i, 5)), 1, 12))
                       ::BIGINT AS h
              FROM documents,
                   unnest(range(1, greatest(length(text) - 4, 0) + 1))
                     AS t(i)
              WHERE length(text) >= 5),
            w AS (SELECT doc_id,
                         min(h) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                  FROM g),
            d AS (SELECT DISTINCT doc_id, fp FROM w)
            SELECT doc_id, count(*)::BIGINT AS n_fps, min(fp) AS min_fp
            FROM d GROUP BY doc_id
        """,
        "q_ann_ivf_topk": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                       FROM embeddings),
            cent AS (SELECT * FROM {_ivf_codebook_sql()}),
            q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
            probe AS (SELECT cell FROM cent, q
                      ORDER BY list_dot_product(cent.emb, q.qe)
                               / (sqrt(list_dot_product(cent.emb, cent.emb))
                                  * sqrt(list_dot_product(q.qe, q.qe))) DESC,
                               cell
                      LIMIT 4),
            asg0 AS (SELECT e.vec_id, c.cell,
                            row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.emb, c.emb)
                                / (sqrt(list_dot_product(e.emb, e.emb))
                                   * sqrt(list_dot_product(c.emb, c.emb)))
                                DESC, c.cell) AS rk
                     FROM e, cent c),
            asg AS (SELECT vec_id, cell FROM asg0 WHERE rk = 1),
            cand AS (SELECT e.vec_id, e.emb
                     FROM e JOIN asg USING (vec_id) JOIN probe USING (cell)),
            s AS (SELECT vec_id,
                         list_dot_product(emb, qe)
                           / (sqrt(list_dot_product(emb, emb))
                              * sqrt(list_dot_product(qe, qe))) AS sim
                  FROM cand, q WHERE vec_id != 0)
            SELECT vec_id, round(sim, 4) AS cos_sim
            FROM s ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "q_quality_score": f"""
            WITH b AS (
              SELECT doc_id, length(text) AS n_chars,
                     CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                     length(text)
                       - length(regexp_replace(text, '[aeiou]', '', 'g'))
                       AS vowels,
                     len(list_filter(string_split(text, ' '),
                         x -> list_contains({_EN_STOP_SQL}, x))) AS stop_hits
              FROM documents)
            SELECT doc_id, n_chars, n_tokens,
                   round(vowels / n_chars, 4) AS vowel_ratio,
                   round(stop_hits / n_tokens, 4) AS stopword_ratio,
                   round((stop_hits / n_tokens) * 0.5
                         + (vowels / n_chars) * 0.5, 4) AS quality
            FROM b
        """,
        "q_lang_id": f"""
            WITH b AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '),
                         x -> list_contains({_EN_STOP_SQL}, x)))
                       * 1.0 / len(string_split(text, ' ')) AS score
              FROM documents)
            SELECT doc_id, round(score, 4) AS en_score,
                   CASE WHEN score >= 0.08 THEN 'en' ELSE 'other' END
                     AS lang_pred
            FROM b
        """,
        "q_fingerprint": f"""
            SELECT doc_id,
                   md5(translate(lower(text), '{_PUNCT_SQL}', '')) AS fp
            FROM documents
        """,
        # independent regexp decomposition of the same deterministic
        # messy URLs the Spark side canonicalizes via parse_url
        "q_url_canonical": r"""
            WITH m AS (
              SELECT doc_id,
                'HTTPS://WWW.Site' || (doc_id % 7) || '.Example.COM' ||
                (CASE doc_id % 4 WHEN 0 THEN ':443'
                                 WHEN 1 THEN ':8080' ELSE '' END) ||
                '/path' || (doc_id % 5) ||
                (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '/' END) ||
                (CASE WHEN doc_id % 6 = 0 THEN ''
                 ELSE '?utm_source=feed&b=' || (doc_id % 3) || '&a=1'
                 END) ||
                (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END)
                  AS url
              FROM documents),
            p AS (
              SELECT doc_id,
                lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS proto,
                regexp_replace(
                  lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                  ':(80|443)$', '') AS host,
                coalesce(nullif(regexp_extract(
                  url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), ''), '/')
                  AS path,
                coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS query
              FROM m),
            q AS (
              SELECT doc_id, proto, host, path,
                coalesce(array_to_string(list_sort(list_filter(
                  string_split(query, '&'),
                  x -> x != '' AND NOT regexp_matches(
                    x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))), '&'), '')
                  AS qq
              FROM p)
            SELECT doc_id,
              proto || '://' || host || path ||
              (CASE WHEN qq = '' THEN '' ELSE '?' || qq END) AS canon_url,
              host
            FROM q
        """,
        # same planted-PII construction; counts per class on the
        # original text, replacements applied in the same spec order
        "q_pii_scrub": f"""
            WITH m AS (
              SELECT doc_id,
                text ||
                (CASE WHEN doc_id % 3 = 0
                 THEN ' Contact user' || (doc_id % 50) || '@mail' ||
                      (doc_id % 7) || '.example.com now.' ELSE '' END) ||
                (CASE WHEN doc_id % 4 = 1
                 THEN ' Server 10.' || (doc_id % 200) || '.0.' ||
                      (doc_id % 9) || ' up.' ELSE '' END) ||
                (CASE WHEN doc_id % 5 = 2
                 THEN ' Call +1 555-0' || (100 + doc_id % 100) || '.'
                 ELSE '' END) AS t
              FROM documents)
            SELECT doc_id,
              len(regexp_extract_all(t, '{_PII_EMAIL}'))::BIGINT
                AS n_email,
              len(regexp_extract_all(t, '{_PII_IP}'))::BIGINT AS n_ip,
              len(regexp_extract_all(t, '{_PII_PHONE}'))::BIGINT
                AS n_phone,
              regexp_replace(regexp_replace(regexp_replace(t,
                '{_PII_EMAIL}', '<EMAIL>', 'g'),
                '{_PII_IP}', '<IP>', 'g'),
                '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text
            FROM m
        """,
        # docs with doc_id % 4 == 0 doubled -> dup/top 3-gram fractions
        # spike exactly there
        "q_repetition": """
            WITH m AS (
              SELECT doc_id,
                text || (CASE WHEN doc_id % 4 = 0 THEN ' ' || text
                         ELSE '' END) AS text
              FROM documents),
            t AS (SELECT doc_id, list_filter(
                    string_split(lower(text), ' '), x -> x != '') AS toks
                  FROM m),
            g AS (SELECT doc_id,
                    ('0x' || substring(md5(
                       array_to_string(toks[i:i+2], ' ')), 1, 12))::BIGINT
                      AS h
                  FROM t, unnest(range(1, greatest(len(toks) - 2, 0) + 1))
                    AS u(i)
                  WHERE len(toks) >= 3),
            c AS (SELECT doc_id, h, count(*) AS cnt FROM g GROUP BY 1, 2)
            SELECT doc_id,
                   sum(cnt)::BIGINT AS n_grams,
                   count(*)::BIGINT AS n_distinct,
                   round(1 - count(*) / sum(cnt), 4) AS dup_frac,
                   round(max(cnt) / sum(cnt), 4) AS top_frac
            FROM c GROUP BY doc_id
        """,
        # token log-odds: ref slice doc_id%7<2 vs rest; w(t) =
        # ln((cr+1)/(nr+v)) - ln((cb+1)/(nb+v)); unseen-both constant
        "q_quality_classifier": """
            WITH ts AS (
              SELECT doc_id, doc_id % 7 < 2 AS is_ref, t.x AS t
              FROM documents,
                unnest(list_filter(string_split(lower(text), ' '),
                                   x -> x != '')) AS t(x)),
            rc AS (SELECT t, count(*) AS cr FROM ts WHERE is_ref
                   GROUP BY t),
            bc AS (SELECT t, count(*) AS cb FROM ts WHERE NOT is_ref
                   GROUP BY t),
            j AS (SELECT coalesce(rc.t, bc.t) AS t,
                         coalesce(cr, 0) AS cr, coalesce(cb, 0) AS cb
                  FROM rc FULL OUTER JOIN bc ON rc.t = bc.t),
            s AS (SELECT sum(cr) AS nr, sum(cb) AS nb, count(*) AS v
                  FROM j),
            w AS (SELECT t,
                    ln((cr + 1.0) / (nr + v))
                      - ln((cb + 1.0) / (nb + v)) AS w
                  FROM j CROSS JOIN s),
            sc AS (SELECT ts.doc_id,
                     coalesce(w.w, ln((s.nb + s.v) * 1.0
                                      / (s.nr + s.v))) AS w
                   FROM ts LEFT JOIN w USING (t) CROSS JOIN s)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(w), 4) AS quality_lr
            FROM sc GROUP BY doc_id
        """,
        # 5-token lines; doc_id%4==1 docs carry a planted boilerplate
        # line; every copy of any line occurring >=3x is removed
        "q_line_dedup": """
            WITH m AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 1
                     THEN lt || chr(10)
                          || 'this line is boilerplate everywhere'
                     ELSE lt END AS text
              FROM (
                SELECT doc_id,
                  array_to_string(list_transform(
                    range(1, cast(ceil(len(toks) / 5.0) AS INT) + 1),
                    j -> array_to_string(toks[(j*5-4):(j*5)], ' ')),
                    chr(10)) AS lt
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents))),
            ml AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                   FROM m),
            l AS (SELECT doc_id, i AS line_no, ls[i] AS line
                  FROM ml, unnest(range(1, len(ls) + 1)) AS u(i)),
            hot AS (SELECT line FROM l GROUP BY line
                    HAVING count(*) >= 3),
            k AS (SELECT * FROM l
                  WHERE line NOT IN (SELECT line FROM hot))
            SELECT m.doc_id,
                   coalesce(string_agg(k.line, chr(10)
                                       ORDER BY k.line_no), '') AS text
            FROM m LEFT JOIN k USING (doc_id) GROUP BY m.doc_id
        """,
        # greedy per-source take in (md5-bucket, doc_id) order while the
        # inclusive running token total stays <= 700
        "q_token_budget": """
            WITH t AS (
              SELECT doc_id, source,
                len(string_split(text, ' ')) AS nt,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                  % 10000 AS bk
              FROM documents),
            c AS (SELECT doc_id, source,
                    sum(nt) OVER (PARTITION BY source ORDER BY bk, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
                  FROM t)
            SELECT doc_id, source FROM c WHERE cum <= 700
        """,
        # Laplace bigram LM trained on the doc_id%3==0 slice;
        # P(w|prev) = (c+1)/(cp+V); bits = -avg(ln p)/ln 2
        "q_lm_perplexity": """
            WITH tr AS (
              SELECT doc_id, list_filter(
                string_split(lower(text), ' '), x -> x != '') AS toks
              FROM documents WHERE doc_id % 3 = 0),
            trb AS (SELECT toks[i] AS prev, toks[i+1] AS w
                    FROM tr, unnest(range(1, greatest(len(toks) - 1, 0) + 1))
                      AS u(i)
                    WHERE len(toks) >= 2),
            bc AS (SELECT prev, w, count(*) AS c FROM trb GROUP BY 1, 2),
            cc AS (SELECT prev, count(*) AS cp FROM trb GROUP BY 1),
            v AS (SELECT count(DISTINCT x) AS vs
                  FROM (SELECT unnest(toks) AS x FROM tr)),
            sc AS (
              SELECT doc_id, list_filter(
                string_split(lower(text), ' '), x -> x != '') AS toks
              FROM documents),
            sp AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS w
                   FROM sc, unnest(range(1, greatest(len(toks) - 1, 0) + 1))
                     AS u(i)
                   WHERE len(toks) >= 2),
            j AS (SELECT sp.doc_id,
                    ln((coalesce(bc.c, 0) + 1.0)
                       / (coalesce(cc.cp, 0) + v.vs)) AS lp
                  FROM sp LEFT JOIN bc USING (prev, w)
                          LEFT JOIN cc USING (prev)
                          CROSS JOIN v)
            SELECT doc_id, count(*) AS n_terms,
                   round(-avg(lp) / ln(2), 4) AS bits
            FROM j GROUP BY doc_id
        """,
        # docs with doc_id%5==0 carry a planted 11-token shared snippet;
        # 8-gram windows appearing in >=2 distinct docs count as dup
        "q_cross_doc_spans": """
            WITH m AS (
              SELECT doc_id,
                text || (CASE WHEN doc_id % 5 = 0
                         THEN ' planted shared span alpha bravo charlie'
                              || ' delta echo foxtrot golf hotel'
                         ELSE '' END) AS text
              FROM documents),
            t AS (SELECT doc_id, list_filter(
                    string_split(lower(text), ' '), x -> x != '') AS toks
                  FROM m),
            g AS (SELECT doc_id,
                    ('0x' || substring(md5(
                       array_to_string(toks[i:i+7], ' ')), 1, 12))::BIGINT
                      AS h
                  FROM t, unnest(range(1, greatest(len(toks) - 7, 0) + 1))
                    AS u(i)
                  WHERE len(toks) >= 8),
            pg AS (SELECT doc_id, h, count(*) AS cnt FROM g GROUP BY 1, 2),
            dg AS (SELECT h, count(*) AS nd FROM pg GROUP BY h)
            SELECT pg.doc_id,
                   sum(cnt)::BIGINT AS n_windows,
                   sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END)::BIGINT
                     AS n_dup_windows,
                   round(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END)
                         / sum(cnt), 4) AS dup_frac
            FROM pg JOIN dg USING (h) GROUP BY pg.doc_id
        """,
        # host = rare<doc_id%50> when doc_id%13==0 else big<doc_id%3>
        "q_host_stats": """
            WITH u AS (
              SELECT doc_id,
                CASE WHEN doc_id % 13 = 0
                     THEN 'rare' || (doc_id % 50)::VARCHAR || '.example.com'
                     ELSE 'big' || (doc_id % 3)::VARCHAR || '.example.com'
                END AS host, text
              FROM documents)
            SELECT host, count(*) AS n_docs,
                   sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
                   sum(length(text))::BIGINT AS total_chars,
                   round(avg(length(text)), 4) AS mean_chars
            FROM u GROUP BY host
        """,
        # keep the 10 smallest (md5-bucket, doc_id) per host
        "q_cap_per_host": """
            WITH u AS (
              SELECT doc_id,
                CASE WHEN doc_id % 13 = 0
                     THEN 'rare' || (doc_id % 50)::VARCHAR || '.example.com'
                     ELSE 'big' || (doc_id % 3)::VARCHAR || '.example.com'
                END AS host
              FROM documents),
            b AS (SELECT doc_id, host,
                    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                      % 10000 AS bk
                  FROM u),
            r AS (SELECT doc_id, host, row_number() OVER
                    (PARTITION BY host ORDER BY bk, doc_id) AS rn
                  FROM b)
            SELECT doc_id, host FROM r WHERE rn <= 10
        """,
        # split: md5(doc_id) -> bucket in [0,10000); 90/5/5 cutoffs;
        # sample: independent salt 's1', rate 0.25 -> bucket < 2500
        "q_split_sample": """
            WITH b AS (
              SELECT doc_id,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                  % 10000 AS f,
                ('0x' || substr(md5(doc_id::VARCHAR || 's1'), 1, 8))::BIGINT
                  % 10000 AS fs
              FROM documents)
            SELECT doc_id,
                   CASE WHEN f < 9000 THEN 'train'
                        WHEN f < 9500 THEN 'val'
                        ELSE 'test' END AS split,
                   CASE WHEN fs < 2500 THEN 1 ELSE 0 END AS sampled
            FROM b
        """,
        # benchmark = doc_id % 97 == 0; corpus docs with doc_id % 7 == 3
        # carry a planted 12-token benchmark snippet; 5-gram md5-hash
        # overlap, min_hits = 3
        "q_decontaminate": """
            WITH b AS (SELECT doc_id, text FROM documents
                       WHERE doc_id % 97 = 0),
            brn AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn,
                           array_to_string(
                             string_split(lower(text), ' ')[1:12], ' ')
                             AS snippet
                    FROM b),
            c AS (SELECT d.doc_id,
                         d.text || coalesce(' ' || s.snippet, '') AS text
                  FROM (SELECT doc_id, text,
                          CASE WHEN doc_id % 7 = 3
                          THEN doc_id % (SELECT count(*) FROM brn)
                          ELSE -1 END AS key
                        FROM documents WHERE doc_id % 97 != 0) d
                  LEFT JOIN brn s ON d.key = s.rn),
            ct AS (SELECT doc_id, list_filter(
                     string_split(lower(text), ' '), x -> x != '') AS toks
                   FROM c),
            cg AS (SELECT DISTINCT doc_id,
                     ('0x' || substring(md5(
                        array_to_string(toks[i:i+4], ' ')), 1, 12))::BIGINT
                       AS h
                   FROM ct, unnest(range(1, greatest(len(toks) - 4, 0) + 1))
                     AS u(i)
                   WHERE len(toks) >= 5),
            bt AS (SELECT doc_id, list_filter(
                     string_split(lower(text), ' '), x -> x != '') AS toks
                   FROM b),
            bg AS (SELECT DISTINCT
                     ('0x' || substring(md5(
                        array_to_string(toks[i:i+4], ' ')), 1, 12))::BIGINT
                       AS h
                   FROM bt, unnest(range(1, greatest(len(toks) - 4, 0) + 1))
                     AS u(i)
                   WHERE len(toks) >= 5)
            SELECT cg.doc_id,
                   count(*)::BIGINT AS n_grams,
                   sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_hits,
                   round(sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END)
                         / count(*), 4) AS contamination,
                   sum(CASE WHEN bg.h IS NOT NULL THEN 1 ELSE 0 END) >= 3
                     AS contaminated
            FROM cg LEFT JOIN bg USING (h)
            GROUP BY cg.doc_id
        """,
        # the full clean-corpus composition: exact reps -> 3-shingle
        # minhash banding -> verified jaccard pairs -> recursive CC
        # (zero-padded ids: lexicographic min == numeric min) -> quality
        # + language filters, each sub-expression identical to its
        # standalone oracle (q_minhash_lsh / q_connected_components /
        # q_quality_score / q_lang_id)
        "q_clean_corpus": f"""
            WITH RECURSIVE
            reps AS (SELECT min(doc_id) AS doc_id FROM documents
                     GROUP BY md5(text)),
            d AS (SELECT d0.doc_id, d0.text FROM documents d0
                  JOIN reps USING (doc_id)),
            dd AS (SELECT doc_id, string_split(text, ' ') AS l FROM d),
            idx AS (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
                    FROM dd),
            sh AS (SELECT DISTINCT doc_id,
                          l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
                   FROM idx),
            sig AS (SELECT doc_id,
                           min(md5(shingle || '#0')) AS h0,
                           min(md5(shingle || '#1')) AS h1,
                           min(md5(shingle || '#2')) AS h2,
                           min(md5(shingle || '#3')) AS h3,
                           min(md5(shingle || '#4')) AS h4,
                           min(md5(shingle || '#5')) AS h5,
                           min(md5(shingle || '#6')) AS h6,
                           min(md5(shingle || '#7')) AS h7
                    FROM sh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, 0 AS band, h0 || '|' || h1 AS bkey FROM sig
              UNION ALL
              SELECT doc_id, 1, h2 || '|' || h3 FROM sig
              UNION ALL
              SELECT doc_id, 2, h4 || '|' || h5 FROM sig
              UNION ALL
              SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
            cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.bkey = b.bkey
                      AND a.doc_id < b.doc_id),
            sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
            i AS (SELECT c.d1, c.d2, count(*) AS inter
                  FROM cand c
                  JOIN sh a ON a.doc_id = c.d1
                  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
                  GROUP BY 1, 2),
            pairs AS (SELECT d1, d2
                      FROM i JOIN sz s1 ON d1 = s1.doc_id
                             JOIN sz s2 ON d2 = s2.doc_id
                      WHERE round(inter * 1.0 / (s1.s + s2.s - inter), 4)
                            >= 0.6),
            -- order-preserving signed-64 encoding (bias by 2^63, pad to
            -- 20): mirrors kgre/clean.py _encode_id so lexicographic min
            -- == numeric min for hash-derived / negative doc_ids too
            e(a, b) AS (
              SELECT lpad((d1::HUGEINT + 9223372036854775808)::VARCHAR,
                          20, '0'),
                     lpad((d2::HUGEINT + 9223372036854775808)::VARCHAR,
                          20, '0')
              FROM pairs
              UNION
              SELECT lpad((d2::HUGEINT + 9223372036854775808)::VARCHAR,
                          20, '0'),
                     lpad((d1::HUGEINT + 9223372036854775808)::VARCHAR,
                          20, '0')
              FROM pairs),
            nodes(n) AS (SELECT DISTINCT a FROM e),
            reach(n, r) AS (
                SELECT n, n FROM nodes
                UNION
                SELECT reach.n, e.b FROM reach JOIN e ON reach.r = e.a),
            comp AS (SELECT n, min(r) AS c FROM reach GROUP BY n),
            dropped AS (SELECT (n::HUGEINT - 9223372036854775808)::BIGINT
                          AS doc_id FROM comp WHERE n != c),
            d2 AS (SELECT doc_id, text FROM d
                   WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
            q AS (SELECT doc_id,
                         round((len(list_filter(string_split(text, ' '),
                                 x -> list_contains({_EN_STOP_SQL}, x)))
                                / len(string_split(text, ' '))) * 0.5
                               + ((length(text)
                                   - length(regexp_replace(text, '[aeiou]',
                                                           '', 'g')))
                                  / length(text)) * 0.5, 4) AS quality,
                         len(list_filter(string_split(text, ' '),
                             x -> list_contains({_EN_STOP_SQL}, x)))
                           * 1.0 / len(string_split(text, ' ')) AS score
                  FROM d2)
            SELECT doc_id FROM q WHERE quality >= 0.1 AND score >= 0.02
        """,
        # first-occurrence-per-fingerprint: what the stateful stream must
        # converge to regardless of micro-batch boundaries (see
        # _q_stream_dedup's determinism note)
        "q_stream_dedup": f"""
            WITH p AS (
              SELECT 'https://docs.example/d' || lpad(doc_id::VARCHAR, 8, '0')
                       AS url,
                     md5(translate(lower(text), '{_PUNCT_SQL}', '')) AS fp
              FROM documents)
            SELECT fp, min(url) AS url FROM p GROUP BY fp
        """,
        "q_frame_sample": """
            WITH v AS (
              SELECT doc_id,
                     8 + doc_id % 16 AS w,
                     8 + (doc_id // 3) % 16 AS h,
                     1 + doc_id % 5 AS nf
              FROM documents
              WHERE doc_id < 100 AND doc_id % 3 = 2),
            fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f
                   FROM v),
            sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
            px AS (SELECT doc_id, f,
                          (doc_id * 131 + (f * w * h + i) * 17) % 256 AS val
                   FROM sampled, unnest(range(0, w * h)) AS t(i))
            SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
                   round(avg(val), 4) AS mean_intensity
            FROM px GROUP BY doc_id, f
        """,
        "q_frame_resize": """
            WITH v AS (
              SELECT doc_id,
                     8 + doc_id % 16 AS w,
                     8 + (doc_id // 3) % 16 AS h,
                     1 + doc_id % 5 AS nf
              FROM documents
              WHERE doc_id < 100 AND doc_id % 3 = 2),
            fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f
                   FROM v),
            px AS (SELECT doc_id, f,
                          (doc_id * 131
                           + (f * w * h + ((yy * h) // 4) * w
                              + ((xx * w) // 4)) * 17) % 256 AS val
                   FROM fr, unnest(range(0, 4)) AS a(yy),
                        unnest(range(0, 4)) AS b(xx))
            SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
                   round(avg(val), 4) AS out_mean
            FROM px GROUP BY doc_id, f
        """,
        "q_frame_features": """
            WITH v AS (
              SELECT doc_id,
                     8 + doc_id % 16 AS w,
                     8 + (doc_id // 3) % 16 AS h,
                     CASE WHEN doc_id % 3 = 0 THEN 1
                          ELSE 1 + doc_id % 5 END AS nf
              FROM documents WHERE doc_id < 60),
            fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f
                   FROM v),
            px AS (SELECT doc_id, f, w * h AS sz,
                          (doc_id * 131 + (f * w * h + i) * 17) % 256 AS val
                   FROM fr, unnest(range(0, w * h)) AS t(i))
            SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
                   CAST(sz AS INTEGER) AS n_px,
                   round(sum(val) * 1.0 / sz, 4) AS mean_px,
                   round(sum(val * val) * 1.0 / sz
                         - (sum(val) * 1.0 / sz) * (sum(val) * 1.0 / sz), 4)
                     AS var_px,
                   CAST(min(val) AS INTEGER) AS min_px,
                   CAST(max(val) AS INTEGER) AS max_px
            FROM px GROUP BY doc_id, f, sz
        """,
        "q_entity_linking": """
            WITH m0 AS (SELECT p_partkey AS mid,
                               lower(regexp_replace(upper(p_name) || ' item',
                                     '[^a-zA-Z0-9]', '', 'g')) AS p
                        FROM part),
            d0 AS (SELECT p_partkey AS eid,
                          lower(regexp_replace(p_name,
                                '[^a-zA-Z0-9]', '', 'g')) AS p
                   FROM part),
            msh AS (SELECT DISTINCT mid, substring(p, i, 3) AS shingle
                    FROM m0, unnest(range(1, length(p) - 1)) AS t(i)
                    WHERE length(p) >= 3),
            dsh AS (SELECT DISTINCT eid, substring(p, i, 3) AS shingle
                    FROM d0, unnest(range(1, length(p) - 1)) AS t(i)
                    WHERE length(p) >= 3),
            msig AS (SELECT mid,
                            min(md5(shingle || '#0')) AS h0,
                            min(md5(shingle || '#1')) AS h1,
                            min(md5(shingle || '#2')) AS h2,
                            min(md5(shingle || '#3')) AS h3,
                            min(md5(shingle || '#4')) AS h4,
                            min(md5(shingle || '#5')) AS h5
                     FROM msh GROUP BY mid),
            dsig AS (SELECT eid,
                            min(md5(shingle || '#0')) AS h0,
                            min(md5(shingle || '#1')) AS h1,
                            min(md5(shingle || '#2')) AS h2,
                            min(md5(shingle || '#3')) AS h3,
                            min(md5(shingle || '#4')) AS h4,
                            min(md5(shingle || '#5')) AS h5
                     FROM dsh GROUP BY eid),
            mb AS (SELECT mid, 0 AS band, h0 || '|' || h1 AS key FROM msig
                   UNION ALL SELECT mid, 1, h2 || '|' || h3 FROM msig
                   UNION ALL SELECT mid, 2, h4 || '|' || h5 FROM msig),
            db AS (SELECT eid, 0 AS band, h0 || '|' || h1 AS key FROM dsig
                   UNION ALL SELECT eid, 1, h2 || '|' || h3 FROM dsig
                   UNION ALL SELECT eid, 2, h4 || '|' || h5 FROM dsig),
            cand AS (SELECT DISTINCT mid, eid
                     FROM mb JOIN db USING (band, key)),
            msz AS (SELECT mid, count(*) AS m_sz FROM msh GROUP BY mid),
            dsz AS (SELECT eid, count(*) AS d_sz FROM dsh GROUP BY eid),
            i AS (SELECT c.mid, c.eid, count(*) AS inter
                  FROM cand c
                  JOIN msh a ON a.mid = c.mid
                  JOIN dsh b ON b.eid = c.eid AND b.shingle = a.shingle
                  GROUP BY c.mid, c.eid),
            sc AS (SELECT i.mid, i.eid,
                          round(i.inter * 1.0
                                / (msz.m_sz + dsz.d_sz - i.inter), 4)
                            AS jaccard
                   FROM i JOIN msz USING (mid) JOIN dsz USING (eid)),
            best AS (SELECT mid, eid, jaccard,
                            row_number() OVER (PARTITION BY mid
                                ORDER BY jaccard DESC, eid) AS rk
                     FROM sc WHERE jaccard >= 0.4)
            SELECT mid AS mention_id, eid AS entity_id, jaccard
            FROM best WHERE rk = 1
        """,
        "q_multimodal_meta": """
            SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   CAST(8 + doc_id % 16 AS INTEGER) AS width,
                   CAST(8 + (doc_id // 3) % 16 AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                             ELSE 1 + doc_id % 5 END AS INTEGER) AS n_frames,
                   CAST(16 + (8 + doc_id % 16) * (8 + (doc_id // 3) % 16)
                        * (CASE WHEN doc_id % 3 = 0 THEN 1
                                ELSE 1 + doc_id % 5 END) AS BIGINT) AS n_bytes,
                   TRUE AS valid
            FROM documents
        """,
    }
