"""Spark-side KB operators vs the oracle: DataFrame ontology closure and
the declarative label join (J1/J2) against the transliterated set logic."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from kgre import kb as kbmod
from kgre import pyoracle, synthgen
from kgre.candidates import candidates_from_sentences
from kgre.parse import parse_sentences


def test_closure_df_matches_python(spark):
    onto_rows = synthgen.ontology_rows()
    want = pyoracle.ontology_closure(onto_rows)
    got_df = kbmod.ontology_closure_df(kbmod.ontology_df(spark, onto_rows))
    got: dict[str, set] = {}
    for r in got_df.collect():
        got.setdefault(r["term"], set()).add(r["anc"])
    assert got == want


def test_expanded_kb_matches_python(spark):
    onto_rows = synthgen.ontology_rows()
    kb_rows = synthgen.kb_rows()
    closure = pyoracle.ontology_closure(onto_rows)
    want_fwd, want_rev = pyoracle.load_kb(kb_rows, closure)
    expanded = kbmod.expand_kb(
        kbmod.kb_df(spark, kb_rows),
        kbmod.ontology_closure_df(kbmod.ontology_df(spark, onto_rows)),
    )
    got_fwd, got_rev = kbmod.collect_kb_sets(expanded)
    assert got_fwd == want_fwd
    assert got_rev == want_rev


def test_label_join_dataframe_matches_set_logic(spark):
    """The declarative J1 (explode x explode -> broadcast join -> agg)
    agrees with the reference's set-membership per candidate."""
    pages = synthgen.gen_pages_rows(40)
    kb_rows = synthgen.kb_rows()
    onto_rows = synthgen.ontology_rows()
    closure = pyoracle.ontology_closure(onto_rows)
    fwd_kb, rev_kb = pyoracle.load_kb(kb_rows, closure)

    pages_df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        schema=synthgen.PAGES_SCHEMA,
    )
    sents = parse_sentences(pages_df.select("url", "text", "lang"))
    cands = candidates_from_sentences(sents, "GENE", "ONTOLOGY",
                                      synthgen.stop_entity_ids()).filter(
        ~F.col("is_reverse"))
    expanded = kbmod.expand_kb(
        kbmod.kb_df(spark, kb_rows),
        kbmod.ontology_closure_df(kbmod.ontology_df(spark, onto_rows)),
    )
    hits = {
        (r["url"], r["sent_id"], r["pair_idx"], r["rel"]):
            (r["fwd_hit"], r["rev_hit"])
        for r in kbmod.label_join(cands, expanded).collect()
    }
    checked = 0
    for c in cands.collect():
        combos = set(itertools.product(c["pair_e1_ids"], c["pair_e2_ids"]))
        for rel in sorted(fwd_kb):
            want_f = int(bool(combos & fwd_kb[rel]))
            want_r = int(bool(combos & rev_kb[rel]))
            got_f, got_r = hits.get(
                (c["url"], c["sent_id"], c["pair_idx"], rel), (0, 0))
            assert (got_f, got_r) == (want_f, want_r)
            checked += 1
    assert checked > 100


def test_parse_sentences_roundtrip(spark):
    """parse stage output equals the shared deterministic convention."""
    from kgre import nlp
    pages = synthgen.gen_pages_rows(10)
    pages_df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        schema=synthgen.PAGES_SCHEMA,
    )
    rows = parse_sentences(pages_df).collect()
    by_key = {(r["url"], r["sent_id"]): r for r in rows}
    n_sent = 0
    for p in pages:
        if p["lang"] != "en":
            continue
        for s in nlp.parse_text(p["text"]):
            r = by_key[(p["url"], s["sent_id"])]
            assert [t.asDict() for t in r["tokens"]] == s["tokens"]
            assert [d.asDict() for d in r["deps"]] == s["deps"]
            n_sent += 1
    assert n_sent == len(rows) > 0
    # pages whose html has no article body extract to "": a batch of
    # only such rows parses to zero sentences and must still convert
    ts = pages[0]["warc_ts"]
    empty_df = spark.createDataFrame(
        [("https://empty.example/%d" % i, ts, b"", "", "en")
         for i in range(2)],
        schema=synthgen.PAGES_SCHEMA,
    ).coalesce(1)
    assert parse_sentences(empty_df).collect() == []


def test_label_join_hub_entity_partition_balance(spark):
    """VERDICT r4 #7 (SURVEY 4.2 hot-entity skew): one hub GO term in
    100k candidate pairs.  The J1 join is broadcast (map-side, no
    shuffle on the entity key), and the downstream aggregation groups by
    the CANDIDATE key — high-cardinality even when every pair shares one
    entity — so the hub must spread evenly across the exchange instead
    of landing in one straggler partition."""
    from pyspark.sql import functions as F

    from kgre.kb import label_join

    n = 100_000
    cands = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit(0).alias("sent_id"), F.lit(0).alias("pair_idx"),
        F.array(F.lit("HUB")).alias("pair_e1_ids"),
        F.array(F.concat(F.lit("G"), (F.col("id") % 50).cast("string")))
        .alias("pair_e2_ids"))
    kb = spark.createDataFrame(
        [("HUB", "G%d" % i, "activates", False) for i in range(50)],
        "e1 string, e2 string, rel string, is_reverse boolean")
    # AQE's small-data coalesce would legitimately fold this fixture into
    # one partition and hide the distribution; probe the raw hash layout
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        out = label_join(cands, kb)
        sizes = [r["n"] for r in
                 out.withColumn("p", F.spark_partition_id())
                 .groupBy("p").agg(F.count("*").alias("n")).collect()]
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    assert sum(sizes) == n                       # every pair labeled once
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(sizes) == n_parts                 # hub spread over ALL parts
    assert max(sizes) <= 2 * (n / n_parts)       # no straggler partition
    # and the labels themselves are right
    row = out.filter("url = 'u7'").collect()
    assert [(r["rel"], r["fwd_hit"], r["rev_hit"]) for r in row] \
        == [("activates", 1, 0)]
