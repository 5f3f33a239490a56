"""Distant-supervision KB: ontology-closure expansion and the label join.

Reference: S3/S4/S7 + J1/J2 (load_data.py:399-434, :487-516, :796-826,
:275-286).  The KB is definitionally broadcast-sized (the reference holds
it in driver RAM as Python sets), so the hot scoring path consumes it as a
broadcast variable inside the Arrow UDF — a map-side broadcast hash join
with zero shuffle.  This module also provides the equivalent declarative
DataFrame join (``label_join``) used by the oracle-checked queries and
available when the KB outgrows broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgre.session import stage_checkpoint

KB_SCHEMA = "rel string, e1 string, e2 string, rel_text string"
ONTOLOGY_SCHEMA = "term string, is_a string"

_MAX_CLOSURE_ITERS = 64


def kb_df(spark: SparkSession, kb_rows_list) -> DataFrame:
    return spark.createDataFrame(
        [(r["rel"], r["e1"], r["e2"], r["rel_text"]) for r in kb_rows_list],
        schema=KB_SCHEMA,
    )


def ontology_df(spark: SparkSession, onto_rows) -> DataFrame:
    return spark.createDataFrame(
        [(r["term"], r["is_a"]) for r in onto_rows], schema=ONTOLOGY_SCHEMA
    )


def ontology_closure_df(onto: DataFrame) -> DataFrame:
    """Transitive closure of is_a edges -> (term, anc), including the
    reflexive row (term, term) — reference closure includes the term itself
    (load_data.py:796-800).  Iterative join to fixpoint with an iteration
    cap as the cycle guard the reference lacks (SURVEY.md S7 note).

    The ontology is dictionary-sized; each step broadcasts the edge set,
    so the loop is cheap and driver-bounded."""
    edges = onto.select(F.col("term"), F.col("is_a").alias("anc")).distinct()
    terms = (
        onto.select("term")
        .union(onto.select(F.col("is_a").alias("term")))
        .distinct()
    )
    closure = terms.select(F.col("term"), F.col("term").alias("anc")).union(edges)
    closure = stage_checkpoint(closure.distinct())
    prev_count = closure.count()
    for _ in range(_MAX_CLOSURE_ITERS):
        step = (
            closure.alias("c")
            .join(F.broadcast(edges.alias("e")), F.col("c.anc") == F.col("e.term"))
            .select(F.col("c.term"), F.col("e.anc"))
        )
        nxt = stage_checkpoint(closure.union(step).distinct())
        n = nxt.count()
        closure = nxt
        if n == prev_count:
            break
        prev_count = n
    return closure


def expand_kb(kb: DataFrame, closure: DataFrame) -> DataFrame:
    """Endpoint ontology-closure expansion (J2, load_data.py:419-427) via
    two broadcast left joins; rows whose relation text ends with 'by' are
    reverse-set rows (load_data.py:428-431)."""
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
    """Expanded KB -> ({rel: fwd set}, {rel: rev set}) for broadcast.
    Both dicts carry every relation key (reference initializes both,
    load_data.py:498-514)."""
    fwd: dict[str, set] = {}
    rev: dict[str, set] = {}
    for row in expanded.collect():
        fwd.setdefault(row["rel"], set())
        rev.setdefault(row["rel"], set())
        (rev if row["is_reverse"] else fwd)[row["rel"]].add((row["e1"], row["e2"]))
    return fwd, rev


def label_join(candidates: DataFrame, expanded_kb: DataFrame) -> DataFrame:
    """Declarative J1: distant labels via explode x explode -> broadcast
    inner join -> per-candidate per-relation aggregation.  Returns one row
    per (candidate key, rel) that matched, with fwd_hit / rev_hit flags.

    Plan shape at scale: the exploded candidate side streams map-side into
    a BroadcastHashJoin (KB is MBs); the groupBy shuffles only matched
    rows, keyed by candidate id — skew on hot entities is handled by AQE
    skew-join when the KB ever outgrows broadcast."""
    exploded = candidates.select(
        "url", "sent_id", "pair_idx",
        F.explode("pair_e1_ids").alias("pe1"), "pair_e2_ids",
    ).select(
        "url", "sent_id", "pair_idx", "pe1",
        F.explode("pair_e2_ids").alias("pe2"),
    )
    joined = exploded.join(
        F.broadcast(expanded_kb),
        (exploded.pe1 == expanded_kb.e1) & (exploded.pe2 == expanded_kb.e2),
    )
    return joined.groupBy("url", "sent_id", "pair_idx", "rel").agg(
        F.max(F.when(~F.col("is_reverse"), 1).otherwise(0)).alias("fwd_hit"),
        F.max(F.when(F.col("is_reverse"), 1).otherwise(0)).alias("rev_hit"),
    )


def load_id_list(path: str, column: int = 0, sep: str = "\t") -> set:
    """S5 id-list scan (load_data.py:436-453): one TSV column -> entity-id
    set.  Dictionary-sized like the reference's lists, so it is read
    driver-side and shipped to the fused candidate stage in the closure
    (pages_to_candidates(allow1=...)) — a map-side semi+anti join."""
    ids = set()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            ids.add(line.split(sep)[column])
    return ids


# ------------------------------------------------------- driver-side prep
# The KB and ontology are definitionally dictionary-sized (the reference
# holds them in driver RAM as Python sets, load_data.py:399-434); preparing
# them must not spend Spark jobs. The DataFrame twins above remain for the
# declarative/oracle-checked path and for KBs that outgrow the driver.


def ontology_closure_dict(onto_rows) -> dict[str, set]:
    """load_data.py:796-826 with a cycle guard added (SURVEY.md S7 note)."""
    parents: dict[str, set] = {}
    for r in onto_rows:
        parents.setdefault(r["term"], set()).add(r["is_a"])
        parents.setdefault(r["is_a"], set())
    closure: dict[str, set] = {}
    for term in parents:
        path, stack = set(), [term]
        while stack:
            t = stack.pop()
            if t in path:
                continue
            path.add(t)
            stack.extend(parents.get(t, ()))
        closure[term] = path
    return closure


def load_kb_sets(kb_rows_list, closure: dict[str, set]):
    """load_data.py:399-434,487-516 — per-relation forward/reverse tuple
    sets; endpoint ontology-closure expansion; rel_text endswith 'by' ->
    reverse set."""
    import itertools

    fwd: dict[str, set] = {}
    rev: dict[str, set] = {}
    for r in kb_rows_list:
        fwd.setdefault(r["rel"], set())
        rev.setdefault(r["rel"], set())
        ea = closure.get(r["e1"], {r["e1"]}) | {r["e1"]}
        eb = closure.get(r["e2"], {r["e2"]}) | {r["e2"]}
        for tup in itertools.product(ea, eb):
            if r["rel_text"].endswith("by"):
                rev[r["rel"]].add(tup)
            else:
                fwd[r["rel"]].add(tup)
    return fwd, rev
