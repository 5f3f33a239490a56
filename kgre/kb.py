"""Distant-supervision KB: ontology closure and the expanded KB sets.

Reference: S3/S4/S7 + J1/J2 (load_data.py:399-434, :487-516, :796-826,
:275-286).  The KB is definitionally broadcast-sized (the reference holds
it in driver RAM as Python sets), so the hot scoring path consumes it as a
broadcast variable inside the Arrow UDF — a map-side broadcast hash join
with zero shuffle.  The one DataFrame operator here is the ontology
closure (``ontology_closure_df``) that ``q_ontology_closure`` runs; the
scoring path prepares the KB driver-side (``ontology_closure_dict`` ->
``load_kb_sets``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre.session import stage_checkpoint

_MAX_CLOSURE_ITERS = 64


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


def load_id_list(path: str) -> set:
    """S5 id-list scan (load_data.py:436-453): the first TSV column ->
    entity-id set.  Dictionary-sized like the reference's lists, so it is read
    driver-side and shipped to the fused candidate stage in the closure
    (pages_to_candidates(allow1=...)) — a map-side semi+anti join."""
    ids = set()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            ids.add(line.split("\t")[0])
    return ids


# ------------------------------------------------------- driver-side prep
# The KB and ontology are definitionally dictionary-sized (the reference
# holds them in driver RAM as Python sets, load_data.py:399-434); preparing
# them must not spend Spark jobs.


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
