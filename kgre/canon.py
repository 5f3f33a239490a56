"""Connected-components canonicalization (north-star extension: GraphFrames-
style label propagation before materializing triples; no reference
counterpart, SURVEY.md §7.4).

Algorithm: iterative min-label propagation with POINTER JUMPING —
    label(v) <- min(label(v), min over neighbors u of label(u))
    label(v) <- label(label(v))          # path-halving jump
expressed as DataFrame joins/aggregations, driver loop with a stage
checkpoint every iteration to cut lineage (SURVEY.md §7.4.4; the flavor
follows ``spark.kgre.reliableCheckpoint``, see ``session.stage_checkpoint``).
Plain neighbor-min converges in O(diameter) rounds (a 10^6-node chain at
corpus scale would need 10^6 shuffles); the jump composes the label map
with itself each round, so convergence is O(log diameter) — the same
asymptotics as large-star/small-star (Kiveris et al., MR-CC) with one
extra equi-join per round.

Skew (north_rule: "salted repartitioning for skewed hot entities"): a hub
node with millions of edges makes ``groupBy(node)`` a hot key.  The
aggregation is min(), so it runs in TWO phases: groupBy((node, salt)) for
the partial min, then groupBy(node) over <=N_SALTS rows per node — the
classic salted two-phase reduction.  (AQE also splits skewed joins at
runtime; salting covers the aggregation side.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgre.session import stage_checkpoint

MAX_ITERS = 50      # rounds; O(log diameter) of them are ever needed
N_SALTS = 8         # partial-min groups per node


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src string, dst string) -> (node string, component string)
    where component = lexicographic min node id in the component.  Each
    round runs one action (the changed-count)."""
    sym = stage_checkpoint(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    labels = stage_checkpoint(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(MAX_ITERS):
        nbr_label = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), F.col("component"))
        # salted two-phase min: partial min per (node, salt), then final
        salted = nbr_label.withColumn(
            "salt", F.pmod(F.xxhash64("component"), F.lit(N_SALTS))
        )
        partial = salted.groupBy("node", "salt").agg(
            F.min("component").alias("component")
        )
        nbr_min = partial.groupBy("node").agg(
            F.min("component").alias("nbr_component")
        )
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer jump: component <- label(component).  Every label IS a
        # node id present in `stepped`, so the self-join composes the map
        # with itself and halves remaining chain lengths each round.
        jump = stepped.select(F.col("node").alias("pj_node"),
                              F.col("component").alias("pj_comp"))
        final_comp = F.coalesce(F.col("pj_comp"), F.col("component"))
        # ONE action per round: the `changed` flag rides along in the same
        # pass (old label threaded through the join), the checkpoint is
        # lazy, and the count below materializes it — no separate
        # convergence join+count job
        new_labels = stage_checkpoint(
            stepped.join(jump, stepped.component == F.col("pj_node"), "left")
            .select(
                "node",
                final_comp.alias("component"),
                (final_comp != F.col("old_component")).alias("changed"),
            ),
            eager=False,
        )
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    return labels


def canonicalize_triples(triples: DataFrame, same_as: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the component map built from SAME_AS-style
    equivalence edges; entities outside any component map to themselves.
    The component maps grow with the SAME_AS nodes, so the joins carry no
    broadcast hint: AQE broadcasts them when they are small and
    shuffle-joins them when they are not."""
    comp = connected_components(same_as)
    c1 = comp.withColumnRenamed("node", "subj").withColumnRenamed(
        "component", "subj_canon")
    c2 = comp.withColumnRenamed("node", "obj").withColumnRenamed(
        "component", "obj_canon")
    return (
        triples.join(c1, "subj", "left")
        .join(c2, "obj", "left")
        .withColumn("subj_canon", F.coalesce("subj_canon", "subj"))
        .withColumn("obj_canon", F.coalesce("obj_canon", "obj"))
    )
