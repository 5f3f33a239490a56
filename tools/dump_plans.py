"""Dump .explain('formatted') for declared queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt under the checkout this script is
in, for each query (default: the bench.py headline set + data-ops set).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from kgre.session import get_spark  # noqa: E402

DEFAULT = [
    "q_kg_flagship", "q_kg_candidates", "q_vocab_topk", "q_label_join",
    "q_sessionize", "q_window_tumbling", "q_tpch_pricing",
    "q_tpch_top_orders", "q_dedup_exact", "q_ann_cosine_topk",
    "q_token_count", "q_fingerprint",
    "q_url_canonical", "q_pii_scrub", "q_decontaminate", "q_repetition",
    "q_split_sample", "q_host_stats", "q_cap_per_host",
    "q_cross_doc_spans", "q_lm_perplexity", "q_token_budget",
    "q_line_dedup", "q_quality_classifier",
]


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("kgre-plans", master="local[8]", shuffle_partitions=32)
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
