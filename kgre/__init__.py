"""kgre — PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the semantics of kiblawi/RelationExtraction
(reference at /root/reference, cited per-module as file:line) as an
idiomatic Spark DataFrame DAG over Common-Crawl-style web-page tables:

    pages(url, warc_ts, html, text, lang)
      -> extract  (html -> text, byte-identical, SHA manifest)
      -> parse    (sentence split + deterministic token/NER/dep stub)
      -> candidates (mention chunking, pair gen, shortest-dep-path features)
      -> score    (distant labels + logistic forward, broadcast weights)
      -> triples  (subj, pred, obj, prob) partitioned sink
      -> linking / canonicalization (minhash blocking, connected components)

All per-row logic runs in Arrow-batched pandas UDFs (no per-row Python
on the driver path); every join against dictionary-sized state is a
broadcast; heavy stages repartition on url-hash for even work units.

Alongside the KG path sits a pure-Catalyst training-data-pipeline layer
(dedup, similarity/ANN, textstats, urls, pii, decontam, sampling, lm,
lines, clean) — the corpus-hygiene operators a web-scale crawl needs
before construction, composed end-to-end by the `clean` CLI mode.

Importing kgre inside a PySpark worker (any kgre UDF's closure does) runs
`pyworker.install()`, so later tasks skip re-reading unchanged zip archives.
"""

from kgre import pyworker

__version__ = "0.1.0"

pyworker.install()
