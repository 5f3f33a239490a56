"""Deterministic synthetic corpus / KB / ontology generator.

The reference ships no test data or goldens (SURVEY.md §5.1); fixtures are
generated here, seeded, with no wall clock and no external data
(FIXTURES.md).  Page i is a pure function of (seed, i), so the corpus can
be generated distributed on executors (``spark.range(n).mapInPandas``) —
at bench scale nothing large ever materializes on the driver.

Tables produced
  pages(url, warc_ts, html, text, lang)       — BASELINE.json input_hint
  kb(rel, e1, e2, rel_text)                   — distant KB (reference: TSV
      dirs, load_data.py:399-434,487-516; rel = filename, SYMMETRIC prefix)
  ontology(term, is_a)                        — acyclic is_a DAG
      (reference: go-basic.obo, load_data.py:803-826)
  stop_entities(entity_id)                    — reference static_data/stop_list.txt
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from kgre.util import h48

# ---------------------------------------------------------------- constants

N_GENES = 40
N_GO = 30
HOT_GENE = 1  # appears in ~20% of gene mentions -> skew for salting tests

_FILLER = (
    "the a of and to in on with for is was binds regulates protein cell "
    "pathway level signal response growth factor receptor complex expression "
    "activity during between under over study result analysis data model "
    "region domain site role function target effect increase decrease"
).split()

_TS_BASE = datetime(2024, 1, 1, 0, 0, 0)

HTML_TEMPLATE = (
    '<html><head><title>{title}</title><meta charset="utf-8"/></head>'
    '<body><nav><a href="/">home</a> <a href="/about">about</a></nav>'
    "<article><p>{text}</p></article>"
    "<footer>crawl-footer {footer}</footer></body></html>"
)


def _pick_gene(rng: random.Random) -> int:
    if rng.random() < 0.20:
        return HOT_GENE
    return rng.randint(1, N_GENES)


def _pick_go(rng: random.Random) -> int:
    return rng.randint(1, N_GO)


def _gen_sentence(rng: random.Random) -> str:
    n_words = rng.randint(6, 24)
    words = [_FILLER[rng.randrange(len(_FILLER))] for _ in range(n_words)]
    # inject 0..4 entity mentions at random positions
    n_ents = rng.randint(0, 4)
    for _ in range(n_ents):
        pos = rng.randrange(len(words) + 1)
        roll = rng.random()
        if roll < 0.45:
            words.insert(pos, "GENE%d" % _pick_gene(rng))
        elif roll < 0.55:
            # multi-token mention: consecutive tokens with identical
            # norm_ner merge into one mention (sentence_structure.py:96-102)
            g = _pick_gene(rng)
            words.insert(pos, "GENE%d" % g)
            words.insert(pos + 1, "GENE%d" % g)
        elif roll < 0.65:
            words.insert(pos, "VGENE%d" % _pick_gene(rng))  # pipe-valued NER
        else:
            words.insert(pos, "GO%d" % _pick_go(rng))
    return " ".join(words)


def gen_page(i: int, seed: str = "v1") -> dict:
    """Pure function (seed, i) -> one pages row."""
    rng = random.Random(h48("page|%s|%d" % (seed, i)))
    n_sents = rng.randint(2, 7)
    text = ". ".join(_gen_sentence(rng) for _ in range(n_sents)) + "."
    lang = "en" if rng.random() >= 0.05 else "de"
    url = "https://host%d.example/p%d" % (i % 97, i)
    return {
        "url": url,
        "warc_ts": _TS_BASE + timedelta(seconds=(i * 37) % 31536000),
        "html": HTML_TEMPLATE.format(title="page %d" % i, text=text, footer=i).encode(
            "utf-8"
        ),
        "text": text,
        "lang": lang,
    }


def gen_pages_rows(n_pages: int) -> list[dict]:
    return [gen_page(i) for i in range(n_pages)]


# ------------------------------------------------------------------- Spark

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_df(spark, n_pages: int):
    """Distributed page generation: executors each build their id-range."""
    import pandas as pd

    partitions = max(2, min(64, n_pages // 256 or 2))

    def gen(batches):
        for pdf in batches:
            rows = [gen_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(0, n_pages, 1, partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


# ------------------------------------------------------- KB / ontology / stop

REL_ACTIVATES = "activates.txt"
REL_INHIBITED_BY = "inhibited_by.txt"
REL_SYM_BINDS = "SYMMETRICbinds.txt"


def ontology_rows() -> list[dict]:
    """Acyclic is_a DAG over GO terms: parent index always < child index,
    multi-parent chains included (FIXTURES.md §4)."""
    rows = []
    for k in range(2, N_GO + 1):
        rng = random.Random(h48("onto|%d" % k))
        parents = {rng.randint(1, k - 1)}
        if rng.random() < 0.3 and k > 3:
            parents.add(rng.randint(1, k - 1))
        for p in sorted(parents):
            if p != k:
                rows.append({"term": "GO:%07d" % k, "is_a": "GO:%07d" % p})
    return rows


def kb_rows() -> list[dict]:
    """Distant-supervision KB. rel = source filename (reference keys KBs by
    filename, load_data.py:505,513); rows whose relation text endswith 'by'
    land in the reverse set (load_data.py:428-431)."""
    rows = []
    rng = random.Random(h48("kb|v1"))
    # directional gene->GO 'activates'
    for _ in range(140):
        g = "G%05d" % rng.randint(1, N_GENES)
        o = "GO:%07d" % rng.randint(1, N_GO)
        rows.append({"rel": REL_ACTIVATES, "e1": g, "e2": o, "rel_text": "activates"})
    # directional, reverse-marked: 'inhibited by'
    for _ in range(120):
        g = "G%05d" % rng.randint(1, N_GENES)
        o = "GO:%07d" % rng.randint(1, N_GO)
        rows.append(
            {"rel": REL_INHIBITED_BY, "e1": g, "e2": o, "rel_text": "inhibited by"}
        )
    # symmetric gene-gene 'binds'
    for _ in range(150):
        a = "G%05d" % rng.randint(1, N_GENES)
        b = "G%05d" % rng.randint(1, N_GENES)
        if a != b:
            rows.append({"rel": REL_SYM_BINDS, "e1": a, "e2": b, "rel_text": "binds"})
    # a handful of virus-gene rows so pipe-split ids can match
    for _ in range(30):
        v = "V%05d" % rng.randint(1, N_GENES)
        o = "GO:%07d" % rng.randint(1, N_GO)
        rows.append({"rel": REL_ACTIVATES, "e1": v, "e2": o, "rel_text": "activates"})
    return rows


def stop_entity_ids() -> list[str]:
    """Entity ids excluded from candidate pairs (reference stop_list.txt,
    load_data.py:873-880; filter at load_data.py:177-178)."""
    return ["G%05d" % 13, "G%05d" % 21, "GO:%07d" % 5]
