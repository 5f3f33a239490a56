"""Candidate-instance generation: mention chunking, entity-pair generation,
shortest-dependency-path feature construction.

Spark analog of W1/W3/W4 + J3 + G1/G2/G3 + F1/F4 (SURVEY.md §2): 1
sentence -> N candidate rows.  All graph work is sentence-local (graphs
are <= ~100 nodes), so it lives inside the Arrow UDF — no shuffle, no
distributed graph (SURVEY.md §2.9).

``sentence_stage`` is the ONE per-text Python stage every ingest path
runs (pages, documents, CoreNLP XML, sentence rows): one ``mapInPandas``
whose callers plug in a sentence source and an emitter
(``candidate_emitter`` here; mentions and sentence rows elsewhere).

This is an independent implementation of the reference semantics
(sentence_structure.py:86-152, instances.py:4-163), verified against the
transliterated oracle (kgre/pyoracle.py) in tests/.  Noteworthy exact-parity
rules:
  * consecutive tokens with string-equal ``norm_ner`` merge into one
    mention; pipe-split NER registers a token under every type
  * pair endpoints: if max(m1) > max(m2) use (m1.first, m2.last) else
    (m1.last, m2.first); the SDP endpoint is the mention's most-connected
    token, first-max-wins, iteration forward for one side and reversed for
    the other (sentence_structure.py:113-149)
  * dependency matrix: forward cell overwritten unconditionally, reverse
    '-'+type only fills empty cells, in edge order
  * unweighted Dijkstra with lowest-index tie-break == BFS where a node's
    parent is its lowest-index neighbor in the previous level
  * masking: GENE/ONTOLOGY/ner-string overrides, START_ENTITY/END_ENTITY
    at path ends, interior word path = word_path[1:-1]
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

ROOT_TOKEN = {"id": 0, "word": "ROOT", "lemma": "ROOT", "pos": None,
              "ner": None, "norm_ner": None}

CANDIDATES_SCHEMA = (
    "url string, sent_id int, pair_idx int, is_reverse boolean, "
    "gene_to_gene boolean, subj string, obj string, "
    "pair_e1_ids array<string>, pair_e2_ids array<string>, "
    "dep_path_string string, sdp_types array<string>, "
    "sdp_words array<string>, sdp_elements array<string>, "
    "between_words array<string>, "
    # S14 rich-predict support: the sentence text plus the per-instance
    # endpoint token ids (1-based) let the predict sink rebuild the
    # ***entity***-highlighted sentence without re-parsing
    "sent_text string, start_tok int, end_tok int"
)

# TEST-mode variant (r6): everything the vocab builder, the scorer and
# the LSTM path read — the S14 sentence columns (the widest ones) never
# cross the Arrow boundary when no predict sink consumes them
SLIM_CANDIDATES_SCHEMA = CANDIDATES_SCHEMA.replace(
    ", sent_text string, start_tok int, end_tok int", "")


# ----------------------------------------------------------- sentence-local


def _chunk_mentions(tokens):
    """ner_key -> list of mention token-id lists."""
    ents: dict[str, list[list[int]]] = {}
    prev_norm = None
    for t in tokens:
        norm = t["norm_ner"]
        for ner in t["ner"].split("|"):
            lst = ents.setdefault(ner, [])
            if norm is None:
                lst.append([t["id"]])
            elif norm == prev_norm and lst:
                lst[-1].append(t["id"])
            else:
                lst.append([t["id"]])
        prev_norm = norm
    return ents


def _adjacency(deps, n_tokens):
    """(cells, neighbors): directional type cells with the reference's
    fill-order overwrite rule, and sorted undirected neighbor lists."""
    cells: dict[tuple[int, int], str] = {}
    for e in deps:
        g, d, t = e["gov"], e["dep"], e["type"]
        cells[(g, d)] = t
        if (d, g) not in cells:
            cells[(d, g)] = "-" + t
    nbrs: dict[int, list[int]] = {}
    seen: dict[int, set] = {}
    for (a, b) in cells:
        seen.setdefault(a, set()).add(b)
    for a, s in seen.items():
        nbrs[a] = sorted(s)
    return cells, nbrs


def _dep_index(mention, nbrs, reverse: bool) -> int:
    """Most-connected token, first max wins in iteration order."""
    it = reversed(mention) if reverse else mention
    best, best_deg = -1, -1
    for tok in it:
        deg = len(nbrs.get(tok, ()))
        if deg > best_deg:
            best_deg, best = deg, tok
    return best


def _bfs_path(nbrs, source: int, target: int) -> list[int]:
    """Shortest path with parent = lowest-index neighbor in the previous
    BFS level (provably equal to the reference Dijkstra's
    ``distance.index(min(distance))`` tie-break with unit weights)."""
    if source == target:
        return []
    parent: dict[int, int] = {}
    seen = {source}
    frontier = [source]
    while frontier and target not in parent:
        nxt: dict[int, int] = {}
        for u in sorted(frontier):
            for v in nbrs.get(u, ()):
                if v not in seen and v not in nxt:
                    nxt[v] = u
        seen.update(nxt)
        parent.update(nxt)
        frontier = list(nxt)
    if target not in parent:
        return []
    path = [target]
    while path[-1] != source:
        path.append(parent[path[-1]])
    path.reverse()
    return path


def _mask(tok) -> str:
    if tok["norm_ner"] is not None:
        ner = tok["ner"]
        if "GENE" in ner:
            return "GENE"
        if "ONTOLOGY" in ner:
            return "ONTOLOGY"
        return ner
    return tok["lemma"]


def _instance_features(masks, cells, nbrs, start, end, between):
    """SDP features for one directed instance (start/end are
    (between_idx, dep_idx) pairs).  ``between`` is computed once per pair
    by the caller — it is direction-independent (min/max of the same two
    indices, instances.py:150-163).  ``masks`` is the per-sentence
    {token_id: masked word} dict (each token's mask is queried once per
    path visit across many pairs, so it is precomputed per sentence)."""
    path = _bfs_path(nbrs, start[1], end[1])
    type_path, word_path, elements = [], [], []
    for i in range(len(path) - 1):
        a, b = path[i], path[i + 1]
        dep_type = cells.get((a, b), "")
        sw = "START_ENTITY" if i == 0 else masks[a]
        ew = "END_ENTITY" if i + 1 == len(path) - 1 else masks[b]
        elements.append(sw + dep_type + ew)
        if sw != "":
            word_path.append(sw)
        type_path.append(dep_type)
    return {
        "dep_path_string": " ".join(type_path),
        "sdp_types": type_path,
        "sdp_words": word_path[1:-1],
        "sdp_elements": elements,
        "between_words": between,
    }


def allowlist_keep(e1_ids, e2_ids, allow1, allow2) -> bool:
    """S5/F3 entity-id allowlist with the cross-contamination rule
    (load_data.py:553-567): when a list is given, the matching side must
    intersect it AND the opposite side must NOT (a pair where e2 also
    matches list1 is contaminated and dropped).  Either list may be None
    (filter disabled for that side)."""
    if allow1 is not None:
        if not (e1_ids & allow1):
            return False
        if e2_ids & allow1:
            return False
    if allow2 is not None:
        if not (e2_ids & allow2):
            return False
        if e1_ids & allow2:
            return False
    return True


def sentence_candidates(url, sent_id, tokens, deps, entity_a, entity_b, stop,
                        allow1=None, allow2=None, sent_text=None):
    """One parsed sentence -> candidate instance rows (forward + reverse;
    reverse rows carry gene_to_gene so the scorer can drop non-gene-gene
    reverse instances while the vocab builder keeps them,
    load_data.py:201-212).

    ``allow1``/``allow2``: optional entity-id allowlists (S5 id-list scan,
    load_data.py:436-453) applied per pair with the contamination rule
    (F3, load_data.py:553-567).  Like the stop filter, a dropped pair
    still consumes its pair_idx."""
    if len(tokens) and not isinstance(tokens[0], dict):
        tokens = [dict(t) for t in tokens]  # Arrow struct rows -> dicts
    if sent_text is None:
        # tokenize() splits on whitespace, so the joined words ARE the
        # (whitespace-normalized) sentence text
        sent_text = " ".join(t["word"] for t in tokens)
    ents = _chunk_mentions(tokens)
    t1 = sorted(k for k in ents if entity_a in k)
    t2 = sorted(k for k in ents if entity_b in k)
    if not t1 or not t2:
        return []
    cells, nbrs = _adjacency(deps, len(tokens))
    by_id = {t["id"]: t for t in tokens}
    by_id[0] = ROOT_TOKEN
    masks = {i: _mask(t) for i, t in by_id.items()}
    rows = []
    pair_idx = 0
    for za in t1:
        for zb in t2:
            for m1 in ents[za]:
                for m2 in ents[zb]:
                    if m1 == m2:
                        continue
                    if max(m1) > max(m2):
                        p0 = (m1[0], _dep_index(m1, nbrs, False))
                        p1 = (m2[-1], _dep_index(m2, nbrs, True))
                    else:
                        p0 = (m1[-1], _dep_index(m1, nbrs, True))
                        p1 = (m2[0], _dep_index(m2, nbrs, False))
                    tok1, tok2 = by_id[p0[0]], by_id[p1[0]]
                    e1_ids = tok1["norm_ner"].split("|")
                    e2_ids = tok2["norm_ner"].split("|")
                    e1_set, e2_set = set(e1_ids), set(e2_ids)
                    if stop & e1_set or stop & e2_set:
                        pair_idx += 1
                        continue
                    if not allowlist_keep(e1_set, e2_set, allow1, allow2):
                        pair_idx += 1
                        continue
                    g2g = "GENE" in tok1["ner"] and "GENE" in tok2["ner"]
                    lo, hi = min(p0[0], p1[0]), max(p0[0], p1[0])
                    between = [masks[i] for i in range(lo + 1, hi)]
                    for is_rev, (s, e) in ((False, (p0, p1)), (True, (p1, p0))):
                        feats = _instance_features(masks, cells, nbrs, s, e,
                                                   between)
                        rows.append(
                            {
                                "url": url,
                                "sent_id": sent_id,
                                "pair_idx": pair_idx,
                                "is_reverse": is_rev,
                                "gene_to_gene": g2g,
                                "subj": by_id[s[0]]["norm_ner"],
                                "obj": by_id[e[0]]["norm_ner"],
                                "pair_e1_ids": e1_ids,
                                "pair_e2_ids": e2_ids,
                                "sent_text": sent_text,
                                "start_tok": s[0],
                                "end_tok": e[0],
                                **feats,
                            }
                        )
                    pair_idx += 1
    return rows


def sentence_mention_rows(url, tokens, entity_a, entity_b):
    """Mention-level EVAL_DATA rows (S15/X5, load_data.py:843-871): for a
    sentence kept by load_xml (both entity types present by SUBSTRING
    match), count each mention under the EXACT NER key ``entity_a`` as
    ``norm_ner(first token) + '|' + '_'.join(lemmas)``; ``entity_b``
    mentions are counted only when the exact ``entity_a`` key is present
    (the reference nests the second loop, load_data.py:861-868)."""
    if len(tokens) and not isinstance(tokens[0], dict):
        tokens = [dict(t) for t in tokens]
    ents = _chunk_mentions(tokens)
    if not any(entity_a in k for k in ents) or not any(entity_b in k for k in ents):
        return []
    by_id = {t["id"]: t for t in tokens}
    rows = []
    if entity_a in ents:
        for side, key in (("e1", entity_a), ("e2", entity_b)):
            if key not in ents:
                continue
            for m in ents[key]:
                phrase = "_".join(by_id[i]["lemma"] for i in m)
                norm = by_id[m[0]]["norm_ner"] or ""
                rows.append({"url": url, "side": side,
                             "entity_key": norm + "|" + phrase})
    return rows


# ------------------------------------------------------------------- Spark

_COLS = [
    "url", "sent_id", "pair_idx", "is_reverse", "gene_to_gene", "subj",
    "obj", "pair_e1_ids", "pair_e2_ids", "dep_path_string", "sdp_types",
    "sdp_words", "sdp_elements", "between_words", "sent_text", "start_tok",
    "end_tok",
]


def allowlist_filter(cands: DataFrame, allow1=None, allow2=None) -> DataFrame:
    """Declarative twin of ``allowlist_keep`` over a candidates DataFrame
    (F3 as Catalyst expressions — ``arrays_overlap`` against literal
    arrays, no shuffle, no Python).  Used when the allowlist arrives after
    the candidates table is materialized; the in-UDF path in
    ``sentence_candidates`` is equivalent and cheaper when known up front."""
    from pyspark.sql import functions as F

    keep = F.lit(True)
    # an empty (non-None) allowlist keeps nothing on its side — matching
    # allowlist_keep — and F.array() with zero elements is untyped, so
    # short-circuit instead of building a literal array
    if allow1 is not None:
        if not allow1:
            keep = F.lit(False)
        else:
            lit1 = F.array(*[F.lit(x) for x in sorted(allow1)])
            keep = (keep & F.arrays_overlap("pair_e1_ids", lit1)
                    & ~F.arrays_overlap("pair_e2_ids", lit1))
    if allow2 is not None:
        if not allow2:
            keep = F.lit(False)
        else:
            lit2 = F.array(*[F.lit(x) for x in sorted(allow2)])
            keep = (keep & F.arrays_overlap("pair_e2_ids", lit2)
                    & ~F.arrays_overlap("pair_e1_ids", lit2))
    return cands.filter(keep)


SLIM_COLS = [c for c in _COLS
             if c not in ("sent_text", "start_tok", "end_tok")]


def rows_to_pdf(rows, cols=None) -> pd.DataFrame:
    """list-of-dict rows -> pandas frame, built COLUMNAR (dict of
    lists). pd.DataFrame(list_of_dicts) re-infers per row and is the
    slowest constructor — this is the hot Arrow boundary.  ``cols`` names
    the output columns: candidate rows by default, SLIM_COLS for
    consumers that never read the S14 sentence columns, or another
    stage's row shape (sentences, mentions)."""
    cols = _COLS if cols is None else cols
    if not rows:
        # empty columns MUST be object-dtype: a bare [] infers float64,
        # which Arrow cannot convert to list<string> fields
        return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols})


def sentence_stage(slim: DataFrame, sentences, emit,
                   schema: str = CANDIDATES_SCHEMA, cols=None) -> DataFrame:
    """The one per-text Python stage: a single ``mapInPandas`` over the
    already-projected (and lang-filtered) ``slim`` frame.  Every input
    row goes through ``sentences(*row)``, which yields ``(url, sentence)``
    pairs; every sentence through ``emit(url, sentence)``, which returns
    row dicts; each batch's rows leave as one ``rows_to_pdf(rows, cols)``
    frame.  Callers own only their projection, their sentence source
    (html extract+parse, document text, CoreNLP XML, ready-made sentence
    rows) and their emitter (candidates, mentions, sentence rows)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                for url, sentence in sentences(*row):
                    rows.extend(emit(url, sentence))
            yield rows_to_pdf(rows, cols)

    return slim.mapInPandas(run, schema=schema)


def candidate_emitter(entity_a: str, entity_b: str, stop_ids,
                      allow1=None, allow2=None):
    """``emit`` for ``sentence_stage``: one parsed sentence -> its candidate
    rows.  The stop list and the optional S5/F3 allowlists are frozen once
    here; they are tiny and ship inside the serialized closure (map-side
    anti/semi joins)."""
    stop = frozenset(stop_ids)
    a1 = frozenset(allow1) if allow1 is not None else None
    a2 = frozenset(allow2) if allow2 is not None else None

    def emit(url, s):
        return sentence_candidates(url, s["sent_id"], s["tokens"], s["deps"],
                                   entity_a, entity_b, stop, a1, a2,
                                   sent_text=s.get("sent_text"))

    return emit


def candidates_from_sentences(sentences: DataFrame, entity_a: str,
                              entity_b: str, stop_ids,
                              allow1=None, allow2=None) -> DataFrame:
    """sentences rows -> candidate rows.  Entry point for pre-parsed
    corpora (e.g. CoreNLP XML via kgre.corenlp); ``sent_text`` is
    optional (rebuilt from the token words when absent)."""
    # in table order: a no-op projection over SENTENCES_SCHEMA rows
    cols = [c for c in sentences.columns
            if c in ("url", "sent_id", "tokens", "deps", "sent_text")]

    def rows(*row):
        s = dict(zip(cols, row))
        s["sent_id"] = int(s["sent_id"])
        yield s["url"], s

    return sentence_stage(sentences.select(*cols), rows, candidate_emitter(
        entity_a, entity_b, stop_ids, allow1, allow2))
