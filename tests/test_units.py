"""Per-operator unit tests (SURVEY.md §5.2 item 1), written against the
oracle transliteration AND the independent Spark-side per-sentence
implementation — every case asserts both agree (and, where the reference
fixes an absolute answer, what that answer is)."""

from __future__ import annotations

from kgre import pyoracle
from kgre.candidates import sentence_candidates
from kgre.model import score_logit
from kgre.util import sigmoid
from tests.helpers import chain_deps, dep, oracle_candidate_rows, tok


def both(tokens, deps, ea="GENE", eb="ONTOLOGY", stop=frozenset()):
    got = sentence_candidates("u", 0, tokens, deps, ea, eb, stop)
    want = oracle_candidate_rows("u", 0, tokens, deps, ea, eb, stop)
    assert got == want
    return got


# ------------------------------------------------------- mention chunking W1


def test_consecutive_same_norm_merges():
    toks = [tok(1, "GENE5"), tok(2, "GENE5"), tok(3, "binds"), tok(4, "GO7")]
    rows = both(toks, chain_deps(4))
    fwd = [r for r in rows if not r["is_reverse"]]
    assert len(fwd) == 1  # one merged GENE mention x one GO mention
    assert fwd[0]["subj"] == "G00005"


def test_adjacent_distinct_mentions_stay_separate():
    toks = [tok(1, "GENE5"), tok(2, "GENE6"), tok(3, "GO7")]
    rows = both(toks, chain_deps(3))
    fwd = [r for r in rows if not r["is_reverse"]]
    assert {r["subj"] for r in fwd} == {"G00005", "G00006"}


def test_pipe_ner_registers_both_types_and_duplicates_pairs():
    # VGENE token sits in HUMAN_GENE and VIRUS_GENE mention lists; product
    # over type names duplicates the pair (sentence_structure.py:135-136)
    toks = [tok(1, "VGENE3"), tok(2, "word"), tok(3, "GO2")]
    rows = both(toks, chain_deps(3))
    fwd = [r for r in rows if not r["is_reverse"]]
    assert len(fwd) == 2
    assert all(r["subj"] == "G00003|V00003" for r in fwd)


def test_multi_token_mention_not_merged_across_different_norm():
    toks = [tok(1, "GENE5"), tok(2, "VGENE5"), tok(3, "GO7")]
    rows = both(toks, chain_deps(3))
    fwd = [r for r in rows if not r["is_reverse"]]
    # GENE5 and VGENE5 have different norm strings -> separate mentions
    assert {r["subj"] for r in fwd} == {"G00005", "G00005|V00005"}


# -------------------------------------------- pair endpoint selection W3/W4


def test_endpoint_branch_mention_order():
    # m1 after m2: between boundary = (m1.first, m2.last)
    toks = [tok(1, "GO7"), tok(2, "x"), tok(3, "GENE5"), tok(4, "GENE5")]
    rows = both(toks, chain_deps(4))
    fwd = [r for r in rows if not r["is_reverse"]]
    assert len(fwd) == 1
    # gene mention [3,4] vs GO [1]: max(m1)>max(m2) -> p0 = m1[0]=3
    assert fwd[0]["between_words"] == ["x"]  # tokens strictly between 1..3


def test_dependency_index_most_connected_first_max_wins():
    # mention [1,2]; token 2 has higher degree -> SDP endpoint is 2
    toks = [tok(1, "GENE5"), tok(2, "GENE5"), tok(3, "w"), tok(4, "GO7")]
    deps = [dep("root", 0, 2), dep("amod", 2, 1), dep("conj", 2, 3),
            dep("nmod", 3, 4)]
    rows = both(toks, deps)
    fwd = [r for r in rows if not r["is_reverse"]][0]
    # path from most-connected gene token (2) to GO head (4): 2-3-4
    assert fwd["sdp_types"] == ["conj", "nmod"]


# ------------------------------------------------- dependency matrix / SDP


def test_reverse_edge_overwrite_rule():
    # edges (1->2, t1) then (2->1, t2): cell[1][2]=t1 stays, cell[2][1]
    # overwritten to t2 (forward assignment unconditional)
    toks = [tok(1, "GENE5"), tok(2, "GO7")]
    deps = [dep("root", 0, 1), dep("nsubj", 1, 2), dep("dobj", 2, 1)]
    rows = both(toks, deps)
    fwd = [r for r in rows if not r["is_reverse"]][0]
    rev = [r for r in rows if r["is_reverse"]][0]
    assert fwd["sdp_types"] == ["nsubj"]
    assert rev["sdp_types"] == ["dobj"]


def test_unreachable_sdp_gives_empty_path():
    toks = [tok(1, "GENE5"), tok(2, "w"), tok(3, "GO7")]
    deps = [dep("root", 0, 1), dep("conj", 1, 2)]  # token 3 disconnected
    rows = both(toks, deps)
    fwd = [r for r in rows if not r["is_reverse"]][0]
    assert fwd["sdp_types"] == []
    assert fwd["dep_path_string"] == ""
    assert fwd["between_words"] == ["w"]  # between words still computed


def test_dijkstra_tie_break_lowest_index():
    # two length-2 paths 1->2->5 and 1->3->5; reference picks parent 2
    toks = [tok(1, "GENE5"), tok(2, "a"), tok(3, "b"), tok(4, "c"),
            tok(5, "GO7")]
    deps = [dep("root", 0, 1), dep("amod", 1, 2), dep("conj", 1, 3),
            dep("det", 1, 4), dep("nsubj", 2, 5), dep("dobj", 3, 5)]
    rows = both(toks, deps)
    fwd = [r for r in rows if not r["is_reverse"]][0]
    assert fwd["sdp_types"] == ["amod", "nsubj"]  # via token 2, not 3


def test_masking_start_end_entity_and_interior():
    toks = [tok(1, "GENE5"), tok(2, "GENE9"), tok(3, "study"), tok(4, "GO7")]
    deps = [dep("root", 0, 1), dep("conj", 1, 2), dep("nmod", 2, 3),
            dep("det", 3, 4)]
    rows = both(toks, deps)
    fwd = [r for r in rows if not r["is_reverse"]][0]
    # path 1-2-3-4: word_path collects edge START words only
    # ([START_ENTITY, GENE, study]); interior = word_path[1:-1]
    assert fwd["sdp_words"] == ["GENE"]
    assert fwd["sdp_elements"] == [
        "START_ENTITYconjGENE", "GENEnmodstudy", "studydetEND_ENTITY"]
    assert fwd["between_words"] == ["GENE", "study"]


# --------------------------------------------------------------- filters


def test_stop_entity_filter_drops_pair():
    toks = [tok(1, "GENE13"), tok(2, "GO7")]
    rows = both(toks, chain_deps(2), stop=frozenset({"G00013"}))
    assert rows == []


def test_self_pair_and_missing_type_filters():
    # only genes, no ontology -> pairs None -> no rows
    toks = [tok(1, "GENE5"), tok(2, "GENE6")]
    assert both(toks, chain_deps(2)) == []
    # gene-gene mode: self pair skipped, both directions as forward rows
    rows = both(toks, chain_deps(2), ea="GENE", eb="GENE")
    fwd = [r for r in rows if not r["is_reverse"]]
    assert {(r["subj"], r["obj"]) for r in fwd} == {
        ("G00005", "G00006"), ("G00006", "G00005")}
    assert all(r["gene_to_gene"] for r in rows)


def test_allowlist_truth_table():
    # F3 cross-contamination rule (load_data.py:553-567)
    from kgre.candidates import allowlist_keep

    e1, e2 = {"G1"}, {"GO:1"}
    assert allowlist_keep(e1, e2, None, None)                # disabled
    assert allowlist_keep(e1, e2, {"G1"}, None)              # e1 in list1
    assert not allowlist_keep(e1, e2, {"G9"}, None)          # e1 not in list1
    assert not allowlist_keep(e1, {"G1"}, {"G1"}, None)      # e2 contaminates list1
    assert allowlist_keep(e1, e2, None, {"GO:1"})            # e2 in list2
    assert not allowlist_keep(e1, e2, None, {"GO:9"})        # e2 not in list2
    assert not allowlist_keep({"GO:1"}, e2, None, {"GO:1"})  # e1 contaminates list2
    assert allowlist_keep(e1, e2, {"G1"}, {"GO:1"})          # both pass
    assert not allowlist_keep(e1, e2, {"G1"}, {"GO:9"})      # one side fails
    # pipe-split multi-id side: ANY id matching counts (set intersection)
    assert allowlist_keep({"G3", "V3"}, e2, {"V3"}, None)
    assert not allowlist_keep(e1, {"GO:1", "G1"}, {"G1"}, None)


def test_allowlist_in_candidates_and_oracle_consumes_pair_idx():
    toks = [tok(1, "GENE5"), tok(2, "word"), tok(3, "GENE6"), tok(4, "GO7")]
    a1, a2 = frozenset({"G00006"}), frozenset({"GO:0000007"})
    got = sentence_candidates("u", 0, toks, chain_deps(4), "GENE", "ONTOLOGY",
                              frozenset(), a1, a2)
    want = oracle_candidate_rows("u", 0, toks, chain_deps(4), "GENE",
                                 "ONTOLOGY", allow1=a1, allow2=a2)
    assert got == want
    fwd = [r for r in got if not r["is_reverse"]]
    assert {r["subj"] for r in fwd} == {"G00006"}
    # the dropped GENE5 pair still consumed pair_idx (like the stop filter)
    assert {r["pair_idx"] for r in fwd} == {1}


def test_allowlist_filter_declarative_twin(spark):
    # the Catalyst arrays_overlap filter keeps exactly what the in-UDF
    # allowlist keeps, on the same candidates
    from kgre.candidates import (allowlist_filter, candidates_from_sentences)

    toks = [tok(1, "GENE5"), tok(2, "word"), tok(3, "GENE6"), tok(4, "GO7")]
    sent = spark.createDataFrame(
        [("u", 0, toks, chain_deps(4))],
        "url string, sent_id int, tokens array<struct<id:int,word:string,"
        "lemma:string,pos:string,ner:string,norm_ner:string>>, "
        "deps array<struct<type:string,gov:int,dep:int>>")
    cands = candidates_from_sentences(sent, "GENE", "ONTOLOGY", frozenset())
    a1, a2 = {"G00006"}, {"GO:0000007"}
    got = {(r["subj"], r["obj"], r["is_reverse"])
           for r in allowlist_filter(cands, a1, a2).collect()}
    want = {(r["subj"], r["obj"], r["is_reverse"])
            for r in sentence_candidates("u", 0, toks, chain_deps(4), "GENE",
                                         "ONTOLOGY", frozenset(), a1, a2)}
    assert got == want and got


def test_substring_entity_type_match():
    # 'GENE' matches both HUMAN_GENE and VIRUS_GENE keys (F6)
    toks = [tok(1, "VGENE2"), tok(2, "GO3")]
    rows = both(toks, chain_deps(2))
    assert len([r for r in rows if not r["is_reverse"]]) == 2  # two type keys


# --------------------------------------------- S14 highlight / X5 mentions


def test_predict_highlighting_marks_endpoints(spark):
    # multi-token mention [1,2] + GO mention [4]: endpoints are the
    # between-boundary tokens (pair[x][0] intent of the WIP reference
    # sink, relation_extraction.py:70-80)
    from kgre.score import highlight_sentences

    toks = [tok(1, "GENE5"), tok(2, "GENE5"), tok(3, "binds"), tok(4, "GO7")]
    rows = both(toks, chain_deps(4))
    fwd = [r for r in rows if not r["is_reverse"]][0]
    assert (fwd["sent_text"], fwd["start_tok"], fwd["end_tok"]) == (
        "GENE5 GENE5 binds GO7", 2, 4)
    df = spark.createDataFrame(
        [(fwd["sent_text"], fwd["start_tok"], fwd["end_tok"])],
        "sent_text string, start_tok int, end_tok int")
    got = highlight_sentences(df).first()["sentence"]
    assert got == "GENE5 ***GENE5*** binds ***GO7***"
    # reverse instance swaps the marks' roles but marks the same tokens
    rev = [r for r in rows if r["is_reverse"]][0]
    assert (rev["start_tok"], rev["end_tok"]) == (4, 2)


def test_predict_highlighting_pipe_ner_surface_form(spark):
    from kgre.score import highlight_sentences

    toks = [tok(1, "VGENE3"), tok(2, "word"), tok(3, "GO2")]
    fwd = [r for r in both(toks, chain_deps(3)) if not r["is_reverse"]][0]
    df = spark.createDataFrame(
        [(fwd["sent_text"], fwd["start_tok"], fwd["end_tok"])],
        "sent_text string, start_tok int, end_tok int")
    assert (highlight_sentences(df).first()["sentence"]
            == "***VGENE3*** word ***GO2***")


def test_predict_highlighting_irregular_whitespace(spark):
    # start_tok/end_tok index nlp.tokenize()'s str.split() (any whitespace
    # run, empties dropped); real HTML text has double spaces/tabs — the
    # highlighter must stay aligned with the tokenizer, not literal-space
    # positions
    from kgre.score import highlight_sentences

    df = spark.createDataFrame(
        [("GENE5  binds\t GO7 ", 1, 3),
         (" lead GENE1   GO2", 2, 3)],
        "sent_text string, start_tok int, end_tok int")
    got = [r["sentence"] for r in highlight_sentences(df).collect()]
    assert got == ["***GENE5*** binds ***GO7***",
                   "lead ***GENE1*** ***GO2***"]


def test_allowlist_filter_empty_set_drops_all(spark):
    # empty (non-None) allowlist keeps nothing — same as allowlist_keep —
    # and must not build an untyped zero-element literal array
    from kgre.candidates import (allowlist_filter, allowlist_keep,
                                 candidates_from_sentences)

    toks = [tok(1, "GENE5"), tok(2, "word"), tok(3, "GO7")]
    sent = spark.createDataFrame(
        [("u", 0, toks, chain_deps(3))],
        "url string, sent_id int, tokens array<struct<id:int,word:string,"
        "lemma:string,pos:string,ner:string,norm_ner:string>>, "
        "deps array<struct<type:string,gov:int,dep:int>>")
    cands = candidates_from_sentences(sent, "GENE", "ONTOLOGY", frozenset())
    assert cands.count() > 0
    assert allowlist_filter(cands, set(), None).count() == 0
    assert allowlist_filter(cands, None, set()).count() == 0
    assert not allowlist_keep({"a"}, {"b"}, set(), None)


def test_eval_mention_rows_exact_key_and_phrases():
    # X5 (load_data.py:843-871): exact-NER-key counting, '_'-joined lemma
    # phrase keyed by the first token's norm id
    from kgre.candidates import sentence_mention_rows

    toks = [tok(1, "GENE5"), tok(2, "GENE5"), tok(3, "binds"), tok(4, "GO7")]
    rows = sentence_mention_rows("u", toks, "HUMAN_GENE", "ONTOLOGY")
    assert {(r["side"], r["entity_key"]) for r in rows} == {
        ("e1", "G00005|gene5_gene5"), ("e2", "GO:0000007|go7")}
    # substring key does NOT count (dict-membership test, :853): sentence
    # is retained (substring presence) but the exact 'GENE' key is absent
    assert sentence_mention_rows("u", toks, "GENE", "ONTOLOGY") == []
    # sentence without the entity_b type at all -> not retained by load_xml
    toks2 = [tok(1, "GENE5"), tok(2, "word")]
    assert sentence_mention_rows("u", toks2, "HUMAN_GENE", "ONTOLOGY") == []


# -------------------------------------------------------- label truth table


def _labels(combos, key_order, fwd_kb, rev_kb):
    return pyoracle.label_instance(set(combos), key_order, fwd_kb, rev_kb)


def test_label_directional_forward_and_elif():
    ko = ["r.txt"]
    fwd = {"r.txt": {("A", "B")}}
    rev = {"r.txt": {("A", "B")}}
    f, r = _labels([("A", "B")], ko, fwd, rev)
    # forward matches -> elif means reverse NOT labeled (load_data.py:283-286)
    assert (f, r) == ([1], [0])


def test_label_directional_reverse_only():
    ko = ["r.txt"]
    f, r = _labels([("A", "B")], ko, {"r.txt": set()}, {"r.txt": {("A", "B")}})
    assert (f, r) == ([0], [1])


def test_label_symmetric_both_instances():
    ko = ["SYMMETRICs.txt"]
    f, r = _labels([("A", "B")], ko, {ko[0]: set()}, {ko[0]: {("A", "B")}})
    assert (f, r) == ([1], [1])


def test_label_via_ontology_closure():
    onto = [{"term": "GO:2", "is_a": "GO:1"}, {"term": "GO:3", "is_a": "GO:2"}]
    closure = pyoracle.ontology_closure(onto)
    assert closure["GO:3"] == {"GO:3", "GO:2", "GO:1"}
    kb = [{"rel": "a.txt", "e1": "G1", "e2": "GO:3", "rel_text": "activates"}]
    fwd, rev = pyoracle.load_kb(kb, closure)
    # sentence mentions ancestor GO:1 -> matched via closure expansion
    assert ("G1", "GO:1") in fwd["a.txt"]
    assert rev["a.txt"] == set()


def test_closure_cycle_guard():
    onto = [{"term": "GO:1", "is_a": "GO:2"}, {"term": "GO:2", "is_a": "GO:1"}]
    closure = pyoracle.ontology_closure(onto)  # must terminate
    assert closure["GO:1"] == {"GO:1", "GO:2"}


def test_kb_by_suffix_routes_to_reverse():
    kb = [{"rel": "i.txt", "e1": "A", "e2": "B", "rel_text": "inhibited by"}]
    fwd, rev = pyoracle.load_kb(kb, {})
    assert fwd["i.txt"] == set() and rev["i.txt"] == {("A", "B")}


# ----------------------------------------------------------- model scoring


def test_score_logit_set_semantics():
    vocabs = {"dep_path": {"p"}, "dep_word": {"w"}, "element": set(),
              "between": set()}
    z1 = score_logit("r", "p", ["w", "w"], [], [], vocabs)
    z2 = score_logit("r", "p", ["w"], [], [], vocabs)
    assert z1 == z2  # duplicates count once (set intersection semantics)
    z3 = score_logit("r", "q", ["w"], [], [], vocabs)  # path not in vocab
    assert z3 != z1
    assert 0.0 <= sigmoid(z1) <= 1.0


def test_empty_batch_frames_are_object_dtype():
    """Empty partitions must yield object-dtype frames: float64 empties
    break Arrow conversion to list/binary fields (regression)."""
    import pandas as pd

    from kgre.candidates import rows_to_pdf
    from kgre.webtext import _pages_pdf

    for pdf in (rows_to_pdf([]), _pages_pdf([])):
        assert len(pdf) == 0
        assert all(dt == object for dt in pdf.dtypes)


def test_extract_total_on_hostile_bytes():
    """Extractor must be a total, deterministic function of the bytes:
    invalid UTF-8, empty, and article-less html all yield a string."""
    from kgre.extract import extract_text_from_html

    assert extract_text_from_html(b"") == ""
    assert extract_text_from_html(b"<html>no article</html>") == ""
    assert extract_text_from_html(b"\xff\xfe\x00garbage") == ""
    hostile = b"<article><p>ok \xff\xfe body</p></article>"
    out1, out2 = (extract_text_from_html(hostile) for _ in range(2))
    assert out1 == out2 and "ok" in out1


# ----------------------------------------------------------- python worker


def test_pyworker_rereads_a_zip_archive_only_when_it_changes(tmp_path,
                                                             monkeypatch):
    import importlib
    import os
    import sys
    import zipfile
    import zipimport

    import kgre  # noqa: F401  (installs the worker patch, if in a worker)
    from kgre import pyworker

    archive = tmp_path / "mods.zip"

    def write(version):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("kgre_zipmod.py", f"VERSION = {version!r}\n")

    write("v1")
    monkeypatch.syspath_prepend(str(archive))
    try:
        mod = importlib.import_module("kgre_zipmod")
        importer = mod.__loader__
        assert isinstance(importer, zipimport.zipimporter)
        pyworker._invalidate_caches(importer)        # first call stamps
        files = importer._files
        pyworker._invalidate_caches(importer)
        assert importer._files is files              # unchanged: no re-read

        write("v2")                                  # a later rewrite
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        pyworker._invalidate_caches(importer)
        assert importer._files is not files
        assert importlib.reload(mod).VERSION == "v2"
    finally:
        sys.modules.pop("kgre_zipmod", None)

    # the driver (no TaskContext) keeps the stdlib method
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker._reread
    assert pyworker._reread.__module__ == "zipimport"
