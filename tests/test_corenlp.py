"""S1-compat CoreNLP-XML ingest (reference load_data.py:352-396): the
reader must produce byte-identical sentence rows to the native parse
stub for equivalent content, and the CLI --corenlp-xml path must emit
the same triples as the pages path on the same corpus."""

import xml.etree.ElementTree as ET

from kgre import nlp, synthgen
from kgre.corenlp import read_corenlp_xml, sentences_from_corenlp_xml
from kgre.extract import extract_text_from_html


def rows_to_corenlp_xml(url: str, sent_rows) -> bytes:
    """Serialize parse-stub sentence rows as Stanford-CoreNLP XML in the
    shape load_xml consumes (PMID child tag, id attribute, token children
    word/lemma/CharacterOffset*/POS/NER[/NormalizedNER], first
    <dependencies> block = basic)."""
    root = ET.Element("root")
    doc = ET.SubElement(root, "document")
    sentences = ET.SubElement(doc, "sentences")
    for s in sent_rows:
        sent = ET.SubElement(sentences, "sentence", id=str(s["sent_id"]))
        ET.SubElement(sent, "PMID").text = url
        toks = ET.SubElement(sent, "tokens")
        off = 0
        for t in s["tokens"]:
            tok = ET.SubElement(toks, "token", id=str(t["id"]))
            ET.SubElement(tok, "word").text = t["word"]
            ET.SubElement(tok, "lemma").text = t["lemma"]
            ET.SubElement(tok, "CharacterOffsetBegin").text = str(off)
            off += len(t["word"])
            ET.SubElement(tok, "CharacterOffsetEnd").text = str(off)
            off += 1
            ET.SubElement(tok, "POS").text = t["pos"]
            ET.SubElement(tok, "NER").text = t["ner"]
            if t["norm_ner"] is not None:
                ET.SubElement(tok, "NormalizedNER").text = t["norm_ner"]
        basic = ET.SubElement(sent, "dependencies",
                              type="basic-dependencies")
        for d in s["deps"]:
            dep = ET.SubElement(basic, "dep", type=d["type"])
            ET.SubElement(dep, "governor", idx=str(d["gov"]))
            ET.SubElement(dep, "dependent", idx=str(d["dep"]))
        # a second dependencies block that MUST be ignored
        # (reference reads dependencies[0] only)
        extra = ET.SubElement(sent, "dependencies",
                              type="collapsed-ccprocessed-dependencies")
        dep = ET.SubElement(extra, "dep", type="bogus")
        ET.SubElement(dep, "governor", idx="1")
        ET.SubElement(dep, "dependent", idx="1")
    return ET.tostring(root)


def _stub_sentences(n_pages=12):
    out = {}
    for r in synthgen.gen_pages_rows(n_pages):
        if r["lang"] != "en":
            # the pages path filters lang=en before parsing; a CoreNLP
            # corpus is by definition already the post-filter set
            continue
        text = extract_text_from_html(r["html"])
        rows = []
        for s in nlp.parse_text(text):
            rows.append({
                "url": r["url"], "sent_id": s["sent_id"],
                # the XML reader reconstructs text from token words
                "sent_text": " ".join(t["word"] for t in s["tokens"]),
                "tokens": s["tokens"], "deps": s["deps"],
            })
        out[r["url"]] = rows
    return out


def test_parser_roundtrips_stub_rows_exactly():
    """Every field of every sentence row survives XML serialize->parse
    byte-for-byte (the drop-in guarantee)."""
    for url, rows in _stub_sentences(12).items():
        xml = rows_to_corenlp_xml(url, rows)
        assert sentences_from_corenlp_xml(xml) == rows


def test_parser_reference_quirks():
    """PMID is a child TAG, sentence id an ATTRIBUTE; NormalizedNER is
    optional -> None; empty NER tolerated as 'O'; only the FIRST
    dependencies block counts (load_data.py:367-387)."""
    xml = b"""<root><document><sentences>
      <sentence id="3"><PMID>doc9</PMID>
        <tokens>
          <token id="1"><word>GENE5</word><lemma>gene5</lemma>
            <CharacterOffsetBegin>0</CharacterOffsetBegin>
            <CharacterOffsetEnd>5</CharacterOffsetEnd>
            <POS>NN</POS><NER>HUMAN_GENE|VIRUS_GENE</NER>
            <NormalizedNER>G1|G2</NormalizedNER></token>
          <token id="2"><word>binds</word><lemma>bind</lemma>
            <CharacterOffsetBegin>6</CharacterOffsetBegin>
            <CharacterOffsetEnd>11</CharacterOffsetEnd>
            <POS>VBZ</POS><NER/></token>
        </tokens>
        <dependencies type="basic-dependencies">
          <dep type="nsubj"><governor idx="2"/><dependent idx="1"/></dep>
        </dependencies>
        <dependencies type="collapsed">
          <dep type="bogus"><governor idx="1"/><dependent idx="2"/></dep>
        </dependencies>
      </sentence>
    </sentences></document></root>"""
    rows = sentences_from_corenlp_xml(xml)
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == "doc9" and r["sent_id"] == 3
    assert r["sent_text"] == "GENE5 binds"
    assert r["tokens"][0]["ner"] == "HUMAN_GENE|VIRUS_GENE"
    assert r["tokens"][0]["norm_ner"] == "G1|G2"
    assert r["tokens"][1]["ner"] == "O"          # empty element -> 'O'
    assert r["tokens"][1]["norm_ner"] is None    # absent -> None
    assert r["deps"] == [{"type": "nsubj", "gov": 2, "dep": 1}]


def test_read_corenlp_xml_spark_rows(spark, tmp_path):
    """The binaryFile scan + mapInPandas parse yields the same rows as
    the pure parser, with the glob applied at file listing."""
    stub = _stub_sentences(8)
    for i, (url, rows) in enumerate(sorted(stub.items())):
        (tmp_path / f"doc{i}.txt").write_bytes(rows_to_corenlp_xml(url, rows))
    (tmp_path / "ignore.json").write_text("{}")   # must be glob-filtered
    got = read_corenlp_xml(spark, str(tmp_path)).collect()
    want = {(r["url"], r["sent_id"]): r for rows in stub.values()
            for r in rows}
    assert len(got) == len(want)
    for row in got:
        w = want[(row["url"], row["sent_id"])]
        assert row["sent_text"] == w["sent_text"]
        assert [t.asDict() for t in row["tokens"]] == w["tokens"]
        assert [d.asDict() for d in row["deps"]] == w["deps"]


def test_cli_corenlp_xml_matches_pages_path(spark, tmp_path, monkeypatch):
    """--corenlp-xml score emits exactly the triples of the native pages
    path on the same corpus (same candidates -> same vocab -> same
    scores)."""
    from kgre import cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    for i, (url, rows) in enumerate(sorted(_stub_sentences(60).items())):
        (xml_dir / f"d{i}.txt").write_bytes(rows_to_corenlp_xml(url, rows))
    out_pages = str(tmp_path / "pages_out")
    cli.main(["score", "--synth", "60", "--occur-count", "2",
              "--out", out_pages])
    out_xml = str(tmp_path / "xml_out")
    cli.main(["score", "--corenlp-xml", str(xml_dir), "--occur-count", "2",
              "--out", out_xml])
    cols = ["url", "sent_id", "pair_idx", "subj", "obj", "rel", "prob"]
    a = sorted(map(tuple, spark.read.parquet(out_pages + "/triples")
                   .select(*cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(out_xml + "/triples")
                   .select(*cols).collect()))
    assert a == b and a


def test_cli_corenlp_xml_resume(spark, tmp_path, monkeypatch):
    """score --corenlp-xml --resume buckets the XML files by path: it
    emits the triples of a plain --corenlp-xml run, and a rerun over
    unchanged files parses no bucket again."""
    from kgre import cli, corenlp

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    for i, (url, rows) in enumerate(sorted(_stub_sentences(40).items())):
        (xml_dir / f"d{i}.txt").write_bytes(rows_to_corenlp_xml(url, rows))
    calls = []
    parse = corenlp.corenlp_files_to_candidates

    def counting(files, *args, **kwargs):
        calls.append(1)
        return parse(files, *args, **kwargs)

    monkeypatch.setattr(corenlp, "corenlp_files_to_candidates", counting)
    plain, res = str(tmp_path / "plain"), str(tmp_path / "res")
    resume = ("--resume", "--buckets", "2")
    n_calls = []
    for out, extra in ((plain, ()), (res, resume), (res, resume)):
        calls.clear()
        cli.main(["score", "--corenlp-xml", str(xml_dir), "--occur-count", "2",
                  "--out", out, *extra])
        n_calls.append(len(calls))
    # one call over all files, one per bucket, none on the rerun
    assert n_calls == [1, 2, 0]
    cols = ["url", "sent_id", "pair_idx", "subj", "obj", "rel", "prob"]
    a, b = (sorted(map(tuple, spark.read.parquet(o + "/triples")
                       .select(*cols).collect())) for o in (plain, res))
    assert a == b and a


def test_cli_corenlp_xml_routes_all_modes(spark, tmp_path, monkeypatch):
    """ADVICE r3: predict / train / train-lstm / eval-data must consume
    --corenlp-xml instead of silently falling back to synthetic pages
    (predict output equals the pages path; the others run end-to-end on
    the XML corpus); clean rejects it loudly."""
    import pytest

    from kgre import cli

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    for i, (url, rows) in enumerate(sorted(_stub_sentences(40).items())):
        (xml_dir / f"d{i}.txt").write_bytes(rows_to_corenlp_xml(url, rows))

    out_p = str(tmp_path / "pred_pages")
    cli.main(["predict", "--synth", "40", "--occur-count", "2",
              "--out", out_p])
    out_x = str(tmp_path / "pred_xml")
    cli.main(["predict", "--corenlp-xml", str(xml_dir), "--occur-count", "2",
              "--out", out_x])
    cols = ["url", "sent_id", "pair_idx", "subj", "obj", "rel", "prob",
            "sentence"]
    a = sorted(map(tuple, spark.read.parquet(out_p + "/predictions")
                   .select(*cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(out_x + "/predictions")
                   .select(*cols).collect()))
    assert a == b and a

    out_t = str(tmp_path / "train_xml")
    cli.main(["train", "--corenlp-xml", str(xml_dir), "--occur-count", "2",
              "--epochs", "2", "--out", out_t])
    assert spark.read.parquet(out_t + "/weights").count() > 0

    out_e = str(tmp_path / "eval_xml")
    cli.main(["eval-data", "--corenlp-xml", str(xml_dir), "--out", out_e])
    assert spark.read.parquet(out_e + "/dist_subj").count() > 0
    assert spark.read.parquet(out_e + "/dist_phrases").count() > 0
    # both mention paths (pages_to_mentions over the synthetic pages,
    # sentences_to_mentions over the XML of the same corpus) and both
    # candidate paths give the same distributions
    out_ep = str(tmp_path / "eval_pages")
    cli.main(["eval-data", "--synth", "40", "--out", out_ep])
    for dist in ("dist_phrases", "dist_subj"):
        want = sorted(map(tuple, spark.read.parquet(
            f"{out_ep}/{dist}").collect()))
        got = sorted(map(tuple, spark.read.parquet(
            f"{out_e}/{dist}").collect()))
        assert got == want and want, dist

    with pytest.raises(SystemExit, match="clean mode"):
        cli.main(["clean", "--corenlp-xml", str(xml_dir),
                  "--out", str(tmp_path / "never")])


def test_sentence_rows_to_xml_roundtrip():
    """The engine-side XML writer (export/bench inverse) must roundtrip
    through the reader; the pytest writer above stays the independent
    format spec."""
    from kgre.corenlp import sentence_rows_to_xml

    for url, rows in sorted(_stub_sentences(8).items()):
        want = [dict(r, sent_text=" ".join(t["word"] for t in r["tokens"]))
                for r in rows]
        got = sentences_from_corenlp_xml(
            sentence_rows_to_xml(rows))
        assert got == want


def test_corenlp_on_error_skip_and_audit(spark, tmp_path):
    """Permissive web-scale ingest: a corrupt XML file fails the job
    loudly by default (with its path), contributes zero rows under
    on_error='skip', and shows up in the corenlp_corrupt_files audit."""
    from kgre import synthgen
    from kgre.corenlp import (corenlp_corrupt_files, _binary_reader,
                              corenlp_files_to_candidates,
                              read_corenlp_candidates)

    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    stubs = sorted(_stub_sentences(20).items())
    for i, (url, rows) in enumerate(stubs):
        (xml_dir / f"d{i}.txt").write_bytes(rows_to_corenlp_xml(url, rows))
    (xml_dir / "bad.txt").write_bytes(b"<root><document><sentenc")  # truncated
    stop = synthgen.stop_entity_ids()

    import pytest
    with pytest.raises(Exception, match="bad.txt"):
        read_corenlp_candidates(spark, str(xml_dir), "GENE", "ONTOLOGY",
                                stop).count()
    good = corenlp_files_to_candidates(
        _binary_reader(spark, "*.txt", False).load(str(xml_dir)),
        "GENE", "ONTOLOGY", stop, on_error="skip")
    # the corrupt file excluded at the listing instead
    want = corenlp_files_to_candidates(
        _binary_reader(spark, "d*.txt", False).load(str(xml_dir)),
        "GENE", "ONTOLOGY", stop)
    key = ["url", "sent_id", "pair_idx", "is_reverse"]
    assert sorted(map(tuple, good.select(*key).collect())) == \
        sorted(map(tuple, want.select(*key).collect()))
    audit = corenlp_corrupt_files(
        _binary_reader(spark, "*.txt", False).load(str(xml_dir))).collect()
    assert len(audit) == 1
    assert audit[0]["path"].endswith("bad.txt")
    assert "ParseError" in audit[0]["error"]
