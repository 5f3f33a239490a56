"""Every top-level definition in ``kgre/`` is reached from a surface.

The surfaces are the CLI, the driver contract (``__spark_entry__.py``),
the bench scripts, ``perfbench/`` and ``tools/``, plus the library entry
points in ``KEEP``.  References are followed by name (bare, attribute and
imported names) through the bodies of the definitions they reach;
module-level statements run on import, so they count as surfaces too.
A definition that only tests call belongs in ``tests/helpers.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SURFACES = ["__spark_entry__.py", "bench.py", "bench_extra.py",
            "perfbench/*.py", "tools/*.py"]
ROOT_MODULES = {"cli", "w2v"}       # w2v: the reference's embedding format
# the restore half of train -> score (the FF and LSTM readers, both thin
# calls of train.tensors_from_df), streaming, k-fold CV, the CoreNLP
# corrupt-file report (named by --xml-on-error), sentence-row candidates
# and the fixture generator
KEEP = {"weights_from_df", "lstm_weights_from_df", "stream_triples",
        "windowed_page_counts", "k_fold_cv", "corenlp_corrupt_files",
        "candidates_from_sentences", "gen_pages_rows"}


def _names(nodes) -> set[str]:
    out = set()
    for n in (n for node in nodes for n in ast.walk(node)):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    return []


def test_every_kgre_definition_is_reached_from_a_surface():
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    todo = set(KEEP)
    for path in sorted((ROOT / "kgre").glob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            names = _defined(stmt)
            for name in names:
                defs.setdefault(name, []).append((path.stem, stmt))
            if not names or path.stem in ROOT_MODULES:
                todo |= _names([stmt]) | set(names)
    for pattern in SURFACES:
        for path in ROOT.glob(pattern):
            todo |= _names([ast.parse(path.read_text())])
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= _names(stmt for _, stmt in defs.get(name, ())) - seen
    unreached = sorted(f"kgre/{m}.py:{s.lineno} {n}"
                       for n, sites in defs.items() if n not in seen
                       for m, s in sites)
    assert not unreached, "reached by no surface:\n" + "\n".join(unreached)
