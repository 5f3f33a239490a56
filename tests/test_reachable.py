"""Every top-level definition in ``kgre/`` is reached from a surface, and
every option of a reached definition is set by one.

The surfaces are the CLI, the driver contract (``__spark_entry__.py``),
the bench scripts, ``perfbench/`` and ``tools/``, plus the library entry
points in ``KEEP``.  References are followed by name (bare, attribute and
imported names) through the bodies of the definitions they reach;
module-level statements run on import, so they count as surfaces too.
A definition that only tests call belongs in ``tests/helpers.py``.

A defaulted parameter that no call on a surface or in a reached
definition sets is a constant with extra steps: it belongs in the body,
unless ``KEEP_PARAMS`` names it with its reason.
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
# corrupt-file report (named by --xml-on-error), sentence-row candidates,
# the fixture generator and the lineage manifest's progress query
KEEP = {"weights_from_df", "lstm_weights_from_df", "stream_triples",
        "windowed_page_counts", "k_fold_cv", "corenlp_corrupt_files",
        "candidates_from_sentences", "gen_pages_rows", "completed_buckets"}
# pyoracle is the independent reference: its signatures follow the
# reference code, not kgre's callers
PARAM_EXEMPT_MODULES = {"pyoracle"}
# "module.function:param" (or "module.Class.method:param") -> reason;
# each is the only way to reach a behaviour a test checks
KEEP_PARAMS = {
    "lstm.score_candidates_lstm:params":
        "scores trained LSTM weights (the restore half of train-lstm; no "
        "CLI mode loads weights yet)",
    "train.train_model:hidden_array":
        "the reference's FF hidden-layer stack (tf_feed_forward.py:32-63); "
        "the CLI trains its shipped logistic config",
}


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


def _reach():
    """(kgre definitions by name, reached names, surface statements)."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    surface: list[ast.AST] = []
    todo = set(KEEP)
    for path in sorted((ROOT / "kgre").glob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            names = _defined(stmt)
            for name in names:
                defs.setdefault(name, []).append((path.stem, stmt))
            if not names or path.stem in ROOT_MODULES:
                todo |= _names([stmt]) | set(names)
                if not isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                    surface.append(stmt)
    for pattern in SURFACES:
        for path in ROOT.glob(pattern):
            tree = ast.parse(path.read_text())
            todo |= _names([tree])
            surface.append(tree)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= _names(stmt for _, stmt in defs.get(name, ())) - seen
    return defs, seen, surface


def test_every_kgre_definition_is_reached_from_a_surface():
    defs, seen, _ = _reach()
    unreached = sorted(f"kgre/{m}.py:{s.lineno} {n}"
                       for n, sites in defs.items() if n not in seen
                       for m, s in sites)
    assert not unreached, "reached by no surface:\n" + "\n".join(unreached)


class _Target:
    """One reached ``kgre/`` function or method and its parameters."""

    def __init__(self, key: str, fn: ast.FunctionDef, method: bool):
        a = fn.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in fn.decorator_list)
        self.key, self.fn = key, fn
        self.pos = pos[1:] if method and not static else pos
        self.names = set(self.pos) | {p.arg for p in a.kwonlyargs}
        self.defaulted = (pos[len(pos) - len(a.defaults):] if a.defaults
                          else []) + [p.arg for p, d in
                                      zip(a.kwonlyargs, a.kw_defaults)
                                      if d is not None]
        self.rebound = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)
                        and isinstance(n.ctx, ast.Store)}


def _targets(defs, seen):
    """Callee name -> reached targets; also every target by its node."""
    by_name: dict[str, list[_Target]] = {}
    by_node: dict[ast.FunctionDef, _Target] = {}
    for name, sites in defs.items():
        for module, stmt in sites:
            if name not in seen or module in PARAM_EXEMPT_MODULES:
                continue
            if isinstance(stmt, ast.FunctionDef):
                found = [(name, f"{module}.{name}", stmt, False)]
            elif isinstance(stmt, ast.ClassDef):
                found = [(name if f.name == "__init__" else f.name,
                          f"{module}.{name}.{f.name}", f, True)
                         for f in stmt.body if isinstance(f, ast.FunctionDef)]
            else:
                continue
            for callee, key, fn, method in found:
                t = _Target(key, fn, method)
                by_name.setdefault(callee, []).append(t)
                by_node[fn] = t
    return by_name, by_node


def _calls(tree, by_node, enclosing=()):
    """(call, enclosing targets, innermost first) for each call in tree."""
    for child in ast.iter_child_nodes(tree):
        inner = enclosing
        if isinstance(child, ast.FunctionDef) and child in by_node:
            inner = (by_node[child],) + enclosing
        if isinstance(child, ast.Call):
            yield child, enclosing
        yield from _calls(child, by_node, inner)


def _callee(call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _tuple_lengths(trees) -> dict[str, int]:
    """Function name -> n, for each name whose every definition returns
    only tuple literals of n elements (like perfbench's ``_kb``)."""
    found: dict[str, set] = {}
    for fn in (n for t in trees for n in ast.walk(t)
               if isinstance(n, ast.FunctionDef)):
        found.setdefault(fn.name, set()).update(
            _literal_len(r.value) for r in ast.walk(fn)
            if isinstance(r, ast.Return))
    return {name: next(iter(ns)) for name, ns in found.items()
            if len(ns) == 1 and None not in ns}


def _literal_len(value) -> int | None:
    if isinstance(value, (ast.Tuple, ast.List)) and not any(
            isinstance(e, ast.Starred) for e in value.elts):
        return len(value.elts)
    return None


def _settings(call, target, enclosing, lengths):
    """(param, source) pairs a call sets on target; source is None for an
    outright value, else the enclosing (target key, param) it forwards.
    A ``*`` argument sets as many positions as its tuple literal, or the
    tuple every return of the function it calls (``lengths``), holds;
    any other ``*`` argument sets every later position."""
    def source(value):
        if isinstance(value, ast.Name):
            for t in enclosing:
                if value.id in t.defaulted and value.id not in t.rebound:
                    return (t.key, value.id)
                if value.id in t.names:
                    break
        return None

    i = 0
    for arg in call.args:
        if isinstance(arg, ast.Starred):
            n = (lengths.get(_callee(arg.value))
                 if isinstance(arg.value, ast.Call)
                 else _literal_len(arg.value))
            if n is None:
                n = len(target.pos)
            for p in target.pos[i:i + n]:
                yield p, None
            i += n
            continue
        if i < len(target.pos):
            yield target.pos[i], source(arg)
        i += 1
    for kw in call.keywords:
        if kw.arg is None:
            for p in target.names:
                yield p, None
        elif kw.arg in target.names:
            yield kw.arg, source(kw.value)


def test_settings_credit_a_starred_argument_with_its_length():
    tree = ast.parse("def f(a, b=1, c=2, d=3):\n    pass\n"
                     "def _kb():\n    return 1, 2\n")
    target = _Target("m.f", tree.body[0], False)
    lengths = _tuple_lengths([tree])

    def params(src):
        call = ast.parse(src).body[0].value
        return sorted(p for p, _ in _settings(call, target, (), lengths))

    assert params("f(a, *(1, 2))") == ["a", "b", "c"]
    assert params("f(a, *_kb())") == ["a", "b", "c"]
    assert params("f(*[1], 2)") == ["a", "b"]
    assert params("f(a, *xs)") == ["a", "b", "c", "d"]


def test_every_defaulted_kgre_parameter_is_set_by_a_surface():
    defs, seen, surface = _reach()
    by_name, by_node = _targets(defs, seen)
    scopes = surface + [stmt for name, sites in defs.items() if name in seen
                        for _, stmt in sites
                        if isinstance(stmt, (ast.FunctionDef, ast.ClassDef))]
    is_set: set[tuple[str, str]] = set()
    forwards: list[tuple[tuple[str, str], tuple[str, str]]] = []
    lengths = _tuple_lengths(scopes)
    for scope in scopes:
        for call, outer in _calls(ast.Module([scope], []), by_node):
            for target in by_name.get(_callee(call), ()):
                for param, src in _settings(call, target, outer, lengths):
                    if src is None:
                        is_set.add((target.key, param))
                    else:
                        forwards.append(((target.key, param), src))
    grew = True
    while grew:
        grew = False
        for param, src in forwards:
            if src in is_set and param not in is_set:
                is_set.add(param)
                grew = True
    unset = {f"{t.key}:{p}": t for ts in by_name.values() for t in ts
             for p in t.defaulted if (t.key, p) not in is_set}
    flagged = sorted(f"kgre/{k.split('.')[0]}.py:{t.fn.lineno} {k}"
                     for k, t in unset.items() if k not in KEEP_PARAMS)
    stale = sorted(k for k in KEEP_PARAMS if k not in unset)
    assert not flagged, "set by no surface:\n" + "\n".join(flagged)
    assert not stale, "KEEP_PARAMS entries now set or gone: " + str(stale)
