"""Every kgp module, and every definition the pipelines import, is reached
from a pipeline, a gate or a benchmark.

The closure is computed from the AST alone (no import runs, no Spark
session starts): start at the two pipelines, the gate entry point
(`__spark_entry__.py`), `bench.py`, `bench/` and the non-test files of
`perfbench/`, and follow every `import kgp.x`, `from kgp.x import ...`
and `from kgp import a, b` — module level or inside a function — through
the kgp modules reached. A kgp module outside the closure is code that
only its own tests run; delete it or wire it into a stage.

Definitions are followed by name. A top-level `def` or `class` of a kgp
module is reached when its name — as a name, an attribute, an import
alias or an identifier inside a string — appears in reached code:
the root files, every module-level statement and decorator of every kgp
module, and the bodies of reached definitions, iterated to a fixed
point. Names are not resolved to modules, so a collision can only make
a definition look reached, never unreached.

Module-level assignments of the pipelines' modules are checked the same
way: a name a module assigns at top level is read when reached code
loads it (an assignment target is not a read).
"""
import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KGP = ROOT / "kgp"

# Reference implementations that a test compares a reached operator
# against: each stays although no pipeline calls it.
# (module, definition) -> the test that compares
ORACLES = {
    ("webgraph", "extract_urls"):
        "tests/test_webgraph.py::test_url_column_twins_match_python",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _roots():
    yield KGP / "pipeline.py"
    yield KGP / "datapipeline.py"
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "bench").glob("*.py"))
    yield from sorted(p for p in (ROOT / "perfbench").glob("*.py")
                      if not p.name.startswith("test_"))


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def kgp_imports(path):
    """Names of the kgp modules `path` imports, in any of the three forms."""
    found = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                parts = alias.name.split(".")
                if parts[0] == "kgp" and len(parts) > 1:
                    found.add(parts[1])
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and node.module):
            parts = node.module.split(".")
            if parts[0] != "kgp":
                continue
            if len(parts) > 1:
                found.add(parts[1])
            else:
                found.update(alias.name for alias in node.names)
    return found


def kgp_closure(roots=None):
    seen, todo = set(), list(_roots() if roots is None else roots)
    reached = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in kgp_imports(path):
            module = KGP / f"{name}.py"
            if module.exists():
                reached.add(name)
                todo.append(module)
    return reached


def names_in(*nodes):
    """Every name the nodes use: loaded names, attributes, import
    aliases and identifiers inside string constants."""
    found = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                if not isinstance(node.ctx, (ast.Store, ast.Del)):
                    found.add(node.id)
            elif isinstance(node, ast.Attribute):
                found.add(node.attr)
            elif isinstance(node, ast.alias):
                found.update(node.name.split("."))
                if node.asname:
                    found.add(node.asname)
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)):
                found.update(_IDENT.findall(node.value))
    return found


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def reached_names(roots, modules, kept=()):
    """Every name reached code uses: the roots, every module-level
    statement of `modules`, and the bodies of the definitions those
    names (and the definition names in `kept`) reach, to a fixed
    point."""
    names = set(kept)
    for path in roots:
        names |= names_in(_parse(path))
    pending = {}   # name -> bodies of the definitions of that name
    for path in modules:
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                names |= names_in(*stmt.decorator_list)
                parts = list(stmt.body)
                if isinstance(stmt, ast.ClassDef):
                    parts += stmt.bases + stmt.keywords
                else:
                    parts.append(stmt.args)
                    if stmt.returns is not None:
                        parts.append(stmt.returns)
                pending.setdefault(stmt.name, []).extend(parts)
            else:
                names |= names_in(stmt)
    todo = [n for n in pending if n in names]
    while todo:
        body = pending.pop(todo.pop(), ())
        for name in names_in(*body) - names:
            names.add(name)
            if name in pending:
                todo.append(name)
    return names


def unreached_definitions(roots, modules):
    """(module stem, name) of every top-level def/class in `modules`
    whose name no reached code uses."""
    names = reached_names(roots, modules)
    return sorted((path.stem, stmt.name) for path in modules
                  for stmt in _parse(path).body
                  if isinstance(stmt, _DEFS) and stmt.name not in names)


def _assigned(stmts):
    """Names the statements assign at their own level: targets of
    assignments, also inside if/try/with/for blocks, never inside a
    def, class or comprehension."""
    for stmt in stmts:
        if isinstance(stmt, ast.Assign):
            targets = stmt.targets
        elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
            targets = [stmt.target]
        else:
            targets = []
            if not isinstance(stmt, _DEFS):
                for field in ("body", "orelse", "finalbody", "handlers"):
                    yield from _assigned(getattr(stmt, field, ()))
        for target in targets:
            for node in ast.walk(target):
                if isinstance(node, ast.Name):
                    yield node.id


def unread_assignments(roots, modules, checked, kept=()):
    """(module stem, name) of every top-level assignment in `checked`
    (a subset of `modules`) whose name no reached code loads, the
    bodies of the definitions named in `kept` counting as reached.
    Dunder names (`__all__`) are read by Python itself."""
    names = reached_names(roots, modules, kept)
    return sorted({(path.stem, name) for path in checked
                   for name in _assigned(_parse(path).body)
                   if name not in names
                   and not (name.startswith("__") and name.endswith("__"))})


def test_import_forms_are_followed(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("import kgp.alpha\nimport kgp.beta as b\n"
                   "from kgp.gamma import f\nfrom kgp import delta, epsilon\n"
                   "import os\nfrom os import path\n"
                   "def g():\n    from kgp.zeta import h\n")
    assert kgp_imports(src) == {"alpha", "beta", "gamma", "delta", "epsilon",
                                "zeta"}


def test_definition_scan_follows_bodies_to_a_fixed_point(tmp_path):
    root = tmp_path / "root.py"
    root.write_text("from kgp.a import entry as e\n"
                    "x = e()\n")
    a = tmp_path / "a.py"
    a.write_text(
        "import functools\n"
        "TABLE = {'k': 'by_string'}\n"
        "@functools.lru_cache\n"
        "def entry():\n    return helper(1)\n"
        "def helper(n):\n    return obj.method(n)\n"
        "def method():\n    pass\n"
        "def by_string():\n    pass\n"
        "def only_test():\n    return dead_end()\n"
        "def dead_end():\n    return entry()\n"
        "class Base:\n    pass\n"
        "class Child(Base):\n    def inner(self):\n        return gone()\n"
        "def gone():\n    pass\n")
    b = tmp_path / "b.py"
    b.write_text("def uses_child():\n    return Child()\n"
                 "RESULT = typed()\n"
                 "def typed(x: 'Annot') -> int:\n    return x\n"
                 "class Annot:\n    pass\n")
    assert unreached_definitions([root], [a, b]) == [
        ("a", "Base"), ("a", "Child"), ("a", "dead_end"), ("a", "gone"),
        ("a", "only_test"), ("b", "uses_child")]


def test_assignment_scan_counts_loads_only(tmp_path):
    root = tmp_path / "root.py"
    root.write_text("from kgp.a import entry\nentry(USED_BY_ROOT)\n")
    a = tmp_path / "a.py"
    a.write_text(
        "__all__ = ['entry']\n"
        "USED_BY_ROOT = 1\n"
        "IN_BODY, UNREAD = 2, 3\n"
        "ONLY_STORED = 4\n"
        "ONLY_STORED = 5\n"
        "ONLY_DELETED = 6\n"
        "del ONLY_DELETED\n"
        "TOTAL: int = 0\n"
        "TOTAL += 1\n"
        "SQUARES = {n: n * n for n in range(3)}\n"
        "try:\n    import zlib\nexcept ImportError:\n    FALLBACK = None\n"
        "def entry(x):\n    local = IN_BODY\n    return local + SQUARES[x]\n"
        "def unreached():\n    return TOTAL\n"
        "def oracle():\n    return FALLBACK\n")
    assert unread_assignments([root], [a], [a]) == [
        ("a", "FALLBACK"), ("a", "ONLY_DELETED"), ("a", "ONLY_STORED"),
        ("a", "TOTAL"), ("a", "UNREAD")]
    assert ("a", "FALLBACK") not in unread_assignments(
        [root], [a], [a], kept=["oracle"])


def test_every_kgp_module_is_reached():
    modules = {p.stem for p in KGP.glob("*.py") if p.stem != "__init__"}
    unreached = sorted(modules - kgp_closure())
    assert not unreached, (
        f"{len(unreached)} kgp modules are reached by no pipeline, gate or "
        f"benchmark: {', '.join(unreached)}")


def test_every_pipeline_definition_is_reached():
    pipelines = kgp_closure([KGP / "pipeline.py", KGP / "datapipeline.py"])
    pipelines |= {"pipeline", "datapipeline"}
    unreached = unreached_definitions(list(_roots()),
                                      sorted(KGP.glob("*.py")))
    missing = [(m, name) for m, name in unreached
               if m in pipelines and (m, name) not in ORACLES]
    assert not missing, (
        f"{len(missing)} definitions in the pipelines' modules are "
        f"reached by no pipeline, gate or benchmark: "
        + ", ".join(f"{m}.{n}" for m, n in missing))
    # an oracle entry names a live, still unreached definition and the
    # test that compares against it
    for (module, name), test in ORACLES.items():
        assert (module, name) in unreached, (module, name)
        path, func = test.split("::")
        assert f"def {func}(" in (ROOT / path).read_text(), test


def test_every_pipeline_assignment_is_read():
    pipelines = kgp_closure([KGP / "pipeline.py", KGP / "datapipeline.py"])
    pipelines |= {"pipeline", "datapipeline"}
    # what an oracle definition reads stays with it
    unread = unread_assignments(
        list(_roots()), sorted(KGP.glob("*.py")),
        sorted(KGP / f"{m}.py" for m in pipelines),
        kept=[name for _, name in ORACLES])
    assert not unread, (
        f"{len(unread)} module-level names in the pipelines' modules are "
        f"read by no pipeline, gate or benchmark: "
        + ", ".join(f"{m}.{n}" for m, n in unread))
