"""Every kgp module is reached from a pipeline, a gate or a benchmark.

The closure is computed from the AST alone (no import runs, no Spark
session starts): start at the two pipelines, the gate entry point
(`__spark_entry__.py`), `bench.py`, `bench/` and the non-test files of
`perfbench/`, and follow every `import kgp.x`, `from kgp.x import ...`
and `from kgp import a, b` — module level or inside a function — through
the kgp modules reached. A kgp module outside the closure is code that
only its own tests run; delete it or wire it into a stage.
"""
import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KGP = ROOT / "kgp"


def _roots():
    yield KGP / "pipeline.py"
    yield KGP / "datapipeline.py"
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "bench").glob("*.py"))
    yield from sorted(p for p in (ROOT / "perfbench").glob("*.py")
                      if not p.name.startswith("test_"))


def kgp_imports(path):
    """Names of the kgp modules `path` imports, in any of the three forms."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
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


def kgp_closure():
    seen, todo = set(), list(_roots())
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


def test_import_forms_are_followed(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("import kgp.alpha\nimport kgp.beta as b\n"
                   "from kgp.gamma import f\nfrom kgp import delta, epsilon\n"
                   "import os\nfrom os import path\n"
                   "def g():\n    from kgp.zeta import h\n")
    assert kgp_imports(src) == {"alpha", "beta", "gamma", "delta", "epsilon",
                                "zeta"}


def test_every_kgp_module_is_reached():
    modules = {p.stem for p in KGP.glob("*.py") if p.stem != "__init__"}
    unreached = sorted(modules - kgp_closure())
    assert not unreached, (
        f"{len(unreached)} kgp modules are reached by no pipeline, gate or "
        f"benchmark: {', '.join(unreached)}")
