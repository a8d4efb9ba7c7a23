"""Engine/pipeline boundary: the index and query engine never depend on
the training-data pipeline operators (``tantivy_spark.pipeline``), so the
pipeline can be split out or dropped without touching the engine.  Checks
the source of every engine module, function-local imports included."""

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "tantivy_spark"
ENGINE_MODULES = sorted(p for d in ("index", "query")
                        for p in (PKG / d).rglob("*.py"))


def _imported_modules(path: pathlib.Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:      # relative: resolve against the package
                parts = path.relative_to(PKG.parent).with_suffix("").parts
                base = ".".join(parts[:len(parts) - node.level])
                mod = f"{base}.{node.module}" if node.module else base
            else:
                mod = node.module
            out += [mod] + [f"{mod}.{a.name}" for a in node.names]
    return out


def test_engine_modules_found():
    names = {p.name for p in ENGINE_MODULES}
    assert {"build.py", "merge.py", "exact.py", "wand.py"} <= names


@pytest.mark.parametrize("path", ENGINE_MODULES,
                         ids=lambda p: f"{p.parent.name}/{p.name}")
def test_engine_does_not_import_pipeline(path):
    bad = [m for m in _imported_modules(path)
           if m == "tantivy_spark.pipeline"
           or m.startswith("tantivy_spark.pipeline.")]
    assert not bad, f"{path.name} imports {bad}"
