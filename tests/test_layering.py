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


REPO = PKG.parent
#: every Python file that may use a package definition
USER_FILES = sorted(
    [*PKG.rglob("*.py"), *(REPO / "tests").rglob("*.py"),
     *(REPO / "scripts").rglob("*.py"), *(REPO / "perfbench").rglob("*.py"),
     REPO / "bench.py", REPO / "__spark_entry__.py"])


def _names_used(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_package_definition_is_used():
    """Every module-level function and class in the package is reachable:
    named by module-level code, by a test, script, benchmark or the entry
    module, or by the body of another reachable definition.  A helper
    that only a dead helper calls is dead too."""
    defined: dict[str, list[str]] = {}     # name -> defining modules
    uses_of: dict[str, set[str]] = {}      # name -> names its bodies use
    live: set[str] = set()
    for path in USER_FILES:
        tree = ast.parse(path.read_text(), filename=str(path))
        if PKG not in path.parents:
            live |= _names_used(tree)
            continue
        rel = str(path.relative_to(REPO))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defined.setdefault(node.name, []).append(rel)
                uses_of.setdefault(node.name, set()).update(
                    _names_used(node))
            else:
                live |= _names_used(node)
    todo = list(live)
    while todo:
        name = todo.pop()
        for used in uses_of.pop(name, ()):
            if used not in live:
                live.add(used)
                todo.append(used)
    dead = sorted(f"{mod}:{name}" for name, mods in defined.items()
                  if name not in live
                  and not (name.startswith("__") and name.endswith("__"))
                  for mod in mods)
    assert not dead, f"unused package definitions: {dead}"


#: the codec's list, position and VInt/bitpack (de)coders: only the codec
#: itself and the postings row helpers may name them, so the chunk-row
#: format has one writer and one reader
ROW_FORMAT_CODERS = {"encode_postings", "decode_postings", "encode_positions",
                     "decode_positions", "vint_decode", "bitunpack"}
ROW_HELPERS = {"index/build.py": {"posting_chunks", "decode_chunk",
                                  "decode_sentinel"}}


def _coder_uses(tree) -> list[tuple[str, int]]:
    """(enclosing module-level definition, line) of every name or
    attribute reference to a ROW_FORMAT_CODERS member."""
    out = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            name = n.id if isinstance(n, ast.Name) else \
                n.attr if isinstance(n, ast.Attribute) else None
            if name in ROW_FORMAT_CODERS:
                out.append((owner, n.lineno))
    return out


def test_only_the_row_helpers_use_the_postings_coders():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "index/codec.py":
            continue
        allowed = ROW_HELPERS.get(rel, set())
        bad += [f"{rel}:{line} ({owner})" for owner, line in
                _coder_uses(ast.parse(path.read_text(), filename=str(path)))
                if owner not in allowed]
    assert not bad, f"chunk-row format decoded/encoded outside the " \
        f"row helpers: {bad}"


def test_only_the_codec_knows_the_block_layout():
    """The VInt tail marker — and with it each block's byte offset — is
    known only in ``index/codec.py``; WAND and the decoders ask
    ``codec.block_offsets`` and ``codec.decode_block``."""
    bad = [rel for rel, path in ((str(p.relative_to(PKG)), p)
                                 for p in sorted(PKG.rglob("*.py")))
           if rel != "index/codec.py"
           and "VINT_MARKER" in _names_used(ast.parse(path.read_text()))]
    assert not bad, f"VINT_MARKER named outside the codec: {bad}"
