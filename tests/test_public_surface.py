"""Every public top-level name in ``ocr_spark/`` has a caller outside tests.

A function that only tests reach is either a test oracle, which belongs in
``tests/``, or dead code. This is a pure AST scan (no Spark): a name counts
as referenced when an ``ast.Name``, an ``ast.Attribute`` or an import alias
spells it anywhere in the engine, ``__spark_entry__.py``, ``bench.py`` or the
non-test ``perfbench/`` modules, outside the definition's own body.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "ocr_spark"

# Modules whose public names may have only test callers, each with its reason.
EXEMPT = {
    "golden.py": "the serial oracle that the byte-identity tests compare against",
    "streaming/ingest.py": "the streaming dedup ingest, whose job wiring waits "
                           "on the url/doc_id input-key decision",
}


def _caller_files():
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    return files


def _names(node):
    """Names spelt by ``ast.Name``, ``ast.Attribute`` or an import alias."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreferenced_public_names():
    """``module:line name`` of each public top-level def/class in
    ``ocr_spark/`` that no top-level statement other than its own
    definition references."""
    statements = []
    for path in _caller_files():
        statements += [(path, s) for s in ast.parse(path.read_text()).body]
    spelt = [(s, _names(s)) for _, s in statements]
    missing = []
    for path, node in statements:
        rel = path.relative_to(ROOT).as_posix()
        if (not rel.startswith("ocr_spark/") or rel[len("ocr_spark/"):] in EXEMPT
                or not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                         ast.ClassDef))
                or node.name.startswith("_")):
            continue
        if not any(node.name in names for s, names in spelt if s is not node):
            missing.append(f"{rel}:{node.lineno} {node.name}")
    return missing


def test_every_public_name_has_a_non_test_caller():
    stale = [rel for rel in EXEMPT if not (PKG / rel).is_file()]
    assert not stale, f"exempt modules that no longer exist: {stale}"
    missing = unreferenced_public_names()
    assert not missing, (
        "public names in ocr_spark/ that only tests reach (move an oracle "
        "into tests/, delete dead code):\n  " + "\n  ".join(missing))
