"""Every ot_spark module is reached from the program's entry points.

A static walk over import statements (no Spark, nothing imported): start
at the driver contract (``__spark_entry__.py``), ``bench.py``,
``submit.py`` and the benchmark's non-test ``perfbench/*.py``, follow
each ``import``/``from ... import`` that names a file in this repo —
including imports inside functions — and require that every module under
``ot_spark/`` is in the closure.  A module only tests import is dead
code; this is the check that finds it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ot_spark"


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "submit.py"]
    files += sorted(
        p for p in (ROOT / "perfbench").glob("*.py")
        if not p.name.startswith("test_") and p.name != "conftest.py"
    )
    return files


def _module_file(name: str, search: list[Path]) -> Path | None:
    rel = Path(*name.split("."))
    for base in search:
        for cand in (base / rel.with_suffix(".py"), base / rel / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _module_name(path: Path) -> str | None:
    """Dotted name of a file under ot_spark/, else None."""
    rel = path.relative_to(ROOT)
    if rel.parts[0] != PACKAGE:
        return None
    parts = rel.with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: Path) -> set[str]:
    """Absolute dotted names one file imports: ``from a import b`` yields
    ``a`` and ``a.b`` (b may be a submodule); relative imports resolve
    against the file's package."""
    tree = ast.parse(path.read_text(), filename=str(path))
    own = _module_name(path)
    pkg = None
    if own is not None:
        pkg = own if path.name == "__init__.py" else own.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                assert pkg is not None, f"relative import outside a package: {path}"
                anchor = pkg.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def reached_modules() -> set[str]:
    seen: set[Path] = set()
    todo = _entry_files()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        # a script's own directory is on sys.path; a package module's is not
        search = [ROOT] if _module_name(path) else [path.parent, ROOT]
        for name in _imported_names(path):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]), search)
                if found is not None and found not in seen:
                    todo.append(found)
    return {m for m in map(_module_name, seen) if m is not None}


def all_modules() -> set[str]:
    return {_module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")}


def test_walk_resolves_relative_and_function_level_imports():
    # ``from .dedup import ...`` inside a webtext module
    textstats = _imported_names(ROOT / PACKAGE / "webtext" / "textstats.py")
    assert "ot_spark.webtext.dedup" in textstats
    # query builders import their operators inside the function body
    vectors = _imported_names(ROOT / "gate_queries" / "vectors.py")
    assert "ot_spark.webtext.simsearch" in vectors
    # a reached submodule reaches its packages
    reached = reached_modules()
    assert {PACKAGE, "ot_spark.webtext"} <= reached


def test_every_ot_spark_module_is_reached():
    unreached = sorted(all_modules() - reached_modules())
    assert not unreached, (
        f"modules no entry point imports (wire them in or delete them): {unreached}"
    )
