"""Every ot_spark module, and every module-level name of the program, is
reached from the program's entry points.

Two static walks (no Spark, nothing imported), both from the same roots:
``bench.py``, ``submit.py``, ``tools/*.py`` and the benchmark's non-test
``perfbench/*.py``, plus the driver contract in ``__spark_entry__.py``.

- Modules: follow each ``import``/``from ... import`` that names a file in
  this repo — including imports inside functions — and require that every
  module under ``ot_spark/`` is in the closure.
- Names: every module-level ``def``, ``class`` and assigned constant in
  ``ot_spark/``, ``gate_queries/`` and ``__spark_entry__.py`` must be used
  by reached code, or be on ``ALLOWED`` with a one-line reason.  The walk
  is by name: a definition is reached when any reached code mentions its
  name (a bare name or an attribute), whichever module that code is in, so
  it errs toward keeping code.  Reached code is the whole of each root
  file, every module's import-time statements, and the body of each
  reached or allowed definition.

A module or function only tests reach is dead code; these are the checks
that find it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ot_spark"

# Module-level names no root file reaches but that stay, each with why.
# Every entry is a root of the name walk: what it uses is reached too.
ALLOWED: dict[str, str] = {
    "__spark_entry__.entry": "driver contract: the driver calls it by name",
    "__spark_entry__.queries": "driver contract: the driver calls it by name",
    "__spark_entry__.oracle_sql": "driver contract: the driver calls it by name",
    "ot_spark.cds._train": "run by name in a child interpreter (`python -c`)",
    "ot_spark.cds._workload": "run by name in a child interpreter (`python -c`)",
    "ot_spark.h3x.h3x_parent": "numpy parent truncation the JVM h3x_parent_col is tested against",
    "ot_spark.webtext.simsearch._dot": "Column-built dot product the unrolled kernel is tested against",
    "ot_spark.webtext.simsearch._l2sq": "Column-built squared L2 the unrolled kernel is tested against",
    "ot_spark.webtext.simsearch.cosine_col": "Column-built cosine the literal-query kernel is tested against",
    "ot_spark.webtext.textstats._run_stats": "Column-built repetition stats the fused path is tested against",
    "ot_spark.webtext.textstats.ngrams_col": "array n-grams the hashed path is tested against",
    "ot_spark.webtext.textstats._rolling_over_hashes": "rolling-hash reference the fused fingerprint is tested against",
    "ot_spark.srs.tm_inverse": "inverse the forward transverse Mercator is round-trip tested against",
    "ot_spark.srs.webmercator_inverse": "inverse the forward web Mercator is round-trip tested against",
    "ot_spark.lineage.verify_against_lineage": "post-commit integrity audit for operators",
    "ot_spark.lineage.orphan_files": "orphan listing for table maintenance",
    "ot_spark.lineage.remove_orphans": "orphan reclamation for table maintenance",
    "ot_spark.synth.write_fixture_dir": "writes the test fixture tables",
    "ot_spark.synth.ATTR_TRUTH_TABLE": "truth table of the fixture's page attributes",
    "ot_spark.synth.ACCEPTED_MODS": "truth table: fixture pages complex_filter keeps",
    "ot_spark.synth.LINK_ACCEPTED_MODS": "truth table: fixture links the semi-join keeps",
    "ot_spark.synth.LINK_SKIP_ELE_MODS": "truth table: fixture links marked skip-elevation",
}


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "submit.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
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


# ------------------------------------------------------------ the name walk

def _top_level(tree: ast.Module) -> tuple[dict[str, list[ast.AST]], list[ast.AST]]:
    """(defined name -> the statements whose code belongs to it, the other
    import-time statements).  Dunder names (``__version__``) are not
    definitions."""
    defs: dict[str, list[ast.AST]] = {}
    free: list[ast.AST] = []
    for s in tree.body:
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [s.name]
        elif isinstance(s, (ast.Assign, ast.AnnAssign)):
            targets = s.targets if isinstance(s, ast.Assign) else [s.target]
            names = [
                n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name) and not n.id.startswith("__")
            ]
        else:
            names = []
        for name in names:
            defs.setdefault(name, []).append(s)
        if not names:
            free.append(s)
    return defs, free


def _uses(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def unreached_names(
    checked: dict[str, ast.Module], roots: list[ast.Module], allowed: set[str]
) -> list[str]:
    """Qualified names (``module.name``) ``checked`` defines that neither
    ``roots`` nor the code they reach uses, minus ``allowed`` — which are
    walked as roots themselves."""
    by_name: dict[str, list[ast.AST]] = {}
    todo: list[ast.AST] = list(roots)
    defined: set[str] = set()
    for mod, tree in checked.items():
        defs, free = _top_level(tree)
        todo += free
        for name, nodes in defs.items():
            defined.add(f"{mod}.{name}")
            by_name.setdefault(name, []).extend(nodes)
            if f"{mod}.{name}" in allowed:
                todo += nodes
    used: set[str] = set()
    while todo:
        fresh = _uses(todo.pop()) - used
        used |= fresh
        for name in fresh:
            todo += by_name.get(name, [])
    return sorted(q for q in defined - allowed if q.rpartition(".")[2] not in used)


def _checked_modules() -> dict[str, ast.Module]:
    files = [ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / PACKAGE).rglob("*.py"))
    files += sorted((ROOT / "gate_queries").glob("*.py"))
    out = {}
    for path in files:
        rel = path.relative_to(ROOT).with_suffix("").parts
        name = ".".join(rel[:-1] if rel[-1] == "__init__" else rel)
        out[name] = ast.parse(path.read_text(), filename=str(path))
    return out


def _root_trees() -> list[ast.Module]:
    return [
        ast.parse(p.read_text(), filename=str(p))
        for p in _entry_files() if p.name != "__spark_entry__.py"
    ]


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


def test_name_walk_flags_a_planted_test_only_def():
    lib = ast.parse(
        "LIMIT = 3\n"
        "_CACHE = {}\n"
        "def helper(x):\n    return x + LIMIT\n"
        "def live(x):\n    return helper(x)\n"
        "def test_only(x):\n    return _CACHE.get(x)\n"
        "class Kept:\n    pass\n"
    )
    root = ast.parse("from pkg.lib import live, Kept\nprint(live(1), Kept)\n")
    checked = {"pkg.lib": lib}
    assert unreached_names(checked, [root], set()) == [
        "pkg.lib._CACHE", "pkg.lib.test_only",
    ]
    # an allowed name is kept, and what it uses is reached through it
    assert unreached_names(checked, [root], {"pkg.lib.test_only"}) == []


def test_every_allowed_name_exists_and_has_a_reason():
    defined = {
        f"{mod}.{name}"
        for mod, tree in _checked_modules().items()
        for name in _top_level(tree)[0]
    }
    stale = sorted(set(ALLOWED) - defined)
    assert not stale, f"ALLOWED names that no longer exist: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_every_module_level_name_is_reached():
    unreached = unreached_names(_checked_modules(), _root_trees(), set(ALLOWED))
    assert not unreached, (
        "module-level names only tests reach (delete them, or add them to "
        f"ALLOWED with a reason): {unreached}"
    )
