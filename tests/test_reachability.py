"""Every ot_spark module, every module-level name and every defaulted
parameter of the program is reached from the program's entry points.

Three static walks (no Spark, nothing imported), all from the same roots:
``bench.py``, ``submit.py``, ``tools/*.py`` and the benchmark's non-test
``perfbench/*.py``, plus the driver contract in ``__spark_entry__.py``.

- Modules: follow each ``import``/``from ... import`` that names a file in
  this repo — including imports inside functions — and require that every
  module under ``ot_spark/`` is in the closure.
- Names: every module-level ``def``, ``class`` and assigned constant in
  ``ot_spark/``, ``gate_queries/`` and ``__spark_entry__.py`` must be used
  by reached code, or be on ``ALLOWED`` with a one-line reason.  Names
  resolve per module: a bare name is its own module's definition or what
  an import bound it to, and ``mod.attr`` is ``attr`` of that module; an
  attribute of anything else names no module-level definition.  Reached
  code is the whole of each root file, every module's import-time
  statements, and the body of each reached or allowed definition.
- Methods: a method (other than a dunder, which Python calls implicitly)
  of a reached class must be named as an attribute (``obj.method``) by
  reached code, or be on ``ALLOWED`` as ``module.Class.method``.  Methods
  match by name, whatever the object's type; a reached class's own code
  is its bases, decorators, class-level statements and dunder methods,
  and a method's body counts only once the method is reached.
- Parameters: every defaulted parameter of a module-level def or method
  in those files must be passed a value other than its default literal
  by some call in program code (the roots, ``ot_spark/`` and
  ``gate_queries/``), or be on ``ALLOWED_PARAMS`` with a one-line reason.
  A parameter only one value reaches is a constant.

A module, function or option only tests reach is dead code; these are the
checks that find it.
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
    "ot_spark.launch._train": "run by name in a child interpreter (`python -c`)",
    "ot_spark.launch._workload": "run by name in a child interpreter (`python -c`)",
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


# Defaulted parameters no program call sets that stay, each with why.
ALLOWED_PARAMS: dict[str, str] = {
    "ot_spark.session.get_spark(master)": "deployment setting: the master a deployment runs on",
    "ot_spark.session.get_spark(shuffle_partitions)": "deployment setting: sized to the cluster",
    "ot_spark.lineage.write_with_lineage(audit_input)": "safety check: recompute input facts at validation scale",
    "ot_spark.webtext.dedup.substring_dup_pairs(key_mode)": '"span" is the reference the hashed keys are tested against',
    "ot_spark.webtext.dedup.connected_components(max_iters)": "convergence guard: tests cap the rounds below convergence to pin the error",
    "ot_spark.s2h3.s2_cell_ids(level)": "spatial_enrich passes it through the local name ``encode``",
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

Target = tuple[str, "str | None"]  # (module, name), or (module, None): the module


def _methods(c: ast.ClassDef) -> dict[str, ast.AST]:
    """A class's methods that are called by name (not dunders)."""
    return {
        f.name: f for f in c.body
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)) and not f.name.startswith("__")
    }


def _top_level(tree: ast.Module) -> tuple[dict[str, list[ast.AST]], list[ast.AST]]:
    """(defined name -> the code that belongs to it, the other import-time
    statements).  A class's code leaves out its named methods.  Dunder
    names (``__version__``) are not definitions."""
    defs: dict[str, list[ast.AST]] = {}
    free: list[ast.AST] = []
    for s in tree.body:
        if isinstance(s, ast.ClassDef):
            methods = _methods(s).values()
            shell = s.decorator_list + s.bases + s.keywords
            defs.setdefault(s.name, []).extend(shell + [b for b in s.body if b not in methods])
            continue
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
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


def _bindings(mod: str | None, tree: ast.Module, modules: set[str]) -> dict[str, set[Target]]:
    """Local name -> what the file's imports (at any depth) bind it to.
    Only imports of ``modules`` count; relative ones resolve against the
    package of ``mod`` (a package's own name when ``mod`` is one)."""
    out: dict[str, set[Target]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname is None:  # ``import a.b`` binds ``a``
                    local = target = a.name.partition(".")[0]
                else:
                    local, target = a.asname, a.name
                if target in modules:
                    out.setdefault(local, set()).add((target, None))
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                assert mod is not None, "relative import outside a package"
                is_pkg = any(m.startswith(mod + ".") for m in modules)
                pkg = mod if is_pkg else mod.rpartition(".")[0]
                anchor = pkg.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            for a in node.names:
                sub = f"{base}.{a.name}"
                if sub in modules:
                    out.setdefault(a.asname or a.name, set()).add((sub, None))
                elif base in modules:
                    out.setdefault(a.asname or a.name, set()).add((base, a.name))
    return out


def _refs(node: ast.AST, binds: dict[str, set[Target]], own: str | None,
          own_defs: dict[str, list[ast.AST]], modules: set[str]) -> set[Target]:
    """What the code under ``node`` names, resolved in its module: a bare
    name is the module's own definition or an import binding, and
    ``mod.attr`` (a chain through packages too) is ``attr`` of ``mod``.
    An attribute of anything else (``obj.attr``) names no module-level
    definition."""
    out: set[Target] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out |= binds.get(n.id, set())
            if n.id in own_defs:
                out.add((own, n.id))
        elif isinstance(n, ast.Attribute):
            chain = [n.attr]
            base = n.value
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if not isinstance(base, ast.Name):
                continue
            for mod, name in binds.get(base.id, set()):
                if name is not None:
                    continue
                for attr in reversed(chain):
                    if f"{mod}.{attr}" in modules:
                        mod = f"{mod}.{attr}"
                        continue
                    out.add((mod, attr))
                    break
    return out


def unreached_names(
    checked: dict[str, ast.Module], roots: list[ast.Module], allowed: set[str]
) -> list[str]:
    """Qualified names (``module.name``, ``module.Class.method``)
    ``checked`` defines that neither ``roots`` nor the code they reach
    uses, minus ``allowed`` — which are walked as roots themselves.  A
    method of an unreached class is not listed: its class is."""
    modules = set(checked)
    tables = {}
    todo: list[tuple[str | None, ast.AST]] = [(None, r) for r in roots]
    defined: set[str] = set()
    # class (module, name) -> its methods as (qualified name, method name, node)
    methods: dict[Target, list[tuple[str, str, ast.AST]]] = {}
    for mod, tree in checked.items():
        defs, free = _top_level(tree)
        tables[mod] = (defs, _bindings(mod, tree, modules))
        todo += [(mod, s) for s in free]
        for name, nodes in defs.items():
            defined.add(f"{mod}.{name}")
            if f"{mod}.{name}" in allowed:
                todo += [(mod, s) for s in nodes]
        for c in tree.body:
            if isinstance(c, ast.ClassDef):
                for m, node in _methods(c).items():
                    methods.setdefault((mod, c.name), []).append((f"{mod}.{c.name}.{m}", m, node))
    root_binds = {id(r): _bindings(None, r, modules) for r in roots}
    reached: set[Target] = set()
    reached_methods: set[str] = set()
    attrs: set[str] = set()  # attribute names reached code uses
    waiting: dict[str, list[tuple[str, str, ast.AST]]] = {}  # method name -> reach_method args

    def reach_method(mod: str, qual: str, node: ast.AST) -> None:
        if qual not in reached_methods:
            reached_methods.add(qual)
            todo.append((mod, node))

    def reach(target: Target) -> None:
        if target in reached:
            return
        reached.add(target)
        mod, name = target
        if name is not None:
            defs, binds = tables[mod]
            todo.extend((mod, s) for s in defs.get(name, []))
            for qual, m, node in methods.get(target, []):
                if m in attrs or qual in allowed:
                    reach_method(mod, qual, node)
                else:
                    waiting.setdefault(m, []).append((mod, qual, node))
            # a package re-exporting an imported name reaches its source
            for via in binds.get(name, set()):
                reach(via)

    while todo:
        mod, node = todo.pop()
        defs, binds = tables[mod] if mod is not None else ({}, root_binds[id(node)])
        for target in _refs(node, binds, mod, defs, modules):
            reach(target)
        for n in ast.walk(node):
            if isinstance(n, ast.Attribute) and n.attr not in attrs:
                attrs.add(n.attr)
                for args in waiting.pop(n.attr, []):
                    reach_method(*args)
    unreached = [q for q in defined - allowed if tuple(q.rsplit(".", 1)) not in reached]
    unreached += [
        qual for cls, ms in methods.items() if cls in reached
        for qual, _, _ in ms if qual not in reached_methods | allowed
    ]
    return sorted(unreached)


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


# ------------------------------------------------------- the parameter walk

Param = tuple[str, str, ast.expr, "int | None"]  # (qualname, param, default, position)


def _defaulted_params(tree: ast.Module) -> list[tuple[set[str], Param]]:
    """(the names a call to it goes by, the parameter) for every defaulted
    parameter of a module-level def or of a method of a module-level class.
    The position is the positional argument that fills it (a method's
    ``self``/``cls`` is none), or None for a keyword-only parameter."""
    out = []
    funcs = [(f.name, {f.name}, f, 0) for f in tree.body if isinstance(f, ast.FunctionDef)]
    for c in tree.body:
        if not isinstance(c, ast.ClassDef):
            continue
        for f in c.body:
            if isinstance(f, ast.FunctionDef):
                static = any(getattr(d, "id", None) == "staticmethod" for d in f.decorator_list)
                names = {f.name, c.name} if f.name == "__init__" else {f.name}
                funcs.append((f"{c.name}.{f.name}", names, f, 0 if static else 1))
    for qual, names, f, skip in funcs:
        a = f.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, (arg, default) in enumerate(zip(positional[first:], a.defaults)):
            out.append((names, (qual, arg.arg, default, first + i - skip)))
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                out.append((names, (qual, arg.arg, default, None)))
    return out


def _calls(trees: list[ast.Module]) -> dict[str, list[ast.Call]]:
    """Calls by the name they call (``f(...)``, ``obj.f(...)``); a
    ``partial(f, ...)`` counts as a call of ``f``."""
    out: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            if getattr(n.func, "id", getattr(n.func, "attr", None)) == "partial" and n.args:
                n = ast.Call(func=n.args[0], args=n.args[1:], keywords=n.keywords)
            name = getattr(n.func, "id", getattr(n.func, "attr", None))
            if name is not None:
                out.setdefault(name, []).append(n)
    return out


def _same_literal(value: ast.expr, default: ast.expr) -> bool:
    try:
        a, b = ast.literal_eval(value), ast.literal_eval(default)
    except ValueError:
        return False
    return type(a) is type(b) and a == b


def _sets(call: ast.Call, param: str, default: ast.expr, position: int | None) -> bool:
    """Whether ``call`` may pass ``param`` a value other than its default:
    by keyword or position, or through ``**``/``*`` (which may carry it)."""
    for kw in call.keywords:
        if kw.arg is None:
            return True
        if kw.arg == param:
            return not _same_literal(kw.value, default)
    if position is None:
        return False
    for i, arg in enumerate(call.args[: position + 1]):
        if isinstance(arg, ast.Starred):
            return True
        if i == position:
            return not _same_literal(arg, default)
    return False


def never_set_params(
    checked: dict[str, ast.Module], program: list[ast.Module], allowed: set[str]
) -> list[str]:
    """``module.func(param)`` of every defaulted parameter in ``checked``
    that no call in ``program`` sets, minus ``allowed``.  Calls match by
    name, whichever module they are in, so a parameter of one of two
    same-named functions counts as set when either is called with it."""
    calls = _calls(program)
    out = []
    for mod, tree in checked.items():
        for names, (qual, param, default, position) in _defaulted_params(tree):
            if not any(
                _sets(c, param, default, position) for n in names for c in calls.get(n, [])
            ):
                out.append(f"{mod}.{qual}({param})")
    return sorted(set(out) - allowed)


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
    # a root's own parameter named like a dead def does not reach it
    root = ast.parse(
        "from pkg.lib import live, Kept\nprint(live(1), Kept)\n"
        "def run(test_only):\n    return test_only\n"
    )
    checked = {"pkg.lib": lib}
    assert unreached_names(checked, [root], set()) == [
        "pkg.lib._CACHE", "pkg.lib.test_only",
    ]
    # an allowed name is kept, and what it uses is reached through it
    assert unreached_names(checked, [root], {"pkg.lib.test_only"}) == []


def test_name_walk_flags_a_planted_test_only_method():
    lib = ast.parse(
        "class Index:\n"
        "    def __init__(self):\n        self.n = 0\n"
        "    def probe(self, x):\n        return self._hit(x)\n"
        "    def _hit(self, x):\n        return x\n"
        "    def trace(self, x):\n        return self._dump(x)\n"
        "    def _dump(self, x):\n        return x\n"
        "class Unused:\n"
        "    def probe(self):\n        return 0\n"
    )
    root = ast.parse("from pkg.lib import Index\nprint(Index().probe(1))\n")
    checked = {"pkg.lib": lib}
    # only a test calls trace; _dump is called only from trace's body, and
    # a method of an unreached class is listed as its class
    assert unreached_names(checked, [root], set()) == [
        "pkg.lib.Index._dump", "pkg.lib.Index.trace", "pkg.lib.Unused",
    ]
    # an allowed method is kept, and what it calls is reached through it
    assert unreached_names(checked, [root], {"pkg.lib.Index.trace"}) == ["pkg.lib.Unused"]


def test_every_allowed_name_exists_and_has_a_reason():
    defined = set()
    for mod, tree in _checked_modules().items():
        defined |= {f"{mod}.{name}" for name in _top_level(tree)[0]}
        defined |= {
            f"{mod}.{c.name}.{m}" for c in tree.body if isinstance(c, ast.ClassDef) for m in _methods(c)
        }
    stale = sorted(set(ALLOWED) - defined)
    assert not stale, f"ALLOWED names that no longer exist: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_every_module_level_name_is_reached():
    unreached = unreached_names(_checked_modules(), _root_trees(), set(ALLOWED))
    assert not unreached, (
        "module-level names and methods only tests reach (delete them, or add them to "
        f"ALLOWED with a reason): {unreached}"
    )


def test_parameter_walk_flags_a_planted_never_set_default():
    lib = ast.parse(
        "def f(x, a=1, b='id', *, c=None):\n    return x\n"
        "class K:\n    def m(self, y, z=2):\n        return y\n"
    )
    root = ast.parse(
        "from pkg.lib import f, K\n"
        "f(0, 5)\n"            # sets a by position
        "f(0, b='id')\n"       # the default literal: b stays unset
        "K().m(1, z=3)\n"      # a method: self is not a position
    )
    checked = {"pkg.lib": lib}
    program = [root, lib]
    assert never_set_params(checked, program, set()) == ["pkg.lib.f(b)", "pkg.lib.f(c)"]
    # an allowed entry is kept
    assert never_set_params(checked, program, {"pkg.lib.f(c)"}) == ["pkg.lib.f(b)"]
    # ``**`` may carry any keyword, so it counts as setting them all
    spread = ast.parse("from pkg.lib import f\nf(0, **opts)\n")
    assert never_set_params(checked, [root, spread], set()) == []


def test_every_allowed_param_exists_and_has_a_reason():
    params = {
        f"{mod}.{qual}({param})"
        for mod, tree in _checked_modules().items()
        for _, (qual, param, _, _) in _defaulted_params(tree)
    }
    stale = sorted(set(ALLOWED_PARAMS) - params)
    assert not stale, f"ALLOWED_PARAMS entries that no longer exist: {stale}"
    assert all(reason.strip() for reason in ALLOWED_PARAMS.values())


def test_every_defaulted_parameter_is_set_by_the_program():
    checked = _checked_modules()
    program = _root_trees() + list(checked.values())
    unset = never_set_params(checked, program, set(ALLOWED_PARAMS))
    assert not unset, (
        "defaulted parameters no program call sets (fold each into a constant, "
        f"or add it to ALLOWED_PARAMS with a reason): {unset}"
    )
