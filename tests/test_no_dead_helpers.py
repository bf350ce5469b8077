"""Static guards over the package source (AST only, no Spark session).

* Every top-level function in ``arcticdb_spark/extensions``,
  ``arcticdb_spark/plans``, ``arcticdb_spark/operators`` and the modules
  ``expr``, ``query``, ``arrowread``, ``arrowwrite`` and ``arrowquery``
  has a caller: its name appears as an ``ast.Name`` or ``ast.Attribute``
  somewhere in the package, the entry module, the bench, ``tools/``,
  ``perfbench/`` or ``tests/``, outside its own definition. Strings,
  comments and imports do not count.
* Every module-level UPPER_CASE constant anywhere in the package is read
  somewhere in that same scope: a load of its name as an ``ast.Name`` or
  ``ast.Attribute`` (the assignment itself does not count).
* Nothing in the package calls ``threading.local()``: per-thread hidden
  state outlives the call that filled it (a pool thread pins whatever it
  last stored), so state is passed explicitly instead.
* Every name that the entry module, the bench, ``tools/`` and
  ``perfbench/`` read from an ``arcticdb_spark`` module (a
  ``from ... import`` name, or an attribute of a module alias) is bound
  at that module's top level, and every keyword they pass to a function
  of it is one of its parameters. Nothing else runs these scripts, so a
  deleted name or parameter would otherwise strand them silently.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "arcticdb_spark"


def _py_files(*paths: Path) -> list[Path]:
    out = []
    for p in paths:
        if p.is_file():
            out.append(p)
        elif p.is_dir():
            out.extend(sorted(p.rglob("*.py")))
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _references(path: Path):
    """(name, enclosing top-level def name or None) for every Name and
    Attribute in ``path``."""
    tree = _parse(path)
    for top in tree.body:
        owner = (top.name if isinstance(top, (ast.FunctionDef,
                                              ast.AsyncFunctionDef,
                                              ast.ClassDef)) else None)
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                yield node.id, owner
            elif isinstance(node, ast.Attribute):
                yield node.attr, owner


SCANNED = (PKG / "extensions", PKG / "plans", PKG / "operators",
           PKG / "expr.py", PKG / "query.py", PKG / "arrowread.py",
           PKG / "arrowwrite.py", PKG / "arrowquery.py")


def test_extension_and_plan_helpers_have_callers():
    defined = []   # (module path, function name)
    for path in _py_files(*SCANNED):
        for top in _parse(path).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defined.append((path, top.name))
    assert defined

    scope = _scope()
    # name -> set of (file, enclosing def) places it is referenced from
    refs: dict[str, set] = {}
    for path in scope:
        for name, owner in _references(path):
            refs.setdefault(name, set()).add((path, owner))

    dead = [f"{path.relative_to(ROOT)}::{name}"
            for path, name in defined
            if not (refs.get(name, set()) - {(path, name)})]
    assert not dead, f"functions with no caller: {dead}"


def _scope() -> list[Path]:
    return _py_files(PKG, ROOT / "__spark_entry__.py", ROOT / "bench.py",
                     ROOT / "tools", ROOT / "perfbench", ROOT / "tests")


def test_package_constants_are_read():
    const = re.compile(r"^_?[A-Z][A-Z0-9_]*$")
    defined = []   # (module path, constant name)
    for path in _py_files(PKG):
        for top in _parse(path).body:
            targets = (top.targets if isinstance(top, ast.Assign) else
                       [top.target] if isinstance(top, ast.AnnAssign) else [])
            defined.extend((path, t.id) for t in targets
                           if isinstance(t, ast.Name) and const.match(t.id))
    assert defined

    reads = set()
    for path in _scope():
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                reads.add(node.id)
            elif (isinstance(node, ast.Attribute)
                  and isinstance(node.ctx, ast.Load)):
                reads.add(node.attr)

    unread = [f"{path.relative_to(ROOT)}::{name}"
              for path, name in defined if name not in reads]
    assert not unread, f"constants nothing reads: {unread}"


def test_package_uses_no_thread_locals():
    offenders = []
    for path in _py_files(PKG):
        tree = _parse(path)
        # names bound to the threading module / its local class
        mod_names, local_names = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == "threading":
                        mod_names.add(a.asname or a.name)
            elif isinstance(node, ast.ImportFrom) and node.module == "threading":
                for a in node.names:
                    if a.name == "local":
                        local_names.add(a.asname or a.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if ((isinstance(f, ast.Attribute) and f.attr == "local"
                 and isinstance(f.value, ast.Name) and f.value.id in mod_names)
                    or (isinstance(f, ast.Name) and f.id in local_names)):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not offenders, f"threading.local() calls: {offenders}"


CONSUMERS = (ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "tools",
             ROOT / "perfbench")


def _module_source(module: str) -> Path | None:
    """The source file of dotted package module ``module``, if any."""
    base = ROOT.joinpath(*module.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


@functools.lru_cache(maxsize=None)
def _top_level(path: Path) -> tuple[frozenset, dict]:
    """(names bound at the top level of ``path``, its top-level functions
    by name). A package's submodules count as its names."""
    names = set()
    if path.name == "__init__.py":
        names |= {p.stem for p in path.parent.glob("*.py")}
        names |= {p.name for p in path.parent.iterdir()
                  if (p / "__init__.py").is_file()}
    funcs, todo = {}, list(_parse(path).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(node.name)
            funcs[node.name] = node
        elif isinstance(node, ast.ClassDef):
            names.add(node.name)
        else:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names |= {(a.asname or a.name).split(".")[0]
                          for a in node.names}
            elif isinstance(node, ast.Name) and isinstance(node.ctx,
                                                           ast.Store):
                names.add(node.id)
            todo.extend(ast.iter_child_nodes(node))
    return frozenset(names), funcs


def _package_refs(tree: ast.Module):
    """(node, module, name) for every name ``tree`` reads from an
    ``arcticdb_spark`` module: each ``from <module> import <name>``, each
    ``<alias>.<name>`` on a module alias, and each call of either (the
    node is then the Call)."""
    modules, funcs = {}, {}   # local name -> module / (module, name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules.update((a.asname or a.name, a.name) for a in node.names
                           if a.name.startswith("arcticdb_spark")
                           and (a.asname or "." not in a.name))
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and (node.module or "").startswith("arcticdb_spark")):
            for a in node.names:
                yield node, node.module, a.name
                sub = f"{node.module}.{a.name}"
                if _module_source(sub):
                    modules[a.asname or a.name] = sub
                else:
                    funcs[a.asname or a.name] = (node.module, a.name)
    for node in ast.walk(tree):
        f = node.func if isinstance(node, ast.Call) else node
        if (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                and f.value.id in modules):
            yield node, modules[f.value.id], f.attr
        elif (isinstance(node, ast.Call) and isinstance(f, ast.Name)
              and f.id in funcs):
            yield (node, *funcs[f.id])


def test_scripts_use_only_existing_package_names():
    stale = []
    for path in _py_files(*CONSUMERS):
        for node, module, name in _package_refs(_parse(path)):
            src = _module_source(module)
            names, funcs = _top_level(src) if src else (frozenset(), {})
            where = f"{path.relative_to(ROOT)}:{node.lineno} {module}.{name}"
            if name not in names and not name.startswith(("*", "__")):
                stale.append(where)
            elif isinstance(node, ast.Call) and name in funcs:
                fn = funcs[name]
                params = {a.arg for a in (*fn.args.posonlyargs,
                                          *fn.args.args,
                                          *fn.args.kwonlyargs)}
                stale += [f"{where}({k.arg}=)" for k in node.keywords
                          if fn.args.kwarg is None and k.arg is not None
                          and k.arg not in params]
    assert not stale, f"names or parameters the package lacks: {stale}"
