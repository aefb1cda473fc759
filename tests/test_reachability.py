"""Dead-code guard: every module-level definition in the package is reached
from the engine's surface, or is listed in KEEP with the reason it stays.

The surface (the roots of the closure):
- every ``@query``- or UDF-decorated definition, and every module-level
  statement that is neither a definition nor an import;
- the public names of ``pipeline``, ``session``, ``config``, ``sources/*``,
  ``streaming/*`` and the package ``__init__``;
- every name that ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and
  ``tools_r10/`` mention.

Reached code reaches a definition by naming it: as an identifier, an
attribute or an identifier-like string constant. Names match across
modules without qualification, so the closure can only over-count what is
reached; a definition it leaves out is dead. Tests are not roots, so code
that only its own tests call counts as dead. Pure ``ast``: no Spark.

A second check covers what the closure does not see: module-level names
bound by an import or an assignment that nothing reads.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "custom_python_etl_data_connector_keerthana2k4_tech_spark"

KEEP = {
    "operators.upsert.upsert_mongo": "the reference's sink: replace_one by key (etl_connector.py:167-191)",
    "operators.upsert.upsert_delta": "the reference's keyed upsert as one Delta MERGE (etl_connector.py:167-191)",
    "multimodal.ops._png_encode": "builds PNG inputs for the live decoders' tests",
    "multimodal.ops._bmp_encode": "builds BMP inputs for the live decoders' tests",
    "multimodal.ops._gif_encode": "builds GIF inputs for the live decoders' tests",
    "otx_fixture.raw_pulses_df": "test fixture: OTX-shaped raw pulse rows",
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")
_ROOT_DECORATORS = {"query", "udf", "udtf", "pandas_udf"}
_PUBLIC_MODULES = {("pipeline",), ("session",), ("config",), ("__init__",)}
_PUBLIC_DIRS = {"sources", "streaming"}
_EXTERNAL = ["__spark_entry__.py", "bench.py", "perfbench", "tools_r10"]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _decorator_name(d: ast.expr) -> str | None:
    f = d.func if isinstance(d, ast.Call) else d
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _closure() -> tuple[set[str], set[str]]:
    """(every module-level definition, the reached ones), as
    ``module.name`` relative to the package."""
    by_name: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[tuple[str, ast.AST]] = []
    root_names: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG).with_suffix("").parts
        public = parts in _PUBLIC_MODULES or parts[0] in _PUBLIC_DIRS
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = ".".join(parts + (st.name,))
                by_name.setdefault(st.name, []).append((key, st))
                decorated = any(_decorator_name(d) in _ROOT_DECORATORS for d in st.decorator_list)
                if decorated or (public and not st.name.startswith("_")):
                    roots.append((key, st))
            # An import names nothing by itself: a re-export stays alive
            # only through ``__all__`` or a caller.
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                root_names |= _names(st)
    for entry in _EXTERNAL:
        p = ROOT / entry
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            root_names |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    work: list[ast.AST] = []

    def visit(defs: list[tuple[str, ast.AST]]) -> None:
        for key, node in defs:
            if key not in reached:
                reached.add(key)
                work.append(node)

    visit(roots)
    for nm in root_names:
        visit(by_name.get(nm, []))
    while work:
        for nm in _names(work.pop()):
            visit(by_name.get(nm, []))
    defined = {key for defs in by_name.values() for key, _ in defs}
    return defined, reached


def test_every_definition_is_reached_or_kept():
    defined, reached = _closure()
    dead = sorted(defined - reached - set(KEEP))
    stale_reached = sorted(set(KEEP) & reached)
    stale_gone = sorted(set(KEEP) - defined)
    assert not (dead or stale_reached or stale_gone), (
        f"unreached and not in KEEP ({len(dead)}): {dead}; "
        f"KEEP entries now reached: {stale_reached}; "
        f"KEEP entries no longer defined: {stale_gone}"
    )


_READERS = [PKG, ROOT / "tests", *(ROOT / e for e in _EXTERNAL)]
_ATTR_CALLS = {"getattr", "setattr", "hasattr", "delattr"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(PKG).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bindings(body: list[ast.stmt]):
    """(name, line) of every import or assignment binding in ``body``,
    looking into ``if``/``try``/``with`` blocks but not into definitions."""
    for st in body:
        if isinstance(st, (ast.Import, ast.ImportFrom)):
            if not (isinstance(st, ast.ImportFrom) and st.module == "__future__"):
                for a in st.names:
                    yield (a.asname or a.name).split(".")[0], st.lineno
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            for t in st.targets if isinstance(st, ast.Assign) else [st.target]:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, st.lineno
        elif isinstance(st, (ast.If, ast.Try, ast.With)):
            for block in (st.body, getattr(st, "orelse", []), getattr(st, "finalbody", []),
                          *(h.body for h in getattr(st, "handlers", []))):
                yield from _bindings(block)


def _local_reads(tree: ast.Module) -> set[str]:
    """Names a module reads itself: loads anywhere in it, augmented
    assignments and its ``__all__``."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.AugAssign) and isinstance(n.target, ast.Name):
            out.add(n.target.id)
        elif isinstance(n, ast.Assign) and any(getattr(t, "id", None) == "__all__" for t in n.targets):
            out |= {c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)}
    return out


def _unread_bindings() -> list[str]:
    """``module.py:line name`` for every package module-level name bound
    by an import or an assignment that nothing reads (dunder names and
    ``__future__`` imports aside). A binding in module M is read by a
    load in M or M's ``__all__``; by ``from <package>.M import name`` in
    the package, the tests, ``perfbench/``, ``tools_r10/``, ``bench.py``
    or ``__spark_entry__.py``; or, there and unqualified (so reads can
    only be over-counted), by an attribute ``.name`` or a
    ``getattr``/``setattr``/``hasattr``/``delattr`` of ``"name"``."""
    pkg = PKG.name
    modules = {_module_name(p): (p, ast.parse(p.read_text())) for p in sorted(PKG.rglob("*.py"))}
    attrs: set[str] = set()
    imported: set[tuple[str, str]] = set()
    for entry in _READERS:
        for path in sorted(entry.rglob("*.py")) if entry.is_dir() else [entry]:
            for n in ast.walk(ast.parse(path.read_text())):
                if isinstance(n, ast.Attribute):
                    attrs.add(n.attr)
                elif isinstance(n, ast.Call) and getattr(n.func, "id", getattr(n.func, "attr", None)) in _ATTR_CALLS:
                    attrs |= {a.value for a in n.args[1:2] if isinstance(a, ast.Constant)}
                elif isinstance(n, ast.ImportFrom) and (n.module or "").startswith(pkg):
                    imported |= {(n.module[len(pkg) + 1:], a.name) for a in n.names}
    unread = []
    for mod, (path, tree) in modules.items():
        local = _local_reads(tree)
        for name, line in _bindings(tree.body):
            if name.startswith("__") and name.endswith("__"):
                continue
            if name not in local and name not in attrs and (mod, name) not in imported:
                unread.append(f"{path.relative_to(PKG)}:{line} {name}")
    return unread


def test_every_module_level_binding_is_read():
    unread = _unread_bindings()
    assert not unread, f"module-level names nothing reads ({len(unread)}): {unread}"
