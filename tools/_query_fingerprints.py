"""Per-query implementation fingerprints (helper for emit_force_recheck).

Usage: python tools/_query_fingerprints.py <repo_root>  -> JSON on stdout

For every registered suite query, emits a fingerprint pair that changes
exactly when the query's observable implementation changes:

- ``oracle``: sha256 of the registered DuckDB oracle SQL ('' if none).
- ``impl``: sha256 over the builder function's source plus the source
  segments of every function/class/constant it references TRANSITIVELY —
  across modules, at SYMBOL granularity: editing ``cooccurrence_pairs``
  fingerprints exactly the queries whose builders reach it, while editing
  an unrelated function in the same operator file does not. (A first,
  file-granular version of this tool flagged 211/212 queries after any
  infrastructure edit — useless for a 50-slot driver window.) Segments
  are hashed in NORMALIZED form (ast round-trip, docstrings stripped):
  comment/docstring edits cannot change a query result, so they must not
  invalidate driver evidence.

Resolution rules: ``from pkg.mod import sym`` resolves ``sym`` inside
``mod`` and recurses; ``from pkg.operators import mod`` / ``import
pkg.mod`` resolve ``mod.attr`` attribute accesses; a module reference
whose attributes cannot be resolved falls back to the whole module file.
The suite registration machinery (``register``/``QueryDef``/``load_all``)
is excluded — it is harness plumbing that fails loudly at import, never a
silent result change.

Run against the CURRENT tree and against a historical commit's extracted
tree; a query whose pair differs has changed since that commit and its
driver evidence from then is stale.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import os
import sys

_HARNESS_SYMBOLS = {
    ("bbt_etl_dw_spark.suite", "register"),
    ("bbt_etl_dw_spark.suite", "QueryDef"),
    ("bbt_etl_dw_spark.suite", "load_all"),
    ("bbt_etl_dw_spark.suite", "QUERIES"),
    ("bbt_etl_dw_spark.suite", "Builder"),
}


def _sha(parts: list[str]) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode("utf-8", "replace"))
        h.update(b"\x00")
    return h.hexdigest()


def _strip_docstrings(tree: ast.AST) -> ast.AST:
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                node.body = node.body[1:] or [ast.Pass()]
    return tree


@functools.cache
def _normalize(src: str) -> str:
    """Canonical EXECUTABLE form of a source segment: parsed and
    unparsed (drops comments and formatting), docstrings stripped.
    A comment or docstring edit cannot change a query result, so it must
    not invalidate driver evidence — the first raw-text fingerprints
    re-flagged whole cohorts after review rounds that only improved
    documentation. Non-parseable inputs (reexport markers) hash raw.
    Applied identically to the HEAD tree and the historical tree
    (emit_force_recheck always runs the CURRENT tool on both), so the
    comparison stays apples-to-apples."""
    try:
        return ast.unparse(_strip_docstrings(ast.parse(src)))
    except SyntaxError:
        return src


def _module_path(root: str, module: str) -> str | None:
    rel = module.replace(".", os.sep)
    for cand in (
        os.path.join(root, rel + ".py"),
        os.path.join(root, rel, "__init__.py"),
    ):
        if os.path.isfile(cand):
            return cand
    return None


class _ModuleIndex:
    """Symbol table of one package module: local defs (functions, classes,
    module-level assignments) with their source segments, and imported
    symbols mapped to (module, symbol|None) — None meaning the import IS a
    module reference."""

    def __init__(self, root: str, module: str):
        self.root = root
        self.module = module
        path = _module_path(root, module)
        self.src = open(path, encoding="utf-8").read() if path else ""
        self.local: dict[str, str] = {}
        self.imports: dict[str, tuple[str, str | None]] = {}
        try:
            tree = ast.parse(self.src)
        except SyntaxError:
            return
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module:
                if not node.module.startswith("bbt_etl_dw_spark"):
                    continue
                for a in node.names:
                    bound = a.asname or a.name
                    if _module_path(root, node.module + "." + a.name):
                        self.imports[bound] = (node.module + "." + a.name, None)
                    else:
                        self.imports[bound] = (node.module, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("bbt_etl_dw_spark"):
                        bound = a.asname or a.name.split(".")[0]
                        self.imports[bound] = (a.name, None)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.local[node.name] = ast.get_source_segment(self.src, node) or ""
            elif isinstance(node, ast.Assign):
                seg = ast.get_source_segment(self.src, node) or ""
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        self.local[t.id] = seg
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                self.local[node.target.id] = (
                    ast.get_source_segment(self.src, node) or ""
                )


class _Resolver:
    """Collects one query's transitive segments. ``indexes`` (module ->
    parsed module) may be shared by every query of one tree, so a module
    is parsed once per run, not once per query."""

    def __init__(self, root: str, indexes: dict[str, _ModuleIndex] | None = None):
        self.root = root
        self._idx = {} if indexes is None else indexes
        # collected: (module, symbol) -> source segment; (module, None) ->
        # whole-file fallback
        self.collected: dict[tuple[str, str | None], str] = {}

    def index(self, module: str) -> _ModuleIndex:
        if module not in self._idx:
            self._idx[module] = _ModuleIndex(self.root, module)
        return self._idx[module]

    @staticmethod
    @functools.cache
    def _names_and_attrs(
        src: str,
    ) -> tuple[frozenset[str], frozenset[tuple[str, str]]]:
        names: set[str] = set()
        attrs: set[tuple[str, str]] = set()
        try:
            tree = ast.parse(src)
        except SyntaxError:
            import re

            return frozenset(re.findall(r"[A-Za-z_]\w*", src)), frozenset()
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                attrs.add((n.value.id, n.attr))
        return frozenset(names), frozenset(attrs)

    @staticmethod
    @functools.cache
    def _inner_imports(src: str) -> tuple[tuple[str, str, str | None], ...]:
        """(bound name, module, symbol|None) for package imports INSIDE the
        function body (suite builders import operators lazily)."""
        out: list[tuple[str, str, str | None]] = []
        try:
            tree = ast.parse(src)
        except SyntaxError:
            return ()
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module and n.module.startswith(
                "bbt_etl_dw_spark"
            ):
                for a in n.names:
                    out.append((a.asname or a.name, n.module, a.name))
            elif isinstance(n, ast.Import):
                for a in n.names:
                    if a.name.startswith("bbt_etl_dw_spark"):
                        out.append((a.asname or a.name.split(".")[0], a.name, None))
        return tuple(out)

    def resolve_symbol(self, module: str, symbol: str) -> None:
        if (module, symbol) in _HARNESS_SYMBOLS:
            return
        key = (module, symbol)
        if key in self.collected:
            return
        idx = self.index(module)
        if symbol in idx.local:
            seg = idx.local[symbol]
            self.collected[key] = seg
            self.expand(module, seg)
        elif symbol in idx.imports:
            tgt_mod, tgt_sym = idx.imports[symbol]
            self.collected[key] = f"->reexport {tgt_mod}.{tgt_sym}"
            if tgt_sym is None:
                self.resolve_module(tgt_mod)
            else:
                self.resolve_symbol(tgt_mod, tgt_sym)
        elif _module_path(self.root, module + "." + symbol):
            self.resolve_module(module + "." + symbol)
        else:
            # unresolvable (dynamic / star import): whole-module fallback
            self.resolve_module(module)

    def resolve_module(self, module: str) -> None:
        key = (module, None)
        if key in self.collected:
            return
        self.collected[key] = self.index(module).src

    def expand(self, module: str, src: str) -> None:
        """Collect everything ``src`` (living in ``module``) references."""
        idx = self.index(module)
        names, attrs = self._names_and_attrs(src)
        inner = self._inner_imports(src)
        inner_bound = {b: (m, s) for b, m, s in inner}
        for name in names:
            if name in inner_bound:
                m, s = inner_bound[name]
                if s is None:
                    # `import pkg.mod` — attrs below handle member access;
                    # bare module references fall back to the whole file
                    if not any(a[0] == name for a in attrs):
                        self.resolve_module(m)
                elif _module_path(self.root, m + "." + s):
                    # `from pkg.operators import mod` — module import
                    if not any(a[0] == name for a in attrs):
                        self.resolve_module(m + "." + s)
                else:
                    self.resolve_symbol(m, s)
            elif name in idx.imports:
                m, s = idx.imports[name]
                if s is None:
                    if not any(a[0] == name for a in attrs):
                        self.resolve_module(m)
                else:
                    self.resolve_symbol(m, s)
            elif name in idx.local:
                key = (module, name)
                if key not in self.collected:
                    self.collected[key] = idx.local[name]
                    self.expand(module, idx.local[name])
        for base, attr in attrs:
            target = inner_bound.get(base) or idx.imports.get(base)
            if target is None:
                continue
            m, s = target
            mod = m if s is None else (m + "." + s)
            if _module_path(self.root, mod):
                self.resolve_symbol(mod, attr)


def main() -> None:
    root = os.path.abspath(sys.argv[1])
    sys.path.insert(0, root)
    import inspect
    import textwrap

    from bbt_etl_dw_spark.suite import load_all

    reg = load_all()
    indexes: dict[str, _ModuleIndex] = {}
    out: dict[str, dict[str, str]] = {}
    for name, qd in reg.items():
        fn = qd.builder
        try:
            fn_src = textwrap.dedent(inspect.getsource(fn))
        except (OSError, TypeError):
            fn_src = ""
        r = _Resolver(root, indexes)
        r.expand(fn.__module__, fn_src)
        parts = [_normalize(fn_src)] + [
            f"{m}.{s}\n{_normalize(seg)}"
            for (m, s), seg in sorted(
                r.collected.items(), key=lambda kv: (kv[0][0], kv[0][1] or "")
            )
        ]
        out[name] = {"impl": _sha(parts), "oracle": _sha([qd.oracle or ""])}
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    main()
