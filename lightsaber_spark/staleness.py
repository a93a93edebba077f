"""Mechanized staleness for registered queries.

A driver-green CORRECTNESS row vouches for a query only while the
query's implementation is the one the driver actually ran.  Round 3
tracked that by hand (``_FORCE_RECHECK`` in ``__spark_entry__``) —
a forgotten entry would silently leave rewritten code vouched for by a
stale green row.  This module derives staleness mechanically:

- ``impl_hash(fn, oracle)`` — content hash of a query: the source of
  the registered callable plus the *transitive closure* of every
  ``lightsaber_spark``-defined function/class it references by name
  (so a rewrite of ``functions/dedup.py`` stales the dedup queries
  that call into it, not just edits to the thin query wrapper), plus
  the DuckDB oracle twin (an oracle edit alone also re-verifies).
- ``QUERY_HASHES.json`` (repo root) — per query, the hash of the
  implementation as of its most recent driver-green row.  Written by
  ``scripts/record_hashes.py``; never edited by hand.
- ``__spark_entry__._ordered`` treats a query whose current hash
  differs from (or is missing) the recorded one as stale and rotates
  it to the front of the driver's correctness sweep.

References are chased through both global names and function-LOCAL
``from lightsaber_spark.x import y`` statements (the catalog's
dominant import style, resolved via AST).  Known limits (conservative
by design): references reached only via ``getattr``/dispatch tables
and module-level *data* constants are not chased — but oracle SQL
built from such constants IS hashed via the registered oracle string,
which covers the catalog's actual usage.  Also NOT chased: the
module-attribute call style (``import lightsaber_spark.x as x`` then
``x.fn(...)`` — module globals are deliberately skipped) and RELATIVE
imports (``from .functions import dedup`` — ``node.level`` is
rejected).  Neither appears in the catalog; if you introduce one, the
referenced helper's source will NOT enter the query's hash, so use
absolute ``from lightsaber_spark.x import fn`` in query code.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import types

_PKG_PREFIX = "lightsaber_spark"
HASHES_FILENAME = "QUERY_HASHES.json"


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _unwrap(obj):
    """Peel pandas-UDF / functools wrappers down to the plain function."""
    for attr in ("__wrapped__", "func"):
        inner = getattr(obj, attr, None)
        if inner is not None and callable(inner):
            return inner
    return obj


def _source_of(obj) -> str:
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):
        code = getattr(obj, "__code__", None)
        if code is None:
            return repr(obj)
        # no source on disk (exec'd code): hash the code object itself —
        # bytecode alone misses constant edits (consts live in co_consts)
        consts = tuple(
            c.co_code.hex() if isinstance(c, types.CodeType) else repr(c)
            for c in code.co_consts
        )
        return repr((code.co_code.hex(), consts, code.co_names))


def _referenced_names(code: types.CodeType) -> set[str]:
    """Global names referenced by a code object, including nested
    lambdas/comprehensions/inner defs."""
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        stack.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
    return names


def _local_imports(source: str):
    """Objects pulled in via function-LOCAL ``from lightsaber_spark.x
    import y`` statements — these bind local names, invisible to
    ``__globals__``, yet are the catalog's dominant pattern for calling
    engine functions. Resolved via AST + the already-imported module."""
    import ast
    import importlib
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(source))
    except SyntaxError:
        return
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        if not (node.module or "").startswith(_PKG_PREFIX):
            continue
        try:
            mod = importlib.import_module(node.module)
        except ImportError:
            continue
        for alias in node.names:
            tgt = getattr(mod, alias.name, None)
            if tgt is not None:
                yield tgt


#: per-object expansion cache: id(obj) -> (mod, qual, source, children,
#: obj). 166 queries share a dense helper core (dedup/similarity/text);
#: without this every ``current_hashes()`` re-ran getsource + ast.parse
#: + import_module once PER QUERY per shared helper — O(queries ×
#: shared closure) on every driver start. The obj reference in the
#: value keeps the id stable for the process lifetime. Memoization is
#: output-transparent: ``_sources_for`` returns the same mapping, so
#: hash VALUES are unchanged.
_NODE_CACHE: dict[int, tuple] = {}


def _expand_node(obj) -> tuple:
    """(module, qual, source, children) for one closure-walk node —
    qual/source are None for nodes that contribute no source (plain
    callables without code)."""
    mod = getattr(obj, "__module__", "") or ""

    if inspect.isclass(obj):
        qual = f"{mod}.{obj.__qualname__}"
        children = []
        for v in vars(obj).values():
            v = getattr(v, "__func__", v)
            if callable(v):
                children.append(v)
        return (mod, qual, _source_of(obj), tuple(children), obj)

    code = getattr(obj, "__code__", None)
    if code is None:
        return (mod, None, None, (), obj)
    qual = f"{mod}.{getattr(obj, '__qualname__', getattr(obj, '__name__', '?'))}"
    src = _source_of(obj)
    children = []
    for tgt in _local_imports(src):
        if callable(tgt) or inspect.isclass(tgt):
            children.append(tgt)
    g = getattr(obj, "__globals__", {})
    for nm in _referenced_names(code):
        tgt = g.get(nm)
        if tgt is None or isinstance(tgt, types.ModuleType):
            continue
        tmod = getattr(tgt, "__module__", "") or ""
        if tmod.startswith(_PKG_PREFIX) and (
            callable(tgt) or inspect.isclass(tgt)
        ):
            children.append(tgt)
    for cell in getattr(obj, "__closure__", None) or ():
        try:
            v = cell.cell_contents
        except ValueError:
            continue
        if callable(v):
            children.append(v)
    return (mod, qual, src, tuple(children), obj)


def _sources_for(fn) -> dict[str, str]:
    """``{qualified_name: source}`` for ``fn`` and every
    lightsaber_spark function/class transitively reachable from it by
    global-name or closure reference."""
    seen: dict[str, str] = {}
    visited: set[int] = set()
    stack = [(_unwrap(fn), True)]  # (obj, is_root)
    while stack:
        obj, is_root = stack.pop()
        obj = _unwrap(obj)
        if id(obj) in visited:
            continue
        visited.add(id(obj))
        cached = _NODE_CACHE.get(id(obj))
        if cached is None:
            cached = _expand_node(obj)
            _NODE_CACHE[id(obj)] = cached
        mod, qual, src, children = cached[:4]
        if not is_root and not mod.startswith(_PKG_PREFIX):
            continue
        if qual is not None and src is not None and qual not in seen:
            seen[qual] = src
        for ch in children:
            stack.append((ch, False))
    return seen


def impl_hash(fn, oracle: str | None = None) -> str:
    """Stable content hash of a query implementation + its oracle."""
    h = hashlib.sha256()
    srcs = _sources_for(fn)
    for qual in sorted(srcs):
        h.update(qual.encode())
        h.update(b"\0")
        h.update(srcs[qual].encode())
        h.update(b"\0")
    h.update((oracle or "").encode())
    return h.hexdigest()


def current_hashes() -> dict[str, str]:
    """``impl_hash`` for every registered catalog query."""
    from lightsaber_spark.registry import catalog

    spark_queries, oracles = catalog()
    return {
        name: impl_hash(fn, oracles.get(name))
        for name, fn in spark_queries.items()
    }


def recorded_hashes(path: str | None = None) -> dict[str, dict]:
    """The committed hash-at-last-green snapshot (empty if absent)."""
    path = path or os.path.join(_repo_root(), HASHES_FILENAME)
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, dict)}


def is_vouched(name: str, current: dict[str, str],
               recorded: dict[str, dict]) -> bool:
    """Does a green driver row still vouch for ``name``'s current
    implementation?  True iff the recorded at-green hash matches the
    current one."""
    rec = recorded.get(name)
    return rec is not None and rec.get("hash") == current.get(name)
