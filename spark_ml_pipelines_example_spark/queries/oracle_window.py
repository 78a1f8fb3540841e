"""Order the declared queries for the external oracle window.

The external driver hash-checks roughly the first 50 entries of
``__spark_entry__.queries()`` against their DuckDB oracles each round.
This module decides which 50, from the code itself rather than from
hand-kept lists:

- A query's *closure* is its undecorated function plus every package
  function and class it reaches (module globals, ``module.attr``
  references and function-local ``from`` imports of package code, which
  are resolved by importing the module), the module globals those read,
  and its oracle SQL. Functions are hashed by the AST dump of their
  source, so a comment-only edit is not a change. A global is hashed by
  the AST dump of the top-level statements that assign it, never by its
  value, so a runtime cache or a reassigned global moves no digest and
  no digest depends on ``PYTHONHASHSEED``.
- The *ledger* (``tools/oracle_ledger.json``) records, per query, the
  round of its last green driver row and its closure as of that row.
  ``tools/record_fingerprints.py`` updates it when a new
  ``CORRECTNESS_rNN.json`` lands.
- A query is *stale* when its closure differs from its ledger entry, and
  *tier 0* when its closure holds a function digest that no ledger entry
  holds (code no driver row has ever checked), or when it has no entry.

The window order is: SQL-oracled before rows-only, then tier 0, stale,
fresh, then oldest ledger round, then name.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib
import importlib.util
import inspect
import json
import sys
import textwrap
import types
from pathlib import Path

from .registry import QuerySpec, query

PKG = __name__.split(".")[0]
LEDGER = Path(__file__).resolve().parents[2] / "tools" / "oracle_ledger.json"

TIER0, STALE, FRESH = 0, 1, 2


def _digest(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def _key(obj) -> str:
    return f"{obj.__module__}.{obj.__qualname__}".removeprefix(PKG + ".")


def _in_pkg(obj) -> bool:
    """A function or class defined in the package."""
    return isinstance(obj, (types.FunctionType, type)) and (
        (obj.__module__ or "").split(".")[0] == PKG
    )


def _is_pkg_module(obj) -> bool:
    return isinstance(obj, types.ModuleType) and obj.__name__.split(".")[0] == PKG


def _top(stmts):
    """A module's top-level statements, into if/try/with blocks but not
    into function or class bodies."""
    for st in stmts:
        if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield st
            for field in ("body", "orelse", "handlers", "finalbody"):
                yield from _top(getattr(st, field, ()))


@functools.cache
def _bindings(modname: str) -> dict[str, list[ast.stmt]]:
    """name -> the top-level assignments and ``from`` imports of a package
    module that bind it."""
    try:
        tree = ast.parse(inspect.getsource(sys.modules[modname]))
    except (KeyError, OSError, TypeError, SyntaxError):
        return {}
    out: dict[str, list[ast.stmt]] = {}
    for st in _top(tree.body):
        if isinstance(st, ast.ImportFrom):
            names = [a.asname or a.name for a in st.names]
        elif isinstance(st, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        for n in names:
            out.setdefault(n, []).append(st)
    return out


def _const(modname: str, name: str) -> str | None:
    """Digest of the source that assigns a package module's global
    ``name``, following ``from`` imports of package code; None when no
    package source assigns it."""
    parts = []
    for st in _bindings(modname).get(name, ()):
        if isinstance(st, ast.ImportFrom):
            target = "." * st.level + (st.module or "")
            src = importlib.util.resolve_name(target, sys.modules[modname].__package__)
            alias = next(a for a in st.names if (a.asname or a.name) == name)
            if src.split(".")[0] == PKG and (d := _const(src, alias.name)):
                parts.append(d)
        else:
            parts.append(ast.dump(st))
    return _digest("\n".join(parts)) if parts else None


def _import(node: ast.ImportFrom, package: str) -> dict[str, tuple]:
    """Bindings ``name -> (module, attr, value)`` made by a ``from`` import
    of package code. Imports from outside the package bind nothing, and
    neither does one that fails (say, a missing optional dependency): it
    fails when its query runs, not when the window is ordered."""
    target = "." * node.level + (node.module or "")
    if not node.level and not target.startswith(PKG):
        return {}
    out = {}
    try:
        mod = importlib.import_module(target, package)
        for a in node.names:
            if hasattr(mod, a.name):
                val = getattr(mod, a.name)
            else:  # a submodule not imported yet
                val = importlib.import_module(f"{mod.__name__}.{a.name}")
            out[a.asname or a.name] = (mod.__name__, a.name, val)
    except ImportError:
        pass
    return out


def _scan(obj, memo: dict) -> tuple[str, list, dict[str, str]]:
    """Digest of one function or class, the package objects it reaches and
    the digests of the module globals it reads (memoised per object)."""
    if obj in memo:
        return memo[obj]
    try:
        src = textwrap.dedent(inspect.getsource(obj))
    except (OSError, TypeError):  # generated, e.g. a namedtuple class
        src = repr(obj)
    try:
        tree = ast.parse(src)
    except SyntaxError:  # no source, or a lambda cut out of an expression
        memo[obj] = (_digest(src.strip()), [], {})
        return memo[obj]
    module = sys.modules[obj.__module__]
    env = {n: (module.__name__, n, v) for n, v in vars(module).items()}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            env.update(_import(node, module.__package__))

    def resolve(node):
        if isinstance(node, ast.Name):
            return env.get(node.id)
        if isinstance(node, ast.Attribute):
            base = resolve(node.value)
            mod = base[2] if base else None
            if _is_pkg_module(mod) and hasattr(mod, node.attr):
                return (mod.__name__, node.attr, getattr(mod, node.attr))
        return None

    # the @query(...) registration line carries the oracle, which the
    # closure hashes on its own; it is not part of the query's code
    top = tree.body[0]
    if hasattr(top, "decorator_list"):
        top.decorator_list = [
            d for d in top.decorator_list
            if not (isinstance(d, ast.Call) and (resolve(d.func) or (None,) * 3)[2] is query)
        ]
    reached: dict[str, object] = {}
    consts: dict[str, str] = {}
    for node in ast.walk(tree):
        hit = resolve(node) if isinstance(node, (ast.Name, ast.Attribute)) else None
        if hit is None:
            continue
        modname, name, val = hit
        val = inspect.unwrap(val) if callable(val) else val
        if _in_pkg(val):
            if val is not obj:
                reached[_key(val)] = val
        elif not isinstance(val, types.ModuleType) and (d := _const(modname, name)):
            consts[f"{modname}.{name}".removeprefix(PKG + ".")] = d
    memo[obj] = (_digest(ast.dump(tree)), list(reached.values()), consts)
    return memo[obj]


def closure(spec: QuerySpec, memo: dict | None = None) -> dict:
    """The query's closure: oracle digest plus ``{key: digest}`` for every
    reached package function/class and module global. Pass one
    ``memo`` dict to share function scans across queries."""
    memo = {} if memo is None else memo
    fns: dict[str, str] = {}
    consts: dict[str, str] = {}
    todo = [inspect.unwrap(spec.fn)]
    while todo:
        obj = todo.pop()
        key = _key(obj)
        if key in fns:
            continue
        digest, reached, cs = _scan(obj, memo)
        fns[key] = digest
        consts.update(cs)
        todo.extend(reached)
    oracle = "rows-only" if spec.oracle is None else _digest(spec.oracle)
    return {"oracle": oracle, "fns": dict(sorted(fns.items())),
            "consts": dict(sorted(consts.items()))}


def green(row) -> bool:
    """A driver row that checked something: a hash match, or a rows-only
    run that returned rows. Errored rows never count."""
    return isinstance(row, dict) and (
        (row.get("hash_match") is True and row.get("err") is None)
        or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
    )


def record(
    ledger: dict[str, dict], current: dict[str, dict], rows: dict, rnd: int
) -> int:
    """Record round ``rnd``'s driver ``rows`` in ``ledger``: every query
    with a green row gets ``rnd`` and its ``current`` closure; the others
    keep their entry. Returns the number of entries changed."""
    updated = 0
    for name, row in rows.items():
        if name in current and green(row):
            entry = {"round": rnd, **current[name]}
            updated += ledger.get(name) != entry
            ledger[name] = entry
    return updated


def load_ledger() -> dict[str, dict]:
    try:
        return json.loads(LEDGER.read_text())
    except (OSError, ValueError):
        return {}


def write_ledger(ledger: dict[str, dict]) -> None:
    """One query per line, so a round's update diffs line by line."""
    lines = [
        f" {json.dumps(n)}: {json.dumps(e, sort_keys=True)}"
        for n, e in sorted(ledger.items())
    ]
    LEDGER.write_text("{\n" + ",\n".join(lines) + "\n}\n")


def closures(registry: dict[str, QuerySpec]) -> dict[str, dict]:
    """name -> closure, sharing one memo across the registry."""
    memo: dict = {}
    return {name: closure(spec, memo) for name, spec in registry.items()}


def status(
    current: dict[str, dict], ledger: dict[str, dict]
) -> dict[str, tuple[int, int]]:
    """name -> (TIER0 | STALE | FRESH, round of its ledger entry or 0), for
    the ``current`` closures (see ``closures``)."""
    certified = {kd for e in ledger.values() for kd in e["fns"].items()}
    out = {}
    for name, cur in current.items():
        entry = ledger.get(name)
        if entry is None or not certified.issuperset(cur["fns"].items()):
            tier = TIER0
        elif any(entry[k] != cur[k] for k in cur):
            tier = STALE
        else:
            tier = FRESH
        out[name] = (tier, entry["round"] if entry else 0)
    return out


def order(
    registry: dict[str, QuerySpec], ledger: dict[str, dict] | None = None
) -> dict[str, QuerySpec]:
    """``registry`` reordered for the oracle window (see module doc)."""
    st = status(closures(registry), load_ledger() if ledger is None else ledger)
    names = sorted(registry, key=lambda n: (registry[n].oracle is None, *st[n], n))
    return {n: registry[n] for n in names}
