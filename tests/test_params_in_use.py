"""Guards on the package's public API: every public name has a product
caller, every defaulted parameter is set by product code, and every import
and module-level private name is referred to.

A public function or method that only tests call is not part of the
product; :func:`no_product_caller` states that rule.

A defaulted parameter that only tests pass, or that nothing passes, is a
setting with one value in use; it belongs in the code as a constant, not
in the signature. The rule:

- in scope: a defaulted parameter of a public function or method under
  ``warcit_spark/`` (a module-level function, or a method of a module-level
  class; neither name starts with ``_``; ``__init__`` is called as the class);
- it is in use when some call in product code (``warcit_spark/``,
  ``__spark_entry__.py``, ``tools/``, ``jobs/``, ``bench*.py``,
  ``perfbench/``; not ``tests/``) passes it, by keyword or by position;
- a call that only forwards an unused parameter of its own enclosing
  function does not count; the pass repeats until nothing changes;
- out of scope: functions passed as values (pandas-UDF and ``mapInPandas``
  bodies, callbacks), which the engine calls, not the repository.

Calls are matched by the callee's last name (``f(...)``, ``x.f(...)``), so a
name shared by two definitions is in use if either is called with it. A
``**`` spread passes only the keys it can be shown to hold (see
:func:`_spread_keys`); a ``*args`` spread, or a ``**`` spread of anything
else, counts as passing everything it could reach.

:func:`unreferenced_names` states the third rule, over product code and
``tests/``.

Run as a script to print all three inventories (names, parameters,
unreferenced): ``python tests/test_params_in_use.py``.
"""

from __future__ import annotations

import ast
import functools
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "warcit_spark"
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _product_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for d in ("tools", "jobs", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files + sorted(ROOT.glob("bench*.py"))


@functools.lru_cache(maxsize=None)
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _is_static(fn) -> bool:
    return any(isinstance(d, ast.Name) and d.id == "staticmethod"
               for d in fn.decorator_list)


def _defs():
    """(where, call name, def node, 1 if a call binds the first parameter)
    for every public function and method."""
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = path.relative_to(ROOT)
        for node in _parse(path).body:
            if isinstance(node, FUNCS) and not node.name.startswith("_"):
                yield f"{mod}:{node.name}", node.name, node, 0
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for m in node.body:
                    if not isinstance(m, FUNCS):
                        continue
                    call = node.name if m.name == "__init__" else m.name
                    if not call.startswith("_"):
                        yield (f"{mod}:{node.name}.{m.name}", call, m,
                               0 if _is_static(m) else 1)


def _defaulted(fn) -> list[str]:
    a = fn.args
    positional = a.posonlyargs + a.args
    out = [p.arg for p in positional[len(positional) - len(a.defaults):]]
    return out + [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None]


def _calls():
    """(callee last name, call node, innermost enclosing def) for every call,
    and the names passed as values to some call."""
    calls, values = [], set()

    def visit(node, enclosing):
        if isinstance(node, FUNCS + (ast.Lambda,)):
            enclosing = node
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, (ast.Name, ast.Attribute)):
                calls.append((getattr(f, "id", None) or f.attr, node, enclosing))
            for arg in node.args + [kw.value for kw in node.keywords]:
                if isinstance(arg, (ast.Name, ast.Attribute)):
                    values.add(getattr(arg, "id", None) or arg.attr)
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    for path in _product_files():
        visit(_parse(path), None)
    return calls, values


def _spread_keys(value, enclosing, calls) -> set[str] | None:
    """The keywords a ``**value`` spread inside ``enclosing`` passes, or
    None when they cannot be told (the spread then passes everything).

    - a name bound in the same function to a dict display with string keys,
      or to ``dict(k=...)``: those keys;
    - the function's own ``**`` parameter: the keywords that product calls
      of the function pass beyond its named parameters.
    """
    if not (isinstance(value, ast.Name) and isinstance(enclosing, FUNCS)):
        return None
    a = enclosing.args
    if a.kwarg is not None and a.kwarg.arg == value.id:
        named = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        keys = set()
        for name, call, _ in calls:
            if name != enclosing.name:
                continue
            if any(kw.arg is None for kw in call.keywords):
                return None
            keys.update(kw.arg for kw in call.keywords if kw.arg not in named)
        return keys
    bound = [n.value for n in ast.walk(enclosing) if isinstance(n, ast.Assign)
             and any(isinstance(t, ast.Name) and t.id == value.id
                     for t in n.targets)]
    if len(bound) != 1:
        return None
    d = bound[0]
    if isinstance(d, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str)
            for k in d.keys):
        return {k.value for k in d.keys}
    if (isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
            and d.func.id == "dict" and not d.args
            and all(kw.arg is not None for kw in d.keywords)):
        return {kw.arg for kw in d.keywords}
    return None


def unused_params() -> list[str]:
    """Every in-scope defaulted parameter that no product call passes, as
    ``file:function(param)``, once the forwarding passes settle."""
    calls, values = _calls()
    # Functions used as values are called by the engine, not the repository.
    defs = [d for d in _defs() if _defaulted(d[2])
            and (d[3] or d[1] not in values)]
    by_name: dict[str, list] = {}
    for d in defs:
        by_name.setdefault(d[1], []).append(d)

    removed: set = set()
    while True:
        passed = set()
        for name, call, enclosing in calls:
            def counts(arg):
                return not (isinstance(arg, ast.Name) and enclosing is not None
                            and (id(enclosing), arg.id) in removed)

            for _, _, fn, bound in by_name.get(name, []):
                a = fn.args
                params = [p.arg for p in a.posonlyargs + a.args][bound:]
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        passed.update((id(fn), p) for p in params[i:])
                        break
                    if i < len(params) and counts(arg):
                        passed.add((id(fn), params[i]))
                for kw in call.keywords:
                    if kw.arg is None:
                        keys = _spread_keys(kw.value, enclosing, calls)
                        passed.update((id(fn), p) for p in _defaulted(fn)
                                      if keys is None or p in keys)
                    elif counts(kw.value):
                        passed.add((id(fn), kw.arg))
        unused = [(where, fn, p) for where, _, fn, _ in defs
                  for p in _defaulted(fn) if (id(fn), p) not in passed]
        now = {(id(fn), p) for _, fn, p in unused}
        if now == removed:
            return [f"{where}({p})" for where, _, p in unused]
        removed = now


# Public names kept with no product caller -> why.
_CONVERTER = "the reference's warcit-converter: conversion dispatch and its YAML"
_DFCAP = "reads the df_max cap metric the hot-key caps build on"
NO_PRODUCT_CALLER_OK = {
    "warcit_spark/operators/convert.py:run_conversions": _CONVERTER,
    "warcit_spark/operators/convert.py:dispatch_conversions": _CONVERTER,
    "warcit_spark/sources/sidecars.py:write_conversions_yaml": _CONVERTER,
    "warcit_spark/sources/sidecars.py:default_conversion_rules": _CONVERTER,
    "warcit_spark/sources/warc.py:scan_warc":
        "the WARC-path tests read the sink's output back through it",
    "warcit_spark/operators/dedup.py:ngram_dfcap_excluded": _DFCAP,
    "warcit_spark/observe.py:observation_ready": _DFCAP,
    "warcit_spark/observe.py:observation_metrics": _DFCAP,
}

# Defaulted parameters kept with no product caller -> why.
_SEAM = "a test seam: tests pass it to drive the product code path"
UNUSED_PARAM_OK = {
    "warcit_spark/operators/convert.py:dispatch_conversions(root_dir)": _CONVERTER,
    "warcit_spark/operators/convert.py:run_conversions(dry_run)": _CONVERTER,
    "warcit_spark/operators/convert.py:run_conversions(capture_output)": _CONVERTER,
    "warcit_spark/operators/dedup.py:ngram_jaccard_pairs(df_max)":
        "the hot-key cap a default df_max cap will build on",
    "warcit_spark/plans/warcit_pipeline.py:files_to_warc_records(tika_results)":
        "the reference's --use-magic tika / --charset tika slot; the CLI "
        "refuses tika, as the reference does without a tika install",
    "warcit_spark/cli.py:main(argv)": _SEAM + " (argv instead of sys.argv)",
    "warcit_spark/plans/warcit_pipeline.py:warcit_run(num_parts)":
        _SEAM + " (several parts from a small site)",
    "warcit_spark/plans/warcit_pipeline.py:order_records(num_parts)":
        _SEAM + " (several parts from a small site)",
}

# Unreferenced imports kept -> why.
UNREFERENCED_OK = {
    "perfbench/run.py:warcit_spark":
        "imported only to report a program that fails to import before a run",
}


def _names(node, skip: set) -> set[str]:
    """Every name a subtree refers to (``f``, ``x.f``), outside the nodes
    whose ids are in ``skip``."""
    out, todo = set(), [node]
    while todo:
        n = todo.pop()
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        todo.extend(c for c in ast.iter_child_nodes(n) if id(c) not in skip)
    return out


def no_product_caller() -> list[str]:
    """Every public function or method under ``warcit_spark/`` (a class
    through its ``__init__``) that no product code refers to.

    Product code is ``warcit_spark/``, ``__spark_entry__.py``, ``tools/``,
    ``jobs/``, ``perfbench/`` and ``bench*.py``; ``tests/`` is not. A name
    is in use when code outside the public definitions, or a public
    definition in use, refers to it; package ``__init__`` imports do not
    count, nor a definition's references to itself. Names match by their
    last part, as calls do above.
    """
    defs = list(_defs())
    inside = {id(fn) for _, _, fn, _ in defs}
    refs: dict[str, set] = {}
    for _, name, fn, _ in defs:
        refs.setdefault(name, set()).update(_names(fn, inside) - {name})
    live = set().union(*(_names(_parse(p), inside) for p in _product_files()))
    todo = list(live)
    while todo:
        for n in refs.get(todo.pop(), set()) - live:
            live.add(n)
            todo.append(n)
    return [where for where, name, _, _ in defs if name not in live]


def test_every_public_name_has_a_product_caller():
    found = no_product_caller()
    unused = [where for where in found if where not in NO_PRODUCT_CALLER_OK]
    assert not unused, (
        f"{len(unused)} public name(s) that only tests refer to; delete "
        "each (and its tests), or move a test oracle under tests/:\n  "
        + "\n  ".join(unused))
    stale = sorted(set(NO_PRODUCT_CALLER_OK) - set(found))
    assert not stale, f"allowlisted but has a product caller or is gone: {stale}"


def test_every_defaulted_parameter_is_set_by_some_caller():
    found = unused_params()
    unused = [p for p in found if p not in UNUSED_PARAM_OK]
    assert not unused, (
        f"{len(unused)} defaulted parameter(s) that no product call passes; "
        "make each a constant at its default:\n  " + "\n  ".join(unused))
    stale = sorted(set(UNUSED_PARAM_OK) - set(found))
    assert not stale, f"allowlisted but passed by product code or gone: {stale}"


def _bound_names(tree: ast.Module):
    """(node, name) for every import anywhere in a module (not ``from
    __future__``) and every module-level definition of a ``_name``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield node, (a.asname or a.name).split(".")[0]
    for node in tree.body:
        if isinstance(node, FUNCS + (ast.ClassDef,)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
        else:
            continue
        for name in names:
            if name.startswith("_") and not name.endswith("__"):
                yield node, name


def unreferenced_names() -> dict[str, int]:
    """Every import, and every module-level ``_name``, that its own file
    never reads, as ``file:name`` -> line, over product code and
    ``tests/``.  Package ``__init__`` modules are skipped: their imports
    are the package's re-exports."""
    out = {}
    for path in _product_files() + sorted((ROOT / "tests").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = _parse(path)
        read = {n.id for n in ast.walk(tree)
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
        for node, name in _bound_names(tree):
            if name not in read:
                out[f"{path.relative_to(ROOT)}:{name}"] = node.lineno
    return out


def test_every_import_and_private_name_is_referenced():
    found = unreferenced_names()
    unread = [f"{k} (line {n})" for k, n in found.items() if k not in UNREFERENCED_OK]
    assert not unread, (
        f"{len(unread)} import(s) or private name(s) that their file never "
        "refers to; delete each:\n  " + "\n  ".join(unread))
    stale = sorted(set(UNREFERENCED_OK) - set(found))
    assert not stale, f"allowlisted but referenced or gone: {stale}"


if __name__ == "__main__":
    print("# public names with no product caller")
    print("\n".join(no_product_caller()))
    found = unused_params()
    print("# defaulted parameters no product call passes")
    print("\n".join(found))
    print(f"{len(found)} unused in {len({f.split('(')[0] for f in found})} "
          f"functions, {len({f.split(':')[0] for f in found})} files",
          file=sys.stderr)
    print("# imports and private names their file never refers to")
    print("\n".join(f"{k} (line {n})" for k, n in unreferenced_names().items()))
