"""The engine's surface has callers: names, parameters, constants and imports.

Eight pure AST scans (no Spark), over one parse of the caller files (the
engine, ``__spark_entry__.py``, ``bench.py`` and the non-test
``perfbench/`` modules) and ``tests/``. Tests are not callers: a value
that only a test sets is a test seam (a module constant the code reads at
call time and the test monkeypatches) or a path no caller takes.

- every public top-level def/class in ``ocr_spark/`` is spelt (``ast.Name``,
  ``ast.Attribute`` or an import alias) by a top-level statement other than
  its own definition in the caller files, and so is every public method of
  such a class. A function that only tests reach is either a test oracle,
  which belongs in ``tests/``, or dead code;
- every defaulted parameter of a def or method in ``ocr_spark/`` is passed
  by some call site in the caller files;
- no parameter of a def or method in ``ocr_spark/`` or
  ``__spark_entry__.py`` is passed the same literal or UPPER_CASE constant
  by every call site in the caller files, tests excluded; a call site that
  omits a defaulted parameter passes its default. A value that never
  varies is a constant, whether it is written at every call site or left
  to the default at every one;
- no defaulted parameter there is passed explicitly by every call site in
  the caller files: such a default serves only tests;
- every module-level assignment in ``ocr_spark/`` is read by some statement
  other than its own assignment (its own module counts);
- every name imported in ``ocr_spark/``, ``__spark_entry__.py``,
  ``bench.py`` and ``tests/`` is loaded in the scope that imports it, is
  listed in ``__all__``, or is an availability probe marked
  ``# noqa: F401``. ``perfbench/`` belongs to the benchmark and is left
  out;
- no ``ocr_spark/`` module but ``functions/text.py`` builds the md5-prefix
  long (``conv(substring(md5(...)))``) or loads ``TOKEN_PATTERN``: the
  rules that turn text into keys and tokens have one definition each;
- no ``ocr_spark/`` code but ``dedup.shingle_jaccard`` calls
  ``array_union``: every near-duplicate path verifies shingle sets with
  the same rounded jaccard.

The ``EXEMPT`` module, the serial oracle, is left out of the first four
scans. A failure of the two value scans prints the value every caller
agrees on, i.e. the constant to write.
"""

import ast
import collections
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "ocr_spark"

# The one module whose public names and parameters may have only test
# callers, with its reason.
EXEMPT = {
    "golden.py": "the serial oracle that the byte-identity tests compare against",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _caller_files():
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    return files


@functools.lru_cache(maxsize=None)
def _parsed():
    """``(rel, module)`` for each caller file, then each ``tests/`` file."""
    files = _caller_files() + sorted((ROOT / "tests").glob("*.py"))
    return tuple((p.relative_to(ROOT).as_posix(), ast.parse(p.read_text()))
                 for p in files)


def _engine_modules():
    """``(rel, module)`` of each checked ``ocr_spark/`` module."""
    return [(rel, tree) for rel, tree in _parsed()
            if rel.startswith("ocr_spark/")
            and rel[len("ocr_spark/"):] not in EXEMPT]


def _checked_modules():
    """The engine modules plus ``__spark_entry__.py``, whose DuckDB twins
    and registry helpers are engine code too."""
    return _engine_modules() + [(rel, tree) for rel, tree in _parsed()
                                if rel == "__spark_entry__.py"]


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
    ``ocr_spark/`` that no top-level statement of the caller files other
    than its own definition references, and ``module:line Class.method``
    of each public method of such a class that nothing in the caller files
    other than the method itself references."""
    statements = [(rel, s) for rel, tree in _parsed()
                  if not rel.startswith("tests/") for s in tree.body]
    spelt = [(s, _names(s)) for _, s in statements]
    missing = []
    for rel, node in statements:
        if (not rel.startswith("ocr_spark/") or rel[len("ocr_spark/"):] in EXEMPT
                or not isinstance(node, (*_DEFS, ast.ClassDef))):
            continue
        if (not node.name.startswith("_")
                and not any(node.name in names for s, names in spelt if s is not node)):
            missing.append(f"{rel}:{node.lineno} {node.name}")
        if not isinstance(node, ast.ClassDef):
            continue
        for method in node.body:
            if not isinstance(method, _DEFS) or method.name.startswith("_"):
                continue
            siblings = set().union(*(_names(m) for m in node.body if m is not method))
            if not any(method.name in (siblings if s is node else names)
                       for s, names in spelt):
                missing.append(f"{rel}:{method.lineno} {node.name}.{method.name}")
    return missing


def unread_module_constants():
    """``module:line name`` of each module-level assignment in ``ocr_spark/``
    that no statement other than its own assignment reads (dunders such as
    ``__all__`` are read by the import system)."""
    statements = [s for rel, tree in _parsed()
                  if not rel.startswith("tests/") for s in tree.body]
    read = [(s, _names(s) - {n.id for n in ast.walk(s) if isinstance(n, ast.Name)
                             and not isinstance(n.ctx, ast.Load)})
            for s in statements]
    missing = []
    for rel, tree in _parsed():
        if not rel.startswith("ocr_spark/"):
            continue
        for node in tree.body:
            targets = (node.targets if isinstance(node, ast.Assign) else
                       [node.target] if isinstance(node, ast.AnnAssign) else [])
            for name in [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)
                         and not n.id.startswith("__")]:
                if not any(name in names for s, names in read if s is not node):
                    missing.append(f"{rel}:{node.lineno} {name}")
    return missing


def unused_imports():
    """``file:line name`` of each imported name that the module (or, for an
    import inside a def, that def) never loads."""
    found = []
    for rel, tree in _parsed():
        if rel.startswith("perfbench/"):
            continue
        lines = (ROOT / rel).read_text().splitlines()
        exported = {e.value for n in tree.body if isinstance(n, ast.Assign)
                    and any(getattr(t, "id", None) == "__all__" for t in n.targets)
                    for e in n.value.elts}
        scope = {}   # id(import) -> the innermost def (or module) holding it
        for node in [tree] + [fn for fn, _ in _functions(tree)]:
            scope.update((id(n), node) for n in ast.walk(node)
                         if isinstance(n, (ast.Import, ast.ImportFrom)))
        for n in ast.walk(tree):
            if (not isinstance(n, (ast.Import, ast.ImportFrom))
                    or getattr(n, "module", None) == "__future__"
                    or any("noqa: F401" in line for line in lines[n.lineno - 1:n.end_lineno])):
                continue
            loaded = {m.id for m in ast.walk(scope[id(n)])
                      if isinstance(m, ast.Name) and not isinstance(m.ctx, ast.Store)}
            for a in n.names:
                name = a.asname or (a.name.split(".")[0] if isinstance(n, ast.Import)
                                    else a.name)
                if name not in loaded | exported:
                    found.append(f"{rel}:{n.lineno} {name}")
    return found


def _functions(tree):
    """``(def, enclosing class or None)`` for every def in ``tree``."""
    out = []

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child)
            elif isinstance(child, _DEFS):
                out.append((child, cls))
                visit(child, None)
            else:
                visit(child, cls)
    visit(tree, None)
    return out


def _is_method(fn, cls):
    return cls is not None and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list)


def _defaulted(fn, cls):
    """``(name, positional index past self or None, default)`` of each
    defaulted parameter of ``fn``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    offset = 1 if _is_method(fn, cls) else 0
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i - offset, d)
           for (i, p), d in zip(list(enumerate(positional))[first:], a.defaults)]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def defaulted_parameters():
    """``(module, line, function, parameter)`` of every defaulted parameter
    of a def or method in ``ocr_spark/``, the exempt modules included."""
    return [(rel, fn.lineno, fn.name, name)
            for rel, tree in _parsed() if rel.startswith("ocr_spark/")
            for fn, cls in _functions(tree)
            for name, _, _ in _defaulted(fn, cls)]


def _required(fn, cls):
    """``(name, positional index past self or None)`` of each parameter of
    ``fn`` without a default, ``self``/``cls`` and ``*args``/``**kw`` aside."""
    a = fn.args
    positional = a.posonlyargs + a.args
    offset = 1 if _is_method(fn, cls) else 0
    out = [(p.arg, i - offset)
           for i, p in enumerate(positional[:len(positional) - len(a.defaults)])
           if i >= offset]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is None]
    return out


def _constant_value(node):
    """``ast.unparse`` of ``node`` if it is a literal, a tuple or list of
    literals, or an UPPER_CASE module constant; else None."""
    if isinstance(node, (ast.Tuple, ast.List)):
        parts = [_constant_value(e) for e in node.elts]
        return None if None in parts else ast.unparse(node)
    name = getattr(node, "id", None) or getattr(node, "attr", None)
    if isinstance(node, ast.Constant) or name and name.isupper():
        return ast.unparse(node)
    return None


def _bound_once(fn):
    """Local name -> value of each name that ``fn`` binds exactly once, by a
    plain ``name = value`` assignment (its parameters count as bindings)."""
    a = fn.args
    counts = collections.Counter(
        p.arg for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if p)
    values = {}
    for n in ast.walk(fn):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            counts[n.id] += 1
        if (isinstance(n, ast.Assign) and len(n.targets) == 1
                and isinstance(n.targets[0], ast.Name)):
            values[n.targets[0].id] = n.value
    return {name: v for name, v in values.items() if counts[name] == 1}


@functools.lru_cache(maxsize=None)
def _call_sites():
    """``(calls, as_value)`` over the caller files (``tests/`` excluded):
    callee name -> ``[(call, bound)]``, ``bound`` being the enclosing def's
    ``_bound_once``, for each call not made through ``*args``/``**kw``; and
    the names loaded other than as a call's callee."""
    calls, as_value = {}, set()
    for rel, tree in _parsed():
        if rel.startswith("tests/"):
            continue
        funcs = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        local = {}   # id(call) -> the innermost enclosing def's _bound_once
        for fn, _ in _functions(tree):
            bound = _bound_once(fn)
            local.update((id(n), bound) for n in ast.walk(fn) if isinstance(n, ast.Call))
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                callee = getattr(f, "id", None) or getattr(f, "attr", None)
                starred = (any(isinstance(x, ast.Starred) for x in n.args)
                           or any(k.arg is None for k in n.keywords))
                if callee and not starred:
                    calls.setdefault(callee, []).append((n, local.get(id(n), {})))
            elif (isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in funcs
                  and isinstance(n.ctx, ast.Load)):
                as_value.add(getattr(n, "id", None) or n.attr)
    return calls, as_value


def _scanned_functions():
    """``(rel, def, [(call, bound)], parameters)`` of each def in the checked
    modules that has call sites and is never referenced as a value;
    ``parameters`` is ``[(name, positional index or None, default or None)]``."""
    calls, as_value = _call_sites()
    for rel, tree in _checked_modules():
        for fn, cls in _functions(tree):
            callee = cls.name if fn.name == "__init__" and cls else fn.name
            sites = calls.get(callee)
            if sites and callee not in as_value:
                params = [(name, pos, None) for name, pos in _required(fn, cls)]
                yield rel, fn, sites, params + _defaulted(fn, cls)


def _given(call, name, pos):
    """The argument ``call`` passes for parameter ``name``, or None."""
    given = [k.value for k in call.keywords if k.arg == name]
    if not given and pos is not None and pos < len(call.args):
        given = [call.args[pos]]
    return given[0] if given else None


def single_valued_parameters():
    """``module:line function(parameter) = value`` of each parameter that
    every call site in the caller files (``tests/`` excluded) passes the
    same value: a literal, a tuple or list of literals, or an UPPER_CASE
    module constant, written at the call site or bound to a local that the
    calling function assigns exactly once. A call site that omits a
    defaulted parameter passes its default, so a default that every call
    site agrees on is flagged like a required parameter that takes one
    value. Callees resolve by name, as in ``unpassed_defaulted_parameters``.
    A function that is referenced as a value (passed to ``mapInPandas``,
    ``udf``, a ``record_fn``, ...) has call sites no scan sees, so it is
    skipped; so is a call made through ``*args``/``**kw``."""
    found = []
    for rel, fn, sites, params in _scanned_functions():
        for name, pos, default in params:
            values = set()
            for call, bound in sites:
                value = _given(call, name, pos)
                if isinstance(value, ast.Name):
                    value = bound.get(value.id, value)
                value = default if value is None else value
                values.add(None if value is None else _constant_value(value))
            if len(values) == 1 and None not in values:
                found.append(f"{rel}:{fn.lineno} {fn.name}({name}) = {values.pop()}")
    return found


def explicitly_passed_defaults():
    """``module:line function(parameter) = default`` of each defaulted
    parameter that every call site in the caller files (``tests/``
    excluded) passes itself, so that only tests rely on the default. The
    call sites are those of ``single_valued_parameters``."""
    return [f"{rel}:{fn.lineno} {fn.name}({name}) = {ast.unparse(default)}"
            for rel, fn, sites, params in _scanned_functions()
            for name, pos, default in params
            if default is not None
            and all(_given(call, name, pos) is not None for call, _ in sites)]


def unpassed_defaulted_parameters():
    """``module:line function(parameter)`` of each defaulted parameter that
    no call site in the caller files (``tests/`` excluded) passes, by
    keyword, by position (past ``self`` for methods) or through
    ``*args``/``**kw``; ``ClassName(...)`` calls ``__init__``. Callees
    resolve by name. A value forwarded from the caller's own defaulted
    parameter with the same default counts only once that parameter is
    itself passed, so the passed set is a fixpoint."""
    checked = {rel for rel, _ in _engine_modules()}
    by_callee = {}    # callee name -> [(param, positional index, id, default)]
    passes = []       # (callee, keywords, positions, forwarded (id, default))
    for rel, tree in _parsed():
        for fn, cls in _functions(tree):
            callee = cls.name if fn.name == "__init__" and cls else fn.name
            for name, pos, default in _defaulted(fn, cls):
                by_callee.setdefault(callee, []).append(
                    (name, pos, (rel, fn.lineno, fn.name, name), ast.dump(default)))
        if not rel.startswith("tests/"):
            _collect_passes(rel, tree, {}, None, passes)

    passed = set()
    grew = True
    while grew:
        grew = False
        for callee, kw, positions, fwd in passes:
            for name, pos, pid, default in by_callee.get(callee, ()):
                if pid in passed or not (
                        kw is ALL or name in kw
                        or pos is not None and (positions is ALL or pos in positions)):
                    continue
                if fwd is None or fwd[0] in passed or fwd[1] != default:
                    passed.add(pid)
                    grew = True
    return [f"{rel}:{line} {fn}({name})"
            for entries in by_callee.values()
            for name, _, (rel, line, fn, _), _ in entries
            if rel in checked and (rel, line, fn, name) not in passed]


ALL = object()   # a ``*args`` / ``**kw`` pass: every position / keyword


def _collect_passes(rel, node, own, cls, passes):
    """Append the passes of every call under ``node``. ``own`` maps each
    local name to ``(id, default)`` of the enclosing defaulted parameter it
    holds, or to None. A keyword or position whose value is such a name is
    its own pass, tagged with what it forwards."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.ClassDef):
            _collect_passes(rel, child, own, child, passes)
            continue
        if isinstance(child, _DEFS):
            a = child.args
            inner = {**own, **{p.arg: None for p in a.posonlyargs + a.args + a.kwonlyargs}}
            inner.update((name, ((rel, child.lineno, child.name, name), ast.dump(d)))
                         for name, _, d in _defaulted(child, cls))
            _collect_passes(rel, child, inner, None, passes)
            continue
        f = getattr(child, "func", None)
        callee = getattr(f, "id", None) or getattr(f, "attr", None)
        if isinstance(child, ast.Call) and callee:
            kw = ALL if any(k.arg is None for k in child.keywords) else set()
            positions = set()
            for k in child.keywords:
                fwd = _forwarded(k.value, own)
                if k.arg is not None and fwd is not None:
                    passes.append((callee, {k.arg}, (), fwd))
                elif k.arg is not None and kw is not ALL:
                    kw.add(k.arg)
            for i, x in enumerate(child.args):
                if isinstance(x, ast.Starred):
                    positions = ALL
                    break
                fwd = _forwarded(x, own)
                if fwd is not None:
                    passes.append((callee, (), {i}, fwd))
                else:
                    positions.add(i)
            passes.append((callee, kw, positions, None))
        _collect_passes(rel, child, own, cls, passes)


def _forwarded(value, own):
    return own.get(value.id) if isinstance(value, ast.Name) else None


TEXT_PRIMITIVES = "ocr_spark/functions/text.py"


def _callee(node):
    """The called name of ``node`` if it is a call, else None."""
    f = getattr(node, "func", None)
    return getattr(f, "id", None) or getattr(f, "attr", None)


def inline_text_primitives():
    """``module:line primitive`` of each ``conv(substring(md5(...)))`` and
    each load of ``TOKEN_PATTERN`` in ``ocr_spark/`` outside
    ``functions/text.py``."""
    found = []
    for rel, tree in _parsed():
        if not rel.startswith("ocr_spark/") or rel == TEXT_PRIMITIVES:
            continue
        for n in ast.walk(tree):
            inner = n.args[0] if _callee(n) == "conv" and n.args else None
            if (_callee(inner) == "substring" and inner.args
                    and _callee(inner.args[0]) == "md5"):
                found.append(f"{rel}:{n.lineno} conv(substring(md5(...)))")
            if (isinstance(n, (ast.Name, ast.Attribute)) and isinstance(n.ctx, ast.Load)
                    and getattr(n, "id", getattr(n, "attr", None)) == "TOKEN_PATTERN"):
                found.append(f"{rel}:{n.lineno} TOKEN_PATTERN")
    return found


SHINGLE_JACCARD = ("ocr_spark/operators/dedup.py", "shingle_jaccard")


def inline_shingle_jaccards():
    """``module:line`` of each ``array_union`` call in ``ocr_spark/``
    outside the body of ``dedup.shingle_jaccard``."""
    found = []
    for rel, tree in _parsed():
        if not rel.startswith("ocr_spark/"):
            continue
        shared = {id(n) for fn in tree.body if rel == SHINGLE_JACCARD[0]
                  and isinstance(fn, _DEFS) and fn.name == SHINGLE_JACCARD[1]
                  for n in ast.walk(fn)}
        found += [f"{rel}:{n.lineno} array_union" for n in ast.walk(tree)
                  if _callee(n) == "array_union" and id(n) not in shared]
    return found


def test_every_public_name_has_a_non_test_caller():
    stale = [rel for rel in EXEMPT if not (PKG / rel).is_file()]
    assert not stale, f"exempt modules that no longer exist: {stale}"
    missing = unreferenced_public_names()
    assert not missing, (
        "public names and methods in ocr_spark/ that only tests reach (move "
        "an oracle into tests/, delete dead code):\n  " + "\n  ".join(missing))


def test_every_defaulted_parameter_is_passed():
    missing = unpassed_defaulted_parameters()
    assert not missing, (
        "defaulted parameters in ocr_spark/ that no non-test call site "
        "passes (fold each into the value it defaults to):\n  "
        + "\n  ".join(missing))


def test_every_required_parameter_takes_more_than_one_value():
    found = single_valued_parameters()
    assert not found, (
        "parameters in ocr_spark/ and __spark_entry__.py that every non-test "
        "call site passes the same value, a default left in place counting "
        "as passed (fold each into the value shown; a test that needs "
        "another value monkeypatches a module constant):\n  " + "\n  ".join(found))


def test_every_default_is_relied_on():
    found = explicitly_passed_defaults()
    assert not found, (
        "defaults in ocr_spark/ and __spark_entry__.py that every non-test "
        "call site overrides, so only tests rely on them (delete each "
        "default shown; tests pass the value themselves):\n  " + "\n  ".join(found))


def test_every_module_constant_is_read():
    missing = unread_module_constants()
    assert not missing, (
        "module-level names in ocr_spark/ that nothing reads:\n  "
        + "\n  ".join(missing))


def test_every_import_is_used():
    found = unused_imports()
    assert not found, (
        "imported names that nothing loads (delete the import, or mark an "
        "availability probe `# noqa: F401`):\n  " + "\n  ".join(found))


def test_text_primitives_have_one_definition():
    found = inline_text_primitives()
    assert not found, (
        "md5-prefix keys or word tokens built outside "
        f"{TEXT_PRIMITIVES} (call md5_prefix_long / word_tokens):\n  "
        + "\n  ".join(found))


def test_shingle_jaccard_has_one_definition():
    found = inline_shingle_jaccards()
    assert not found, (
        "shingle-set jaccard built outside dedup.shingle_jaccard (call it, "
        "so every pair path rounds the same way):\n  " + "\n  ".join(found))
