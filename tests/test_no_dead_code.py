"""No engine code without a caller, and no parameter without one.

The name of every top-level ``def``/``class`` and every top-level
assigned name (dunders such as ``__version__`` aside) in ``zseq/`` must
be referenced somewhere (the ``def`` or ``class`` statement or the
assignment itself is not a reference).

References are counted over the engine and the programs that drive it —
``zseq/``, ``bench*.py``, ``bench/``, ``perfbench/`` and
``__spark_entry__.py`` — from the parsed source: names read (not
assigned), attributes, imports, and string constants that spell an
identifier or a dotted path (``getattr``/``setattr`` targets such as
``perfbench/trace.py``'s patch list). Tests do not count: a function
only its own test calls is dead. Comments and docstrings do not count
either.

Every defaulted parameter of a ``zseq/`` function must be passed, by
keyword or position, by some call of that function's name in the same
sources. Tests do not count here either: a value only a test sets is a
module constant the test patches, not a parameter.

Every field of a ``zseq/`` ``@dataclass`` must be read as an attribute
in the same sources: a field that is only computed and stored costs its
computation on every construction.

Every local a ``zseq/`` function binds by assignment must be read in
that function (nested functions included); a name starting with ``_``
marks a value bound only to be dropped, such as one slot of an
unpacking."""

import ast
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DOTTED = re.compile(r"^[A-Za-z_][\w.]*$")


def _sources() -> list[str]:
    out = []
    for base in ("zseq", "bench", "perfbench"):
        for d, _, files in os.walk(os.path.join(REPO, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    out += [os.path.join(REPO, f) for f in os.listdir(REPO)
            if f.endswith(".py")
            and (f.startswith("bench") or f == "__spark_entry__.py")]
    return sorted(out)


def _scan() -> tuple[list[tuple[str, str]], Counter]:
    defs, refs = [], Counter()
    for path in _sources():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, REPO)
        if rel.startswith("zseq" + os.sep):
            defs += [(rel, n.name) for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef))]
            targets = [t for n in tree.body if isinstance(n, ast.Assign)
                       for t in n.targets]
            targets += [n.target for n in tree.body
                        if isinstance(n, ast.AnnAssign)]
            defs += [(rel, t.id) for tg in targets for t in ast.walk(tg)
                     if isinstance(t, ast.Name)
                     and isinstance(t.ctx, ast.Store)
                     and not (t.id.startswith("__") and t.id.endswith("__"))]
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                refs[n.id] += 1
            elif isinstance(n, ast.Attribute):
                refs[n.attr] += 1
            elif isinstance(n, ast.alias):
                refs[n.name.rsplit(".", 1)[-1]] += 1
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                    and _DOTTED.match(n.value):
                refs.update(n.value.split("."))
    return defs, refs


def test_every_top_level_engine_definition_has_a_caller():
    defs, refs = _scan()
    assert len(defs) > 100  # the scan sees the engine
    dead = [f"{rel}: {name}" for rel, name in defs if not refs[name]]
    assert not dead, "no caller outside the definition itself:\n" + \
        "\n".join(dead)


def _defaulted(fn, shift: int) -> list[tuple[str, int | None]]:
    """(name, call position or None for keyword-only) of ``fn``'s
    defaulted parameters; ``shift`` drops a bound ``self``/``cls``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return ([(p.arg, i - shift) for i, p in enumerate(pos) if i >= first]
            + [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None])


def _params(tree) -> list[tuple[str, str, int | None]]:
    """(callee name, parameter, position) of every defaulted parameter
    of every function in ``tree``, methods and nested functions too. A
    constructor is called by its class name."""
    out = []

    def visit(node, cls):
        for n in ast.iter_child_nodes(node):
            if isinstance(n, ast.ClassDef):
                visit(n, n)
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in n.decorator_list)
                shift = int(cls is not None and not static)
                name = cls.name if cls is not None and n.name == "__init__" \
                    else n.name
                out.extend((name, p, i) for p, i in _defaulted(n, shift))
                visit(n, None)
            else:
                visit(n, cls)

    visit(tree, None)
    return out


def test_every_defaulted_parameter_has_a_caller():
    params, calls = [], {}
    for path in _sources():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, REPO)
        if rel.startswith("zseq" + os.sep):
            params += [(rel, *p) for p in _params(tree)]
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr",
                                                                None)
            # a *args / **kwargs call passes every parameter
            npos = float("inf") if any(isinstance(a, ast.Starred)
                                       for a in n.args) else len(n.args)
            kws = None if any(k.arg is None for k in n.keywords) \
                else {k.arg for k in n.keywords}
            calls.setdefault(name, []).append((npos, kws))
    assert len(params) > 50  # the scan sees the engine's parameters
    # ... the operator modules' too, so no path slip skips them silently
    seen = {os.path.basename(rel) for rel, *_ in params}
    assert {"dedup.py", "sim.py", "textops.py"} <= seen
    unset = [f"{rel}: {name}({p})" for rel, name, p, i in params
             if not any(kws is None or p in kws
                        or (i is not None and npos > i)
                        for npos, kws in calls.get(name, []))]
    assert not unset, "no caller passes these parameters:\n" + \
        "\n".join(unset)


def _dataclass_fields(tree) -> list[tuple[str, str]]:
    """(class, field) of every ``@dataclass`` class in ``tree``."""
    out = []
    for c in ast.walk(tree):
        if isinstance(c, ast.ClassDef) and any(
                "dataclass" in ast.unparse(d) for d in c.decorator_list):
            out += [(c.name, n.target.id) for n in c.body
                    if isinstance(n, ast.AnnAssign)
                    and isinstance(n.target, ast.Name)]
    return out


def test_every_dataclass_field_is_read():
    """A ``@dataclass`` field in ``zseq/`` must be read as ``.field``
    somewhere in the engine or the programs that drive it: a field only
    ever computed and stored is dead work on every construction."""
    fields, reads = [], Counter()
    for path in _sources():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, REPO)
        if rel.startswith("zseq" + os.sep):
            fields += [(rel, *cf) for cf in _dataclass_fields(tree)]
        reads.update(n.attr for n in ast.walk(tree)
                     if isinstance(n, ast.Attribute)
                     and isinstance(n.ctx, ast.Load))
    assert len(fields) > 10  # the scan sees the engine's dataclasses
    unread = [f"{rel}: {cls}.{name}" for rel, cls, name in fields
              if not reads[name]]
    assert not unread, "never read as an attribute:\n" + "\n".join(unread)


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _bound(fn) -> set[str]:
    """Names ``fn`` itself binds by assignment: assignment, loop,
    ``with``, comprehension and walrus targets, not those of its nested
    functions or classes."""
    out, todo = set(), list(ast.iter_child_nodes(fn))
    while todo:
        n = todo.pop()
        if isinstance(n, _SCOPES):
            continue
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out.add(n.id)
        todo.extend(ast.iter_child_nodes(n))
    return out


def test_every_local_is_read():
    """A ``zseq/`` function's assigned local that nothing reads is dead
    work (an unused unpack slot, a value computed and dropped)."""
    unread, nfuncs = [], 0
    for path in _sources():
        rel = os.path.relpath(path, REPO)
        if not rel.startswith("zseq" + os.sep):
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        mod = os.path.splitext(os.path.basename(rel))[0]
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nfuncs += 1
            reads, shared = set(), set()
            for n in ast.walk(fn):
                if isinstance(n, ast.Name) and not isinstance(n.ctx,
                                                              ast.Store):
                    reads.add(n.id)
                elif isinstance(n, (ast.Global, ast.Nonlocal)):
                    shared.update(n.names)
            unread += [f"{mod}.{fn.name}: {name}"
                       for name in sorted(_bound(fn) - reads - shared)
                       if not name.startswith("_")]
    assert nfuncs > 300  # the scan sees the engine's functions
    assert not unread, "assigned, never read:\n" + "\n".join(unread)
