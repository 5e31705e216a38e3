"""No engine code without a caller: the name of every top-level
``def``/``class`` in ``zseq/`` must be referenced somewhere (the ``def``
or ``class`` statement itself is not a reference).

References are counted over the engine and the programs that drive it —
``zseq/``, ``bench*.py``, ``bench/``, ``perfbench/`` and
``__spark_entry__.py`` — from the parsed source: names, attributes,
imports, and string constants that spell an identifier or a dotted path
(``getattr``/``setattr`` targets such as ``perfbench/trace.py``'s patch
list). Tests do not count: a function only its own test calls is dead.
Comments and docstrings do not count either."""

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
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
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
