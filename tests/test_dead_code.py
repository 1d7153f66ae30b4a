"""Dead-code guard: every public top-level function in qs_spark/ is named
somewhere in the repo's Python besides its own `def` line — by a caller, a
test, a tool or an entry point.  A public function nothing names is dead
weight: delete it, or make it private if only its own module should see it."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _py_files():
    return [
        p
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def test_every_public_function_is_referenced():
    words = Counter()
    defs = []
    for p in _py_files():
        text = p.read_text(encoding="utf-8")
        words.update(re.findall(r"\w+", text))
        if p.relative_to(ROOT).parts[0] == "qs_spark":
            lines = text.splitlines()
            defs += [
                (p, node.name, lines[node.lineno - 1])
                for node in ast.parse(text).body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
            ]
    unreferenced = sorted(
        f"{p.relative_to(ROOT)}:{name}"
        for p, name, def_line in defs
        if words[name] <= len(re.findall(rf"\b{name}\b", def_line))
    )
    assert not unreferenced, unreferenced


# Defaulted parameters of the public top-level functions in qs_spark/.
# Raising the bound goes in CHANGES.md, with the reason.
MAX_OPTIONS = 126


def test_options_do_not_grow():
    """Option ratchet: a defaulted parameter that every caller runs at one
    value is a module constant, not an option."""
    n = 0
    for p in _py_files():
        if p.relative_to(ROOT).parts[0] != "qs_spark":
            continue
        for node in ast.parse(p.read_text(encoding="utf-8")).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) and not node.name.startswith("_"):
                args = node.args
                n += len(args.defaults) + sum(d is not None for d in args.kw_defaults)
    assert n <= MAX_OPTIONS, (
        f"{n} defaulted parameters on public functions in qs_spark/, bound "
        f"{MAX_OPTIONS}: a new option needs two existing non-test callers that "
        "set different values; otherwise make it a module constant.  Raising "
        "the bound goes in CHANGES.md with the reason."
    )
