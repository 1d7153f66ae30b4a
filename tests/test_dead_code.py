"""Dead-code guards over qs_spark/.

- Named: every public top-level function in qs_spark/ is named somewhere in
  the repo's Python besides its own `def` line — by a caller, a test, a tool
  or an entry point.
- Reached: a top-level `def` or `class` in qs_spark/ stays only if the
  system reaches it, and a name that only its own tests call is not reached.
  The reach starts from the words of the files that run the engine outside
  its tests (REACH_ROOTS: the entry queries, the job, the bench scripts, the
  benchmark and tools/) plus the module-level code of qs_spark/ (imports,
  constants, tables).  A definition whose name, public or private, appears
  in reached text is reached, and its own source then counts as reached
  text; this repeats until nothing changes.  Delete what stays unreached,
  with the tests that exist only to run it.  An oracle belongs in tests/ or
  tools/.
- Allowlist: KEPT_BY_COVERAGE keeps an unreached name that a COVERAGE.md row
  maps (a SURVEY §2 operator or a reference route the entry queries do not
  run).  Each value is text of that row, and the row must name the
  function.  An allowlisted name that becomes reachable leaves the list.
- Options: the count of defaulted parameters on public functions is
  ratcheted (MAX_OPTIONS).
"""

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


# What runs the engine outside its own tests.
REACH_ROOTS = ("__spark_entry__.py", "jobs", "bench.py", "bench_extra.py", "perfbench", "tools")

# Unreached names that a COVERAGE.md row keeps: name -> text of that row.
KEPT_BY_COVERAGE = {
    "folder_size_bytes": "| A6 folder size |",
    "index_backup_decision": "| A6 folder size |",
    "backfill_uploaded_date": "| J5 upload-date backfill |",
    "get_file_status": "| T2 processing status |",
    "dedup_on_read": "| T5 at-least-once -> idempotent |",
    "stream_extract": "| streaming ingestion (",
    "compact_postings": "| periodic index optimize (",
}


def _unreached() -> dict[str, str]:
    """Top-level definitions in qs_spark/ that the reach rule does not
    reach: name -> its module path."""
    roots = [ROOT / r for r in REACH_ROOTS]
    texts, pending = [], []
    for p in _py_files():
        rel = p.relative_to(ROOT)
        text = p.read_text(encoding="utf-8")
        if any(p == r or r in p.parents for r in roots):
            texts.append(text)
        if rel.parts[0] != "qs_spark":
            continue
        lines = text.splitlines(keepends=True)
        inside = set()
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                start = min([d.lineno for d in node.decorator_list], default=node.lineno)
                span = range(start - 1, node.end_lineno)
                pending.append((str(rel), node.name, "".join(lines[i] for i in span)))
                inside.update(span)
        texts.append("".join(ln for i, ln in enumerate(lines) if i not in inside))
    reached = set(re.findall(r"\w+", "".join(texts)))
    while True:
        hit = [d for d in pending if d[1] in reached]
        if not hit:
            break
        pending = [d for d in pending if d[1] not in reached]
        for _, _, src in hit:
            reached.update(re.findall(r"\w+", src))
    return {name: rel for rel, name, _ in pending}


def test_every_definition_is_reached():
    unreached = _unreached()
    dead = sorted(f"{rel}:{name}" for name, rel in unreached.items() if name not in KEPT_BY_COVERAGE)
    assert not dead, (
        f"reached only by tests, if at all: {dead}.  Delete them with the tests "
        "that only run them, move an oracle to tests/ or tools/, or, if a "
        "COVERAGE.md row maps one, add it to KEPT_BY_COVERAGE with that row."
    )
    stale = sorted(set(KEPT_BY_COVERAGE) - set(unreached))
    assert not stale, f"reachable or gone, drop from KEPT_BY_COVERAGE: {stale}"


def test_kept_names_have_their_coverage_row():
    rows = (ROOT / "COVERAGE.md").read_text(encoding="utf-8").splitlines()
    missing = sorted(
        name
        for name, row in KEPT_BY_COVERAGE.items()
        if not any(row in ln and re.search(rf"\b{name}\b", ln) for ln in rows)
    )
    assert not missing, f"no COVERAGE.md row holds this text and names the function: {missing}"


# Defaulted parameters of the public top-level functions in qs_spark/.
# Raising the bound goes in CHANGES.md, with the reason.
MAX_OPTIONS = 91


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
