"""Caller scan: which top-level definitions in ``sparkclean/`` have a
production caller.

Usage:
    python tools/callers.py            # summary + the two lists
    python tools/callers.py --all      # also every definition's counts

A definition is a top-level ``def``/``class`` in ``sparkclean/``.  A
reference is any ``ast.Name``/``ast.Attribute`` of its name (matched by
name, not resolved through imports), outside the definition's own
body.  A ``from ... import`` of the name counts only inside a package
``__init__.py``, where it is a re-export; elsewhere an import is not a
call, and an import that is never used would otherwise hide dead code.
References from ``sparkclean/``, ``__spark_entry__.py``, ``bench*.py``,
``bench/`` and ``tools/`` count as production callers; references from
``tests/`` and ``perfbench/`` are counted separately.  Matching by bare
name over-counts a name that several modules define, so the report is a
lower bound on dead code.

The scan only prints; nothing gates on it.
"""

from __future__ import annotations

import argparse
import ast
import glob
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRODUCTION = ["sparkclean/**/*.py", "__spark_entry__.py", "bench*.py", "bench/**/*.py", "tools/**/*.py"]
TEST_ONLY = ["tests/**/*.py", "perfbench/**/*.py"]


def _files(patterns: list[str]) -> list[str]:
    out: set[str] = set()
    for pat in patterns:
        out.update(glob.glob(os.path.join(REPO, pat), recursive=True))
    return sorted(f for f in out if os.path.isfile(f))


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _definitions(path: str) -> list[tuple[str, int, int]]:
    """(name, first line, last line) of each top-level def/class."""
    return [
        (node.name, node.lineno, node.end_lineno)
        for node in _parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def _references(path: str) -> list[tuple[str, int]]:
    """(name, line) of every name a file mentions; imported names only
    in a package ``__init__.py`` (re-exports)."""
    tree = _parse(path)
    reexports = os.path.basename(path) == "__init__.py"
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif reexports and isinstance(node, ast.ImportFrom):
            refs.extend((a.name, node.lineno) for a in node.names)
    return refs


def scan() -> list[dict]:
    """One record per definition: module, name, lines, and its
    production / test-only reference counts."""
    defs = []
    for path in _files(["sparkclean/**/*.py"]):
        rel = os.path.relpath(path, REPO)
        for name, lo, hi in _definitions(path):
            defs.append({"module": rel, "name": name, "lo": lo, "hi": hi, "lines": hi - lo + 1})

    def count(patterns: list[str]) -> Counter:
        hits: Counter = Counter()
        by_name: dict[str, list[dict]] = {}
        for d in defs:
            by_name.setdefault(d["name"], []).append(d)
        for path in _files(patterns):
            rel = os.path.relpath(path, REPO)
            for name, line in _references(path):
                for d in by_name.get(name, ()):
                    # a definition's own body (recursion, its def line)
                    # is not a caller
                    if rel == d["module"] and d["lo"] <= line <= d["hi"]:
                        continue
                    hits[(d["module"], d["name"])] += 1
        return hits

    prod, tests = count(PRODUCTION), count(TEST_ONLY)
    for d in defs:
        key = (d["module"], d["name"])
        d["production"], d["test_only"] = prod[key], tests[key]
    return defs


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="callers")
    p.add_argument("--all", action="store_true", help="list every definition")
    args = p.parse_args(argv)

    defs = scan()
    test_only = [d for d in defs if d["production"] == 0 and d["test_only"] > 0]
    orphans = [d for d in defs if d["production"] == 0 and d["test_only"] == 0]

    def show(rows: list[dict]) -> None:
        for d in sorted(rows, key=lambda d: (-d["lines"], d["module"], d["name"])):
            print(
                f"  {d['module']}:{d['lo']} {d['name']} ({d['lines']} lines; "
                f"production {d['production']}, tests/perfbench {d['test_only']})"
            )

    print(
        f"{len(defs)} top-level definitions in sparkclean/; "
        f"{len(test_only) + len(orphans)} "
        f"({sum(d['lines'] for d in test_only + orphans)} lines) "
        "have no production caller"
    )
    print(f"called only from tests/ or perfbench/: {len(test_only)}")
    show(test_only)
    print(f"no caller at all: {len(orphans)}")
    show(orphans)
    if args.all:
        print("all definitions:")
        show(defs)


if __name__ == "__main__":
    main()
