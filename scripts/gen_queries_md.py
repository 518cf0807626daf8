#!/usr/bin/env python3
"""Generate QUERIES.md from the live registry — the discoverability
index for a 160+-query surface, so nobody greps ``__spark_entry__.py``
to learn what exists.

One row per ``queries()`` entry, in registry (declaration) order:
name | family | what it does (the implementing callable's first
docstring sentence) | oracle mode (sql = DuckDB value-hash twin,
rows-only = no SQL-expressible twin).

``tests/test_driver_contract.py::test_queries_md_in_sync`` regenerates
the table in-memory and diffs it against the committed file, so the doc
cannot drift from the registry.

Usage: python scripts/gen_queries_md.py [--check]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    # cut at the first sentence end that isn't inside an abbreviation-ish
    # token; fall back to the whole (collapsed) docstring head
    m = re.search(r"(?<=[.!?])\s", text)
    s = text[: m.start()] if m else text
    return s[:160].replace("|", "\\|")



def _list_assign(path: str, names: set[str]) -> set[str]:
    """String elements of the named top-level list assignments in a test
    module, read via ast — no test-module import side effects."""
    import ast

    out: set[str] = set()
    tree = ast.parse(open(path).read())
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id in names
                for t in node.targets
            )
            and isinstance(node.value, ast.List)
        ):
            for elt in node.value.elts:
                if isinstance(elt, ast.Constant) and isinstance(elt.value, str):
                    out.add(elt.value)
    return out


def _all_strings(path: str) -> set[str]:
    import ast

    return {
        n.value
        for n in ast.walk(ast.parse(open(path).read()))
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _verification_sets(registry: set[str]) -> dict[str, set[str]]:
    """Which queries carry which verification evidence, derived from the
    SAME sources the evidence lives in (oracle_check's bounded specs and
    the test modules) so the matrix cannot drift from them."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import oracle_check

    return {
        "bounded": set(oracle_check._bounded_oracles()) & registry,
        "partition": _list_assign(
            os.path.join(REPO, "tests/test_partition_invariance.py"), {"QUERIES"}
        )
        & registry,
        "chaos": _list_assign(
            os.path.join(REPO, "tests/test_chaos_corpus.py"),
            {"NASTY_QUERIES", "NASTY_EVENT_QUERIES"},
        )
        & registry,
        # plan pins reference queries inline across many tests — any
        # registry name appearing as a string literal in test_plans.py
        # is plan-exercised
        "plan": _all_strings(os.path.join(REPO, "tests/test_plans.py")) & registry,
    }


def render() -> str:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    lines = [
        "# Query registry",
        "",
        f"{len(qs)} queries, in registry order (the order the driver's "
        "prefix sample reads). Generated by `scripts/gen_queries_md.py` "
        "— do not edit by hand; `tests/test_driver_contract.py` pins "
        "sync with `queries()`.",
        "",
        "| # | query | family | what it does | oracle |",
        "|---|-------|--------|--------------|--------|",
    ]
    vsets = _verification_sets(set(qs))
    for i, (name, fn) in enumerate(qs.items()):
        family = name.split("_", 1)[0]
        if name in vsets["bounded"]:
            mode = "bounded"
        elif name in oracles:
            mode = "sql"
        else:
            mode = "rows-only"
        lines.append(
            f"| {i} | `{name}` | {family} | {_first_sentence(fn.__doc__)} "
            f"| {mode} |"
        )

    # families x verification-mode matrix: the one-table audit of the
    # coverage claims (exact = hash-exact DuckDB twin; bounded = checked
    # error-bound twin; rows-only = no SQL-expressible twin; plan =
    # physical-plan invariant pinned; part-inv = partition-count
    # invariance pinned; chaos = nasty-corpus no-abort pinned)
    lines += [
        "",
        "## Verification matrix",
        "",
        "Counts per family. `exact`+`bounded`+`rows-only` partition the "
        "family total (primary value verification); `plan`, `part-inv` "
        "and `chaos` are additional pinned properties. Derived from "
        "`scripts/oracle_check.py` and the test modules by the "
        "generator — sync-tested like the table above.",
        "",
        "| family | total | exact | bounded | rows-only | plan | "
        "part-inv | chaos |",
        "|--------|-------|-------|---------|-----------|------|"
        "----------|-------|",
    ]
    fams: dict[str, list[str]] = {}
    for name in qs:
        fams.setdefault(name.split("_", 1)[0], []).append(name)
    totals = [0] * 6

    def _row(label, members):
        exact = sum(
            1
            for n in members
            if n in oracles and n not in vsets["bounded"]
        )
        cells = [
            exact,
            sum(1 for n in members if n in vsets["bounded"]),
            sum(
                1
                for n in members
                if n not in oracles and n not in vsets["bounded"]
            ),
            sum(1 for n in members if n in vsets["plan"]),
            sum(1 for n in members if n in vsets["partition"]),
            sum(1 for n in members if n in vsets["chaos"]),
        ]
        return (
            f"| {label} | {len(members)} | "
            + " | ".join(str(c) for c in cells)
            + " |",
            cells,
        )

    for fam in sorted(fams):
        row, cells = _row(fam, fams[fam])
        lines.append(row)
        totals = [a + b for a, b in zip(totals, cells)]
    lines.append(
        f"| **all** | {len(qs)} | "
        + " | ".join(f"**{c}**" for c in totals)
        + " |"
    )
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    out = render()
    if "--check" in sys.argv:
        current = open(os.path.join(REPO, "QUERIES.md")).read()
        sys.exit(0 if current == out else 1)
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write(out)
    print(f"wrote QUERIES.md ({out.count(chr(10))} lines)")
