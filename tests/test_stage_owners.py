"""One owner per staged artifact, and one closed-trade leg derivation.

``stage_cached`` keys an artifact on (name, package hash, data
fingerprint) only, so two calls that stage the same name with their own
build lambdas would let whichever query runs first decide what every
consumer reads. Each name therefore has exactly one staging call in the
package, inside the pack's builder function, and every consumer calls
that builder.

The same rule holds for the round-trip lots: the max-line close lot and
the line-1 open lot are derived once, in ``queries_trades._trade_legs``
(one lineitem pass with a max-line window), and consumers call it or
``_closed_trades``.
"""

from __future__ import annotations

import ast
import os
import re
from collections import defaultdict

import portofolio_maximizer_spark
from portofolio_maximizer_spark.plans.queries import ORACLE, STAGE_TOKEN

PKG = os.path.dirname(portofolio_maximizer_spark.__file__)
QUERIES_PY = os.path.join(PKG, "plans", "queries.py")

#: staging entry point -> position of its artifact-name argument
STAGERS = {"stage_cached": 2, "stage_for_oracle": 1, "_ensure_staged": 1}


def _callee(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _name_arg(node: ast.Call, pos: int) -> ast.expr | None:
    for kw in node.keywords:
        if kw.arg == "name":
            return kw.value
    return node.args[pos] if len(node.args) > pos else None


def _package_files():
    for dirpath, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _staging_calls() -> tuple[dict[str, list[str]], list[str]]:
    """Literal artifact name -> call sites, and the sites whose name is
    not a string literal. Calls inside the staging functions' own
    definitions in ``plans/queries.py`` are the protocol, not owners."""
    owners: dict[str, list[str]] = defaultdict(list)
    dynamic: list[str] = []
    for path in _package_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        skip: set[int] = set()
        if path == QUERIES_PY:
            for d in tree.body:
                if isinstance(d, ast.FunctionDef) and d.name in STAGERS:
                    skip |= {id(n) for n in ast.walk(d)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in skip:
                continue
            callee = _callee(node)
            if callee not in STAGERS:
                continue
            site = f"{os.path.relpath(path, PKG)}:{node.lineno}"
            arg = _name_arg(node, STAGERS[callee])
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                owners[arg.value].append(site)
            else:
                dynamic.append(site)
    return owners, dynamic


def test_every_artifact_name_is_a_literal():
    _, dynamic = _staging_calls()
    assert dynamic == [], f"staging calls without a literal artifact name: {dynamic}"


def test_every_artifact_has_one_staging_call():
    owners, _ = _staging_calls()
    shared = {name: sites for name, sites in owners.items() if len(sites) > 1}
    assert shared == {}, (
        "artifact names staged from more than one call site; give each one "
        f"builder function and call it from every consumer: {shared}"
    )


def test_oracle_reads_only_staged_artifacts():
    owners, _ = _staging_calls()
    read = set()
    for sql in ORACLE.values():
        read |= set(re.findall(re.escape(STAGE_TOKEN) + r"/(\w+)", sql))
    assert read, "no oracle reads a staged artifact: the pattern is stale"
    assert read - set(owners) == set()


#: the max-line grouping that defines a close lot
MAXLINE = 'agg(F.max("l_linenumber").alias("maxline"))'

#: functions allowed to spell it: three variants that are not the lot
#: pair (a distinct-key census, a decimal(28,8) net cast back to double,
#: and a leg-grain census)
MAXLINE_OWNERS = [
    "check_constraint_validation",
    "open_trade_liquidation_plan",
    "platt_contract_audit",
]

#: the max-line window of the one-pass lot derivation, and its one owner
MAXLINE_WINDOW = "max(l_linenumber) OVER (PARTITION BY l_orderkey)"
MAXLINE_WINDOW_OWNERS = ["_trade_legs"]


def _spelling_sites(spelling: str) -> list[str]:
    """Innermost enclosing function of every line that spells ``spelling``."""
    sites = []
    for path in _package_files():
        with open(path) as f:
            src = f.read()
        if spelling not in src:
            continue
        funcs = [
            n for n in ast.walk(ast.parse(src, path)) if isinstance(n, ast.FunctionDef)
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            if spelling in line:
                inner = [f for f in funcs if f.lineno <= lineno <= f.end_lineno]
                sites.append(max(inner, key=lambda f: f.lineno).name if inner else path)
    return sorted(sites)


def test_close_lot_is_derived_in_one_place():
    assert _spelling_sites(MAXLINE) == MAXLINE_OWNERS, (
        "close lots derived outside _trade_legs; call _trade_legs or "
        f"_closed_trades instead: {_spelling_sites(MAXLINE)}"
    )
    assert _spelling_sites(MAXLINE_WINDOW) == MAXLINE_WINDOW_OWNERS, (
        "the max-line window belongs to _trade_legs alone: "
        f"{_spelling_sites(MAXLINE_WINDOW)}"
    )
