"""Reachability gate: no package code that only tests can reach.

A static, name-based scan over ``spark_text_clustering_spark/``. The roots
are every ``@REG.register`` query, the module-level code of every package
module (decorators and argument defaults included), ``app.py``, and the
repo-level entry points
(``bench.py``, ``__spark_entry__.py``, ``perfbench/*.py``). From the roots
it follows names transitively: any identifier, attribute or
identifier-shaped string literal used by reached code reaches every
top-level def of that name in any module. Matching by bare name
over-approximates what runs, so the scan never calls reachable code
unreachable; it can only miss dead code that shares a name with live code.

A top-level def nothing reaches fails the test unless it is on
``ALLOWLIST`` with a reason. Tests are not roots: a function kept alive only by its own test is dead
code. ``python tests/test_reachability.py`` lists every unreached def.
"""

from __future__ import annotations

import ast
import os
import re
from collections.abc import Iterator

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spark_text_clustering_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# (module, def) -> why it stays although no root reaches it.
ALLOWLIST: dict[tuple[str, str], str] = {
    ("operators.similarity", "build_pq_index"):
        "write half of the ANN index lifecycle; build_ivf_index is benchmarked",
    ("operators.similarity", "build_ivfpq_index"):
        "write half of the ANN index lifecycle; build_ivf_index is benchmarked",
    ("operators.similarity", "build_lsh_index"):
        "write half of the ANN index lifecycle; build_ivf_index is benchmarked",
    ("operators.unigram", "unigram_train_py"):
        "pure-Python reference the registered unigram trainer is tested against",
    ("operators.unigram", "unigram_seed"):
        "used by the unigram_train_py reference",
    ("operators.unigram", "_em_round_py"):
        "used by the unigram_train_py reference",
    ("operators.sketches", "_bloom_build"):
        "driver-side reference the registered Bloom keys are tested against",
    ("operators.sketches", "_bloom_positions"):
        "used by the _bloom_build reference",
    ("streaming.windows", "run_stream_available_now"):
        "harness that replays registered streaming plans in tests",
    ("streaming.windows", "run_stream_stream_join"):
        "harness that replays the stream-stream join plan in tests",
    ("catalog", "stream_events"):
        "streaming source of the testdata events table used by stream tests",
    ("functions.avicodec", "decode_avi_meta"):
        "checks and decodes outside AVI input",
    ("functions.avicodec", "_find_chunk"):
        "used by decode_avi_meta",
}


def _pkg_modules() -> dict[str, str]:
    """Dotted module name (relative to the package, '' for __init__) -> path."""
    out = {}
    root = os.path.join(REPO, PKG)
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), root)[:-3].replace(os.sep, ".")
            out[rel.removesuffix("__init__").rstrip(".")] = os.path.join(d, f)
    return out


def _root_files() -> list[str]:
    perf = os.path.join(REPO, "perfbench")
    return [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")] + sorted(
        os.path.join(perf, f) for f in os.listdir(perf) if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _names(nodes) -> Iterator[str]:
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
                yield n.value


def scan() -> list[tuple[str, str]]:
    """Sorted ``(module, name)`` of every top-level def no root reaches."""
    modules = _pkg_modules()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: list[ast.AST] = [_parse(p) for p in _root_files()]
    reached: set[tuple[str, str]] = set()
    for m, path in modules.items():
        for node in _parse(path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    seeds.append(node)
                continue
            defs.setdefault(node.name, []).append((m, node))
            # Decorators and defaults run at import time.
            seeds += node.decorator_list
            if not isinstance(node, ast.ClassDef):
                seeds += node.args.defaults + [d for d in node.args.kw_defaults if d]
            registered = any(
                isinstance(d, ast.Call) and isinstance(d.func, ast.Attribute)
                and d.func.attr == "register"
                for d in node.decorator_list
            )
            if registered or m == "app":
                reached.add((m, node.name))
                seeds.append(node)

    seen: set[str] = set()
    todo_names = list(_names(seeds))
    while todo_names:
        name = todo_names.pop()
        if name in seen:
            continue
        seen.add(name)
        for m, node in defs.get(name, ()):
            reached.add((m, node.name))
            todo_names.extend(_names([node]))

    return sorted((m, name) for name, ds in defs.items() for m, _ in ds if (m, name) not in reached)


def test_no_unreachable_package_code():
    unlisted = [d for d in scan() if d not in ALLOWLIST]
    assert not unlisted, (
        f"{len(unlisted)} top-level defs no registered key, app path or benchmark "
        f"reaches: {unlisted}. Delete them (and the tests that only test them), "
        "or allowlist one here with a reason."
    )


def test_allowlist_entries_exist_and_are_unreached():
    stale = sorted(set(ALLOWLIST) - set(scan()))
    assert not stale, f"allowlisted defs that are gone or now reached: {stale}"


if __name__ == "__main__":
    dead = scan()
    for d in dead:
        print(("allow " if d in ALLOWLIST else "DEAD  ") + ".".join(d))
    print(len(dead), "unreached defs")
