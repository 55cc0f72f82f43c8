"""Reachability fence: every top-level ``def`` and ``class`` in the
package must be named somewhere outside ``tests/`` — in the package
itself, ``tools/``, ``perfbench/``, ``bench.py`` or the driver entry
``__spark_entry__.py`` — other than in its own definition. Code that
only a test selects is a second path nobody runs: it earns a caller,
an allowlist entry below, or deletion.

The scan is by name (a word match over the source text), so a
docstring mention counts as a use, and ``@query`` builders are reached
through the registry. A name scan cannot see ``getattr`` use; each
allowlisted name was grepped once for it.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lmo_data_catalog_spark"
USERS = (PACKAGE, "tools", "perfbench", "bench.py", "__spark_entry__.py")

#: name -> why it stays although only tests call it
ALLOWLIST = {
    "attach_group_metrics_join": "SURVEY §2 names it (A3/A4 as agg+join)",
    "attach_group_metrics_window": "SURVEY §2 names it (A3/A4 as a window)",
    "audio_resample_stats": "SURVEY §2 names it (audio resampling)",
    "brute_force_topk": "reference implementation for test_llm_ops "
    "test_lsh_topk_subset_of_bruteforce_bucket",
    "build_corpus_snapshot": "SURVEY §2 names it (end-to-end corpus build)",
    "cdc_upsert_sink": "SURVEY §2 names it (CDC upsert sink)",
    "decode_bytelevel": "reference implementation for test_bpe "
    "test_bytelevel_roundtrip_empty_ranks",
    "heavy_hitters_cms": "SURVEY §2 names it (CMS heavy hitters)",
    "lsh_bucketed_topk": "reference implementation for test_llm_ops "
    "test_lsh_multiprobe_superset_and_recall",
    "pagerank_converged": "SURVEY §2 names it (L1-delta PageRank)",
    "read_aggregate": "SURVEY §2 names it (keyed aggregate maintenance)",
    "sync_join_view": "SURVEY §2 names it (join-view maintenance)",
    "zscore_grouped_map": "reference implementation for test_operators "
    "test_zscore_dual_plan_crosscheck",
}


def _sources() -> dict[str, str]:
    out = {}
    for rel in USERS:
        path = os.path.join(ROOT, rel)
        walk = [(ROOT, [], [rel])] if rel.endswith(".py") else os.walk(path)
        for root, _, files in walk:
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    with open(full, encoding="utf-8") as fh:
                        out[os.path.relpath(full, ROOT)] = fh.read()
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def _unreached() -> dict[str, str]:
    """Package definitions named nowhere outside their own source:
    name -> ``path::name``."""
    sources = _sources()
    words = Counter(re.findall(r"\w+", "\n".join(sources.values())))
    out = {}
    for rel, src in sources.items():
        if not rel.startswith(PACKAGE):
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _registered(node):
                continue
            start = min(d.lineno for d in [node, *node.decorator_list])
            own = "\n".join(lines[start - 1 : node.end_lineno])
            if words[node.name] == re.findall(r"\w+", own).count(node.name):
                out[node.name] = f"{rel}::{node.name}"
    return out


def test_no_package_definition_is_reached_only_from_tests():
    dead = sorted(p for n, p in _unreached().items() if n not in ALLOWLIST)
    assert dead == [], (
        "named nowhere outside tests/ — give it a caller, delete it, or "
        f"allowlist it with a reason: {dead}"
    )


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWLIST) - set(_unreached()))
    assert stale == [], f"allowlisted but reached or gone: {stale}"
