"""The scripts in tools/ run on bench.py's measurement core: each one
imports, and every query name a tool times resolves in bench.py's
query map, so a rename cannot silently break a tool. Imports only — no
Spark session."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

import bench
from b3_analytics_engine_spark.queries import registry

TOOLS = sorted((pathlib.Path(bench.REPO) / "tools").glob("*.py"))


def _load(path: pathlib.Path):
    spec = importlib.util.spec_from_file_location(f"tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    mod = _load(path)
    assert callable(getattr(mod, "main", None) or getattr(mod, "build"))


def test_query_map_is_registry_plus_bench_only_callables():
    qs = bench.query_map()
    reg = list(registry())
    assert list(qs)[: len(reg)] == reg  # registry order, untouched
    assert list(qs)[len(reg):] == list(bench.BENCH_ONLY)
    assert not set(bench.BENCH_ONLY) & set(reg)
    assert all(callable(fn) for fn in qs.values())


def test_every_timed_name_resolves():
    tools = {p.stem: p for p in TOOLS}
    timed = {
        "bench.HEADLINE": bench.HEADLINE,
        "bench.CONTROL": [bench.CONTROL],
        "scale_spotcheck.QUERIES": _load(tools["scale_spotcheck"]).QUERIES,
        "plan_report.PLAN_INTENT": list(_load(tools["plan_report"]).PLAN_INTENT),
    }
    qs = bench.query_map()
    missing = {k: [n for n in v if n not in qs] for k, v in timed.items()}
    assert missing == {k: [] for k in timed}
    assert set(bench.HEADLINE) - set(registry()) == set(bench.BENCH_ONLY)


def test_loc_counts_code_lines_only():
    loc = _load(pathlib.Path(bench.REPO) / "tools" / "loc.py")
    snippet = '"""Module docstring,\nover two lines."""\n\n# a comment\nx = 1\n\ny = x  # trailing comment\n'
    assert loc.code_lines(snippet) == 2
