"""Driver-contract consistency pins: every queries() entry has an
oracle twin, every SURVEY §2 checklist name is real, and every query
is documented — the drift that silently costs correctness-coverage
points between rounds.
"""

from __future__ import annotations

import re
import sys

#: §2 names that intentionally have no queries() entry (documented
#: environment-gated items).
GATED = {"stream_sessionize_tws"}

#: Checklist-name prefixes that correspond to query keys (other §2
#: bullets describe sources/sinks plumbing verified by pytest).
QUERY_PREFIXES = (
    "q_", "etl_", "dedup_", "sim_", "embedding_", "text_", "mm_",
    "graph_", "stream_", "kmeans_", "hybrid_", "semdedup",
)


def _entry():
    import __spark_entry__ as e

    return e


def test_every_query_has_an_oracle():
    e = _entry()
    qs, os_ = set(e.queries()), set(e.oracle_sql())
    assert qs == os_, (
        f"missing oracles: {sorted(qs - os_)}; "
        f"orphan oracles: {sorted(os_ - qs)}"
    )


def test_survey_checklist_matches_queries():
    e = _entry()
    qs = set(e.queries())
    survey = open("SURVEY.md").read()
    sec2 = survey[survey.index("## §2 ") : survey.index("## §3 ")]
    names = set(re.findall(r"^- \[x\] `([a-z0-9_]+)`", sec2, re.M))
    undocumented = sorted(q for q in qs if q not in names)
    assert not undocumented, f"queries missing from SURVEY §2: {undocumented}"
    phantom = sorted(
        n
        for n in names
        if n.startswith(QUERY_PREFIXES) and n not in qs and n not in GATED
    )
    assert not phantom, f"SURVEY §2 names with no queries() entry: {phantom}"


def test_oracle_strings_are_nonempty_sql():
    e = _entry()
    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_check_correctness_rejects_unknown_names(monkeypatch, capsys):
    """A misspelt query name exits 2 before any Spark work, instead of
    passing as a run of zero queries."""
    from scripts import check_correctness

    monkeypatch.setattr(
        sys, "argv", ["check_correctness.py", ".", "graph_components", "nope_q"]
    )
    assert check_correctness.main() == 2
    assert "nope_q" in capsys.readouterr().out


def test_mapinpandas_only_in_the_lane_runner_and_ssim():
    """Per-row Python lanes go through ``python_lane.row_lane``; the one
    raw ``mapInPandas`` left is ``mm_image_ssim_pairs``' pixel lane,
    which builds whole pandas frames with numpy."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "postgres_s3_etl_spark"
    sites = set()
    for py in sorted(pkg.rglob("*.py")):
        for top in ast.parse(py.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == "mapInPandas":
                    sites.add((py.name, getattr(top, "name", None)))
    assert sites == {
        ("python_lane.py", "row_lane"),
        ("multimodal.py", "mm_image_ssim_pairs"),
    }, sorted(sites)
