"""Generated artifacts must stay in lockstep with the live registry.

Round 4 shipped with tests/result_manifest.json, OPERATORS.md, PLANS.md and
SURVEY.md's status line all stale against the registry because a late commit
added queries without rerunning the generators.  This test makes that class
of drift a pytest failure: register a query -> regenerate the artifacts
(tools/gen_result_manifest.py, tools/gen_operators_md.py,
tools/plan_audit.py) or the suite goes red.  The package surface is pinned
the same way: a public def nothing calls must be declared, used, or named
in an allowlist with its reason.

Pure string/JSON/AST compares — no SparkSession is started.
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

from etl_rf_matrix_controller_spark.plans import registry

REPO = Path(__file__).resolve().parent.parent

registry.load_all()


def test_result_manifest_covers_every_oracled_query() -> None:
    manifest = json.loads((REPO / "tests" / "result_manifest.json").read_text())
    missing = sorted(set(registry.ORACLES) - set(manifest))
    extra = sorted(set(manifest) - set(registry.ORACLES))
    assert not missing, (
        f"result_manifest.json missing {len(missing)} oracled queries "
        f"(run tools/gen_result_manifest.py): {missing[:10]}"
    )
    assert not extra, (
        f"result_manifest.json has {len(extra)} entries not in the registry "
        f"(run tools/gen_result_manifest.py): {extra[:10]}"
    )


def test_operators_md_counts_match_registry() -> None:
    text = (REPO / "OPERATORS.md").read_text()
    m = re.search(r"(\d+) declared, (\d+) DuckDB-oracle-checked", text)
    assert m, "OPERATORS.md count line not found (run tools/gen_operators_md.py)"
    assert int(m.group(1)) == len(registry.QUERIES), (
        f"OPERATORS.md says {m.group(1)} declared but registry has "
        f"{len(registry.QUERIES)} (run tools/gen_operators_md.py)"
    )
    assert int(m.group(2)) == len(registry.ORACLES)
    rows = re.findall(r"^\| `([a-z0-9_]+)` \|", text, flags=re.M)
    assert set(rows) == set(registry.QUERIES), (
        "OPERATORS.md rows != registry (run tools/gen_operators_md.py)"
    )


def test_plans_md_rows_match_registry() -> None:
    text = (REPO / "PLANS.md").read_text()
    rows = set(re.findall(r"^\| ([a-z0-9_]+) \|", text, flags=re.M))
    rows.discard("query")  # header
    missing = sorted(set(registry.QUERIES) - rows)
    extra = sorted(rows - set(registry.QUERIES))
    assert not missing, (
        f"PLANS.md missing {len(missing)} queries "
        f"(run tools/plan_audit.py): {missing[:10]}"
    )
    assert not extra, (
        f"PLANS.md has {len(extra)} stale rows "
        f"(run tools/plan_audit.py): {extra[:10]}"
    )


def test_benchnotes_header_is_current_round() -> None:
    """BENCHNOTES.md was the one artifact class round 5 let go stale (its
    header still said "round 4" at round close).  The current round is
    always 1 + the newest driver-recorded BENCH_r{N}.json (the driver
    commits BENCH_r{N} after round N's snapshot, so during round N+1's
    session the newest bench file is r{N}).  Round-boundary grace
    (round-8 verdict hygiene note): the driver drops BENCH_r{N}.json
    into the tree AFTER the round-N session closes, so the first run of
    round N+1 would otherwise start red by design — tolerate a header
    that lags by exactly one round (== max recorded), and only fail
    when it is 2+ rounds stale or ahead of the boundary."""
    rounds = [
        int(m.group(1))
        for p in REPO.glob("BENCH_r*.json")
        if (m := re.match(r"BENCH_r(\d+)\.json", p.name))
    ]
    assert rounds, "no BENCH_r*.json driver artifacts found"
    current = max(rounds) + 1
    header = (REPO / "BENCHNOTES.md").read_text().splitlines()[0]
    m = re.search(r"round (\d+)", header)
    assert m, f"BENCHNOTES.md header has no round marker: {header!r}"
    assert int(m.group(1)) in (current, current - 1), (
        f"BENCHNOTES.md header says round {m.group(1)} but this is round "
        f"{current} — add the round-{current} section and bump the header"
    )


def test_survey_status_counts_match_registry() -> None:
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"\((\d+) queries registered,\n(\d+) with DuckDB oracles", text)
    assert m, "SURVEY.md implementation-status count line not found"
    assert int(m.group(1)) == len(registry.QUERIES), (
        f"SURVEY.md says {m.group(1)} queries but registry has "
        f"{len(registry.QUERIES)} (run tools/gen_operators_md.py)"
    )
    assert int(m.group(2)) == len(registry.ORACLES)


def test_bench_base_covers_registry() -> None:
    """BENCH_BASE.json (the regression-diff baseline) must cover the FULL
    registry: round 6 shipped with a 223-query base, leaving the 140
    queries added since round 3 invisible to tools/bench_diff.py.  Rebase
    (archive the old file, copy an idle-run BENCH_DETAIL.json) whenever
    queries are added."""
    base = json.loads((REPO / "BENCH_BASE.json").read_text())["queries"]
    missing = sorted(set(registry.QUERIES) - set(base))
    extra = sorted(set(base) - set(registry.QUERIES))
    assert not missing, (
        f"BENCH_BASE.json missing {len(missing)} queries (rebase from an "
        f"idle-run BENCH_DETAIL.json): {missing[:10]}"
    )
    assert not extra, (
        f"BENCH_BASE.json has {len(extra)} stale queries: {extra[:10]}"
    )


# Public top-level defs of the package that are neither @declared nor
# referenced in code outside tests/, grouped by why they stay.
SURFACE_ALLOWLIST = {
    "SURVEY-named capability": {
        # keyed state (SURVEY §2 "stateful streaming upsert", TTL expiry)
        "stream_ema_user_value",
        "stream_holt_daily_value",
        "stream_latest_state",
        "stream_state_ttl_expiry",
        "stream_route_state_from_frames",
        # batch==stream twins (SURVEY §2 streaming items)
        "tumbling_hour_counts_stream",
        "session_windows_stream",
        "interval_join_clicks_stream",
        "interval_join_outer",
        "interval_join_full",
        "stream_static_enriched_counts_stream",
        "dedup_stream_within_watermark",
        # foreachBatch MERGE sink
        "run_merge_stream",
    },
    "reference implementation": {
        # frame forms the index paths are compared against
        "substring_span_pairs_df",
        "token_span_pairs_df",
        "token_winnow_fps_df",
        "batch_admission_counts",
    },
    "distributed fallback": {
        # the loops collect_bounded's error message points to
        "pagerank_loop",
        "lpa_step",
        "sssp_fixed",
    },
    "reference I/O": {
        "write_zordered",
        "load_config",
        "save_config",
        "int_keyed_names",
        "detect_csv_schema",
        "detect_matrix_config",
    },
}


def _code_refs(tree: ast.Module) -> set[tuple[str | None, str]]:
    """(enclosing top-level def or None, name) for every Name, attribute
    and import alias in ``tree`` -- code references only, so a name in
    a docstring or comment does not count."""
    refs = set()
    for top in tree.body:
        owner = getattr(top, "name", None)
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                refs.add((owner, n.id))
            elif isinstance(n, ast.Attribute):
                refs.add((owner, n.attr))
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                refs.update((owner, a.name.rsplit(".", 1)[-1]) for a in n.names)
    return refs


def test_package_surface_is_declared_used_or_allowlisted() -> None:
    """Every public top-level function or class in the package is
    @declared, referenced in code by a .py file outside tests/ (its own
    body excluded), or allowlisted above.  An operator only its own tests
    call is surface without a contract: delete it, or name its reason."""
    pkg = REPO / "etl_rf_matrix_controller_spark"
    sources = [
        p for p in REPO.rglob("*.py")
        if not {"tests", "__pycache__"} & set(p.relative_to(REPO).parts)
    ]
    declared = {(fn.__module__, fn.__name__) for fn in registry.QUERIES.values()}
    defs, refs = [], {}
    for path in sources:
        tree = ast.parse(path.read_text())
        for owner, name in _code_refs(tree):
            refs.setdefault(name, set()).add((path, owner))
        if pkg not in path.parents:
            continue
        module = ".".join(path.relative_to(REPO).with_suffix("").parts)
        defs += [
            (path, module, n.name)
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
            and not n.name.startswith("_")
        ]
    allowed = set().union(*SURFACE_ALLOWLIST.values())
    unclaimed = sorted(
        f"{module}.{name}"
        for path, module, name in defs
        if (module, name) not in declared
        and name not in allowed
        and not refs.get(name, set()) - {(path, name)}
    )
    assert not unclaimed, (
        f"{len(unclaimed)} public defs are neither declared, used outside "
        f"tests/, nor allowlisted: {unclaimed}"
    )
    stale = sorted(allowed - {name for _, _, name in defs})
    assert not stale, f"allowlisted names no longer defined: {stale}"
