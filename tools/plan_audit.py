"""Plan audit: .explain every declared query and extract the scale-critical
facts -- scans' ReadSchema width, pushed filters, join strategies, exchange
counts, and the checkpoints each query runs with the SMJs planned inside
them.  Writes PLANS.md; flags over-reads (scan columns never used).

The plan facts and the checkpoint recorder are tests/conftest.py's, the
same ones tests/test_parity.py asserts on.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from collections import Counter

sys.path.insert(0, ".")
sys.path.insert(0, "tests")

from conftest import (  # noqa: E402
    SCAN_CEILING,
    checkpoint_plans,
    formatted,
    join_offences,
    plan_of,
    scanned_tables,
)

from etl_rf_matrix_controller_spark.plans import registry  # noqa: E402
from etl_rf_matrix_controller_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# Queries whose iteration runs DRIVER-SIDE over a dimension-bounded
# collect (round 10 rewrites): calling the builder executes the
# distributed aggregation, and the returned frame is just the
# createDataFrame + broadcast-join assembly tail -- the audited plan
# documents only that tail (round-10 ADVICE: say so explicitly).  The
# distributed half lives in the shared builder frames (_trade_edges,
# event_transition_counts, embedding_gram_matrix), which the audit rows
# of their non-driver-side consumers still cover.
DRIVER_SIDE = {
    "pagerank_nations", "kcore_membership", "trade_graph_bfs_depths",
    "hits_hubs_authorities", "sssp_min_cost_trade",
    "community_lpa_two_step", "harmonic_centrality_trade",
    "ktruss_peel_two_step", "event_markov_stationary", "gram_top_eigvec",
}

TABLE_WIDTHS = {
    "region": 2, "nation": 3, "customer": 5, "supplier": 4, "part": 6,
    "orders": 6, "lineitem": 11, "events": 6, "documents": 5, "embeddings": 3,
}


def audit(df, ckpts: list[str]) -> dict:
    plan = plan_of(df)
    fmt = formatted(df)
    scans = scanned_tables(fmt)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fmt)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    return {
        "exchanges": plan.count("Exchange "),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": join_offences(plan)[0],
        "checkpoints": len(ckpts),
        "ckpt_smj": sum(join_offences(p)[0] for p in ckpts),
        "scans": [
            {
                "table": t,
                "cols": len([c for c in rs.split(",") if c]) if rs else 0,
                "width": TABLE_WIDTHS.get(t, -1),
                "pushed": p.strip() != "",
            }
            for t, rs, p in zip(
                scans,
                read_schemas + [""] * len(scans),
                pushed + [""] * len(scans),
            )
        ],
    }


def main() -> None:
    registry.load_all()
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of every declared query",
        "",
        f"Generated by tools/plan_audit.py at {SF_DIR} (pre-AQE plans).",
        "Over-read = a scan reading more columns than the query projects;",
        "flagged rows deserve a look, zero-flag rows are pruning-clean.",
        "",
        f"Repeated scan = one base table scanned >{SCAN_CEILING}x in a "
        "single plan; at",
        "100 TB each extra pass is a full corpus read (pinned per query by",
        "tests/test_parity.py's scan-count ceiling).",
        "",
        "Checkpoints = eager localCheckpoints the query runs while it is",
        "built, with the SortMergeJoins planned inside them; the final plan",
        "shows only a scan of each checkpoint's rows.",
        "",
        "| query | exchanges | BHJ | SMJ | checkpoints (SMJ inside) "
        "| scans (table:cols/width, filter-pushdown) | flags |",
        "|---|---|---|---|---|---|---|",
    ]
    over_reads = 0
    repeated = 0
    for name in sorted(registry.QUERIES):
        with checkpoint_plans() as ckpts:
            df = registry.QUERIES[name](spark, SF_DIR)
        a = audit(df, ckpts)
        scan_desc = ", ".join(
            f"{s['table']}:{s['cols']}/{s['width']}{'+f' if s['pushed'] else ''}"
            for s in a["scans"]
        ) or "(inline)"
        flags = []
        if name in DRIVER_SIDE:
            flags.append(
                "driver-side iteration: plan is the assembly tail only"
            )
        for s in a["scans"]:
            if s["width"] > 0 and s["cols"] == s["width"] and s["width"] > 3:
                flags.append(f"full-width scan of {s['table']}")
                over_reads += 1
        for t, c in sorted(Counter(s["table"] for s in a["scans"]).items()):
            if c > SCAN_CEILING:
                flags.append(f"{t} scanned {c}x")
                repeated += 1
        lines.append(
            f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} "
            f"| {a['checkpoints']} ({a['ckpt_smj']}) "
            f"| {scan_desc} | {'; '.join(flags) or '—'} |"
        )
    lines.append("")
    lines.append(f"Full-width scans flagged: {over_reads}")
    lines.append(
        f"Repeated-scan (>{SCAN_CEILING}x) queries flagged: {repeated}"
    )
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-12:]))
    spark.stop()


if __name__ == "__main__":
    main()
