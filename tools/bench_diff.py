"""Bench regression diff: compare the current per-query bench map against a
previous round's detail file and flag steady-state regressions.

Usage:
    python tools/bench_diff.py [BASE_DETAIL.json] [CURRENT_DETAIL.json]

Defaults: base = BENCH_BASE.json (the previous round's checked-in detail),
current = BENCH_DETAIL_c<cpus>.json (what ``python bench.py`` just wrote at
$SPARK_GRAFT_CPUS cores, else at the host's core count).  Both
files are the bench.py sidecar format ({"queries": {name: sec}, ...}).

Host is co-tenant (multi-second timing noise), so only ratios > 1.5x on
queries slower than 0.2 s are candidate-flagged — and a candidate is then
SELF-ADJUDICATED: re-measured min-of-2 in-process (same noop-sink timing
bench.py uses) before it may print as a FLAG.  Three consecutive rounds
(winnow r5, kmv r6, acf r7) needed a human to re-run and dismiss a noise
flag; now a printed FLAG implies a reproduced regression.  Pass
--no-remeasure to skip adjudication (offline diffing of two files).
Exit code 1 only if an adjudicated regression exists.
"""

from __future__ import annotations

import json
import os
import sys
import time

FLAG_RATIO = 1.5
MIN_SEC = 0.2  # below this, timer noise dominates; never flag


def _remeasure(names: list[str]) -> dict[str, float]:
    """Min-of-2 re-measurement of the candidate queries, identical to
    bench.py's timed region (noop sink, cache cleared between runs)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from etl_rf_matrix_controller_spark.plans import registry
    from etl_rf_matrix_controller_spark.session import get_spark
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    registry.load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-diff-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    load_table(spark, sf_dir, "lineitem").count()  # warm
    valid = [n for n in names if n in registry.QUERIES]
    # FULL untimed warm-up pass over every query first: base numbers
    # were taken mid-bench in a JIT-mature JVM, and the maturity builds
    # over dozens of executions, not one -- measuring the first names
    # cold while later names (the canaries) enjoy the warmth produced
    # 27 executions of false CONFIRMs before this pass existed.
    for name in valid:
        try:
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            spark.catalog.clearCache()
    out: dict[str, float] = {}
    for _ in range(2):
        for name in valid:
            try:
                t0 = time.perf_counter()
                registry.QUERIES[name](spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                dt = time.perf_counter() - t0
                out[name] = round(min(out.get(name, dt), dt), 3)
            finally:
                spark.catalog.clearCache()
    spark.stop()
    return out


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, "BENCH_BASE.json")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    cur_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        repo, f"BENCH_DETAIL_c{cpus}.json"
    )
    if not os.path.exists(base_path):
        print(f"no base file at {base_path}; nothing to diff")
        return 0
    with open(base_path) as fh:
        base_doc = json.load(fh)
    base = base_doc["queries"]
    # Isolated-session floors (round-9 verdict): BENCH_BASE's warm
    # minima come from a JIT-mature 400-query bench; a query with a
    # high isolated-session fixed cost (pareto_revenue_share) re-runs
    # 2-3x its warm base in ANY adjudicator session and flags forever.
    # tools/bench_floor.py records, once per rebase, what each query
    # costs in a fresh session when HEALTHY; adjudication compares
    # re-measurements against max(warm_base * canary_drift, floor), so
    # a re-run at its known isolated floor can never survive as a flag.
    floors = base_doc.get("floors", {})
    with open(cur_path) as fh:
        cur = json.load(fh)["queries"]

    added = sorted(set(cur) - set(base))
    removed = sorted(set(base) - set(cur))
    flagged: list[tuple[str, float, float, float]] = []
    rows: list[tuple[str, float, float, float]] = []
    for name in sorted(set(base) & set(cur)):
        b, c = base[name], cur[name]
        ratio = c / b if b > 0 else float("inf")
        rows.append((name, b, c, ratio))
        if ratio > FLAG_RATIO and c > MIN_SEC:
            flagged.append((name, b, c, ratio))

    rows.sort(key=lambda r: -r[3])
    print(f"| query | base s | cur s | ratio |")
    print(f"|---|---|---|---|")
    for name, b, c, ratio in rows[:15]:
        mark = " **FLAG**" if (name, b, c, ratio) in flagged else ""
        print(f"| {name} | {b:.3f} | {c:.3f} | {ratio:.2f}x{mark} |")
    tb = sum(base[n] for n in set(base) & set(cur))
    tc = sum(cur[n] for n in set(base) & set(cur))
    print(f"\nshared-query total: {tb:.1f} s -> {tc:.1f} s "
          f"({tc / tb:.2f}x) over {len(rows)} queries")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"REMOVED ({len(removed)}): {', '.join(removed)}")
    if flagged:
        names = [f[0] for f in flagged]
        print(f"\ncandidate regressions (> {FLAG_RATIO}x and > {MIN_SEC}s): "
              f"{names}")
        if "--no-remeasure" in sys.argv:
            print("adjudication skipped (--no-remeasure); treat as "
                  "unconfirmed")
            return 1
        # Canaries: per candidate, the 3 UNFLAGGED queries with base
        # time CLOSEST to the candidate's (and a steady current/base
        # ratio).  An isolated adjudicator session runs short queries
        # 1.8-2.9x their in-bench base (fixed per-query overhead that
        # a 400-query warm bench amortizes; measured on 0.24-0.27s
        # queries), and the bias is magnitude-dependent -- so the
        # calibration must come from queries of the SAME magnitude,
        # not merely from an idle-host check.
        per_canaries: dict[str, list[str]] = {}
        for name, b, _c, _r in flagged:
            per_canaries[name] = [
                r[0]
                for r in sorted(rows, key=lambda r: abs(r[1] - b))
                if r[0] not in names and 0.67 < r[3] < FLAG_RATIO
            ][:3]
        all_canaries = sorted({c for cs in per_canaries.values() for c in cs})
        def adjudicate(cands: list[str], round_no: int) -> list[str]:
            re_t = _remeasure(
                cands
                + sorted({c for n in cands for c in per_canaries[n]})
            )
            survivors = []
            for name, b, _c, _r in flagged:
                if name not in cands:
                    continue
                rt = re_t.get(name)
                if rt is None:
                    continue
                drifts = sorted(
                    re_t[c] / base[c]
                    for c in per_canaries[name]
                    if c in re_t and base[c] > 0
                )
                calib = drifts[len(drifts) // 2] if drifts else 1.0
                # a canary drift past FLAG_RATIO means the UNFLAGGED
                # population slowed too -- a systemic regression (conf/
                # session change hitting everything) that per-query
                # normalization would silently absorb (round-8 ADVICE).
                # Surface it loudly instead of dividing it away.
                if calib > FLAG_RATIO:
                    print(
                        f"  [pass {round_no}] WARNING: canary drift "
                        f"{calib:.2f}x for {name} exceeds FLAG_RATIO "
                        f"{FLAG_RATIO:.2f}x -- the baseline population "
                        f"itself is slower; suspect a GLOBAL slowdown "
                        f"(session conf, env), not per-query noise"
                    )
                calib = max(calib, 1.0)  # never amplify a ratio
                eff_base = max(b * calib, floors.get(name, 0.0))
                adj = rt / eff_base
                verdict = "survives" if adj > FLAG_RATIO and rt > MIN_SEC \
                    else "noise (dismissed)"
                floor_note = (
                    f", floor {floors[name]:.3f}s" if name in floors else ""
                )
                print(f"  [pass {round_no}] {name}: base {b:.3f}s"
                      f"{floor_note}, re-measured {rt:.3f}s "
                      f"(raw {rt / b:.2f}x, canary drift {calib:.2f}x, "
                      f"adjusted {adj:.2f}x) -> {verdict}")
                if verdict == "survives":
                    survivors.append(name)
            return survivors

        # a flag must survive TWO independent adjudication sessions:
        # consecutive single-session runs on this co-tenant host
        # produced DISJOINT "confirmed" sets (round-8 measurement), so
        # one session's verdict is still weather, not signal
        print(f"self-adjudicating: pass 1 over {len(names)} candidates "
              f"(canaries: {all_canaries}) ...")
        first = adjudicate(names, 1)
        confirmed = []
        if first:
            print(f"pass 1 survivors: {first}; re-adjudicating in a "
                  f"fresh session ...")
            confirmed = adjudicate(first, 2)
        if confirmed:
            print(f"\nFLAGGED regressions (reproduced twice): {confirmed}")
            return 1
        print("\nall candidates dismissed as co-tenant noise")
        return 0
    print("\nno steady-state regressions flagged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
