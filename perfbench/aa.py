"""Repeat the benchmark over seeds and summarize each metric's spread.

    python3 perfbench/aa.py --workloads routing_mix,index_stream --seeds 1-10 --out set_a.json
    python3 perfbench/aa.py --compare set_a.json set_b.json

The first form runs ``perfbench/run.py`` untraced, with
``BENCHMARK.json``'s ``run_seconds``, once per (seed, workload), one after
another, and prints per end-to-end metric the median, the quartiles and
the spread (quartile distance over median) next to the metric's bound.
The second is the A/A check that the same code measures the same: for
each metric it prints both sets' spreads and the relative shift between
their medians, each against the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def _bounds() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(workloads: list[str], seeds: list[int], seconds: int) -> dict:
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in seeds:
        for w in workloads:
            out = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", w, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True).stdout
            *report, last = out.strip().splitlines()
            result = json.loads(last)
            if not result["correct"]:
                raise SystemExit(f"{w} seed {seed}: incorrect output\n{out}")
            for k, m in result["metrics"].items():
                values[w].setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
            print("\n".join(line for line in report if line.startswith("  pass")), flush=True)
    return values


def summarize(values: dict) -> None:
    bounds = _bounds()
    for w, metrics in values.items():
        for k, vs in metrics.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            bound = bounds.get(k, {}).get("bound")
            spread = quartile_spread(vs)
            note = "" if bound is None else (
                f"bound {bound}: " + ("ok" if spread < bound / 3 else
                                      "within bound" if spread <= bound else "TOO NOISY"))
            print(f"{w:14s} {k:32s} n={len(vs)} median {statistics.median(vs):.4f} "
                  f"q1 {q1:.4f} q3 {q3:.4f} spread {spread:.4f} {note}")


def compare(a: dict, b: dict) -> bool:
    """Print each metric's spreads and median shift against its bound;
    true when all are within it.  ``setup_s`` is one launch per run, so
    only its shift is held to the bound, not its spread."""
    ok = True
    for w in a:
        for k, bound in ((k, m["bound"]) for k, m in _bounds().items()):
            ma, mb = statistics.median(a[w][k]), statistics.median(b[w][k])
            sa, sb = quartile_spread(a[w][k]), quartile_spread(b[w][k])
            shift = (mb - ma) / ma
            within = abs(shift) <= bound and (k == "setup_s" or max(sa, sb) <= bound)
            ok &= within
            print(f"{w:14s} {k:14s} median A {ma:.4f} B {mb:.4f} shift {shift:+.4f} "
                  f"spread A {sa:.4f} B {sb:.4f} bound {bound} "
                  f"{'ok' if within else 'OUT OF BOUND'}")
    return ok


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        return 0 if compare(a, b) else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    values = collect(workloads, _seeds(args.seeds), bench["run_seconds"])
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(values, fh, indent=1)
    summarize(values)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
