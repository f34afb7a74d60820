"""Per-job profile of one declared query: run it end-to-end with the noop
sink (bench.py's timed region) and print every Spark job's wall time,
description, and stage task counts via the UI REST API.

Usage:
    python tools/profile_query.py <query> [<query> ...] [--sf DIR] [--runs N]

The session enables the UI (bench sessions keep it off) purely to read
/api/v1/applications/<id>/jobs; timing methodology (noop sink, perf_counter
around the write) is identical to bench.py so the total matches the bench
number for the same calm host.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = 2
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from etl_rf_matrix_controller_spark.plans import registry
    from etl_rf_matrix_controller_spark.session import get_spark
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    registry.load_all()

    # The bench session's confs, via get_spark itself (round-10 ADVICE:
    # no hand-copied conf list to drift), plus the UI for the REST API.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(
        app_name="profile-query",
        extra_confs={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4099",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    load_table(spark, sf_dir, "lineitem").count()  # warm

    for name in names:
        fn = registry.QUERIES[name]
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            jobs_before = _jobs(ui, app_id)
            seen = {j["jobId"] for j in jobs_before}
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            spark.catalog.clearCache()
            new = [j for j in _jobs(ui, app_id) if j["jobId"] not in seen]
            new.sort(key=lambda j: j["jobId"])
            print(f"\n=== {name} run{r}: {wall:.3f}s wall, {len(new)} jobs ===")
            tot = 0.0
            for j in new:
                dur = _dur(j)
                tot += dur
                desc = (j.get("description") or j.get("name") or "")[:90]
                print(
                    f"  job {j['jobId']:>5}  {dur:7.3f}s  "
                    f"tasks={j.get('numTasks', '?'):>4}  {desc}"
                )
            print(f"  sum of job walls: {tot:.3f}s (gaps = driver/plan time)")
        spark.sparkContext.setJobDescription(None)
    spark.stop()


def _jobs(ui: str, app_id: str) -> list[dict]:
    url = f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
    with urllib.request.urlopen(url) as fh:
        return json.load(fh)


def _dur(j: dict) -> float:
    from datetime import datetime

    fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
    try:
        a = datetime.strptime(j["submissionTime"], fmt)
        b = datetime.strptime(j["completionTime"], fmt)
        return (b - a).total_seconds()
    except Exception:
        return 0.0


if __name__ == "__main__":
    main()
