"""Snapshot every declared query's sf0.001 result hash into
tests/result_manifest.json -- the byte-stability regression net.

Any refactor that silently changes a query's output (row set, schema, or
a single float bit) fails that query's tests/test_parity.py test
(``test_oracle_parity[<name>]``) locally BEFORE the driver's next
correctness sample lands on it.  Regenerate ONLY when
a result change is deliberate (new query, intentional semantics change),
and say so in the commit message.

The two no-oracle sketch queries (HLL, approx-percentile) are excluded:
their outputs depend on engine-internal sketch merge order, which is not
part of the repo's determinism contract.

Usage: python tools/gen_result_manifest.py [sf_dir] [--only q1,q2]
  --only recomputes just the named queries and merges them into the
  existing manifest (stale entries for de-registered queries are always
  dropped) -- the cheap path when ADDING queries; a full run is still
  required after intentional cross-cutting semantics changes.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")
sys.path.insert(0, "tests")

from conftest import MANIFEST, result_hash  # noqa: E402

from etl_rf_matrix_controller_spark.plans import registry  # noqa: E402
from etl_rf_matrix_controller_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = {s.strip() for s in args[i + 1].split(",") if s.strip()}
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    registry.load_all()
    spark = get_spark(app_name="result-manifest")
    spark.sparkContext.setLogLevel("ERROR")
    manifest = {}
    if only is not None:
        with open(MANIFEST) as f:
            manifest = {
                k: v for k, v in json.load(f).items() if k in registry.ORACLES
            }
        unknown = only - set(registry.ORACLES)
        if unknown:
            raise SystemExit(f"not oracle-bearing queries: {sorted(unknown)}")
    for name in sorted(only if only is not None else registry.QUERIES):
        if name not in registry.ORACLES:
            continue  # sketch internals: rows-only by design
        manifest[name] = result_hash(registry.QUERIES[name](spark, sf_dir))
        print(name, manifest[name][:16])
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {MANIFEST}: {len(manifest)} entries")
    spark.stop()


if __name__ == "__main__":
    main()
