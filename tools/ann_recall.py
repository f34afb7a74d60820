"""ANN recall measurement: how many of the true top-k neighbors do the
LSH and IVF variants return?  Honest numbers for the recall/cost tradeoff
documented in BENCHNOTES.md.

Usage: python tools/ann_recall.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from etl_rf_matrix_controller_spark.plans import registry  # noqa: E402
from etl_rf_matrix_controller_spark.session import get_spark  # noqa: E402
from etl_rf_matrix_controller_spark.sources.tables import load_table  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    registry.load_all()
    spark = get_spark(app_name="ann-recall")
    spark.sparkContext.setLogLevel("ERROR")

    def pairs(name):
        return {
            (r.query_id, r.cand_id)
            for r in registry.QUERIES[name](spark, SF_DIR).collect()
        }

    truth = pairs("knn_brute_force")
    for name in (
        "ann_lsh_topk",
        "ann_lsh_multiprobe",
        "ann_ivf_topk",
        "knn_quantized_i8",
    ):
        approx = pairs(name)
        hit = len(truth & approx)
        scanned = (
            "full scan, int8"
            if "quantized" in name
            else ("~1/256 buckets" if "lsh" in name else "~1/n_lists")
        )
        print(
            f"{name}: recall@3 = {hit}/{len(truth)} = {hit / len(truth):.2f} "
            f"(returned {len(approx)} pairs; {scanned})"
        )

    # --- recall-vs-cost sweep: nprobe x {IVF flat, IVF-PQ + refine} ---
    # The knob table an operator at 100 TB actually consults: recall@k,
    # candidates scored per query set, and a scan-bytes proxy (IVF flat
    # touches raw float32 vectors; IVF-PQ touches PQ_M-byte codes plus
    # <= PQ_SHORTLIST raw fetches per query at refine).  Recorded in
    # BENCHNOTES; monotonicity in nprobe is pytest-pinned on the
    # clustered gate corpus (tests/test_ann_recall.py).
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_rf_matrix_controller_spark.operators.similarity import (
        DIM,
        N_QUERIES,
        PQ_M,
        PQ_SHORTLIST,
        _sq_dist,
        ivf_topk_df,
        ivfpq_topk_df,
    )

    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )

    def probed_candidates(nprobe: int) -> int:
        """Candidates scored for the query set at a given nprobe: members
        of each query's nprobe nearest lists (minus the query itself)."""
        cents = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_e")
        )
        d = _sq_dist(F.col("embedding"), F.col("c_e"))
        w = Window.partitionBy("vec_id").orderBy(d.asc(), F.col("c_id").asc())
        ranked = emb.crossJoin(F.broadcast(cents)).withColumn(
            "rn", F.row_number().over(w)
        )
        assigned = ranked.filter(F.col("rn") == 1).select("vec_id", "c_id")
        probes = (
            ranked.filter(
                (F.col("vec_id") < N_QUERIES) & (F.col("rn") <= nprobe)
            )
            .select(F.col("vec_id").alias("query_id"), "c_id")
        )
        return (
            probes.join(assigned, "c_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .count()
        )

    print("\nrecall-vs-cost sweep (recall@3 over the brute-force truth):")
    print("| variant | nprobe | recall@3 | candidates | scan bytes (proxy) |")
    print("|---|---|---|---|---|")
    prev = {"ivf_flat": -1.0, "ivfpq_refine": -1.0}
    for nprobe in (1, 2, 4, 8):
        n_cand = probed_candidates(nprobe)
        for variant, fn, per_cand_bytes, extra in (
            ("ivf_flat", ivf_topk_df, DIM * 4, 0),
            (
                "ivfpq_refine",
                ivfpq_topk_df,
                PQ_M,
                PQ_SHORTLIST * N_QUERIES * DIM * 4,
            ),
        ):
            approx = {
                (r.query_id, r.cand_id)
                for r in fn(emb, nprobe=nprobe).collect()
            }
            rec = len(truth & approx) / len(truth)
            scan = n_cand * per_cand_bytes + extra
            print(
                f"| {variant} | {nprobe} | {rec:.2f} | {n_cand} "
                f"| {scan / 1024:.0f} KiB |"
            )
            if rec + 1e-9 < prev[variant]:
                print(f"  WARNING: recall not monotone for {variant}")
            prev[variant] = rec
    spark.stop()


if __name__ == "__main__":
    main()
