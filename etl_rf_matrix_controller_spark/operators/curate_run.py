"""End-to-end curation pipeline run: the composition a real user executes.

Every stage below is individually declared and oracle-certified; this
module chains them into ONE library call the way a training-data team
would run them nightly, with per-stage row accounting and a content-
fingerprinted shard manifest at the end:

    ingest (dup corpus)            operators/dedup.py::dup_corpus
    -> quality filter              gopher_flags_df (gopher_quality_rules)
    -> exact dedup                 content-hash keep-first (dedup_exact_docs)
    -> near-dup dedup              banded MinHash candidates + exact-Jaccard
                                   verify (minhash_near_dup_pairs /
                                   streaming/neardup.py machinery)
    -> decontamination             drop TRAIN docs whose content hash hits
                                   any val/test doc (split_contamination_check)
    -> mixture                     deterministic per-lang downsampling
                                   (hash_mod_sample discipline)
    -> packing + shard export      token_budget_packing +
                                   export_training_shards (manifest with
                                   order-insensitive content fingerprints)

Scale posture: each stage is the certified operator's own plan (filters
push to the scan, dedup is one hash shuffle, near-dup is the banded
equi-join, decontamination shuffles hashes + ids only, export is the one
final write pass) -- chaining them adds NO new shuffle class.  Stage
accounting comes from counts on localCheckpointed stage outputs, so each
stage's subtree runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.operators.curation import (
    export_training_shards,
    gopher_flags_df,
)
from etl_rf_matrix_controller_spark.operators.dedup import (
    doc_tokset_col,
    dup_corpus,
)
from etl_rf_matrix_controller_spark.operators.pipeline import hash_bucket
from etl_rf_matrix_controller_spark.streaming.neardup import (
    NEARDUP_DF_CAP,
    batch_band_candidates,
)

MIX_WEIGHTS_DEFAULT = {"en": 100, "de": 100, "fr": 100, "es": 60, "ja": 60}


def near_dup_drop_ids(docs: DataFrame, cap: int = NEARDUP_DF_CAP) -> DataFrame:
    """Higher-id member of every verified near-dup pair over an arbitrary
    (doc_id, text) frame: banded MinHash candidates (first-cap band
    index, the admission-control discipline) verified by exact Jaccard
    >= 0.6 on the candidate-scaled pair set."""
    cand = batch_band_candidates(docs, cap)
    toksets = docs.select(
        "doc_id", doc_tokset_col().alias("toks")
    ).localCheckpoint(eager=False)
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    jacc = F.size(
        F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))
    ) / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    return (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .filter(jacc >= 0.6)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def curate_training_set(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    mix_weights: dict[str, int] | None = None,
) -> dict:
    """Run the full curation chain; returns {'stages': per-stage row
    accounting, 'timings': per-stage wall seconds (each stage's subtree
    materializes exactly once at its count, so the timing IS the stage),
    'manifest': the export_training_shards manifest}.

    ``out_dir`` receives ``curated/`` (the curated corpus as a
    documents.parquet a downstream tool can load like any sf dir) and
    ``shards/`` (partitioned training shards + manifest.json).
    """
    import os
    import time

    mix = mix_weights or MIX_WEIGHTS_DEFAULT
    stages: dict[str, int] = {}
    timings: dict[str, float] = {}
    _t = time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal _t
        now = time.perf_counter()
        timings[stage] = round(now - _t, 3)
        _t = now

    corpus = dup_corpus(spark, sf_dir).localCheckpoint(eager=True)
    stages["ingested"] = corpus.count()
    _mark("ingested")

    # 1. quality (gopher rules; flags are a pure projection)
    flags = gopher_flags_df(corpus).select("doc_id", "keep")
    kept = (
        corpus.join(flags, "doc_id")
        .filter(F.col("keep"))
        .drop("keep")
        .localCheckpoint(eager=True)
    )
    stages["quality_kept"] = kept.count()
    _mark("quality_kept")

    # 2. exact dedup: normalized-content hash, keep lowest doc_id
    hashed = kept.withColumn(
        "content_hash", F.md5(F.lower(F.trim("text")))
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    exact = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    stages["exact_deduped"] = exact.count()
    _mark("exact_deduped")

    # 3. near-dup dedup: drop the higher-id member of each verified pair
    drops = near_dup_drop_ids(exact.select("doc_id", "text"))
    near = exact.join(drops, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    stages["near_deduped"] = near.count()
    _mark("near_deduped")

    # 4. decontamination: drop TRAIN docs whose content also appears in
    # the val/test split (same hash splits as split_contamination_check).
    # Eval membership is decided on the PRE-DEDUP corpus: dedup keeps the
    # lowest-id copy, so a train doc whose duplicate landed in an eval
    # bucket is still leaked content and must go -- deciding membership
    # post-dedup would make the check vacuous (every hash unique).
    b = hash_bucket(F.col("doc_id"))
    split_col = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    eval_hashes = (
        hashed.withColumn("split", split_col)
        .filter(F.col("split") != "train")
        .select("content_hash")
        .distinct()
    )
    tagged = near.withColumn("split", split_col).localCheckpoint(eager=True)
    train_clean = tagged.filter(F.col("split") == "train").join(
        eval_hashes.hint("shuffle_hash"), "content_hash", "left_anti"
    )
    decontam = train_clean.unionByName(
        tagged.filter(F.col("split") != "train")
    ).localCheckpoint(eager=True)
    stages["decontaminated"] = decontam.count()
    _mark("decontaminated")

    # 5. mixture: deterministic per-lang downsampling by doc_id hash
    # bucket (hash_mod_sample discipline: reproducible, no RNG state)
    weight = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pct))
            for lang, pct in mix.items()
        ],
        F.lit(100),
    )
    mixed = decontam.filter(hash_bucket(F.col("doc_id")) < weight).select(
        "doc_id", "text", "lang", "source"
    ).localCheckpoint(eager=True)
    stages["mixed"] = mixed.count()
    _mark("mixed")

    # 6. packing + shard export: stage the curated corpus as its own
    # documents.parquet so the certified export path consumes it through
    # the same table interface as any corpus
    curated_dir = os.path.join(out_dir, "curated")
    mixed.write.mode("overwrite").parquet(
        os.path.join(curated_dir, "documents.parquet")
    )
    manifest = export_training_shards(
        spark, curated_dir, os.path.join(out_dir, "shards")
    )
    stages["exported_docs"] = manifest["total_docs"]
    _mark("exported_docs")
    return {"stages": stages, "timings": timings, "manifest": manifest}
