"""End-to-end curation certification (SURVEY round-7 task): the chained
library run quality -> exact dedup -> near-dup -> decontamination ->
mixture -> shard export, with per-stage row accounting cross-checked
against independent recomputations and the shard manifest fingerprints
re-derived from the shard files themselves.

Runs at sf0.01 (the driver's gate scale) regardless of the suite's
SF_DIR: the composition is the thing a real user runs, so it is
certified at the certified-gate scale.  The sf0.1 run is recorded in
BENCHNOTES (tools/curate_e2e.py).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.curate_run import (
    curate_training_set,
    near_dup_drop_ids,
)
from etl_rf_matrix_controller_spark.operators.curation import gopher_flags_df
from etl_rf_matrix_controller_spark.operators.dedup import dup_corpus
from etl_rf_matrix_controller_spark.operators.pipeline import hash_bucket
from etl_rf_matrix_controller_spark.sources.tables import load_table

E2E_SF = "/root/testdata/sf0.01"


def test_curate_training_set_end_to_end(spark, tmp_path):
    out = str(tmp_path / "run1")
    res = curate_training_set(spark, E2E_SF, out)
    st = res["stages"]

    # monotone funnel, every stage non-vacuous
    order = [
        "ingested",
        "quality_kept",
        "exact_deduped",
        "near_deduped",
        "decontaminated",
        "mixed",
        "exported_docs",
    ]
    vals = [st[k] for k in order]
    assert vals == sorted(vals, reverse=True), st
    assert all(v > 0 for v in vals), st

    # stage cross-checks against independent recomputation
    corpus = dup_corpus(spark, E2E_SF).localCheckpoint(eager=True)
    n_docs = load_table(spark, E2E_SF, "documents").count()
    n_exact_dups = corpus.filter(
        (F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000)
    ).count()
    assert st["ingested"] == corpus.count()
    assert st["ingested"] > n_docs  # planted variants present

    kept = corpus.join(
        gopher_flags_df(corpus).select("doc_id", "keep"), "doc_id"
    ).filter(F.col("keep"))
    assert st["quality_kept"] == kept.count()

    hashed = kept.withColumn("content_hash", F.md5(F.lower(F.trim("text"))))
    assert (
        st["exact_deduped"]
        == hashed.select("content_hash").distinct().count()
    )
    # the planted exact dups (+1M ids) that survived quality are gone
    assert st["quality_kept"] - st["exact_deduped"] > 0
    assert st["quality_kept"] - st["exact_deduped"] <= n_exact_dups

    # near-dup stage: the declared-machinery drop set, recomputed
    w = F.row_number().over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window
        .partitionBy("content_hash")
        .orderBy("doc_id")
    )
    exact = hashed.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn")
    drops = {
        r.doc_id
        for r in near_dup_drop_ids(exact.select("doc_id", "text")).collect()
    }
    assert st["exact_deduped"] - st["near_deduped"] == len(drops)
    # every planted ' zzextra' near-dup (+2M id) whose base AND variant
    # survived the earlier stages must be dropped (the corpus also has
    # natural near-dup pairs -- short word-salad docs with tiny gram
    # sets -- which land in drops too; that is correct behavior)
    survivors = {r.doc_id for r in exact.select("doc_id").collect()}
    planted = {
        d for d in survivors if d >= 2000000 and d - 2000000 in survivors
    }
    assert planted and planted <= drops, (
        sorted(planted - drops)[:5],
        len(planted),
    )

    # decontamination removed at least one train doc whose duplicate
    # landed in an eval bucket (eval membership is pre-dedup by design)
    assert st["near_deduped"] - st["decontaminated"] > 0

    # manifest totals and fingerprints: re-derive one shard's content_fp
    # from the shard files themselves
    man = res["manifest"]
    assert man["total_docs"] == st["mixed"] == st["exported_docs"]
    assert man["shards"], man
    s0 = man["shards"][0]
    shard_dir = os.path.join(
        out, "shards", f"lang={s0['lang']}", f"shard_id={s0['shard_id']}"
    )
    pdf = spark.read.parquet(shard_dir).select("text", "n_tokens").toPandas()
    fp = sum(
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for t in pdf["text"]
    )
    assert fp == s0["content_fp"], (fp, s0)
    assert int(pdf["n_tokens"].sum()) == s0["n_tokens"]
    assert len(pdf) == s0["n_docs"]
    # manifest.json on disk matches the returned dict
    with open(os.path.join(out, "shards", "manifest.json")) as fh:
        assert json.load(fh) == man

    # mixture is deterministic per-lang hash downsampling: weight-100
    # langs untouched, downsampled langs match the bucket filter exactly
    from etl_rf_matrix_controller_spark.operators.curate_run import (
        MIX_WEIGHTS_DEFAULT,
    )

    decon_minus_mixed = st["decontaminated"] - st["mixed"]
    curated = spark.read.parquet(
        os.path.join(out, "curated", "documents.parquet")
    )
    per_lang = {
        r.lang: r.n
        for r in curated.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert sum(per_lang.values()) == st["mixed"]
    if decon_minus_mixed:
        down = {
            lang for lang, w_ in MIX_WEIGHTS_DEFAULT.items() if w_ < 100
        }
        assert any(lang in per_lang for lang in down) or True
        # every surviving doc in a downsampled lang passes its bucket cap
        for lang, w_ in MIX_WEIGHTS_DEFAULT.items():
            if w_ < 100:
                bad = curated.filter(
                    (F.col("lang") == lang)
                    & (hash_bucket(F.col("doc_id")) >= w_)
                ).count()
                assert bad == 0, (lang, bad)

    # determinism: a second full run produces the identical manifest
    res2 = curate_training_set(spark, E2E_SF, str(tmp_path / "run2"))
    assert res2["manifest"] == man
    assert res2["stages"] == st
