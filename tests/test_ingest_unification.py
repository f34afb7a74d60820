"""Streaming ingest unified with the persistent bucketed index
(streaming/ingest.py, round 9): the persistent index IS the streaming
admission state.  Pins the round-9 verdict contract:

  1. stream-ingested index state ≡ batch-appended state over >= 3 real
     micro-batches (union of stream-written delta legs == the one-shot
     retention twin minus the base);
  2. the next morning's batch probe serves base ∪ stream-written deltas
     (a planted near-dup of a STREAMED doc matches via a delta leg,
     with the index side a bucketed scan);
  3. the compact-at-K policy runs inside the ingest loop: a mid-stream
     fold flips the manifest and later batches probe the new
     generation, final served state unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.test_plans import plan_of

CAP = 3


def _nights(spark):
    """Three ingest nights with doc_ids increasing across nights (the
    arrival-order == doc_id-order contract): near-dups (+4M), reversed
    low-quality decoys (+5M), verbatim exact copies (+6M)."""
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n1 = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zznew")).alias("text"),
    )
    n2 = docs.filter(F.col("doc_id") % 10 == 4).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.reverse(F.trim("text")).alias("text"),
    )
    n3 = docs.filter(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.col("text").alias("text"),
    )
    return docs, [n1, n2, n3]


def _stage_stream_files(spark, nights, src: str):
    os.makedirs(src)
    now = 1700000000
    for i, night in enumerate(nights):
        staging = f"{src}_b{i}"
        night.repartition(1).write.parquet(staging)
        part = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"night_{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now + i * 100, now + i * 100))


def _run_ingest(spark, tmp_path, kind: str, max_deltas=None):
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        stream_ingest_to_index,
    )

    docs, nights = _nights(spark)
    src = str(tmp_path / f"stream_{kind}")
    _stage_stream_files(spark, nights, src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    records_path = str(tmp_path / f"records_{kind}")
    stream_ingest_to_index(
        stream,
        spark,
        SF_DIR,
        kind=kind,
        version="v1",
        cap=CAP,
        records_path=records_path,
        checkpoint_path=str(tmp_path / f"ckpt_{kind}"),
        max_deltas=max_deltas,
    )
    return docs, nights, records_path


def test_stream_ingest_state_equals_batch_append(spark, monkeypatch, tmp_path):
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        ADMBAND_N_BUCKETS,
    )
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        admission_index_base,
        one_shot_retained,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind = "r9ing"
    docs, nights, records_path = _run_ingest(spark, tmp_path, kind)

    # (1) union of the three stream-written delta legs == the one-shot
    # batch-append twin (retention over corpus ∪ nights, minus base)
    legs = index_delta_frames(
        spark, SF_DIR, kind, version="v1", n_buckets=ADMBAND_N_BUCKETS
    )
    assert len(legs) == 3
    base = admission_index_base(
        spark, SF_DIR, kind=kind, version="v1", cap=CAP
    )
    streamed = None
    for leg in legs:
        streamed = leg if streamed is None else streamed.unionByName(leg)
    all_docs = docs
    for n in nights:
        all_docs = all_docs.unionByName(n)
    twin = one_shot_retained(all_docs, CAP)
    base_rows = {tuple(r) for r in base.collect()}
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in twin.collect()} - base_rows
    assert got and got == want, (len(got), len(want))
    # the streamed legs never duplicate base rows, and base ∪ deltas is
    # exactly the one-shot state
    assert not (got & base_rows)
    assert (got | base_rows) == {tuple(r) for r in twin.collect()}

    # (2) collision/quality records carry every planted class:
    # night-3 verbatim copies -> exact records against the original,
    # night-1 near-dups -> m records, night-2 reversed decoys -> q
    rec = spark.read.parquet(records_path)
    kinds = {
        r["kind"]: r["n"]
        for r in rec.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert kinds.get("q", 0) > 0 and kinds.get("m", 0) > 0
    x_pairs = {
        (r.doc_a, r.doc_b)
        for r in rec.filter(F.col("kind") == "x").collect()
    }
    # every night-3 exact copy collides with exactly its original
    sample = docs.filter(F.col("doc_id") % 10 == 6).filter(
        F.length(F.trim("text")) > 0
    )
    for r in sample.limit(5).collect():
        assert (r.doc_id, r.doc_id + 6000000) in x_pairs

    # (3) next morning's batch probe serves base ∪ stream deltas: a
    # near-dup of a STREAMED night-1 doc matches via a delta leg
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        admission_rows,
    )

    morning = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 9000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zznew")).alias("text"),
    )
    mb = admission_rows(morning).localCheckpoint(eager=True)

    def probe(leg):
        return (
            mb.alias("n")
            .hint("shuffle_hash")
            .join(
                leg.alias("i"),
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.bkey") == F.col("i.bkey")),
            )
            .select(
                F.col("n.doc_id").alias("new_doc_id"),
                F.col("i.doc_id").alias("matched_doc_id"),
            )
        )

    matched = probe(base)
    for leg in legs:
        matched = matched.unionByName(probe(leg))
    hits = matched.distinct()
    # the ' zznew' morning dup of doc d must match night-1's streamed
    # d+4M exemplar (delta leg) as well as the original d (base)
    pairs = {(r.new_doc_id, r.matched_doc_id) for r in hits.collect()}
    assert any(b >= 4000000 for (_a, b) in pairs), "delta leg not served"
    assert any(b < 4000000 for (_a, b) in pairs), "base leg not served"
    # the index side of each leg probe is a bucketed scan
    plan = plan_of(probe(legs[0]))
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stream_rerun_is_idempotent(spark, monkeypatch, tmp_path):
    """Re-draining the same nights (fresh checkpoint, same batch ids)
    re-REGISTERS the existing delta legs instead of re-writing or
    duplicating: on-disk state is unchanged and still equals the
    one-shot twin.  Pins the 'atomic idempotent publish' contract the
    declared query's docstring claims."""
    import glob

    from etl_rf_matrix_controller_spark.plans.gram_index import (
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        ADMBAND_N_BUCKETS,
        admission_index_base,
        one_shot_retained,
        stream_ingest_to_index,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind = "r9idem"
    docs, nights, _ = _run_ingest(spark, tmp_path, kind)
    files_before = sorted(glob.glob(str(tmp_path / "*") + "/**", recursive=True))

    # second drain: same staged files, fresh checkpoint + records sink
    src = str(tmp_path / f"stream_{kind}")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_ingest_to_index(
        stream,
        spark,
        SF_DIR,
        kind=kind,
        version="v1",
        cap=CAP,
        records_path=str(tmp_path / "records_rerun"),
        checkpoint_path=str(tmp_path / "ckpt_rerun"),
    )
    files_after = sorted(glob.glob(str(tmp_path / "*") + "/**", recursive=True))
    index_before = [f for f in files_before if f"_{kind}_" in f]
    index_after = [f for f in files_after if f"_{kind}_" in f]
    assert index_before == index_after, "re-run touched the index"

    legs = index_delta_frames(
        spark, SF_DIR, kind, version="v1", n_buckets=ADMBAND_N_BUCKETS
    )
    assert len(legs) == 3
    base = admission_index_base(
        spark, SF_DIR, kind=kind, version="v1", cap=CAP
    )
    served = base
    for leg in legs:
        served = served.unionByName(leg)
    all_docs = docs
    for n in nights:
        all_docs = all_docs.unionByName(n)
    assert {tuple(r) for r in served.collect()} == {
        tuple(r) for r in one_shot_retained(all_docs, CAP).collect()
    }


def test_stream_ingest_compacts_mid_stream(spark, monkeypatch, tmp_path):
    """compact-at-K wired into the ingest loop: with max_deltas=2 the
    fold happens mid-stream (manifest flip to __g1), the next batch
    probes the new generation, and the final served state still equals
    the one-shot twin."""
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        ADMBAND_N_BUCKETS,
    )
    from etl_rf_matrix_controller_spark.streaming.ingest import (
        admission_index_base,
        one_shot_retained,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind = "r9ingk"
    docs, nights, _ = _run_ingest(spark, tmp_path, kind, max_deltas=2)

    manifests = [
        n for n in os.listdir(str(tmp_path)) if n.endswith(".manifest.json")
    ]
    assert any(f"_{kind}_" in n for n in manifests), manifests
    serving = admission_index_base(
        spark, SF_DIR, kind=kind, version="v1", cap=CAP
    )
    legs = index_delta_frames(
        spark, SF_DIR, kind, version="v1", n_buckets=ADMBAND_N_BUCKETS
    )
    # batches 0+1 folded into __g1 at the batch-1 trigger; batch 2's
    # delta attached to the new generation afterwards
    assert len(legs) == 1
    served = serving
    for leg in legs:
        served = served.unionByName(leg)
    all_docs = docs
    for n in nights:
        all_docs = all_docs.unionByName(n)
    assert {tuple(r) for r in served.collect()} == {
        tuple(r) for r in one_shot_retained(all_docs, CAP).collect()
    }


def test_unification_leaves_no_temp_dir(spark, monkeypatch, tmp_path):
    """stream_index_ingest_unification stages its stream source,
    checkpoint and records sink in one temporary directory and removes
    it before it returns.  It also frees every block it persisted: its
    caches and its localCheckpoint frames (the per-batch quality flags
    and bands), whose blocks ``unpersist()`` alone never reaches.  The
    frame it returns still hashes to the manifest."""
    import json
    import tempfile

    from etl_rf_matrix_controller_spark.streaming.ingest import (
        stream_index_ingest_unification,
    )
    from tests.conftest import MANIFEST, result_hash

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = persistent_rdds()
    out = stream_index_ingest_unification(spark, SF_DIR)
    assert not [
        n for n in os.listdir(tmp_path) if n.startswith("spark_graft_ingest_")
    ]
    assert persistent_rdds() - before == set()
    with open(MANIFEST) as f:
        want = json.load(f)["stream_index_ingest_unification"]
    assert result_hash(out) == want

