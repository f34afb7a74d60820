"""Persistent bucketed gram index (plans/gram_index.py): the round-7 fix
for the one sub-linear x100 decade (per-query ~20 GB gram shuffle).

Pins the three properties that make the index the 100 TB answer:
  1. ZERO Exchange in the consuming joins -- the postings table is
     bucketed on the join keys, so self-joins and agg-joins run
     bucket-to-bucket (`Bucketed: true` scans, no shuffle).
  2. Write-once semantics -- a second query against the same corpus hits
     the catalog (and a fresh catalog re-registers over the on-disk files
     instead of rebuilding).
  3. Results are IDENTICAL to the ad-hoc (checkpoint-per-run) path the
     span family used through round 6.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.corpus import gram_novelty_curve
from etl_rf_matrix_controller_spark.operators.dedup import (
    dup_corpus,
    jac8_gram_index,
    span_char_gram_index,
    span_token_gram_index,
    substring_span_dups,
    substring_span_pairs_df,
    token_span_dups,
    token_span_pairs_df,
)
from etl_rf_matrix_controller_spark.plans.gram_index import (
    corpus_fingerprint,
    index_root,
)
from tests.conftest import SF_DIR, checkpoint_plans
from tests.test_plans import plan_of


def _span_self_join(pg):
    a, b = pg.alias("a"), pg.alias("b")
    return a.join(
        b.hint("shuffle_hash"),
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def test_span_char_join_zero_exchange(spark):
    """The char-span self-join must consume two Bucketed scans and plan
    NO Exchange of any kind -- this is the contract that kills the
    per-query gram shuffle."""
    plan = plan_of(_span_self_join(span_char_gram_index(spark, SF_DIR)))
    assert "Exchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_span_token_join_zero_exchange(spark):
    plan = plan_of(_span_self_join(span_token_gram_index(spark, SF_DIR)))
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_jaccard_pair_join_zero_exchange(spark):
    """(gram, source) self-join over the 2-key bucketed table: the pair
    counting up to the partial aggregate plans zero Exchange."""
    pg = jac8_gram_index(spark, SF_DIR)
    a, b = pg.alias("a"), pg.alias("b")
    j = a.join(
        b.hint("shuffle_hash"),
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    plan = plan_of(j)
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_full_span_query_single_small_exchange(spark):
    """The complete substring_span_dups plan: the ONLY exchange left is
    the post-match diagonal window/rollup (match-scaled, not
    corpus-scaled), and the gram join stays bucket-local."""
    plan = plan_of(substring_span_dups(spark, SF_DIR))
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, f"expected <=1 post-match shuffle:\n{plan}"


def test_novelty_first_seen_agg_zero_exchange(spark):
    """gram_novelty_curve: first-seen aggregation AND the join back both
    run inside buckets -- exactly one exchange total (the final per-doc
    rollup)."""
    plan = plan_of(gram_novelty_curve(spark, SF_DIR))
    assert "Bucketed: true" in plan, plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"expected only the per-doc rollup:\n{plan}"


def test_index_written_once_and_reregistered(spark):
    """Second access = catalog hit (no rebuild: on-disk meta mtime
    unchanged); dropping the catalog entry re-registers from disk via
    CREATE TABLE (cross-session reuse) instead of rebuilding."""
    pg = span_char_gram_index(spark, SF_DIR)
    n1 = pg.count()
    tag = corpus_fingerprint(SF_DIR)
    table = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("gram_idx_spanchar_v1_") and tag in t.name
    ]
    assert len(table) == 1, table
    meta = os.path.join(index_root(), table[0], "_graft_meta.json")
    mtime = os.stat(meta).st_mtime_ns
    assert span_char_gram_index(spark, SF_DIR).count() == n1
    assert os.stat(meta).st_mtime_ns == mtime, "index was rebuilt"
    # simulate a fresh session: drop the catalog entry, keep the files
    spark.sql(f"DROP TABLE {table[0]}")
    assert span_char_gram_index(spark, SF_DIR).count() == n1
    assert os.stat(meta).st_mtime_ns == mtime, "re-registration rebuilt"
    with open(meta) as fh:
        m = json.load(fh)
    assert m["bucket_cols"] == ["gram"]


def test_indexed_results_equal_adhoc_path(spark):
    """The persistent-index span queries return exactly the rows of the
    round-6 ad-hoc (localCheckpoint) path."""
    docs = dup_corpus(spark, SF_DIR)
    for indexed, adhoc in (
        (substring_span_dups(spark, SF_DIR), substring_span_pairs_df(docs)),
        (token_span_dups(spark, SF_DIR), token_span_pairs_df(docs)),
    ):
        got = {tuple(r) for r in indexed.collect()}
        want = {tuple(r) for r in adhoc.collect()}
        assert got == want


def test_winnow_selection_zero_exchange_zero_sort(spark):
    """The winnow family's selection windows read their distribution AND
    ordering straight off the bucketBy(doc_id).sortBy(doc_id, pos) index
    (one file per bucket + spark.sql.legacy.bucketedTableScan.
    outputOrdering): the whole selection plans NO Exchange and NO Sort."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        token_winnow_gram_index,
        winnow_gram_index,
        winnow_select_fps_df,
    )

    for idx in (
        winnow_gram_index(spark, SF_DIR),
        token_winnow_gram_index(spark, SF_DIR),
    ):
        plan = plan_of(winnow_select_fps_df(idx))
        assert "Exchange" not in plan, plan
        assert "Sort " not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert plan.count("Window") == 2, plan


def test_winnow_pair_probe_one_exchange_no_checkpoint(spark):
    """The winnow pair detector probes each unit's fp-bucketed selection
    index: the df window and the fp self-join read their distribution
    and order off two bucketed scans, so the only Exchange is the pair
    aggregation and nothing is checkpointed."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        winnow_fp_pairs,
        winnow_selection_index,
    )

    for unit in ("char", "token"):
        sel = winnow_selection_index(spark, SF_DIR, unit)
        with checkpoint_plans() as ckpts:
            plan = plan_of(winnow_fp_pairs(sel))
        assert ckpts == [], ckpts
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Bucketed: true") == 2, plan
        assert "ShuffledHashJoin" in plan, plan


def test_bucket_count_follows_source_size(spark, monkeypatch, tmp_path):
    """An index's bucket count is max(1, ceil(bytes / BUCKET_BYTES)) of
    its source parquet: a larger source gets more buckets, and a delta
    leg keeps its base's count so the legs stay co-located."""
    from etl_rf_matrix_controller_spark.plans import gram_index as gi

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))

    def rows(s, d):
        return s.range(40).select(F.col("id").alias("k"))

    def meta_buckets(table):
        loc = os.path.join(str(tmp_path / "idx"), table)
        with open(os.path.join(loc, "_graft_meta.json")) as fh:
            return json.load(fh)["n_buckets"]

    counts = {}
    for name, size in (("small", 100), ("large", 3 * gi.BUCKET_BYTES + 1)):
        sf = tmp_path / name
        sf.mkdir()
        (sf / "documents.parquet").write_bytes(b"\0" * size)
        kind = f"bkrule{name}"
        base = gi.ensure_bucketed_index(
            spark, str(sf), kind, rows, ["k"], version="v1"
        )
        delta = gi.append_index_delta(
            spark, str(sf), kind, rows, ["k"], version="v1", batch_id="b1"
        )
        want = max(1, -(-size // gi.BUCKET_BYTES))
        assert gi.source_n_buckets(str(sf)) == want
        assert meta_buckets(base.inputFiles()[0].split("/")[-2]) == want
        assert meta_buckets(delta.inputFiles()[0].split("/")[-2]) == want
        counts[name] = want
    assert counts["large"] > counts["small"], counts

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for sub in ("etl_rf_matrix_controller_spark", "tools"):
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            for f in files:
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f)) as fh:
                        assert "SPARK_GRAFT_GRAM_BUCKETS" not in fh.read(), f


def test_token_gram_build_no_hash_exchange_no_sort(spark):
    """The token unit of positional_gram_df builds its k-token grams
    in-row (transform over the split token array), so the fan-out plans
    NO hash Exchange and NO Sort -- only the pre-fan-out round-robin
    repartition.  A window over the token stream would add a doc_id
    hash Exchange plus a Sort."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        TOK_SPAN_K,
        positional_gram_df,
    )

    docs = dup_corpus(spark, SF_DIR)
    plan = plan_of(positional_gram_df(docs, TOK_SPAN_K, unit="token"))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Sort " not in plan, plan
    assert "Exchange RoundRobinPartitioning" in plan, plan


def test_incremental_probe_shuffles_only_the_batch(spark):
    """incremental_near_dup_check's probe join: the corpus-scaled band
    index is a bucketed scan with NO exchange; the only exchange feeding
    the join is the batch's own bands (batch-scaled).  This is the
    structural 100 TB posture -- shuffle the batch, never the corpus."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        incremental_band_index,
        new_batch_docs,
        per_row_band_rows,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    idx = incremental_band_index(spark, SF_DIR)
    nb = per_row_band_rows(
        new_batch_docs(
            load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        )
    )
    j = nb.alias("n").hint("shuffle_hash").join(
        idx.alias("i"),
        (F.col("n.band") == F.col("i.band"))
        & (F.col("n.bkey") == F.col("i.bkey")),
    )
    plan = plan_of(j)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert plan.count("Bucketed: true") == 1, plan
    # exactly one hash exchange: the batch side being shuffled into the
    # index's bucketing
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# Round 8: incremental maintenance (delta append + compaction)
# ---------------------------------------------------------------------------


def _du(path):
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _tok_postings(docs):
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def test_delta_append_equals_rebuild_and_compacts(spark, monkeypatch, tmp_path):
    """The round-8 incremental-maintenance contract, end to end on a
    dedicated index kind under an isolated root:

      (a) append+probe ≡ full-rebuild+probe: base ∪ delta rows equal a
          one-shot build over corpus ∪ batch, byte for byte;
      (b) the append writes only batch-scaled bytes (the base is never
          rewritten);
      (c) delta↔base joins on the bucket keys are co-located (both legs
          bucketed identically -> ZERO Exchange), and after compaction
          the folded base is back to one file per bucket with its
          self-join still Exchange-free.
    """
    from etl_rf_matrix_controller_spark.operators.dedup import new_batch_docs
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
        compact_index,
        ensure_bucketed_index,
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "r8apptest", "v1"
    kw = dict(version=version, sort_cols=["token", "doc_id"])
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    base = ensure_bucketed_index(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(docs), ["token"], **kw
    )
    base_table = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"gram_idx_{kind}_{version}_")
    ][0]
    base_loc = os.path.join(str(tmp_path), base_table)
    base_bytes = _du(base_loc)
    base_meta_mtime = os.stat(
        os.path.join(base_loc, "_graft_meta.json")
    ).st_mtime_ns

    delta = append_index_delta(
        spark,
        SF_DIR,
        kind,
        lambda s, d: _tok_postings(new_batch_docs(docs)),
        ["token"],
        batch_id="t1",
        **kw,
    )
    delta_loc = base_loc + "__dt1"
    # (b) batch-scaled write: the delta holds only the ~20%-of-corpus
    # batch's postings (at sf0.001 the per-file parquet footers floor
    # the BYTES, so the row count is the scale-invariant check) and the
    # base files were not touched
    assert 0 < _du(delta_loc) < base_bytes, (_du(delta_loc), base_bytes)
    assert 0 < delta.count() < base.count() / 3
    assert (
        os.stat(os.path.join(base_loc, "_graft_meta.json")).st_mtime_ns
        == base_meta_mtime
    ), "append rewrote the base"
    legs = index_delta_frames(spark, SF_DIR, kind, version=version)
    assert len(legs) == 1
    # cross-session reuse: drop the delta's catalog entry (files stay)
    # and re-discover -- a fresh session re-registers from disk
    delta_table = os.path.basename(delta_loc)
    n_delta = legs[0].count()
    spark.sql(f"DROP TABLE {delta_table}")
    legs2 = index_delta_frames(spark, SF_DIR, kind, version=version)
    assert len(legs2) == 1 and legs2[0].count() == n_delta

    # (a) served ≡ rebuilt
    served = {tuple(r) for r in base.unionByName(delta).collect()}
    rebuilt = {
        tuple(r)
        for r in _tok_postings(
            docs.unionByName(new_batch_docs(docs))
        ).collect()
    }
    assert served == rebuilt

    # (c) co-located delta<->base join: zero Exchange, two bucketed scans
    j = base.alias("a").join(
        delta.alias("b").hint("shuffle_hash"),
        F.col("a.token") == F.col("b.token"),
    )
    plan = plan_of(j)
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan

    # compaction (round 9: concurrent-reader-safe) folds the delta into
    # a NEW generation `<table>__g1`, flips the manifest atomically, and
    # RETIRES (never deletes) the old generation + delta: a reader that
    # resolved before the flip keeps a correct, complete snapshot
    compacted = compact_index(spark, SF_DIR, kind, ["token"], **kw)
    assert {tuple(r) for r in compacted.collect()} == rebuilt
    assert index_delta_frames(spark, SF_DIR, kind, version=version) == []
    # grace retirement: old generation + folded delta still on disk for
    # in-flight readers; the PRE-compaction reader (base ∪ delta frames
    # resolved above) still serves the full snapshot after the flip
    assert os.path.exists(delta_loc) and os.path.exists(base_loc)
    assert {
        tuple(r) for r in base.unionByName(delta).collect()
    } == rebuilt
    # new resolutions land on the compacted generation
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        ensure_bucketed_index as _ensure,
        prune_stale_indexes,
    )

    comp_loc = base_loc + "__g1"
    assert os.path.isdir(comp_loc)
    man = json.load(open(base_loc + ".manifest.json"))
    assert man["serving"] == os.path.basename(comp_loc)
    assert sorted(e["path"] for e in man["retired"]) == sorted(
        [os.path.basename(base_loc), os.path.basename(delta_loc)]
    )
    resolved = _ensure(
        spark, SF_DIR, kind, lambda s, d: (_ for _ in ()).throw(
            AssertionError("post-compaction resolution must not rebuild")
        ), ["token"], **kw,
    )
    assert {tuple(r) for r in resolved.collect()} == rebuilt

    # retention sweep reclaims the retired legs after the grace period
    # (retired_age_s=0 simulates its expiry) and empties the manifest
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        corpus_fingerprint,
    )

    live = {corpus_fingerprint(SF_DIR)}
    reclaimed = prune_stale_indexes(
        live, root=str(tmp_path), retired_age_s=0
    )
    assert sorted(os.path.basename(p) for p in reclaimed) == sorted(
        [os.path.basename(base_loc), os.path.basename(delta_loc)]
    )
    assert not os.path.exists(delta_loc) and not os.path.exists(base_loc)
    assert os.path.isdir(comp_loc)
    assert json.load(open(base_loc + ".manifest.json"))["retired"] == []

    n_buckets = json.load(
        open(os.path.join(comp_loc, "_graft_meta.json"))
    )["n_buckets"]
    files = [
        f
        for f in os.listdir(comp_loc)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    # at most ONE file per bucket (empty buckets write none), task id
    # aligned with bucket id -- the layout the sortBy read-order
    # guarantee needs
    assert 0 < len(files) <= n_buckets, (len(files), n_buckets)
    import re as _re

    buckets = []
    for f in files:
        m = _re.match(r"part-(\d+)-.*_(\d+)\.c000", f)
        assert m and int(m.group(1)) == int(m.group(2)), f
        buckets.append(int(m.group(2)))
    assert len(set(buckets)) == len(files)
    a, b = compacted.alias("a"), compacted.alias("b")
    plan2 = plan_of(
        a.join(
            b.hint("shuffle_hash"), F.col("a.token") == F.col("b.token")
        )
    )
    assert "Exchange" not in plan2, plan2
    assert plan2.count("Bucketed: true") == 2, plan2


def test_incremental_postings_probe_plan(spark):
    """The declared incremental_postings_append_check: the served leg
    reads TWO bucketed scans (base + delta) with the token probe pushed
    into both, documents is scanned exactly once (the audit recompute),
    and nothing corpus-scaled shuffles -- the only exchanges are the
    probe-scaled rollups."""
    import re
    from collections import Counter

    from etl_rf_matrix_controller_spark.operators.search import (
        incremental_postings_append_check,
    )
    from tests.test_plans import formatted

    df = incremental_postings_append_check(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    fmt = formatted(df)
    scans = Counter(
        m.group(1) for m in re.finditer(r"Location:.*?/(\w+)\.parquet", fmt)
    )
    assert scans.get("documents", 0) == 1, scans
    assert fmt.count("In(token, [hash,spark,window]") == 2, fmt


def test_band_delta_probe_shuffles_only_the_batch(spark):
    """incremental_band_append_check's two-leg probe: base AND delta are
    bucketed scans (no corpus- or batch-1-scaled exchange); the only
    hash exchanges feed the probe side -- night 2's own bands shuffled
    into the shared bucketing, once per leg."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        band_index_delta,
        batch2_docs,
        incremental_band_index,
        per_row_band_rows,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    base = incremental_band_index(spark, SF_DIR)
    delta = band_index_delta(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nb = per_row_band_rows(batch2_docs(docs)).localCheckpoint(eager=True)

    def probe(leg):
        return (
            nb.alias("n")
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

    plan = plan_of(probe(base).unionByName(probe(delta)))
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # one probe-side exchange per leg, nothing index-scaled
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_prune_stale_indexes(tmp_path):
    """Retention sweep: stale-tagged locations and old .build-/.old-
    residue are removed; live-tagged locations (including their deltas)
    and FRESH staging dirs survive."""
    import time

    from etl_rf_matrix_controller_spark.plans.gram_index import (
        prune_stale_indexes,
    )

    root = str(tmp_path)
    live = "a" * 10
    stale = "b" * 10
    keep = [
        f"gram_idx_post_1_{live}_b32",
        f"gram_idx_post_1_{live}_b32__ding1",
        f"gram_idx_span_v1_{live}_b32.build-999",  # fresh staging
    ]
    drop = [
        f"gram_idx_post_1_{stale}_b32",
        f"gram_idx_post_1_{stale}_b32__ding1",
        f"gram_idx_span_m10_{stale}_b128",
    ]
    old = [f"gram_idx_span_v1_{live}_b32.build-1", f"gram_idx_post_1_{live}_b32.old-7"]
    for d in keep + drop + old:
        os.makedirs(os.path.join(root, d))
    past = time.time() - 7200
    for d in old:
        os.utime(os.path.join(root, d), (past, past))

    dry = prune_stale_indexes({live}, root=root, dry_run=True)
    assert sorted(os.path.basename(p) for p in dry) == sorted(drop + old)
    assert all(os.path.isdir(os.path.join(root, d)) for d in keep + drop)

    removed = prune_stale_indexes({live}, root=root)
    assert sorted(os.path.basename(p) for p in removed) == sorted(drop + old)
    assert all(os.path.isdir(os.path.join(root, d)) for d in keep)
    assert not any(os.path.exists(os.path.join(root, d)) for d in drop + old)


# ---------------------------------------------------------------------------
# Round 9: concurrent-reader-safe compaction, crash recovery, multi-delta
# serving + compact-at-K policy, protected-kind guard
# ---------------------------------------------------------------------------


def test_compact_refuses_protected_kinds(spark):
    """Round 10: only the DEDICATED planted ``_ing`` kinds are
    protected -- their delta legs carry planted ingest-scenario docs
    that declared consumers reuse by design.  Every shared production
    kind (post / bandidx / ivfflat / the gram family) is compactable
    without overrides because planted batches no longer publish under
    those kinds."""
    import pytest

    from etl_rf_matrix_controller_spark.plans.gram_index import (
        PROTECTED_KINDS,
        compact_index,
    )

    assert PROTECTED_KINDS == {
        "post_ing", "bandidx_ing", "ivfflat_ing", "admband_ing",
        "spanchar_ing",
    }
    for prod in ("post", "bandidx", "ivfflat", "spanchar", "win8"):
        assert prod not in PROTECTED_KINDS
    for kind in sorted(PROTECTED_KINDS):
        with pytest.raises(ValueError, match="declared"):
            compact_index(spark, SF_DIR, kind, ["token"], version="v1")


def test_compact_production_post_kind_without_override(
    spark, monkeypatch, tmp_path
):
    """The round-9 verdict headline: a real corpus can compact its
    term-postings index.  Under an isolated root, build a ``post``-kind
    base, append a REAL ingest delta, and compact_index(kind='post')
    with NO allow_protected -- the fold succeeds and serves
    base ∪ delta exactly."""
    from etl_rf_matrix_controller_spark.operators.dedup import new_batch_docs
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
        compact_index,
        ensure_bucketed_index,
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "post", "v1"
    kw = dict(version=version, sort_cols=["token", "doc_id"])
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ensure_bucketed_index(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(docs), ["token"],
        **kw,
    )
    append_index_delta(
        spark, SF_DIR, kind,
        lambda s, d: _tok_postings(new_batch_docs(docs)), ["token"],
        batch_id="real1", **kw,
    )
    compacted = compact_index(spark, SF_DIR, kind, ["token"], **kw)
    assert index_delta_frames(spark, SF_DIR, kind, version=version) == []
    want = {
        tuple(r)
        for r in _tok_postings(
            docs.unionByName(new_batch_docs(docs))
        ).collect()
    }
    assert {tuple(r) for r in compacted.collect()} == want


def test_span_delta_append_equals_rebuild(spark, monkeypatch, tmp_path):
    """Round-10 verdict task #2: the span-gram family (positional
    char-grams bucketed on gram) supports delta-leg ingest.  Under an
    isolated root: base ∪ appended-batch leg holds exactly the grams a
    full rebuild over corpus ∪ batch would, and a probe against either
    leg reads a bucketed scan with no SortMergeJoin."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        SPAN_K,
        positional_gram_df,
        span_batch1_docs,
        span_batch2_docs,
    )
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
        ensure_bucketed_index,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "r10span", "v1"
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = ensure_bucketed_index(
        spark, SF_DIR, kind,
        lambda s, d: positional_gram_df(docs, SPAN_K), ["gram"],
        version=version,
    )
    delta = append_index_delta(
        spark, SF_DIR, kind,
        lambda s, d: positional_gram_df(span_batch1_docs(docs), SPAN_K),
        ["gram"], version=version, batch_id="b1",
    )
    served = {tuple(r) for r in base.unionByName(delta).collect()}
    rebuilt = {
        tuple(r)
        for r in positional_gram_df(
            docs.unionByName(span_batch1_docs(docs)), SPAN_K
        ).collect()
    }
    assert served == rebuilt and served

    npg = positional_gram_df(span_batch2_docs(docs), SPAN_K).localCheckpoint(
        eager=True
    )
    for leg in (base, delta):
        plan = plan_of(
            npg.alias("n")
            .hint("shuffle_hash")
            .join(leg.alias("i"), F.col("n.gram") == F.col("i.gram"))
        )
        assert "Bucketed: true" in plan, plan
        assert "SortMergeJoin" not in plan, plan


def test_missing_serving_generation_refuses_silent_rebuild(
    spark, monkeypatch, tmp_path
):
    """Round-9 ADVICE: when the manifest names a compacted generation
    whose directory is gone (and unrecoverable), ensure_bucketed_index
    must raise rather than rebuild base-only content under the
    generation name -- a silent rebuild would serve an index missing
    every folded delta."""
    import shutil

    import pytest

    from etl_rf_matrix_controller_spark.operators.dedup import new_batch_docs
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
        compact_index,
        ensure_bucketed_index,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "r10gone", "v1"
    kw = dict(version=version, sort_cols=["token", "doc_id"])
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    builder = lambda s, d: _tok_postings(docs)  # noqa: E731
    ensure_bucketed_index(
        spark, SF_DIR, kind, builder, ["token"], **kw
    )
    append_index_delta(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(new_batch_docs(docs)),
        ["token"], batch_id="b1", **kw,
    )
    compact_index(spark, SF_DIR, kind, ["token"], **kw)
    gen1 = next(
        os.path.join(str(tmp_path), n)
        for n in os.listdir(str(tmp_path))
        if f"_{kind}_" in n and n.endswith("__g1")
    )
    spark.sql(f"DROP TABLE {os.path.basename(gen1)}")
    shutil.rmtree(gen1)
    with pytest.raises(FileNotFoundError, match="compacted-generation"):
        ensure_bucketed_index(spark, SF_DIR, kind, builder, ["token"], **kw)


def test_append_racing_compaction_rehomes_orphan(spark, monkeypatch, tmp_path):
    """Round-10 verdict task #4: an append whose publish lands just as a
    compaction flips the serving generation must never leave the batch
    invisible to post-flip readers.  The race is forced deterministically:
    a compaction (which cannot see the in-flight delta) runs between the
    append's generation resolution and its publish landing -- the append
    must detect the flip, re-home the same rows onto the new generation
    (idempotent by batch id), and retire the orphan leg."""
    import etl_rf_matrix_controller_spark.plans.gram_index as gi
    from etl_rf_matrix_controller_spark.operators.dedup import (
        new_batch_docs,
        batch2_docs,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "r10race", "v1"
    kw = dict(version=version, sort_cols=["token", "doc_id"])
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n1, n2 = new_batch_docs(docs), batch2_docs(docs)
    gi.ensure_bucketed_index(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(docs), ["token"],
        **kw,
    )
    gi.append_index_delta(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(n1), ["token"],
        batch_id="b1", **kw,
    )

    real_publish = gi._publish_bucketed
    armed = {"on": True}

    def racing_publish(spark_, df, table, loc, *a, **k):
        if armed["on"] and "__db2" in table:
            # the compaction intervenes AFTER the append resolved its
            # target generation but BEFORE its publish lands: it folds
            # b1 (the only leg it can see) and flips serving to __g1
            armed["on"] = False
            gi.compact_index(spark, SF_DIR, kind, ["token"], **kw)
        return real_publish(spark_, df, table, loc, *a, **k)

    monkeypatch.setattr(gi, "_publish_bucketed", racing_publish)
    gi.append_index_delta(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(n2), ["token"],
        batch_id="b2", **kw,
    )
    monkeypatch.setattr(gi, "_publish_bucketed", real_publish)

    # post-flip reader: serving generation + delta legs hold EVERY batch
    serving = gi.ensure_bucketed_index(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(docs), ["token"],
        **kw,
    )
    legs = gi.index_delta_frames(spark, SF_DIR, kind, version=version)
    assert len(legs) == 1  # b2, re-homed onto __g1
    got = serving
    for leg in legs:
        got = got.unionByName(leg)
    want = {
        tuple(r)
        for r in _tok_postings(
            docs.unionByName(n1).unionByName(n2)
        ).collect()
    }
    assert {tuple(r) for r in got.collect()} == want

    # the orphan (old-generation __db2 leg) is retired, not deleted
    table = gi._base_table_name(
        SF_DIR, kind, version, gi.source_n_buckets(SF_DIR), "documents"
    )
    man = gi._read_manifest(os.path.join(str(tmp_path), table))
    retired = {e["path"] for e in man["retired"]}
    assert f"{table}__db2" in retired, retired
    assert man["serving"] == f"{table}__g1"
    assert os.path.isdir(os.path.join(str(tmp_path), f"{table}__db2"))


def test_manifest_updates_are_lock_serialized(tmp_path):
    """Round-9 ADVICE: compact_index and prune_stale_indexes mutate the
    manifest through _update_manifest, whose O_EXCL lockfile (a) makes
    a concurrent writer's entries survive a read-modify-write race and
    (b) steals locks abandoned by dead processes."""
    import threading
    import time

    from etl_rf_matrix_controller_spark.plans.gram_index import (
        _read_manifest,
        _update_manifest,
    )

    loc = str(tmp_path / "gram_idx_lk_v1_0000000000_b8")

    # (a) interleave: writer A reads the manifest, sleeps, then writes;
    # writer B lands in between.  Without the lock, A's write would
    # erase B's entry; with it, B blocks until A finishes.
    def slow_add(man):
        time.sleep(0.3)
        man["retired"] = list(man.get("retired", [])) + [
            {"path": "a", "at": 1.0}
        ]
        return man

    def fast_add(man):
        man["retired"] = list(man.get("retired", [])) + [
            {"path": "b", "at": 2.0}
        ]
        return man

    ta = threading.Thread(target=_update_manifest, args=(loc, slow_add))
    ta.start()
    time.sleep(0.1)  # A holds the lock mid-read-modify-write
    _update_manifest(loc, fast_add)
    ta.join()
    paths = {e["path"] for e in _read_manifest(loc)["retired"]}
    assert paths == {"a", "b"}, paths

    # (b) a stale lock (dead holder) is stolen, not waited on forever
    lock = loc + ".manifest.json.lock"
    with open(lock, "w"):
        pass
    past = time.time() - 3600
    os.utime(lock, (past, past))
    _update_manifest(loc, fast_add)
    assert not os.path.exists(lock)


def test_crash_recovery_restores_lone_copy(spark, monkeypatch, tmp_path):
    """A publisher that dies between staging write and rename (or a
    legacy two-rename swap dying between renames) leaves a COMPLETE
    .old-/.build- copy and no published base; ensure_bucketed_index must
    restore it with one rename instead of a full rebuild, and
    prune_stale_indexes must NOT reap the only good copy."""
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        corpus_fingerprint,
        ensure_bucketed_index,
        prune_stale_indexes,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "r9crash", "v1"
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    built = ensure_bucketed_index(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(docs), ["token"],
        version=version, sort_cols=["token", "doc_id"],
    )
    n = built.count()
    table = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"gram_idx_{kind}_{version}_")
    ][0]
    loc = os.path.join(str(tmp_path), table)
    # simulate the crash: published base renamed aside, catalog dropped
    import time

    orphan = loc + ".old-12345"
    spark.sql(f"DROP TABLE {table}")
    os.rename(loc, orphan)
    past = time.time() - 7200
    os.utime(orphan, (past, past))

    # the sweep must skip the only good copy even past the age threshold
    assert prune_stale_indexes(
        {corpus_fingerprint(SF_DIR)}, root=str(tmp_path)
    ) == []
    assert os.path.isdir(orphan)

    # resolution recovers by rename -- the build callable must not run
    recovered = ensure_bucketed_index(
        spark, SF_DIR, kind,
        lambda s, d: (_ for _ in ()).throw(
            AssertionError("recovery must not rebuild")
        ),
        ["token"], version=version, sort_cols=["token", "doc_id"],
    )
    assert recovered.count() == n
    assert os.path.isdir(loc) and not os.path.exists(orphan)


def test_multi_delta_serving_and_compact_at_k(spark, monkeypatch, tmp_path):
    """A week of nightly appends leaves N delta legs: index_delta_frames
    must serve ALL of them (base ∪ d1 ∪ d2 ∪ d3 ≡ one-shot rebuild over
    the union), every leg must stay a zero-Exchange co-located join
    against the base, and compact_when_due must no-op below K legs then
    fold exactly at K."""
    from etl_rf_matrix_controller_spark.operators.dedup import new_batch_docs
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
        compact_when_due,
        ensure_bucketed_index,
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    kind, version = "r9multi", "v1"
    kw = dict(version=version, sort_cols=["token", "doc_id"])
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    base = ensure_bucketed_index(
        spark, SF_DIR, kind, lambda s, d: _tok_postings(docs), ["token"], **kw
    )

    def night(i):
        # three disjoint nightly batches (ids offset per night)
        return new_batch_docs(docs).withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
        )

    batches = []
    for i in (1, 2, 3):
        append_index_delta(
            spark, SF_DIR, kind,
            lambda s, d, i=i: _tok_postings(night(i)), ["token"],
            batch_id=f"n{i}", **kw,
        )
        batches.append(night(i))
    legs = index_delta_frames(spark, SF_DIR, kind, version=version)
    assert len(legs) == 3

    served = base
    for leg in legs:
        served = served.unionByName(leg)
    all_docs = docs
    for b in batches:
        all_docs = all_docs.unionByName(b)
    assert {tuple(r) for r in served.collect()} == {
        tuple(r) for r in _tok_postings(all_docs).collect()
    }

    # each leg joins the base co-located: zero Exchange, 2 bucketed scans
    for leg in legs:
        plan = plan_of(
            base.alias("a").join(
                leg.alias("b").hint("shuffle_hash"),
                F.col("a.token") == F.col("b.token"),
            )
        )
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan

    # policy: below K -> no-op; at K -> one fold, zero legs afterwards
    assert (
        compact_when_due(spark, SF_DIR, kind, ["token"], max_deltas=4, **kw)
        is None
    )
    assert len(index_delta_frames(spark, SF_DIR, kind, version=version)) == 3
    folded = compact_when_due(
        spark, SF_DIR, kind, ["token"], max_deltas=3, **kw
    )
    assert folded is not None
    assert index_delta_frames(spark, SF_DIR, kind, version=version) == []
    assert {tuple(r) for r in folded.collect()} == {
        tuple(r) for r in _tok_postings(all_docs).collect()
    }
    # post-compaction appends attach to the NEW generation and serve
    append_index_delta(
        spark, SF_DIR, kind,
        lambda s, d: _tok_postings(night(4)), ["token"],
        batch_id="n4", **kw,
    )
    legs4 = index_delta_frames(spark, SF_DIR, kind, version=version)
    assert len(legs4) == 1
    assert {tuple(r) for r in folded.unionByName(legs4[0]).collect()} == {
        tuple(r)
        for r in _tok_postings(all_docs.unionByName(night(4))).collect()
    }
