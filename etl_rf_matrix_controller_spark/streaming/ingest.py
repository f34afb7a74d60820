"""Streaming ingest unified with the persistent bucketed index.

Round 8 left TWO sources of truth for corpus admission state: the
composed streaming admission (streaming/curation.py) kept its own
applyInPandasWithState band index, while the persistent bucketed index
family (plans/gram_index.py) served the batch probes -- a night of
streaming ingest left nothing a next-morning batch probe could see.

This module closes the gap: the PERSISTENT INDEX *is* the streaming
state.  Each micro-batch runs the same three-tier admission
(quality gate -> exact-content tier -> banded MinHash tier) as a
``foreachBatch`` body whose reference state is the persistent base plus
the delta legs written by EARLIER micro-batches; the batch's retained
rows are published as a new bucketed delta leg
(:func:`plans.gram_index.append_index_delta`, batch-scaled write, base
never rewritten), so when the stream drains, the on-disk index holds
exactly the state one batch append of the same docs would have written
-- and the next morning's batch probe serves base ∪ stream-written
deltas with the standard zero-Exchange-per-leg joins.

Unified state layout: ONE index kind holds both dedup tiers.  The exact
tier is folded into the band space as the reserved band ``-1`` with
``bkey = md5(trim(text))`` and an effective cap of 1 (one exemplar per
content hash); MinHash bands ``0..N_BANDS-1`` keep the first-``cap``
retention discipline.  Retention matches the in-memory stateful op
(streaming/neardup.py::admission_fold) exactly: a quality-passing
doc is retained in a bucket iff fewer than ``cap_eff`` docs were
retained there before it (across the base, earlier deltas, and earlier
rows of the same batch, in arrival order), and every arriving doc emits
one collision record per already-retained exemplar in its bucket.

Arrival-order contract (same as the in-memory op's batch twin): files
feed the stream in mtime order and doc_ids increase across batches, so
"arrival order" == doc_id order and the one-shot batch twin is
``row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id)``.

100 TB posture: per micro-batch, the only corpus-scaled artifacts are
bucketed SCANS (base + K delta legs, K bounded by the compact-at-K
policy -- :func:`plans.gram_index.compact_when_due` runs in the same
ingest loop, sequencing appends and compaction as the delta-append
docstring requires).  Probe joins shuffle only the batch's bands into
the shared bucketing (one probe-side Exchange per leg), existing-count
aggregation and record sinks are collision-scaled, and the delta write
is batch-scaled.  Nothing re-reads or re-shuffles the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.operators.dedup import per_row_band_rows
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.streaming.curation import (
    _QUALITY_PASS_SQL,
    quality_keep_col,
)
from etl_rf_matrix_controller_spark.streaming.neardup import (
    NEARDUP_DF_CAP,
    _bands_union_sql,
    _mh_sql,
)

EXACT_BAND = -1  # reserved band id for the exact-content tier


# Bucket count for the admission index, right-sized to its corpus (the
# CLAUDE.md rule: buckets follow corpus scale).  The admission base is
# ~2.5 band rows per doc, far below the gram indexes' ~250x fan-out, so
# the shared 32-bucket default would spread a tiny table across 4x the
# files and 4x the tasks on every probe join; at 100 TB the operator
# sizes this up with the corpus (it parameterizes the whole path).
ADMBAND_N_BUCKETS = 8


def _release(frames: list[DataFrame]) -> None:
    """Free each frame's blocks.  ``unpersist()`` reaches only the cache
    manager; a localCheckpoint's blocks belong to the RDD under its
    LogicalRDD plan, so that RDD is unpersisted directly.  Call only
    once nothing reads the frames again."""
    for df in frames:
        df.unpersist()
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def admission_rows(passing: DataFrame, width: int | None = None) -> DataFrame:
    """(doc_id, band, bkey) state rows for quality-PASSING docs: the
    MinHash bands plus the exact tier as reserved band -1 keyed by the
    full content hash.  Every caller feeds a frame already behind a
    width-barrier cache (one_shot_retained / the ingest loop's flagged
    batch), so the band fan-out skips its own repartition -- one less
    Exchange per micro-batch (round 11, guide §2.4)."""
    bands = per_row_band_rows(passing, width=width, rebalance=False)
    exact = passing.select(
        "doc_id",
        F.lit(EXACT_BAND).alias("band"),
        F.md5(F.trim("text")).alias("bkey"),
    )
    return bands.unionByName(exact)


def cap_eff_col(cap: int) -> F.Column:
    """Effective per-bucket retention cap: 1 exemplar for the exact
    tier (band -1), ``cap`` for MinHash bands."""
    return F.when(F.col("band") == EXACT_BAND, F.lit(1)).otherwise(
        F.lit(cap)
    )


def one_shot_retained(
    docs: DataFrame, cap: int, caches: list[DataFrame] | None = None
) -> DataFrame:
    """The batch twin of the cumulative streaming retention: first
    ``cap_eff`` quality-passing docs per bucket in doc_id (== arrival)
    order.  Building the index base from this over the initial corpus
    makes the persistent state IDENTICAL to what the in-memory stateful
    op would hold after ingesting the corpus.

    The cache barrier below is load-bearing twice over.  Parallelism:
    the quality gate's repetition rule is an O(len^2) per-doc 8-gram
    distinct, and Catalyst pushes the filter through any repartition
    into the scan stage -- which for a single-file table is ONE task;
    a cached multi-partition frame is pushdown-proof (the predicate
    evaluates above the InMemoryRelation, at full width).  Single
    evaluation: admission_rows fans ``passing`` into TWO union
    branches, so caching the row WITH the computed q_ok flag makes the
    gate run once per doc instead of once per branch.  Unlike
    localCheckpoint -- which in Spark 4 materializes at CALL time even
    with eager=False -- a cache costs zero extra jobs (it materializes
    inside the first consuming job) and keeps stats.

    The cache handle is appended to ``caches`` when given (round-9
    ADVICE: callers unpersist after the consuming action instead of
    leaking executor cache for the session)."""
    flagged = (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .withColumn("q_ok", quality_keep_col())
        .cache()
    )
    if caches is not None:
        caches.append(flagged)
    passing = flagged.filter(F.col("q_ok")).select("doc_id", "text")
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    return (
        admission_rows(passing)
        # land the retention window directly on the index bucketing:
        # the publish's repartition(N, band, bkey) then realigns nothing
        .repartition(ADMBAND_N_BUCKETS, "band", "bkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap_eff_col(cap))
        .select("doc_id", "band", "bkey")
    )


def admission_index_base(
    spark: SparkSession,
    sf_dir: str,
    *,
    kind: str,
    version: str,
    cap: int,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """The persistent admission index base: capped retention over the
    initial corpus (documents by default), bucketed on (band, bkey) like
    every band-index leg -- write-once via ensure_bucketed_index."""
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        ensure_bucketed_index,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    build_caches: list[DataFrame] = []

    def build(s: SparkSession, d: str) -> DataFrame:
        docs = (
            corpus
            if corpus is not None
            else load_table(s, d, "documents").select("doc_id", "text")
        )
        return one_shot_retained(docs, cap, caches=build_caches)

    try:
        return ensure_bucketed_index(
            spark, sf_dir, kind, build, ["band", "bkey"], version=version,
            n_buckets=ADMBAND_N_BUCKETS,
        )
    finally:
        # the publish inside ensure_bucketed_index materialized the
        # build (when one ran); the width-barrier cache has served its
        # purpose -- release it instead of leaking for the session
        for df in build_caches:
            df.unpersist()


def _earlier_delta_legs(
    spark: SparkSession, sf_dir: str, kind: str, version: str, batch_id: int
) -> list[DataFrame]:
    """Published delta legs written by micro-batches EARLIER than
    ``batch_id`` in this stream's namespace (``__ds<id>`` suffix, ids
    zero-padded so lexicographic == numeric order).  Restricting the
    probe to earlier legs keeps a re-run of the same stream
    deterministic: batch 0 always probes the base alone even when its
    own (idempotently re-registered) delta already exists on disk."""
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        _base_table_name,
        _delta_locs,
        _register_ext_table,
        _serving_loc,
        index_root,
    )

    logical = _base_table_name(
        sf_dir, kind, version, ADMBAND_N_BUCKETS, "documents"
    )
    serving = _serving_loc(os.path.join(index_root(), logical))
    out: list[DataFrame] = []
    for loc in _delta_locs(serving):
        suffix = os.path.basename(loc).rsplit("__d", 1)[1]
        if suffix.startswith("s") and suffix < f"s{batch_id:03d}":
            out.append(
                _register_ext_table(spark, os.path.basename(loc), loc)
            )
    return out


def probe_and_retain(
    bands: DataFrame,
    legs: list[DataFrame],
    cap: int,
    caches: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's admission against the persistent legs.

    Returns ``(retained, records)``:
      * ``retained`` -- the batch rows to publish as this batch's delta
        leg (first ``cap_eff - n_existing`` per bucket in doc_id order);
      * ``records`` -- collision records (kind x/m, exemplar doc_a,
        arriving doc_b): one per already-retained exemplar in the
        arriving doc's bucket, history legs and earlier-in-batch alike
        -- byte-identical semantics to the in-memory stateful op.

    Scale: each history probe joins the batch's bands against one
    bucketed leg; existing counts and the within-batch window are
    batch-/collision-scaled.  Multi-consumer intermediates are cached,
    not checkpointed (zero extra jobs -- Spark 4 materializes
    localCheckpoint at call time even with eager=False); handles are
    appended to ``caches`` so the caller can unpersist after the
    downstream sinks run.

    Partitioning contract (round 11, guide §2.4): callers hand ``bands``
    in ALREADY hash-partitioned on (band, bkey) with the legs' bucket
    count (and cached, so the InMemoryRelation advertises that
    HashPartitioning).  Every downstream operator then reuses that ONE
    Exchange: the per-leg probe joins (bucketed scans already satisfy
    the distribution), the retention window, the existing-count
    aggregation (its (band, bkey, doc_a) grouping is clustered by the
    (band, bkey) partitioning), and the within-batch self-join all plan
    ZERO additional Exchange -- previously each was its own shuffle,
    and with AQE each shuffle is a separate stage-job whose fixed
    driver latency dominated the micro-batch (measured ~20 jobs/batch).
    """
    hits = None
    for leg in legs:
        h = (
            bands.alias("n")
            .hint("shuffle_hash")
            .join(
                leg.alias("i"),
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.bkey") == F.col("i.bkey")),
            )
            .select(
                F.col("n.band").alias("band"),
                F.col("n.bkey").alias("bkey"),
                F.col("i.doc_id").alias("doc_a"),
                F.col("n.doc_id").alias("doc_b"),
            )
        )
        hits = h if hits is None else hits.unionByName(h)

    if hits is None:
        existing = None
        hist_records = None
    else:
        # two consumers below; materializes once inside the first
        # consuming job
        hits = hits.cache()
        if caches is not None:
            caches.append(hits)
        existing = (
            hits.select("band", "bkey", "doc_a")
            .distinct()
            .groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("n_existing"))
        )
        hist_records = hits.select("band", "doc_a", "doc_b")

    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    ranked = bands.withColumn("rn", F.row_number().over(w))
    if existing is not None:
        # broadcast, deliberately: existing is collision-scaled (tiny),
        # and a broadcast left join preserves ranked's (band, bkey)
        # partitioning -- a shuffle-hash join would realign BOTH sides
        # to a common partition count, reshuffling ranked and undoing
        # the single-Exchange batch layout
        ranked = ranked.join(
            F.broadcast(existing), ["band", "bkey"], "left"
        ).withColumn("n_existing", F.coalesce("n_existing", F.lit(0)))
    else:
        ranked = ranked.withColumn("n_existing", F.lit(0))
    ranked = ranked.cache()  # two consumers: retained + the self-join
    if caches is not None:
        caches.append(ranked)

    retained = ranked.filter(
        F.col("rn") + F.col("n_existing") <= cap_eff_col(cap)
    ).select("doc_id", "band", "bkey")

    a, b = ranked.alias("a"), ranked.alias("b")
    within = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.col("a.rn") + F.col("a.n_existing")
            <= F.when(
                F.col("a.band") == EXACT_BAND, F.lit(1)
            ).otherwise(F.lit(cap))
        )
        .select(
            F.col("a.band").alias("band"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    records = within if hist_records is None else hist_records.unionByName(
        within
    )
    records = records.select(
        F.when(F.col("band") == EXACT_BAND, F.lit("x"))
        .otherwise(F.lit("m"))
        .alias("kind"),
        "doc_a",
        "doc_b",
    ).distinct()
    return retained, records


def stream_ingest_to_index(
    docs_stream: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    *,
    kind: str,
    version: str,
    cap: int,
    records_path: str,
    checkpoint_path: str,
    max_deltas: int | None = None,
    bands_sink: list[DataFrame] | None = None,
    batch_width: int | None = None,
    allow_protected: bool = False,
) -> None:
    """Drain a streaming (doc_id, text) frame through the unified
    admission: per micro-batch, quality-gate, probe the persistent base
    + earlier stream-written deltas, publish the batch's retained rows
    as a new delta leg (``batch_id = s<NNN>``), append collision +
    quality-reject records to ``records_path``, then apply the
    compact-at-K policy when ``max_deltas`` is set.  availableNow; runs
    to completion.  ``bands_sink``, if given, collects each batch's
    checkpointed (doc_id, band, bkey) frame so a post-drain audit can
    reuse the materialized bands instead of re-deriving them.
    ``batch_width`` right-sizes the per-batch task fan-out (defaults to
    the session's full parallelism, correct for production-size
    batches; small planted batches pass something smaller).

    ``allow_protected`` is forwarded to the compact-at-K policy
    (round-9 ADVICE): ``max_deltas`` over a kind in PROTECTED_KINDS
    (e.g. this module's own planted ``admband_ing`` scenario kind)
    would otherwise raise mid-stream inside foreachBatch, failing the
    whole drain.  Real corpora use unprotected kinds and never need it.

    Each batch's collision/quality records land in a batch-id-keyed
    partition dir (``batch=s<NNN>``, mode=overwrite), so a foreachBatch
    retry after a partial append rewrites its own partition instead of
    duplicating rows -- the records sink carries the same exactly-once
    contract as the idempotent delta publish (round-9 ADVICE)."""
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
        compact_when_due,
    )

    # build (or resolve) the base once up front so the first batch pays
    # no build latency inside the trigger
    admission_index_base(spark, sf_dir, kind=kind, version=version, cap=cap)

    # per-run cache and checkpoint handles (width barriers +
    # multi-consumer probe intermediates); released after the stream
    # drains.  Bands go to the caller's bands_sink instead when provided
    # -- the caller owns their lifetime (the audit reads them
    # post-drain).
    scratch: list[DataFrame] = []

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # re-resolve the serving base EVERY batch: a mid-stream
        # compact_when_due fold flips the manifest, and the next batch
        # must probe the new generation (which already contains the
        # folded deltas), not the retired one
        base = admission_index_base(
            spark, sf_dir, kind=kind, version=version, cap=cap
        )
        # pushdown-proof width barrier + single quality evaluation (see
        # one_shot_retained): the batch arrives as one file -> one
        # task, and the O(len^2) repetition rule must not run there --
        # nor once per admission_rows union branch.  The cache costs no
        # extra job (materializes inside the delta-write job, reused by
        # the records job).
        width = batch_width or spark.sparkContext.defaultParallelism
        # localCheckpoint, not cache (round 11): the quality expression
        # is a large tree and PySpark's eager analysis re-walks it on
        # every downstream op (~10 passes per batch across q_records /
        # passing / the band fan-out); truncating to a LogicalRDD costs
        # one batch-scaled job and removes all of them.  The width
        # barrier / pushdown-block role is unchanged.
        flagged = (
            batch_df.repartition(width)
            .withColumn("q_ok", quality_keep_col())
            .localCheckpoint()
        )
        scratch.append(flagged)
        q_records = flagged.filter(~F.col("q_ok")).select(
            F.lit("q").alias("kind"),
            F.lit(None).cast("long").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        passing = flagged.filter(F.col("q_ok")).select("doc_id", "text")
        # ONE Exchange into the index bucketing feeds the whole batch:
        # probe joins (bucketed legs), retention window, existing-count
        # agg, and the within-batch self-join all reuse this
        # HashPartitioning(band, bkey) -- see probe_and_retain's
        # partitioning contract (round 11).  localCheckpoint, NOT cache:
        # PySpark analyzes eagerly, so every downstream .join/.select
        # re-walked the quality-gate + banding lineage (~2 s of DRIVER
        # analyzer time per batch, measured); the checkpoint truncates
        # the plan to a LogicalRDD (preserving the partitioning) at the
        # cost of the one materialization job the cache paid anyway.
        bands = (
            admission_rows(passing, width=width)
            .repartition(ADMBAND_N_BUCKETS, "band", "bkey")
            .localCheckpoint()
        )
        if bands_sink is not None:
            bands_sink.append(bands)
        else:
            scratch.append(bands)
        legs = [base] + _earlier_delta_legs(
            spark, sf_dir, kind, version, batch_id
        )
        retained, records = probe_and_retain(
            bands, legs, cap, caches=scratch
        )
        append_index_delta(
            spark,
            sf_dir,
            kind,
            lambda s, d: retained,
            ["band", "bkey"],
            version=version,
            batch_id=f"s{batch_id:03d}",
            n_buckets=ADMBAND_N_BUCKETS,
        )
        records.unionByName(q_records).write.mode("overwrite").parquet(
            os.path.join(records_path, f"batch=s{batch_id:03d}")
        )
        if max_deltas is not None:
            compact_when_due(
                spark, sf_dir, kind, ["band", "bkey"], version=version,
                max_deltas=max_deltas, n_buckets=ADMBAND_N_BUCKETS,
                allow_protected=allow_protected,
            )

    # The drain runs under the session's confs.  AQE off with a
    # batch-width shuffle here cut stream_index_ingest_unification from
    # 63 jobs to 25 at sf0.1 but not its time (in-process median of 5,
    # local[4]: 9.58 s with that posture, 9.07 s without).
    q = (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _release(scratch)


# Three ingest nights with doc_ids increasing across nights (arrival
# order == doc_id order, the retention contract): ' zznew' near-dups
# (+4M per %10==3), reversed low-quality decoys (+5M per %10==4),
# verbatim exact copies (+6M per %10==6).
_INGEST_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000, text || ' zznew'
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 5000000, reverse(trim(text))
      FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 6000000, text
      FROM documents WHERE doc_id % 10 = 6
"""


def _ingest_nights(docs: DataFrame) -> list[DataFrame]:
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
    return [n1, n2, n3]


@declared(
    "stream_index_ingest_unification",
    oracle=f"""
    WITH corpus AS MATERIALIZED ({_INGEST_CORPUS_SQL}),
    pass AS MATERIALIZED ({_QUALITY_PASS_SQL}),
    toksets AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(txt) - 7, 1)),
               i -> substring(txt, CAST(i AS INT), 8))) AS toks
      FROM pass
    ),
    sig AS (SELECT doc_id, {{mh}} FROM toksets),
    bands AS MATERIALIZED (
      {{bands_union}}
      UNION ALL
      SELECT doc_id, -1 AS band, md5(txt) AS bkey FROM pass
    ),
    retained AS MATERIALIZED (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id)
                 AS rn
        FROM bands
      ) WHERE rn <= CASE WHEN band = -1 THEN 1 ELSE {{cap}} END
    ),
    recs AS MATERIALIZED (
      SELECT DISTINCT
             CASE WHEN a.band = -1 THEN 'x' ELSE 'm' END AS kind,
             a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM retained a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
      WHERE b.doc_id >= 4000000
    ),
    nights(night) AS (VALUES (1), (2), (3)),
    leg_stats AS (
      SELECT CAST(floor(doc_id / 1000000) - 3 AS INT) AS night,
             CAST(count(*) AS BIGINT) AS n_band_rows,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN band = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_rows
      FROM retained WHERE doc_id >= 4000000 GROUP BY 1
    ),
    rec_stats AS (
      SELECT CAST(floor(doc_b / 1000000) - 3 AS INT) AS night,
             CAST(sum(CASE WHEN kind = 'x' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_x_records,
             CAST(sum(CASE WHEN kind = 'm' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_m_records
      FROM recs GROUP BY 1
    ),
    q_stats AS (
      SELECT CAST(floor(doc_id / 1000000) - 3 AS INT) AS night,
             CAST(count(*) AS BIGINT) AS n_q_rejected
      FROM corpus
      WHERE doc_id >= 4000000
        AND doc_id NOT IN (SELECT doc_id FROM pass)
      GROUP BY 1
    )
    SELECT n.night AS night,
           CAST(COALESCE(l.n_band_rows, 0) AS BIGINT) AS n_band_rows,
           CAST(COALESCE(l.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(l.n_exact_rows, 0) AS BIGINT) AS n_exact_rows,
           CAST(COALESCE(q.n_q_rejected, 0) AS BIGINT) AS n_q_rejected,
           CAST(COALESCE(r.n_x_records, 0) AS BIGINT) AS n_x_records,
           CAST(COALESCE(r.n_m_records, 0) AS BIGINT) AS n_m_records,
           TRUE AS served_eq_recompute
    FROM nights n
    LEFT JOIN leg_stats l ON l.night = n.night
    LEFT JOIN rec_stats r ON r.night = n.night
    LEFT JOIN q_stats q ON q.night = n.night
    ORDER BY n.night
    """.format(
        mh=_mh_sql(), bands_union=_bands_union_sql(), cap=NEARDUP_DF_CAP
    ),
)
def stream_index_ingest_unification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingest and the persistent index UNIFIED (round-9
    verdict task #2): three planted ingest nights stream through
    :func:`stream_ingest_to_index` as real micro-batches
    (maxFilesPerTrigger=1), each batch's retained rows published as a
    bucketed delta leg of the persistent ``admband`` admission index
    via foreachBatch -- so the on-disk state a next-morning batch probe
    serves is EXACTLY what one batch append of the same docs would have
    written.  The result reports, per night, the delta leg's stats
    (band rows, docs, exact-tier rows), the quality rejects, and the
    collision records (x = exact-content, m = MinHash band), plus
    `served_eq_recompute`: an in-result audit that base ∪ all
    stream-written deltas equals the one-shot retention twin computed
    from scratch over corpus ∪ nights.

    Idempotent across runs: delta publishes are atomic and keyed by
    batch id (a re-run re-registers instead of re-writing), batch k
    probes only legs with id < k, and the records sink is per-run.
    The scenario runs under the DEDICATED planted kind ``admband_ing``
    (round-10, in PROTECTED_KINDS): its planted deltas can never be
    folded by a stray compaction, and no shared production kind carries
    planted state.

    100 TB posture: the streaming state IS the bucketed index -- no
    applyInPandasWithState shadow copy; per batch, only the batch's
    bands shuffle (one probe-side Exchange per leg), the delta write is
    batch-scaled, and the morning probe is the standard
    zero-Exchange-per-leg bucketed join.

    The staging files, stream source, checkpoint and records sink live
    in one temporary directory, removed before the call returns; the
    returned frame reads none of them.
    """
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="spark_graft_ingest_")
    try:
        return _ingest_unification(spark, sf_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _ingest_unification(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        index_delta_frames,
    )
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    kind, version, cap = "admband_ing", "v1", NEARDUP_DF_CAP
    # no width barrier needed here: the staging write only applies the
    # cheap night transforms (the quality gate + banding run inside the
    # stream's batches behind their own cache barriers)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nights = _ingest_nights(docs)

    src = os.path.join(tmp, "stream")
    os.makedirs(src)
    stamp = 1700000000
    # ONE partitioned staging write for all three nights (each night's
    # rows hash to a single task, so each night dir holds one file --
    # load-bearing: maxFilesPerTrigger=1 maps files to nights)
    tagged = None
    for i, night in enumerate(nights):
        t = night.withColumn("night", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    staging = os.path.join(tmp, "stage")
    tagged.repartition(3, "night").write.partitionBy("night").parquet(
        staging
    )
    for i in range(len(nights)):
        night_dir = os.path.join(staging, f"night={i}")
        part = next(
            f for f in os.listdir(night_dir) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"night_{i}.parquet")
        os.rename(os.path.join(night_dir, part), dst)
        os.utime(dst, (stamp + i * 100, stamp + i * 100))

    records_path = os.path.join(tmp, "records")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_bands: list[DataFrame] = []
    stream_ingest_to_index(
        stream,
        spark,
        sf_dir,
        kind=kind,
        version=version,
        cap=cap,
        records_path=records_path,
        checkpoint_path=os.path.join(tmp, "ckpt"),
        bands_sink=stream_bands,
        batch_width=ADMBAND_N_BUCKETS,
    )

    base = admission_index_base(
        spark, sf_dir, kind=kind, version=version, cap=cap
    )
    legs = index_delta_frames(
        spark, sf_dir, kind, version=version, n_buckets=ADMBAND_N_BUCKETS
    )

    # in-result audit, BASE-ANCHORED: the union of the stream-written
    # delta legs must equal ONE probe_and_retain of all nights' bands
    # against the already-materialized base (the batch-append twin).
    # Within a (band, bkey) bucket, retention is a doc_id-order prefix,
    # so the one-shot window over all nights ≡ the sequential per-batch
    # windows + earlier-delta counts.  The band VALUES are reused from
    # the drain's own materialized checkpoints (banding is a
    # deterministic per-row function of text -- what the audit must
    # re-derive independently is the RETENTION/SEQUENCING, which
    # probe_and_retain recomputes here in one shot vs the base alone).
    # Rows are unique by (doc_id, band, bkey) on both sides, so set
    # equality == (|deltas| == |twin| == |deltas ∩ twin|).
    served = None
    for leg in legs:
        served = leg if served is None else served.unionByName(leg)
    night_bands = stream_bands[0]
    for b in stream_bands[1:]:
        night_bands = night_bands.unionByName(b)
    # the union of the per-batch cached bands erases their partitioning;
    # restore it with ONE Exchange so the twin probe runs the same
    # single-Exchange layout as the batches (round 11)
    audit_caches: list[DataFrame] = []
    night_bands = night_bands.repartition(
        ADMBAND_N_BUCKETS, "band", "bkey"
    ).cache()
    audit_caches.append(night_bands)
    twin, _ = probe_and_retain(night_bands, [base], cap, caches=audit_caches)
    twin = twin.cache()
    audit_caches.append(twin)
    both = (
        served.alias("s")
        .hint("shuffle_hash")
        .join(
            twin.alias("t"),
            (F.col("s.band") == F.col("t.band"))
            & (F.col("s.bkey") == F.col("t.bkey"))
            & (F.col("s.doc_id") == F.col("t.doc_id")),
        )
    )
    # the three scalar counts in ONE job (tagged union of aggregates)
    cnt = F.count(F.lit(1)).alias("c")
    cnts = {
        r["k"]: r["c"]
        for r in served.agg(cnt).withColumn("k", F.lit("served"))
        .unionByName(twin.agg(cnt).withColumn("k", F.lit("twin")))
        .unionByName(both.agg(cnt).withColumn("k", F.lit("both")))
        .collect()
    }
    audit = bool(cnts["served"] == cnts["twin"] == cnts["both"])
    _release(audit_caches + stream_bands)

    # ONE tagged aggregation over all legs (round 11): the former
    # union-of-3-agg-branches plan ran one agg subtree per leg (3+
    # stage-jobs); tagging rows with their night and grouping once is
    # the same integers in a single aggregation.
    tagged_legs = None
    for i, leg in enumerate(legs):
        t = leg.select(
            F.lit(i + 1).cast("int").alias("night"), "doc_id", "band"
        )
        tagged_legs = (
            t if tagged_legs is None else tagged_legs.unionByName(t)
        )
    leg_stats = tagged_legs.groupBy("night").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_band_rows"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("band") == EXACT_BAND, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_rows"),
    )

    rec = spark.read.parquet(records_path)
    night_of = lambda c: (F.floor(F.col(c) / 1000000) - 3).cast("int")  # noqa: E731
    # x/m/q counted in ONE grouped pass over the records sink (round 11;
    # was two aggregations + two broadcast joins): all three kinds group
    # by the same night_of(doc_b), so conditional sums fuse them.
    rec_stats = (
        rec.withColumn("night", night_of("doc_b"))
        .groupBy("night")
        .agg(
            F.sum(F.when(F.col("kind") == "x", 1).otherwise(0))
            .cast("bigint")
            .alias("n_x_records"),
            F.sum(F.when(F.col("kind") == "m", 1).otherwise(0))
            .cast("bigint")
            .alias("n_m_records"),
            F.sum(F.when(F.col("kind") == "q", 1).otherwise(0))
            .cast("bigint")
            .alias("n_q_rejected"),
        )
    )
    # the records sink is removed on return: read its (at most 3) rows now
    rec_stats = spark.createDataFrame(rec_stats.collect(), rec_stats.schema)
    return (
        leg_stats.join(F.broadcast(rec_stats), "night", "left")
        .select(
            "night",
            "n_band_rows",
            "n_docs",
            "n_exact_rows",
            F.coalesce("n_q_rejected", F.lit(0))
            .cast("bigint")
            .alias("n_q_rejected"),
            F.coalesce("n_x_records", F.lit(0))
            .cast("bigint")
            .alias("n_x_records"),
            F.coalesce("n_m_records", F.lit(0))
            .cast("bigint")
            .alias("n_m_records"),
            F.lit(audit).alias("served_eq_recompute"),
        )
        .orderBy("night")
    )
