"""Streaming near-duplicate admission control: the production ingest tier.

Exact-dup streaming already exists (dropDuplicatesWithinWatermark); this
module adds the NEAR-dup tier: MinHash-banded LSH admission as a real
Structured Streaming operator.  Reference: the incremental batch form is
operators/dedup.py::incremental_near_dup_check (band index probed by the
nightly batch); here the band index IS keyed streaming state, so admission
runs continuously instead of nightly.

Design (scale story first):
  * Signatures are computed PER ROW with array expressions -- no streaming
    aggregation, no shuffle before the keyed state op.  A document's
    MinHash is array_min over its (distinct-gram, permutation) transform,
    identical values to the batch groupBy(doc).min spelling.
  * The stream is keyed by ``m|<band>|<bkey>`` bucket keys, sharded by
    streaming/keyed_state.py; the admission fold (shared with
    curation.py) holds, per band bucket, the FIRST ``cap`` arrival
    doc_ids (the df-cap discipline from winnow_overlap_pairs): state is
    bounded at n_bucket_keys x cap ids at ANY throughput, and a viral
    boilerplate bucket degrades gracefully (later members still PROBE
    and get flagged against the first ``cap`` exemplars; they just stop
    growing the index).
  * Candidate pairs stream out in update mode; the exact-Jaccard
    verification is a batch join against the (tiny, candidate-scaled)
    pair set -- the same two-tier LSH/verify split as the batch family.

batch == stream by construction: the retained set per bucket is "first
``cap`` docs in arrival order", which the batch twin spells as
row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= cap (the
declared query feeds a single ordered source, so arrival order == doc_id
order).  Pinned across >= 3 real micro-batches in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_rf_matrix_controller_spark.operators.dedup import (
    BAND_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    N_BANDS,
    doc_tokset_col,
    per_row_band_rows,
)
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table
from etl_rf_matrix_controller_spark.streaming.keyed_state import (
    apply_keyed_state,
    per_entity,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    run_stream_to_memory,
)

# First-`cap` docs retained per (band, bkey): the near-dup ingest df-cap.
NEARDUP_DF_CAP = 50

VERDICT_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)
# Per bucket key: its retained (first-arrival) doc_ids.
RETAINED_SCHEMA = StructType(
    [StructField("retained", ArrayType(LongType()))]
)


def admission_fold(cap: int):
    """The IN-MEMORY admission index over bucket keys, shared by this
    module's band index and streaming/curation.py's composed admission:
    right for a long-lived low-latency stream whose state fits
    executors.  Its persistent twin is streaming/ingest.py, where the
    bucketed on-disk index IS the state (same tiers, same retention,
    pinned equal by tests/test_ingest_unification.py).  Keys
    ``m|...`` (near tier) retain their first ``cap`` arrivals, ``x|...``
    (exact tier) one; each arrival emits a (kind, exemplar, doc) record
    per doc already retained in its bucket.  ``q|<doc_id>`` keys are
    quality rejections: one ("q", None, doc) record each, and no state.
    Rows arrive in doc_id order per bucket (the batch twin's ORDER BY
    doc_id contract)."""

    def step(skey, prev, rows):
        docs = rows["doc_id"].tolist()
        kind = skey[0]
        if kind == "q":
            return None, [("q", None, doc) for doc in docs]
        keep = 1 if kind == "x" else cap
        retained = prev[0] if prev else []
        out = []
        for doc in docs:
            out.extend((kind, a, doc) for a in retained)
            if len(retained) < keep:
                retained.append(doc)
        return (retained,), out

    return per_entity(step)


def stream_band_candidates(
    docs_stream: DataFrame,
    spark: SparkSession,
    cap: int,
    progress_holder: list | None = None,
) -> DataFrame:
    """Run the banded admission state op over a streaming (doc_id, text)
    frame to completion (availableNow); returns the DISTINCT candidate
    pair set as a batch frame (a pair colliding in both bands emits
    twice across band keys -- dedup is batch-side after the sink, which
    keeps the streaming query single-stateful-operator).  Pass
    ``progress_holder`` to receive the per-batch StreamingQueryProgress
    dicts (the state-bound assertion reads numRowsTotal from them)."""
    skeys = per_row_band_rows(docs_stream).select(
        "doc_id",
        F.concat_ws(
            "|", F.lit("m"), F.col("band").cast("string"), "bkey"
        ).alias("skey"),
    )
    records = apply_keyed_state(
        skeys, "skey", ("doc_id",), admission_fold(cap),
        VERDICT_SCHEMA, RETAINED_SCHEMA,
    )
    return (
        run_stream_to_memory(records, spark, "update", progress_holder)
        .filter(F.col("kind") == "m")
        .select("doc_a", "doc_b")
        .distinct()
    )


def batch_band_candidates(docs: DataFrame, cap: int) -> DataFrame:
    """Batch twin of the streaming admission: first-``cap``-per-bucket
    retained set via row_number, candidates = retained x later arrivals.
    Used by the stream==batch pytest across real micro-batches."""
    from pyspark.sql.window import Window

    bands = per_row_band_rows(docs).localCheckpoint(eager=False)
    w = Window.partitionBy("band", "bkey").orderBy("doc_id")
    retained = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    a, b = retained.alias("a"), bands.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _mh_sql() -> str:
    fp = "(('0x' || substring(md5(g), 1, 8))::BIGINT)"
    cols = ", ".join(
        f"CAST(list_min(list_transform(toks, g -> ({a} * {fp} + {b}) "
        f"% {MINHASH_PRIME})) AS BIGINT) AS mh{j}"
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    return cols


def _bands_union_sql() -> str:
    selects = []
    for band in range(N_BANDS):
        lo = BAND_ROWS * band
        key = " || '_' || ".join(
            f"CAST(mh{j} AS VARCHAR)" for j in range(lo, lo + BAND_ROWS)
        )
        selects.append(f"SELECT doc_id, {band} AS band, {key} AS bkey FROM sig")
    return "\n      UNION ALL\n      ".join(selects)


_NEARDUP_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000, text || ' zznew'
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 5000000, reverse(trim(text))
      FROM documents WHERE doc_id % 10 = 4
"""


@declared(
    "stream_near_dup_admission",
    oracle=f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    toksets AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(trim(text)) - 7, 1)),
               i -> substring(trim(text), CAST(i AS INT), 8))) AS toks
      FROM corpus
    ),
    sig AS (SELECT doc_id, {_mh_sql()} FROM toksets),
    bands AS MATERIALIZED (
      {_bands_union_sql()}
    ),
    retained AS (
      SELECT doc_id, band, bkey,
             row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id)
               AS rn
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM retained a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
      WHERE a.rn <= {NEARDUP_DF_CAP}
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(ta.toks, tb.toks)) * 1.0
             / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
    FROM cand c
    JOIN toksets ta ON ta.doc_id = c.doc_a
    JOIN toksets tb ON tb.doc_id = c.doc_b
    WHERE len(list_intersect(ta.toks, tb.toks)) * 1.0
          / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.6
    """,
)
def stream_near_dup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup admission control as a STREAM: documents flow through the
    per-row band computation into the keyed (band, bkey) state op, which
    flags each arrival against the first-{NEARDUP_DF_CAP} retained
    exemplars of its buckets; flagged candidates are then
    exact-Jaccard-verified batch-side (candidate-scaled).  The corpus
    synthesizes one near-dup (+4M, ' zznew') per doc_id%10==3 and one
    scrambled decoy (+5M, reversed) per %10==4 -- the same ingest shapes
    incremental_near_dup_check certifies nightly, now admitted
    continuously.

    100 TB posture: state is bounded at n_bucket_keys x cap doc_ids
    (bucket keys are hashes -- uniform), signatures need zero shuffle
    (per-row array fold), and verification touches only flagged pairs.
    Stream == batch pinned across >= 3 real micro-batches (including a
    hot bucket past the cap) in tests/test_streaming.py.
    """
    batch_docs = load_table(spark, sf_dir, "documents")
    variants = F.filter(
        F.array(
            F.struct(F.col("doc_id"), F.col("text")),
            F.when(
                F.col("doc_id") % 10 == 3,
                F.struct(
                    (F.col("doc_id") + 4000000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zznew")).alias("text"),
                ),
            ),
            F.when(
                F.col("doc_id") % 10 == 4,
                F.struct(
                    (F.col("doc_id") + 5000000).alias("doc_id"),
                    F.reverse(F.trim("text")).alias("text"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )

    def fan_out(docs: DataFrame) -> DataFrame:
        return docs.select(F.explode(variants).alias("r")).select("r.*")

    stream = fan_out(
        spark.readStream.schema(batch_docs.schema).parquet(
            sf_dir, pathGlobFilter="documents.parquet"
        )
    )
    cand = stream_band_candidates(stream, spark, NEARDUP_DF_CAP)
    # batch-side verification over the candidate-scaled pair set: only
    # docs that appear in a candidate pair need token sets, so semi-join
    # the fan-out down to the candidate ids (collision-scaled,
    # broadcastable) BEFORE the O(len) shingling fan-out (rebalanced
    # before the per-row expansion, same rule as the stream)
    pair_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toksets = (
        fan_out(batch_docs)
        .join(F.broadcast(pair_ids), "doc_id", "left_semi")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", doc_tokset_col().alias("toks"))
        .localCheckpoint(eager=False)
    )
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    jacc = F.size(
        F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))
    ) / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    return (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .filter(jacc >= 0.6)
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
    )
