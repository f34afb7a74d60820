"""Streaming curation admission: the composed production ingest tier.

Round 7 certified each admission tier alone -- exact-dup streaming
(dropDuplicatesWithinWatermark twins), banded near-dup admission
(neardup.py), and the batch quality gate (gopher rules).  This module
COMPOSES them into ONE streaming query, the shape a production ingest
pipeline actually runs: every arriving document is (1) quality-gated,
(2) checked against an exact-content index, (3) checked against the
banded MinHash index, with per-stage admitted/rejected accounting.

Design (single stateful operator, one pass):
  * Quality rules are pure per-row expressions -- evaluated inline, no
    state.  Rejected docs ride the SAME keyed-state path as accounting
    rows (skey ``q|<doc_id>``) so the sink carries one verdict stream;
    the state op emits them without touching any index (zero state
    growth from rejects).
  * The exact tier IS a band: skey ``x|md5(trim(text))`` -- an
    exact-content collision is a bucket whose key is the full content
    hash, retaining ONE exemplar (dedup-exact semantics).  The near
    tier's minhash bands use skey ``m|<band>|<bkey>`` with the
    first-NEARDUP_DF_CAP retention discipline.  Both kinds of bucket
    live in the same admission index (neardup.py::admission_fold, sharded
    by streaming/keyed_state.py), so the whole
    pipeline is ONE stateful operator -- no multi-stateful-operator
    restrictions, no second shuffle.
  * Near candidates are exact-Jaccard-verified batch-side (candidate-
    scaled), then verdicts resolve with precedence quality > exact >
    near; admitted = the rest.

batch == stream by construction: retention per bucket is "first N in
arrival order" and availableNow feeds rows in doc_id order, so the
batch twin spells it row_number() OVER (PARTITION BY bucket ORDER BY
doc_id) -- pinned across >= 3 real micro-batches (planted exact dups,
near dups, and low-quality docs straddling batch boundaries) in
tests/test_streaming.py.

100 TB posture: quality is stateless; state is bounded at
(n_content_hashes x 1 + n_bucket_keys x cap) ids; the only pre-state
shuffle is the shard hash; sink volume is collision-record-scaled.
Reference semantics: etl_controller.py's ingest validation gate (frame
checksum -> dedup window -> accept) re-expressed as the three-tier
document admission a training-data ingest needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.curation import (
    RULE_MAX_MWL,
    RULE_MAX_REP_RATIO,
    RULE_MAX_WORDS,
    RULE_MIN_MWL,
    RULE_MIN_STOPWORD_FRAC,
    RULE_MIN_WORDS,
    _SW_SQL,
    STOPWORDS_GOPHER,
)
from etl_rf_matrix_controller_spark.operators.dedup import (
    BAND_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    N_BANDS,
    doc_tokset_col,
    token_fingerprint,
)
from etl_rf_matrix_controller_spark.plans.conventions import ratio4, ratio4_sql
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table
from etl_rf_matrix_controller_spark.streaming.keyed_state import (
    apply_keyed_state,
)
from etl_rf_matrix_controller_spark.streaming.neardup import (
    NEARDUP_DF_CAP,
    RETAINED_SCHEMA,
    VERDICT_SCHEMA,
    _bands_union_sql,
    _mh_sql,
    admission_fold,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    run_stream_to_memory,
)


def quality_keep_sql(toks: str | None = None) -> str:
    """The conjunctive gopher keep flag as ONE Spark-SQL expression
    string -- identical rule arithmetic to operators/curation.py::
    gopher_flags_df (integer-space ratio4, so the boolean is
    bit-identical on both engines and between the stream and its batch
    twin).  ``toks`` names an already-computed distinct-gram array
    column (doc_tokset_col) so a caller that needs the gram set anyway
    shingles each row once, not twice.  A string, not composed Columns
    (round 11): the old form built ~70 Column nodes -- one py4j
    round-trip each -- and the streaming ingest loop pays this builder
    once per micro-batch.  ratio4_sql is plain portable arithmetic
    (+, %, /), valid in Spark SQL unchanged; float rule bounds are
    spelled ``<x>e0`` so Spark parses DOUBLE, not DECIMAL."""
    t = "trim(text)"
    words = f"split({t}, ' ')"
    nw = f"CAST(size({words}) AS BIGINT)"
    nwc = f"CAST(length(regexp_replace({t}, ' ', '')) AS BIGINT)"
    sw = "array(" + ", ".join(f"'{s}'" for s in STOPWORDS_GOPHER) + ")"
    ns = (
        f"CAST(size(filter({words}, x -> array_contains({sw}, x)))"
        " AS BIGINT)"
    )
    tg = f"CAST(greatest(length({t}) - 7, 1) AS BIGINT)"
    ug_body = (
        toks
        if toks is not None
        else (
            f"array_distinct(transform(sequence(1, greatest(length({t})"
            f" - 7, 1)), i -> substring({t}, i, 8)))"
        )
    )
    ug = f"CAST(size({ug_body}) AS BIGINT)"
    return (
        f"({nw} BETWEEN {RULE_MIN_WORDS} AND {RULE_MAX_WORDS})"
        f" AND ({ratio4_sql(nwc, nw)}"
        f" BETWEEN {RULE_MIN_MWL}e0 AND {RULE_MAX_MWL}e0)"
        f" AND ({ratio4_sql(ns, nw)} >= {RULE_MIN_STOPWORD_FRAC}e0)"
        f" AND ({ratio4_sql(f'({tg} - {ug})', tg)}"
        f" <= {RULE_MAX_REP_RATIO}e0)"
    )


def quality_keep_col(toks: str | None = None) -> F.Column:
    """Column view of :func:`quality_keep_sql` (one py4j call)."""
    return F.expr(quality_keep_sql(toks))


def stream_admission_records(
    docs_stream: DataFrame,
    spark: SparkSession,
    cap: int,
    progress_holder: list | None = None,
) -> DataFrame:
    """Run the composed admission over a streaming (doc_id, text) frame
    to completion (availableNow); returns the DISTINCT verdict-record
    set (kind q/x/m, exemplar, doc) as a batch frame.

    One projection, one explode: the previous shape unioned three
    branches (m-band / x-hash / q-reject) over the same source, and a
    streaming union re-evaluates the whole per-row pipeline once per
    leg -- the gopher gram-distinct ran three times and the shingle set
    twice per passing doc (measured ~2x the micro-batch map time).  Now
    the tokset, the quality flag, and the MinHash signature are each
    computed once per row and the three skey families come out of a
    single conditional array explode, byte-identical to the union's
    rows."""
    def perm(a: int, b: int):
        # closure factory (the per_row_band_rows arity rule)
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_PRIME

    # rebalance BEFORE the per-row gram fan-out (the _gram_df rule)
    base = (
        docs_stream.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text", doc_tokset_col().alias("toks"))
        .withColumn("q_ok", quality_keep_col("toks"))
        .withColumn(
            "fps", F.transform("toks", token_fingerprint)
        )
    )
    mh = [
        F.array_min(F.transform("fps", perm(a, b)))
        .cast("bigint")
        .alias(f"mh{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    sig = base.select("doc_id", "text", "q_ok", *mh)
    band_keys = [
        F.concat_ws(
            "|",
            F.lit("m"),
            F.lit(str(band)),
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh{j}").cast("string")
                    for j in range(BAND_ROWS * band, BAND_ROWS * (band + 1))
                ],
            ),
        )
        for band in range(N_BANDS)
    ]
    xkey = F.concat_ws("|", F.lit("x"), F.md5(F.trim("text")))
    qkey = F.concat_ws("|", F.lit("q"), F.col("doc_id").cast("string"))
    skeys = F.when(F.col("q_ok"), F.array(xkey, *band_keys)).otherwise(
        F.array(qkey)
    )
    records = apply_keyed_state(
        sig.select("doc_id", F.explode(skeys).alias("skey")),
        "skey", ("doc_id",), admission_fold(cap),
        VERDICT_SCHEMA, RETAINED_SCHEMA,
    )
    return run_stream_to_memory(
        records, spark, "update", progress_holder
    ).distinct()


def resolve_admission_counts(
    records: DataFrame, corpus: DataFrame
) -> DataFrame:
    """Batch-side verdict resolution over the sink's collision records:
    exact-Jaccard-verify the near candidates (candidate-scaled), then
    fold to the one-row per-stage accounting with precedence
    quality > exact > near."""
    q_ids = (
        records.filter(F.col("kind") == "q").select(
            F.col("doc_b").alias("doc_id")
        )
    ).distinct()
    x_ids = (
        records.filter(F.col("kind") == "x").select(
            F.col("doc_b").alias("doc_id")
        )
    ).distinct()
    cand = records.filter(F.col("kind") == "m").select("doc_a", "doc_b")
    # Only docs that appear in a near-candidate pair need token sets:
    # semi-join the corpus down to the candidate ids (collision-scaled,
    # broadcastable) BEFORE the O(len) shingling fan-out, instead of
    # shingling every ingested doc to verify a few hundred pairs.
    pair_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toksets = (
        corpus.join(F.broadcast(pair_ids), "doc_id", "left_semi")
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", doc_tokset_col().alias("toks"))
        .localCheckpoint(eager=False)
    )
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    jacc = F.size(
        F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))
    ) / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    near_ids = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .filter(jacc >= 0.6)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .join(x_ids, "doc_id", "left_anti")  # precedence: exact > near
    )
    # one wide aggregation instead of four count() jobs: the marker sets
    # are mutually disjoint by construction (q docs never enter the
    # index; near excludes exact), reject-scaled, and broadcastable
    marked = (
        corpus.select("doc_id")
        .join(F.broadcast(q_ids.withColumn("is_q", F.lit(1))), "doc_id", "left")
        .join(F.broadcast(x_ids.withColumn("is_x", F.lit(1))), "doc_id", "left")
        .join(
            F.broadcast(near_ids.withColumn("is_m", F.lit(1))),
            "doc_id",
            "left",
        )
    )
    return marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ingested"),
        F.sum(F.coalesce("is_q", F.lit(0))).cast("bigint").alias(
            "n_quality_rejected"
        ),
        F.sum(F.coalesce("is_x", F.lit(0))).cast("bigint").alias(
            "n_exact_rejected"
        ),
        F.sum(F.coalesce("is_m", F.lit(0))).cast("bigint").alias(
            "n_near_rejected"
        ),
        (
            F.count(F.lit(1))
            - F.sum(F.coalesce("is_q", F.lit(0)))
            - F.sum(F.coalesce("is_x", F.lit(0)))
            - F.sum(F.coalesce("is_m", F.lit(0)))
        )
        .cast("bigint")
        .alias("n_admitted"),
    )


def batch_admission_records(docs: DataFrame, cap: int) -> DataFrame:
    """Batch twin of stream_admission_records: identical verdict-record
    set computed with windows (retention = first N per bucket by doc_id,
    the arrival-order contract).  Used by the stream==batch pytest."""
    from pyspark.sql.window import Window

    from etl_rf_matrix_controller_spark.streaming.neardup import (
        batch_band_candidates,
    )

    flagged = docs.withColumn("q_ok", quality_keep_col())
    passing = flagged.filter(F.col("q_ok")).select("doc_id", "text")
    qrec = (
        flagged.filter(~F.col("q_ok"))
        .select(
            F.lit("q").alias("kind"),
            F.lit(None).cast("long").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
    )
    hashed = passing.select("doc_id", F.md5(F.trim("text")).alias("h"))
    wx = Window.partitionBy("h").orderBy("doc_id")
    first = hashed.withColumn("rn", F.row_number().over(wx)).filter(
        F.col("rn") == 1
    )
    xrec = (
        hashed.alias("b")
        .join(
            first.alias("a"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.lit("x").alias("kind"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    mrec = batch_band_candidates(passing, cap).select(
        F.lit("m").alias("kind"), "doc_a", "doc_b"
    )
    return qrec.unionByName(xrec).unionByName(mrec).distinct()


def batch_admission_counts(docs: DataFrame, cap: int) -> DataFrame:
    """Batch twin of the full composed pipeline's accounting row."""
    return resolve_admission_counts(batch_admission_records(docs, cap), docs)


# The admission corpus plants all three reject classes on top of
# documents: a verbatim exact copy (+6M) per doc_id%10==6, a near-dup
# (+4M, ' zznew') per %10==3, and a reversed decoy (+5M) per %10==4
# (reversal destroys the stopwords, so decoys mostly reject at the
# quality tier -- the planted low-quality class).
_ADMIT_CORPUS_SQL = """
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

_QUALITY_PASS_SQL = f"""
      SELECT doc_id, trim(text) AS txt
      FROM (
        SELECT doc_id, text,
               string_split(trim(text), ' ') AS words,
               trim(text) AS t
        FROM corpus
      )
      WHERE len(words) BETWEEN {RULE_MIN_WORDS} AND {RULE_MAX_WORDS}
        AND {ratio4_sql("length(replace(t, ' ', ''))", "len(words)")}
            BETWEEN {RULE_MIN_MWL} AND {RULE_MAX_MWL}
        AND {ratio4_sql(f"len(list_filter(words, x -> list_contains({_SW_SQL}, x)))", "len(words)")}
            >= {RULE_MIN_STOPWORD_FRAC}
        AND {ratio4_sql("greatest(length(t) - 7, 1) - len(list_distinct(list_transform(generate_series(1, greatest(length(t) - 7, 1)), i -> substring(t, CAST(i AS INT), 8))))", "greatest(length(t) - 7, 1)")}
            <= {RULE_MAX_REP_RATIO}
"""


@declared(
    "stream_curation_admission",
    oracle=f"""
    WITH corpus AS MATERIALIZED ({_ADMIT_CORPUS_SQL}),
    pass AS MATERIALIZED ({_QUALITY_PASS_SQL}),
    exact_rej AS MATERIALIZED (
      SELECT DISTINCT b.doc_id
      FROM pass a JOIN pass b
        ON md5(a.txt) = md5(b.txt) AND a.doc_id < b.doc_id
    ),
    toksets AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(txt) - 7, 1)),
               i -> substring(txt, CAST(i AS INT), 8))) AS toks
      FROM pass
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
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM retained a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
      WHERE a.rn <= {NEARDUP_DF_CAP}
    ),
    near_rej AS (
      SELECT DISTINCT c.doc_b AS doc_id
      FROM cand c
      JOIN toksets ta ON ta.doc_id = c.doc_a
      JOIN toksets tb ON tb.doc_id = c.doc_b
      WHERE len(list_intersect(ta.toks, tb.toks)) * 1.0
            / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.6
        AND c.doc_b NOT IN (SELECT doc_id FROM exact_rej)
    ),
    counts AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_ingested,
        (SELECT CAST(count(*) AS BIGINT) FROM corpus)
          - (SELECT CAST(count(*) AS BIGINT) FROM pass)
          AS n_quality_rejected,
        (SELECT CAST(count(*) AS BIGINT) FROM exact_rej)
          AS n_exact_rejected,
        (SELECT CAST(count(*) AS BIGINT) FROM near_rej)
          AS n_near_rejected,
        (SELECT CAST(count(*) AS BIGINT) FROM pass)
          - (SELECT CAST(count(*) AS BIGINT) FROM exact_rej)
          - (SELECT CAST(count(*) AS BIGINT) FROM near_rej) AS n_admitted
    )
    SELECT * FROM counts
    """,
)
def stream_curation_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED streaming ingest pipeline: quality gate -> exact-
    content index -> banded near-dup index, one streaming query, one
    stateful operator, per-stage admitted/rejected accounting.  The
    corpus plants all three reject classes (verbatim copy +6M per
    %10==6, ' zznew' near-dup +4M per %10==3, reversed low-quality
    decoy +5M per %10==4).

    100 TB posture: see module docstring -- stateless quality, one
    shard-hash shuffle, bounded index state, candidate-scaled
    verification.  Stream == batch per-stage counts pinned across >= 3
    real micro-batches in tests/test_streaming.py.
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
            F.when(
                F.col("doc_id") % 10 == 6,
                F.struct(
                    (F.col("doc_id") + 6000000).alias("doc_id"),
                    F.col("text").alias("text"),
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
    records = stream_admission_records(stream, spark, NEARDUP_DF_CAP)
    return resolve_admission_counts(records, fan_out(batch_docs))
