"""Ranked retrieval over the corpus: tf-idf search, inverted postings,
and a bigram-LM fluency proxy.

Training-data pipelines need a search path (find documents matching a
probe query, inspect index health) and a cheap fluency signal (rank
documents by how well a corpus n-gram model predicts them) before any
GPU-side scoring.  All three are expressed as exact integer arithmetic so
the DuckDB oracle hash-matches (a float ``log`` idf would differ in the
last ulp across libm implementations; integer ppm scaling preserves the
ranking and is portable).

Reference basis: the reference has no search surface (SURVEY.md SS2.12);
these extend the SS2.11 text-pipeline mandate (nearest reference behavior:
the name-lookup probes in etl_controller.py:3293-3298).

Scale design: term statistics are vocabulary-bounded (broadcast dims);
per-doc scoring joins stay on the exploded token stream and collapse in
partial aggregation; posting arrays are rank-bounded BEFORE collect_list
so no unbounded array ever materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.plans.conventions import (
    SCALE,
    ratio4,
    ratio4_sql,
)
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table

# Fixed probe query for the retrieval operator (terms present in the
# testdata vocabulary at every SF).
QUERY_TERMS = ("spark", "hash", "window")

# BM25 per-term contribution, integer-exact (see bm25_retrieval_topk's
# docstring for the rational-form derivation); shared with the ranking
# evaluation op.
_BM25_CONTRIB_EXPR = (
    "(CAST((n_docs * 1000000) DIV df AS DECIMAL(38,0))"
    " * (220 * CAST(t_tokens AS DECIMAL(38,0)) * tf))"
    " DIV (100 * CAST(t_tokens AS DECIMAL(38,0)) * tf"
    " + 30 * CAST(t_tokens AS DECIMAL(38,0))"
    " + 90 * CAST(dl AS DECIMAL(38,0)) * n_docs)"
)
_QUERY_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

_TOK_SQL = """
      SELECT doc_id, t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
"""


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT rebalanced before the explode: the ~50x word fan-out is too
    # small to pay for a shuffle of the text column (measured 0.95 ->
    # 1.2 s at sf0.1); the _gram_df rule applies to ~650x gram fan-outs.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
    ).filter(F.col("token") != "")


# Builder version for the persistent postings index: bump when the
# tokenize/tf semantics change (the plans/gram_index.py contract).
POSTINGS_INDEX_VERSION = "1"


def postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent bucketed term postings: (token, doc_id, tf) written
    ONCE as ``bucketBy(N, token).sortBy(token, doc_id)`` -- the classic
    IR inverted file as a write-once artifact, built with the same
    machinery as the gram / winnow / band / ivfpq indexes
    (plans/gram_index.py: corpus fingerprint tag, staged atomic publish,
    cross-session re-registration).  Every retrieval query (tf-idf,
    BM25, fusion, agreement, index stats) consumes this table instead of
    re-tokenizing the corpus: a query-term probe is a pushed-down IN
    filter on the bucketed token scan -- at 100 TB the difference
    between a posting-list read and a full corpus pass per query."""
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        ensure_bucketed_index,
    )

    return ensure_bucketed_index(
        spark,
        sf_dir,
        "post",
        lambda s, d: _tok(s, d)
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf")),
        ["token"],
        version=POSTINGS_INDEX_VERSION,
        sort_cols=["token", "doc_id"],
        source_table="documents",
    )


def postings_batch_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized ingest batch's postings published as a DELTA leg
    of the persistent term-postings index (plans/gram_index.py round-8
    incremental maintenance): same bucketBy(N, token) layout as the
    base, batch-scaled bytes, atomic idempotent publish.  The base table
    is untouched -- existing retrieval consumers keep reading it alone;
    incremental consumers serve base ∪ delta.  Published under the
    DEDICATED planted kind ``post_ing`` (round-10) so the shared
    ``post`` base carries no planted deltas and stays compactable."""
    from etl_rf_matrix_controller_spark.operators.dedup import new_batch_docs
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
    )

    def _batch_postings(s: SparkSession, d: str) -> DataFrame:
        docs = new_batch_docs(
            load_table(s, d, "documents").select("doc_id", "text")
        )
        return (
            docs.select(
                "doc_id",
                F.explode(F.split(F.trim("text"), " ")).alias("token"),
            )
            .filter(F.col("token") != "")
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )

    return append_index_delta(
        spark,
        sf_dir,
        "post_ing",
        _batch_postings,
        ["token"],
        version=POSTINGS_INDEX_VERSION,
        batch_id="ing1",
        sort_cols=["token", "doc_id"],
        source_table="documents",
    )


@declared(
    "incremental_postings_append_check",
    oracle=f"""
    WITH docs_all AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id, text || ' zznew' AS text
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, reverse(trim(text)) AS text
      FROM documents WHERE doc_id % 10 = 4
    ),
    tok AS (
      SELECT doc_id, t.token
      FROM docs_all, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    )
    SELECT token,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df_total,
           CAST(count(*) AS BIGINT) AS tf_total,
           CAST(count(DISTINCT CASE WHEN doc_id >= 4000000 THEN doc_id END)
             AS BIGINT) AS df_delta,
           TRUE AS merge_eq_recompute
    FROM tok WHERE token IN ({_QUERY_SQL})
    GROUP BY token
    """,
)
def incremental_postings_append_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental index maintenance, certified in-result: the ingest
    batch's postings are APPENDED to the persistent term-postings index
    as a bucketed delta leg (batch-scaled write; base untouched), the
    probe serves base ∪ delta, and `merge_eq_recompute` audits that the
    served (df, tf) per query term equal a direct recompute over
    corpus ∪ batch -- append+probe ≡ rebuild+probe, the delta-leg
    contract of plans/gram_index.py.

    100 TB posture: the append writes only the batch's postings through
    the base's bucketing fn; the probe pushes its token filter into both
    bucketed scans (no corpus re-tokenize, no corpus-scaled Exchange --
    the only shuffles are the probe-scaled rollups); compaction folds
    deltas back to one file per bucket off the query path."""
    base = postings_index(spark, sf_dir)
    delta = postings_batch_delta(spark, sf_dir)
    served = (
        base.unionByName(delta)
        .filter(F.col("token").isin(*QUERY_TERMS))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df_total"),
            F.sum("tf").cast("bigint").alias("tf_total"),
            F.sum(
                F.when(F.col("doc_id") >= 4000000, F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("df_delta"),
        )
    )
    # corpus ∪ batch from ONE documents scan: each row fans out to its
    # batch variants (near-dup +4M for %10==3, reversed decoy +5M for
    # %10==4, per operators/dedup.py::new_batch_docs) inside the scan,
    # instead of three separate corpus reads.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_all = docs.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("text").alias("text"),
                    ),
                    F.when(
                        F.col("doc_id") % 10 == 3,
                        F.struct(
                            (F.col("doc_id") + 4000000).alias("doc_id"),
                            F.concat(
                                F.col("text"), F.lit(" zznew")
                            ).alias("text"),
                        ),
                    ),
                    F.when(
                        F.col("doc_id") % 10 == 4,
                        F.struct(
                            (F.col("doc_id") + 5000000).alias("doc_id"),
                            F.reverse(F.trim("text")).alias("text"),
                        ),
                    ),
                )
            )
        ).alias("d")
    ).select("d.doc_id", "d.text")
    recomputed = (
        docs_all.select(
            "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
        )
        .filter(
            (F.col("token") != "") & F.col("token").isin(*QUERY_TERMS)
        )
        .groupBy("token")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("r_df"),
            F.count(F.lit(1)).cast("bigint").alias("r_tf"),
        )
    )
    return served.join(F.broadcast(recomputed), "token").select(
        "token",
        "df_total",
        "tf_total",
        "df_delta",
        (
            (F.col("df_total") == F.col("r_df"))
            & (F.col("tf_total") == F.col("r_tf"))
        ).alias("merge_eq_recompute"),
    )


def _query_tf_df(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(tf, df) for the fixed probe query, served from the persistent
    postings index: tf rows come straight off the filtered bucketed scan
    ((token, doc_id) is unique there, so df is a plain row count per
    token).  Values byte-identical to the tokenize-per-query spelling
    (result_manifest pins every consumer)."""
    qp = postings_index(spark, sf_dir).filter(
        F.col("token").isin(*QUERY_TERMS)
    )
    tf = qp.select("doc_id", "token", "tf")
    df = qp.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return tf, df


@declared(
    "tfidf_retrieval_topk",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    qtok AS (SELECT * FROM tok WHERE token IN ({_QUERY_SQL})),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM qtok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtok GROUP BY token
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf * ((n.n_docs * 1000000) // df.df)) AS BIGINT)
               AS score_ppm
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score_ppm, rnk
    FROM (
      SELECT doc_id, score_ppm,
             CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
               AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
)
def tfidf_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval: top-10 documents for a fixed multi-term probe
    query under integer tf-idf (idf_ppm = N*1e6 DIV df).

    Plan: the token stream is filtered to the query terms BEFORE any
    shuffle (predicate on the exploded token, pushed below the tf
    aggregation), so the scored set is query-selectivity-sized, not
    corpus-sized.  df and N are vocabulary-/scalar-sized broadcast dims.
    The final top-10 is an unpartitioned window over the already
    aggregated per-doc scores -- at 100 TB you'd swap it for
    orderBy(...).limit(10) (TakeOrdered, no single-partition shuffle),
    kept as row_number here for the deterministic rnk column.
    """
    # Round 7: tf/df come off the PERSISTENT postings index (a pushed-
    # down IN probe of the bucketed token scan), not a per-query corpus
    # tokenize (values byte-identical; result_manifest pins it).
    tf, df = _query_tf_df(spark, sf_dir)
    n = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("tf")
                * F.expr("(n_docs * 1000000) DIV df")
            )
            .cast("bigint")
            .alias("score_ppm")
        )
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("doc_id", "score_ppm", "rnk")
    )


@declared(
    "inverted_postings",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    pair AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    stats AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS cf
      FROM pair GROUP BY token
    ),
    ranked AS (
      SELECT token, doc_id,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      FROM pair
    ),
    post AS (
      SELECT token, list_sort(list(doc_id)) AS postings_sample
      FROM ranked WHERE rn <= 16 GROUP BY token
    )
    SELECT s.token, s.df, s.cf, p.postings_sample
    FROM stats s JOIN post p ON p.token = s.token
    """,
)
def inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per token, document frequency, collection
    frequency, and the first 16 postings (doc_ids ascending).

    The posting array is BOUNDED before it exists: rank postings per
    token with row_number, filter rn <= 16, and only then collect_list.
    Collecting the full postings and slicing after would materialize a
    corpus-sized array per stop-token -- the classic OOM at 100 TB.  Both
    aggregations shuffle on token (vocabulary-bounded output); the final
    join of two vocabulary-sized sides is broadcastable.
    """
    # Round 7: the (token, doc_id, tf) pairs ARE the persistent postings
    # index -- this query now reports index stats from the index itself.
    pair = postings_index(spark, sf_dir)
    stats = pair.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").cast("bigint").alias("cf")
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    post = (
        pair.select("token", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 16)
        .groupBy("token")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings_sample"))
    )
    return stats.join(post, "token").select(
        "token", "df", "cf", "postings_sample"
    )


def _bigram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded bigram instances ("w1 w2" strings), one row per adjacent
    token pair occurrence.  Thin rows are rebalanced before the ~30x
    fan-out (small parquet = 1-3 input splits; same rule as _gram_df in
    dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), " ").alias("l")
    ).filter(F.size("l") >= 2)
    toks = toks.repartition(spark.sparkContext.defaultParallelism)
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("l", i), F.element_at("l", i + 1)
                ),
            )
        ).alias("bg"),
    )


_BG_SQL = """
      SELECT doc_id, b.bg
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(l) - 1),
                 i -> l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]) AS bgs
        FROM (
          SELECT doc_id, string_split(trim(text), ' ') AS l
          FROM documents WHERE len(string_split(trim(text), ' ')) >= 2
        ) toks
      ) bgd, unnest(bgs) AS b(bg)
"""


@declared(
    "bigram_fluency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS l
      FROM documents WHERE len(string_split(trim(text), ' ')) >= 2
    ),
    bg AS (
      SELECT doc_id, b.bg
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(l) - 1),
                 i -> l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]) AS bgs
        FROM toks
      ) bgd, unnest(bgs) AS b(bg)
    ),
    cbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bg),
    cpf AS (
      SELECT string_split(bg, ' ')[1] AS w1, CAST(count(*) AS BIGINT) AS cp
      FROM bg GROUP BY string_split(bg, ' ')[1]
    ),
    inst AS (
      SELECT bg.doc_id,
             CAST(((2 * cb * {SCALE} + cp)
                   - (2 * cb * {SCALE} + cp) % (2 * cp)) / (2 * cp)
               AS BIGINT) AS p4s
      FROM bg
      JOIN cbg ON cbg.bg = bg.bg
      JOIN cpf ON cpf.w1 = string_split(bg.bg, ' ')[1]
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           {ratio4_sql("sum(p4s)", f"count(*) * {SCALE}")} AS fluency4
    FROM inst GROUP BY doc_id
    """,
)
def bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency proxy: score each document by the mean corpus
    transition probability P(w2|w1) over its bigrams -- the log-prob-free
    analog of LM perplexity filtering (high mean transition probability =
    the corpus model predicts the document well).

    Per-bigram probability is rounded half-up to 4 decimals IN INTEGER
    SPACE (p4s = round(cb/cp * 1e4)), then averaged per doc with the same
    integer trick -- no float division until the final exact-by-
    construction emit, so both engines agree bit-for-bit.

    Plan: one token-stream scan builds the bigram instances; bigram and
    prefix count tables are vocabulary^2- / vocabulary-bounded broadcast
    dims (a 30k-word vocab makes cbg ~1e9 -- past broadcast there, the
    same plan falls back to a shuffle join on the uniform bigram key).
    Doc scores collapse in partial aggregation on doc_id.
    """
    # Three consumers of the bigram stream (pair counts, prefix counts,
    # the instance join) -- materialize the tokenization once instead of
    # re-exploding the corpus per consumer (same pattern as the dedup
    # gram-index checkpoints).
    bg = _bigram_df(spark, sf_dir).localCheckpoint(eager=False)
    cbg = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    cpf = bg.groupBy(w1.alias("w1")).agg(F.count(F.lit(1)).alias("cp"))
    p4s = F.expr(
        f"CAST(((2 * cb * {SCALE} + cp) - (2 * cb * {SCALE} + cp) % (2 * cp))"
        f" / (2 * cp) AS BIGINT)"
    )
    inst = (
        bg.join(F.broadcast(cbg), "bg")
        .join(F.broadcast(cpf), w1 == F.col("w1"))
        .select("doc_id", p4s.alias("p4s"))
    )
    return inst.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        ratio4(F.sum("p4s"), F.count(F.lit(1)) * SCALE).alias("fluency4"),
    )


@declared(
    "token_pmi_lift",
    oracle=f"""
    WITH bg AS ({_BG_SQL}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg),
    cbg AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bg
    ),
    c1 AS (
      SELECT string_split(bg, ' ')[1] AS w1, CAST(count(*) AS BIGINT) AS ca
      FROM bg GROUP BY string_split(bg, ' ')[1]
    ),
    c2 AS (
      SELECT string_split(bg, ' ')[2] AS w2, CAST(count(*) AS BIGINT) AS cc
      FROM bg GROUP BY string_split(bg, ' ')[2]
    )
    SELECT string_split(cbg.bg, ' ')[1] AS w1,
           string_split(cbg.bg, ' ')[2] AS w2,
           cb AS pair_count,
           {ratio4_sql("cb * t", "ca * cc")} AS lift4
    FROM cbg CROSS JOIN tot
    JOIN c1 ON c1.w1 = string_split(cbg.bg, ' ')[1]
    JOIN c2 ON c2.w2 = string_split(cbg.bg, ' ')[2]
    WHERE cb >= 5
    """,
)
def token_pmi_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation (phrase) mining: pointwise-mutual-information lift of
    adjacent token pairs -- observed pair rate over the rate expected if
    first and second positions were independent,
    lift = P(w1,w2) / (P(w1, .) * P(., w2)) = cb*T / (ca*cc).

    The exp-free rational form of PMI (same ranking as log-PMI; a float
    log diverges in the last ulp across libm implementations), rounded in
    integer space.  lift4 > 1 marks sticky phrases -- the standard
    pre-tokenizer phrase-merge signal.

    Plan: one bigram-stream scan feeds the pair, prefix, and suffix
    count tables; all three are vocabulary(^2)-bounded broadcast dims
    joined back onto the pair table (never onto the stream).  The
    support filter cb >= 5 runs before the joins, shrinking the scored
    set to frequent pairs only.
    """
    bg = _bigram_df(spark, sf_dir)
    bg = bg.localCheckpoint(eager=False)
    tot = bg.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    cbg = (
        bg.groupBy("bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
        .filter(F.col("cb") >= 5)
    )
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w2 = F.split(F.col("bg"), " ").getItem(1)
    c1 = bg.groupBy(w1.alias("w1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ca")
    )
    c2 = bg.groupBy(w2.alias("w2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    scored = (
        cbg.select(w1.alias("w1"), w2.alias("w2"), "cb")
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
    )
    return scored.select(
        "w1",
        "w2",
        F.col("cb").alias("pair_count"),
        ratio4(F.col("cb") * F.col("t"), F.col("ca") * F.col("cc")).alias(
            "lift4"
        ),
    )


@declared(
    "bm25_retrieval_topk",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    dl AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl
      FROM documents
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    qtok AS (SELECT * FROM tok WHERE token IN ({_QUERY_SQL})),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM qtok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtok GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(
               (((CAST(s.n_docs AS HUGEINT) * 1000000) // df.df)
                * (220 * CAST(s.t_tokens AS HUGEINT) * tf.tf))
               // (100 * CAST(s.t_tokens AS HUGEINT) * tf.tf
                   + 30 * CAST(s.t_tokens AS HUGEINT)
                   + 90 * CAST(dl.dl AS HUGEINT) * s.n_docs)
             ) AS BIGINT) AS score_ppm
      FROM tf
      JOIN df ON df.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN scal s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score_ppm, rnk
    FROM (
      SELECT doc_id, score_ppm,
             CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
               AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval under BM25 (k1=1.2, b=0.75), integer-exact.

    The rational form clears every denominator: with T = corpus tokens
    and N = docs, the per-term contribution

        idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    multiplied through by 100*T becomes

        idf_ppm * (220*T*tf) DIV (100*T*tf + 30*T + 90*dl*N)

    -- all-integer products and a single floor division performed
    identically by both engines (a float form would diverge in final
    ulps and flip ranks).  idf_ppm = N*1e6 DIV df as in
    tfidf_retrieval_topk.  Envelope: the contribution product
    idf_ppm(<=1e6*N for df=1) * 220*T*tf exceeds 2^63 well below
    1e9-token corpora for rare query terms, so the product runs in
    DECIMAL(38,0) on the Spark side and HUGEINT in the oracle -- same
    exact integers, 38-digit headroom, no silent wrap.

    Plan shape mirrors tfidf_retrieval_topk: the exploded token stream
    is filtered to query terms before any shuffle; df is a broadcast
    dim; doc lengths join the query-selectivity-sized tf frame via a
    broadcast of tf (never a corpus-wide shuffle of dl); the top-10 is a
    window over per-doc scores.  BM25's length normalization is the only
    addition -- one extra projection-only frame (dl), no new corpus pass
    over the exploded tokens.
    """
    # Round 7: tf/df served from the persistent postings index (see
    # tfidf_retrieval_topk); the rest of the plan is unchanged.
    tf, df = _query_tf_df(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # dl feeds both the per-doc join and the corpus scalars: checkpoint
    # the narrow (id, len) projection once so documents isn't re-scanned
    # per consumer (CLAUDE.md rule; the scan-ceiling plan test pins it).
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=True)
    scal = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_tokens"),
    )
    contrib = F.expr(_BM25_CONTRIB_EXPR)
    scored = (
        dl.join(F.broadcast(tf), "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(contrib).cast("bigint").alias("score_ppm"))
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("doc_id", "score_ppm", "rnk")
    )


@declared(
    "doc_top_terms",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY token
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf * ((n.n_docs * 1000000) // df.df) AS BIGINT)
               AS score_ppm
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
    )
    SELECT doc_id, token, score_ppm, rnk
    FROM (
      SELECT doc_id, token, score_ppm,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_ppm DESC, token)
               AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by integer tf-idf
    (idf_ppm = N*1e6 DIV df, the tfidf_retrieval_topk convention) --
    the doc-centric dual of query retrieval, used for tagging/faceting
    an ingested corpus.

    Plan: ONE tokenize+explode feeds tf and df (checkpointed); df is a
    vocabulary-sized broadcast dim; the top-3 window partitions by
    doc_id, so it scales with docs (hash-partitioned), never a global
    sort.  Integer scoring end to end -- the only per-doc state is the
    3-row window head.
    """
    # Round 7: (doc, token, tf) IS the persistent postings index; df is
    # a row count per token over it ((token, doc_id) unique there).
    tf = postings_index(spark, sf_dir)
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.expr("(n_docs * 1000000) DIV df"))
            .cast("bigint")
            .alias("score_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "score_ppm", "rnk")
    )


VOCAB_CUTOFFS = (100, 500, 2000, 10000)


@declared(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS f
      FROM tok GROUP BY token
    ),
    tot AS (SELECT CAST(sum(f) AS BIGINT) AS total FROM freq),
    ranked AS (
      SELECT token, f,
             row_number() OVER (ORDER BY f DESC, token) AS rnk
      FROM freq
    ),
    fanned AS (
      SELECT r.rnk, r.f, c.cutoff
      FROM ranked r,
           (SELECT unnest([{', '.join(str(c) for c in VOCAB_CUTOFFS)}])
            AS cutoff) c
      WHERE r.rnk <= c.cutoff
    )
    SELECT CAST(fanned.cutoff AS BIGINT) AS cutoff,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(fanned.f) AS BIGINT) AS covered_tokens,
           {ratio4_sql('sum(fanned.f)', 'max(t.total)')} AS coverage
    FROM fanned CROSS JOIN tot t
    GROUP BY fanned.cutoff
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design readout: what share of all corpus token
    OCCURRENCES the top-K token types cover, at K = 100/500/2000/10000
    -- the curve that sizes a vocabulary (pick the knee where marginal
    coverage flattens; the Zipf-mass view of `vocab_build`).

    The global frequency rank is a window over the VOCABULARY (types,
    not occurrences) -- bounded by distinct tokens, so the single
    ordered partition is safe at any corpus size once counts are
    aggregated (map-side combinable).  The cutoff fan-out is an in-row
    explode + filter (no join); coverage is integer-space (ratio4)
    against the broadcast scalar total.
    """
    # Round 7: collection frequency = sum(tf) over the persistent
    # postings index (vocabulary-sized agg over an index scan, no
    # per-query corpus tokenize).
    freq = postings_index(spark, sf_dir).groupBy("token").agg(
        F.sum("tf").cast("bigint").alias("f")
    ).localCheckpoint(eager=False)  # ranked rows + the scalar total
    tot = freq.agg(F.sum("f").cast("bigint").alias("total"))
    ranked = freq.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("token")))
    )
    fanned = ranked.select(
        "rnk",
        "f",
        F.explode(
            F.array(*[F.lit(c) for c in VOCAB_CUTOFFS])
        ).alias("cutoff"),
    ).filter(F.col("rnk") <= F.col("cutoff"))
    return (
        fanned.crossJoin(F.broadcast(tot))
        .groupBy(F.col("cutoff").cast("bigint").alias("cutoff"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("f").cast("bigint").alias("covered_tokens"),
            ratio4(F.sum("f"), F.max("total")).alias("coverage"),
        )
    )


# 1/log2(i+1) DCG discounts at ppm, i = 1..10, precomputed ONCE in exact
# decimal form and injected as identical literals into both engines --
# in-query log2() is not guaranteed correctly rounded cross-engine.
DCG_DISC_PPM = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_DISC_SQL = "[" + ", ".join(str(d) for d in DCG_DISC_PPM) + "]"


@declared(
    "ranking_dcg_eval",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    qtok AS (SELECT * FROM tok WHERE token IN ({_QUERY_SQL})),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM qtok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtok GROUP BY token
    ),
    rel AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS rel
      FROM tf GROUP BY doc_id
    ),
    dl AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl
      FROM documents
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    tfidf AS (
      SELECT doc_id, score_ppm,
             CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
                  AS BIGINT) AS rnk
      FROM (
        SELECT tf.doc_id,
               CAST(sum(tf.tf * ((s.n_docs * 1000000) // df.df)) AS BIGINT)
                 AS score_ppm
        FROM tf JOIN df ON df.token = tf.token CROSS JOIN scal s
        GROUP BY tf.doc_id
      ) t QUALIFY rnk <= 10
    ),
    bm25 AS (
      SELECT doc_id, score_ppm,
             CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
                  AS BIGINT) AS rnk
      FROM (
        SELECT tf.doc_id,
               CAST(sum(
                 (((CAST(s.n_docs AS HUGEINT) * 1000000) // df.df)
                  * (220 * CAST(s.t_tokens AS HUGEINT) * tf.tf))
                 // (100 * CAST(s.t_tokens AS HUGEINT) * tf.tf
                     + 30 * CAST(s.t_tokens AS HUGEINT)
                     + 90 * CAST(dl.dl AS HUGEINT) * s.n_docs)
               ) AS BIGINT) AS score_ppm
        FROM tf
        JOIN df ON df.token = tf.token
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN scal s
        GROUP BY tf.doc_id
      ) t QUALIFY rnk <= 10
    ),
    both_r AS (
      SELECT 'tfidf' AS ranker, doc_id, rnk FROM tfidf
      UNION ALL
      SELECT 'bm25' AS ranker, doc_id, rnk FROM bm25
    ),
    joined AS (
      SELECT b.ranker, b.rnk, r.rel
      FROM both_r b JOIN rel r ON r.doc_id = b.doc_id
    ),
    per AS (
      SELECT ranker,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(rel * ({_DISC_SQL})[rnk]) AS BIGINT) AS dcg_ppm,
             list(rel ORDER BY rel DESC, rnk) AS rel_sorted
      FROM joined GROUP BY ranker
    )
    SELECT ranker, k, dcg_ppm,
           CAST(list_sum(list_transform(
             generate_series(1, CAST(k AS INT)),
             i -> rel_sorted[i] * ({_DISC_SQL})[i])) AS BIGINT) AS idcg_ppm,
           CAST(dcg_ppm AS DOUBLE)
             / CAST(list_sum(list_transform(
                 generate_series(1, CAST(k AS INT)),
                 i -> rel_sorted[i] * ({_DISC_SQL})[i])) AS DOUBLE) AS ndcg
    FROM per
    """,
)
def ranking_dcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@10 of the tf-idf and BM25
    rankers against a graded relevance label (number of distinct query
    terms a document contains, 1..3) -- the offline-eval loop that sits
    on top of any retrieval stack; with the ideal ordering computed
    over the RETRIEVED set (the standard retrieved-set nDCG variant).

    DCG discounts 1/log2(rank+1) enter as PRECOMPUTED ppm integer
    literals identical on both engines (in-query log2 is not guaranteed
    correctly rounded cross-engine), so both DCG and iDCG are exact
    integer sums -- order-independent -- and nDCG is one double
    division of exact integers.  The corpus is scanned twice total
    (token stream, doc lengths), shared by BOTH rankers through
    checkpointed query-selectivity-sized frames; everything downstream
    of the two top-10 windows is <= 20 rows.
    """
    # Round 7: probe tf off the persistent postings index.
    tf, _ = _query_tf_df(spark, sf_dir)
    tf = tf.localCheckpoint(eager=True)  # both rankers + the relevance label
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    rel = tf.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("rel"))
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=True)
    scal = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_tokens"),
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))

    tfidf_scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("(n_docs * 1000000) DIV df"))
            .cast("bigint")
            .alias("score_ppm")
        )
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
    )
    bm25_scored = (
        dl.join(F.broadcast(tf), "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(_BM25_CONTRIB_EXPR)).cast("bigint").alias("score_ppm"))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
    )
    both_r = (
        tfidf_scored.select(F.lit("tfidf").alias("ranker"), "doc_id", "rnk")
        .unionByName(
            bm25_scored.select(F.lit("bm25").alias("ranker"), "doc_id", "rnk")
        )
    )
    disc = F.array(*[F.lit(d) for d in DCG_DISC_PPM])
    joined = both_r.join(F.broadcast(rel), "doc_id")
    per = joined.groupBy("ranker").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.col("rel") * F.element_at(disc, F.col("rnk").cast("int"))
        )
        .cast("bigint")
        .alias("dcg_ppm"),
        F.reverse(F.array_sort(F.collect_list("rel"))).alias("rel_sorted"),
    )
    idcg = F.aggregate(
        F.zip_with(
            F.col("rel_sorted"),
            F.slice(disc, 1, F.size("rel_sorted")),
            lambda r, d: r * d,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return per.select(
        "ranker",
        "k",
        "dcg_ppm",
        idcg.cast("bigint").alias("idcg_ppm"),
        (F.col("dcg_ppm").cast("double") / idcg.cast("double")).alias("ndcg"),
    )


def _rrf_oracle() -> str:
    """Compose the fusion oracle from the two REGISTERED retrieval
    oracles verbatim (nested CTEs), so the fused ground truth can never
    drift from the per-system declared queries."""
    from etl_rf_matrix_controller_spark.plans import registry as _reg

    ta = _reg.ORACLES["tfidf_retrieval_topk"]
    tb = _reg.ORACLES["bm25_retrieval_topk"]
    return f"""
    WITH ta AS ({ta}),
    tb AS ({tb}),
    u AS (
      SELECT doc_id, rnk FROM ta
      UNION ALL
      SELECT doc_id, rnk FROM tb
    ),
    fused AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_systems,
             CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_ppm
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, n_systems, rrf_ppm, fused_rnk
    FROM (
      SELECT doc_id, n_systems, rrf_ppm,
             CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id)
               AS BIGINT) AS fused_rnk
      FROM fused
    ) WHERE fused_rnk <= 10
    """


@declared("rrf_fusion_topk", oracle=_rrf_oracle())
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of the tf-idf and
    BM25 top-10 lists for the fixed probe query: each system contributes
    1000000 DIV (60 + rank) ppm per doc (k=60, the canonical constant),
    summed across systems -- the standard score-free way to merge
    heterogeneous rankers (lexical + semantic) in a retrieval pipeline.
    Integer ppm end to end, so fusion is bit-stable cross-engine; ties
    break on doc_id for a total order.

    Plan: ONE tokenize+explode and ONE doc-length pass feed both
    scorers (tf/df/dl/scal all checkpointed, query-selectivity- or
    dim-sized), unlike running the two declared queries back to back
    (which would double the corpus scans); the per-system rankings are
    10-row frames, so the fusion itself is free.  The oracle nests the
    two REGISTERED oracles verbatim.
    """
    # Round 7: tf/df served from the persistent postings index (probe
    # rows are already query-selectivity-sized -- the old eager-
    # checkpoint dance existed to keep the tokenize subtree out of four
    # consumer branches, and the index removes the subtree entirely).
    tf, df = _query_tf_df(spark, sf_dir)
    tf = tf.localCheckpoint(eager=True)
    df = df.localCheckpoint(eager=True)
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=True)
    scal = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_tokens"),
    )
    scored_a = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("(n_docs * 1000000) DIV df"))
            .cast("bigint")
            .alias("score_ppm")
        )
    )
    scored_b = (
        dl.join(F.broadcast(tf), "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(_BM25_CONTRIB_EXPR)).cast("bigint").alias("score_ppm"))
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))

    def _rank10(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= 10)
            .select("doc_id", "rnk")
        )

    u = _rank10(scored_a).unionByName(_rank10(scored_b))
    fused = u.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_systems"),
        F.sum(F.expr("1000000 DIV (60 + rnk)")).cast("bigint").alias("rrf_ppm"),
    )
    wf = Window.orderBy(F.desc("rrf_ppm"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rnk", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("fused_rnk") <= 10)
        .select("doc_id", "n_systems", "rrf_ppm", "fused_rnk")
    )


# ---------------------------------------------------------------------------
# Positional phrase search (round 7b)
# ---------------------------------------------------------------------------

@declared(
    "phrase_query_match",
    oracle="""
    WITH tg AS MATERIALIZED (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(t) - 2),
               i -> struct_pack(ph := t[i] || ' ' || t[i+1] || ' ' || t[i+2],
                                pos := i)) AS tgs
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    occ AS MATERIALIZED (
      SELECT doc_id, u.ph AS ph, u.pos AS pos
      FROM tg, unnest(tgs) AS r(u)
    ),
    top AS (
      SELECT ph AS phrase
      FROM occ GROUP BY ph
      ORDER BY count(*) DESC, ph ASC
      LIMIT 1
    )
    SELECT o.doc_id, t.phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(o.pos) AS BIGINT) AS first_pos
    FROM occ o JOIN top t ON o.ph = t.phrase
    GROUP BY o.doc_id, t.phrase
    """,
)
def phrase_query_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional index: find the corpus's
    most frequent token trigram (ties lexicographic) and return every
    document containing it with occurrence count and first position --
    the classic IR phrase-query operator (positional postings +
    adjacency), the piece `inverted_postings` (doc-level postings) and
    `doc_token_match` (regex scan) both lack.  Nearest reference
    behavior: the exact-substring probes in etl_controller.py:3293-3298.

    Plan: trigram occurrences are built PER ROW with one array transform
    (positions 1-based on both engines; sequence guarded to len >= 3 --
    Spark's sequence(1, 0) is descending, DuckDB's empty) and exploded
    ONCE into a checkpointed (doc_id, ph, pos) frame consumed by both
    the global argmax and the per-doc rollup.  The argmax is a 1-row
    broadcast, so the match is a selectivity-sized semi filter, never a
    corpus re-shuffle.  At 100 TB the occ frame IS the positional index
    you'd persist bucketed by phrase hash (plans/gram_index.py holds
    that machinery for the gram family)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("t")  # projected first: a split in the lambda runs per element
    tgs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.struct(
            F.concat_ws(
                " ",
                F.element_at(t, i),
                F.element_at(t, i + 1),
                F.element_at(t, i + 2),
            ).alias("ph"),
            i.alias("pos"),
        ),
    )
    occ = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split(F.trim("text"), " ").alias("t"))
        .filter(F.size(t) >= 3)
        .select("doc_id", F.explode(tgs).alias("r"))
        .select("doc_id", F.col("r.ph").alias("ph"), F.col("r.pos").alias("pos"))
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("ph"))
    top = (
        occ.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("ph").alias("phrase"))
    )
    return (
        occ.join(F.broadcast(top), occ["ph"] == top["phrase"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between the two retrieval rankings (round 7b)
# ---------------------------------------------------------------------------

# Truncated RBO at k=10 with persistence p = 1/2, held EXACTLY in integer
# space: RBO = (1-p) * sum_{d=1..k} p^(d-1) * |A_:d ^ B_:d| / d.  Each doc
# present in both top-10 lists contributes w_d for every depth d >=
# max(rank_a, rank_b), so its total contribution is the suffix sum
# W(m) = sum_{d=m..10} w_d with w_d = 2520 * 2^(10-d) / d scaled by the
# common denominator 2520 * 2^10 (lcm(1..10) = 2520) -- every weight is an
# exact integer, and the final rbo double is ONE division of two bigints.
_RBO_W_SUFFIX = (
    1788440, 498200, 175640, 68120, 27800, 11672, 4952, 2072, 812, 252,
)
_RBO_DEN = 2580480  # 2520 * 2^10


def _rbo_oracle() -> str:
    """Compose the agreement oracle from the two REGISTERED retrieval
    oracles verbatim (the _rrf_oracle discipline): the ground truth can
    never drift from the per-system declared queries."""
    from etl_rf_matrix_controller_spark.plans import registry as _reg

    ta = _reg.ORACLES["tfidf_retrieval_topk"]
    tb = _reg.ORACLES["bm25_retrieval_topk"]
    w_sql = ", ".join(str(w) for w in _RBO_W_SUFFIX)
    return f"""
    WITH ta AS ({ta}),
    tb AS ({tb}),
    common AS (
      SELECT greatest(ta.rnk, tb.rnk) AS m
      FROM ta JOIN tb ON tb.doc_id = ta.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_common,
           CAST(coalesce(sum(([{w_sql}])[CAST(m AS INT)]), 0) AS BIGINT)
             AS rbo_num,
           CAST({_RBO_DEN} AS BIGINT) AS rbo_den,
           CAST(coalesce(sum(([{w_sql}])[CAST(m AS INT)]), 0) AS DOUBLE)
             / {_RBO_DEN} AS rbo
    FROM common
    """


@declared("rbo_rankings_compare", oracle=_rbo_oracle())
def rbo_rankings_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the tf-idf and
    BM25 top-10 rankings for the fixed probe query: the standard
    top-weighted agreement measure between two rankers (Kendall/Spearman
    treat all depths equally; RBO discounts geometrically, matching how
    users -- and downstream fusion -- consume rankings).  Complements
    `rrf_fusion_topk` (which MERGES the lists) with the metric that says
    how much they already agree.  Truncated RBO, p = 1/2, k = 10, exact
    integer arithmetic: each common doc contributes the suffix-sum weight
    W(max(rank_a, rank_b)) over the lcm-scaled weights; `rbo` is one
    bigint/bigint IEEE division, bit-identical cross-engine.

    Plan: tf/df come off the PERSISTENT postings index (round 7; the
    rrf_fusion_topk path); the rank frames are 10 rows each, so the
    agreement join is free.  Output is a single summary row."""
    tf, df = _query_tf_df(spark, sf_dir)
    tf = tf.localCheckpoint(eager=True)
    df = df.localCheckpoint(eager=True)
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=True)
    scal = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_tokens"),
    )
    scored_a = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("(n_docs * 1000000) DIV df"))
            .cast("bigint")
            .alias("score_ppm")
        )
    )
    scored_b = (
        dl.join(F.broadcast(tf), "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(_BM25_CONTRIB_EXPR)).cast("bigint").alias("score_ppm"))
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))

    def _rank10(scored: DataFrame, col: str) -> DataFrame:
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= 10)
            .select("doc_id", F.col("rnk").alias(col))
        )

    wt = F.array(*[F.lit(v) for v in _RBO_W_SUFFIX])
    common = (
        _rank10(scored_a, "rnk_a")
        .join(F.broadcast(_rank10(scored_b, "rnk_b")), "doc_id")
        .select(F.greatest("rnk_a", "rnk_b").alias("m"))
    )
    return common.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.coalesce(
            F.sum(F.element_at(wt, F.col("m").cast("int"))), F.lit(0)
        )
        .cast("bigint")
        .alias("rbo_num"),
        F.lit(_RBO_DEN).cast("bigint").alias("rbo_den"),
        (
            F.coalesce(
                F.sum(F.element_at(wt, F.col("m").cast("int"))), F.lit(0)
            ).cast("double")
            / F.lit(_RBO_DEN)
        ).alias("rbo"),
    )


# RM3 pseudo-relevance feedback: expansion terms drawn from the top-K0
# first-pass documents, final ranking over original + expansion terms.
RM3_FEEDBACK_DOCS = 10
RM3_EXP_TERMS = 3
_RM3_VALUES_SQL = ", ".join(f"('{t}')" for t in QUERY_TERMS)


@declared(
    "rm3_expansion_retrieval_topk",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    dl AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl
      FROM documents
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    qtok AS (SELECT * FROM tok WHERE token IN ({_QUERY_SQL})),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM qtok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtok GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(
               (((CAST(s.n_docs AS HUGEINT) * 1000000) // df.df)
                * (220 * CAST(s.t_tokens AS HUGEINT) * tf.tf))
               // (100 * CAST(s.t_tokens AS HUGEINT) * tf.tf
                   + 30 * CAST(s.t_tokens AS HUGEINT)
                   + 90 * CAST(dl.dl AS HUGEINT) * s.n_docs)
             ) AS BIGINT) AS score_ppm
      FROM tf
      JOIN df ON df.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN scal s
      GROUP BY tf.doc_id
    ),
    d0 AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rnk
        FROM scored
      ) WHERE rnk <= {RM3_FEEDBACK_DOCS}
    ),
    etf AS (
      SELECT t.doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
      FROM tok t JOIN d0 ON d0.doc_id = t.doc_id
      WHERE t.token NOT IN ({_QUERY_SQL})
      GROUP BY t.doc_id, t.token
    ),
    ew AS (
      SELECT e.token,
             CAST(sum((1000000 * e.tf) // dl.dl) AS BIGINT) AS w_ppm
      FROM etf e JOIN dl ON dl.doc_id = e.doc_id
      GROUP BY e.token
    ),
    expt AS MATERIALIZED (
      SELECT token FROM (
        SELECT token,
               row_number() OVER (ORDER BY w_ppm DESC, token) AS r
        FROM ew
      ) WHERE r <= {RM3_EXP_TERMS}
    ),
    terms AS (
      SELECT token FROM expt
      UNION ALL
      SELECT v.t FROM (VALUES {_RM3_VALUES_SQL}) v(t)
    ),
    qtok2 AS (
      SELECT tok.doc_id, tok.token
      FROM tok JOIN terms ON terms.token = tok.token
    ),
    tf2 AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM qtok2 GROUP BY doc_id, token
    ),
    df2 AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtok2 GROUP BY token
    ),
    scored2 AS (
      SELECT tf2.doc_id,
             CAST(sum(
               (((CAST(s.n_docs AS HUGEINT) * 1000000) // df2.df)
                * (220 * CAST(s.t_tokens AS HUGEINT) * tf2.tf))
               // (100 * CAST(s.t_tokens AS HUGEINT) * tf2.tf
                   + 30 * CAST(s.t_tokens AS HUGEINT)
                   + 90 * CAST(dl.dl AS HUGEINT) * s.n_docs)
             ) AS BIGINT) AS score_ppm
      FROM tf2
      JOIN df2 ON df2.token = tf2.token
      JOIN dl ON dl.doc_id = tf2.doc_id
      CROSS JOIN scal s
      GROUP BY tf2.doc_id
    )
    SELECT doc_id, score_ppm, rnk,
           CAST(CASE WHEN doc_id IN (SELECT doc_id FROM d0)
                THEN 1 ELSE 0 END AS BIGINT) AS was_initial
    FROM (
      SELECT doc_id, score_ppm,
             CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
                  AS BIGINT) AS rnk
      FROM scored2
    ) WHERE rnk <= {RM3_FEEDBACK_DOCS}
    """,
)
def rm3_expansion_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (RM3, Lavrenko & Croft 2001 as run in
    Anserini/Indri): score the fixed probe query with BM25, take the
    top-{RM3_FEEDBACK_DOCS} feedback documents, extract the
    top-{RM3_EXP_TERMS} expansion terms by relevance-model weight
    sum_d P(w|d) over the feedback set (uniform feedback-doc prior --
    the RM1 weight, ppm-floored per doc so the sum is integer-exact),
    append them to the original terms, and re-rank.  The classic
    no-training recall booster: terms the query never mentioned but
    feedback documents agree on pull in documents the literal query
    misses.  `was_initial` marks survivors of the first pass, so the
    result exhibits the re-ranking directly.

    Everything rides the existing integer BM25 rational form (shared
    contribution expression, DECIMAL(38,0)/HUGEINT envelope) and the
    persistent postings index: both retrieval passes are query-
    selectivity-sized probes (pushed-down semi joins on the bucketed
    token scan), the expansion pass tokenizes exactly
    {RM3_FEEDBACK_DOCS} documents via a broadcast semi join, and every
    frame after the probes is bounded by terms x feedback docs.  At
    100 TB: two posting-list reads plus a 10-document fetch -- never a
    second corpus pass.
    """
    tf, df = _query_tf_df(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=True)  # scal + two scoring joins + exp weights
    scal = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_tokens"),
    )
    contrib = F.expr(_BM25_CONTRIB_EXPR)
    scored = (
        dl.join(F.broadcast(tf), "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(contrib).cast("bigint").alias("score_ppm"))
    )
    w = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    d0 = (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= RM3_FEEDBACK_DOCS)
        .select("doc_id")
        .localCheckpoint(eager=True)  # expansion fetch + was_initial flag
    )
    fb_tok = (
        docs.join(F.broadcast(d0), "doc_id")
        .select(
            "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
        )
        .filter((F.col("token") != "") & ~F.col("token").isin(*QUERY_TERMS))
    )
    etf = fb_tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    ew = (
        etf.join(F.broadcast(dl), "doc_id")
        .groupBy("token")
        .agg(
            F.sum(F.expr("(1000000 * tf) DIV dl")).cast("bigint").alias("w_ppm")
        )
    )
    w_exp = Window.orderBy(F.desc("w_ppm"), F.asc("token"))
    expt = (
        ew.withColumn("r", F.row_number().over(w_exp))
        .filter(F.col("r") <= RM3_EXP_TERMS)
        .select("token")
    )
    terms = expt.unionByName(
        spark.createDataFrame([(t,) for t in QUERY_TERMS], ["token"])
    ).localCheckpoint(eager=True)  # tf2 probe + df2 rollup
    qp2 = postings_index(spark, sf_dir).join(F.broadcast(terms), "token")
    tf2 = qp2.select("doc_id", "token", "tf")
    df2 = qp2.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored2 = (
        dl.join(F.broadcast(tf2), "doc_id")
        .join(F.broadcast(df2), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(contrib).cast("bigint").alias("score_ppm"))
    )
    return (
        scored2.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= RM3_FEEDBACK_DOCS)
        .join(
            F.broadcast(d0.withColumn("was_i", F.lit(1))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "score_ppm",
            "rnk",
            F.coalesce(F.col("was_i"), F.lit(0)).cast("bigint").alias(
                "was_initial"
            ),
        )
    )
