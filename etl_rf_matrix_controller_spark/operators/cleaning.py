"""Corpus-preparation operators: chunking, n-gram decontamination, and
domain mixture weighting.

Extension operators for the LLM-training-data mandate (build contract
SS2.11): after dedup (operators/dedup.py) and quality scoring
(operators/text.py, curation.py), a corpus still needs (a) documents cut
into overlapping context-window chunks, (b) eval-set n-gram
decontamination against train (the GPT-3/PaLM 13-gram rule, scaled to
this corpus's short docs as 5-gram), and (c) per-source sampling weights
with a temperature exponent (the multi-domain mixture knob).

Scale design: chunking is a per-row explode with no shuffle; the
contamination check is an inverted-index equi-join on the gram (never
pairs x set size, same shape as ngram_jaccard_pairs); mixture weights
aggregate to one row per source.  Determinism: gram sets are exact string
matches; every ratio is integer-space (plans/conventions.py); the
temperature weight uses floor(sqrt(n)*10000) -- floor of an IEEE-exact
sqrt, bit-identical cross-engine, never round() of a computed double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.operators.dedup import _CORPUS_SQL, dup_corpus
from etl_rf_matrix_controller_spark.operators.pipeline import _bucket_sql, hash_bucket
from etl_rf_matrix_controller_spark.plans.conventions import ratio4, ratio4_sql
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table

CHUNK_SIZE = 200
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks
NGRAM_N = 5


@declared(
    "doc_chunk_overlap",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, trim(text) AS txt,
             generate_series(0,
               CAST((greatest(length(trim(text)), 1) - 1) // {CHUNK_STRIDE}
                    AS INT)) AS ks
      FROM documents
    )
    SELECT doc_id,
           CAST(k.k AS BIGINT) AS chunk_idx,
           CAST(1 + k.k * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
           CAST(length(substring(txt, CAST(1 + k.k * {CHUNK_STRIDE} AS INT),
                                 {CHUNK_SIZE})) AS BIGINT) AS chunk_len,
           md5(substring(txt, CAST(1 + k.k * {CHUNK_STRIDE} AS INT),
                         {CHUNK_SIZE})) AS chunk_hash
    FROM c, unnest(ks) AS k(k)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut each document into fixed-size overlapping chunks (size 200,
    stride 150): the standard context-window preparation where chunk
    boundaries must not lose cross-boundary text.

    Pure per-row explode -- no shuffle at any scale; the 100 TB version
    is a scan-transform-write with chunk count linear in corpus bytes.
    Chunks are reported as (offset, length, md5) rather than raw text so
    the output stays narrow; downstream either re-slices from the source
    or swaps md5 for the text column when materializing.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.trim("text").alias("txt")
    )
    ck = docs.select(
        "doc_id",
        "txt",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(
                    f"CAST((greatest(length(txt), 1) - 1) DIV {CHUNK_STRIDE} AS INT)"
                ),
            )
        ).alias("k"),
    )
    chunk = F.expr(f"substring(txt, 1 + k * {CHUNK_STRIDE}, {CHUNK_SIZE})")
    return ck.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_idx"),
        (F.lit(1) + F.col("k") * CHUNK_STRIDE).cast("bigint").alias("chunk_start"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
    )


_GRAM_SPLIT_SQL = f"""
      SELECT doc_id, split, g.gram
      FROM (
        SELECT doc_id,
               CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                    WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                    ELSE 'test' END AS split,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(string_split(trim(text), ' '))
                                             - {NGRAM_N - 1}, 1)),
                 i -> array_to_string(list_slice(string_split(trim(text), ' '),
                                                 i, i + {NGRAM_N - 1}), ' ')))
                 AS grams
        FROM corpus
      ) gd, unnest(grams) AS g(gram)
"""


@declared(
    "ngram_contamination",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    grams AS ({_GRAM_SPLIT_SQL}),
    train_grams AS (
      SELECT DISTINCT gram FROM grams WHERE split = 'train'
    ),
    eval_grams AS (
      SELECT doc_id AS eval_doc, split AS eval_split, gram
      FROM grams WHERE split <> 'train'
    )
    SELECT e.eval_doc, e.eval_split,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(t.gram) AS BIGINT) AS n_contaminated,
           {ratio4_sql('count(t.gram)', 'count(*)')} AS contamination
    FROM eval_grams e
    LEFT JOIN train_grams t ON t.gram = e.gram
    GROUP BY e.eval_doc, e.eval_split
    """,
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram decontamination: for every val/test document, the
    fraction of its distinct word-5-grams that also occur anywhere in the
    train split -- the GPT-3-style overlap rule, which catches partial
    leakage that the exact-content check (split_contamination_check)
    misses.  Runs over the dup corpus so cross-split duplicates produce
    real contamination signal.

    Inverted-index shape: the gram frame is computed ONCE
    (localCheckpoint -- it feeds both the train set and the eval side),
    the train side dedups to a distinct gram set, and contamination is a
    LEFT equi-join on the gram string followed by a counting aggregation.
    Cost scales with shared grams, never eval x train pairs; stop-gram
    skew is the hot-key risk and AQE skew-join the mitigation.
    """
    # Rebalance before the word-5-gram fan-out (the _gram_df rule).
    corpus = dup_corpus(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    # the word array is a column before the lambda reads it: a split
    # inside the lambda re-runs once per gram
    gram_list = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(t) - {NGRAM_N - 1},"
        f" 1)), i -> array_join(slice(t, i, {NGRAM_N}), ' ')))"
    )
    b = hash_bucket(F.col("doc_id"))
    grams = (
        corpus.select("doc_id", F.split(F.trim("text"), " ").alias("t"))
        .select(
            "doc_id",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias(
                "split"
            ),
            F.explode(gram_list).alias("gram"),
        )
    ).localCheckpoint(eager=False)
    train_grams = grams.filter(F.col("split") == "train").select("gram").distinct()
    eval_grams = grams.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("eval_doc"),
        F.col("split").alias("eval_split"),
        "gram",
    )
    hit = train_grams.select("gram", F.lit(1).alias("hit"))
    return (
        eval_grams.join(hit, "gram", "left")
        .groupBy("eval_doc", "eval_split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count("hit").cast("bigint").alias("n_contaminated"),
            ratio4(F.count("hit"), F.count(F.lit(1))).alias("contamination"),
        )
    )


@declared(
    "domain_mixture_weights",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    weighted AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(n_docs) * 10000) AS BIGINT) AS w_scaled
      FROM counts
    )
    SELECT source, n_docs,
           w_scaled / 10000.0 AS temp_weight,
           {ratio4_sql('w_scaled', 'sum(w_scaled) OVER ()')} AS mix_share,
           CAST((w_scaled * 100000) // sum(w_scaled) OVER () AS BIGINT)
             AS sample_quota
    FROM weighted
    """,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights with temperature 0.5 (weight ~ sqrt of
    the domain's document count): the standard multi-domain mixture knob
    that up-samples small domains relative to proportional sampling, plus
    each source's integer quota out of a 100k-document budget.

    One count aggregation (map-side combinable) to one row per source,
    then a single-partition window over the handful of domain rows --
    domain cardinality is bounded, so the window never sees data-scale
    input.  floor(sqrt(n)*10000) keeps the temperature weight integer-
    exact cross-engine (sqrt is IEEE-correctly-rounded in both engines;
    floor avoids the round()-divergence trap on computed doubles).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    weighted = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt("n_docs") * 10000).cast("bigint").alias("w_scaled"),
    )
    weighted = weighted.withColumn(
        "total", F.sum("w_scaled").over(Window.partitionBy())
    )
    return weighted.select(
        "source",
        "n_docs",
        (F.col("w_scaled") / 10000.0).alias("temp_weight"),
        ratio4(F.col("w_scaled"), F.col("total")).alias("mix_share"),
        F.expr("CAST((w_scaled * 100000) DIV total AS BIGINT)").alias(
            "sample_quota"
        ),
    )


PAD_BUCKET_COUNTS = [1, 4, 16]


def _pad_sql_one(k: int) -> str:
    return f"""
    SELECT {k} AS n_buckets, b,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok,
           CAST(count(*) * max(n_tok) AS BIGINT) AS padded
    FROM (
      SELECT n_tok,
             ntile({k}) OVER (ORDER BY n_tok, doc_id) AS b
      FROM (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tok
        FROM documents
      ) t
    ) u
    GROUP BY b
    """


_PAD_SQL = (
    "WITH per_bucket AS ("
    + " UNION ALL ".join(_pad_sql_one(k) for k in PAD_BUCKET_COUNTS)
    + """)
    SELECT n_buckets,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           CAST(sum(padded) AS BIGINT) AS padded_tokens,
           CAST((1000000 * (sum(padded) - sum(tok))) // sum(padded)
                AS BIGINT) AS waste_ppm
    FROM per_bucket
    GROUP BY n_buckets
    """
)


@declared("length_bucket_padding_waste", oracle=_PAD_SQL)
def length_bucket_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding economics of length bucketing: if documents are
    batched after sorting into k equi-depth length buckets (k = 1, 4,
    16) and every doc in a bucket pads to the bucket max, how many pad
    tokens does each choice of k waste?  This is the knob study behind
    bucketed batching in sequence-model training -- k=1 is the naive
    pad-to-global-max cost, and the marginal waste reduction flattens
    as k grows (diminishing returns against batch-shape variety).

    Each k is one ntile window over the total (n_tok, doc_id) order --
    a single global sort of the NARROW (doc_id, n_tok) projection,
    shared across the three k values via one checkpointed token-count
    frame (the corpus text is scanned once).  At 100 TB the global
    ntile becomes a range-partitioned rank against sampled quantile
    bounds (same integers, two passes); waste ratios are
    integer-floored ppm -- engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    ntok = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tok"),
    ).localCheckpoint(eager=True)  # three ntile windows share it
    outs = []
    for k in PAD_BUCKET_COUNTS:
        w = Window.orderBy("n_tok", "doc_id")
        per_bucket = (
            ntok.select("n_tok", F.ntile(k).over(w).alias("b"))
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("tok"),
                (F.count(F.lit(1)) * F.max("n_tok")).cast("bigint").alias("padded"),
            )
            .withColumn("n_buckets", F.lit(k))
        )
        outs.append(per_bucket)
    all_b = outs[0]
    for o in outs[1:]:
        all_b = all_b.unionByName(o)
    return all_b.groupBy("n_buckets").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.sum("padded").cast("bigint").alias("padded_tokens"),
        F.expr(
            "CAST((1000000 * (sum(padded) - sum(tok))) DIV sum(padded) AS BIGINT)"
        ).alias("waste_ppm"),
    )
