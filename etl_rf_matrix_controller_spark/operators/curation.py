"""Corpus curation operators: repetition scoring, split decontamination,
token-budget packing.

The last mile of a training-data pipeline: the Gopher-style repetition
filter (drop boilerplate-heavy docs), the train/test decontamination join
(no eval leakage), and greedy sequence packing into fixed token budgets.
All pure DataFrame ops, all oracle-checked.
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


@declared(
    "doc_repetition_score",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             greatest(length(trim(text)) - 7, 1) AS total_grams,
             len(list_distinct(list_transform(
               generate_series(1, greatest(length(trim(text)) - 7, 1)),
               i -> substring(trim(text), CAST(i AS INT), 8)))) AS uniq_grams
      FROM documents
    )
    SELECT doc_id, total_grams, uniq_grams,
           {ratio4_sql('total_grams - uniq_grams', 'total_grams')} AS rep_ratio
    FROM g
    """,
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of duplicate char-8-grams
    (the Gopher repetition-filter signal -- boilerplate and looping text
    score high).  All in-row array math; the only exchange is the
    narrow-row rebalance before the gram transforms (_gram_df rule --
    locally the scan is one split and would serialize the compute)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = F.trim("text")
    total = F.greatest(F.length(t) - 7, F.lit(1))
    uniq = F.size(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), total), lambda i: t.substr(i, F.lit(8))
            )
        )
    )
    return docs.select(
        "doc_id",
        total.alias("total_grams"),
        uniq.alias("uniq_grams"),
        ratio4(total - uniq, total).alias("rep_ratio"),
    )


@declared(
    "split_contamination_check",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tagged AS (
      SELECT doc_id,
             md5(lower(trim(text))) AS content_hash,
             CASE WHEN {_bucket_sql('doc_id')} < 80 THEN 'train'
                  WHEN {_bucket_sql('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM corpus
    )
    SELECT tr.doc_id AS train_doc, te.doc_id AS eval_doc,
           te.split AS eval_split, tr.content_hash
    FROM tagged tr
    JOIN tagged te
      ON tr.content_hash = te.content_hash
     AND tr.split = 'train' AND te.split <> 'train'
    """,
)
def split_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: eval-split documents whose exact content also
    appears in train (the leakage auditors run before every training
    job).  Runs over the dup corpus (the raw table has no duplicates, so
    the check would be vacuous).  Equi-join on content hash: shuffles
    hashes + ids only, never text; the near-dup version swaps the hash
    for MinHash bands (minhash_near_dup_pairs) with the same join shape.
    """
    corpus = dup_corpus(spark, sf_dir)
    tagged = corpus.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("content_hash"),
    )
    b = hash_bucket(F.col("doc_id"))
    # Both join aliases (train/eval) consume this frame; checkpoint the
    # NARROW (id, hash, split) projection once so the corpus scan + md5
    # run a single time instead of once per alias (was a 6x-scan plan).
    # Checkpointed frames carry no stats, so pin the join strategy:
    # shuffle_hash, the honest 100 TB choice (both split sides scale with
    # the corpus -- hash-partition on the content hash, never sort).
    tagged = tagged.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    ).localCheckpoint(eager=True)
    tr = tagged.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "content_hash"
    )
    te = tagged.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("eval_doc"),
        F.col("split").alias("eval_split"),
        F.col("content_hash").alias("te_hash"),
    )
    return tr.join(te.hint("shuffle_hash"), tr.content_hash == te.te_hash).select(
        "train_doc", "eval_doc", "eval_split", "content_hash"
    )


@declared(
    "token_budget_packing",
    oracle="""
    WITH counted AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM counted
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum_tokens - 1 - (cum_tokens - 1) % 4096) / 4096 AS BIGINT)
             AS pack_bin
    FROM packed
    """,
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: running token count per language stream,
    binned into 4096-token budgets -- the batch assignment used to pack
    training sequences.  One window per language partition; bin ids are
    integer-exact ((cum-1) div 4096).  At scale the doc_id ordering key is
    the deterministic-shuffle rank (deterministic_shuffle_order), keeping
    packs reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    x = cum - 1
    return counted.select(
        "doc_id",
        "lang",
        "n_tokens",
        ((x - x % 4096) / 4096).cast("bigint").alias("pack_bin"),
    )


# PII patterns kept RE2-and-Java-regex compatible (no lookaround, no
# backrefs) so the Spark and DuckDB sides compile the same automaton.
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\d{3}-\d{3}-\d{4}"

# The driver's documents are word-salad tokens with no PII, so the op
# injects deterministic synthetic emails/phones (keyed off doc_id) before
# scanning -- same technique as cosine_near_dup_pairs' synthesized dups;
# the redaction pipeline itself is exactly what runs on real corpora.
_AUG_SQL = """
    (text
     || CASE WHEN doc_id % 5 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
             ELSE '' END
     || CASE WHEN doc_id % 7 = 0
             THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END)
"""


@declared(
    "pii_redact_stats",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           CAST(length(regexp_replace(regexp_replace(text,
                '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g'))
             AS BIGINT) AS redacted_len
    FROM aug
    """,
)
def pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email/phone occurrences per doc.

    Standard training-corpus hygiene: regex detectors run in one scan
    (JVM-side regexp_count/regexp_replace, no Python), emitting per-doc
    detection counts plus the post-redaction length.  Zero shuffles --
    scan-bound and embarrassingly parallel at any scale.  Spark
    regexp_replace is replace-all by default; the DuckDB mirror needs the
    explicit 'g' flag.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
    )


@declared(
    "stratified_sample_docs",
    oracle="""
    SELECT doc_id, lang, sample_rank
    FROM (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':strat'), doc_id
               ) AS BIGINT) AS sample_rank
        FROM documents
    )
    WHERE sample_rank <= 20
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 docs per language
    stratum, chosen by md5-hash order (a seeded, reproducible shuffle --
    the portable-hash convention of hash_mod_sample applied per stratum).

    One shuffle on the stratum key.  At 100 TB the per-stratum window sort
    is bounded by stratum size; for mega-strata swap row_number for a
    two-phase top-k (per-partition heads, then merge) -- same contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat"))), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= 20)
    )


@declared(
    "negative_sample_pairs",
    oracle="""
    WITH idx AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM documents
    ),
    cand AS (
      SELECT i.doc_id, j.j,
             (i.doc_id * 2654435761 + j.j * 40503) % i.n AS neg_rn
      FROM idx i, unnest([1, 2, 3]) AS j(j)
    )
    SELECT c.doc_id, CAST(c.j AS BIGINT) AS j, m.doc_id AS neg_doc_id
    FROM cand c JOIN idx m ON m.rn = c.neg_rn
    WHERE m.doc_id <> c.doc_id
    """,
)
def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative sampling: 3 pseudo-random negative
    documents per document, deterministic (Knuth multiplicative hash of
    doc_id and slot, mod corpus size) -- no RNG state, so every re-run and
    both engines produce the identical pair set.

    Existence is guaranteed by resolving through a dense row_number index
    rather than assuming dense doc_ids.  The global row_number here is
    the one single-partition step; at 100 TB you precompute the dense id
    map once (zipWithIndex-style per-partition offsets) and every
    sampling epoch reuses it via the same uniform equi-join on neg_rn --
    never a cartesian.  Accidental positives (hash lands on itself) are
    filtered, mirroring rejection sampling.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w = Window.orderBy("doc_id")
    idx = docs.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    cand = idx.select(
        "doc_id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        F.col("n"),
    ).select(
        "doc_id",
        F.col("j").cast("bigint").alias("j"),
        ((F.col("doc_id") * 2654435761 + F.col("j") * 40503) % F.col("n")).alias(
            "neg_rn"
        ),
    )
    m = idx.select(F.col("doc_id").alias("neg_doc_id"), "rn")
    return (
        cand.join(m, cand.neg_rn == m.rn)
        .filter(F.col("neg_doc_id") != F.col("doc_id"))
        .select("doc_id", "j", "neg_doc_id")
    )


@declared(
    "span_corruption_pairs",
    oracle="""
    WITH d AS (
      SELECT doc_id, trim(text) AS t, length(trim(text)) AS len
      FROM documents WHERE length(trim(text)) >= 30
    ),
    spans AS (
      SELECT doc_id, t, j.j,
             CAST(1 + (doc_id * 31 + j.j * 7919)
                      % greatest(len - 14, 1) AS BIGINT) AS span_start
      FROM d, unnest([1, 2]) AS j(j)
    )
    SELECT doc_id, CAST(j AS BIGINT) AS span_id, span_start,
           substring(t, CAST(span_start AS INT), 10) AS target,
           substring(t, 1, CAST(span_start AS INT) - 1)
             || '<extra_id_0>'
             || substr(t, CAST(span_start AS INT) + 10) AS masked
    FROM spans
    """,
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair generation: two deterministic
    10-char spans per document, each emitted as (masked input with a
    sentinel, span target) -- the map-side self-supervised objective
    builder.

    Span starts derive from an integer hash of (doc_id, slot) bounded to
    keep the span inside the text, so the pair set is reproducible across
    runs and engines with zero RNG.  Pure projection after a row
    filter -- no shuffle at all; at 100 TB this runs at scan speed and is
    the template for any masked-LM / denoising objective (vary span
    count/length per slot hash).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim("text")
    d = docs.select(
        "doc_id", t.alias("t"), F.length(t).alias("len")
    ).filter(F.col("len") >= 30)
    spans = d.select(
        "doc_id",
        "t",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
        F.col("len"),
    ).select(
        "doc_id",
        "t",
        F.col("j").cast("bigint").alias("span_id"),
        (
            1
            + (F.col("doc_id") * 31 + F.col("j") * 7919)
            % F.greatest(F.col("len") - 14, F.lit(1))
        )
        .cast("bigint")
        .alias("span_start"),
    )
    return spans.select(
        "doc_id",
        "span_id",
        "span_start",
        F.expr("substring(t, CAST(span_start AS INT), 10)").alias("target"),
        F.concat(
            F.expr("substring(t, 1, CAST(span_start AS INT) - 1)"),
            F.lit("<extra_id_0>"),
            F.expr("substr(t, CAST(span_start AS INT) + 10)"),
        ).alias("masked"),
    )


# Gopher-style rule bounds, scaled to this corpus's short word-salad docs.
STOPWORDS_GOPHER = ("the", "a", "of", "and", "to")
RULE_MIN_WORDS, RULE_MAX_WORDS = 20, 1000
RULE_MIN_MWL, RULE_MAX_MWL = 3.0, 10.0
RULE_MIN_STOPWORD_FRAC = 0.02
RULE_MAX_REP_RATIO = 0.8
_SW_SQL = "['the', 'a', 'of', 'and', 'to']"


@declared(
    "gopher_quality_rules",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             string_split(trim(text), ' ') AS words,
             trim(text) AS txt
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(length(replace(txt, ' ', '')) AS BIGINT) AS n_word_chars,
             CAST(len(list_filter(words, x -> list_contains({_SW_SQL}, x)))
               AS BIGINT) AS n_stop,
             CAST(greatest(length(txt) - 7, 1) AS BIGINT) AS total_grams,
             CAST(len(list_distinct(list_transform(
               generate_series(1, greatest(length(txt) - 7, 1)),
               i -> substring(txt, CAST(i AS INT), 8)))) AS BIGINT)
               AS uniq_grams
      FROM w
    )
    SELECT doc_id, n_words,
           n_words BETWEEN {RULE_MIN_WORDS} AND {RULE_MAX_WORDS}
             AS rule_word_count,
           {ratio4_sql('n_word_chars', 'n_words')} BETWEEN {RULE_MIN_MWL}
             AND {RULE_MAX_MWL} AS rule_mean_word_len,
           {ratio4_sql('n_stop', 'n_words')} >= {RULE_MIN_STOPWORD_FRAC}
             AS rule_stopwords,
           {ratio4_sql('total_grams - uniq_grams', 'total_grams')}
             <= {RULE_MAX_REP_RATIO} AS rule_repetition,
           (n_words BETWEEN {RULE_MIN_WORDS} AND {RULE_MAX_WORDS})
             AND ({ratio4_sql('n_word_chars', 'n_words')}
                  BETWEEN {RULE_MIN_MWL} AND {RULE_MAX_MWL})
             AND ({ratio4_sql('n_stop', 'n_words')}
                  >= {RULE_MIN_STOPWORD_FRAC})
             AND ({ratio4_sql('total_grams - uniq_grams', 'total_grams')}
                  <= {RULE_MAX_REP_RATIO}) AS keep
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named per-rule quality booleans (Gopher-filter form): word-count
    bounds, mean word length bounds, stopword-fraction floor, and
    repetition ceiling, plus the conjunctive keep flag.  Unlike the
    aggregate doc_quality_score, each rule is its own auditable column --
    the form real curation pipelines ship, because rule-level pass rates
    are what you monitor when a filter starts eating good data.

    All rule inputs are integers and every ratio is integer-space
    (plans/conventions.py), so the booleans are bit-identical
    cross-engine.  Pure per-row projection: zero shuffles at any scale.
    """
    # Rebalance the narrow rows before the per-row gram transforms (the
    # _gram_df rule): the single-split scan would otherwise run ~650
    # substr+distinct ops per row on one task.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return gopher_flags_df(docs)


def gopher_flags_df(docs: DataFrame) -> DataFrame:
    """Gopher rule flags over an arbitrary (doc_id, text) frame -- the
    reusable core of gopher_quality_rules (the end-to-end curation
    pipeline applies it to its ingest corpus)."""
    t = F.trim("text")
    words = F.split(t, " ")
    sw = F.array([F.lit(s) for s in STOPWORDS_GOPHER])
    total_grams = F.greatest(F.length(t) - 7, F.lit(1)).cast("bigint")
    uniq_grams = F.size(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t) - 7, F.lit(1))),
                lambda i: t.substr(i, F.lit(8)),
            )
        )
    ).cast("bigint")
    m = docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace(t, " ", "")).cast("bigint").alias(
            "n_word_chars"
        ),
        F.size(F.filter(words, lambda x: F.array_contains(sw, x)))
        .cast("bigint")
        .alias("n_stop"),
        total_grams.alias("total_grams"),
        uniq_grams.alias("uniq_grams"),
    )
    mwl = ratio4(F.col("n_word_chars"), F.col("n_words"))
    stop_frac = ratio4(F.col("n_stop"), F.col("n_words"))
    rep = ratio4(F.col("total_grams") - F.col("uniq_grams"), F.col("total_grams"))
    r_wc = F.col("n_words").between(RULE_MIN_WORDS, RULE_MAX_WORDS)
    r_mwl = mwl.between(RULE_MIN_MWL, RULE_MAX_MWL)
    r_sw = stop_frac >= RULE_MIN_STOPWORD_FRAC
    r_rep = rep <= RULE_MAX_REP_RATIO
    return m.select(
        "doc_id",
        "n_words",
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sw.alias("rule_stopwords"),
        r_rep.alias("rule_repetition"),
        (r_wc & r_mwl & r_sw & r_rep).alias("keep"),
    )


# Pack bins per shard directory: a 4096-token pack is far too small to
# be a filesystem unit (the round-8 x100 slope probe measured the
# one-dir-per-bin write at 80x cost for 10x data -- ~13k dynamic
# partition dirs x writing tasks of small files, metadata-bound).  256
# bins (~1M tokens) per shard keeps directory count loader-schedulable
# at any corpus size; the pack_bin stays a COLUMN inside the shard.
PACKS_PER_SHARD = 256


def export_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """Materialize the packed training set as partitioned parquet shards
    plus a JSON manifest -- the artifact a trainer's data loader consumes.

    Shards group {PACKS_PER_SHARD} pack bins of token_budget_packing,
    written ``partitionBy(lang, shard_id)`` with the rows repartitioned
    on the partition keys first so each shard directory is written by
    ONE task (one file per shard, no small-file explosion); a loader
    schedules shards without opening them (partition pruning == shard
    selection) and reads the per-pack structure off the pack_bin column.
    The manifest carries per-shard row/token counts and an
    order-insensitive content fingerprint (sum of per-row md5 prefixes
    -- associative, so partition order cannot change it), letting the
    loader verify integrity without a second full read.  At 100 TB this
    export is the final write pass of the curation pipeline; everything
    upstream (dedup, filtering, packing) feeds it.
    """
    import json
    import os

    packs = token_budget_packing(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = packs.join(docs, "doc_id").select(
        "doc_id",
        "lang",
        "pack_bin",
        (F.col("pack_bin") - F.col("pack_bin") % PACKS_PER_SHARD)
        .cast("bigint")
        .alias("shard_id"),
        "n_tokens",
        "text",
    )
    rows.repartition("lang", "shard_id").write.mode("overwrite").partitionBy(
        "lang", "shard_id"
    ).parquet(out_dir)
    back = spark.read.parquet(out_dir)
    fp = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("bigint")
    stats = (
        back.groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(fp).cast("bigint").alias("content_fp"),
        )
        .collect()
    )
    manifest = {
        "shards": sorted(
            (
                {
                    "lang": r.lang,
                    "shard_id": int(r.shard_id),
                    "n_docs": int(r.n_docs),
                    "n_tokens": int(r.n_tokens),
                    "content_fp": int(r.content_fp),
                }
                for r in stats
            ),
            key=lambda s: (s["lang"], s["shard_id"]),
        ),
        "total_docs": int(sum(r.n_docs for r in stats)),
        "total_tokens": int(sum(r.n_tokens for r in stats)),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# Leak corpus for the semantic contamination check: every vec_id % 5 == 0
# re-emitted verbatim with +200000 -- a "paraphrase-identical" eval leak.
# Denser than similarity._VEC_CORPUS_SQL's % 20 so leaked pairs straddle
# the 80/20 hash split non-vacuously even at sf0.001.
_LEAK_CORPUS_SQL = """
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 200000, embedding
      FROM embeddings WHERE vec_id % 5 = 0
"""


@declared(
    "semantic_contamination_check",
    oracle=f"""
    WITH corpus AS ({_LEAK_CORPUS_SQL}),
    tagged AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
               AS nrm,
             CASE WHEN {_bucket_sql('vec_id')} < 80 THEN 'train'
                  ELSE 'eval' END AS split
      FROM corpus
    ),
    pairs AS (
      SELECT tr.vec_id AS train_vec, te.vec_id AS eval_vec,
             list_sum(list_transform(generate_series(1, 64),
               i -> CAST(tr.embedding[i] AS DOUBLE)
                    * CAST(te.embedding[i] AS DOUBLE)))
               / (tr.nrm * te.nrm) AS cosine
      FROM tagged tr JOIN tagged te ON tr.split = 'train' AND te.split = 'eval'
    )
    SELECT train_vec, eval_vec, cosine
    FROM pairs WHERE cosine >= 0.99
    """,
)
def semantic_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: eval-split vectors whose cosine
    against some train vector is >= 0.99 -- the semantic tier of the
    leakage audit, above the exact tier (split_contamination_check) and
    the n-gram tier (ngram_contamination).  The reference's closest
    analog is its state-diff verification loop (etl_controller.py:
    2446-2448): compare what you are about to use against what is
    already committed.

    Split membership is the portable md5 bucket of vec_id (80/20), so
    membership is engine- and rerun-stable; leaks are synthesized
    verbatim copies (natural cross-pair cosine tops out ~0.45, so the
    0.99 cut sits far from any float boundary and exact copies score
    bit-identical 1.0 on both engines).

    Scale shape: candidates come from an equi-join on the 8-bit LSH
    sign-bucket (eval side multiprobes Hamming-1), NEVER train x eval --
    identical vectors share a code, so recall on verbatim leaks is exact
    while bucket population stays ~n/256.  The oracle is the unblocked
    ground truth, making every gate run a recall check of the bucketing.
    The tagged projection feeds both join sides: localCheckpoint once,
    shuffle_hash hint (both sides corpus-sized; no stats after the
    checkpoint).
    """
    from etl_rf_matrix_controller_spark.operators.similarity import (
        _BUCKET_SPARK,
        N_PLANES,
        dot_double,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
        )
    )
    tagged = (
        corpus.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            "embedding",
            F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("nrm"),
            F.expr(_BUCKET_SPARK.format(col="embedding"))
            .cast("bigint")
            .alias("bucket"),
            F.when(hash_bucket(F.col("vec_id")) < 80, "train")
            .otherwise("eval")
            .alias("split"),
        )
        .localCheckpoint(eager=True)
    )
    tr = tagged.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec"),
        F.col("embedding").alias("tre"),
        F.col("nrm").alias("tr_nrm"),
        F.col("bucket").alias("tr_bucket"),
    )
    probe_codes = F.expr(
        f"concat(array(bucket), transform(sequence(0, {N_PLANES - 1}), "
        "j -> bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))))"
    )
    te = tagged.filter(F.col("split") == "eval").select(
        F.col("vec_id").alias("eval_vec"),
        F.col("embedding").alias("tee"),
        F.col("nrm").alias("te_nrm"),
        F.explode(probe_codes).alias("probe"),
    )
    cosine = dot_double(F.col("tre"), F.col("tee")) / (
        F.col("tr_nrm") * F.col("te_nrm")
    )
    return (
        tr.join(te.hint("shuffle_hash"), F.col("tr_bucket") == F.col("probe"))
        .select("train_vec", "eval_vec", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.99)
    )


def _quality_oracle() -> str:
    # Reuse doc_quality_score's registered oracle as the scoring CTE so
    # the two stay definitionally identical (composition of declared
    # operators, the lang_confusion_matrix pattern).
    from etl_rf_matrix_controller_spark.operators import text as _text  # noqa: F401
    from etl_rf_matrix_controller_spark.plans.registry import ORACLES

    return ORACLES["doc_quality_score"]


@declared(
    "curriculum_quality_bins",
    oracle=f"""
    WITH q AS ({_quality_oracle()}),
    staged AS (
      SELECT n_tokens, quality_score,
             CAST(ntile(4) OVER (ORDER BY quality_score DESC, doc_id)
               AS BIGINT) AS stage
      FROM q
    )
    SELECT stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(quality_score) AS min_score,
           max(quality_score) AS max_score
    FROM staged
    GROUP BY stage
    """,
)
def curriculum_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: quartile-bin the corpus by quality score
    (stage 1 = cleanest quarter, trained on first/last per the chosen
    schedule) with per-stage doc and token budgets.

    Composes the declared doc_quality_score (same scoring, definitionally
    -- the oracle embeds its registered SQL).  ntile over the total order
    (score desc, doc_id) is deterministic and identical across engines
    (remainder rows go to the leading buckets in both).  At 100 TB the
    global ntile sort is the one non-scalable step; production computes
    stage boundaries from a quantile sketch of the score and assigns by
    range comparison -- same output contract, sample-pass cost.
    """
    from etl_rf_matrix_controller_spark.operators.text import doc_quality_score

    q = doc_quality_score(spark, sf_dir)
    w = Window.orderBy(F.desc("quality_score"), F.asc("doc_id"))
    staged = q.select(
        "n_tokens", "quality_score", F.ntile(4).over(w).cast("bigint").alias("stage")
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("quality_score").alias("min_score"),
        F.max("quality_score").alias("max_score"),
    )


@declared(
    "quality_length_corr_by_source",
    oracle=f"""
    WITH q AS ({_quality_oracle()}),
    feats AS (
      SELECT d.source,
             CAST(d.n_chars AS BIGINT) AS x,
             CAST(round(q.quality_score * 10000) AS BIGINT) AS y
      FROM q JOIN documents d ON d.doc_id = q.doc_id
    ),
    m AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM feats GROUP BY source
    )
    SELECT source, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
    FROM m
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def quality_length_corr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson correlation between document length and the
    declared quality score -- the curation diagnostic that catches a
    quality model that is secretly a length model (|corr| near 1 in a
    source means its "quality" signal adds nothing over n_chars).

    The grouped form of lineitem_corr_matrix's exact-moment method: all
    six moments accumulate per source in one aggregation (integer,
    order-independent; DECIMAL(38,0) in Spark for headroom -- char
    counts x 1e4-scaled scores overflow int64 sums near 1e12-row
    sources), and only the final three exact integers convert to double
    for the sqrt/divide.  Zero-variance sources are excluded explicitly
    on both engines rather than emitting engine-dependent NaN/NULL.
    """
    from etl_rf_matrix_controller_spark.operators.text import doc_quality_score

    q = doc_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    feats = docs.join(q, "doc_id").select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.round(F.col("quality_score") * 10000).cast("bigint").alias("y"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # Operands cast to decimal BEFORE the multiply so the product itself
    # (not just the sum) has HUGEINT-like headroom; bigint*bigint would
    # wrap silently in non-ANSI Spark while DuckDB errors.
    m = feats.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d(F.col("x"))).alias("sx"),
        F.sum(d(F.col("y"))).alias("sy"),
        F.sum(d(F.col("x")) * d(F.col("x"))).alias("sxx"),
        F.sum(d(F.col("y")) * d(F.col("y"))).alias("syy"),
        F.sum(d(F.col("x")) * d(F.col("y"))).alias("sxy"),
    )
    var_x = F.expr("n * sxx - sx * sx")
    var_y = F.expr("n * syy - sy * sy")
    corr = F.expr(
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
    )
    return (
        m.filter((var_x > 0) & (var_y > 0))
        .select("source", "n", corr.alias("corr"))
    )


# Fixed integer weights for the inference demo model: score is a pure
# integer function of (tokens, chars, stopwords) so the oracle can
# recompute it exactly in SQL.
_INF_W_TOKENS = 3000
_INF_W_CHARS = 200
_INF_W_STOP = -50000
_INF_BIAS = 100000


@declared(
    "model_inference_scores",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(trim(text), ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(trim(text), ' '),
                       t -> t IN ('the', 'a', 'of', 'and', 'to')))
               AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST({_INF_W_TOKENS} * n_tokens + {_INF_W_CHARS} * n_chars
                + {_INF_W_STOP} * n_stop + {_INF_BIAS} AS BIGINT)
             AS logit_scaled,
           CASE WHEN {_INF_W_TOKENS} * n_tokens + {_INF_W_CHARS} * n_chars
                     + {_INF_W_STOP} * n_stop + {_INF_BIAS} >= 150000
                THEN 'keep' ELSE 'review' END AS grade
    FROM feats
    """,
)
def model_inference_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference via Arrow-batched ``mapInPandas`` -- the
    production shape for running a quality/safety classifier over a
    100 TB corpus: one Python worker per partition, features and scores
    computed per Arrow batch with vectorized pandas ops, model weights
    closed over (a real deployment loads an ONNX/torch session once per
    worker in the generator and scores each batch; here the model is a
    fixed-integer linear scorer so the oracle can recompute it exactly
    -- the PLUMBING is the deliverable, like multimodal.py's decode).

    Tokenization inside the UDF mirrors the SQL split exactly
    (whitespace split, empties dropped); all arithmetic is integer, so
    the Python path hash-matches the engine path bit-for-bit -- which
    is also the right production check: a scorer whose features drift
    from the declared feature spec is silently mis-scoring the corpus.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stop = {"the", "a", "of", "and", "to"}

    def score_batches(batches):
        for pdf in batches:
            toks = pdf["text"].map(
                lambda t: [x for x in t.strip().split(" ") if x]
            )
            n_tokens = toks.map(len)
            n_chars = pdf["text"].str.len()
            n_stop = toks.map(lambda ts: sum(1 for t in ts if t in stop))
            logit = (
                _INF_W_TOKENS * n_tokens
                + _INF_W_CHARS * n_chars
                + _INF_W_STOP * n_stop
                + _INF_BIAS
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_tokens,
                    "logit_scaled": logit,
                    "grade": (logit >= 150000).map(
                        {True: "keep", False: "review"}
                    ),
                }
            )
            yield out

    return docs.mapInPandas(
        score_batches,
        schema="doc_id BIGINT, n_tokens BIGINT, logit_scaled BIGINT,"
        " grade STRING",
    )


# k-anonymity threshold: quasi-identifier combos observed on fewer than
# K_ANON documents are re-identification risks.
K_ANON = 5


@declared(
    "k_anonymity_risk",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_band,
             CAST(count(*) AS BIGINT) AS group_size
      FROM documents
      GROUP BY lang, source, n_chars // 100
    )
    SELECT lang, source, len_band, group_size
    FROM cells WHERE group_size < {K_ANON}
    """,
)
def k_anonymity_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (lang, source, coarse
    length band): every combination observed on fewer than K_ANON
    documents is a re-identification risk cell -- the aggregate-privacy
    complement of the per-value PII redaction stats (a doc can leak
    identity through rare ATTRIBUTE COMBINATIONS even with all direct
    identifiers scrubbed; Sweeney 2002).  Release pipelines either
    suppress these cells or coarsen the banding until none remain.

    One partial->final aggregation on the quasi-identifier key, then a
    filter on the (cell-cardinality-bounded) group table: cost is one
    corpus scan regardless of scale, and the output is bounded by
    |lang| x |source| x |bands|, never by rows.  Banding in integer
    space (n_chars DIV 100) keeps the cell key engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang",
            "source",
            F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("len_band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .filter(F.col("group_size") < K_ANON)
    )


L_DIV = 3  # minimum sensitive-attribute diversity per released cell


@declared(
    "l_diversity_report",
    oracle=f"""
    WITH cells AS (
      SELECT lang, CAST(n_chars // 100 AS BIGINT) AS len_band,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS l_distinct
      FROM documents
      GROUP BY lang, n_chars // 100
    )
    SELECT lang, len_band, n_docs, l_distinct,
           l_distinct < {L_DIV} AS at_risk
    FROM cells
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: for each quasi-identifier cell (lang x coarse
    length band) how many DISTINCT sensitive-attribute values (source)
    it contains.  A cell can satisfy k-anonymity (`k_anonymity_risk`)
    yet still leak -- if all 50 documents in a cell share one source,
    membership in the cell reveals the source exactly; l-diversity
    requires every released cell to spread over >= l sensitive values
    (Machanavajjhala et al. 2007).

    One partial->final aggregation on the QI key with an exact distinct
    on the sensitive attribute (Spark expands count(DISTINCT) into a
    two-phase expand-agg -- both phases combinable); output is bounded
    by |lang| x |bands|, never rows.  Banding stays in integer space
    (n_chars DIV 100) so cell keys are engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang", F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("len_band")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("l_distinct"),
        )
        .select(
            "lang",
            "len_band",
            "n_docs",
            "l_distinct",
            (F.col("l_distinct") < L_DIV).alias("at_risk"),
        )
    )


T_CLOSE_PPM = 200_000  # t = 0.2 EMD threshold for release


@declared(
    "t_closeness_report",
    oracle=f"""
    WITH bands AS (
      SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source, n_chars // 100
    ),
    gdist AS (
      SELECT band, CAST(sum(c) AS BIGINT) AS cb FROM bands GROUP BY band
    ),
    gcum AS (
      SELECT band,
             CAST(sum(cb) OVER (ORDER BY band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
             CAST(sum(cb) OVER () AS BIGINT) AS n_total,
             CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(row_number() OVER (ORDER BY band) AS BIGINT) AS band_rk
      FROM gdist
    ),
    grp AS (
      SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_g
      FROM bands GROUP BY lang, source
    ),
    grid AS (
      SELECT g.lang, g.source, g.n_g, gc.band, gc.cum_c, gc.n_total,
             gc.m, gc.band_rk,
             CAST(coalesce(b.c, 0) AS BIGINT) AS c
      FROM grp g CROSS JOIN gcum gc
      LEFT JOIN bands b ON b.lang = g.lang AND b.source = g.source
                       AND b.band = gc.band
    ),
    cums AS (
      SELECT lang, source, n_g, m, n_total, band_rk,
             CAST(sum(c) OVER (PARTITION BY lang, source ORDER BY band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g,
             cum_c
      FROM grid
    )
    SELECT lang, source, n_g AS n_docs,
           CAST((1000000 * sum(CASE WHEN band_rk < m
                 THEN abs(cum_g * n_total - cum_c * n_g) ELSE 0 END))
                // ((max(m) - 1) * max(n_g) * max(n_total))
                AS BIGINT) AS emd_ppm,
           CAST((1000000 * sum(CASE WHEN band_rk < m
                 THEN abs(cum_g * n_total - cum_c * n_g) ELSE 0 END))
                // ((max(m) - 1) * max(n_g) * max(n_total))
                AS BIGINT) > {T_CLOSE_PPM} AS at_risk
    FROM cums
    GROUP BY lang, source, n_g
    """,
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the release-privacy
    trio with `k_anonymity_risk` (cell size) and `l_diversity_report`
    (distinct sensitive values): for each quasi-identifier group
    (lang, source), the ordered-category Earth Mover's Distance between
    the group's length-band distribution and the corpus-wide one.  A
    cell can be k-anonymous AND l-diverse yet still leak when its
    sensitive distribution is skewed far from global; t-closeness bounds
    that skew (EMD <= t, here t=0.2).

    Ordinal EMD = sum_(i<m) |cumP_i - cumQ_i| / (m-1), cleared of both
    rational denominators by cross-multiplying (|cum_g*N - cum_C*n_g|),
    so the statistic is an exact-integer ppm floor division -- no float
    distribution vectors.  Missing bands enter the cumulative walk as
    explicit zeros via the dense group x band grid, identically on both
    engines.

    Cost: ONE documents scan into the (QI x band) cell frame
    (localCheckpointed: global distribution, group totals, and the
    grid's left-join all read it); everything downstream is bounded by
    |QI cells| x |bands|, never rows.  The dense grid is a broadcast
    cross join of two dimension-bounded frames.
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = (
        docs.groupBy(
            "lang", "source", F.expr("CAST(n_chars DIV 100 AS BIGINT)").alias("band")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)  # gdist + grp + grid left-join
    )
    gdist = bands.groupBy("band").agg(F.sum("c").cast("bigint").alias("cb"))
    wob = Window.orderBy("band")
    gcum = gdist.select(
        "band",
        F.sum("cb").over(wob.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_c"),
        F.sum("cb").over(Window.partitionBy()).cast("bigint").alias("n_total"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("m"),
        F.row_number().over(wob).cast("bigint").alias("band_rk"),
    )
    grp = bands.groupBy("lang", "source").agg(
        F.sum("c").cast("bigint").alias("n_g")
    )
    grid = (
        grp.crossJoin(F.broadcast(gcum))
        .join(
            F.broadcast(bands.select("lang", "source", "band", "c")),
            ["lang", "source", "band"],
            "left",
        )
        .select(
            "lang",
            "source",
            "n_g",
            "band",
            "cum_c",
            "n_total",
            "m",
            "band_rk",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("cc"),
        )
    )
    wg = Window.partitionBy("lang", "source").orderBy("band").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = grid.select(
        "lang",
        "source",
        "n_g",
        "m",
        "n_total",
        "band_rk",
        F.sum("cc").over(wg).cast("bigint").alias("cum_g"),
        "cum_c",
    )
    emd = F.expr(
        "CAST((1000000 * sum(CASE WHEN band_rk < m"
        "       THEN abs(cum_g * n_total - cum_c * n_g) ELSE 0 END))"
        " DIV ((max(m) - 1) * max(n_g) * max(n_total)) AS BIGINT)"
    )
    return cums.groupBy("lang", "source", F.col("n_g").alias("n_docs")).agg(
        emd.alias("emd_ppm"),
        (emd > F.lit(T_CLOSE_PPM)).alias("at_risk"),
    )


K_COVER = 4  # greedy max-coverage picks


def _cover_round_sql(r: int) -> str:
    """One unrolled greedy round: marginal gains vs cov{r-1}, pick the
    (gain DESC, doc_id) winner, extend the covered-gram set.  Every
    round CTE is MATERIALIZED: DuckDB would otherwise inline the earlier
    rounds at each reference and re-evaluate them exponentially."""
    prev_cov = f"cov{r - 1}"
    prev_picks = f"picks{r - 1}"
    return f"""
    cand{r} AS MATERIALIZED (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS gain
      FROM grams g
      WHERE g.doc_id NOT IN (SELECT doc_id FROM {prev_picks})
        AND NOT EXISTS (SELECT 1 FROM {prev_cov} c WHERE c.gram = g.gram)
      GROUP BY g.doc_id
    ),
    pick{r} AS MATERIALIZED (
      SELECT CAST({r} AS BIGINT) AS pick_order, doc_id, gain
      FROM cand{r} ORDER BY gain DESC, doc_id LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
      SELECT gram FROM {prev_cov}
      UNION
      SELECT g.gram FROM grams g JOIN pick{r} p ON p.doc_id = g.doc_id
    ),
    picks{r} AS MATERIALIZED (
      SELECT doc_id FROM {prev_picks}
      UNION ALL SELECT doc_id FROM pick{r}
    )"""


@declared(
    "max_coverage_greedy",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    grams AS MATERIALIZED (
      SELECT doc_id, g.gram
      FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(length(trim(text)) - 7, 1)),
                 i -> substring(trim(text), CAST(i AS INT), 8))) AS grams
        FROM corpus
      ) grammed, unnest(grams) AS g(gram)
    ),
    cov0 AS (SELECT NULL AS gram WHERE FALSE),
    picks0 AS (SELECT NULL::BIGINT AS doc_id WHERE FALSE),
    {", ".join(_cover_round_sql(r) for r in range(1, K_COVER + 1))}
    SELECT pick_order, doc_id, gain,
           CAST(sum(gain) OVER (ORDER BY pick_order
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS covered_total
    FROM (
      {" UNION ALL ".join(f"SELECT * FROM pick{r}"
                          for r in range(1, K_COVER + 1))}
    )
    """,
)
def max_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage corpus selection (the 1-1/e submodular
    baseline, Nemhauser et al. 1978): pick K_COVER documents one at a
    time, each maximizing the count of char-8-grams NOT yet covered by
    earlier picks -- the data-selection primitive behind diverse-subset
    curation (choose the docs that together span the most distinct
    content, the coverage cousin of kcenter_coreset_select's geometric
    spread).  Ties break to the lower doc_id.

    Each round is ONE map-only pass over the per-doc gram ARRAYS: gain =
    n_grams - |toks intersect covered| per row (the covered set rides as
    a broadcast 1-row array, <= K_COVER x one doc's grams), then a global
    argmax via TakeOrderedAndProject (no shuffle, no global sort).  The
    winner's gram array comes back ON the argmax row, so a round is a
    single job -- the previous exploded-row shape paid, per round, a
    full-corpus hash aggregation, a covered-set union+distinct shuffle,
    an eager localCheckpoint job, and a separate winner-gram fetch.
    Rounds are the only sequential dependency -- the standard lazy-greedy
    accelerations (priority queues on stale gains) trade exactness for
    fewer passes.
    """
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.trim("text")
    toks = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - 7, F.lit(1))),
            lambda i: t.substr(i, F.lit(8)),
        )
    )
    docsets = (
        corpus.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.size("toks").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )

    picks: list[tuple[int, int, int]] = []  # (order, doc_id, gain)
    covered: set[str] = set()
    for r in range(1, K_COVER + 1):
        if picks:
            cov_df = spark.createDataFrame(
                [(sorted(covered),)], "cov array<string>"
            )
            cand = (
                docsets.filter(~F.col("doc_id").isin([p[1] for p in picks]))
                .crossJoin(F.broadcast(cov_df))
                .select(
                    "doc_id",
                    "toks",
                    (
                        F.col("n")
                        - F.size(F.array_intersect("toks", "cov")).cast("bigint")
                    ).alias("gain"),
                )
            )
        else:
            cand = docsets.select("doc_id", "toks", F.col("n").alias("gain"))
        top_rows = (
            # gain > 0 mirrors the oracle's cand{r}: a doc whose grams
            # are all covered produces no count(*) row there, so it must
            # not win here either.
            cand.filter(F.col("gain") > 0)
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not top_rows:
            # All remaining docs fully covered (or corpus < K_COVER):
            # stop early and emit fewer picks, mirroring the oracle.
            break
        top = top_rows[0]
        picks.append((r, top.doc_id, int(top.gain)))
        covered.update(top.toks)

    out = spark.createDataFrame(
        picks, "pick_order bigint, doc_id bigint, gain bigint"
    )
    w = Window.orderBy("pick_order").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "pick_order",
        "doc_id",
        "gain",
        F.sum("gain").over(w).cast("bigint").alias("covered_total"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe temporal split (round 7b)
# ---------------------------------------------------------------------------

# Embargo gap between the train cutoff and the first admissible test
# event: 3 days in epoch microseconds.
EMBARGO_US = 3 * 86400 * 1000000


@declared(
    "temporal_embargo_split",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS mn,
             CAST(max(epoch_us(ts)) AS BIGINT) AS mx
      FROM events
    ),
    cut AS (
      SELECT mn + ((mx - mn) * 8) // 10 AS cutoff_us
      FROM bounds
    ),
    tagged AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) <= cutoff_us THEN 'train'
                  WHEN epoch_us(ts) <= cutoff_us + {EMBARGO_US}
                    THEN 'embargo'
                  ELSE 'test' END AS split
      FROM events CROSS JOIN cut
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS n_straddle_users
      FROM (
        SELECT user_id FROM tagged
        GROUP BY user_id
        HAVING sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) > 0
      )
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(ts_us) AS BIGINT) AS min_ts_us,
           CAST(max(ts_us) AS BIGINT) AS max_ts_us,
           (SELECT n_straddle_users FROM leak) AS n_straddle_users
    FROM tagged
    GROUP BY split
    """,
)
def temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal train/test split with an embargo gap: events
    up to the 80%-of-timespan cutoff train, events inside the following
    {EMBARGO_US // 86400000000}-day embargo are QUARANTINED (neither
    split -- the forecasting-evaluation discipline that stops
    label-horizon leakage across the boundary), and the remainder tests.
    Complements the key-hash splits (`hash_split_assign`,
    `group_kfold_assign`): time-ordered data must split on TIME or the
    model trains on the future.  Also reports n_straddle_users (users
    with events in BOTH train and test) -- the entity-leakage dial that
    tells an operator whether a user-level embargo is ALSO needed.

    Exactness: the cutoff is min + ((max-min)*8 DIV 10) in epoch
    microseconds -- pure integer arithmetic, identical cross-engine
    (DuckDB's fractional epoch() avoided via epoch_us).  The bounds scan
    aggregates to one broadcast row; tagging is a map-side CASE, so the
    whole split costs one agg + one pass at any scale.  Output: one row
    per split with event/user counts, span, and the shared straddle
    count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    bounds = ev.agg(
        F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")
    )
    cut = bounds.select(
        F.expr("mn + ((mx - mn) * 8) DIV 10").alias("cutoff_us")
    )
    tagged = (
        ev.crossJoin(F.broadcast(cut))
        .select(
            "user_id",
            "ts_us",
            F.when(F.col("ts_us") <= F.col("cutoff_us"), "train")
            .when(F.col("ts_us") <= F.col("cutoff_us") + EMBARGO_US, "embargo")
            .otherwise("test")
            .alias("split"),
        )
        .localCheckpoint(eager=True)
    )
    leak = (
        tagged.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("tr"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("te"),
        )
        .filter((F.col("tr") > 0) & (F.col("te") > 0))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_straddle_users"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("ts_us").cast("bigint").alias("min_ts_us"),
            F.max("ts_us").cast("bigint").alias("max_ts_us"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            "split", "n_events", "n_users", "min_ts_us", "max_ts_us",
            "n_straddle_users",
        )
    )


# ---------------------------------------------------------------------------
# Right-to-erasure cascade audit (round 7b)
# ---------------------------------------------------------------------------

@declared(
    "pii_delete_cascade",
    oracle="""
    WITH erased AS MATERIALIZED (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ),
    ord AS MATERIALIZED (
      SELECT o_orderkey,
             CASE WHEN o_custkey IN (SELECT c_custkey FROM erased)
                  THEN 1 ELSE 0 END AS del
      FROM orders
    ),
    li AS (
      SELECT CASE WHEN l_orderkey IN
                    (SELECT o_orderkey FROM ord WHERE del = 1)
                  THEN 1 ELSE 0 END AS del
      FROM lineitem
    ),
    per AS (
      SELECT 'customer' AS table_name,
             CAST((SELECT count(*) FROM erased) AS BIGINT) AS n_deleted,
             CAST(count(*) - (SELECT count(*) FROM erased) AS BIGINT)
               AS n_retained
      FROM customer
      UNION ALL
      SELECT 'orders', CAST(sum(del) AS BIGINT),
             CAST(count(*) - sum(del) AS BIGINT) FROM ord
      UNION ALL
      SELECT 'lineitem', CAST(sum(del) AS BIGINT),
             CAST(count(*) - sum(del) AS BIGINT) FROM li
    )
    SELECT table_name, n_deleted, n_retained,
           CAST((n_deleted * 1000000)
                // (n_deleted + n_retained) AS BIGINT) AS deleted_ppm
    FROM per
    """,
)
def pii_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: given an erasure set (customers
    with negative account balance -- the deterministic stand-in for a
    GDPR delete queue), report how many rows each downstream table loses
    when the deletion CASCADES through the foreign-key chain customer ->
    orders -> lineitem, plus the retained counts and the deleted share
    in ppm.  The audit a privacy officer signs before a delete job runs,
    complementing `k_anonymity_risk` / `l_diversity_report` (disclosure
    risk) with deletion blast-radius; `referential_orphans` checks the
    same chain's integrity from the opposite direction.

    Plan: the erasure keys aggregate to an eager checkpoint consumed by
    both branches; orders tag via a semi-join-shaped broadcast IN (the
    erasure set is request-queue-sized -- small by nature -- so
    broadcast is the honest 100 TB plan), and the order-key set that
    cascades to lineitem is fact-scaled, so THAT join is shuffle-hash,
    never a broadcast.  Per-table rollups are 1-row aggs unioned."""
    cust = load_table(spark, sf_dir, "customer")
    erased = (
        cust.filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
        .localCheckpoint(eager=True)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    ord_tag = orders.join(
        F.broadcast(erased.withColumnRenamed("c_custkey", "o_custkey")).withColumn(
            "hit", F.lit(1)
        ),
        "o_custkey",
        "left",
    ).select("o_orderkey", F.coalesce(F.col("hit"), F.lit(0)).alias("del"))
    ord_tag = ord_tag.localCheckpoint(eager=True)
    del_orders = ord_tag.filter(F.col("del") == 1).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    li_tag = li.join(
        del_orders.withColumn("hit", F.lit(1)).hint("shuffle_hash"),
        "o_orderkey",
        "left",
    ).select(F.coalesce(F.col("hit"), F.lit(0)).alias("del"))
    # 1-row per-table rollups (the scalar-union shape).
    c_total = cust.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    c_del = erased.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    cust_row = (
        c_total.crossJoin(F.broadcast(c_del))
        .select(
            F.lit("customer").alias("table_name"),
            F.col("d").alias("n_deleted"),
            (F.col("t") - F.col("d")).cast("bigint").alias("n_retained"),
        )
    )
    ord_row = ord_tag.agg(
        F.lit("orders").alias("table_name"),
        F.sum("del").cast("bigint").alias("n_deleted"),
        (F.count(F.lit(1)) - F.sum("del")).cast("bigint").alias("n_retained"),
    )
    li_row = li_tag.agg(
        F.lit("lineitem").alias("table_name"),
        F.sum("del").cast("bigint").alias("n_deleted"),
        (F.count(F.lit(1)) - F.sum("del")).cast("bigint").alias("n_retained"),
    )
    per = cust_row.unionByName(ord_row).unionByName(li_row)
    return per.select(
        "table_name",
        "n_deleted",
        "n_retained",
        F.expr(
            "CAST((n_deleted * 1000000) DIV (n_deleted + n_retained) AS BIGINT)"
        ).alias("deleted_ppm"),
    )


@declared(
    "dp_geometric_noisy_counts",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY 1, 2
    ),
    seeded AS (
      SELECT *,
             CAST(('0x' || substring(
               md5(event_type || '|' || CAST(day AS VARCHAR)), 1, 8))
               AS BIGINT) AS u
      FROM daily
    ),
    noised AS (
      SELECT event_type, day, true_n,
             CASE
               WHEN 3 * u < 4294967296 THEN
                 -CAST(len(list_filter(generate_series(1, 33),
                   j -> 3 * u < (8589934592 // (CAST(1 AS BIGINT) << (j - 1)))))
                   AS BIGINT)
               WHEN 3 * u >= 8589934592 THEN
                 CAST(len(list_filter(generate_series(1, 33),
                   j -> 3 * (4294967296 - u)
                        <= (8589934592 // (CAST(1 AS BIGINT) << (j - 1)))))
                   AS BIGINT)
               ELSE CAST(0 AS BIGINT)
             END AS noise
      FROM seeded
    )
    SELECT event_type, day, true_n, noise,
           greatest(CAST(0 AS BIGINT), true_n + noise) AS dp_n,
           CAST(693147 AS BIGINT) AS epsilon_ppm
    FROM noised
    """,
)
def dp_geometric_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-(event_type, day) counts via the
    two-sided GEOMETRIC mechanism with p = 1/2 (epsilon = ln 2 ~=
    0.693147, reported as the literal constant -- no ln() is ever
    computed): P(noise = 0) = 1/3, P(noise = +-k) = (1/3) * 2^-k.  The
    geometric mechanism is the discrete, utility-optimal counterpart of
    Laplace for integer counts (Ghosh, Roughgarden & Sundararajan 2009)
    -- and the only DP mechanism expressible EXACTLY in integer
    arithmetic: the inverse CDF at p = 1/2 reduces to power-of-two
    threshold comparisons, so no transcendental (the documented ln()
    cross-engine trap) appears anywhere.  Completes the privacy family:
    k-anonymity / l-diversity / t-closeness audit a release,
    `pii_delete_cascade` erases, this RELEASES a protected aggregate.

    The noise draw is a deterministic md5 seed per released cell
    (u = first 8 md5 hex digits, uniform on [0, 2^32)): inverse-CDF
    regions are integer compares of 3u against 2^32/2^33, and the tail
    depth is a bounded 33-term threshold count -- exact to the 2^-32
    quantization of u.  Deterministic seeding is what makes the release
    testable cross-engine; a production run would swap u for a real
    RNG, nothing else changes.  Post-processing clamp max(0, n+noise)
    is DP-free.  Shape: one events scan -> |types|x|days| rollup; the
    noise math is per-row expression work on the tiny released frame.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    seeded = daily.withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "event_type", F.col("day").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    noised = seeded.withColumn(
        "noise",
        F.expr(
            """
            CASE
              WHEN 3 * u < 4294967296 THEN
                -CAST(size(filter(sequence(1, 33),
                  j -> 3 * u < (8589934592 DIV shiftleft(CAST(1 AS BIGINT),
                                                         j - 1))))
                  AS BIGINT)
              WHEN 3 * u >= 8589934592 THEN
                CAST(size(filter(sequence(1, 33),
                  j -> 3 * (4294967296 - u)
                       <= (8589934592 DIV shiftleft(CAST(1 AS BIGINT),
                                                    j - 1))))
                  AS BIGINT)
              ELSE CAST(0 AS BIGINT)
            END
            """
        ),
    )
    return noised.select(
        "event_type",
        "day",
        "true_n",
        "noise",
        F.greatest(F.lit(0).cast("bigint"), F.col("true_n") + F.col("noise")).alias(
            "dp_n"
        ),
        F.lit(693147).cast("bigint").alias("epsilon_ppm"),
    )
