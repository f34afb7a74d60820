"""Text analysis: token counting, quality scoring, language ID, fingerprints.

Extension operators for training-data pipelines (build contract SS2.11 and
the LLM-pipeline mandate): everything a 100 TB text corpus needs before
training -- token statistics, heuristic quality scores, n-gram language
identification, and rolling-hash fingerprints.

Scale design: all pure projections or single-shuffle aggregations; token
explosion happens map-side and collapses in partial aggregation; no Python
in any hot path (higher-order functions + built-ins only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.plans.conventions import (
    exact_avg,
    exact_avg_sql,
    ratio4,
    ratio4_sql,
)
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
STOPWORDS = ("the", "a", "of", "and", "to")


@declared(
    "doc_token_counts",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (
      SELECT t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ) tt
    GROUP BY token
    HAVING count(*) >= 5
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: corpus token frequency with a support threshold (no LIMIT --
    thresholds are stable, row order is not).  Explode + partial-agg:
    the shuffle carries one row per distinct token per partition."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )


@declared(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens_ws,
           len(regexp_extract_all(text, '{BPE_RE}')) AS n_tokens_bpe,
           length(text) AS n_chars_text,
           ((((2 * (length(replace(trim(text), ' ', ''))) * 10000 + (len(string_split_regex(trim(text), '\\s+')))) - (2 * (length(replace(trim(text), ' ', ''))) * 10000 + (len(string_split_regex(trim(text), '\\s+')))) % (2 * (len(string_split_regex(trim(text), '\\s+'))))) / (2 * (len(string_split_regex(trim(text), '\\s+'))))) / 10000.0)
             AS avg_token_len
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / symbols) -- the standard
    pre-count before a real BPE pass.  Pure projection, codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim("text")
    n_ws = F.size(F.split(t, r"\s+"))
    return docs.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_text"),
        ratio4(F.length(F.replace(t, F.lit(" "), F.lit(""))), n_ws).alias(
            "avg_token_len"
        ),
    )


@declared(
    "doc_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(string_split(trim(text), ' '),
                             t -> t IN {STOPWORDS!r})) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           ((((2 * (n_stop) * 10000 + (n_tokens)) - (2 * (n_stop) * 10000 + (n_tokens)) % (2 * (n_tokens))) / (2 * (n_tokens))) / 10000.0) AS stop_ratio,
           (least(5000, n_tokens * 50) + least(3000, n_chars * 6)
            + CASE WHEN 50 * n_stop >= n_tokens AND 5 * n_stop <= 2 * n_tokens
                   THEN 2000 ELSE 0 END) / 10000.0 AS quality_score
    FROM feats
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + stopword-ratio
    plausibility band (the classic Gopher-style rule shape).  All
    higher-order built-ins; no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim("text")
    n_tokens = F.size(F.split(t, r"\s+"))
    n_chars = F.length("text")
    n_stop = F.size(
        F.filter(
            F.split(t, " "),
            lambda tok: tok.isin(*STOPWORDS),
        )
    )
    # Integer-exact scoring: components expressed in 1e-4 units so the
    # score is pure int arithmetic (cross-engine round() divergence cannot
    # bite).  Band predicate 0.02 <= stop/tok <= 0.4 rewritten integrally.
    score_scaled = (
        F.least(F.lit(5000), n_tokens * 50)
        + F.least(F.lit(3000), n_chars * 6)
        + F.when(
            (50 * n_stop >= n_tokens) & (5 * n_stop <= 2 * n_tokens), 2000
        ).otherwise(0)
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        ratio4(n_stop, n_tokens).alias("stop_ratio"),
        (score_scaled / 10000.0).alias("quality_score"),
    )


# Shared CTE chain for the marker-based language-ID model: learn top-5
# tokens per language, score docs by marker hits, argmax per doc.  Used by
# lang_id_markers (per-doc predictions) and lang_confusion_matrix (the
# evaluation rollup of the same model).
_LANG_ID_CTES = """tok AS (
      SELECT doc_id, lang, t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    freq AS (
      SELECT lang, token, count(*) AS c FROM tok GROUP BY lang, token
    ),
    markers AS (
      SELECT lang AS cand, token FROM (
        SELECT lang, token,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, token)
                 AS rn
        FROM freq
      ) r WHERE rn <= 5
    ),
    scores AS (
      SELECT tok.doc_id, m.cand, count(*) AS hits
      FROM tok JOIN markers m ON tok.token = m.token
      GROUP BY tok.doc_id, m.cand
    ),
    best AS (
      SELECT doc_id, cand AS pred_lang, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, cand) AS rn
      FROM scores
    )"""


@declared(
    "lang_id_markers",
    oracle=f"""
    WITH {_LANG_ID_CTES}
    SELECT b.doc_id, d.lang AS actual_lang, b.pred_lang, b.hits
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rn = 1
    """,
)
def lang_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID, two-pass: (1) learn the top-5 marker
    tokens per language from the corpus itself, (2) classify each doc by
    marker-hit argmax (deterministic tiebreak: hits desc, lang asc).

    Scale: pass 1 is a tiny model (25 rows) broadcast back; pass 2 is an
    explode + broadcast join + argmax window per doc -- linear in corpus
    size, no cross-doc shuffle beyond the per-doc aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The token stream feeds both the marker-learning pass and the
    # scoring join; checkpoint it once (same discipline as search.py's
    # postings) so the corpus is scanned+exploded once, not twice.
    # Rebalance BEFORE the explode so the fan-out uses every core.
    tok = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .localCheckpoint(eager=False)
    )
    freq = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    markers = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(F.col("lang").alias("cand"), "token")
    )
    scores = tok.join(F.broadcast(markers), "token").groupBy("doc_id", "cand").agg(
        F.count(F.lit(1)).alias("hits")
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand"))
    best = (
        scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"), "hits")
    )
    return best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", F.col("lang").alias("actual_lang"), "pred_lang", "hits"
    )


@declared(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(list_reduce(
             list_prepend(0::BIGINT,
               list_transform(
                 generate_series(1, least(24, length(trim(text)))),
                 i -> ascii(substring(trim(text), CAST(i AS INT), 1))::BIGINT
               )),
             (acc, x) -> (acc * 31 + x) % 1000000007
           ) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash (base 31 mod 1e9+7) over the first 24 chars:
    the shift-register fingerprint used for fast prefix dedup.  Pure
    higher-order fold, integer-exact on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim("text")
    codes = F.transform(
        F.sequence(F.lit(1), F.least(F.lit(24), F.length(t))),
        lambda i: F.ascii(t.substr(i, F.lit(1))).cast("long"),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return docs.select("doc_id", fp.cast("bigint").alias("fingerprint"))


@declared(
    "term_rarity_top3",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             CAST((tf.tf * 1000000) // df.df AS BIGINT) AS score_ppm
      FROM tf JOIN df ON df.token = tf.token
    )
    SELECT doc_id, token, tf, df, score_ppm, rnk
    FROM (
      SELECT *, CAST(row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY score_ppm DESC, token) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def term_rarity_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-shaped term scoring: per-doc term frequency weighted by
    inverse document frequency, top-3 terms per doc.

    score_ppm = tf * 1e6 // df keeps the classic tf/df rarity ordering in
    pure integer arithmetic (hash-exact; a float idf log would differ in
    the last ulp across engines' libm).  Two aggregations -- tf on
    (doc, token), df on token with map-side-combinable distinct -- then
    the tiny df table broadcasts back onto tf; at 100 TB df is at most
    vocabulary-sized, the textbook broadcast dim.  The driver's word-salad
    corpus has a near-flat df, so ranking degenerates toward tf-ordering
    here; on a real corpus the same plan yields true rarity weighting.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.expr("CAST((tf * 1000000) DIV df AS BIGINT)").alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_ppm"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "score_ppm", "rnk")
    )


_N_TOK_SQL = "CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)"


@declared(
    "source_quality_profile",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           {exact_avg_sql("CAST(n_chars AS DOUBLE)")} AS avg_chars,
           {exact_avg_sql(_N_TOK_SQL)} AS avg_tokens,
           {ratio4_sql(
               "sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)", "count(*)"
           )} AS long_doc_ratio
    FROM documents
    GROUP BY source
    """,
)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc count, language spread, mean
    length in chars and whitespace tokens, share of long (>=200 char)
    docs -- the per-domain triage table a curation pipeline keys its
    source weighting on (CCNet-style per-source quality binning).

    One scan, one shuffle on `source`; every metric is either an integer
    count or an integer-space exact average/ratio, partial->final
    combinable.  The distinct-lang count is the only per-group distinct
    and rides the same shuffle key.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        exact_avg(F.col("n_chars").cast("double")).alias("avg_chars"),
        exact_avg(n_tok.cast("double")).alias("avg_tokens"),
        ratio4(
            F.sum(F.when(F.col("n_chars") >= 200, 1).otherwise(0)),
            F.count(F.lit(1)),
        ).alias("long_doc_ratio"),
    )


@declared(
    "vocab_build",
    oracle="""
    WITH tok AS (
      SELECT t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
    ),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM tok GROUP BY token
    )
    SELECT token, n_occurrences,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC)
                AS BIGINT) AS vocab_id
    FROM counts
    """,
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary: token -> dense id ordered by count
    desc (token asc tiebreak) -- the id-assignment step before any
    embedding/BPE training run.

    Token counting is a partial->final aggregate over the exploded
    corpus; the ranking window is unpartitioned but runs over the
    ALREADY-AGGREGATED vocabulary (|vocab| rows, not |corpus|), the
    standard way to mint contiguous ids.  At 100 TB the vocab table is
    the small output of the big aggregation -- exactly what a single
    task can rank.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return counts.select(
        "token",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("vocab_id"),
    )


@declared(
    "lang_confusion_matrix",
    oracle=f"""
    WITH {_LANG_ID_CTES}
    SELECT d.lang AS actual_lang, b.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rn = 1
    GROUP BY d.lang, b.pred_lang
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation rollup of the marker language-ID: (actual,
    predicted) doc counts -- the confusion matrix a curation pipeline
    watches to decide whether its classifier is safe to filter on.

    Pure composition: reuses lang_id_markers' per-doc argmax and adds one
    low-cardinality (|langs|^2 keys) aggregate on top -- composition of
    declared operators is itself an operator, same plan discipline.
    """
    preds = lang_id_markers(spark, sf_dir)
    return preds.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@declared(
    "bpe_merge_pair_counts",
    oracle="""
    WITH tok AS (
      SELECT t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    wf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY token
    ),
    wp AS (
      SELECT cnt,
             list_transform(generate_series(1, length(token) - 1),
                            i -> substring(token, i, 2)) AS pairs
      FROM wf WHERE length(token) >= 2
    ),
    pc AS (
      SELECT p.pair, CAST(sum(cnt) AS BIGINT) AS pair_count
      FROM wp, unnest(pairs) AS p(pair)
      GROUP BY p.pair
    )
    SELECT pair, pair_count, rnk
    FROM (
      SELECT pair, pair_count,
             CAST(row_number() OVER (ORDER BY pair_count DESC, pair)
               AS BIGINT) AS rnk
      FROM pc
    ) WHERE rnk <= 20
    """,
)
def bpe_merge_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner step of BPE tokenizer training: corpus-weighted counts of
    adjacent symbol pairs, top-20 merge candidates (the pair a BPE trainer
    would merge next, iterated to build the vocab).

    Plan: the token explode collapses immediately into the word-frequency
    table (vocab-sized, partial-agg map-side), and the character-pair
    explode runs over DISTINCT words weighted by their counts -- at 100 TB
    the pair fan-out is O(vocab * word_len), independent of corpus size,
    which is why real BPE trainers also operate on the word-count table
    rather than the raw stream.  Guard: single-char words are filtered
    BEFORE the pair transform on both engines (Spark's sequence(1, 0)
    yields a DESCENDING [1,0], DuckDB's generate_series(1, 0) is empty --
    an engine-semantics trap, not a no-op).
    """
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wp = wf.filter(F.length("token") >= 2).select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair"),
    )
    pc = wp.groupBy("pair").agg(F.sum("cnt").cast("bigint").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        pc.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 20)
        .select("pair", "pair_count", "rnk")
    )


def _bpe_fold_sql(a: str, b: str, m: str, acc: str = "acc", x: str = "x") -> str:
    """Greedy left-to-right BPE merge of pair (a, b) -> m as a string
    fold over a '|'-delimited symbol accumulator -- the SAME expression
    text works as a Spark ``aggregate`` lambda body and a DuckDB
    ``list_reduce`` lambda body (both engines' CASE/left/length/concat
    agree; symbols never contain '|').  The trailing symbol of ``acc``
    equals ``a`` iff acc == a (single symbol) or acc ends with '|' || a
    (symbols are '|'-free); replacing it appends m after stripping a.
    Greedy non-overlap falls out: once merged, the trailing symbol is m,
    which no longer equals a for the next element.  Suffix test spelled
    with right() -- Spark names the predicate endswith, DuckDB
    ends_with, but right(s, n) is identical on both.

    The merged-pair symbols are interpolated as SQL string LITERALS, so
    quotes are escaped ('' on both engines); the '|' delimiter itself is
    load-bearing and cannot be escaped -- tokens containing '|' are
    rejected loudly upstream (the raise_error guard in
    bpe_two_merge_train, mirroring _winnow_enc), because a '|' inside a
    token would corrupt the fold IDENTICALLY on both engines and the
    oracle gate could never catch it."""
    aq, bq, mq = (s.replace("'", "''") for s in (a, b, m))
    return (
        f"CASE WHEN {x} = '{bq}' AND ({acc} = '{aq}' OR "
        f"right({acc}, {len(a) + 1}) = '|{aq}') "
        f"THEN concat(left({acc}, length({acc}) - {len(a)}), '{mq}') "
        f"ELSE concat({acc}, '|', {x}) END"
    )


_BPE_WORDS_SQL = """
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             list_transform(generate_series(1, length(w)),
                            i -> substring(w, i, 1)) AS syms
      FROM (
        SELECT t.w
        FROM documents, unnest(string_split(trim(text), ' ')) AS t(w)
        WHERE t.w <> ''
      ) GROUP BY w
"""

_BPE_PAIRS_SQL = """
      SELECT syms[i] AS a, syms[i + 1] AS b,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM {src}, unnest(generate_series(1, len(syms) - 1)) AS t(i)
      GROUP BY 1, 2
"""


@declared(
    "bpe_two_merge_train",
    oracle=f"""
    WITH words AS MATERIALIZED ({_BPE_WORDS_SQL}),
    p1 AS ({_BPE_PAIRS_SQL.format(src="words")}),
    top1 AS (
      SELECT a, b, a || b AS m, cnt
      FROM p1 ORDER BY cnt DESC, a, b LIMIT 1
    ),
    words2 AS MATERIALIZED (
      SELECT freq,
             string_split(list_reduce(w.syms, (acc, x) -> CASE
               WHEN x = t.b AND (acc = t.a
                                 OR right(acc, length(t.a) + 1) = '|' || t.a)
               THEN left(acc, length(acc) - length(t.a)) || t.m
               ELSE acc || '|' || x END), '|') AS syms
      FROM words w CROSS JOIN top1 t
    ),
    p2 AS ({_BPE_PAIRS_SQL.format(src="words2")}),
    top2 AS (
      SELECT a, b, a || b AS m, cnt
      FROM p2 ORDER BY cnt DESC, a, b LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS step, a AS sym_a, b AS sym_b,
           m AS merged, cnt AS pair_count
    FROM top1
    UNION ALL
    SELECT CAST(2 AS BIGINT), a, b, m, cnt FROM top2
    """,
)
def bpe_two_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO ITERATIONS of actual BPE tokenizer training (Sennrich et al.
    2016), not just the candidate count bpe_merge_pair_counts stops at:
    round 1 counts corpus-weighted adjacent symbol pairs over the
    word-frequency table, merges the argmax pair (greedy left-to-right,
    the reference algorithm's semantics) into every word's symbol
    sequence, and round 2 recounts over the POST-MERGE sequences -- so
    step 2's winner can itself contain step 1's merged symbol, which is
    the property that makes BPE build multi-char vocab units.  Ties
    break deterministically by (count DESC, pair lexicographic) on both
    engines.

    Scale: identical posture to bpe_merge_pair_counts -- every round is
    O(vocab * word_len) over the DISTINCT-word table (corpus-size
    independent after the one tokenize+count shuffle), exactly why real
    BPE trainers operate on word counts.  The merge itself is a
    per-word string fold (aggregate() in Spark, list_reduce in DuckDB,
    SAME lambda body via _bpe_fold_sql); the argmax pair is a 1-row
    bounded collect per round (the max_coverage_greedy convention).
    Single-char words carry no pairs: the pair transform guards
    size >= 2 (Spark sequence(1, 0) is DESCENDING, DuckDB
    generate_series(1, 0) is empty -- the pinned cross-engine trap).
    """
    docs = load_table(spark, sf_dir, "documents")
    # Loud guard (the _winnow_enc pattern): a token containing the '|'
    # fold delimiter would corrupt the merge IDENTICALLY on both engines
    # (oracle-undetectable), and a quote would break the generated SQL
    # literal -- raise at execution instead of silently mis-merging.
    # The guard is LOAD-BEARING (syms derives from the guarded value, so
    # column pruning cannot elide it) and runs over the vocab-sized
    # distinct-word table, not the raw stream.
    w_guarded = F.when(
        F.col("w").contains("|") | F.col("w").contains("'"),
        F.raise_error(
            F.lit(
                "bpe_two_merge_train: token contains '|' or a quote; "
                "the '|'-delimited fold would corrupt identically on "
                "both engines (swap the delimiter or pre-clean tokens)"
            )
        ),
    ).otherwise(F.col("w"))
    words = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select("freq", w_guarded.alias("w"))
        .select(
            "freq",
            F.expr(
                "transform(sequence(1, length(w)),"
                " i -> substring(w, i, 1))"
            ).alias("syms"),
        )
        .localCheckpoint(eager=True)  # vocab-sized; feeds both rounds
    )

    def pair_counts(wdf: DataFrame) -> DataFrame:
        return (
            wdf.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS a,"
                        " element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )

    def top_pair(wdf: DataFrame):
        row = (
            pair_counts(wdf)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()[0]
        )
        return row.a, row.b, row.a + row.b, row.cnt

    def merge(wdf: DataFrame, a: str, b: str, m: str) -> DataFrame:
        fold = _bpe_fold_sql(a, b, m)
        return wdf.select(
            "freq",
            F.expr(
                f"split(aggregate(slice(syms, 2, size(syms) - 1),"
                f" element_at(syms, 1), (acc, x) -> {fold}), '[|]')"
            ).alias("syms"),
        ).localCheckpoint(eager=True)

    a1, b1, m1, c1 = top_pair(words)
    a2, b2, m2, c2 = top_pair(merge(words, a1, b1, m1))
    return spark.createDataFrame(
        [(1, a1, b1, m1, c1), (2, a2, b2, m2, c2)],
        "step bigint, sym_a string, sym_b string, merged string,"
        " pair_count bigint",
    )


_WS_SQL = "sum(len(string_split_regex(trim(text), '\\s+')))"
_BPE_SQL = f"sum(len(regexp_extract_all(text, '{BPE_RE}')))"


@declared(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST({_WS_SQL} AS BIGINT) AS ws_tokens,
           CAST({_BPE_SQL} AS BIGINT) AS bpe_tokens,
           {ratio4_sql(_BPE_SQL, _WS_SQL)} AS fertility4
    FROM documents
    GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word -- the standard multilingual-tokenizer health metric (fertility
    near 1 = efficient encoding; high fertility = the language pays more
    sequence length per word, skewing compute budgets).

    Single aggregation pass; both token counts are pure projections
    folded map-side, and the ratio is integer-space (ratio4) so the
    engines agree bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim("text")
    n_ws = F.size(F.split(t, r"\s+")).cast("bigint")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).cast("bigint")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(n_ws).cast("bigint").alias("ws_tokens"),
        F.sum(n_bpe).cast("bigint").alias("bpe_tokens"),
        ratio4(F.sum(n_bpe), F.sum(n_ws)).alias("fertility4"),
    )


@declared(
    "tokenizer_oov_rate",
    oracle="""
    WITH tok AS (
      SELECT t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt,
             CAST(row_number() OVER (ORDER BY count(*) DESC, token)
               AS BIGINT) AS rnk
      FROM tok GROUP BY token
    ),
    cum AS (
      SELECT rnk,
             CAST(sum(cnt) OVER (ORDER BY rnk) AS BIGINT) AS covered,
             CAST(sum(cnt) OVER () AS BIGINT) AS total
      FROM vocab
    )
    SELECT rnk AS vocab_k, covered, total,
           CAST(((total - covered) * 1000000) // total AS BIGINT) AS oov_ppm
    FROM cum WHERE rnk IN (10, 20, 30)
    """,
)
def tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary mass at candidate vocab sizes: the fraction of
    corpus tokens NOT covered by the top-K vocabulary, for K along the
    coverage curve -- the sizing analysis run before fixing a
    tokenizer's vocab (each row answers "if the vocab stopped at K,
    how much of the corpus falls to <unk>?").

    Token counts collapse map-side to the vocab table; the coverage
    cumsum is a window over VOCAB rank (vocab-sized, corpus-independent
    -- the same reason bpe_merge_pair_counts works at 100 TB), and the
    OOV share is an integer ppm.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
            .cast("bigint"),
        )
    )
    cum = vocab.select(
        "rnk",
        F.sum("cnt").over(Window.orderBy("rnk")).cast("bigint").alias("covered"),
        F.sum("cnt").over(
            Window.orderBy("rnk").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("total"),
    )
    return cum.filter(F.col("rnk").isin(10, 20, 30)).select(
        F.col("rnk").alias("vocab_k"),
        "covered",
        "total",
        F.expr("CAST(((total - covered) * 1000000) DIV total AS BIGINT)").alias(
            "oov_ppm"
        ),
    )


@declared(
    "doc_char_gini",
    oracle="""
    WITH chars AS (
      SELECT doc_id, c.c AS ch
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, length(trim(text))),
                              i -> substring(trim(text), CAST(i AS INT), 1))
                 AS cs
        FROM documents
      ) t, unnest(cs) AS c(c)
    ),
    percnt AS (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      FROM chars GROUP BY doc_id, ch
    ),
    agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM percnt GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars_eff,
           CAST(1000000 - (s2 * 1000000) // (n * n) AS BIGINT) AS gini_ppm
    FROM agg WHERE n > 0
    """,
)
def doc_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Gini impurity (1 - sum p_i^2, in ppm) -- the
    log-free cousin of character entropy and the same quality signal:
    near-zero marks low-diversity degenerate text (one repeated char),
    high values mark natural character mixes; used alongside
    doc_repetition_score to catch keyboard-mash and padding docs.

    Gini is RATIONAL where entropy needs log(), so the whole score is
    integer-exact across engines: gini_ppm = 1e6 - (sum c_i^2 * 1e6) DIV
    n^2.  Plan: split-to-chars explode (JVM codegen, no higher-order
    functions) -> partial-aggregating (doc, char) counts -> per-doc
    moment reduction; both shuffles carry count rows bounded by
    |docs| x |alphabet|, never the raw char stream (map-side combine
    collapses it).  Two in-row zero-shuffle variants were A/B-tested and
    REJECTED at sf0.1: nested per-distinct-char filter lambdas (5.4 s)
    and a sorted run-length struct fold (3.5 s) -- higher-order
    functions are interpreted, not codegen'd, so the explode form wins
    ~5x (measured 0.95 s) despite the exchange.  Envelope: s2 * 1e6
    <= n^2 * 1e6 stays under 2^63 for docs up to ~3e6 chars; larger
    single docs would move the product to DECIMAL(38,0).
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism  # rebalance BEFORE the fan-out
    )
    chars = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    percnt = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        percnt.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_chars_eff"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        )
        .filter(F.col("n_chars_eff") > 0)
        .select(
            "doc_id",
            "n_chars_eff",
            F.expr(
                "CAST(1000000 - (s2 * 1000000)"
                " DIV (n_chars_eff * n_chars_eff) AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


@declared(
    "token_gini_by_source",
    oracle="""
    WITH counts AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      GROUP BY source, token
    ),
    ranked AS (
      SELECT source, c,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY c, token) AS BIGINT) AS rk
      FROM counts
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS total_tokens,
           CAST(2 * sum(rk * c) - (count(*) + 1) * sum(c) AS DOUBLE)
             / CAST(count(*) * sum(c) AS DOUBLE) AS gini
    FROM ranked
    GROUP BY source
    """,
)
def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency inequality per source: the Gini coefficient of
    each source's token-type frequency distribution.  A source whose
    mass concentrates on few types (template/boilerplate text) shows a
    high Gini; diverse prose sits lower -- a corpus-mix diagnostic that
    complements `doc_char_gini` (per-doc characters) at the
    source-vocabulary level.

    Gini = (2*sum(rank_i * c_i) - (m+1)*sum(c)) / (m*sum(c)) over counts
    sorted ascending -- every term an exact integer, one final double
    division, so the value is engine-exact (ties in c permute equal
    values only; the token tie-break just fixes row identity).  Cost:
    one token-count aggregation (map-side combinable), then a
    per-source rank window over the VOCABULARY (types, not occurrences
    -- bounded), then one more combinable agg.  The rank products stay
    under 2^53 for vocabularies to ~10^8 types x typical counts; swap
    the sum to DECIMAL(38,0) beyond.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "source", F.explode(F.split(F.trim("text"), " ")).alias("token")
    ).groupBy("source", "token").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.partitionBy("source").orderBy("c", "token")
    ranked = counts.select(
        "source", "c", F.row_number().over(w).cast("bigint").alias("rk")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("total_tokens"),
        (
            (2 * F.sum(F.col("rk") * F.col("c"))
             - (F.count(F.lit(1)) + 1) * F.sum("c")).cast("double")
            / (F.count(F.lit(1)) * F.sum("c")).cast("double")
        ).alias("gini"),
    )


@declared(
    "lang_score_calibration",
    oracle=f"""
    WITH {_LANG_ID_CTES},
    perdoc AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN cand = 'en' THEN hits ELSE 0 END)
                  AS BIGINT) AS he,
             CAST(sum(hits) AS BIGINT) AS ha
      FROM scores GROUP BY doc_id
    ),
    conf AS (
      SELECT CAST((1000000 * p.he) // p.ha AS BIGINT) AS conf_ppm,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM perdoc p JOIN documents d USING (doc_id)
      WHERE p.ha > 0
    ),
    binned AS (
      SELECT least(conf_ppm // 100000, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(conf_ppm) AS BIGINT) AS sc,
             CAST(sum(pos) AS BIGINT) AS np
      FROM conf GROUP BY least(conf_ppm // 100000, 9)
    )
    SELECT CAST(bin AS INT) AS bin, n_docs,
           CAST(sc // n_docs AS BIGINT) AS conf_ppm,
           CAST((1000000 * np) // n_docs AS BIGINT) AS acc_ppm,
           CAST(abs(sc // n_docs - (1000000 * np) // n_docs)
                AS BIGINT) AS gap_ppm,
           CAST(sum(n_docs * abs(sc // n_docs - (1000000 * np) // n_docs))
                  OVER ()
                // sum(n_docs) OVER () AS BIGINT) AS ece_ppm
    FROM binned
    """,
)
def lang_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    marker language-ID used as an is-English scorer: per doc, confidence
    = share of marker hits that are English markers; binned into deciles
    against the true is-English label.  The model-evaluation op a
    quality-classifier pipeline needs before filtering on a score
    threshold (Guo et al. 2017's ECE, computed exactly): per bin the
    mean confidence, empirical accuracy, |gap|, and the corpus-weighted
    ECE = sum n_b*|gap_b| / N repeated on every row.

    All integer ppm: confidence is a floor-divided ratio of marker-hit
    counts, bin = min(conf//1e5, 9), per-bin means and the ECE are
    floor divisions of exact sums -- no floats anywhere.  Docs with
    zero marker hits are excluded identically on both engines.

    Cost: the corpus is scanned+exploded ONCE into the checkpointed
    token stream (marker learning + scoring both read it -- the
    lang_id_markers discipline); the label join-back is a second,
    column-pruned documents scan (2-scan ceiling held).  Binned frame
    is 10 rows; the ECE window is free.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .localCheckpoint(eager=False)
    )
    freq = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    wm = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    markers = (
        freq.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= 5)
        .select(F.col("lang").alias("cand"), "token")
    )
    scores = (
        tok.join(F.broadcast(markers), "token")
        .groupBy("doc_id", "cand")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    perdoc = scores.groupBy("doc_id").agg(
        F.sum(F.when(F.col("cand") == "en", F.col("hits")).otherwise(0))
        .cast("bigint")
        .alias("he"),
        F.sum("hits").cast("bigint").alias("ha"),
    )
    conf = (
        perdoc.join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("ha") > 0)
        .select(
            F.expr("CAST((1000000 * he) DIV ha AS BIGINT)").alias("conf_ppm"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
    )
    binned = conf.groupBy(
        F.least(F.expr("conf_ppm DIV 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("conf_ppm").cast("bigint").alias("sc"),
        F.sum("pos").cast("bigint").alias("np"),
    )
    conf_b = F.expr("sc DIV n_docs")
    acc_b = F.expr("(1000000 * np) DIV n_docs")
    gap = F.abs(conf_b - acc_b)
    wall = Window.partitionBy()
    return binned.select(
        F.col("bin").cast("int").alias("bin"),
        "n_docs",
        conf_b.cast("bigint").alias("conf_ppm"),
        acc_b.cast("bigint").alias("acc_ppm"),
        gap.cast("bigint").alias("gap_ppm"),
        F.expr(
            "CAST(sum(n_docs * abs(sc DIV n_docs"
            "          - (1000000 * np) DIV n_docs)) OVER ()"
            "     DIV sum(n_docs) OVER () AS BIGINT)"
        ).alias("ece_ppm"),
    )


@declared(
    "skipgram_pair_counts",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(trim(text), ' ') AS arr,
             generate_series(1, len(string_split(trim(text), ' '))) AS idx
      FROM documents
    ),
    tok AS (
      SELECT doc_id, t.i AS pos, arr[t.i] AS token
      FROM base, unnest(idx) AS t(i)
      WHERE arr[t.i] <> ''
    ),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id
       AND b.pos - a.pos BETWEEN 1 AND 3
      GROUP BY a.token, b.token
    )
    SELECT tok_a, tok_b, n_pairs, rnk
    FROM (
      SELECT tok_a, tok_b, n_pairs,
             CAST(row_number() OVER (ORDER BY n_pairs DESC, tok_a, tok_b)
                  AS BIGINT) AS rnk
      FROM pairs
    ) WHERE rnk <= 30
    """,
)
def skipgram_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (window-3) co-occurrence counts: ordered token pairs
    within 3 positions in the same document, top-30 -- the context
    statistics under word2vec/GloVe embedding training (Mikolov 2013),
    and the windowed generalization of `bigram_fluency` (distance
    exactly 1) and `token_pmi_lift` (whole-doc co-occurrence).

    Positions come from the SAME tokenization on both engines (split on
    single space, empties filtered AFTER position assignment so offsets
    agree; Spark posexplode is 0-based, ordinality 1-based -- the +1 is
    applied Spark-side).  Pure integer counts, total-ordered top-30.

    Scale: the position band join is an equi-join on doc_id with a
    bounded band filter -- fan-out 3 pairs/token, linear in corpus
    tokens, never quadratic (the `temporal_band_join` posture applied
    to token positions).  The token stream is rebalanced BEFORE the
    explode and localCheckpointed for its two join aliases;
    shuffle-hash pinned (stat-less checkpoint rule).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), " ")).alias("pos0", "token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
        .localCheckpoint(eager=True)  # two band-join aliases
    )
    a = tok.select("doc_id", F.col("pos").alias("pa"), F.col("token").alias("tok_a"))
    b = tok.select("doc_id", F.col("pos").alias("pb"), F.col("token").alias("tok_b"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "doc_id")
        .filter((F.col("pb") - F.col("pa")).between(1, 3))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("n_pairs"), F.asc("tok_a"), F.asc("tok_b"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 30)
        .select("tok_a", "tok_b", "n_pairs", "rnk")
    )


@declared(
    "hapax_rate_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    tf AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS hapax_share_ppm
    FROM tf GROUP BY source
    """,
)
def hapax_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source: the share of each source's
    vocabulary appearing exactly once -- the lexical-richness /
    OCR-noise dial corpus curators watch (clean prose ~40-60% hapax;
    far above suggests tokenizer junk or OCR garbage, far below
    boilerplate repetition), complementing `vocab_coverage_curve`
    (coverage of the head) with the mass of the tail, and feeding the
    same decision as `boilerplate_gram_ratio` from the opposite end.

    One explode -> per-(source, token) counts (map-side combinable) ->
    per-source rollup; all-integer ppm.  The token stream is rebalanced
    before the explode (the fan-out discipline).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "source", F.explode(F.split(F.trim("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
    )
    tf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))"
            " DIV count(*) AS BIGINT)"
        ).alias("hapax_share_ppm"),
    )


@declared(
    "cohens_kappa_lang",
    oracle=f"""
    WITH {_LANG_ID_CTES},
    conf AS (
      SELECT d.lang AS actual_lang, b.pred_lang,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM best b JOIN documents d ON d.doc_id = b.doc_id
      WHERE b.rn = 1
      GROUP BY d.lang, b.pred_lang
    ),
    rm AS (SELECT actual_lang AS lab, CAST(sum(n_docs) AS BIGINT) AS r
           FROM conf GROUP BY actual_lang),
    cm AS (SELECT pred_lang AS lab, CAST(sum(n_docs) AS BIGINT) AS c
           FROM conf GROUP BY pred_lang),
    sc AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n,
             CAST(sum(CASE WHEN actual_lang = pred_lang
                           THEN n_docs ELSE 0 END) AS BIGINT) AS diag
      FROM conf
    ),
    pe AS (
      SELECT CAST(coalesce(sum(rm.r * cm.c), 0) AS BIGINT) AS pe_num
      FROM rm JOIN cm ON cm.lab = rm.lab
    )
    SELECT sc.n, sc.diag, pe.pe_num,
           CAST(sc.n * sc.diag - pe.pe_num AS BIGINT) AS kappa_num,
           CAST(sc.n * sc.n - pe.pe_num AS BIGINT) AS kappa_den,
           CASE WHEN sc.n * sc.n - pe.pe_num = 0 THEN NULL
                ELSE CAST(sc.n * sc.diag - pe.pe_num AS DOUBLE)
                     / CAST(sc.n * sc.n - pe.pe_num AS DOUBLE)
           END AS kappa
    FROM sc CROSS JOIN pe
    """,
)
def cohens_kappa_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the marker language-ID against the labeled
    lang column: chance-corrected agreement (po - pe)/(1 - pe),
    cross-multiplied to the exact integer ratio (n*diag - sum r_i*c_i)
    / (n^2 - sum r_i*c_i) -- the single-number answer to "is the
    classifier better than marginal-frequency guessing", where raw
    accuracy (the confusion matrix's diagonal share) is inflated by
    class imbalance.  Emits the exact integer numerator/denominator and
    kappa as their one IEEE double division (bit-identical cross-engine;
    NULL when pe=1, the degenerate single-class case).

    Pure composition over `lang_confusion_matrix`'s rollup: the
    confusion frame is |langs|^2 rows, checkpointed once for its four
    tiny consumers (diagonal, both marginals, total) -- everything after
    the per-doc argmax is dimension-bounded.
    """
    conf = lang_confusion_matrix(spark, sf_dir).localCheckpoint(eager=True)
    rm = conf.groupBy(F.col("actual_lang").alias("lab")).agg(
        F.sum("n_docs").cast("bigint").alias("r")
    )
    cm = conf.groupBy(F.col("pred_lang").alias("lab")).agg(
        F.sum("n_docs").cast("bigint").alias("c")
    )
    sc = conf.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("actual_lang") == F.col("pred_lang"), F.col("n_docs")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("diag"),
    )
    pe = (
        rm.join(F.broadcast(cm), "lab")
        .agg(
            F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0))
            .cast("bigint")
            .alias("pe_num")
        )
    )
    return (
        sc.crossJoin(F.broadcast(pe))
        .select(
            "n",
            "diag",
            "pe_num",
            F.expr("CAST(n * diag - pe_num AS BIGINT)").alias("kappa_num"),
            F.expr("CAST(n * n - pe_num AS BIGINT)").alias("kappa_den"),
            F.when(
                F.expr("n * n - pe_num") != 0,
                F.expr(
                    "CAST(n * diag - pe_num AS DOUBLE)"
                    " / CAST(n * n - pe_num AS DOUBLE)"
                ),
            ).alias("kappa"),
        )
    )


@declared(
    "simpson_token_diversity",
    oracle="""
    WITH tok AS (
      SELECT d.source, t.token
      FROM documents d, unnest(string_split(trim(d.text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    tf AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(1000000 * sum(c * (c - 1))
                // NULLIF(sum(c) * (sum(c) - 1), 0) AS BIGINT)
             AS simpson_ppm,
           CAST(sum(c) * (sum(c) - 1) AS DOUBLE)
             / NULLIF(CAST(sum(c * (c - 1)) AS DOUBLE), 0)
             AS inv_simpson
    FROM tf GROUP BY source
    """,
)
def simpson_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of each source's token distribution: the
    unbiased concentration index lambda = sum n_i(n_i-1) / (T(T-1))
    (the probability two tokens drawn without replacement are the same
    type) in exact integer ppm, plus its inverse -- the "effective
    vocabulary size" that, unlike the raw `vocab` count, discounts
    hapax noise, and unlike Shannon entropy needs NO logarithm (which
    is why it is the cross-engine-exact diversity measure; ln is not
    bit-portable).  Extends the corpus-mix family: `token_gini_by_source`
    ranks inequality, `hapax_rate_by_source` the tail mass, Simpson the
    repeat-concentration -- together the profile that flags template/
    boilerplate-heavy sources before they flood a training mix.

    Determinism: integer products and floor division for lambda; the
    inverse is one IEEE division of exact integers (NULL when all
    tokens are singletons or T<2, identically on both engines).
    Plan: one tokenize+explode -> (source, token) partial agg
    (map-side combine) -> |sources| output rows; no joins at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.trim("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.expr(
            "CAST(1000000 * sum(c * (c - 1))"
            " DIV NULLIF(sum(c) * (sum(c) - 1), 0) AS BIGINT)"
        ).alias("simpson_ppm"),
        F.expr(
            "CAST(sum(c) * (sum(c) - 1) AS DOUBLE)"
            " / NULLIF(CAST(sum(c * (c - 1)) AS DOUBLE), 0.0e0)"
        ).alias("inv_simpson"),
    )


@declared(
    "doc_chi2_divergence",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.tok
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(tok)
      WHERE t.tok <> ''
    ),
    o AS MATERIALIZED (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS o
      FROM tok GROUP BY 1, 2
    ),
    nd AS MATERIALIZED (
      SELECT doc_id, CAST(sum(o) AS BIGINT) AS nd FROM o GROUP BY 1
    ),
    c AS MATERIALIZED (
      SELECT tok, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1
    ),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
    terms AS (
      SELECT o.doc_id,
             CAST(CAST(o.o * n.n - nd.nd * c.c AS HUGEINT)
                  * (o.o * n.n - nd.nd * c.c) * 1000000
                  // (CAST(n.n AS HUGEINT) * nd.nd * c.c) AS BIGINT) AS term
      FROM o JOIN nd USING (doc_id) JOIN c USING (tok) CROSS JOIN n
    )
    SELECT s.doc_id, d.nd AS n_tokens, s.chi2_ppm
    FROM (
      SELECT doc_id, CAST(sum(term) AS BIGINT) AS chi2_ppm
      FROM terms GROUP BY doc_id
    ) s JOIN nd d ON d.doc_id = s.doc_id
    ORDER BY s.chi2_ppm DESC, s.doc_id
    LIMIT 20
    """,
)
def doc_chi2_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional quality outliers: the 20 documents whose unigram
    distribution diverges most from the corpus background, by the
    chi-square goodness-of-fit statistic over each doc's observed
    tokens -- sum_t (o_t - e_t)^2 / e_t with e_t = nd * c_t / N.  Docs
    that score high are boilerplate, keyword-stuffed, or off-domain --
    the statistical cousin of gopher_quality_rules' hand rules and the
    corpus-side dual of dsir_importance_weights (which reweights toward
    a target; this flags what sits far from the background).

    Exactness discipline (plans/conventions.py): the term is computed
    ENTIRELY in integer space -- (o*N - nd*c)^2 * 1e6 // (N*nd*c),
    HUGEINT in DuckDB, DECIMAL(38,0) in Spark (verified bit-equal), o/c
    exact counts -- with one deterministic floor per term, so the sum
    is reproducible to the last digit on both engines (no double
    arithmetic anywhere).  Total-ordered LIMIT.

    Scale: one tokenize shuffle builds the (doc, token) count frame
    (checkpointed; feeds totals, background, and terms).  The term join
    is (doc,token)-grain against two grouped side tables -- at 100 TB
    both joins shuffle on their natural keys (doc_id / token), no
    broadcast of corpus-scaled frames (shuffle_hash pinned, the dbscan
    round-6 lesson); the background token table is vocab-sized but
    joined at token grain, piggybacking the same shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    o = (
        docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=True)  # feeds nd / c / n / terms
    )
    nd = o.groupBy("doc_id").agg(F.sum("o").cast("bigint").alias("nd"))
    nd = nd.localCheckpoint(eager=True)  # term join + final readout
    c = o.groupBy("tok").agg(F.sum("o").cast("bigint").alias("c"))
    n = o.agg(F.sum("o").cast("bigint").alias("n"))
    terms = (
        o.join(nd.hint("shuffle_hash"), "doc_id")
        .join(c.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.expr(
                "CAST(CAST(o * n - nd * c AS DECIMAL(38,0))"
                " * (o * n - nd * c) * 1000000"
                " DIV (CAST(n AS DECIMAL(38,0)) * nd * c) AS BIGINT)"
            ).alias("term"),
        )
    )
    stat = terms.groupBy("doc_id").agg(
        F.sum("term").cast("bigint").alias("chi2_ppm")
    )
    return (
        stat.join(nd.hint("shuffle_hash"), "doc_id")
        .select("doc_id", F.col("nd").alias("n_tokens"), "chi2_ppm")
        .orderBy(F.desc("chi2_ppm"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney continuation counts (round 7b)
# ---------------------------------------------------------------------------

@declared(
    "kn_continuation_counts",
    oracle="""
    WITH bg AS MATERIALIZED (
      SELECT doc_id, u.prev AS prev, u.cur AS cur
      FROM (
        SELECT doc_id,
               list_transform(
                 generate_series(1, len(t) - 1),
                 i -> struct_pack(prev := t[i], cur := t[i+1])) AS bgs
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS t
              FROM documents)
        WHERE len(t) >= 2
      ), unnest(bgs) AS r(u)
    ),
    types AS MATERIALIZED (
      SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY prev, cur
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM types),
    uni AS (
      SELECT cur AS token, CAST(sum(c) AS BIGINT) AS c_token,
             CAST(count(*) AS BIGINT) AS n_left
      FROM types GROUP BY cur
    ),
    rgt AS (
      SELECT prev AS token, CAST(count(*) AS BIGINT) AS n_right
      FROM types GROUP BY prev
    )
    SELECT u.token, u.c_token, u.n_left,
           coalesce(r.n_right, 0) AS n_right,
           CAST((u.n_left * 1000000) // t.n_bigram_types AS BIGINT)
             AS p_cont_ppm
    FROM uni u
    LEFT JOIN rgt r ON r.token = u.token
    CROSS JOIN tot t
    """,
)
def kn_continuation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation counts over the corpus bigram stream: for
    each token, its raw bigram-position count c(w), the LEFT continuation
    count N1+(.w) (distinct predecessors -- the KN insight that 'Francisco'
    is frequent but follows almost nothing, so its smoothed unigram mass
    should be tiny), the RIGHT continuation N1+(w.), and the lower-order
    KN probability as integer ppm N1+(.w) * 1e6 DIV |distinct bigram
    types|.  The smoothing-infrastructure artifact an n-gram LM (or an
    LM-based quality filter a la CCNet) trains from -- `bigram_fluency`
    consumes such counts; this op EMITS them.

    All integer counts, no logs or discount floats (the correctly-rounded
    hazard stays out per the repo convention -- a trainer applies the
    discount downstream).  Plan: per-row bigram array -> one explode ->
    (prev, cur) type counts (map-side combinable), then two
    vocabulary-bounded rollups and a scalar cross join; the corpus is
    scanned once, everything after the first agg is vocab-sized."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("t")  # projected first: a split in the lambda runs per element
    bgs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("prev"),
            F.element_at(t, i + 1).alias("cur"),
        ),
    )
    types = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.split(F.trim("text"), " ").alias("t"))
        .filter(F.size(t) >= 2)
        .select(F.explode(bgs).alias("r"))
        .select("r.prev", "r.cur")
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = types.agg(F.count(F.lit(1)).cast("bigint").alias("n_bigram_types"))
    uni = types.groupBy(F.col("cur").alias("token")).agg(
        F.sum("c").cast("bigint").alias("c_token"),
        F.count(F.lit(1)).cast("bigint").alias("n_left"),
    )
    rgt = types.groupBy(F.col("prev").alias("token")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right")
    )
    return (
        uni.join(F.broadcast(rgt), "token", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "c_token",
            "n_left",
            F.coalesce(F.col("n_right"), F.lit(0)).cast("bigint").alias(
                "n_right"
            ),
            F.expr("CAST((n_left * 1000000) DIV n_bigram_types AS BIGINT)")
            .alias("p_cont_ppm"),
        )
    )


# RAKE stopword delimiters: the corpus' two function words.  A real
# deployment would use a full stopword list; the ALGORITHM (phrase
# segmentation at stopwords, degree/frequency word scores, additive
# phrase scores) is list-independent.
RAKE_STOPWORDS = ("a", "the")
RAKE_TOPK = 20
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)


@declared(
    "rake_keyword_extract",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token AS token,
             CASE WHEN u.token IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END
               AS is_stop
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(t)),
                              i -> struct_pack(token := t[i], pos := i))
                 AS toks
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS t
              FROM documents)
      ), unnest(toks) AS r(u)
      WHERE u.token <> ''
    ),
    grouped AS MATERIALIZED (
      SELECT doc_id, pos, token,
             CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS grp
      FROM tok
      QUALIFY is_stop = 0
    ),
    inst AS MATERIALIZED (
      SELECT doc_id, grp,
             string_agg(token, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM grouped GROUP BY doc_id, grp
    ),
    wstat AS (
      SELECT g.token,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(i.plen) AS BIGINT) AS deg
      FROM grouped g
      JOIN inst i ON i.doc_id = g.doc_id AND i.grp = g.grp
      GROUP BY g.token
    ),
    wscore AS (
      SELECT token, (1000000 * deg) // freq AS w_ppm FROM wstat
    ),
    iscore AS (
      SELECT g.doc_id, g.grp,
             CAST(sum(w.w_ppm) AS BIGINT) AS score_ppm
      FROM grouped g JOIN wscore w ON w.token = g.token
      GROUP BY g.doc_id, g.grp
    ),
    phr AS (
      SELECT i.phrase, i.plen AS n_words, s.score_ppm
      FROM inst i JOIN iscore s
        ON s.doc_id = i.doc_id AND s.grp = i.grp
    )
    SELECT phrase, n_words, n_occurrences, score_ppm, rnk
    FROM (
      SELECT phrase, n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             score_ppm,
             CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase)
                  AS BIGINT) AS rnk
      FROM phr GROUP BY phrase, n_words, score_ppm
    ) WHERE rnk <= {RAKE_TOPK}
    """,
)
def rake_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): segment each document
    into candidate phrases at stopword delimiters, score each word as
    degree/frequency over the phrase co-occurrence graph (degree = sum
    of lengths of phrases containing the word -- words that keep
    company with long phrases score high; frequency alone rewards
    boilerplate), and score a phrase as the sum of its member-word
    scores.  Corpus-level top-{RAKE_TOPK} phrases.  The PHRASE-level
    keyword tier: `doc_top_terms` ranks single tokens per doc by
    tf-idf; RAKE surfaces multiword terms with no training and no idf.

    Word scores are integer ppm floors (1e6*deg DIV freq); a phrase
    score is an integer SUM of member scores (multiplicity included),
    so identical phrase strings score identically and the global
    top-{RAKE_TOPK} is total-ordered by (score, phrase).  Shape: one
    tokenize+explode (checkpointed: phrase rollup + word stats
    consumers), per-doc ordered windows for the stopword islands, then
    vocabulary- and phrase-cardinality frames only.  The phrase
    instance -> word-stat join keys on (doc_id, grp): equi-join,
    fan-out bounded by phrase length.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), " ")).alias("pos0", "token"),
    ).filter(F.col("token") != "")
    tok = tok.select(
        "doc_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        "token",
        F.when(F.col("token").isin(*RAKE_STOPWORDS), 1)
        .otherwise(0)
        .alias("is_stop"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = (
        tok.withColumn(
            "grp", F.sum("is_stop").over(w_run).cast("bigint")
        )
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pos", "token", "grp")
        .localCheckpoint(eager=True)  # inst + wstat + iscore consumers
    )
    inst = (
        grouped.groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda x: x.getField("token"),
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .localCheckpoint(eager=True)  # wstat join + phrase output consumers
    )
    # inst is phrase-instance-cardinality (corpus-scaled): never
    # broadcast -- shuffle-hash on the natural key (both sides are
    # checkpointed and stat-less, so the hint keeps Catalyst off SMJ).
    wstat = (
        grouped.join(inst.select("doc_id", "grp", "plen")
                     .hint("shuffle_hash"),
                     ["doc_id", "grp"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    wscore = wstat.select(
        "token", F.expr("(1000000 * deg) DIV freq").alias("w_ppm")
    )
    iscore = (
        grouped.join(F.broadcast(wscore), "token")
        .groupBy("doc_id", "grp")
        .agg(F.sum("w_ppm").cast("bigint").alias("score_ppm"))
    )
    phr = inst.join(iscore, ["doc_id", "grp"]).select(
        "phrase", F.col("plen").alias("n_words"), "score_ppm"
    )
    agg = phr.groupBy("phrase", "n_words", "score_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    w_rank = Window.orderBy(F.desc("score_ppm"), F.asc("phrase"))
    return (
        agg.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rnk") <= RAKE_TOPK)
        .select("phrase", "n_words", "n_occurrences", "score_ppm", "rnk")
    )


@declared(
    "good_turing_counts",
    oracle="""
    WITH tok AS (
      SELECT t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    tf AS (SELECT token, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY token),
    foff AS MATERIALIZED (
      SELECT c, CAST(count(*) AS BIGINT) AS n_types
      FROM tf GROUP BY c
    ),
    tot AS (
      SELECT CAST(sum(c * n_types) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c = 1 THEN n_types ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM foff
    )
    SELECT f.c, f.n_types,
           CAST(f.c * f.n_types AS BIGINT) AS mass,
           coalesce(nx.n_types, CAST(0 AS BIGINT)) AS next_types,
           CAST((1000000 * (f.c + 1) * coalesce(nx.n_types, 0))
                // f.n_types AS BIGINT) AS gt_count_ppm,
           CAST((1000000 * t.n_hapax) // t.n_tokens AS BIGINT) AS p0_ppm
    FROM foff f
    LEFT JOIN foff nx ON nx.c = f.c + 1
    CROSS JOIN tot t
    """,
)
def good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation (Good 1953) over the token
    unigram counts: the frequency-of-frequencies table N_c, the
    adjusted count c* = (c+1) * N_{c+1} / N_c per observed count, and
    the unseen-mass estimate P0 = N_1 / N -- the smoothing LM that
    reserves probability for types never seen, complementing
    `kn_continuation_counts` (Kneser-Ney's continuation counts) with
    the other classical smoothing family.  Rows where N_{c+1} = 0 carry
    gt_count_ppm = 0 (the raw-GT gap that turned-GT/ simple-GT
    interpolation exists to fill; emitting the hole honestly is the
    point of the diagnostic table).

    All-integer: the adjusted count and P0 are ppm floor divisions of
    exact type counts.  Shape: one tokenize+explode -> vocabulary
    rollup -> frequency-of-frequencies rollup (rows = distinct counts,
    << vocabulary); the self-join for N_{c+1} runs on that tiny table.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    foff = tf.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    ).localCheckpoint(eager=True)  # totals + self-join + output consumers
    tot = foff.agg(
        F.sum(F.col("c") * F.col("n_types")).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, F.col("n_types")).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )
    nx = foff.select(
        (F.col("c") - 1).alias("c"), F.col("n_types").alias("next_types")
    )
    return (
        foff.join(F.broadcast(nx), "c", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            "n_types",
            (F.col("c") * F.col("n_types")).cast("bigint").alias("mass"),
            F.coalesce(F.col("next_types"), F.lit(0))
            .cast("bigint")
            .alias("next_types"),
            F.expr(
                "CAST((1000000 * (c + 1) * coalesce(next_types, 0))"
                " DIV n_types AS BIGINT)"
            ).alias("gt_count_ppm"),
            F.expr(
                "CAST((1000000 * n_hapax) DIV n_tokens AS BIGINT)"
            ).alias("p0_ppm"),
        )
    )


# Octave cap for the integer floor(log2) trick: 2^40 ranks/frequencies
# is far beyond any fixture (and the threshold-count loop is exact).
_ZIPF_MAX_OCT = 40
_FLOOR_LOG2 = {
    "spark": (
        "CAST(size(filter(sequence(1, {mx}),"
        " j -> {x} >= shiftleft(CAST(1 AS BIGINT), j))) AS BIGINT)"
    ),
    "duck": (
        "CAST(len(list_filter(generate_series(1, {mx}),"
        " j -> {x} >= (CAST(1 AS BIGINT) << j))) AS BIGINT)"
    ),
}


@declared(
    "zipf_octave_fit",
    oracle=f"""
    WITH tok AS (
      SELECT t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    tf AS (SELECT token, CAST(count(*) AS BIGINT) AS f
           FROM tok GROUP BY token),
    ranked AS (
      SELECT f, CAST(row_number() OVER (ORDER BY f DESC, token)
                     AS BIGINT) AS r
      FROM tf
    ),
    oct AS (
      SELECT {_FLOOR_LOG2['duck'].format(x='r', mx=_ZIPF_MAX_OCT)} AS b,
             {_FLOOR_LOG2['duck'].format(x='f', mx=_ZIPF_MAX_OCT)} AS lf
      FROM ranked
    ),
    per AS MATERIALIZED (
      SELECT b, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(lf) AS BIGINT) AS sy
      FROM oct GROUP BY b
    ),
    pts AS (SELECT b AS x, sy // k AS y FROM per),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT m AS n_octaves, sx, sy, sxy, sxx,
           CAST(m * sxy - sx * sy AS DOUBLE)
             / CAST(m * sxx - sx * sx AS DOUBLE) AS zipf_slope_log2,
           (CAST(sy AS DOUBLE)
            - (CAST(m * sxy - sx * sy AS DOUBLE)
               / CAST(m * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(m AS DOUBLE) AS intercept_log2
    FROM sums
    """,
)
def zipf_octave_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent fit in octave space: rank the vocabulary by
    frequency, bucket ranks into octaves b = floor(log2 r), take the
    integer-floored octave mean of floor(log2 f), and OLS-fit
    log2-frequency on log2-rank -- the slope estimates -s in f ~ r^-s
    (Zipf 1949; octave binning is the standard correction for the
    rank-frequency fit's tail overweighting).  The corpus-law
    diagnostic a curation pipeline checks before/after filtering:
    heavy dedup or boilerplate removal visibly flattens the slope.

    floor(log2 x) is computed EXACTLY as a bounded power-of-two
    threshold count (no float log2, whose boundary ulps differ across
    engines -- the documented transcendental trap); the OLS runs on
    <= {_ZIPF_MAX_OCT} integer (x, y) points so every sum is exact and
    the final slope/intercept are fixed-order IEEE divisions.  Shape:
    one tokenize -> vocabulary rollup -> global rank window over the
    VOCABULARY (bounded, not the corpus) -> {_ZIPF_MAX_OCT}-row fit.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    ranked = tf.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.desc("f"), F.asc("token")))
        .cast("bigint")
        .alias("r"),
    )
    fl2 = _FLOOR_LOG2["spark"]
    oct_df = ranked.select(
        F.expr(fl2.format(x="r", mx=_ZIPF_MAX_OCT)).alias("b"),
        F.expr(fl2.format(x="f", mx=_ZIPF_MAX_OCT)).alias("lf"),
    )
    per = oct_df.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lf").cast("bigint").alias("sy"),
    )
    pts = per.select(F.col("b").alias("x"), F.expr("sy DIV k").alias("y"))
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return sums.select(
        F.col("m").alias("n_octaves"),
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.expr(
            "CAST(m * sxy - sx * sy AS DOUBLE)"
            " / CAST(m * sxx - sx * sx AS DOUBLE)"
        ).alias("zipf_slope_log2"),
        F.expr(
            "(CAST(sy AS DOUBLE)"
            " - (CAST(m * sxy - sx * sy AS DOUBLE)"
            " / CAST(m * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))"
            " / CAST(m AS DOUBLE)"
        ).alias("intercept_log2"),
    )


TREND_TOPK = 15


@declared(
    "trending_terms_delta",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id % 2 AS half, t.token
      FROM documents, unnest(string_split(trim(text), ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    per AS MATERIALIZED (
      SELECT token,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_a,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_b
      FROM tok GROUP BY token
    ),
    tot AS (
      SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
             CAST(sum(c_b) AS BIGINT) AS n_b
      FROM per
    ),
    lifted AS (
      SELECT p.token, p.c_a, p.c_b,
             CAST((1000000::HUGEINT * (p.c_b + 1) * (t.n_a + 1))
                  // ((p.c_a + 1)::HUGEINT * (t.n_b + 1)) AS BIGINT)
               AS lift_ppm
      FROM per p, tot t
    )
    SELECT token, c_a, c_b, lift_ppm, rnk
    FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY lift_ppm DESC, token)
                     AS BIGINT) AS rnk
      FROM lifted
    ) WHERE rnk <= {TREND_TOPK}
    """,
)
def trending_terms_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-term detection between two corpus snapshots: add-one-
    smoothed rate lift (c_B+1)/(N_B+1) over (c_A+1)/(N_A+1) per token,
    top-{TREND_TOPK} risers -- the monitoring query a continuously-
    ingesting corpus runs to catch vocabulary drift BEFORE it shows up
    as model regression (new jargon, spam campaigns, a scraper change).
    Snapshots here are the doc_id parity halves (the deterministic
    stand-in for two ingest windows); `doc_chi2_divergence` scores
    whole DOCUMENTS against the corpus, this ranks individual TERMS
    across snapshots.

    Integer ppm lift with add-one smoothing (no zero division, hapax
    noise damped).  Shape: one tokenize -> vocabulary rollup with two
    conditional sums -> 1-row totals broadcast -> vocabulary-sized
    window for the top-{TREND_TOPK}.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.trim("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    per = tok.groupBy("token").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    ).localCheckpoint(eager=True)  # totals + lift consumers
    tot = per.agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    lifted = per.crossJoin(F.broadcast(tot)).select(
        "token",
        "c_a",
        "c_b",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (c_b + 1) * (n_a + 1))"
            " DIV (CAST(c_a + 1 AS DECIMAL(38,0)) * (n_b + 1)) AS BIGINT)"
        ).alias("lift_ppm"),
    )
    w = Window.orderBy(F.desc("lift_ppm"), F.asc("token"))
    return (
        lifted.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TREND_TOPK)
        .select("token", "c_a", "c_b", "lift_ppm", "rnk")
    )
