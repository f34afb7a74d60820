"""Round-6 operator edge semantics: custom-HLL shard-merge identity +
estimator accuracy, multi-pass sorted-neighborhood on a planted
prefix-divergent pair (the dup class pass 1 is structurally blind to),
and theta-sketch difference sanity on a known overlap.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.aggregates import (
    HLL_M,
    HLL_RANK_W,
    _hll_rank_sql,
)
from etl_rf_matrix_controller_spark.operators.dedup import (
    SNM_PREFIX,
    TOK_WINNOW_K,
    WINNOW_W,
    snm_multipass_pairs_df,
    token_span_pairs_df,
    token_winnow_fps_df,
)


def _hll_regs(df):
    """(shard, bucket, mx) register state from a (shard, key) frame via
    the exact expressions hll_custom_distinct_daily uses."""
    return (
        df.select(
            "shard",
            F.conv(
                F.substring(F.md5(F.col("key").cast("string")), 1, 12), 16, 10
            )
            .cast("bigint")
            .alias("h"),
        )
        .select(
            "shard",
            (F.col("h") % HLL_M).alias("bucket"),
            F.expr(_hll_rank_sql(f"(h DIV {HLL_M})")).alias("rank"),
        )
        .groupBy("shard", "bucket")
        .agg(F.max("rank").cast("bigint").alias("mx"))
    )


def test_hll_shard_merge_identity(spark):
    """Per-bucket MAX over shard register states == the direct
    whole-data register state: the mergeability that lets 1000
    executors tree-reduce 64-row sketches without rescanning."""
    keys = spark.range(1, 20001).select(
        (F.col("id") * 131 % 6007).alias("key"),
        (F.col("id") % 5).alias("shard"),
    ).localCheckpoint(eager=True)
    direct = {
        r.bucket: r.mx
        for r in _hll_regs(keys.select(F.lit(0).alias("shard"), "key"))
        .select("bucket", "mx")
        .collect()
    }
    merged = {
        r.bucket: r.mx
        for r in _hll_regs(keys)
        .groupBy("bucket")
        .agg(F.max("mx").alias("mx"))
        .collect()
    }
    assert merged == direct


def test_hll_estimate_within_envelope(spark):
    """m=64 HLL relative error is ~1.04/sqrt(64) = 13%; assert the
    full estimator pipeline lands within 3 sigma (40%) of a known
    6006-distinct-key truth (fixed hash -> deterministic, not flaky)."""
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        HLL_ALPHA_PPM,
    )

    keys = spark.range(1, 20001).select(
        (F.col("id") * 131 % 6007).alias("key"), F.lit(0).alias("shard")
    )
    z = (
        _hll_regs(keys)
        .agg(
            (
                F.sum(
                    F.expr(f"CAST(1 AS BIGINT) << ({HLL_RANK_W + 1} - mx)")
                ).cast("bigint")
                + (HLL_M - F.count(F.lit(1)))
                * F.expr(f"CAST(1 AS BIGINT) << {HLL_RANK_W + 1}")
            ).alias("z")
        )
        .collect()[0]
        .z
    )
    est = int(
        HLL_ALPHA_PPM
        * ((1 << (12 + HLL_RANK_W + 1)) // z)
        / 1_000_000
    )
    truth = 6006
    assert abs(est - truth) / truth < 0.40, (est, truth)


def test_snm_multipass_catches_prefix_divergent_pair(spark):
    """A planted near-dup pair whose texts agree on a long SUFFIX but
    diverge in the first characters: invisible to the forward pass
    (prefix filter fails immediately) but caught by the reversed-key
    pass -- the exact blindness multi-pass SNM exists to fix.  A
    verbatim copy pair is found by BOTH passes (n_passes = 2)."""
    tail = "the quick brown fox jumps over the lazy dog " * 2
    rows = [
        (1, "alpha version: " + tail, "en"),
        (2, "omega release: " + tail, "en"),  # prefix-divergent near dup
        (3, "identical doc body with stable text here ok", "en"),
        (4, "identical doc body with stable text here ok", "en"),  # verbatim
        (5, "completely unrelated content about spark plans", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {
        (r.doc_a, r.doc_b): (r.n_passes, r.is_exact)
        for r in snm_multipass_pairs_df(docs).collect()
    }
    assert (1, 2) in got and got[(1, 2)][0] == 1 and not got[(1, 2)][1]
    assert (3, 4) in got and got[(3, 4)] == (2, True)
    assert all(p in {(1, 2), (3, 4)} for p in got)
    # sanity: the planted pair really is prefix-divergent at SNM_PREFIX
    assert rows[0][1][:SNM_PREFIX] != rows[1][1][:SNM_PREFIX]


def test_token_winnow_guarantee_at_span_boundary(spark):
    """The winnowing guarantee in token units: any shared verbatim run
    of >= k + w - 1 = 8 tokens MUST share a selected fingerprint --
    exactly the TOK_SPAN_K = 8 boundary token_span_dups detects, so
    the sampled detector certifies the exact one.  A pair sharing a
    run SHORTER than k = {TOK_WINNOW_K} tokens has zero shared grams,
    hence structurally zero shared fingerprints; the 8-token pair
    shares >= 1 fingerprint AND is found by token_span_dups on the
    same frame (shared machinery: same positional_gram_df(unit="token")
    gram build, same winnow_select_fps_df selection)."""
    assert TOK_WINNOW_K + WINNOW_W - 1 == 8
    run8 = "t1 t2 t3 t4 t5 t6 t7 t8"
    run4 = "s1 s2 s3 s4"  # < k tokens: zero shared grams
    rows = [
        (1, f"aa bb cc dd ee {run8} ff gg hh ii jj", "en"),
        (2, f"kk ll mm nn oo {run8} pp qq rr ss tt", "en"),
        (3, f"aa2 bb2 cc2 dd2 {run4} ee2 ff2 gg2 hh2", "en"),
        (4, f"kk2 ll2 mm2 nn2 {run4} oo2 pp2 qq2 rr2", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    fps = token_winnow_fps_df(docs).localCheckpoint(eager=True)
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
        .collect()
    }
    assert by_doc[1] & by_doc[2], "8-token run must share a fingerprint"
    assert not (by_doc[3] & by_doc[4]), "sub-k run has zero shared grams"
    spans = {
        (r.doc_a, r.doc_b): r.span_tokens
        for r in token_span_pairs_df(docs).collect()
    }
    assert spans.get((1, 2)) == 8, spans


def test_kmv_difference_estimator_algebra(spark, tmp_path):
    """Pins the a-not-b estimator's ALGEBRA (not exactness: this sketch
    takes theta = min of the two max retained hashes even when
    unsaturated, so est_difference is the n_only sample scaled by
    2^32/theta -- deliberately NOT equal to exact_difference on small
    domains).  Two checks: (1) structural invariants at sf0.001;
    (2) on a crafted degenerate corpus (every hash retained, k >= |tag
    domain|), n_only equals the true count of purchase-only user hashes
    below theta, recomputed independently here."""
    import hashlib
    from datetime import datetime, timezone

    from etl_rf_matrix_controller_spark.operators.aggregates import (
        kmv_difference_estimate,
    )

    df = kmv_difference_estimate(spark, "/root/testdata/sf0.001")
    row = df.collect()[0]
    # structural invariants that hold at any SF: n_only <= k, theta > 0,
    # estimate scales n_only by 2^32/theta
    assert 0 <= row.n_only <= row.k
    assert row.theta > 0
    assert row.est_difference == (row.n_only * 4294967296) // row.theta

    # crafted degenerate corpus: purchase users {1..5}, error users
    # {3..6}; all <= k=8 distinct hashes retained per tag.
    sf = str(tmp_path)
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [(u, "purchase", ts, 1.0, f"e{u}p") for u in range(1, 6)] + [
        (u, "error", ts, 1.0, f"e{u}e") for u in range(3, 7)
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp,"
        " value double, event_id string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    crafted = kmv_difference_estimate(spark, sf).collect()[0]

    def h32(u: int) -> int:
        return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16)

    ha = {h32(u) for u in range(1, 6)}
    hb = {h32(u) for u in range(3, 7)}
    theta = min(max(ha), max(hb))
    n_only = sum(1 for h in ha - hb if h < theta)
    assert crafted.exact_difference == 2  # users {1, 2}
    assert crafted.theta == theta
    assert crafted.n_only == n_only
    assert crafted.est_difference == (n_only * 4294967296) // theta


def test_stream_hll_matches_batch_registers(spark):
    """The streaming HLL twin must read off the SAME estimate as the
    batch build: stream groupBy(day,bucket).max(rank) state == the
    batch register table, so (day, n_buckets_used, est_dau) agree
    row-for-row -- the batch==stream discipline for idempotent-MAX
    sketch state."""
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        hll_custom_distinct_daily,
    )
    from etl_rf_matrix_controller_spark.streaming.windows import (
        stream_hll_distinct_daily,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.day: (r.n_buckets_used, r.est_dau)
        for r in hll_custom_distinct_daily(spark, sf).collect()
    }
    stream = {
        r.day: (r.n_buckets_used, r.est_dau)
        for r in stream_hll_distinct_daily(spark, sf).collect()
    }
    assert stream == batch


def test_token_winnow_pairs_df_cap_and_threshold(spark):
    """Detector-stage semantics on a crafted corpus: two docs sharing a
    long verbatim token run pair up (>= WINNOW_PAIR_MIN shared
    fingerprints); unrelated docs never do."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        WINNOW_PAIR_MIN,
        token_winnow_fps_df,
    )

    shared = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, f"a1 b1 c1 {shared} d1 e1", "en"),
        (2, f"a2 b2 c2 {shared} d2 e2", "en"),
        (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    fps = token_winnow_fps_df(docs).select("doc_id", "fp").distinct()
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
        .collect()
    }
    assert len(by_doc[1] & by_doc[2]) >= WINNOW_PAIR_MIN
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_bpe_fold_greedy_semantics(spark):
    """The shared merge-fold expression implements greedy left-to-right
    BPE: overlapping runs merge leftmost-first ('aaa' -> aa, a), merged
    symbols do not re-trigger on their raw suffix, and a round-2 merge
    can consume a round-1 merged symbol (the multi-char vocab-building
    property).  Same expression text runs as DuckDB's list_reduce body
    -- asserted equal on every case."""
    import duckdb

    from etl_rf_matrix_controller_spark.operators.text import _bpe_fold_sql

    cases = [
        (["a", "a", "a"], ("a", "a", "aa"), "aa|a"),
        (["a", "b", "c", "a", "b"], ("a", "b", "ab"), "ab|c|ab"),
        (["x"], ("a", "b", "ab"), "x"),
        (["ab", "c"], ("ab", "c", "abc"), "abc"),  # round-2 reuse
        (["b", "ab", "a", "b"], ("a", "b", "ab"), "b|ab|ab"),
    ]
    con = duckdb.connect()
    for syms, (a, b, m), want in cases:
        fold = _bpe_fold_sql(a, b, m)
        got = (
            spark.createDataFrame([(syms,)], "syms array<string>")
            .select(
                F.expr(
                    f"aggregate(slice(syms, 2, size(syms) - 1),"
                    f" element_at(syms, 1), (acc, x) -> {fold})"
                ).alias("r")
            )
            .collect()[0]
            .r
        )
        assert got == want, (syms, a, b, got, want)
        lst = "[" + ", ".join(f"'{s}'" for s in syms) + "]"
        duck = con.execute(
            f"SELECT list_reduce({lst}, (acc, x) -> {fold})"
        ).fetchone()[0]
        assert duck == want, (syms, a, b, duck, want)


def test_stream_cms_matches_batch(spark):
    """The streaming CMS twin must report the identical heavy-hitter
    rows as the batch build: additive cell-count accumulation across
    micro-batches IS the CMS merge, so the final sketch (and hence the
    min-over-rows estimates) is the same object."""
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        cms_heavy_hitters,
    )
    from etl_rf_matrix_controller_spark.streaming.windows import (
        stream_cms_heavy_hitters,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r.user_id: (r.est_count, r.exact_count, r.never_underestimates)
        for r in cms_heavy_hitters(spark, sf).collect()
    }
    stream = {
        r.user_id: (r.est_count, r.exact_count, r.never_underestimates)
        for r in stream_cms_heavy_hitters(spark, sf).collect()
    }
    assert stream == batch and batch


def test_bpe_guard_rejects_delimiter_and_quote_tokens(spark, tmp_path):
    """The '|'-delimited BPE fold corrupts IDENTICALLY on both engines if
    a token contains '|' (oracle-undetectable), and a quote would break
    the generated SQL literal -- bpe_two_merge_train must raise loudly at
    execution instead (the _winnow_enc guard pattern).  Clean corpora are
    unaffected: the query still trains two merges."""
    import pytest

    from etl_rf_matrix_controller_spark.operators.text import (
        bpe_two_merge_train,
    )

    def write_docs(name, texts):
        sf = str(tmp_path / name)
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id bigint, text string, lang string, source string,"
            " n_chars bigint",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf}/documents.parquet"
        )
        return sf

    bad_pipe = write_docs("pipe", ["aa bb", "a|b aa"])
    with pytest.raises(Exception, match="corrupt identically|BPE|bpe"):
        bpe_two_merge_train(spark, bad_pipe).collect()

    bad_quote = write_docs("quote", ["aa bb", "don't aa"])
    with pytest.raises(Exception, match="corrupt identically|BPE|bpe"):
        bpe_two_merge_train(spark, bad_quote).collect()

    clean = write_docs("clean", ["aa bb aa", "aa bb cc"])
    out = {r.step: r for r in bpe_two_merge_train(spark, clean).collect()}
    assert set(out) == {1, 2}
    assert out[1].merged == out[1].sym_a + out[1].sym_b
