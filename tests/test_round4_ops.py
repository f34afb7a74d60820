"""Round-4 operator edge semantics: substring-span dedup on crafted
overlap cases.
"""

from __future__ import annotations

from etl_rf_matrix_controller_spark.operators.dedup import (
    substring_span_pairs_df,
)


def _spans(df):
    return {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_chars)
        for r in df.collect()
    }


def test_substring_spans_basic_and_offsets(spark):
    # A 45-char span shared at DIFFERENT offsets in the two docs must
    # yield exactly one maximal span row with the right starts/length.
    # The characters flanking the shared span differ in the two docs so
    # the maximal span is exactly the 45 chars (no accidental extension).
    shared = "The quick brown fox jumps over the lazy dog!!"  # 45 chars
    assert len(shared) == 45
    d1 = "XXXX " + shared + "YYYYYYYYYYYYYYYYYYYYYYYYYYYYYYYYYYY"
    d2 = shared + "ZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZZ"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id bigint, text string"
    )
    assert _spans(substring_span_pairs_df(docs)) == {(1, 2, 6, 1, 45)}


def test_substring_spans_two_islands(spark):
    # Two shared spans separated by unshared gaps (on different
    # diagonals) must come out as two rows, not one merged span.
    s1 = "alpha bravo charlie delta echo foxtrot golf!!!"  # 46 chars
    s2 = "hotel india juliet kilo lima mike november oo!"  # 46 chars
    assert len(s1) == 46 and len(s2) == 46
    d1 = s1 + " 123456789012345678901234567890 " + s2
    d2 = s2 + " abcdefghijabcdefghijabcdefghij " + s1
    docs = spark.createDataFrame(
        [(10, d1), (20, d2)], "doc_id bigint, text string"
    )
    got = _spans(substring_span_pairs_df(docs))
    assert got == {
        (10, 20, 1, 79, 46),   # s1: starts d1@1, d2@79
        (10, 20, 79, 1, 46),   # s2: starts d1@79, d2@1
    }, got


def test_substring_spans_below_k_invisible(spark):
    # A shared run shorter than K (40) chars must produce no rows: the
    # docs share a 30-char prefix, then diverge immediately.
    shared = "thirty shared characters aa bb"
    assert len(shared) == 30
    d1 = shared + "A tail one is distinct here with filler"
    d2 = shared + "B completely different second tail text"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id bigint, text string"
    )
    assert _spans(substring_span_pairs_df(docs)) == set()


def test_survey_211_ids_resolve_in_registry():
    """Contract-text auditability: every backticked snake_case id in
    SURVEY SS2.11/2.11b must be a declared-query registry key, unless the
    surrounding text explicitly marks it pytest-covered (the round-3
    check-type drift the round-3 verdict flagged)."""
    import re

    from etl_rf_matrix_controller_spark.plans import registry

    registry.load_all()
    text = open("SURVEY.md").read()
    start = text.index("### 2.11 Extension operators")
    end = text.index("### 2.12")
    section = text[start:end]
    ids = re.findall(r"`([a-z][a-z0-9]*(?:_[a-z0-9]+)+)`", section)
    unresolved = []
    duckdb_builtins = {"list_reduce"}  # DuckDB-side names cited in prose
    import pyspark.sql.functions as SF

    for qid in set(ids):
        if qid in registry.QUERIES:
            continue
        if hasattr(SF, qid) or qid in duckdb_builtins:
            continue  # engine function name cited in prose, not a query id
        # pytest-marked ids carry a "pytest" note within the sentence.
        idx = section.index(f"`{qid}`")
        window = section[idx: idx + 400]
        if "pytest" in window:
            continue
        unresolved.append(qid)
    assert not unresolved, (
        f"SURVEY SS2.11/2.11b ids neither declared nor pytest-marked: "
        f"{sorted(unresolved)}"
    )


# -- edge semantics on crafted tables (tmp sf_dir with tiny parquet) ------


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_pareto_front_duplicates_and_dominance(spark, tmp_path):
    """Exact (price, size) duplicates survive together (no strict
    dimension); dominated points drop; ties on one dimension need the
    other strictly better to dominate."""
    from etl_rf_matrix_controller_spark.operators.analytics_suite2 import (
        pareto_front_parts,
    )

    rows = [
        (1, "a", "B", "T", 5, 10.00),   # front
        (2, "b", "B", "T", 5, 10.00),   # exact duplicate of 1 -> survives
        (3, "c", "B", "T", 4, 12.00),   # front (smaller size, higher price)
        (4, "d", "B", "T", 6, 11.00),   # dominated by 1 (worse both)
        (5, "e", "B", "T", 5, 11.00),   # dominated by 1 (same size, pricier)
        (6, "f", "B", "T", 4, 13.00),   # dominated by 3
        (7, "g", "B", "T", 9, 9.00),    # front (cheapest)
    ]
    spark.createDataFrame(
        rows,
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = {r.p_partkey for r in pareto_front_parts(spark, str(tmp_path)).collect()}
    assert got == {1, 2, 3, 7}, got


def test_value_mad_outliers_flags_the_spike(spark, tmp_path):
    """A single extreme value must flag (robust z > 3) while the bulk
    stays unflagged; MAD=0 degenerate groups divide by the guard, not
    by zero."""
    from datetime import datetime

    from etl_rf_matrix_controller_spark.operators.profiling import (
        value_mad_outliers,
    )

    ts = datetime(2024, 1, 5, 12, 0, 0)
    rows = [(i, ts, i, "click", 10.0 + (i % 3), "{}") for i in range(20)]
    rows.append((99, ts, 99, "click", 500.0, "{}"))      # the spike
    rows += [(200 + i, ts, i, "flat", 7.0, "{}") for i in range(5)]  # MAD=0
    sf = _write_events(spark, tmp_path, rows)
    out = value_mad_outliers(spark, sf).collect()
    flagged = {(r.event_type, r.event_id) for r in out}
    # the spike flags; the flat group (every deviation 0, MAD 0 -> the
    # greatest(mad,1) guard) and the click bulk stay unflagged.
    assert flagged == {("click", 99)}, flagged


def test_kmv_union_sketch_merge_identity(spark, tmp_path):
    """est_union must be computable from the two per-half sketches alone
    AND equal the estimate a direct whole-data KMV would give (the
    mergeability identity), with the exact union riding along."""
    from datetime import datetime

    from etl_rf_matrix_controller_spark.operators.aggregates import (
        kmv_union_distinct,
    )

    rows = []
    for u in range(30):  # 30 users, present in one or both halves
        if u % 3 != 0:
            rows.append((u * 2, datetime(2024, 1, 5, 1), u, "click", 1.0, "{}"))
        if u % 3 != 1:
            rows.append((u * 2 + 1, datetime(2024, 1, 25, 1), u, "click", 1.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    out = kmv_union_distinct(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r.k == 8 and r.exact_union == 30
    # mergeability: recompute the union estimate directly in Python from
    # the same md5-prefix hashes and check the engine's sketch-merge
    # result equals the ground-truth k-th smallest over the FULL union.
    import hashlib

    hs = sorted(
        int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) for u in range(30)
    )
    assert r.est_union == (7 * 4294967296) // hs[7]


def test_cuped_excludes_zero_variance_groups(spark, tmp_path):
    """A group whose pre-period covariate never varies has var(X)=0 and
    must be filtered out, not emit a divide-by-zero NaN."""
    from datetime import datetime

    from etl_rf_matrix_controller_spark.operators.behavior import (
        cuped_variance_reduction,
    )

    pre, post = datetime(2024, 1, 5, 1), datetime(2024, 1, 25, 1)
    rows = []
    # 'varied': users with differing pre and post sums
    for u in range(8):
        rows.append((u * 10, pre, u, "varied", 10.0 + u, "{}"))
        rows.append((u * 10 + 1, post, u, "varied", 20.0 + 3 * u, "{}"))
    # 'flatpre': identical pre value for every user -> var(X) = 0
    for u in range(8):
        rows.append((1000 + u * 10, pre, u, "flatpre", 5.0, "{}"))
        rows.append((1001 + u * 10, post, u, "flatpre", 9.0 + u, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    out = {r.event_type: r for r in cuped_variance_reduction(spark, sf).collect()}
    assert "flatpre" not in out
    assert "varied" in out
    r = out["varied"]
    assert 0.0 < r.var_reduction <= 1.0 + 1e-12
    # pre/post are perfectly linearly related here -> rho^2 == 1.
    assert abs(r.var_reduction - 1.0) < 1e-9


def test_rfm_segments_bins_are_balanced(spark, tmp_path):
    """With n divisible by 3 and strict total orders, each tertile gets
    exactly n/3 users on every dimension."""
    from datetime import datetime, timedelta

    from etl_rf_matrix_controller_spark.operators.behavior import rfm_segments

    rows = []
    for u in range(9):
        # distinct recency (last-event day), frequency, monetary per user
        for e in range(u + 1):  # frequency = u+1
            rows.append(
                (u * 100 + e, datetime(2024, 1, 1) + timedelta(days=u),
                 u, "click", float(u + 1), "{}")
            )
    sf = _write_events(spark, tmp_path, rows)
    cells = rfm_segments(spark, sf).collect()
    assert sum(r.n_users for r in cells) == 9
    for dim in ("r_bin", "f_bin", "m_bin"):
        per_bin = {}
        for r in cells:
            per_bin[getattr(r, dim)] = per_bin.get(getattr(r, dim), 0) + r.n_users
        assert per_bin == {0: 3, 1: 3, 2: 3}, (dim, per_bin)
