"""Round-7b operator semantics: prefix-filter losslessness against the
brute-force all-pairs answer, positional phrase-search argmax, RBO
weight-table re-derivation + python recompute, temporal-embargo split
invariants, CDC tombstone apply semantics, and the streaming transition
tracker's stream == batch contract across real micro-batches (including
the cross-batch transition a per-batch lag window would drop).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.cdc import cdc_apply_tombstones
from etl_rf_matrix_controller_spark.operators.curation import (
    EMBARGO_US,
    temporal_embargo_split,
)
from etl_rf_matrix_controller_spark.operators.dedup import (
    PF_TAU_DEN,
    PF_TAU_NUM,
    dup_corpus,
    prefix_filter_jaccard_pairs,
)
from etl_rf_matrix_controller_spark.operators.search import (
    _RBO_DEN,
    _RBO_W_SUFFIX,
    phrase_query_match,
    rbo_rankings_compare,
    tfidf_retrieval_topk,
)
from etl_rf_matrix_controller_spark.sources.tables import load_table
from tests.conftest import SF_DIR, state_row_counts


def _shingles(text: str) -> frozenset[str]:
    t = text.strip().split(" ")
    return frozenset(
        " ".join(t[i : i + 3]) for i in range(len(t) - 2)
    )


def test_prefix_filter_is_lossless(spark):
    """The prefix-filter candidate rule must be EXACT: the declared
    query's pair set equals the brute-force all-pairs Jaccard >= tau
    answer (the property that separates it from banding, which is
    probabilistic, and the df-cap, which truncates)."""
    docs = {
        r.doc_id: r.text for r in dup_corpus(spark, SF_DIR).collect()
    }
    sets = {d: _shingles(t) for d, t in docs.items() if len(t.strip().split(" ")) >= 3}
    ids = sorted(sets)
    want = set()
    for i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[i + 1 :]:
            sb = sets[b]
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if PF_TAU_DEN * inter >= PF_TAU_NUM * union:
                want.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_jaccard_pairs(spark, SF_DIR).collect()
    }
    assert got == want
    assert got, "planted dup_corpus pairs must make the result non-vacuous"


def test_prefix_filter_planted_pairs(spark):
    """Both planted dup classes survive the prune: exact (+1M, J = 1)
    and near (+2M, one appended token)."""
    rows = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_union, r.jaccard)
        for r in prefix_filter_jaccard_pairs(spark, SF_DIR).collect()
    }
    exact = [(a, b) for (a, b) in rows if b == a + 1000000]
    near = [(a, b) for (a, b) in rows if b == a + 2000000]
    assert exact and near
    for p in exact:
        ni, nu, j = rows[p]
        assert ni == nu and j == 1.0, (p, rows[p])
    for p in near:
        ni, nu, j = rows[p]
        assert ni < nu and j >= PF_TAU_NUM / PF_TAU_DEN, (p, rows[p])


def test_phrase_query_is_global_argmax(spark):
    """The returned phrase is the corpus's most frequent trigram (ties
    lexicographic) and the per-doc counts/positions are exact."""
    docs = load_table(spark, SF_DIR, "documents").collect()
    counts: dict[str, int] = {}
    per_doc: dict[tuple[int, str], list[int]] = {}
    for r in docs:
        t = r.text.strip().split(" ")
        for i in range(len(t) - 2):
            ph = " ".join(t[i : i + 3])
            counts[ph] = counts.get(ph, 0) + 1
            per_doc.setdefault((r.doc_id, ph), []).append(i + 1)
    top = min(counts, key=lambda p: (-counts[p], p))
    got = phrase_query_match(spark, SF_DIR).collect()
    assert got
    for r in got:
        assert r.phrase == top
        poss = per_doc[(r.doc_id, top)]
        assert r.n_occurrences == len(poss)
        assert r.first_pos == min(poss)
    assert {r.doc_id for r in got} == {
        d for (d, p) in per_doc if p == top
    }


def test_rbo_weight_table_is_exact():
    """Re-derive the lcm-scaled suffix-sum weight table from first
    principles (p = 1/2, k = 10): W(m) = sum_{d=m..10} (1-p) p^(d-1)/d
    scaled by 2520 * 2^10 must be integral and equal the constants."""
    p = Fraction(1, 2)
    den = 2520 * 2**10
    for m in range(1, 11):
        w = sum((1 - p) * p ** (d - 1) / d for d in range(m, 11)) * den
        assert w.denominator == 1
        assert int(w) == _RBO_W_SUFFIX[m - 1], (m, w)
    assert _RBO_DEN == den


def test_rbo_matches_python_recompute(spark):
    """rbo_num == the Fraction-space RBO recomputed from the two
    declared rankings' collected rows; identical lists would score
    sum(w_d * d)/den, disjoint lists 0."""
    from etl_rf_matrix_controller_spark.operators.search import (
        bm25_retrieval_topk,
    )

    a = {r.doc_id: r.rnk for r in tfidf_retrieval_topk(spark, SF_DIR).collect()}
    b = {r.doc_id: r.rnk for r in bm25_retrieval_topk(spark, SF_DIR).collect()}
    num = sum(
        _RBO_W_SUFFIX[max(a[d], b[d]) - 1] for d in set(a) & set(b)
    )
    row = rbo_rankings_compare(spark, SF_DIR).collect()[0]
    assert row.rbo_num == num
    assert row.n_common == len(set(a) & set(b))
    assert row.rbo == num / _RBO_DEN
    assert 0.0 <= row.rbo <= 1.0


def test_temporal_embargo_split_invariants(spark):
    """Splits partition the events exactly; the embargo quarantines the
    full gap (train max <= cutoff < embargo rows <= cutoff + gap < test
    min); straddle count is shared across rows."""

    rows = {r.split: r for r in temporal_embargo_split(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    n_total = ev.count()
    assert "train" in rows and "test" in rows
    assert sum(r.n_events for r in rows.values()) == n_total
    mn, mx = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cutoff = mn + ((mx - mn) * 8) // 10
    assert rows["train"].max_ts_us <= cutoff < rows["test"].min_ts_us
    assert rows["test"].min_ts_us > cutoff + EMBARGO_US
    if "embargo" in rows:
        assert rows["embargo"].min_ts_us > cutoff
        assert rows["embargo"].max_ts_us <= cutoff + EMBARGO_US
    straddles = {r.n_straddle_users for r in rows.values()}
    assert len(straddles) == 1


def test_cdc_tombstone_semantics(spark):
    """Python recompute of the changelog compaction: a user whose LAST
    change is a tombstone is absent; resurrections (D then later U)
    survive; counts are per-user exact."""
    ev = load_table(spark, SF_DIR, "events").collect()
    last: dict[int, tuple] = {}
    n_changes: dict[int, int] = {}
    n_tomb: dict[int, int] = {}
    for r in ev:
        op = "D" if r.event_type == "error" else "U"
        n_changes[r.user_id] = n_changes.get(r.user_id, 0) + 1
        n_tomb[r.user_id] = n_tomb.get(r.user_id, 0) + (op == "D")
        key = (r.ts, r.event_id)
        if r.user_id not in last or key > last[r.user_id][0]:
            last[r.user_id] = (key, op, r.event_type, r.value)
    want = {
        u: (v[2], v[3], n_changes[u], n_tomb[u])
        for u, v in last.items()
        if v[1] != "D"
    }
    got = {
        r.user_id: (r.last_type, r.last_value, r.n_changes, r.n_tombstones)
        for r in cdc_apply_tombstones(spark, SF_DIR).collect()
    }
    assert got == want
    deleted = set(last) - set(want)
    assert deleted, "fixture must exercise the tombstone path"
    assert deleted.isdisjoint(got)


def test_event_transitions_stream_eq_batch_multibatch(spark, tmp_path):
    """Streaming transition tracker == batch lag window across THREE
    time-split micro-batches, with a planted CROSS-BATCH transition (the
    row class a per-batch lag window structurally drops) and the state
    bound pinned from the query's own metrics."""
    import os
    from collections import Counter

    from etl_rf_matrix_controller_spark.streaming.transitions import (
        stream_transitions,
    )

    batches = [
        [(1, "2024-01-01 10:00:00", 101, "view"),
         (1, "2024-01-01 10:05:00", 102, "click"),
         (2, "2024-01-01 10:07:00", 103, "view")],
        # user 1's 'click' -> 'purchase' and user 2's 'view' -> 'error'
        # straddle the batch boundary
        [(1, "2024-01-02 09:00:00", 201, "purchase"),
         (2, "2024-01-02 09:30:00", 202, "error")],
        [(2, "2024-01-03 08:00:00", 301, "signup"),
         (3, "2024-01-03 08:01:00", 302, "view")],
    ]
    src = str(tmp_path / "ev_stream")
    os.makedirs(src)
    now = 1700000000
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            [(u, f"{ts}", e, t) for (u, ts, e, t) in rows],
            "user_id bigint, ts_s string, event_id bigint, event_type string",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now + i * 100, now + i * 100))

    ev_batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    progress: list = []
    partials = stream_transitions(stream, spark, progress)
    got: Counter = Counter()
    for r in partials.collect():
        got[(r.prev_type, r.cur_type)] += r.n
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = Counter(
        (r.prev_type, r.cur_type)
        for r in ev_batch.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("cur_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    )
    assert got == want
    # the planted cross-batch transitions are present
    assert ("click", "purchase") in got
    assert ("view", "error") in got and ("error", "signup") in got
    # state bound: <= one state row per distinct user (shard rows can
    # only merge users, never split them)
    state_rows = state_row_counts(progress)
    assert state_rows and max(state_rows) <= 3, (state_rows, progress)


def test_median_of_means_python_recompute(spark):
    """MoM recomputed in exact integer space from the collected events;
    the estimator must sit inside the bucket-mean envelope."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        MOM_BUCKETS,
        median_of_means_value,
    )
    import hashlib

    ev = load_table(spark, SF_DIR, "events").select("event_id", "value").collect()
    buckets: dict[int, list[float]] = {}
    for r in ev:
        b = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:8], 16) % MOM_BUCKETS
        buckets.setdefault(b, []).append(r.value)
    means = []
    for b, vals in buckets.items():
        s = sum(round(v * 10000) for v in vals)
        n = len(vals)
        x = 2 * s + n
        means.append(((x - x % (2 * n)) // (2 * n), b))
    means.sort()
    mom_s = means[(len(means) + 1) // 2 - 1][0]
    row = median_of_means_value(spark, SF_DIR).collect()[0]
    assert row.k_buckets == MOM_BUCKETS
    assert row.n_events == len(ev)
    assert row.mom_value == mom_s / 10000.0
    lo = min(m for m, _ in means) / 10000.0
    hi = max(m for m, _ in means) / 10000.0
    assert lo <= row.mom_value <= hi


def test_kn_continuation_python_recompute(spark):
    """Continuation counts recomputed from the raw corpus: N1+(.w) is
    the number of distinct predecessors, NOT the raw bigram count -- the
    distinction KN smoothing is built on."""
    from etl_rf_matrix_controller_spark.operators.text import (
        kn_continuation_counts,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    types: set[tuple[str, str]] = set()
    c_tok: dict[str, int] = {}
    for r in docs:
        t = r.text.strip().split(" ")
        for i in range(len(t) - 1):
            types.add((t[i], t[i + 1]))
            c_tok[t[i + 1]] = c_tok.get(t[i + 1], 0) + 1
    n_left: dict[str, int] = {}
    n_right: dict[str, int] = {}
    for p, c in types:
        n_left[c] = n_left.get(c, 0) + 1
        n_right[p] = n_right.get(p, 0) + 1
    got = {r.token: r for r in kn_continuation_counts(spark, SF_DIR).collect()}
    assert set(got) == set(c_tok)
    for tok, r in got.items():
        assert r.c_token == c_tok[tok]
        assert r.n_left == n_left[tok]
        assert r.n_right == n_right.get(tok, 0)
        assert r.p_cont_ppm == (n_left[tok] * 1000000) // len(types)
        assert r.n_left <= r.c_token


def test_pii_delete_cascade_python_recompute(spark):
    """Cascade blast radius recomputed from the three raw tables."""
    from etl_rf_matrix_controller_spark.operators.curation import (
        pii_delete_cascade,
    )

    cust = load_table(spark, SF_DIR, "customer").collect()
    orders = load_table(spark, SF_DIR, "orders").collect()
    li = load_table(spark, SF_DIR, "lineitem").collect()
    erased = {r.c_custkey for r in cust if r.c_acctbal < 0}
    del_orders = {r.o_orderkey for r in orders if r.o_custkey in erased}
    del_li = sum(1 for r in li if r.l_orderkey in del_orders)
    got = {r.table_name: r for r in pii_delete_cascade(spark, SF_DIR).collect()}
    assert got["customer"].n_deleted == len(erased)
    assert got["customer"].n_retained == len(cust) - len(erased)
    assert got["orders"].n_deleted == len(del_orders)
    assert got["lineitem"].n_deleted == del_li
    assert got["lineitem"].n_retained == len(li) - del_li
    assert erased, "fixture must exercise the erasure path"
    for r in got.values():
        total = r.n_deleted + r.n_retained
        assert r.deleted_ppm == (r.n_deleted * 1000000) // total


def test_stratified_sample_stream_eq_batch_multibatch(spark, tmp_path):
    """First-K-per-stratum admission == batch row_number twin across
    THREE time-split micro-batches, with stratum 'a' FILLING mid-batch-1
    (so batches 2-3 must admit nothing for it) and stratum 'b' filling
    across the boundary.  State bound: one counter row per stratum."""
    import os

    from etl_rf_matrix_controller_spark.streaming.sampling import (
        stream_stratified_rows,
    )

    k = 3
    batches = [
        [("a", "2024-01-01 10:00:00", 1, 11), ("a", "2024-01-01 10:01:00", 2, 12),
         ("a", "2024-01-01 10:02:00", 3, 13), ("a", "2024-01-01 10:03:00", 4, 14),
         ("b", "2024-01-01 10:04:00", 5, 15)],
        [("a", "2024-01-02 09:00:00", 6, 16), ("b", "2024-01-02 09:01:00", 7, 17),
         ("b", "2024-01-02 09:02:00", 8, 18), ("b", "2024-01-02 09:03:00", 9, 19)],
        [("a", "2024-01-03 08:00:00", 10, 20), ("b", "2024-01-03 08:01:00", 11, 21),
         ("c", "2024-01-03 08:02:00", 12, 22)],
    ]
    src = str(tmp_path / "ev_stream")
    os.makedirs(src)
    now = 1700000000
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            rows,
            "event_type string, ts_s string, event_id bigint, user_id bigint",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now + i * 100, now + i * 100))

    ev_batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    progress: list = []
    got = sorted(
        (r.event_type, r.event_id)
        for r in stream_stratified_rows(stream, spark, k, progress).collect()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    want = sorted(
        (r.event_type, r.event_id)
        for r in ev_batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    )
    assert got == want
    # stratum 'a' filled in batch 1: events 4, 6, 10 must be rejected
    a_ids = [e for (t, e) in got if t == "a"]
    assert a_ids == [1, 2, 3]
    # stratum 'b' filled across the batch boundary: 5 (b1), 7, 8 (b2)
    assert [e for (t, e) in got if t == "b"] == [5, 7, 8]
    assert [e for (t, e) in got if t == "c"] == [12]
    state_rows = state_row_counts(progress)
    assert state_rows and max(state_rows) <= 3, state_rows


def test_chunk_dedup_python_recompute(spark):
    """Content-defined chunking recomputed in python: identical boundary
    rule, identical chunk identities, identical reclaim accounting; the
    planted exact dups guarantee nonzero dedup mass."""
    import hashlib

    from etl_rf_matrix_controller_spark.operators.dedup import (
        CDC_DIVISOR,
        chunk_dedup_stats,
    )

    docs = [r.text for r in dup_corpus(spark, SF_DIR).collect()]

    def fp(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16)

    chunk_counts: dict[str, int] = {}
    chunk_len: dict[str, int] = {}
    n_chunks = 0
    for text in docs:
        t = text.strip()
        if not t:
            continue
        bs = [
            p
            for p in range(8, len(t))
            if fp(t[p - 8 : p]) % CDC_DIVISOR == 0
        ]
        starts = [1] + [p + 1 for p in bs]
        ends = bs + [len(t)]
        for s, e in zip(starts, ends):
            ch = t[s - 1 : e]
            h = hashlib.md5(ch.encode()).hexdigest()
            chunk_counts[h] = chunk_counts.get(h, 0) + 1
            chunk_len[h] = len(ch)
            n_chunks += 1
    total = sum(chunk_counts[h] * chunk_len[h] for h in chunk_counts)
    unique = sum(chunk_len.values())
    row = chunk_dedup_stats(spark, SF_DIR).collect()[0]
    assert row.n_chunks == n_chunks
    assert row.n_distinct_chunks == len(chunk_counts)
    assert row.total_bytes == total
    assert row.unique_bytes == unique
    assert row.dedup_ppm == ((total - unique) * 1000000) // total
    assert row.dedup_ppm > 0, "planted dups must yield reclaimable bytes"


def test_chunk_boundaries_are_content_defined(spark):
    """The CDC property: appending a suffix to a doc leaves every
    interior boundary (and hence every interior chunk) unchanged --
    the reason CDC beats fixed-width blocks for dedup."""
    import hashlib

    from etl_rf_matrix_controller_spark.operators.dedup import CDC_DIVISOR

    def fp(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16)

    def chunks(t: str) -> list[str]:
        bs = [
            p for p in range(8, len(t)) if fp(t[p - 8 : p]) % CDC_DIVISOR == 0
        ]
        starts = [1] + [p + 1 for p in bs]
        ends = bs + [len(t)]
        return [t[s - 1 : e] for s, e in zip(starts, ends)]

    base = "the quick brown fox jumps over the lazy dog " * 8
    grown = base + " and then some entirely new trailing content"
    ca, cb = chunks(base.strip()), chunks(grown.strip())
    assert len(ca) > 2, "fixture must produce multiple chunks"
    # all interior chunks of the original survive verbatim in the grown doc
    assert ca[:-1] == cb[: len(ca) - 1]


def test_join_size_kmv_python_recompute(spark):
    """Sketch math recomputed from the raw keys: same md5-prefix hashes,
    same k-minimums, same staged integer divisions."""
    from etl_rf_matrix_controller_spark.operators.profiling import (
        JSE_K,
        join_size_kmv_estimate,
    )
    import hashlib

    orders = load_table(spark, SF_DIR, "orders").collect()
    events = load_table(spark, SF_DIR, "events").collect()

    def h(k) -> int:
        return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)

    ha = sorted({h(r.o_custkey) for r in orders})
    hb = sorted({h(r.user_id) for r in events})
    ska, skb = set(ha[:JSE_K]), set(hb[:JSE_K])
    kth_a, kth_b = max(ska), max(skb)
    theta = min(kth_a, kth_b)
    n_common = len({x for x in ska & skb if x < theta})
    est_overlap = (n_common * 4294967296) // theta
    est_d_a = ((JSE_K - 1) * 4294967296) // kth_a
    est_d_b = ((JSE_K - 1) * 4294967296) // kth_b
    n_a, n_b = len(orders), len(events)
    est_join = (
        (est_overlap * ((n_a * 1000000) // est_d_a) // 1000000)
        * ((n_b * 1000000) // est_d_b)
    ) // 1000000
    ca: dict[int, int] = {}
    for r in orders:
        ca[r.o_custkey] = ca.get(r.o_custkey, 0) + 1
    cb: dict[int, int] = {}
    for r in events:
        cb[r.user_id] = cb.get(r.user_id, 0) + 1
    exact_join = sum(ca[k] * cb[k] for k in set(ca) & set(cb))
    row = join_size_kmv_estimate(spark, SF_DIR).collect()[0]
    assert row.est_overlap_keys == est_overlap
    assert row.est_join_size == est_join
    assert row.exact_join_size == exact_join
    assert row.exact_overlap_keys == len(set(ca) & set(cb))
    assert exact_join > 0


def test_zscore_anomalies_stream_eq_batch_multibatch(spark, tmp_path):
    """Streaming Welford scorer == batch running-window twin across
    THREE micro-batches, with an anomaly whose prior window STRADDLES
    the batch boundary (calm history in batches 1-2, spike in batch 3)."""
    import os

    from etl_rf_matrix_controller_spark.streaming.anomaly import (
        stream_zscore_rows,
    )

    batches = [
        [(1, "2024-01-01 10:00:00", 1, 10.0), (1, "2024-01-01 10:01:00", 2, 10.2),
         (2, "2024-01-01 10:02:00", 3, 5.0)],
        [(1, "2024-01-02 09:00:00", 4, 9.8), (2, "2024-01-02 09:01:00", 5, 5.1),
         (2, "2024-01-02 09:02:00", 6, 4.9)],
        # user 1's spike: prior stats (10.0, 10.2, 9.8) live in batches
        # 1-2; user 2 stays calm
        [(1, "2024-01-03 08:00:00", 7, 99.0), (2, "2024-01-03 08:01:00", 8, 5.0)],
    ]
    src = str(tmp_path / "ev_stream")
    os.makedirs(src)
    now = 1700000000
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            rows,
            "user_id bigint, ts_s string, event_id bigint, value double",
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(
            1
        ).write.parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now + i * 100, now + i * 100))

    ev_batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    progress: list = []
    raw = stream_zscore_rows(stream, spark, progress)
    got = {
        r.user_id: (r.n_scored, r.n_anomalies)
        for r in raw.groupBy("user_id")
        .agg(
            F.sum("d_scored").cast("bigint").alias("n_scored"),
            F.sum("d_anomalies").cast("bigint").alias("n_anomalies"),
        )
        .filter(F.col("n_scored") > 0)
        .collect()
    }
    # python recompute of the running-prior rule
    want: dict[int, list[int]] = {}
    state: dict[int, list[int]] = {}
    for rows in batches:
        for (u, _ts, _e, v) in rows:
            x = round(v * 10000)
            n, s, q = state.get(u, (0, 0, 0))
            if n >= 2:
                acc = want.setdefault(u, [0, 0])
                acc[0] += 1
                if (x * n - s) ** 2 > 9 * (n * q - s * s):
                    acc[1] += 1
            state[u] = (n + 1, s + x, q + x * x)
    assert got == {u: tuple(v) for u, v in want.items()}
    # the straddling spike is flagged; the calm user is not
    assert got[1] == (2, 1)
    assert got[2][1] == 0
    state_rows = state_row_counts(progress)
    assert state_rows and max(state_rows) <= 2, state_rows


def test_ivf_family_consumes_persistent_index(spark):
    """The four raw-corpus IVF queries must read the persistent bucketed
    ivfpq index, not re-run the corpus x centroids assignment: the plan
    scans the index table and never the embeddings parquet (the build is
    a write-once artifact, hidden once published) -- the round-7
    physical-design contract, extended from the gram family."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        ann_ivf_topk,
        ann_ivfpq_topk,
        ivf_list_balance,
        pq_distortion_report,
    )

    for fn in (ann_ivf_topk, ann_ivfpq_topk, ivf_list_balance,
               pq_distortion_report):
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "gram_idx_ivfpq" in plan, (fn.__name__, plan[:2000])
        scans = [
            ln for ln in plan.splitlines()
            if "Location" in ln and "embeddings.parquet" in ln
        ]
        assert not scans, (fn.__name__, scans)


def test_ivf_index_column_pruning(spark):
    """Consumers must prune the wide index: ivf_list_balance reads only
    (vec_id, cent_id) -- neither raw embeddings nor PQ arrays reach its
    scan."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        ivf_list_balance,
    )

    df = ivf_list_balance(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "struct<cent_id:bigint>" in scan[0], (scan, plan[:1500])


def test_retrieval_family_consumes_postings_index(spark):
    """The retrieval/index-stats queries must read the persistent
    bucketed postings index, never re-tokenize the corpus: the plan
    scans the index table; a documents.parquet scan may appear only as
    the narrow doc-length / doc-count side (ReadSchema without text is
    allowed for bm25-shaped plans; the tokenize explode is not)."""
    from etl_rf_matrix_controller_spark.operators.search import (
        doc_top_terms,
        inverted_postings,
        tfidf_retrieval_topk,
    )

    # (vocab_coverage_curve also consumes the index but its lazy
    # localCheckpoint hides the scan from the constructed plan -- the
    # documented checkpoint behavior -- so it is pinned by the manifest
    # hash instead.)
    for fn, allow_docs in (
        (tfidf_retrieval_topk, True),  # doc-count scalar scan
        (inverted_postings, False),
        (doc_top_terms, True),  # joins source metadata back per doc
    ):
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "gram_idx_post" in plan, (fn.__name__, plan[:1500])
        doc_scans = [
            ln for ln in plan.splitlines()
            if "Location" in ln and "documents.parquet" in ln
        ]
        if not allow_docs:
            assert not doc_scans, (fn.__name__, doc_scans)
        # the tokenize explode must be gone from every consuming plan
        assert "explode" not in plan.lower().split("readschema")[0] or \
            "Generate" not in plan, (fn.__name__,)
