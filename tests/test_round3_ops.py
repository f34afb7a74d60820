"""Edge-semantics unit tests for the round-3 session operators: BM25
reference math, BPE pair guard, contamination recall, sequence caps,
equi-depth balance, interpolated-percentile identities, partial-agg
merge equivalence, curriculum monotonicity, centroid-matrix shape."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _md5_bucket(key: int, buckets: int = 100) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % buckets


def test_bm25_matches_pure_python_reference(spark):
    """The declared BM25 top-10 must equal an independent pure-Python
    evaluation of the same integer-exact formula."""
    from etl_rf_matrix_controller_spark.operators.search import (
        QUERY_TERMS,
        bm25_retrieval_topk,
    )

    docs = {
        r.doc_id: [t for t in r.txt.split(" ") if t]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.trim("text").alias("txt"))
        .collect()
    }
    n_docs = len(docs)
    t_tokens = sum(len(v) for v in docs.values())
    df = {
        q: sum(1 for toks in docs.values() if q in toks) for q in QUERY_TERMS
    }
    scores = {}
    for doc_id, toks in docs.items():
        s = 0
        dl = len(toks)
        for q in QUERY_TERMS:
            tf = toks.count(q)
            if tf == 0:
                continue
            idf_ppm = (n_docs * 1000000) // df[q]
            s += (idf_ppm * (220 * t_tokens * tf)) // (
                100 * t_tokens * tf + 30 * t_tokens + 90 * dl * n_docs
            )
        if s > 0:
            scores[doc_id] = s
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r.doc_id, r.score_ppm)
        for r in bm25_retrieval_topk(spark, SF_DIR).orderBy("rnk").collect()
    ]
    assert got == expected


def test_bpe_pairs_are_true_bigrams(spark):
    """Every merge candidate is a 2-char adjacency actually present in
    some word, and its count matches a pure-Python recount."""
    from etl_rf_matrix_controller_spark.operators.text import (
        bpe_merge_pair_counts,
    )

    counts = {}
    for r in (
        load_table(spark, SF_DIR, "documents")
        .select(F.trim("text").alias("txt"))
        .collect()
    ):
        for w in r.txt.split(" "):
            if w:
                for i in range(len(w) - 1):
                    counts[w[i : i + 2]] = counts.get(w[i : i + 2], 0) + 1
    for r in bpe_merge_pair_counts(spark, SF_DIR).collect():
        assert len(r.pair) == 2
        assert counts[r.pair] == r.pair_count


def test_semantic_contamination_finds_every_straddling_leak(spark):
    """Every planted verbatim copy whose (orig, copy) ids straddle the
    80/20 split must be reported -- LSH blocking may not lose leaks."""
    from etl_rf_matrix_controller_spark.operators.curation import (
        semantic_contamination_check,
    )

    vec_ids = [
        r.vec_id
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id")
        .collect()
    ]
    expected = set()
    for v in vec_ids:
        if v % 5 == 0:
            a, b = v, v + 200000
            sa = _md5_bucket(a) < 80
            sb = _md5_bucket(b) < 80
            if sa and not sb:
                expected.add((a, b))
            elif sb and not sa:
                expected.add((b, a))
    got = {
        (r.train_vec, r.eval_vec)
        for r in semantic_contamination_check(spark, SF_DIR).collect()
    }
    assert expected <= got
    # and nothing below the cosine threshold sneaks in
    for r in semantic_contamination_check(spark, SF_DIR).collect():
        assert r.cosine >= 0.99


def test_user_event_sequences_cap_and_order(spark):
    """Sequences are the first-10 events in (ts, event_id) order."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        user_event_sequences,
    )

    raw = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        raw.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    for r in user_event_sequences(spark, SF_DIR).collect():
        evs = sorted(raw[r.user_id])
        assert r.n_events == len(evs)
        assert list(r.first_events) == [t[2] for t in evs[:10]]
        assert len(r.first_events) <= 10


def test_equidepth_bands_are_balanced_and_ordered(spark):
    """Equi-depth means counts differ by <=1; bands must be contiguous
    non-overlapping value ranges."""
    from etl_rf_matrix_controller_spark.operators.profiling import (
        equidepth_value_bands,
    )

    rows = sorted(
        equidepth_value_bands(spark, SF_DIR).collect(), key=lambda r: r.band
    )
    assert [r.band for r in rows] == list(range(1, 11))
    counts = [r.n_events for r in rows]
    assert max(counts) - min(counts) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo
        assert a.lo <= a.hi


def test_percentile_cont_identities(spark):
    """p50 of an odd-sized group is the exact middle element; quartiles
    are monotone."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        percentile_cont_prices,
    )

    got = {}
    for r in percentile_cont_prices(spark, SF_DIR).collect():
        got.setdefault(r.l_returnflag, {})[r.pct] = r.price_cont
    vals = {}
    for r in (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    ):
        vals.setdefault(r.l_returnflag, []).append(
            round(r.l_extendedprice * 100)
        )
    for flag, v in vals.items():
        v.sort()
        n = len(v)
        q = got[flag]
        assert q["p25"] <= q["p50"] <= q["p75"]
        if n % 2 == 1:
            assert q["p50"] == v[n // 2] / 100.0


def test_incremental_merge_equals_direct_monthly_avg(spark):
    """Merging daily partials must reproduce the exact monthly average
    computed directly from raw rows (algebraic-state property)."""
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        incremental_agg_merge,
    )
    from etl_rf_matrix_controller_spark.plans.conventions import exact_avg

    direct = {
        r.month: r.avg_value
        for r in load_table(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(exact_avg(F.col("value")).alias("avg_value"))
        .collect()
    }
    for r in incremental_agg_merge(spark, SF_DIR).collect():
        assert r.avg_value == direct[r.month]


def test_curriculum_bins_monotone_and_balanced(spark):
    """Stage sizes differ by <=1 and quality is non-increasing across
    stages (stage 1 holds the cleanest quarter)."""
    from etl_rf_matrix_controller_spark.operators.curation import (
        curriculum_quality_bins,
    )

    rows = sorted(
        curriculum_quality_bins(spark, SF_DIR).collect(), key=lambda r: r.stage
    )
    assert [r.stage for r in rows] == [1, 2, 3, 4]
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a.min_score >= b.max_score


def test_centroid_matrix_shape_and_range(spark):
    """k labels -> k*(k-1)/2 pairs, every cosine in [-1, 1]."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        centroid_similarity_matrix,
    )

    rows = centroid_similarity_matrix(spark, SF_DIR).collect()
    k = len(
        load_table(spark, SF_DIR, "embeddings")
        .select("label")
        .distinct()
        .collect()
    )
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        assert r.label_a < r.label_b


def test_encoding_advisor_sane(spark):
    """NDV never exceeds rows; the unique key encodes plain, the tiny
    enum dictionary-RLE encodes."""
    from etl_rf_matrix_controller_spark.operators.profiling import (
        column_encoding_advisor,
    )

    rows = {r.column_name: r for r in column_encoding_advisor(spark, SF_DIR).collect()}
    total = load_table(spark, SF_DIR, "events").count()
    for r in rows.values():
        assert r.n_distinct <= total
    assert rows["event_id"].advice == "plain"
    # ndv_ppm is scale-relative: the tiny enum is 'dict-rle' at real row
    # counts but can land in 'dict' at the 1000-row test fixture.
    assert rows["event_type"].advice in ("dict", "dict-rle")
    assert rows["event_type"].n_distinct < rows["user_id"].n_distinct


def test_fertility_at_least_one(spark):
    """BPE-ish tokenization never merges across whitespace, so fertility
    (bpe tokens per word) is >= 1 for every language."""
    from etl_rf_matrix_controller_spark.operators.text import (
        tokenizer_fertility_by_lang,
    )

    for r in tokenizer_fertility_by_lang(spark, SF_DIR).collect():
        assert r.ws_tokens > 0
        assert r.bpe_tokens >= r.ws_tokens
        assert r.fertility4 >= 1.0


def test_ks_drift_bounds_and_self_zero(spark):
    """KS statistic lies in [0,1]; identical halves give 0 (checked by
    recomputing with half forced constant via a direct Python fold)."""
    from etl_rf_matrix_controller_spark.operators.profiling import (
        value_ks_drift,
    )

    rows = value_ks_drift(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ks4 <= 1.0
        assert r.n_early > 0 and r.n_late > 0
    # independent recompute of one type's KS from raw rows
    import collections

    raw = (
        load_table(spark, SF_DIR, "events")
        .selectExpr(
            "event_type",
            "CAST(round(value * 100) AS BIGINT) AS v",
            "CASE WHEN dayofmonth(ts) <= 15 THEN 1 ELSE 2 END AS half",
        )
        .collect()
    )
    typ = rows[0].event_type
    d1 = collections.Counter(r.v for r in raw if r.event_type == typ and r.half == 1)
    d2 = collections.Counter(r.v for r in raw if r.event_type == typ and r.half == 2)
    n1, n2 = sum(d1.values()), sum(d2.values())
    c1 = c2 = 0
    best = 0
    for v in sorted(set(d1) | set(d2)):
        c1 += d1.get(v, 0)
        c2 += d2.get(v, 0)
        best = max(best, abs(c1 * n2 - c2 * n1))
    x = 2 * best * 10000 + n1 * n2
    expect = ((x - x % (2 * n1 * n2)) // (2 * n1 * n2)) / 10000.0
    got = {r.event_type: r.ks4 for r in rows}[typ]
    assert got == expect


def test_benford_shares_partition_unity(spark):
    """First digits are 1..9 and ppm shares sum to ~1e6 (floor slack)."""
    from etl_rf_matrix_controller_spark.operators.profiling import (
        benford_first_digit,
    )

    rows = benford_first_digit(spark, SF_DIR).collect()
    assert set(r.first_digit for r in rows) <= set(range(1, 10))
    total_ppm = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= total_ppm <= 1_000_000


def test_corr_matrix_matches_builtin_and_bounds(spark):
    """Exact-moment correlations agree with F.corr to float tolerance
    and stay in [-1, 1]."""
    from pyspark.sql import functions as F

    from etl_rf_matrix_controller_spark.operators.analytics_suite2 import (
        lineitem_corr_matrix,
    )

    got = {r.pair: r.corr for r in lineitem_corr_matrix(spark, SF_DIR).collect()}
    assert len(got) == 6
    li = load_table(spark, SF_DIR, "lineitem")
    ref = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("qp"),
        F.corr("l_discount", "l_tax").alias("dt"),
    ).collect()[0]
    assert abs(got["quantity_extendedprice"] - ref.qp) < 1e-6
    assert abs(got["discount_tax"] - ref.dt) < 1e-6
    for v in got.values():
        assert -1.0 - 1e-12 <= v <= 1.0 + 1e-12


def test_division_counts_are_consistent(spark):
    """Relational division sanity: fully-on-time orders never exceed the
    month's orders, and the global counts reconcile with a direct
    NOT-EXISTS computation."""
    from pyspark.sql import functions as F

    from etl_rf_matrix_controller_spark.operators.analytics_suite2 import (
        order_fully_shipped_sla,
    )

    rows = order_fully_shipped_sla(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_fully_on_time <= r.n_orders
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    late = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).select("l_orderkey").distinct()
    with_items = li.select("l_orderkey").distinct()
    fully_direct = with_items.join(late, "l_orderkey", "anti").count()
    assert sum(r.n_fully_on_time for r in rows) == fully_direct


def test_equidepth_sampled_boundary_path(spark):
    """The documented 100 TB path for equi-depth bands -- approx-quantile
    boundaries + range assignment instead of a global ntile sort --
    produces bands within a reasonable balance tolerance of fair share."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events").select("value")
    n = ev.count()
    cuts = ev.agg(
        F.percentile_approx(
            "value", [i / 10 for i in range(1, 10)], 10000
        ).alias("qs")
    ).collect()[0].qs
    band = F.lit(1)
    for i, c in enumerate(cuts, start=1):
        band = F.when(F.col("value") > float(c), i + 1).otherwise(band)
    counts = [
        r.cnt
        for r in ev.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    assert len(counts) == 10
    fair = n / 10
    for c in counts:
        assert 0.5 * fair <= c <= 2.0 * fair


def test_cusum_changepoint_matches_python(spark):
    """CUSUM argmax per type equals a direct Python fold."""
    import collections

    from etl_rf_matrix_controller_spark.operators.profiling import (
        value_changepoint_cusum,
    )

    raw = collections.defaultdict(list)
    for r in (
        load_table(spark, SF_DIR, "events")
        .selectExpr(
            "event_type", "ts", "event_id",
            "CAST(round(value * 100) AS BIGINT) AS v",
        )
        .collect()
    ):
        raw[r.event_type].append((r.ts, r.event_id, r.v))
    got = {r.event_type: r for r in value_changepoint_cusum(spark, SF_DIR).collect()}
    for typ, evs in raw.items():
        evs.sort()
        n = len(evs)
        s = sum(v for _, _, v in evs)
        cum = 0
        best = (-1, None)
        for k, (ts, _, v) in enumerate(evs, start=1):
            cum += v
            dev = abs(n * cum - k * s)
            if dev > best[0]:
                best = (dev, k, ts)
        r = got[typ]
        assert (r.max_abs_cusum, r.cp_index, r.cp_ts) == (
            best[0], best[1], best[2],
        )


def test_widest_path_dominance_and_relay(spark):
    """best_cap >= direct_cap; relay capacities match a Python
    widest-2-hop recompute over the collected edge list."""
    from etl_rf_matrix_controller_spark.operators.graph import (
        widest_two_hop_trade,
    )

    rows = widest_two_hop_trade(spark, SF_DIR).collect()
    direct = {
        (r.src_nation, r.dst_nation): r.direct_cap
        for r in rows
        if r.direct_cap > 0
    }
    for r in rows:
        assert r.best_cap == max(r.direct_cap, r.best_relay_cap)
    # recompute relay from the direct edges
    best_relay = {}
    for (a, b), c1 in direct.items():
        for (b2, c), c2 in direct.items():
            if b2 == b and c != a:
                k = (a, c)
                cap = min(c1, c2)
                if cap > best_relay.get(k, -1):
                    best_relay[k] = cap
    for r in rows:
        assert r.best_relay_cap == best_relay.get(
            (r.src_nation, r.dst_nation), 0
        )


def test_oov_rate_monotone_and_totals(spark):
    """Coverage grows with vocab size; OOV mass shrinks; totals equal
    the corpus token count."""
    from etl_rf_matrix_controller_spark.operators.text import (
        tokenizer_oov_rate,
    )
    from pyspark.sql import functions as F

    rows = sorted(tokenizer_oov_rate(spark, SF_DIR).collect(), key=lambda r: r.vocab_k)
    total_direct = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split(F.trim("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
        .count()
    )
    for a, b in zip(rows, rows[1:]):
        assert a.covered <= b.covered
        assert a.oov_ppm >= b.oov_ppm
    for r in rows:
        assert r.total == total_direct
        assert 0 <= r.oov_ppm <= 1_000_000


def test_grouped_corr_matches_numpy(spark):
    """Per-source quality/length correlation equals numpy's corrcoef."""
    import numpy as np

    from etl_rf_matrix_controller_spark.operators.curation import (
        quality_length_corr_by_source,
    )
    from etl_rf_matrix_controller_spark.operators.text import doc_quality_score

    q = {r.doc_id: r.quality_score for r in doc_quality_score(spark, SF_DIR).collect()}
    feats = {}
    for r in (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "n_chars")
        .collect()
    ):
        feats.setdefault(r.source, []).append(
            (r.n_chars, round(q[r.doc_id] * 10000))
        )
    for r in quality_length_corr_by_source(spark, SF_DIR).collect():
        xs, ys = zip(*feats[r.source])
        ref = float(np.corrcoef(xs, ys)[0, 1])
        assert abs(r.corr - ref) < 1e-9
        assert -1.0 - 1e-12 <= r.corr <= 1.0 + 1e-12


def test_tv_distance_matches_python(spark):
    """Split TV distance equals the direct definition."""
    import collections

    from etl_rf_matrix_controller_spark.operators.pipeline import (
        split_balance_tv_distance,
    )

    counts = collections.defaultdict(lambda: collections.Counter())
    for r in (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang")
        .collect()
    ):
        b = _md5_bucket(r.doc_id)
        split = "train" if b < 80 else ("val" if b < 90 else "test")
        counts[split][r.lang] += 1
    nt = sum(counts["train"].values())
    got = {r.split: r for r in split_balance_tv_distance(spark, SF_DIR).collect()}
    for split in ("val", "test"):
        ns = sum(counts[split].values())
        langs = set(counts["train"]) | set(counts[split])
        num = sum(
            abs(counts[split][l] * nt - counts["train"][l] * ns) for l in langs
        )
        expect = (num * 1_000_000) // (2 * ns * nt)
        assert got[split].n_docs == ns
        assert got[split].tv_vs_train_ppm == expect


def test_gram_matrix_matches_numpy(spark):
    """Gram cells equal numpy's X^T X over the leading dims (float
    tolerance; ours is the deterministic sequential fold)."""
    import numpy as np

    from etl_rf_matrix_controller_spark.operators.similarity import (
        GRAM_DIMS,
        embedding_gram_matrix,
    )

    X = np.array(
        [
            r.embedding[:GRAM_DIMS]
            for r in load_table(spark, SF_DIR, "embeddings")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    G = X.T @ X
    for r in embedding_gram_matrix(spark, SF_DIR).collect():
        assert abs(r.gram - G[r.pos_a - 1, r.pos_b - 1]) < 1e-9 * max(
            1.0, abs(G[r.pos_a - 1, r.pos_b - 1])
        )


def test_power_iteration_improves_rayleigh_quotient(spark):
    """Power iteration's guaranteed property on a PSD matrix: the
    Rayleigh quotient is non-decreasing step to step (the embeddings'
    Gram spectrum is nearly flat, so absolute eigenvector alignment
    after 2 steps is weak -- the monotone invariant is what the
    algorithm promises), plus alignment well above the random-direction
    baseline."""
    import numpy as np

    from etl_rf_matrix_controller_spark.operators.similarity import (
        GRAM_DIMS,
        gram_top_eigvec,
    )

    X = np.array(
        [
            r.embedding[:GRAM_DIMS]
            for r in load_table(spark, SF_DIR, "embeddings")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    G = X.T @ X

    def rq(v):
        return (v @ G @ v) / (v @ v)

    v0 = np.ones(GRAM_DIMS)
    v1 = G @ v0
    got = np.zeros(GRAM_DIMS)
    for r in gram_top_eigvec(spark, SF_DIR).collect():
        got[r.pos - 1] = r.comp
    # our v2 is G @ (v1 / max|v1|): same direction as G @ v1
    assert np.allclose(got, G @ (v1 / np.abs(v1).max()), rtol=1e-9)
    assert rq(got) >= rq(v1) - 1e-9 >= rq(v0) - 2e-9
    vals, vecs = np.linalg.eigh(G)
    top = vecs[:, -1]
    cos = abs(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top))
    # random 16-dim direction baseline is ~0.2; two steps reach ~0.7
    assert cos > 0.5, cos


def test_pca_projection_is_true_topk(spark):
    """The surfaced vectors really are the |projection| top-10 against a
    numpy recompute with the same direction."""
    import numpy as np

    from etl_rf_matrix_controller_spark.operators.similarity import (
        GRAM_DIMS,
        gram_top_eigvec,
        pca_projection_topk,
    )

    v = np.zeros(GRAM_DIMS)
    for r in gram_top_eigvec(spark, SF_DIR).collect():
        v[r.pos - 1] = r.comp
    rows = load_table(spark, SF_DIR, "embeddings").collect()
    proj = {r.vec_id: float(np.array(r.embedding[:GRAM_DIMS]) @ v) for r in rows}
    expect = sorted(proj, key=lambda k: (-abs(proj[k]), k))[:10]
    got = [
        r.vec_id for r in pca_projection_topk(spark, SF_DIR).orderBy("rnk").collect()
    ]
    assert got == expect


def test_flap_detection_matches_python(spark):
    """Per (user, day) change counts equal a direct fold; first event is
    never a change."""
    import collections

    from etl_rf_matrix_controller_spark.operators.state import (
        route_flap_detection,
    )

    seqs = collections.defaultdict(list)
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        seqs[r.user_id].append((r.ts, r.event_id, r.event_type))
    counts = collections.Counter()
    totals = collections.Counter()
    for u, evs in seqs.items():
        evs.sort()
        prev = None
        for ts, _, et in evs:
            day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
            totals[(u, day)] += 1
            if prev is not None and et != prev:
                counts[(u, day)] += 1
            prev = et
    expect = {
        k: (v, totals[k]) for k, v in counts.items() if v >= 3
    }
    got = {
        (r.user_id, r.day): (r.n_changes, r.n_events)
        for r in route_flap_detection(spark, SF_DIR).collect()
    }
    assert got == expect


def test_trigram_paths_match_python(spark):
    """Top trigram path counts equal a direct per-user fold."""
    import collections

    from etl_rf_matrix_controller_spark.operators.behavior import (
        event_trigram_paths,
    )

    seqs = collections.defaultdict(list)
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        seqs[r.user_id].append((r.ts, r.event_id, r.event_type))
    counts = collections.Counter()
    for evs in seqs.values():
        evs.sort()
        ts = [e[2] for e in evs]
        for i in range(len(ts) - 2):
            counts[f"{ts[i]}>{ts[i+1]}>{ts[i+2]}"] += 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = [
        (r.path, r.n_paths)
        for r in event_trigram_paths(spark, SF_DIR).orderBy("rnk").collect()
    ]
    assert got == expect


def test_bootstrap_ci_brackets_true_mean(spark):
    """The Poisson-bootstrap band contains the exact mean and is
    ordered; replicas are all present."""
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        BOOT_B,
        bootstrap_mean_ci,
    )
    from pyspark.sql import functions as F

    row = bootstrap_mean_ci(spark, SF_DIR).collect()[0]
    assert row.n_replicas == BOOT_B
    assert row.ci_lo <= row.ci_hi
    true_mean = (
        load_table(spark, SF_DIR, "events")
        .agg(F.avg("value"))
        .collect()[0][0]
    )
    assert row.ci_lo <= true_mean <= row.ci_hi
