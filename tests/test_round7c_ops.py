"""Round-7c operator semantics: log-rank O/E/V recompute from first
principles, Benjamini-Hochberg step-up recompute (Chebyshev p-bounds,
step-up monotonicity), and binary-segmentation gain-argmax recompute
over the daily series.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.behavior import (
    BH_ALPHA_DEN,
    BH_ALPHA_NUM,
    bh_fdr_brand_price,
    logrank_error_cohort_test,
)
from etl_rf_matrix_controller_spark.operators.profiling import (
    binseg_value_changepoint,
)
from etl_rf_matrix_controller_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_logrank_matches_python_recompute(spark):
    """O1, E1_ppm, V_ppm and the chi-square recomputed in pure Python
    from the raw events (first-event-is-error cohort, KM-style
    entry/conversion/censoring) must equal the declared query's row."""
    ev = load_table(spark, SF_DIR, "events").collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(r)
    durs = []  # (group, dur_days, converted)
    for uid, rows in per_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        g = 1 if rows[0].event_type == "error" else 0
        fes = [int(r.ts.timestamp()) for r in rows]
        entry, censor = min(fes), max(fes)
        convs = [
            fe
            for r, fe in zip(rows, fes)
            if r.event_type == "purchase"
        ]
        conv = min(convs) if convs else None
        dur = ((conv if conv is not None else censor) - entry) // 86400
        durs.append((g, dur, conv is not None))
    n1_total = sum(g for g, _, _ in durs)
    n_total = len(durs)
    per_day = defaultdict(lambda: [0, 0, 0, 0])  # u, u1, c, c1
    for g, dur, conv in durs:
        d = per_day[dur]
        d[0] += 1
        d[1] += g
        d[2] += int(conv)
        d[3] += int(conv) * g
    o1 = e_ppm = v_ppm = 0
    cum_u = cum_u1 = 0
    for dur in sorted(per_day):
        u, u1, c, c1 = per_day[dur]
        cum_u += u
        cum_u1 += u1
        n = n_total - (cum_u - u)
        n1 = n1_total - (cum_u1 - u1)
        if c > 0 and n > 1:
            o1 += c1
            e_ppm += (1000000 * c * n1) // n
            v_ppm += (
                ((((1000000 * c * n1) // n) * (n - n1)) // n) * (n - c)
            ) // (n - 1)
    row = logrank_error_cohort_test(spark, SF_DIR).collect()[0]
    assert row.n1_users == n1_total
    assert row.n0_users == n_total - n1_total
    assert row.o1 == o1
    assert row.e1_ppm == e_ppm
    assert row.v_ppm == v_ppm
    diff = float(o1 * 1000000 - e_ppm)
    assert row.logrank_chi2 == diff * diff / (float(v_ppm) * 1000000.0)
    assert n1_total > 0 and n1_total < n_total, "both cohorts populated"


def test_bh_fdr_matches_python_recompute(spark):
    """z^2, the Chebyshev p-bound, ranks, and the step-up rejection set
    recomputed in Python must equal the declared query; rejections must
    be a prefix of the p-ascending rank order (step-up property)."""
    parts = load_table(spark, SF_DIR, "part").collect()
    per = defaultdict(lambda: [0, 0])
    sxx = s = n = 0
    for r in parts:
        x = round(r.p_retailprice * 100)
        b = per[r.p_brand]
        b[0] += 1
        b[1] += x
        s += x
        sxx += x * x
        n += 1
    var = (float(sxx) - float(s) * float(s) / float(n)) / float(n)
    stats = []
    for brand, (nb, sb) in per.items():
        md = float(sb * n - s * nb) / (float(nb) * float(n))
        z2 = float(nb) * md * md / var
        p = 1.0 if z2 <= 1.0 else 1.0 / z2
        stats.append((p, brand, nb, md, z2))
    stats.sort(key=lambda t: (t[0], t[1]))
    m = len(stats)
    kmax = 0
    for k, (p, *_rest) in enumerate(stats, start=1):
        if p <= float(k * BH_ALPHA_NUM) / (float(m) * float(BH_ALPHA_DEN)):
            kmax = k
    rows = {r.p_brand: r for r in bh_fdr_brand_price(spark, SF_DIR).collect()}
    assert len(rows) == m
    for k, (p, brand, nb, md, z2) in enumerate(stats, start=1):
        r = rows[brand]
        assert r.k == k
        assert r.n_parts == nb
        assert r.mean_diff_cents == md
        assert r.z2 == z2
        assert r.p_cheb == p
        assert r.rejected == (1 if k <= kmax else 0)
    ks = sorted(r.k for r in rows.values() if r.rejected)
    assert ks == list(range(1, len(ks) + 1)), "rejections form a rank prefix"


def test_binseg_matches_python_recompute(spark):
    """The root split and both child splits recomputed from the daily
    prefix sums must equal the declared rows, and the child segments
    must partition the series at the root index."""
    ev = load_table(spark, SF_DIR, "events").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[r.ts.date()] += round(r.value * 100)
    days = sorted(daily)
    vs = [daily[d] for d in days]

    def best(vals, dys):
        nn = len(vals)
        tot = sum(vals)
        cum = 0
        out = None
        for k in range(1, nn):
            cum += vals[k - 1]
            g = (
                float(cum) * float(cum) / float(k)
                + float(tot - cum) * float(tot - cum) / float(nn - k)
                - float(tot) * float(tot) / float(nn)
            )
            if out is None or g > out[0]:
                out = (g, k, dys[k - 1], cum, tot, nn)
        return out

    g_all, k_all, day_all, cum_all, tot_all, n_all = best(vs, days)
    rows = {r.seg: r for r in binseg_value_changepoint(spark, SF_DIR).collect()}
    r = rows["all"]
    assert (r.gain, r.split_index, r.split_day) == (g_all, k_all, day_all)
    assert r.n_days == n_all
    assert r.left_mean_cents == float(cum_all) / float(k_all)
    assert r.right_mean_cents == float(tot_all - cum_all) / float(
        n_all - k_all
    )
    for seg, lo, hi in (("left", 0, k_all), ("right", k_all, len(vs))):
        g, k, day, cum, tot, nn = best(vs[lo:hi], days[lo:hi])
        rs = rows[seg]
        assert (rs.gain, rs.split_day) == (g, day)
        assert rs.n_days == nn == hi - lo


def test_dp_geometric_noise_matches_python_recompute(spark):
    """The md5-seeded inverse-CDF noise recomputed in pure Python must
    equal the declared query's noise for every released cell; the
    clamp, bound, and epsilon constant are pinned too."""
    import hashlib

    from etl_rf_matrix_controller_spark.operators.curation import (
        dp_geometric_noisy_counts,
    )

    rows = dp_geometric_noisy_counts(spark, SF_DIR).collect()
    assert rows, "release must be non-vacuous"
    n_zero = 0
    for r in rows:
        key = f"{r.event_type}|{r.day.isoformat()}"
        u = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
        if 3 * u < 2**32:
            k = sum(1 for j in range(1, 34) if 3 * u < 2**33 // (1 << (j - 1)))
            want = -k
        elif 3 * u >= 2**33:
            t = 2**32 - u
            k = sum(
                1 for j in range(1, 34) if 3 * t <= 2**33 // (1 << (j - 1))
            )
            want = k
        else:
            want = 0
        assert r.noise == want, (key, r.noise, want)
        assert abs(r.noise) <= 33
        assert r.dp_n == max(0, r.true_n + r.noise)
        assert r.epsilon_ppm == 693147
        if r.noise == 0:
            n_zero += 1
    # P(noise = 0) = 1/3: loose two-sided sanity band on the fixture.
    assert 0.05 < n_zero / len(rows) < 0.75


def test_rake_matches_python_recompute(spark):
    """RAKE degree/frequency word scores and additive phrase scores
    recomputed in pure Python must reproduce the declared top-k."""
    from etl_rf_matrix_controller_spark.operators.text import (
        RAKE_STOPWORDS,
        RAKE_TOPK,
        rake_keyword_extract,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    phrases = []  # list of token tuples
    for r in docs:
        cur = []
        for t in r.text.strip().split(" "):
            if not t:
                continue
            if t in RAKE_STOPWORDS:
                if cur:
                    phrases.append(tuple(cur))
                cur = []
            else:
                cur.append(t)
        if cur:
            phrases.append(tuple(cur))
    freq = defaultdict(int)
    deg = defaultdict(int)
    for ph in phrases:
        for w in ph:
            freq[w] += 1
            deg[w] += len(ph)
    w_ppm = {w: (1000000 * deg[w]) // freq[w] for w in freq}
    stats = defaultdict(lambda: [0, 0, 0])  # phrase -> [n_occ, n_words, score]
    for ph in phrases:
        s = stats[" ".join(ph)]
        s[0] += 1
        s[1] = len(ph)
        s[2] = sum(w_ppm[w] for w in ph)
    ranked = sorted(stats.items(), key=lambda kv: (-kv[1][2], kv[0]))
    want = {
        ph: (i + 1, n_occ, n_words, score)
        for i, (ph, (n_occ, n_words, score)) in enumerate(
            ranked[:RAKE_TOPK]
        )
    }
    got = {
        r.phrase: (r.rnk, r.n_occurrences, r.n_words, r.score_ppm)
        for r in rake_keyword_extract(spark, SF_DIR).collect()
    }
    assert got == want


def test_rm3_reranks_over_initial_retrieval(spark):
    """RM3 structural contract: exactly top-k rows in a total order,
    was_initial flags agree with the first-pass BM25 top-k, and the
    expanded query actually moves scores (the result is not the
    first-pass ranking re-emitted)."""
    from etl_rf_matrix_controller_spark.operators.search import (
        QUERY_TERMS,
        RM3_FEEDBACK_DOCS,
        bm25_retrieval_topk,
        rm3_expansion_retrieval_topk,
    )

    first = {
        r.doc_id: r.score_ppm
        for r in bm25_retrieval_topk(spark, SF_DIR).collect()
    }
    rows = rm3_expansion_retrieval_topk(spark, SF_DIR).collect()
    assert len(rows) == RM3_FEEDBACK_DOCS
    assert sorted(r.rnk for r in rows) == list(
        range(1, RM3_FEEDBACK_DOCS + 1)
    )
    by_rank = sorted(rows, key=lambda r: r.rnk)
    scores = [r.score_ppm for r in by_rank]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.was_initial == (1 if r.doc_id in first else 0)
    # Expansion adds terms, so any doc carrying an expansion term gains
    # score relative to its first-pass value.
    gained = [
        r for r in rows if r.doc_id in first and r.score_ppm > first[r.doc_id]
    ]
    assert gained, "expansion terms must contribute to at least one survivor"
    assert len(QUERY_TERMS) == 3


def test_hbos_matches_python_recompute(spark):
    """HBOS inverse-density products and the global top-k recomputed in
    pure Python must equal the declared rows (bins, scores, ranks)."""
    from etl_rf_matrix_controller_spark.operators.profiling import (
        HBOS_TOPK,
        HBOS_VALUE_BINS,
        hbos_outlier_scores,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    rows = []
    for r in ev:
        v = round(r.value * 100)
        hr = r.ts.hour
        dow = (int(r.ts.timestamp()) // 86400 + 4) % 7
        rows.append((r.event_id, v, hr, dow))
    vmin = min(v for _, v, _, _ in rows)
    vmax = max(v for _, v, _, _ in rows)
    n = len(rows)
    cv = defaultdict(int)
    ch = defaultdict(int)
    cd = defaultdict(int)
    binned = []
    for eid, v, hr, dow in rows:
        b = ((v - vmin) * HBOS_VALUE_BINS) // (vmax - vmin + 1)
        binned.append((eid, v, b, hr, dow))
        cv[b] += 1
        ch[hr] += 1
        cd[dow] += 1
    scored = [
        (
            eid,
            v,
            b,
            hr,
            dow,
            (float(n) / float(cv[b]))
            * (float(n) / float(ch[hr]))
            * (float(n) / float(cd[dow])),
        )
        for eid, v, b, hr, dow in binned
    ]
    scored.sort(key=lambda t: (-t[5], t[0]))
    want = {
        eid: (v, b, hr, dow, score, i + 1)
        for i, (eid, v, b, hr, dow, score) in enumerate(scored[:HBOS_TOPK])
    }
    got = {
        r.event_id: (r.v, r.b_val, r.hr, r.dow, r.score, r.rnk)
        for r in hbos_outlier_scores(spark, SF_DIR).collect()
    }
    assert got == want


def test_croston_matches_python_recompute(spark):
    """Croston size/interval SES folds recomputed in pure Python (seeded
    with the first element, alpha = 0.3) must equal the declared row;
    the fixture must be genuinely intermittent at this scale."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        CROSTON_THR,
        croston_intermittent_forecast,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    daily = defaultdict(int)
    for r in ev:
        d = r.ts.date()
        daily.setdefault(d, 0)
        if r.event_type == "purchase" and r.value > CROSTON_THR:
            daily[d] += 1
    days = sorted(daily)
    demand = [
        (i + 1, daily[d]) for i, d in enumerate(days) if daily[d] > 0
    ]
    assert demand, "fixture must have demand days"
    assert len(demand) < len(days), "fixture must have zero-demand days"
    zs = [float(d) for _, d in demand]
    ps = []
    prev = 0
    for i, _ in demand:
        ps.append(float(i - prev))
        prev = i

    def ses(xs):
        acc = xs[0]
        for x in xs[1:]:
            acc = acc + 0.3 * (x - acc)
        return acc

    row = croston_intermittent_forecast(spark, SF_DIR).collect()[0]
    assert row.n_days == len(days)
    assert row.n_demand == len(demand)
    assert row.total_demand == sum(d for _, d in demand)
    assert row.z_hat == ses(zs)
    assert row.p_hat == ses(ps)
    assert row.croston_per_day == ses(zs) / ses(ps)
    assert row.mean_demand_per_day == float(
        sum(d for _, d in demand)
    ) / float(len(days))


def test_ph_stream_eq_batch_multibatch(spark, tmp_path):
    """Streaming daily accumulation + PH fold == batch fold over THREE
    time-split micro-batches, with a planted mean INCREASE whose drift
    peak lands in the final batch (the alarm the online detector
    exists to raise)."""
    import os

    from etl_rf_matrix_controller_spark.streaming.drift import (
        ph_daily_sums,
        ph_fold,
    )
    from etl_rf_matrix_controller_spark.streaming.windows import (
        run_stream_to_memory,
    )

    batches = [
        [("m", "2024-01-01 10:00:00", 1.0), ("m", "2024-01-02 10:00:00", 1.2),
         ("q", "2024-01-01 11:00:00", 5.0)],
        [("m", "2024-01-03 10:00:00", 0.9), ("m", "2024-01-04 10:00:00", 1.1),
         ("q", "2024-01-02 11:00:00", 5.0)],
        # the planted level shift: the online PH drift must peak here
        [("m", "2024-01-05 10:00:00", 9.0), ("m", "2024-01-06 10:00:00", 9.5),
         ("q", "2024-01-03 11:00:00", 5.0)],
    ]
    src = str(tmp_path / "ph_stream")
    os.makedirs(src)
    now = 1700000000
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"phb{i}")
        spark.createDataFrame(
            rows, "event_type string, ts_s string, value double"
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
    daily_s = run_stream_to_memory(ph_daily_sums(stream), spark)
    got = {
        r.event_type: (r.n_days, r.final_ph, r.max_drift, r.drift_day)
        for r in ph_fold(daily_s).collect()
    }
    want = {
        r.event_type: (r.n_days, r.final_ph, r.max_drift, r.drift_day)
        for r in ph_fold(ph_daily_sums(ev_batch)).collect()
    }
    assert got == want
    import datetime

    assert got["m"][1] > 0 and got["m"][2] > 0
    assert got["m"][3] >= datetime.date(2024, 1, 5), (
        "drift must peak after the planted shift"
    )
    assert got["q"][2] == 0.0, "flat series must show zero drift"


def test_good_turing_matches_python_recompute(spark):
    """Frequency-of-frequencies, adjusted counts, and P0 recomputed in
    pure Python must equal the declared table."""
    from etl_rf_matrix_controller_spark.operators.text import (
        good_turing_counts,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    tf = defaultdict(int)
    for r in docs:
        for t in r.text.strip().split(" "):
            if t:
                tf[t] += 1
    foff = defaultdict(int)
    for c in tf.values():
        foff[c] += 1
    n_tokens = sum(c * k for c, k in foff.items())
    n_hapax = foff.get(1, 0)
    want = {}
    for c, k in foff.items():
        nxt = foff.get(c + 1, 0)
        want[c] = (
            k,
            c * k,
            nxt,
            (1000000 * (c + 1) * nxt) // k,
            (1000000 * n_hapax) // n_tokens,
        )
    got = {
        r.c: (r.n_types, r.mass, r.next_types, r.gt_count_ppm, r.p0_ppm)
        for r in good_turing_counts(spark, SF_DIR).collect()
    }
    assert got == want
    assert any(v[3] > 0 for v in got.values()), "adjusted counts non-vacuous"


def test_zipf_octave_fit_matches_python_recompute(spark):
    """Octave bucketing (exact integer floor-log2), floored octave
    means, and the OLS slope recomputed in Python must equal the
    declared row; the slope must be negative (Zipf decay)."""
    from etl_rf_matrix_controller_spark.operators.text import (
        zipf_octave_fit,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    tf = defaultdict(int)
    for r in docs:
        for t in r.text.strip().split(" "):
            if t:
                tf[t] += 1
    ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    per = defaultdict(lambda: [0, 0])
    for r0, (_, f) in enumerate(ranked, start=1):
        b = r0.bit_length() - 1  # floor(log2 r)
        lf = f.bit_length() - 1
        per[b][0] += 1
        per[b][1] += lf
    pts = [(b, sy // k) for b, (k, sy) in per.items()]
    m = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    slope = float(m * sxy - sx * sy) / float(m * sxx - sx * sx)
    row = zipf_octave_fit(spark, SF_DIR).collect()[0]
    assert (row.n_octaves, row.sx, row.sy, row.sxy, row.sxx) == (
        m,
        sx,
        sy,
        sxy,
        sxx,
    )
    assert row.zipf_slope_log2 == slope
    assert row.intercept_log2 == (
        float(sy) - slope * float(sx)
    ) / float(m)
    assert slope < 0, "Zipf decay must be negative"


def test_cvm_matches_python_recompute(spark):
    """Rank-form U and the ppb-floored statistic recomputed in pure
    Python must equal the declared row; CvM must be non-negative-ish
    (above its small-sample lower bound) on real data."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        cvm_two_sample_value,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    pooled = sorted(
        (round(r.value * 100), r.event_id, r.event_type)
        for r in ev
        if r.event_type in ("purchase", "click")
    )
    idx = {"purchase": 0, "click": 0}
    s = {"purchase": 0, "click": 0}
    n = {"purchase": 0, "click": 0}
    for r0, (_, _, et) in enumerate(pooled, start=1):
        idx[et] += 1
        s[et] += (r0 - idx[et]) ** 2
        n[et] += 1
    na, nb = n["purchase"], n["click"]
    sa, sb = s["purchase"], s["click"]
    t1 = (1000000000 * (na * sa + nb * sb)) // (na * nb * (na + nb))
    t2 = (1000000000 * (4 * na * nb - 1)) // (6 * (na + nb))
    row = cvm_two_sample_value(spark, SF_DIR).collect()[0]
    assert (row.n_a, row.n_b, row.s_a, row.s_b) == (na, nb, sa, sb)
    assert row.cvm_t_ppb == t1 - t2
    assert row.cvm_t == float(t1 - t2) / 1000000000.0


def test_mrl_prefix_recall_matches_python_recompute(spark):
    """Full-dim and prefix-dim top-k rankings recomputed in pure Python
    (same sequential fold order) must yield the same per-query overlap
    counts; prefix recall must be <= 1 and the table non-vacuous."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        MRL_PREFIX_DIM,
        MRL_TOP_K,
        N_QUERIES,
        mrl_prefix_dim_recall,
    )

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    queries = {v: e for v, e in emb.items() if v < N_QUERIES}

    def dot(a, b, d):
        acc = 0.0
        for i in range(d):
            acc = acc + a[i] * b[i]
        return acc

    want = {}
    for qid, qe in queries.items():
        tops = {}
        for d, tag in ((64, "full"), (MRL_PREFIX_DIM, "pre")):
            scored = sorted(
                ((-dot(qe, ce, d), cid) for cid, ce in emb.items()
                 if cid != qid),
            )[:MRL_TOP_K]
            tops[tag] = {cid for _, cid in scored}
        want[qid] = len(tops["full"] & tops["pre"])
    got = {
        r.query_id: (r.k, r.n_overlap, r.recall_ppm)
        for r in mrl_prefix_dim_recall(spark, SF_DIR).collect()
    }
    assert len(got) == N_QUERIES
    for qid, n in want.items():
        assert got[qid] == (MRL_TOP_K, n, (1000000 * n) // MRL_TOP_K)


def test_incremental_join_view_is_consistent(spark):
    """The merged base+delta view must equal the full recompute for
    every group (consistent = 1), the split must be non-degenerate, and
    per-nation counts must match a python recompute."""
    from etl_rf_matrix_controller_spark.operators.pipeline import (
        IVM_SPLIT_DATE,
        incremental_join_view_delta,
    )

    orders = load_table(spark, SF_DIR, "orders").collect()
    cust = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, SF_DIR, "customer").collect()
    }
    import datetime

    split = datetime.datetime.fromisoformat(IVM_SPLIT_DATE)
    per = defaultdict(lambda: [0, 0, 0])  # base, delta, price_c
    for r in orders:
        nk = cust.get(r.o_custkey)
        if nk is None:
            continue
        d = per[nk]
        if r.o_orderdate >= split:
            d[1] += 1
        else:
            d[0] += 1
        d[2] += round(r.o_totalprice * 100)
    rows = {
        r.nationkey: r for r in incremental_join_view_delta(spark, SF_DIR).collect()
    }
    assert rows.keys() == per.keys()
    for nk, (b, d, pc) in per.items():
        r = rows[nk]
        assert (r.base_cnt, r.delta_cnt) == (b, d)
        assert r.merged_cnt == r.full_cnt == b + d
        assert r.merged_price_c == r.full_price_c == pc
        assert r.consistent == 1
    assert sum(d for _, d, _ in per.values()) > 0, "delta non-degenerate"
    assert sum(b for b, _, _ in per.values()) > 0, "base non-degenerate"


def test_rendezvous_moved_docs_land_on_new_shard(spark):
    """The HRW defining invariant: every document whose assignment
    changes when growing 8 -> 9 shards moves TO the new shard (gained
    is zero everywhere else), totals are conserved, and the per-shard
    table matches a python recompute."""
    import hashlib

    from etl_rf_matrix_controller_spark.operators.pipeline import (
        HRW_N_AFTER,
        HRW_N_BEFORE,
        rendezvous_shard_assign,
    )

    doc_ids = [
        r.doc_id for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id").collect()
    ]

    def pick(did, n):
        return max(
            range(n),
            key=lambda s: (
                int(hashlib.md5(f"{did}|{s}".encode()).hexdigest()[:12], 16),
                s,
            ),
        )

    before = defaultdict(int)
    after = defaultdict(int)
    gained = defaultdict(int)
    lost = defaultdict(int)
    n_moved = 0
    for did in doc_ids:
        s8 = pick(did, HRW_N_BEFORE)
        s9 = pick(did, HRW_N_AFTER)
        before[s8] += 1
        after[s9] += 1
        if s8 != s9:
            n_moved += 1
            gained[s9] += 1
            lost[s8] += 1
            assert s9 == HRW_N_AFTER - 1, "HRW: moves only to the new shard"
    rows = {r.shard: r for r in rendezvous_shard_assign(spark, SF_DIR).collect()}
    assert len(rows) == HRW_N_AFTER
    for s in range(HRW_N_AFTER):
        r = rows[s]
        assert (r.n_docs_before, r.n_docs_after, r.gained, r.lost) == (
            before[s],
            after[s],
            gained[s],
            lost[s],
        )
        assert r.moved_ppm == (1000000 * n_moved) // len(doc_ids)
    assert sum(r.n_docs_after for r in rows.values()) == len(doc_ids)
    assert rows[HRW_N_AFTER - 1].gained == n_moved
    assert n_moved > 0


def test_trending_terms_matches_python_recompute(spark):
    """Add-one-smoothed lift and the riser top-k recomputed in pure
    Python must equal the declared table."""
    from etl_rf_matrix_controller_spark.operators.text import (
        TREND_TOPK,
        trending_terms_delta,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    per = defaultdict(lambda: [0, 0])
    for r in docs:
        half = r.doc_id % 2
        for t in r.text.strip().split(" "):
            if t:
                per[t][half] += 1
    n_a = sum(a for a, _ in per.values())
    n_b = sum(b for _, b in per.values())
    lifted = sorted(
        (
            -((1000000 * (cb + 1) * (n_a + 1)) // ((ca + 1) * (n_b + 1))),
            tok,
            ca,
            cb,
        )
        for tok, (ca, cb) in per.items()
    )
    want = {
        tok: (ca, cb, -neg, i + 1)
        for i, (neg, tok, ca, cb) in enumerate(lifted[:TREND_TOPK])
    }
    got = {
        r.token: (r.c_a, r.c_b, r.lift_ppm, r.rnk)
        for r in trending_terms_delta(spark, SF_DIR).collect()
    }
    assert got == want


def test_theil_u_matches_python_recompute(spark):
    """Per-model scaled SSEs and U^2 ppm recomputed in pure Python must
    equal the declared rows; all models score the same target days."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        theil_u_forecast_compare,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    daily = defaultdict(int)
    for r in ev:
        daily[r.ts.date()] += round(r.value * 100)
    vs = [daily[d] for d in sorted(daily)]
    sse = {"naive": 0, "ma3": 0, "snaive7": 0}
    n = 0
    for i in range(7, len(vs)):
        n += 1
        sse["naive"] += (3 * vs[i] - 3 * vs[i - 1]) ** 2
        sse["ma3"] += (3 * vs[i] - (vs[i - 1] + vs[i - 2] + vs[i - 3])) ** 2
        sse["snaive7"] += (3 * vs[i] - 3 * vs[i - 7]) ** 2
    rows = {r.model: r for r in theil_u_forecast_compare(spark, SF_DIR).collect()}
    assert rows.keys() == sse.keys()
    for model, s in sse.items():
        r = rows[model]
        assert r.n_forecasts == n
        assert r.sse_scaled == s
        want_u2 = (
            1000000 if model == "naive" else (1000000 * s) // sse["naive"]
        )
        assert r.u2_ppm == want_u2


def test_rolling_distinct_exact_matches_python_recompute(spark):
    """Exact 7-day rolling distinct users per day recomputed in pure
    Python must equal the declared table (including partial windows at
    the series start)."""
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        ROLL_WIN_DAYS,
        rolling_7d_distinct_users,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    by_day = defaultdict(set)
    for r in ev:
        by_day[r.ts.date()].add(r.user_id)
    days = sorted(by_day)
    import datetime

    want = {}
    for d in days:
        users = set()
        srcs = set()
        for k in range(ROLL_WIN_DAYS):
            src = d - datetime.timedelta(days=k)
            if src in by_day:
                users |= by_day[src]
                srcs.add(src)
        want[d] = (len(users), len(srcs))
    got = {
        r.day: (r.rolling_dau, r.days_in_window)
        for r in rolling_7d_distinct_users(spark, SF_DIR).collect()
    }
    assert got == want
    full = [d for d, (_, k) in got.items() if k == ROLL_WIN_DAYS]
    assert full, "fixture must contain full windows"


def test_rolling_hll_register_merge_matches_python_recompute(spark):
    """The register-merge sliding HLL recomputed in pure Python (same
    48-bit md5 hash split, register max over the window) must equal the
    declared estimates, and the exact audit column must match the exact
    twin."""
    import datetime
    import hashlib

    from etl_rf_matrix_controller_spark.operators.aggregates import (
        HLL_ALPHA_PPM,
        HLL_M,
        HLL_RANK_W,
        ROLL_WIN_DAYS,
        rolling_7d_distinct_users,
        rolling_7d_hll_distinct,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    regs = defaultdict(dict)  # day -> bucket -> max rank
    for r in ev:
        d = r.ts.date()
        h = int(hashlib.md5(str(r.user_id).encode()).hexdigest()[:12], 16)
        bucket, rest = h % HLL_M, h // HLL_M
        rank = (
            HLL_RANK_W + 1
            if rest == 0
            else HLL_RANK_W + 1 - rest.bit_length()
        )
        cur = regs[d].get(bucket, 0)
        if rank > cur:
            regs[d][bucket] = rank
    days = sorted(regs)
    want = {}
    for d in days:
        merged = {}
        for k in range(ROLL_WIN_DAYS):
            src = d - datetime.timedelta(days=k)
            for b, mx in regs.get(src, {}).items():
                if mx > merged.get(b, 0):
                    merged[b] = mx
        z = sum(1 << (HLL_RANK_W + 1 - mx) for mx in merged.values()) + (
            HLL_M - len(merged)
        ) * (1 << (HLL_RANK_W + 1))
        import math

        est = math.floor(
            HLL_ALPHA_PPM * ((1 << (12 + HLL_RANK_W + 1)) // z) / 1000000.0
        )
        want[d] = (len(merged), est)
    exact = {
        r.day: r.rolling_dau
        for r in rolling_7d_distinct_users(spark, SF_DIR).collect()
    }
    got = {
        r.day: r for r in rolling_7d_hll_distinct(spark, SF_DIR).collect()
    }
    assert got.keys() == want.keys()
    for d, (used, est) in want.items():
        r = got[d]
        assert (r.n_buckets_used, r.est_wau) == (used, est)
        assert r.exact_wau == exact[d]
        assert r.rel_err_ppm == (1000000 * abs(est - exact[d])) // exact[d]


def test_split_conformal_matches_python_recompute(spark):
    """Fold assignment, the conformal rank, q_hat, and test coverage
    recomputed in pure Python must equal the declared rows; coverage
    must meet the 1 - alpha guarantee within finite-sample slack."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        CONF_ALPHA_DEN,
        split_conformal_interval,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    folds = defaultdict(lambda: defaultdict(list))
    for r in ev:
        folds[r.event_type][r.event_id % 3].append(round(r.value * 100))
    rows = {
        r.event_type: r
        for r in split_conformal_interval(spark, SF_DIR).collect()
    }
    for et, f in folds.items():
        mu = sum(f[0]) // len(f[0])
        cal = sorted(abs(v - mu) for v in f[1])
        n_cal = len(cal)
        k = min(
            n_cal,
            ((n_cal + 1) * (CONF_ALPHA_DEN - 1) + CONF_ALPHA_DEN - 1)
            // CONF_ALPHA_DEN,
        )
        q_hat = cal[k - 1]
        covered = sum(1 for v in f[2] if abs(v - mu) <= q_hat)
        r = rows[et]
        assert (r.mu_cents, r.n_cal, r.q_hat) == (mu, n_cal, q_hat)
        assert (r.n_test, r.n_covered) == (len(f[2]), covered)
        assert r.coverage_ppm == (1000000 * covered) // len(f[2])
        # The conformal guarantee is MARGINAL over calibration draws:
        # with ~120-point folds at sf0.001 the realized coverage
        # fluctuates ~ +-2/sqrt(n) ~ 18 points around 90%.
        assert r.coverage_ppm > 780000, (et, r.coverage_ppm)


def test_qte_matches_python_recompute(spark):
    """Exact decile order statistics and their differences recomputed
    in pure Python must equal the declared table."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        quantile_treatment_effect,
    )

    ev = load_table(spark, SF_DIR, "events").collect()
    per = defaultdict(list)
    for r in ev:
        if r.event_type in ("purchase", "click"):
            per[r.event_type].append((round(r.value * 100), r.event_id))
    qs = {}
    for et, vals in per.items():
        vals.sort()
        n = len(vals)
        qs[et] = {
            q: vals[((q * n + 9) // 10) - 1][0] for q in range(1, 10)
        }
    got = {
        r.decile: (r.q_purchase, r.q_click, r.qte_cents)
        for r in quantile_treatment_effect(spark, SF_DIR).collect()
    }
    assert got == {
        q: (
            qs["purchase"][q],
            qs["click"][q],
            qs["purchase"][q] - qs["click"][q],
        )
        for q in range(1, 10)
    }
