"""Round-5 operator edge semantics: HDR-sketch merge identity + error
bound, token-level span dedup on crafted docs (shared machinery with the
char version), and DBSCAN on a planted two-moons set vs a brute-force
Python reference.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.aggregates import (
    HDR_SUBS,
    hdr_bucket_expr,
    hdr_quantile_sketch,
)
from etl_rf_matrix_controller_spark.operators.clustering import dbscan_df
from etl_rf_matrix_controller_spark.operators.dedup import (
    TOK_SPAN_K,
    token_span_pairs_df,
)
from tests.conftest import SF_DIR


def test_hdr_sketch_merge_identity(spark):
    """Shard histograms summed per bucket == the whole-data histogram:
    the fixed-grid property that makes the sketch mergeable (and the
    reason a tree-reduce over 1000 executors is exact)."""
    vals = spark.range(1, 5001).select(
        (F.col("id") * 37 % 9973 + 1).alias("v"),
        (F.col("id") % 3).alias("shard"),
    ).localCheckpoint(eager=True)
    bucketed = vals.select(
        "shard", F.expr(hdr_bucket_expr("v")).alias("bucket")
    )
    direct = {
        r.bucket: r.cnt
        for r in bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    shards = (
        bucketed.groupBy("shard", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = {r.bucket: r.cnt for r in shards.collect()}
    assert merged == direct


def test_hdr_bucket_matches_python_grid(spark):
    """Bucket id == the arithmetic definition for values across octaves,
    including powers of two (lower edges) and 2^e - 1 (upper edges)."""
    probe = [1, 2, 3, 15, 16, 17, 255, 256, 1023, 1024, 90182, 10499788]
    df = spark.createDataFrame([(v,) for v in probe], "v bigint")
    got = {
        r.v: r.bucket
        for r in df.select("v", F.expr(hdr_bucket_expr("v")).alias("bucket")).collect()
    }
    for v in probe:
        e = v.bit_length() - 1
        p = 1 << e
        assert got[v] == e * HDR_SUBS + ((v - p) * HDR_SUBS) // p, v


def test_hdr_sketch_error_bound(spark):
    """est_lo_c <= exact_c < est_lo_c + bucket width (~1/16 relative)."""
    rows = hdr_quantile_sketch(spark, SF_DIR).collect()
    assert {r.q_ppm for r in rows} == {500000, 900000, 990000}
    for r in rows:
        assert r.est_lo_c <= r.exact_c, r
        # bucket width = p / 16 <= est_lo / 16 (+1 for the floor)
        assert r.exact_c - r.est_lo_c <= r.est_lo_c // HDR_SUBS + 1, r


def _tok_spans(df):
    return {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
        for r in df.collect()
    }


def test_token_spans_basic_and_offsets(spark):
    # A 9-token run shared at DIFFERENT token offsets must yield exactly
    # one maximal span row, positions/length in TOKENS (k = 8).
    shared = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    d1 = "xx yy " + shared + " tail1 tail2"
    d2 = shared + " other trailing words here"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id bigint, text string"
    )
    assert _tok_spans(token_span_pairs_df(docs)) == {(1, 2, 3, 1, 9)}


def test_token_spans_below_k_invisible(spark):
    # A shared run of k-1 (7) tokens must produce no rows.
    shared = "one two three four five six seven"  # 7 tokens
    assert len(shared.split()) == TOK_SPAN_K - 1
    d1 = shared + " alpha beta gamma delta epsilon zeta eta theta"
    d2 = shared + " iota kappa lambada mu nu xi omicron pi rho"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id bigint, text string"
    )
    assert _tok_spans(token_span_pairs_df(docs)) == set()


def test_token_spans_whitespace_and_char_parity(spark):
    # Runs split by VARIABLE whitespace still match (token view ignores
    # spacing); a char-level diff inside one token breaks the span into
    # the two maximal token runs around it.
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17"
    mid = base.split()
    mid[9] = "DIFFERENT"
    d2 = "  ".join(mid)  # double spaces + a changed middle token
    docs = spark.createDataFrame(
        [(1, base), (2, d2)], "doc_id bigint, text string"
    )
    got = _tok_spans(token_span_pairs_df(docs))
    assert got == {(1, 2, 1, 1, 9), (1, 2, 11, 11, 8)}, got


def _ref_dbscan(pts, eps, minpts):
    """Brute-force reference DBSCAN: (id -> (cluster_id, role));
    cluster_id = min core id of the component, -1 for noise; border
    points take the min in-range core's cluster."""
    ids = [p[0] for p in pts]
    xy = {p[0]: (p[1], p[2]) for p in pts}
    nbr = {
        i: [
            j
            for j in ids
            if (xy[i][0] - xy[j][0]) ** 2 + (xy[i][1] - xy[j][1]) ** 2
            <= eps * eps
        ]
        for i in ids
    }
    cores = {i for i in ids if len(nbr[i]) >= minpts}
    parent = {i: i for i in cores}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in cores:
        for j in nbr[i]:
            if j in cores and find(i) != find(j):
                parent[find(i)] = find(j)
    comp_min = {}
    for i in cores:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    out = {}
    for i in ids:
        if i in cores:
            out[i] = (comp_min[find(i)], "core")
        else:
            in_range = [comp_min[find(j)] for j in nbr[i] if j in cores]
            out[i] = (min(in_range), "border") if in_range else (-1, "noise")
    return out


def test_dbscan_two_moons(spark):
    # Two interleaved half-moon arcs (the classic density-clustering
    # shape k-means cannot split) + two far isolated points.  Arc
    # endpoints have < minpts neighbors -> border; isolates -> noise.
    pts = []
    for t in range(20):  # upper moon, radius 1000
        a = math.pi * t / 19
        pts.append((t, round(1000 * math.cos(a)), round(1000 * math.sin(a))))
    for t in range(20):  # lower moon, shifted right+down, flipped
        a = math.pi * t / 19
        pts.append(
            (100 + t, 1000 + round(1000 * math.cos(a)), 300 - round(1000 * math.sin(a)))
        )
    pts += [(900, 5000, 5000), (901, -4000, 7000)]
    eps, minpts = 200, 3
    ref = _ref_dbscan(pts, eps, minpts)
    # the reference must itself be non-degenerate: exactly 2 clusters,
    # some border, some noise
    clusters = {c for c, role in ref.values() if c != -1}
    assert len(clusters) == 2
    assert sum(1 for _, role in ref.values() if role == "border") >= 2
    assert sum(1 for _, role in ref.values() if role == "noise") == 2

    df = spark.createDataFrame(
        pts, "vec_id bigint, px bigint, py bigint"
    ).localCheckpoint(eager=True)
    got = {
        r.vec_id: (r.cluster_id, r.role)
        for r in dbscan_df(df, eps=eps, minpts=minpts).collect()
    }
    assert got == ref
