"""Edge-semantics unit tests for the round-2 operators: chunk boundaries,
EMA single-event identity, Bloom no-false-negatives, Z-order locality."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_chunk_boundaries_and_short_doc(spark):
    """A doc shorter than CHUNK_SIZE yields exactly one full-text chunk;
    longer docs chunk at 1 + k*stride with the configured overlap."""
    from etl_rf_matrix_controller_spark.operators.cleaning import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        doc_chunk_overlap,
    )

    rows = doc_chunk_overlap(spark, SF_DIR).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: len(r.txt)
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.trim("text").alias("txt"))
        .collect()
    }
    for doc_id, chunks in by_doc.items():
        n = docs[doc_id]
        expected = (max(n, 1) - 1) // CHUNK_STRIDE + 1
        assert len(chunks) == expected, (doc_id, n)
        for c in sorted(chunks, key=lambda c: c.chunk_idx):
            assert c.chunk_start == 1 + c.chunk_idx * CHUNK_STRIDE
            assert c.chunk_len == min(CHUNK_SIZE, n - (c.chunk_start - 1))
        if n <= CHUNK_STRIDE:
            # One full-text chunk only when the doc fits inside a stride
            # (an n in (stride, size] doc still gets a second, overlap-
            # only chunk so no suffix is ever chunk-final-truncated).
            assert len(chunks) == 1 and chunks[0].chunk_len == n


def test_ema_single_event_is_identity(spark):
    """A user with one event has ema_value exactly equal to that value
    (fold seeds with the first element, no smoothing applied)."""
    from etl_rf_matrix_controller_spark.operators.behavior import ema_user_value

    out = {r.user_id: r for r in ema_user_value(spark, SF_DIR).collect()}
    vals = {
        r.user_id: [float(v) for v in r.vs]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.collect_list("value").alias("vs"))
        .collect()
    }
    singles = [u for u, v in vals.items() if len(v) == 1]
    for u in singles:
        assert out[u].ema_value == vals[u][0]
    # And every user's count matches.
    for u, r in out.items():
        assert r.n_events == len(vals[u])


def test_bloom_has_no_false_negatives(spark):
    """The Bloom property that matters: every true match passes the
    filter -- n_exact equals the directly-computed semi-join count."""
    from etl_rf_matrix_controller_spark.operators.layout import (
        bloom_prefilter_join,
    )

    row = bloom_prefilter_join(spark, SF_DIR).collect()[0]
    cust = load_table(spark, SF_DIR, "customer")
    orders = load_table(spark, SF_DIR, "orders")
    sel = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    true_matches = orders.join(
        sel, orders.o_custkey == sel.c_custkey, "semi"
    ).count()
    assert row.n_exact == true_matches
    assert row.n_pass_bloom >= row.n_exact  # one-sided error only


def test_zorder_blocks_bound_both_dimensions(spark):
    """A 4096-wide z-block fixes the top 2 bits of BOTH 8-bit dimensions,
    so every block's (user, time) ranges are each confined to a 64-wide
    band -- the two-dimensional locality a single-column sort cannot give."""
    from etl_rf_matrix_controller_spark.operators.layout import zorder_key_events

    for r in zorder_key_events(spark, SF_DIR).collect():
        assert r.max_user_bucket - r.min_user_bucket <= 63, r
        assert r.max_time_bucket - r.min_time_bucket <= 63, r


def test_boilerplate_ratio_bounds_and_threshold(spark):
    """boiler_ratio is a valid fraction; a doc's boilerplate grams are a
    subset of its grams; and every source has SOME boilerplate at the 30%
    threshold on this corpus (non-vacuous)."""
    from etl_rf_matrix_controller_spark.operators.corpus import (
        boilerplate_gram_ratio,
    )

    rows = boilerplate_gram_ratio(spark, SF_DIR).collect()
    assert len(rows) == 500
    sources_with_boiler = set()
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_grams, r
        assert 0.0 <= r.boiler_ratio <= 1.0, r
        if r.n_boiler > 0:
            sources_with_boiler.add(r.source)
    assert len(sources_with_boiler) == 20  # every source non-vacuous


def test_source_cap_keeps_exactly_k_and_is_deterministic(spark):
    """Each source keeps exactly min(K, total) docs, ranks are 1..K, and
    two runs pick the identical doc set (hash order, not RNG)."""
    from etl_rf_matrix_controller_spark.operators.corpus import (
        SOURCE_CAP,
        docs_per_source_cap,
    )

    a = docs_per_source_cap(spark, SF_DIR).collect()
    b = docs_per_source_cap(spark, SF_DIR).collect()
    assert {(r.doc_id, r.cap_rank) for r in a} == {
        (r.doc_id, r.cap_rank) for r in b
    }
    per_src = {}
    for r in a:
        per_src.setdefault(r.source, []).append(r)
    for src, rows in per_src.items():
        assert len(rows) == min(SOURCE_CAP, rows[0].total_docs), src
        assert sorted(r.cap_rank for r in rows) == list(
            range(1, len(rows) + 1)
        ), src


def test_dsir_excludes_target_and_orders_by_score(spark):
    """The target domain never scores itself; output is top-k by score
    with doc_id tiebreak (total order -- required for LIMIT parity)."""
    from etl_rf_matrix_controller_spark.operators.corpus import (
        DSIR_TARGET,
        DSIR_TOPK,
        dsir_importance_weights,
    )

    rows = dsir_importance_weights(spark, SF_DIR).collect()
    assert 0 < len(rows) <= DSIR_TOPK
    assert all(r.source != DSIR_TARGET for r in rows)
    keys = [(-r.dsir_score, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_mmr_picks_are_distinct_and_greedy(spark):
    """Structural MMR properties: per query the picks are distinct, pick 1
    is the relevance argmax, and every later pick's MMR score is <= the
    pick-1 score (the diversity penalty only subtracts)."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        MMR_PICKS,
        N_QUERIES,
        mmr_rerank_topk,
    )

    rows = mmr_rerank_topk(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.pick_rank] = r
    assert len(by_q) == N_QUERIES
    for q, picks in by_q.items():
        assert sorted(picks) == list(range(1, MMR_PICKS + 1)), q
        ids = [picks[k].cand_id for k in sorted(picks)]
        assert len(set(ids)) == MMR_PICKS, (q, ids)
        assert all(
            picks[k].mmr_score <= picks[1].mmr_score + 1e-12
            for k in range(2, MMR_PICKS + 1)
        ), q


def test_ivf_list_shares_sum_to_one(spark):
    """List shares cover the corpus: ppm shares sum to ~1e6 (floor loss
    < n_lists) and list sizes sum to the vector count."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        ivf_list_balance,
    )

    rows = ivf_list_balance(spark, SF_DIR).collect()
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.list_size for r in rows) == n_vecs
    total_ppm = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) < total_ppm <= 1_000_000


def test_hard_negatives_never_share_query_label(spark):
    """Every mined negative has a different label from its query, ranks
    are contiguous, and scores are non-increasing per query."""
    from etl_rf_matrix_controller_spark.operators.similarity import (
        HARD_NEG_K,
        hard_negative_mining,
    )

    emb = {
        r.vec_id: r.label
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    by_q = {}
    for r in hard_negative_mining(spark, SF_DIR).collect():
        assert r.cand_label != emb[r.query_id], r
        assert r.cand_label == emb[r.cand_id], r
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in rows] == list(range(1, HARD_NEG_K + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True), q


def test_epoch_plan_respects_cap_and_budget(spark):
    """Epochs never exceed the cap; an uncapped source's allocation
    reproduces target_tokens (integer identity); budget conservation:
    sum of targets <= budget."""
    from etl_rf_matrix_controller_spark.operators.corpus import (
        EPOCH_BUDGET_TOKENS,
        EPOCH_CAP_X100,
        source_epoch_plan,
    )

    rows = source_epoch_plan(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert sum(r.target_tokens for r in rows) <= EPOCH_BUDGET_TOKENS
    for r in rows:
        assert r.epochs_x100 <= EPOCH_CAP_X100, r
        if not r.capped:
            assert r.epochs_x100 == r.target_tokens * 100 // r.tokens_s, r
        else:
            assert r.target_tokens * 100 // r.tokens_s > EPOCH_CAP_X100, r


def test_interval_overlap_bucket_blocking_is_lossless(spark):
    """The bucket-blocked equi-join finds EXACTLY the pairs the direct
    range predicate finds (no pair lost at bucket boundaries), and every
    overlap is within (0, window] seconds."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        OVERLAP_WINDOW_US,
        interval_overlap_pairs,
    )

    got = {r.day: r for r in interval_overlap_pairs(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    iv = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s"))
    rows = iv.collect()
    from collections import defaultdict

    by_day = defaultdict(list)
    for r in rows:
        by_day[r.day].append(r)
    w_us = OVERLAP_WINDOW_US
    for day, ivs in by_day.items():
        n = 0
        for i, a in enumerate(ivs):
            for b in ivs[i + 1 :]:
                lo, hi = sorted([a, b], key=lambda r: r.user_id)
                sa = int(lo.s.timestamp() * 1e6)
                sb = int(hi.s.timestamp() * 1e6)
                if sa < sb + w_us and sb < sa + w_us:
                    n += 1
        want = got.get(day)
        assert (want.n_pairs if want else 0) == n, day
        if want:
            assert 0 < want.max_overlap_secs <= w_us // 1_000_000, day


def test_incremental_dedup_finds_planted_pairs_only_from_new_batch(spark):
    """Every planted near-dup (+4M) matches its origin doc; the scrambled
    decoys (+5M) never match; and matches always pair new-vs-index (the
    incremental property -- no index x index pairs)."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        incremental_near_dup_check,
    )

    rows = incremental_near_dup_check(spark, SF_DIR).collect()
    docs = {
        r.doc_id
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id")
        .collect()
    }
    planted = {d + 4000000 for d in docs if d % 10 == 3}
    for r in rows:
        assert r.new_doc_id >= 4000000  # left side is always the new batch
        assert r.matched_doc_id in docs  # right side is always the index
        assert r.new_doc_id < 5000000, r  # no scrambled decoy matches
    # LSH banding is probabilistic: a true near-dup (J~0.98) collides
    # with prob 1-(1-J^4)^2 ~ 99.4% per pair, so a rare planted pair may
    # miss its bands -- require >=90% recall, and that every recalled
    # planted dup matches its actual origin doc.
    origin_hits = {
        r.new_doc_id for r in rows if r.matched_doc_id == r.new_doc_id - 4000000
    }
    assert len(origin_hits & planted) >= 0.9 * len(planted), (
        len(origin_hits & planted),
        len(planted),
    )


def test_chunked_sessionization_heals_boundary_cuts(spark, tmp_path):
    """user_session_stats_chunked == user_session_stats on a crafted
    corpus where sessions STRADDLE the day-chunk boundary (sec 86400),
    including a chain with boundary-exact 1800 s gaps that crosses the
    cut, plus a hot user -- the placements where the two-level fold
    could diverge from the flat window if the heal rule were wrong."""
    from pyspark.sql import functions as F

    from etl_rf_matrix_controller_spark.operators.behavior import (
        user_session_stats,
        user_session_stats_chunked,
    )

    rows = []
    # user 1: one session crossing the boundary + a separate later one
    rows += [(1, 10, 86380), (1, 11, 86390), (1, 12, 86420), (1, 13, 90000)]
    # user 2: two singleton sessions inside one chunk (gap 2100 > 1800)
    rows += [(2, 20, 100), (2, 21, 2200)]
    # user 3: exact-1800 gap chain crossing the cut -> ONE session
    rows += [(3, 30, 86399), (3, 31, 88199), (3, 32, 89999), (3, 33, 91799)]
    # user 4 (hot): 500 events every 60 s spanning several chunks -> 1
    # session; plus one isolated event far later
    rows += [(4, 1000 + i, 86000 + 60 * i) for i in range(500)]
    rows += [(4, 9999, 999999)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, sec bigint"
    ).select(
        "user_id", "event_id", F.timestamp_seconds("sec").alias("ts")
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")

    flat = {tuple(r) for r in user_session_stats(spark, sf).collect()}
    chunked = {
        tuple(r) for r in user_session_stats_chunked(spark, sf).collect()
    }
    assert flat == chunked, (flat, chunked)
    by_user = {r[0]: r for r in flat}
    assert by_user[1][1] == 2  # sessions
    assert by_user[2][1] == 2
    assert by_user[3][1] == 1 and by_user[3][2] == 4
    assert by_user[4][1] == 2 and by_user[4][2] == 501


def test_real_ppm_decode_roundtrip(spark):
    """decode_real really parses P6: header variants (comments, exotic
    whitespace) decode identically, truncation and bad magic raise, and
    the end-to-end query's sums equal a brute-force pixel walk."""
    from etl_rf_matrix_controller_spark.operators.multimodal import (
        decode_real,
        multimodal_real_decode,
    )

    # header robustness: comments + CR/TAB whitespace
    raster = bytes(range(1, 19))  # 2x3 image, 18 bytes
    for header in (
        b"P6\n2 3\n255\n",
        b"P6\n# c1\n# c2\n2\t3\r255\n",
        b"P6 2 3 255\n",
    ):
        r = decode_real(header + raster, "ppm")
        assert (r["width"], r["height"], r["maxval"]) == (2, 3, 255)
        assert r["sum_r"] == sum(raster[0::3])
        assert r["sum_g"] == sum(raster[1::3])
        assert r["sum_b"] == sum(raster[2::3])
    try:
        decode_real(b"P6\n2 3\n255\n" + raster[:-1], "ppm")
        raise AssertionError("truncated raster must raise")
    except ValueError:
        pass
    try:
        decode_real(b"P5\n2 3\n255\n" + raster, "ppm")
        raise AssertionError("bad magic must raise")
    except ValueError:
        pass

    # end-to-end: parsed sums == brute-force walk of the same tiling
    import hashlib

    rows = multimodal_real_decode(spark, SF_DIR).collect()
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .limit(2000)
        .collect()
    }
    checked = 0
    for r in rows:
        if r.doc_id not in texts:
            continue
        dig = hashlib.md5(texts[r.doc_id].encode()).digest()
        n = r.width * r.height * 3
        px = (dig * (n // 16 + 1))[:n]
        assert r.sum_r == sum(px[0::3]), r.doc_id
        assert r.sum_g == sum(px[1::3]), r.doc_id
        assert r.sum_b == sum(px[2::3]), r.doc_id
        checked += 1
    assert checked > 100


def test_real_png_decode_roundtrip():
    """decode_real's PNG pipeline: every scanline filter type
    round-trips through encode_png (which varies the filter per row),
    CRC corruption / truncation / bad signature raise, greyscale works,
    and interlace / exotic depths are gated NotImplementedError."""
    import struct
    import zlib

    import pytest

    from etl_rf_matrix_controller_spark.operators.multimodal import (
        decode_real,
        encode_png,
    )

    # 6 rows so filters 0..4 all appear (row y uses filter y % 5);
    # 5x6 RGB raster with a pattern that exercises predictor deltas
    w, h = 5, 6
    raster = bytes(((x * 37 + 11) % 256) for x in range(w * h * 3))
    png = encode_png(w, h, raster)
    r = decode_real(png, "image/png")
    assert (r["width"], r["height"], r["bit_depth"], r["color_type"]) == (
        w, h, 8, 2,
    )
    assert r["sum_r"] == sum(raster[0::3])
    assert r["sum_g"] == sum(raster[1::3])
    assert r["sum_b"] == sum(raster[2::3])

    # greyscale (color type 0): one channel, mirrored into r/g/b
    grey = bytes((x * 7) % 256 for x in range(w * h))
    rg = decode_real(encode_png(w, h, grey, color=0), "png")
    assert rg["color_type"] == 0
    assert rg["sum_r"] == rg["sum_g"] == rg["sum_b"] == sum(grey)

    # single-row image: only filter 0; single-column: bpp boundary
    r1 = decode_real(encode_png(3, 1, raster[: 3 * 3]), "png")
    assert r1["sum_r"] == sum(raster[0 : 9 : 3])
    rc = decode_real(
        encode_png(1, 6, raster[: 6 * 3]), "png"
    )
    assert rc["sum_r"] == sum(raster[0 : 18 : 3])

    # corruption: flip one IDAT byte -> CRC failure
    idat_at = png.index(b"IDAT") + 4
    bad = png[:idat_at] + bytes([png[idat_at] ^ 0xFF]) + png[idat_at + 1 :]
    with pytest.raises(ValueError, match="CRC"):
        decode_real(bad, "png")
    # truncation: drop IEND -> missing-chunk failure
    with pytest.raises(ValueError, match="IHDR/IEND"):
        decode_real(png[:-12], "png")
    with pytest.raises(ValueError, match="signature"):
        decode_real(b"\x89PNX" + png[4:], "png")

    # gated: interlaced and 16-bit stay NotImplementedError
    def with_ihdr(depth, color, interlace):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        iend = struct.pack(">I", 0) + b"IEND" + struct.pack(
            ">I", zlib.crc32(b"IEND") & 0xFFFFFFFF
        )
        return b"\x89PNG\r\n\x1a\n" + chunk + iend

    with pytest.raises(NotImplementedError, match="interlace"):
        decode_real(with_ihdr(8, 2, 1), "png")
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_real(with_ihdr(16, 2, 0), "png")


def test_real_wav_decode_roundtrip():
    """decode_real's RIFF walk: PCM16 frames fold with two's-complement
    sign, extra chunks (word-aligned) are skipped, non-PCM is gated."""
    import struct

    from etl_rf_matrix_controller_spark.operators.multimodal import (
        decode_real,
    )

    samples = [(100, -200), (300, -400), (32767, -32768)]
    raster = b"".join(struct.pack("<hh", a, b) for a, b in samples)
    fmt_body = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)

    def wav(extra=b""):
        return (
            b"RIFF" + struct.pack("<I", 0) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            + extra
            + b"data" + struct.pack("<I", len(raster)) + raster
        )

    r = decode_real(wav(), "audio/wav")
    assert (r["n_channels"], r["sample_rate"], r["n_frames"]) == (2, 8000, 3)
    assert r["sums"] == [100 + 300 + 32767, -200 - 400 - 32768]
    # odd-sized chunk: the walk must respect word alignment
    r2 = decode_real(
        wav(b"LIST" + struct.pack("<I", 5) + b"hello" + b"\x00"), "wav"
    )
    assert r2["sums"] == r["sums"]
    try:
        bad = wav().replace(
            struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16),
            struct.pack("<HHIIHH", 3, 2, 8000, 8000 * 4, 4, 16),
        )
        decode_real(bad, "wav")
        raise AssertionError("non-PCM must raise NotImplementedError")
    except NotImplementedError:
        pass


def test_rank_grid_parallel_matches_serial(spark):
    """The distributed two-phase doubled-midrank grid must produce the
    EXACT integers of the serial one-partition window (spearman's
    >2M-grid path is otherwise unexercised at bench scale), including
    ties and skewed value distributions."""
    from pyspark.sql import functions as F

    from etl_rf_matrix_controller_spark.operators.profiling import (
        _rank_grid,
        _rank_grid_parallel,
    )

    rows = spark.range(0, 20000).select(
        (F.col("id") % 997).alias("px"),  # ties everywhere
        (F.col("id") % 7).alias("qx"),
    ).localCheckpoint()
    serial = {
        r.px: r.mry for r in _rank_grid(rows, "px", "mry").collect()
    }
    par = {
        r.px: r.mry
        for r in _rank_grid_parallel(rows, "px", "mry").collect()
    }
    assert serial == par and len(serial) == 997
