"""Stress probe: run the headline operators on 10x/100x-unioned inputs
(x100: ~60M lineitem rows / ~10M events) to check the scale slope -- a
linear-ish slope confirms no hidden quadratic or driver-side bottleneck.

Usage: python tools/stress.py [multiplier]   # default 10; 100 = x100 run
The headline shapes (grouped agg, window dedup, top-k, span-dedup gram
join on the persistent bucketed index, banded MinHash LSH dedup,
streaming bounded-state HLL accumulation) run at every decade up to the
multiplier; the SimHash band-width comparison stays capped at x10 because
the NARROW 32-bit setting is intentionally quadratic-tailed (that is what
the probe demonstrates) and x100 would make its candidate join the
probe's own bottleneck."""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from etl_rf_matrix_controller_spark.plans.conventions import exact_avg, exact_sum  # noqa: E402
from etl_rf_matrix_controller_spark.session import get_spark  # noqa: E402
from etl_rf_matrix_controller_spark.sources.tables import (  # noqa: E402
    load_table,
    parquet_schema,
)

SF_DIR = "/root/testdata/sf0.1"
MULT = int(sys.argv[1]) if len(sys.argv) > 1 else 10
# every decade up to MULT: 10 -> (1, 10); 100 -> (1, 10, 100)
MULTS = [m for m in (1, 10, 100) if m <= max(MULT, 1)]
if MULT not in MULTS:
    MULTS.append(MULT)
# Optional argv[2]: comma list of shape names to run (default: all) --
# e.g. `python tools/stress.py 100 prefix_filter` probes one shape.
SHAPES = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None


def want(name: str) -> bool:
    return SHAPES is None or name in SHAPES


def amplify(df, mult: int):
    """mult-x the row count by unioning verbatim copies.  NB: group keys
    are NOT perturbed -- per-group row counts grow mult-x (deeper window
    partitions), group cardinality stays fixed; the probe measures the
    data-volume slope, not a key-cardinality slope."""
    out = df
    for i in range(1, mult):
        out = out.unionByName(df)
    return out


def main() -> None:
    # Partition count must scale with the decade: at x100 the span-dedup
    # gram join shuffles ~325M rows, and 32 static partitions put ~10M
    # rows in every shuffled-hash build side -- SparkOutOfMemoryError
    # ("not enough memory to build hash map"), the exact failure CLAUDE.md's
    # "size shuffle partitions so partitions fit in executor memory" rule
    # exists to prevent.  4 partitions per multiplier keeps the per-build
    # volume constant across decades (a 1000-executor cluster gets this
    # from AQE target-size splitting; local[32] needs it set statically).
    import os

    # 31g, NOT 48g: heaps >= 32 GB disable the JVM's CompressedOops
    # (object references double to 8 bytes), and this probe's
    # string-shingle-heavy stages measured 2x slower at 33g and ~9x at
    # 48g than at 31g for the identical x10 workload.  31g is the
    # largest heap that keeps compressed pointers -- the standard Spark
    # executor-sizing rule, reproduced locally.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "31g")
    spark = get_spark(
        app_name="stress", shuffle_partitions=max(32, 4 * MULT)
    )
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, SF_DIR, "lineitem")
    ev = load_table(spark, SF_DIR, "events")
    li.count()

    cases = {
        "q1_agg": lambda d: d.groupBy("l_returnflag", "l_linestatus").agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            exact_avg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        ),
        "latest_state": lambda d: d.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("ts").desc(), F.col("event_id").desc())
            ),
        ).filter(F.col("rn") == 1),
        "topk": lambda d: d.groupBy("user_id")
        .agg(exact_sum(F.col("value")).alias("tv"))
        .orderBy(F.desc("tv"), F.asc("user_id"))
        .limit(10),
    }
    for name, fn in cases.items():
        if not want(name):
            continue
        src = li if name == "q1_agg" else ev
        for mult in MULTS:
            data = amplify(src, mult)
            t0 = time.perf_counter()
            fn(data).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            rows = {"q1_agg": 600_000, "latest_state": 100_000, "topk": 100_000}[
                name
            ] * mult
            print(
                f"{name} x{mult}: {dt:.2f}s (~{rows/1e6:.1f}M rows, "
                f"{rows/dt/1e6:.1f}M rows/s)"
            )

    # Substring-span dedup slope.  Copies are ALPHABET-ROTATED, not
    # verbatim: verbatim clones would make every copy pair a true
    # full-length match (output genuinely quadratic in mult -- an
    # output-size property, not a cost bug), while rotation keeps the
    # cross-copy gram overlap at zero so the probe isolates the
    # index-build volume slope (gram explode + bucket join).
    #
    # Round 7: measured on the PERSISTENT bucketed gram index path the
    # declared query now uses (plans/gram_index.py) -- the one-time index
    # WRITE and the per-query bucket-local CONSUME join are timed
    # separately, because that split is the whole point: round 6's 207 s
    # x100 decade paid a full gram rebuild + ~20 GB shuffle inside every
    # query; now only the write pays it, once.
    from etl_rf_matrix_controller_spark.operators.dedup import (
        SPAN_K,
        positional_gram_df,
        positional_span_pairs,
    )
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        ensure_bucketed_index,
        index_root,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    alpha = "abcdefghijklmnopqrstuvwxyz"
    n_docs = docs.count()

    def amplify_docs(mult: int):
        parts = []
        for i in range(mult):
            # Distinct substitution per copy even past 26: rotate by
            # i %% 26, then reverse the first (i // 26 + 1) letters of the
            # rotated alphabet for higher blocks -- 104 distinct
            # permutations, so cross-copy gram overlap stays zero at x100
            # (two copies sharing a permutation would be verbatim clones
            # and the TRUE-match output would go quadratic by design).
            rot = alpha[i % 26:] + alpha[:i % 26]
            b = i // 26
            if b:
                rot = rot[:b + 1][::-1] + rot[b + 1:]
            parts.append(
                docs.select(
                    (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                    F.translate("text", alpha, rot).alias("text"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    import shutil

    for mult in (MULTS if want("span_dedup") else []):
        grams = n_docs * mult * 650  # ~len-39 grams per doc
        n_buckets = max(32, 4 * mult)
        t0 = time.perf_counter()
        pg = ensure_bucketed_index(
            spark,
            SF_DIR,
            "stressspan",
            lambda s, d, m=mult: positional_gram_df(amplify_docs(m), SPAN_K),
            ["gram"],
            version=f"m{mult}",
            n_buckets=n_buckets,
        )
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        positional_span_pairs(pg, SPAN_K, span_col="span_chars").write.format(
            "noop"
        ).mode("overwrite").save()
        t_join = time.perf_counter() - t0
        print(
            f"span_dedup x{mult}: index write {t_build:.2f}s "
            f"({grams/t_build/1e6:.1f}M grams/s, once per corpus), "
            f"consume join {t_join:.2f}s ({grams/t_join/1e6:.1f}M grams/s "
            f"per query)"
        )
        # x100 stress tables are ~20 GB -- drop catalog entry + files so
        # the probe leaves no residue.
        tbl = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith(f"gram_idx_stressspan_m{mult}_")
        ]
        for t in tbl:
            spark.sql(f"DROP TABLE {t}")
            shutil.rmtree(
                __import__("os").path.join(index_root(), t),
                ignore_errors=True,
            )

    # Winnow-selection slope over the persistent doc-bucketed sorted
    # index: the selection windows read distribution AND ordering off
    # the scan (zero Exchange, zero Sort), so the decade should track
    # pure scan+window throughput.  Build (fan-out + md5 + bucket write)
    # timed separately, same split as the span shape.
    from etl_rf_matrix_controller_spark.operators.dedup import (
        WINNOW_K,
        gram_hash_df,
        winnow_select_fps_df,
    )

    for mult in (MULTS if want("winnow_select") else []):
        grams = n_docs * mult * 650
        n_buckets = max(32, 4 * mult)
        t0 = time.perf_counter()
        idx = ensure_bucketed_index(
            spark,
            SF_DIR,
            "stresswin",
            lambda s, d, m=mult: gram_hash_df(
                positional_gram_df(amplify_docs(m), WINNOW_K)
            ),
            ["doc_id"],
            version=f"m{mult}",
            n_buckets=n_buckets,
            sort_cols=["doc_id", "pos"],
        )
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        winnow_select_fps_df(idx).write.format("noop").mode(
            "overwrite"
        ).save()
        t_sel = time.perf_counter() - t0
        print(
            f"winnow_select x{mult}: index write {t_build:.2f}s "
            f"({grams/t_build/1e6:.1f}M grams/s, once per corpus), "
            f"selection {t_sel:.2f}s ({grams/t_sel/1e6:.1f}M grams/s "
            f"per query)"
        )
        tbl = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith(f"gram_idx_stresswin_m{mult}_")
        ]
        for t in tbl:
            spark.sql(f"DROP TABLE {t}")
            shutil.rmtree(
                __import__("os").path.join(index_root(), t),
                ignore_errors=True,
            )

    # Banded MinHash LSH dedup slope (round-7 verdict task: the banding /
    # df-cap value proposition IS at scale -- measure it).  Same
    # rotation-amplified corpus: signatures differ across copies, so
    # candidates stay collision-level while the input scales; the probe
    # isolates the shingle->signature aggregation + band self-join volume
    # slope.  Mirrors minhash_near_dup_pairs' exact shape/constants.
    from etl_rf_matrix_controller_spark.operators.dedup import (
        BAND_ROWS,
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
        N_BANDS,
        token_fingerprint,
    )

    def minhash_band_candidates(corpus):
        t = F.trim("text")
        fp = corpus.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.greatest(F.length(t) - 7, F.lit(1))
                        ),
                        lambda i: t.substr(i, F.lit(8)),
                    )
                )
            ).alias("gram"),
        ).select("doc_id", token_fingerprint(F.col("gram")).alias("tokint"))
        sig = fp.groupBy("doc_id").agg(
            *[
                F.min(
                    (F.lit(a) * F.col("tokint") + F.lit(b)) % MINHASH_PRIME
                )
                .cast("bigint")
                .alias(f"mh{j}")
                for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
            ]
        )
        bands = None
        for band in range(N_BANDS):
            lo = BAND_ROWS * band
            bdf = sig.select(
                "doc_id",
                F.lit(band).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{j}").cast("string")
                        for j in range(lo, lo + BAND_ROWS)
                    ],
                ).alias("bkey"),
            )
            bands = bdf if bands is None else bands.unionByName(bdf)
        bands = bands.localCheckpoint(eager=False)
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    for mult in (MULTS if want("minhash_bands") else []):
        t0 = time.perf_counter()
        n_cand = minhash_band_candidates(amplify_docs(mult)).count()
        dt = time.perf_counter() - t0
        docs_n = n_docs * mult
        print(
            f"minhash_bands x{mult}: {dt:.2f}s ({docs_n/1e3:.0f}k docs, "
            f"{docs_n/dt/1e3:.1f}k docs/s, {n_cand} candidates)"
        )

    # Streaming bounded-state slope (stream_hll_distinct_daily shape):
    # groupBy(day, bucket).max(rank) under real Structured Streaming --
    # state stays at <= days x 64 register rows at ANY input volume, so
    # the slope measures pure hash+partial-agg throughput.  The amplified
    # events are staged as plain-parquet micro-batch files (the
    # normalized ts survives the round trip; maxFilesPerTrigger slices
    # availableNow into several real micro-batches so incremental state
    # merge actually exercises).
    import os as _os

    from etl_rf_matrix_controller_spark.operators.aggregates import (
        HLL_M,
        _hll_rank_sql,
    )
    from etl_rf_matrix_controller_spark.streaming.windows import (
        run_stream_to_memory,
    )

    ev_rows = ev.count()
    for mult in (MULTS if want("stream_hll") else []):
        path = f"/tmp/spark_graft_stress_events_x{mult}"
        if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
            amplify(ev, mult).repartition(max(16, 4 * mult)).write.mode(
                "overwrite"
            ).parquet(path)
        stream = (
            spark.readStream.schema(parquet_schema(spark, path))
            .option("maxFilesPerTrigger", max(4, mult))
            .parquet(path)
        )
        regs = (
            stream.select(
                F.date_trunc("day", "ts").alias("day"),
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
                    16,
                    10,
                )
                .cast("bigint")
                .alias("h"),
            )
            .select(
                "day",
                (F.col("h") % HLL_M).alias("bucket"),
                F.expr(_hll_rank_sql("(h DIV 64)")).alias("rank"),
            )
            .groupBy("day", "bucket")
            .agg(F.max("rank").cast("bigint").alias("mx"))
        )
        t0 = time.perf_counter()
        out = run_stream_to_memory(regs, spark)
        n_state = out.count()
        dt = time.perf_counter() - t0
        rows = ev_rows * mult
        print(
            f"stream_hll x{mult}: {dt:.2f}s ({rows/1e6:.1f}M rows, "
            f"{rows/dt/1e6:.1f}M rows/s, state {n_state} register rows)"
        )
        shutil.rmtree(path, ignore_errors=True)

    # SimHash banded blocking: the band-width knob.  Candidate pairs per
    # band grow ~n^2/2^band_bits, so the 32-bit query's 8-bit bands go
    # quadratic-tailed as n grows while the production 60-bit/15-bit
    # setting stays sparse (simhash_wide_pairs_df docstring).  Measure
    # both on the same rotation-amplified corpus: the wide setting's
    # candidate count should collapse vs the narrow one.
    from etl_rf_matrix_controller_spark.operators.dedup import (
        simhash_wide_pairs_df,
        simhash_wide_sig_df,
    )

    for mult in ((1, min(MULT, 10)) if want("simhash_pairs") else ()):
        corpus = amplify_docs(mult)
        for bits, n_bands in ((32, 4), (60, 4)):
            sig = simhash_wide_sig_df(corpus, bits=bits).localCheckpoint(
                eager=True
            )
            t0 = time.perf_counter()
            n_pairs = simhash_wide_pairs_df(
                sig, bits=bits, n_bands=n_bands
            ).count()
            dt = time.perf_counter() - t0
            print(
                f"simhash_pairs x{mult} {bits}b/{bits // n_bands}b-bands: "
                f"{dt:.2f}s, {n_pairs} pairs at ham<=3"
            )
    # Prefix-filtered set-similarity join slope (the round-7b lossless
    # PPJoin paradigm).  Rotation-amplified copies share zero token
    # shingles across copies, so true matches stay flat while df ranks,
    # the per-doc prefix window, and the prefix self-join all scale with
    # the corpus -- the probe isolates the candidate-generation slope,
    # which is the part prefix filtering exists to bound (frequent
    # shingles never enter a prefix).
    from etl_rf_matrix_controller_spark.operators.dedup import (
        prefix_filter_pairs_df,
    )

    for mult in (MULTS if want("prefix_filter") else []):
        corpus = amplify_docs(mult)
        t0 = time.perf_counter()
        n_pairs = prefix_filter_pairs_df(spark, corpus).count()
        dt = time.perf_counter() - t0
        docs_n = n_docs * mult
        print(
            f"prefix_filter x{mult}: {dt:.2f}s ({docs_n/1e3:.0f}k docs, "
            f"{docs_n/dt/1e3:.1f}k docs/s, {n_pairs} pairs)"
        )

    # COMPOSED curation pipeline slope (round-8 verdict task #3): every
    # stage is individually linear, but compositions die on
    # checkpoint/recompute seams -- run the real curate_training_set
    # (quality -> exact dedup -> near-dup -> decontam -> mixture ->
    # shards) over an amplified corpus staged as its own sf-dir, and
    # report the per-stage wall clock the library call now returns.
    # Amplified copies are rotation-permuted so near-dup candidates stay
    # collision-level across copies (same rationale as span_dedup).
    from etl_rf_matrix_controller_spark.operators.curate_run import (
        curate_training_set,
    )

    from etl_rf_matrix_controller_spark.operators.curation import (
        STOPWORDS_GOPHER,
    )

    _sw_arr = F.array([F.lit(s) for s in STOPWORDS_GOPHER])

    def _rot_words(col, rot):
        # rotate each NON-stopword word's letters: every gopher metric
        # (word count, mean word length, stopword fraction, repetition
        # ratio) is preserved bit-exactly -- rotation is a bijection on
        # words -- while cross-copy 8-gram overlap collapses to
        # stopword-adjacent slivers.  Whole-text rotation (the span
        # shapes' amplifier) would destroy the stopwords and the quality
        # stage would reject every copy, making the slope vacuous
        # (measured: x10 quality_kept == x1's 4964).
        return F.array_join(
            F.transform(
                F.split(col, " "),
                lambda w: F.when(F.array_contains(_sw_arr, w), w).otherwise(
                    F.translate(w, alpha, rot)
                ),
            ),
            " ",
        )

    for mult in (MULTS if want("curate_pipeline") else []):
        stage_dir = f"/tmp/spark_graft_stress_curate_x{mult}"
        src = f"{stage_dir}/corpus"
        # dup_corpus needs lang/source: keep the full documents schema,
        # rotating only the text (doc_id offsets keep ids unique)
        full = load_table(spark, SF_DIR, "documents")
        parts = []
        for i in range(mult):
            rot = alpha[i % 26:] + alpha[:i % 26]
            b2 = i // 26
            if b2:
                rot = rot[:b2 + 1][::-1] + rot[b2 + 1:]
            parts.append(
                full.withColumn("doc_id", F.col("doc_id") + i * 10_000_000)
                .withColumn("text", _rot_words(F.col("text"), rot))
            )
        amp = parts[0]
        for p in parts[1:]:
            amp = amp.unionByName(p)
        amp.repartition(max(16, 4 * mult)).write.mode("overwrite").parquet(
            f"{src}/documents.parquet"
        )
        t0 = time.perf_counter()
        res = curate_training_set(spark, src, f"{stage_dir}/out")
        dt = time.perf_counter() - t0
        per_stage = " ".join(
            f"{k}={res['timings'][k]:.1f}s/{v}" for k, v in res["stages"].items()
        )
        print(
            f"curate_pipeline x{mult}: total {dt:.2f}s "
            f"({n_docs * mult / dt / 1e3:.1f}k docs/s) | {per_stage}"
        )
        shutil.rmtree(stage_dir, ignore_errors=True)

    # Incremental index maintenance decade (round-8 verdict task #2):
    # append a ~1% ingest batch to the persistent postings index as a
    # bucketed DELTA vs paying the full rebuild over corpus+batch.  The
    # delta write must track BATCH size, not corpus size -- this ratio
    # is the 100 TB bill the delta leg exists to avoid.
    from etl_rf_matrix_controller_spark.plans.gram_index import (
        append_index_delta,
    )

    def _postings_of(corpus):
        return (
            corpus.select(
                "doc_id",
                F.explode(F.split(F.trim("text"), " ")).alias("token"),
            )
            .filter(F.col("token") != "")
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )

    for mult in (MULTS if want("index_append") else []):
        corpus = amplify_docs(mult).localCheckpoint(eager=True)
        batch = corpus.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"), "text"
        )
        # FIXED bucket count for this shape (unlike the gram joins):
        # a delta write creates one file per bucket, so scaling buckets
        # 4x/decade floors a tiny batch's append at bucket-file-creation
        # cost (measured: 400 buckets -> 8 s for a 1% batch, equal to
        # the rebuild).  Token postings are narrow -- ~1M rows/bucket at
        # x100 fits comfortably; production sizes buckets to the CORPUS
        # and appends inherit it, which is exactly this setting.
        n_buckets = 32
        t0 = time.perf_counter()
        ensure_bucketed_index(
            spark, SF_DIR, "stressappbase",
            lambda s, d, c=corpus: _postings_of(c), ["token"],
            version=f"m{mult}", n_buckets=n_buckets,
            sort_cols=["token", "doc_id"],
        )
        t_base = time.perf_counter() - t0
        t0 = time.perf_counter()
        append_index_delta(
            spark, SF_DIR, "stressappbase",
            lambda s, d, b=batch: _postings_of(b), ["token"],
            version=f"m{mult}", batch_id="b1", n_buckets=n_buckets,
            sort_cols=["token", "doc_id"],
        )
        t_delta = time.perf_counter() - t0
        t0 = time.perf_counter()
        ensure_bucketed_index(
            spark, SF_DIR, "stressappfull",
            lambda s, d, c=corpus, b=batch: _postings_of(c.unionByName(b)),
            ["token"], version=f"m{mult}", n_buckets=n_buckets,
            sort_cols=["token", "doc_id"],
        )
        t_rebuild = time.perf_counter() - t0
        from etl_rf_matrix_controller_spark.plans.gram_index import (
            compact_index,
        )

        t0 = time.perf_counter()
        compact_index(
            spark, SF_DIR, "stressappbase", ["token"],
            version=f"m{mult}", n_buckets=n_buckets,
            sort_cols=["token", "doc_id"],
        )
        t_compact = time.perf_counter() - t0
        print(
            f"index_append x{mult}: base build {t_base:.2f}s, "
            f"~1% batch delta append {t_delta:.2f}s, full rebuild "
            f"{t_rebuild:.2f}s, compaction {t_compact:.2f}s -> append is "
            f"{t_rebuild/t_delta:.1f}x cheaper than rebuild; compaction "
            f"~= one rebuild, amortized over many appends"
        )
        for t in [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("gram_idx_stressapp")
            and f"_m{mult}_" in t.name
        ]:
            spark.sql(f"DROP TABLE {t}")
            shutil.rmtree(
                __import__("os").path.join(index_root(), t),
                ignore_errors=True,
            )

    # Engineered-skew decades (round-8 verdict task #4): one hot key
    # holding ~10% of all rows, driven through the three shapes whose
    # 100 TB story depends on skew handling.
    #   skew_latest_state: the declared last-write-wins spelling is a
    #     per-key window; the skew-safe twin is a max_by aggregation
    #     (partial agg combines the hot key map-side).  Measure BOTH.
    #   skew_sessions: user_session_stats' gaps-and-islands core -- the
    #     hot user's whole history lands in ONE window partition by
    #     design; the decade shows where that wall is.
    #   skew_minhash_bands: 10% of docs share IDENTICAL text -> one hot
    #     band bucket; the first-cap admission (NEARDUP_DF_CAP) must
    #     bound the candidate join at cap*n instead of n^2/100.
    from pyspark.sql.window import Window as _W

    def skew_events(mult: int):
        # user 1 absorbs every event_id % 10 == 0 row (~10% of volume)
        return amplify(ev, mult).withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 == 0, F.lit(1)).otherwise(
                F.col("user_id")
            ),
        )

    for mult in (MULTS if want("skew_latest_state") else []):
        data = skew_events(mult)
        rows = ev_rows * mult
        w = _W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        t0 = time.perf_counter()
        data.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        ).write.format("noop").mode("overwrite").save()
        t_win = time.perf_counter() - t0
        t0 = time.perf_counter()
        data.groupBy("user_id").agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last")
        ).write.format("noop").mode("overwrite").save()
        t_agg = time.perf_counter() - t0
        print(
            f"skew_latest_state x{mult}: window {t_win:.2f}s "
            f"({rows/t_win/1e6:.1f}M rows/s), max_by-agg {t_agg:.2f}s "
            f"({rows/t_agg/1e6:.1f}M rows/s) -- hot key = 10% of rows"
        )

    for mult in (MULTS if want("skew_sessions") else []):
        data = skew_events(mult).select(
            "user_id", "event_id", F.col("ts").cast("long").alias("sec")
        )
        rows = ev_rows * mult
        wo = _W.partitionBy("user_id").orderBy("sec", "event_id")
        flagged = data.select(
            "user_id",
            "sec",
            "event_id",
            F.when(
                (F.col("sec") - F.lag("sec").over(wo) > 1800)
                | F.lag("sec").over(wo).isNull(),
                1,
            )
            .otherwise(0)
            .alias("new_sess"),
        )
        sess = flagged.select(
            "user_id",
            "sec",
            F.sum("new_sess")
            .over(wo.rowsBetween(_W.unboundedPreceding, 0))
            .alias("sess_id"),
        )
        t0 = time.perf_counter()
        sess.groupBy("user_id", "sess_id").agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("sec") - F.min("sec")).alias("dur_s"),
        ).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
        ).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        # the skew-proof two-level twin (user_session_stats_chunked):
        # level 1 bounds window partitions to (user, day chunk), level 2
        # re-merges boundary-cut sessions over SUMMARIES
        chunked = data.withColumn("chunk", F.expr("sec DIV 86400"))
        w1 = _W.partitionBy("user_id", "chunk").orderBy("sec", "event_id")
        local = chunked.select(
            "user_id", "chunk", "sec", "event_id",
            F.when(
                (F.col("sec") - F.lag("sec").over(w1) > 1800)
                | F.lag("sec").over(w1).isNull(), 1,
            ).otherwise(0).alias("ns"),
        ).select(
            "user_id", "chunk", "sec",
            F.sum("ns").over(
                w1.rowsBetween(_W.unboundedPreceding, 0)
            ).alias("ls"),
        )
        summ = local.groupBy("user_id", "chunk", "ls").agg(
            F.min("sec").alias("s"), F.max("sec").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        w2 = _W.partitionBy("user_id").orderBy("s")
        t0 = time.perf_counter()
        summ.select(
            "user_id", "s", "e", "n",
            F.when(
                (F.col("s") - F.lag("e").over(w2) > 1800)
                | F.lag("e").over(w2).isNull(), 1,
            ).otherwise(0).alias("ns"),
        ).select(
            "user_id", "n",
            F.sum("ns").over(
                w2.rowsBetween(_W.unboundedPreceding, 0)
            ).alias("sid"),
        ).groupBy("user_id", "sid").agg(F.sum("n").alias("n")).groupBy(
            "user_id"
        ).agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
        ).write.format("noop").mode("overwrite").save()
        t_ch = time.perf_counter() - t0
        print(
            f"skew_sessions x{mult}: flat {dt:.2f}s ({rows/dt/1e6:.1f}M "
            f"rows/s, hot user in one partition), chunked {t_ch:.2f}s "
            f"({rows/t_ch/1e6:.1f}M rows/s, partitions bounded by "
            f"(user, day))"
        )

    # Round-9 verdict task #6: probe wall vs delta-leg count.  A week of
    # nightly appends leaves K legs; consumers serve base ∪ K deltas as
    # one bucketed join per leg.  This shape builds a base + 8 delta
    # legs in an isolated index root, then probes a fixed batch against
    # the first 0/1/2/4/8 legs -- the slope justifies the
    # compact-at-K default (plans/gram_index.py::compact_when_due).
    for mult in (MULTS[-1:] if want("delta_legs_probe") else []):
        import os as _os
        import tempfile as _tf

        from etl_rf_matrix_controller_spark.operators.dedup import (
            per_row_band_rows,
        )
        from etl_rf_matrix_controller_spark.plans import gram_index as gi

        saved_root = _os.environ.get("SPARK_GRAFT_INDEX_DIR")
        _os.environ["SPARK_GRAFT_INDEX_DIR"] = _tf.mkdtemp(
            prefix="spark_graft_dlprobe_"
        )
        try:
            corpus = amplify_docs(mult)
            kind, ver, bcols = "dlprobe", "v1", ["band", "bkey"]
            base = gi.ensure_bucketed_index(
                spark, SF_DIR, kind,
                lambda s, d, c=corpus: per_row_band_rows(
                    c.filter(F.col("doc_id") % 9 == 0)
                ),
                bcols, version=ver,
            )
            legs = []
            for k in range(8):
                legs.append(gi.append_index_delta(
                    spark, SF_DIR, kind,
                    lambda s, d, c=corpus, k=k: per_row_band_rows(
                        c.filter(F.col("doc_id") % 9 == k + 1)
                    ),
                    bcols, version=ver, batch_id=f"b{k}",
                ))
            probe = per_row_band_rows(
                corpus.filter(F.col("doc_id") % 91 == 3)
            ).localCheckpoint()
            n_probe = probe.count()
            for n_legs in (0, 1, 2, 4, 8):
                served = [base] + legs[:n_legs]
                t0 = time.perf_counter()
                total = 0
                hits = None
                for leg in served:
                    h = (
                        probe.alias("n")
                        .hint("shuffle_hash")
                        .join(
                            leg.alias("i"),
                            (F.col("n.band") == F.col("i.band"))
                            & (F.col("n.bkey") == F.col("i.bkey")),
                        )
                        .select(F.col("i.doc_id"))
                    )
                    hits = h if hits is None else hits.unionByName(h)
                total = hits.count()
                dt = time.perf_counter() - t0
                print(
                    f"delta_legs_probe x{mult} legs={n_legs}: {dt:.2f}s "
                    f"({n_probe} probe rows, {total} hits)"
                )
        finally:
            if saved_root is None:
                _os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
            else:
                _os.environ["SPARK_GRAFT_INDEX_DIR"] = saved_root

    # Round-9: the chunked EMA twin under the same hot key -- flat fold
    # materializes the hot user's whole history as ONE in-row array;
    # the two-level fold bounds arrays to (user, day chunk) and folds
    # calendar-scaled (v0, v, w) summaries per user.
    for mult in (MULTS if want("skew_ema") else []):
        data = skew_events(mult).select(
            "user_id",
            "ts",
            "event_id",
            F.col("value").cast("double").alias("value"),
            F.expr("CAST(ts AS LONG) DIV 86400").alias("chunk"),
        )
        rows = ev_rows * mult
        t0 = time.perf_counter()
        data.groupBy("user_id").agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("arr")
        ).select(
            "user_id",
            F.expr(
                "aggregate(slice(arr, 2, size(arr) - 1), "
                "element_at(arr, 1).value, "
                "(acc, s) -> 0.3e0 * s.value + (1e0 - 0.3e0) * acc)"
            ).alias("ema_value"),
        ).write.format("noop").mode("overwrite").save()
        t_flat = time.perf_counter() - t0
        per_chunk = data.groupBy("user_id", "chunk").agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("arr")
        ).select(
            "user_id",
            "chunk",
            F.expr("transform(arr, s -> s.value)").alias("lv"),
        ).select(
            "user_id",
            "chunk",
            F.expr(
                "aggregate(slice(lv, 2, size(lv) - 1), element_at(lv, 1), "
                "(acc, x) -> 0.3e0 * x + (1e0 - 0.3e0) * acc)"
            ).alias("v0"),
            F.expr(
                "aggregate(lv, CAST(0 AS DOUBLE), "
                "(acc, x) -> 0.3e0 * x + (1e0 - 0.3e0) * acc)"
            ).alias("v"),
            F.expr(
                "aggregate(lv, CAST(1 AS DOUBLE), "
                "(acc, x) -> (1e0 - 0.3e0) * acc)"
            ).alias("w"),
        )
        t0 = time.perf_counter()
        per_chunk.groupBy("user_id").agg(
            F.array_sort(
                F.collect_list(F.struct("chunk", "v0", "v", "w"))
            ).alias("carr")
        ).select(
            "user_id",
            F.expr(
                "aggregate(slice(carr, 2, size(carr) - 1), "
                "element_at(carr, 1).v0, "
                "(acc, s) -> s.v + s.w * acc)"
            ).alias("ema_value"),
        ).write.format("noop").mode("overwrite").save()
        t_ch = time.perf_counter() - t0
        print(
            f"skew_ema x{mult}: flat {t_flat:.2f}s "
            f"({rows/t_flat/1e6:.1f}M rows/s, hot user's history in one "
            f"in-row array), chunked {t_ch:.2f}s ({rows/t_ch/1e6:.1f}M "
            f"rows/s, arrays bounded by (user, day))"
        )

    # Round-10: the chunked Holt twin's history-length decade.  The flat
    # Holt fold is one sequential chain per key (n_days steps in ONE
    # task); the affine two-level form bounds level-1 arrays to the
    # 7-day chunk and leaves a calendar/7-length sequential chain.  With
    # few keys and long histories the chain IS the critical path, so
    # the decade axis here is DAYS per key, not rows.
    for mult in (MULTS if want("holt_chunk") else []):
        n_types, n_days = 8, 3650 * mult
        base = spark.range(n_types * n_days).select(
            (F.col("id") % n_types).alias("event_type"),
            (F.col("id") / n_types).cast("long").alias("day_idx"),
            (((F.col("id") * 2654435761) % 10007) / 7.0).alias("v"),
        ).repartition(spark.sparkContext.defaultParallelism).cache()
        base.count()
        flat_fold = (
            "aggregate(slice(vs, 2, size(vs) - 1), "
            "named_struct('l', element_at(vs, 1), 'b', CAST(0 AS DOUBLE)), "
            "(acc, y) -> named_struct("
            "'l', 0.5e0*y + 0.5e0*(acc.l + acc.b), "
            "'b', 0.3e0*((0.5e0*y + 0.5e0*(acc.l + acc.b)) - acc.l) "
            "+ 0.7e0*acc.b))"
        )
        t0 = time.perf_counter()
        base.groupBy("event_type").agg(
            F.expr("array_sort(collect_list(named_struct("
                   "'d', day_idx, 'v', v)))").alias("arr")
        ).select(
            "event_type", F.expr("transform(arr, s -> s.v)").alias("vs")
        ).select(
            "event_type", F.expr(f"({flat_fold}).l").alias("level")
        ).write.format("noop").mode("overwrite").save()
        t_flat = time.perf_counter() - t0

        hom_fold = (
            "aggregate(vs, named_struct("
            "'m11', 1.0e0, 'm21', 0.0e0, 'm12', 0.0e0, 'm22', 1.0e0, "
            "'dl', 0.0e0, 'db', 0.0e0), "
            "(acc, y) -> named_struct("
            "'m11', 0.5e0*(acc.m11 + acc.m21), "
            "'m21', 0.3e0*((0.5e0*(acc.m11 + acc.m21)) - acc.m11) "
            "+ 0.7e0*acc.m21, "
            "'m12', 0.5e0*(acc.m12 + acc.m22), "
            "'m22', 0.3e0*((0.5e0*(acc.m12 + acc.m22)) - acc.m12) "
            "+ 0.7e0*acc.m22, "
            "'dl', 0.5e0*y + 0.5e0*(acc.dl + acc.db), "
            "'db', 0.3e0*((0.5e0*y + 0.5e0*(acc.dl + acc.db)) - acc.dl) "
            "+ 0.7e0*acc.db))"
        )
        t0 = time.perf_counter()
        summ = base.withColumn(
            "chunk", F.expr("day_idx DIV 7")
        ).groupBy("event_type", "chunk").agg(
            F.expr("array_sort(collect_list(named_struct("
                   "'d', day_idx, 'v', v)))").alias("arr")
        ).select(
            "event_type", "chunk",
            F.expr("transform(arr, s -> s.v)").alias("vs"),
        ).select(
            "event_type", "chunk",
            F.expr(f"({flat_fold}).l").alias("l0"),
            F.expr(f"({flat_fold}).b").alias("b0"),
            F.expr(hom_fold).alias("h"),
        )
        summ.groupBy("event_type").agg(
            F.expr("array_sort(collect_list(named_struct('c', chunk, "
                   "'l0', l0, 'b0', b0, 'h', h)))").alias("carr")
        ).select(
            "event_type",
            F.expr(
                "aggregate(slice(carr, 2, size(carr) - 1), "
                "named_struct('l', element_at(carr, 1).l0, "
                "'b', element_at(carr, 1).b0), "
                "(acc, c) -> named_struct("
                "'l', acc.l*c.h.m11 + acc.b*c.h.m12 + c.h.dl, "
                "'b', acc.l*c.h.m21 + acc.b*c.h.m22 + c.h.db)).l"
            ).alias("level"),
        ).write.format("noop").mode("overwrite").save()
        t_ch = time.perf_counter() - t0
        base.unpersist()
        print(
            f"holt_chunk x{mult}: {n_types} keys x {n_days} days -- "
            f"flat {t_flat:.2f}s ({n_days}-step chain/key in one task), "
            f"chunked {t_ch:.2f}s ({(n_days + 6) // 7}-step chain over "
            f"7-day parallel folds)"
        )

    from etl_rf_matrix_controller_spark.streaming.neardup import (
        NEARDUP_DF_CAP,
        batch_band_candidates,
    )

    for mult in (MULTS if want("skew_minhash_bands") else []):
        # rotation-amplified corpus, then 10% of docs overwritten with
        # one IDENTICAL hot text -> every copy of that cohort lands in
        # the same band buckets
        corpus = amplify_docs(mult).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 7,
                F.lit(
                    "the quick brown fox jumps over the lazy dog and "
                    "keeps jumping over it all day long every single day"
                ),
            ).otherwise(F.col("text")),
        )
        docs_n = n_docs * mult
        hot_n = docs_n // 10
        t0 = time.perf_counter()
        n_cand = batch_band_candidates(corpus, NEARDUP_DF_CAP).count()
        dt = time.perf_counter() - t0
        print(
            f"skew_minhash_bands x{mult}: {dt:.2f}s "
            f"({docs_n/1e3:.0f}k docs, {docs_n/dt/1e3:.1f}k docs/s, "
            f"{n_cand} candidates; uncapped hot band would be "
            f"~{hot_n * (hot_n - 1) // 2 / 1e6:.1f}M pairs, cap bounds it "
            f"at ~{NEARDUP_DF_CAP} x {hot_n / 1e3:.0f}k)"
        )

    # Round-9 verdict task #7: the exact-Jaccard VERIFY leg under the
    # same pathological band.  The admission cap bounds candidates at
    # cap x hot_n, but every pair shares doc_a in a ~cap-element key set
    # -- the verify join's shuffle is hot-KEY skewed (cap keys carry 10%
    # of all pairs each ~hot_n/cap deep).  Decade question: does AQE's
    # skew split (spark.sql.adaptive.skewJoin) keep the jaccard
    # verification linear in pair count, or does one partition eat the
    # hot keys?
    for mult in (MULTS if want("skew_neardup_verify") else []):
        corpus = amplify_docs(mult).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 7,
                F.lit(
                    "the quick brown fox jumps over the lazy dog and "
                    "keeps jumping over it all day long every single day"
                ),
            ).otherwise(F.col("text")),
        )
        docs_n = n_docs * mult
        hot_n = docs_n // 10
        t = F.trim("text")
        toksets = corpus.repartition(
            spark.sparkContext.defaultParallelism
        ).select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length(t) - 7, F.lit(1))
                    ),
                    lambda i: t.substr(i, F.lit(8)),
                )
            ).alias("toks"),
        ).localCheckpoint()
        # materialize candidates first so the verify leg times ALONE --
        # candidate generation's hot-bucket self-join has its own
        # (round-8) decade; this shape isolates the jaccard verify.
        cand = batch_band_candidates(corpus, NEARDUP_DF_CAP).cache()
        t0 = time.perf_counter()
        n_cand = cand.count()
        t_cand = time.perf_counter() - t0
        ta, tb = toksets.alias("ta"), toksets.alias("tb")
        jacc = F.size(
            F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))
        ) / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
        t0 = time.perf_counter()
        n_ver = (
            cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
            .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
            .filter(jacc >= 0.6)
            .count()
        )
        dt = time.perf_counter() - t0
        cand.unpersist()
        print(
            f"skew_neardup_verify x{mult}: candidates {t_cand:.2f}s "
            f"({n_cand}), verify {dt:.2f}s ({n_ver} verified pairs, "
            f"{n_ver/dt/1e3:.1f}k pairs/s; hot band contributes "
            f"~{NEARDUP_DF_CAP} x {hot_n/1e3:.0f}k pairs over "
            f"~{NEARDUP_DF_CAP} doc_a keys)"
        )

    spark.stop()


if __name__ == "__main__":
    main()
