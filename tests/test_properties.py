"""Property-based tests (hypothesis): the range codec and islands
invariants from SURVEY.md SS5.4.

``format_range_rle . parse_range_expand == identity`` mirrors the
reference's parse/format being mutual inverses (etl_controller.py:73-125);
islands partition invariants pin the gaps-and-islands core.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.functions.ranges import islands, parse_ranges

key_sets = st.sets(st.integers(min_value=1, max_value=120), min_size=1, max_size=25)

SETTINGS = settings(
    max_examples=12,  # each example runs Spark jobs; keep the budget sane
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _format_rle(sorted_keys: list[int]) -> str:
    """Reference-semantics RLE (etl_controller.py:102-125), Python mirror."""
    parts, start, prev = [], None, None
    for n in sorted_keys:
        if start is None:
            start = prev = n
        elif n == prev + 1:
            prev = n
        else:
            parts.append(str(start) if start == prev else f"{start}-{prev}")
            start = prev = n
    parts.append(str(start) if start == prev else f"{start}-{prev}")
    return ", ".join(parts)


@given(keys=key_sets)
@SETTINGS
def test_parse_format_roundtrip(spark, keys):
    """parse(format(keys)) == keys for any key set."""
    s = _format_rle(sorted(keys))
    df = spark.createDataFrame([(s,)], "range_str string")
    out = {r.n for r in parse_ranges(df).collect()}
    assert out == keys, f"{s}: {out} != {keys}"


@given(keys=key_sets)
@SETTINGS
def test_islands_partition_invariants(spark, keys):
    """Islands cover the input exactly, are disjoint, and each island is a
    maximal consecutive run."""
    df = spark.createDataFrame([(k,) for k in keys], "n int")
    spans = islands(df, None, "n").collect()
    covered = set()
    for r in spans:
        run = set(range(r.island_start, r.island_end + 1))
        assert r.island_size == len(run)
        assert not (covered & run), "islands overlap"
        assert run <= keys, f"island {run} not subset of input"
        covered |= run
        # maximality: neighbors just outside the island are absent
        assert r.island_start - 1 not in keys
        assert r.island_end + 1 not in keys
    assert covered == keys


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),
            st.integers(min_value=0, max_value=999),
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_digit_sum_checksum_reference_semantics(spark, pairs):
    """The SQL digit-sum checksum equals the reference algorithm
    (etl_controller.py:479-501) computed in Python."""
    df = spark.createDataFrame(pairs, "o int, i int")
    out = df.select(
        "o",
        "i",
        F.expr(
            "(o % 1000) div 100 % 10 + (o % 1000) div 10 % 10 + (o % 1000) % 10"
            " + (i % 1000) div 100 % 10 + (i % 1000) div 10 % 10 + (i % 1000) % 10"
            " + 106"
        ).alias("raw"),
    ).collect()
    for r in out:
        expect = sum(int(c) for c in f"{r.o % 1000:03d}{r.i % 1000:03d}") + 106
        assert r.raw == expect
        wrapped = expect - 95 if expect > 126 else expect
        assert wrapped <= 126


@given(
    st.lists(
        st.integers(min_value=0, max_value=10_000_000),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_integer_percentile_interpolation_matches_numpy(cents):
    """percentile_cont_prices' integer-space interpolation is exactly
    numpy's 'linear' method on the same data (scaled-cent values)."""
    import numpy as np

    v = sorted(cents)
    n = len(v)
    for p in (1, 2, 3):
        pos = p * (n - 1)
        lo = pos // 4
        rem = pos % 4
        hi = lo + (1 if rem > 0 else 0)
        ours = (v[lo] * (4 - rem) + v[hi] * rem) / 4.0 / 100.0
        ref = float(np.percentile(np.array(v) / 100.0, p * 25, method="linear"))
        assert abs(ours - ref) < 1e-9 * max(1.0, ref)


# -- round-4 operators ----------------------------------------------------

doc_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=60), min_size=2, max_size=4
)


def _chars(text: str) -> list[str]:
    """positional_gram_df's char unit: the trimmed text's characters."""
    return list(text.strip())


def _tokens(text: str) -> list[str]:
    """positional_gram_df's token unit: split(trim(text), '\\s+')."""
    return re.split(r"\s+", text.strip())


def _ref_spans(
    docs: list[tuple[int, str]], k: int, split=_chars
) -> set[tuple]:
    """Brute-force maximal shared-span reference (definitionally: matching
    k-gram positions grouped by (pair, diagonal), consecutive runs
    merged), over the units ``split`` cuts each text into."""
    pg = []
    for did, text in docs:
        t = split(text)
        for i in range(1, max(len(t) - k + 1, 0) + 1):
            pg.append((did, i, tuple(t[i - 1: i - 1 + k])))
    out = set()
    matches: dict[tuple[int, int, int], set[int]] = {}
    for da, pa, ga in pg:
        for db, pb, gb in pg:
            if da < db and ga == gb:
                matches.setdefault((da, db, pa - pb), set()).add(pa)
    for (da, db, diag), poss in matches.items():
        for p in sorted(poss):
            if p - 1 not in poss:  # island start
                end = p
                while end + 1 in poss:
                    end += 1
                out.add((da, db, p, p - diag, end - p + k))
    return out


@given(texts=doc_texts)
@SETTINGS
def test_substring_spans_match_bruteforce(spark, texts):
    """substring_span_pairs_df (char unit, k=8) and token_span_pairs_df
    (token unit, k=3) == the brute-force positional-gram reference for
    any small corpus (tiny 'ab ' alphabet forces heavy overlap, repeated
    grams, and multi-diagonal matches; for tokens it also yields runs of
    spaces, empty and whitespace-only documents).  Both units run on
    every drawn corpus, so the test id stays one test."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        substring_span_pairs_df,
        token_span_pairs_df,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id bigint, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_chars)
        for r in substring_span_pairs_df(df, k=8).collect()
    }
    assert got == _ref_spans(docs, 8), (texts, got)
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
        for r in token_span_pairs_df(df, k=3).collect()
    }
    assert got == _ref_spans(docs, 3, _tokens), (texts, got)


# ---- round-4 continuation properties ----------------------------------


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # event_type index
            st.integers(min_value=0, max_value=9),    # day offset
            st.integers(min_value=1, max_value=400),  # value in quarters
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_holt_fold_matches_python_mirror(spark, tmp_path_factory, data):
    """holt_linear_daily_value == a plain-Python Holt fold for arbitrary
    multi-day series.  Values are quarters (k/4) so the 1e4 scaling is
    float-exact and the daily totals are unambiguous integers."""
    from datetime import datetime, timedelta

    from etl_rf_matrix_controller_spark.operators.behavior import (
        holt_linear_daily_value,
    )
    from tests.test_round4_ops import _write_events

    t0 = datetime(2024, 1, 3, 8, 0, 0)
    rows = [
        (i, t0 + timedelta(days=d, minutes=i), 1, f"t{k}", q / 4.0, "{}")
        for i, (k, d, q) in enumerate(data)
    ]
    tmp = tmp_path_factory.mktemp("holt")
    sf = _write_events(spark, tmp, rows)

    # python mirror: scaled-int daily totals, day-ordered (l, b) fold
    daily: dict[tuple[str, int], int] = {}
    for k, d, q in data:
        key = (f"t{k}", d)
        daily[key] = daily.get(key, 0) + q * 2500
    series: dict[str, list[int]] = {}
    for (et, d) in sorted(daily):
        series.setdefault(et, []).append(daily[(et, d)])
    expect = {}
    for et, ys in series.items():
        l, b = float(ys[0]), 0.0
        for y in ys[1:]:
            lp = 0.5 * float(y) + 0.5 * (l + b)
            b = 0.3 * (lp - l) + 0.7 * b
            l = lp
        expect[et] = (len(ys), l / 10000.0, b / 10000.0, (l + b) / 10000.0)
    got = {
        r.event_type: (r.n_days, r.level, r.trend, r.forecast_next)
        for r in holt_linear_daily_value(spark, sf).collect()
    }
    assert got == expect


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=45, max_size=90),
        min_size=2,
        max_size=4,
    )
)
@SETTINGS
def test_span_excision_matches_position_coverage(spark, tmp_path_factory, texts):
    """span_excision_stats == the DEFINITIONAL per-position coverage:
    a char of a higher-id doc is excisable iff it lies inside some
    40-gram shared with a lower-id doc.  The 2-letter alphabet forces
    dense accidental matches, stressing the interval-union merge.  Doc
    ids avoid the dup_corpus synthesis strides."""
    from etl_rf_matrix_controller_spark.operators.dedup import (
        SPAN_K,
        span_excision_stats,
    )

    ids = [2, 3, 4, 5][: len(texts)]  # % 10 not in {0, 1}
    rows = [
        (i, t, "en", "s", len(t)) for i, t in zip(ids, texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    tmp = tmp_path_factory.mktemp("spans")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp / "documents.parquet")
    )
    docs = {i: t.strip() for i, t in zip(ids, texts)}
    expect = {}
    for i_b, t_b in docs.items():
        earlier_grams = {
            t_a[p : p + SPAN_K]
            for i_a, t_a in docs.items()
            if i_a < i_b
            for p in range(max(len(t_a) - SPAN_K + 1, 0))
        }
        covered: set[int] = set()
        for p in range(max(len(t_b) - SPAN_K + 1, 0)):
            if t_b[p : p + SPAN_K] in earlier_grams:
                covered.update(range(p, p + SPAN_K))
        if covered:
            runs = 1 + sum(
                1
                for a, b in zip(sorted(covered), sorted(covered)[1:])
                if b > a + 1
            )
            expect[i_b] = (runs, len(covered), len(t_b))
    got = {
        r.doc_id: (r.n_regions, r.excisable_chars, r.doc_chars)
        for r in span_excision_stats(spark, str(tmp)).collect()
    }
    assert got == expect


deltas_lists = st.lists(
    st.integers(min_value=-500, max_value=500), min_size=1, max_size=40
)


@given(ds=deltas_lists)
@SETTINGS
def test_clamped_fold_matches_python_reference(spark, ds):
    """The F.aggregate clamp fold == the plain-Python fold for any delta
    sequence (the declared query's kernel, isolated from table I/O)."""
    df = spark.createDataFrame([(ds,)], "ds array<bigint>")
    out = df.select(
        F.aggregate(
            "ds",
            F.struct(
                F.lit(0).cast("bigint").alias("bal"),
                F.lit(0).cast("bigint").alias("clamps"),
            ),
            lambda acc, x: F.struct(
                F.greatest(acc["bal"] + x, F.lit(0).cast("bigint")).alias("bal"),
                (
                    acc["clamps"] + F.when(acc["bal"] + x < 0, 1).otherwise(0)
                ).alias("clamps"),
            ),
        ).alias("st")
    ).collect()[0]["st"]
    bal, clamps = 0, 0
    for d in ds:
        if bal + d < 0:
            bal, clamps = 0, clamps + 1
        else:
            bal += d
    assert (out["bal"], out["clamps"]) == (bal, clamps)


grid_points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=0, max_value=255),
    ),
    min_size=1,
    max_size=30,
    unique=True,
)


@given(pts=grid_points)
@SETTINGS
def test_hilbert_chain_matches_reference_anywhere(spark, pts):
    """The 8-level Hilbert projection chain == the classic xy2d walk at
    arbitrary grid points (not just the fixed-stride sample)."""
    from etl_rf_matrix_controller_spark.operators.layout import hilbert_chain
    from tests.test_zorder_skipping import _ref_hilbert_xy2d

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "event_id bigint, ua bigint, tb bigint")
    got = {(r.ua, r.tb): r.d for r in hilbert_chain(df).collect()}
    for _, (x, y) in enumerate(pts):
        assert got[(x, y)] == _ref_hilbert_xy2d(256, x, y), (x, y)
