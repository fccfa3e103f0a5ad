"""A4 JDBC scan, exercised end-to-end against embedded Derby (the
derby jars ship with Spark for the Hive metastore, so no new
dependency): mirrors the reference's Oracle config plane — the
pipeline topology is read from a RELATIONAL table through the jdbc
source and compiled (MFramework.cpp:344-376, :929-1022)."""

from __future__ import annotations

import pytest

from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES


def _derby_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        return True
    except Exception:
        return False


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    if not _derby_available(spark):
        pytest.skip("derby jar not on the Spark classpath")
    db = tmp_path_factory.mktemp("derby") / "configdb"
    url = f"jdbc:derby:{db}"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    st = conn.createStatement()
    # quoted lowercase identifiers: Derby uppercases unquoted names, and
    # PipelineSpec.from_dataframe expects the FIXTURES.md column names
    st.executeUpdate(
        'CREATE TABLE "pipeline_spec" ('
        '"session_id" INT, "operator_name" VARCHAR(40), '
        '"session_name" VARCHAR(40), "params" VARCHAR(200), '
        '"next_session_id" INT, "next_component_type" VARCHAR(20))'
    )
    st.executeUpdate(
        'INSERT INTO "pipeline_spec" VALUES '
        "(1, 'parse_packets', 'collector', NULL, 2, NULL), "
        "(2, 'filter_valid', 'validator', '{\"required\": \"s\"}', 3, NULL), "
        "(3, 'project', 'mediator', '{\"columns\": [\"s\", \"t\"]}', NULL, 'rating')"
    )
    conn.close()
    return url


def test_jdbc_reads_topology_table(spark, derby_url):
    df = SOURCES.read(spark, "jdbc", derby_url, dbtable='"pipeline_spec"')
    assert df.count() == 3
    assert set(df.columns) >= {"session_id", "operator_name", "next_session_id"}


def test_jdbc_topology_compiles_and_runs(spark, derby_url):
    """The full reference pattern: relational config → PipelineSpec →
    compiled DataFrame chain over wire packets."""
    import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401
    from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec

    topo = SOURCES.read(spark, "jdbc", derby_url, dbtable='"pipeline_spec"')
    spec = PipelineSpec.from_dataframe("mediation", topo)
    assert [s.operator for s in spec.ordered()] == [
        "parse_packets",
        "filter_valid",
        "project",
    ]
    assert spec.route == "rating"

    packets = spark.createDataFrame(
        [("s=1\nt=rating\n",), ("t=orphan\n",)], "payload string"
    )
    out = spec.compile(packets)
    rows = [(r["s"], r["t"]) for r in out.collect()]
    assert rows == [(1, "rating")]  # orphan dropped by filter_valid


def test_jdbc_sink_round_trip(spark, derby_url):
    """A4 writeback (r13): SINKS jdbc writer → Derby → SOURCES jdbc
    reader round-trips values and schema — the rating-result
    persistence path, mirror-tested like the read side."""
    from etl_work_flow_for_big_data_spark.sources.registry import SINKS

    rated = spark.createDataFrame(
        [(1, "voice", 12.50), (2, "sms", 0.75), (3, "data", 99.99)],
        "call_id int, service string, charge double",
    )
    SINKS.write("jdbc", rated, derby_url, table='"rated_cdrs"', mode="overwrite")
    back = SOURCES.read(spark, "jdbc", derby_url, dbtable='"rated_cdrs"')
    got = sorted((r["call_id"], r["service"], r["charge"]) for r in back.collect())
    assert got == [(1, "voice", 12.50), (2, "sms", 0.75), (3, "data", 99.99)]

    # append mode adds, never replaces
    SINKS.write("jdbc", rated.filter("call_id = 1"), derby_url,
                table='"rated_cdrs"', mode="append")
    assert back.count() == 4


def test_jdbc_sink_clear_error_without_driver(spark):
    from etl_work_flow_for_big_data_spark.sources.registry import write_jdbc

    df = spark.range(1)
    with pytest.raises(RuntimeError, match="could not resolve a JDBC driver"):
        write_jdbc(df, "jdbc:nosuchdb://nowhere", '"t"')


def test_jdbc_sink_real_write_failures_not_misdiagnosed(spark, derby_url):
    """A failure that is NOT driver resolution (here: the target table
    does not exist and Derby rejects the CREATE on a malformed name)
    must propagate the database's own error, not a rewrapped
    'missing driver jar' message (ADVICE r13)."""
    df = spark.range(1)
    from etl_work_flow_for_big_data_spark.sources.registry import write_jdbc

    with pytest.raises(Exception) as ei:
        # invalid identifier → Derby syntax error at CREATE TABLE time
        write_jdbc(df, derby_url, '"bad table!!" ("')
    assert "could not resolve a JDBC driver" not in str(ei.value)


def test_jdbc_source_real_read_failures_not_misdiagnosed(spark, derby_url):
    """The read-side mirror: a missing table is the database's error,
    not a rewrapped 'missing driver jar' message — the driver is there
    and works."""
    with pytest.raises(Exception) as ei:
        SOURCES.read(spark, "jdbc", derby_url, dbtable='"no_such_table"')
    assert "JDBC driver" not in str(ei.value)
    assert "no_such_table" in str(ei.value)


def test_jdbc_query_pushdown(spark, derby_url):
    """Predicate reaches the remote database: the jdbc source accepts a
    pushdown query so only matching config rows cross the wire."""
    df = SOURCES.read(
        spark,
        "jdbc",
        derby_url,
        query='SELECT "session_id", "operator_name" FROM "pipeline_spec" '
        'WHERE "session_id" >= 2',
    )
    assert sorted(r["session_id"] for r in df.collect()) == [2, 3]
