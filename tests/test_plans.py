"""Pipeline-spec compiler tests (F4: topology-as-data →
chained DataFrame plan; mirrors session + M_LINKED_SESSIONS tables,
/root/reference/MFramework.cpp:938-1014)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.operators import registry as reg_mod
from etl_work_flow_for_big_data_spark.operators import transforms  # noqa: F401 (registers ops)
from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec, Stage


def _rows(*triples):
    return [
        {
            "session_id": sid,
            "operator_name": op,
            "params": params,
            "next_session_id": nxt,
        }
        for sid, op, params, nxt in triples
    ]


def test_compile_chain(spark):
    # parse wire packets -> drop invalid -> stamp route: the reference's
    # reader-thread path as a 3-stage spec
    spec = PipelineSpec.from_rows(
        "mediation",
        _rows(
            (1, "parse_packets", {}, 2),
            (2, "filter_valid", {"required": "s"}, 3),
            (3, "route_by", {"key": "t"}, None),
        ),
    )
    df = spark.createDataFrame(
        [("s=7\nt=rating\n",), ("t=orphan\n",), ("s=9\n",)], "payload string"
    )
    out = spec.compile(df).select("s", "route").collect()
    got = sorted((r["s"], r["route"]) for r in out)
    assert got == [(7, "rating"), (9, "dead-letter")]


def test_order_follows_links_not_row_order(spark):
    spec = PipelineSpec.from_rows(
        "p",
        _rows(
            (2, "filter_expr", {"predicate": "v > 1"}, None),
            (1, "with_column", {"name": "v", "expr": "id + 1"}, 2),
        ),
    )
    chain = [s.session_id for s in spec.ordered()]
    assert chain == [1, 2]
    out = spec.compile(spark.range(3)).collect()
    assert sorted(r["v"] for r in out) == [2, 3]


def test_distribution_operators_compile(spark):
    """F2/F3 as spec stages: hash distribution by session key and
    round-robin redistribution show up as their exchanges, and the
    serializer stage writes the key-sorted wire text back out."""
    spec = PipelineSpec.from_rows(
        "fanout",
        _rows(
            (1, "identity", {}, 2),
            (2, "parse_packets", {}, 3),
            (3, "repartition_by_key", {"key": "s", "n": 3}, 4),
            (4, "serialize_packets", {}, 5),
            (5, "round_robin", {"n": 2}, None),
        ),
    )
    df = spark.createDataFrame(
        [("t=rating\ns=7\n",), ("s=9\nt=billing\nx=a=b\n",)], "payload string"
    )
    out = spec.compile(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(s#\d+L?, 3\)", plan)
    assert "RoundRobinPartitioning(2)" in plan
    assert out.rdd.getNumPartitions() == 2
    got = sorted(r["payload"] for r in out.select("payload").collect())
    assert got == ["s=7\nt=rating\n", "s=9\nt=billing\nx=a=b\n"]


def test_rejects_cycle():
    spec = PipelineSpec(
        "bad",
        [
            Stage(1, "identity", next_session_id=2),
            Stage(2, "identity", next_session_id=1),
        ],
    )
    with pytest.raises(ValueError, match="root"):
        spec.ordered()
    # a root exists, but the chain loops back after it: 1→2→3→2
    spec = PipelineSpec(
        "bad",
        [
            Stage(1, "identity", next_session_id=2),
            Stage(2, "identity", next_session_id=3),
            Stage(3, "identity", next_session_id=2),
        ],
    )
    with pytest.raises(ValueError, match="cycle at 2"):
        spec.ordered()
    # a chain 1→2 plus a detached loop 3↔4 the chain never reaches
    spec = PipelineSpec(
        "bad",
        [
            Stage(1, "identity", next_session_id=2),
            Stage(2, "identity"),
            Stage(3, "identity", next_session_id=4),
            Stage(4, "identity", next_session_id=3),
        ],
    )
    with pytest.raises(ValueError, match="2 orphan stage"):
        spec.ordered()


def test_rejects_fork():
    spec = PipelineSpec(
        "bad",
        [
            Stage(1, "identity", next_session_id=3),
            Stage(2, "identity", next_session_id=3),
            Stage(3, "identity"),
        ],
    )
    with pytest.raises(ValueError, match="root"):
        spec.ordered()
    # two rows for one session id: which one's edge holds is undefined
    spec = PipelineSpec("bad", [Stage(1, "identity"), Stage(1, "project")])
    with pytest.raises(ValueError, match="duplicate session_id"):
        spec.ordered()


def test_rejects_dangling_edge():
    spec = PipelineSpec("bad", [Stage(1, "identity", next_session_id=99)])
    with pytest.raises(ValueError, match="dangling"):
        spec.ordered()


def test_unknown_operator_lists_known(spark):
    spec = PipelineSpec("bad", [Stage(1, "no_such_op")])
    with pytest.raises(KeyError, match="no_such_op"):
        spec.compile(spark.range(1))


def test_route_property():
    spec = PipelineSpec.from_rows(
        "p",
        [
            {
                "session_id": 1,
                "operator_name": "identity",
                "next_session_id": None,
                "next_component_type": "rating",
            }
        ],
    )
    assert spec.route == "rating"


def test_compile_is_lazy(spark):
    calls = []
    reg = reg_mod.OperatorRegistry()
    reg.register("probe", lambda df: (calls.append(1), df)[1])
    spec = PipelineSpec("p", [Stage(1, "probe")])
    spec.compile(spark.range(5), registry=reg)
    # operator ran (plan built) but nothing executed — no action called
    assert calls == [1]


def test_spec_from_dataframe(spark):
    """Topology-as-data loaded from a relational table (the M_SESSION /
    M_LINKED_SESSIONS pattern, MFramework.cpp:938-1014)."""
    topo = spark.createDataFrame(
        [
            (1, "parse_packets", "reader", None, 2, None),
            (2, "filter_valid", "validator", '{"required": "s"}', 3, None),
            (3, "route_by", "router", '{"key": "t"}', None, "rating"),
        ],
        "session_id long, operator_name string, session_name string, "
        "params string, next_session_id long, next_component_type string",
    )
    spec = PipelineSpec.from_dataframe("mediation", topo)
    assert [s.session_id for s in spec.ordered()] == [1, 2, 3]
    assert spec.route == "rating"
    df = spark.createDataFrame([("s=5\nt=x\n",), ("junk",)], "payload string")
    out = spec.compile(df).select("s", "route").collect()
    assert [(r["s"], r["route"]) for r in out] == [(5, "x")]
    bad = spark.createDataFrame(
        [(1, "filter_valid", "validator", '{"required": ', None, None)],
        topo.schema,
    )
    with pytest.raises(ValueError, match="session_id 1 has invalid params JSON"):
        PipelineSpec.from_dataframe("mediation", bad)


def test_route_by_invalid_modes(spark):
    """Default keeps missing-'t' packets on a dead-letter route
    (auditable); invalid=None mirrors the reference's log-and-drop
    (MFramework.cpp:1468-1471)."""
    from etl_work_flow_for_big_data_spark.operators.transforms import route_by

    df = spark.createDataFrame(
        [("rating",), (None,)], "t string"
    )
    kept = {r["route"] for r in route_by(df).collect()}
    assert kept == {"rating", "dead-letter"}
    dropped = [r["route"] for r in route_by(df, invalid=None).collect()]
    assert dropped == ["rating"]


def test_dq_validate_and_profile_edges(spark):
    from etl_work_flow_for_big_data_spark.operators.transforms import (
        dq_validate,
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c")], "id long, v string"
    )
    got = {
        r["rule"]: r["n_violations"]
        for r in dq_validate(
            df, [("id_present", "id IS NOT NULL"), ("v_present", "v IS NOT NULL")]
        ).collect()
    }
    assert got == {"id_present": 1, "v_present": 1}
    # rule names are labels, not identifiers: dots/backticks must pass
    # through verbatim (aggregates are aliased positionally)
    dotted = {
        r["rule"]: r["n_violations"]
        for r in dq_validate(df, [("props.id_valid", "id IS NOT NULL")]).collect()
    }
    assert dotted == {"props.id_valid": 1}
    with pytest.raises(ValueError, match="at least one"):
        dq_validate(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        dq_validate(df, [("r", "true"), ("r", "false")])

    prof = {r["column"]: r for r in profile_columns(df, ["id", "v"]).collect()}
    assert prof["id"]["n_nulls"] == 1 and prof["id"]["n_distinct"] == 2
    assert prof["v"]["min_s"] == "a" and prof["v"]["max_s"] == "c"

    # empty batches are a normal pipeline condition: 0 violations, no crash
    empty = df.filter("id = -999")
    got0 = {
        r["rule"]: r["n_violations"]
        for r in dq_validate(empty, [("id_present", "id IS NOT NULL")]).collect()
    }
    assert got0 == {"id_present": 0}
    with pytest.raises(ValueError, match="at least one column"):
        profile_columns(df, [])


def test_run_batch_pipeline_end_to_end(spark, tmp_path):
    """One-call component run: kv_text landing files -> compiled
    operator chain -> routed parquet output, every piece resolved by
    name from its registry (the MFramework::Run batch analog)."""
    import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401
    from etl_work_flow_for_big_data_spark.plans.runner import (
        IOBinding,
        run_batch_pipeline,
    )
    from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "in.cdr").write_text(
        "s=1|t=rating|v=100\ns=2|t=billing|v=50\nt=orphan\n"
    )
    spec = PipelineSpec.from_rows(
        "mediation",
        [
            {"session_id": 1, "operator_name": "parse_packets",
             "next_session_id": 2},
            {"session_id": 2, "operator_name": "filter_valid",
             "params": {"required": "s"}, "next_session_id": 3},
            {"session_id": 3, "operator_name": "route_by",
             "next_component_type": "rating"},
        ],
    )
    out_dir = tmp_path / "out"
    out = run_batch_pipeline(
        spark,
        spec,
        IOBinding("kv_text", str(landing)),
        IOBinding("parquet", str(out_dir)),
    )
    assert "route" in out.columns
    back = spark.read.parquet(str(out_dir))
    rows = {r["s"]: r["route"] for r in back.collect()}
    assert rows == {1: "rating", 2: "billing"}  # orphan dropped
    # routed partition layout on disk (partition pruning at read time)
    assert (out_dir / "route=rating").exists()


#: valid packets 1-3 among malformed ``s`` values (``abc``, empty,
#: ``12x``) and a packet with no ``s`` at all
_FAULTY_KV = (
    "s=1|t=rating|v=100\n"
    "s=abc|t=rating\n"
    "s=|t=billing\n"
    "s=12x|t=billing\n"
    "t=orphan|v=5\n"
    "s=2|t=billing|v=50\n"
    "s=3|v=7\n"
)
#: a corrupt landing file: invalid UTF-8 and NUL bytes in values, in a
#: key, in ``s`` and as a whole line (the text reader decodes an invalid
#: byte to U+FFFD)
_CORRUPT_KV = (
    b"s=4|t=rating|v=\xff\xfe\x00\n"
    b"s=\xff|t=rating\n"
    b"\x00\x00\xc3(\n"
    b"s=6|\xff=x|t=billing\n"
)
_FAULTY_WANT = {"rating": [1, 4], "billing": [2, 6], "dead-letter": [3]}


def _by_route(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["route"], []).append(r["s"])
    return {k: sorted(v) for k, v in out.items()}


def test_malformed_s_is_dropped_not_fatal(spark, tmp_path):
    """Under ANSI casts a malformed ``s`` (non-numeric, empty, numeric
    prefix) must not abort the pipeline: it promotes to NULL and
    ``filter_valid`` drops it like a missing ``s``, in the batch
    pipeline and in the routed stream alike. A second landing file of
    invalid UTF-8 and NUL bytes does not abort either: its valid
    records are committed to their routes and the rest dropped."""
    from etl_work_flow_for_big_data_spark.plans.runner import (
        IOBinding,
        run_batch_pipeline,
    )
    from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
    from etl_work_flow_for_big_data_spark.streaming.sinks import start_routed_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "in.cdr").write_text(_FAULTY_KV)
    (landing / "corrupt.cdr").write_bytes(_CORRUPT_KV)
    spec = PipelineSpec.from_rows(
        "mediation",
        [
            {"session_id": 1, "operator_name": "filter_valid",
             "params": {"required": "s"}, "next_session_id": 2},
            {"session_id": 2, "operator_name": "route_by",
             "params": {"key": "t"}, "next_session_id": 3},
            {"session_id": 3, "operator_name": "project",
             "params": {"columns": ["s", "route"]},
             "next_component_type": "rating"},
        ],
    )
    batch_out = tmp_path / "batch"
    run_batch_pipeline(
        spark, spec, IOBinding("kv_text", str(landing)), IOBinding("parquet", str(batch_out))
    )
    assert _by_route(spark.read.parquet(str(batch_out)).collect()) == _FAULTY_WANT

    stream = SOURCES.read_stream(spark, "kv_text", str(landing), None)
    stream_out = tmp_path / "stream"
    query = start_routed_stream(
        spec.compile(stream), str(stream_out), str(tmp_path / "ckpt")
    )
    assert query.awaitTermination(120)
    assert query.exception() is None
    assert _by_route(spark.read.parquet(str(stream_out)).collect()) == _FAULTY_WANT


def test_profile_columns_plan_shape_and_approx(spark):
    """Per-column branches stay free of the multi-distinct EXPAND in
    BOTH modes (the unpivot-union splits the aggregate per column,
    each scan pruned to its column); the approx path returns HLL
    estimates within tolerance."""
    from etl_work_flow_for_big_data_spark.operators.transforms import (
        profile_columns,
    )

    df = spark.range(1000).selectExpr("id", "id % 7 AS a", "id % 13 AS b")
    for exact in (True, False):
        prof = profile_columns(df, ["a", "b"], exact_distinct=exact)
        assert "Expand" not in prof._jdf.queryExecution().executedPlan().toString()
    got = {
        r["column"]: r["n_distinct"]
        for r in profile_columns(df, ["a", "b"], exact_distinct=False).collect()
    }
    assert abs(got["a"] - 7) <= 1 and abs(got["b"] - 13) <= 1


def test_system_settings_loader(spark):
    """A6 relational settings plane: M_SYSTEM_SETTINGS-style table →
    dict with typed access (GetScalarMatch analog); absent keys
    default, junk values raise."""
    from etl_work_flow_for_big_data_spark.plans.spec import (
        load_settings,
        setting_as,
    )

    df = spark.createDataFrame(
        [("batch_size", "500"), ("dry_run", "true"), ("rate", "0.25"),
         ("audit", "No"), ("verbose", "maybe")],
        "name string, value string",
    )
    s = load_settings(df)
    assert setting_as(s, "batch_size", int) == 500
    assert setting_as(s, "dry_run", bool) is True
    assert setting_as(s, "audit", bool) is False
    assert setting_as(s, "rate", float) == 0.25
    assert setting_as(s, "absent", int, default=7) == 7
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not parse"):
        setting_as(s, "dry_run", int)
    with _pytest.raises(ValueError, match="is not a boolean"):
        setting_as(s, "verbose", bool)
