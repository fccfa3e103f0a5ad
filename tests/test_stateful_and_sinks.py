"""G8 stateful per-key processing (state survives restart via
checkpoint), A7 log sink admission + packet shape, A2 kv_text
write/read round trip."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
from etl_work_flow_for_big_data_spark.sources.registry import write_kv_text
from etl_work_flow_for_big_data_spark.streaming.logsink import build_log_packets
from etl_work_flow_for_big_data_spark.streaming.sinks import route_fanout_writer
from etl_work_flow_for_big_data_spark.streaming.stateful import running_totals_per_key

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_chunk(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / f"chunk_{time.time_ns()}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stateful_running_totals_survive_restart(spark, tmp_path):
    """Per-key state (the session-plugin state analog,
    MFramework.cpp:749-773) persists across query RESTARTS through the
    checkpoint — the FWorkCheckpoint recovery semantics."""
    indir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    _write_chunk(
        indir,
        [
            {"event_id": 1, "ts": "2024-01-01 00:00:01", "user_id": 1, "event_type": "a", "value": 10.0},
            {"event_id": 2, "ts": "2024-01-01 00:00:02", "user_id": 1, "event_type": "a", "value": 5.0},
            {"event_id": 3, "ts": "2024-01-01 00:00:03", "user_id": 2, "event_type": "a", "value": 1.0},
        ],
    )

    outdir = tmp_path / "out"

    def run(run_id):
        stream = SOURCES.read_stream(spark, "json", str(indir), EVENTS_SCHEMA)

        def write(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                str(outdir / f"run={run_id}" / f"batch={batch_id}")
            )

        q = (
            running_totals_per_key(stream)
            .writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(1)
    got1 = {
        r["user_id"]: (r["total_events"], r["total_value"])
        for r in spark.read.parquet(str(outdir / "run=1")).collect()
    }
    assert got1 == {1: (2, 15.0), 2: (1, 1.0)}

    # restart with new data: totals CONTINUE from checkpointed state
    _write_chunk(
        indir,
        [
            {"event_id": 4, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "a", "value": 2.5},
            {"event_id": 5, "ts": "2024-01-01 00:01:01", "user_id": 3, "event_type": "a", "value": 7.0},
        ],
    )
    run(2)
    got2 = {
        r["user_id"]: (r["total_events"], r["total_value"])
        for r in spark.read.parquet(str(outdir / "run=2")).collect()
    }
    assert got2[1] == (3, 17.5)  # 2 prior events + 1 new, state restored
    assert got2[3] == (1, 7.0)  # new key starts fresh
    assert 2 not in got2  # update mode: unchanged keys not re-emitted


def _rate_stream(spark):
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .withColumnRenamed("value", "user_id")
        .withColumn("value", F.lit(1.0))
    )


def test_stateful_running_totals_plan_and_schema(spark):
    """The single state engine: an applyInPandasWithState plan whose
    output columns are the key (with its own type) plus the three
    counters."""
    out = running_totals_per_key(_rate_stream(spark))
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("user_id", "bigint"),
        ("batch_events", "bigint"),
        ("total_events", "bigint"),
        ("total_value", "double"),
    ]


def test_stateful_running_totals_rejects_missing_value_col(spark):
    with pytest.raises(ValueError, match="value_col 'amount'"):
        running_totals_per_key(_rate_stream(spark), value_col="amount")


def test_stateful_running_totals_leaves_state_store_conf_alone(spark):
    """Building the operator changes no session conf: the state-store
    provider stays whatever the deployment set (RocksDB or the
    default), for this query and every later one."""
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    running_totals_per_key(_rate_stream(spark))
    assert spark.conf.get(key, None) == before


def test_stateful_running_totals_custom_key_and_rounding(spark, tmp_path):
    """A non-default key/value column pair, several input files in one
    micro-batch, and the 6-decimal rounding of the running sum
    (17.5 + 0.1 + 0.2 would otherwise drift in binary floating point)."""
    indir = tmp_path / "in"
    rows = [
        {"session": "a", "amount": 10.0},
        {"session": "a", "amount": 5.0},
        {"session": "b", "amount": 1.25},
    ]
    _write_chunk(indir, rows)
    _write_chunk(
        indir,
        [
            {"session": "a", "amount": 2.5},
            {"session": "a", "amount": 0.1},
            {"session": "a", "amount": 0.2},
        ],
    )
    stream = SOURCES.read_stream(
        spark, "json", str(indir), "session string, amount double"
    )
    got: list = []

    def collect(batch_df, batch_id):
        got.extend(batch_df.collect())

    q = (
        running_totals_per_key(stream, key="session", value_col="amount")
        .writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_key = {
        r["session"]: (r["batch_events"], r["total_events"], r["total_value"])
        for r in got
    }
    assert by_key == {"a": (5, 5, 17.8), "b": (1, 1, 1.25)}


def test_log_sink_admission_and_shape(spark, tmp_path):
    records = spark.createDataFrame(
        [
            (1, 7, "boot ok", "2024-01-01 00:00:00"),
            (16, 7, "fetch failed", "2024-01-01 00:00:01"),
            (32, 8, "page the operator", "2024-01-01 00:00:02"),  # alert: masked out
        ],
        "level int, session int, message string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    packets = build_log_packets(records, component="Collector")
    rows = {r["m"]: r for r in packets.collect()}
    # alert (32) dropped by the default mask 31 (LoggerWriter.cpp:178)
    assert len(rows) == 2
    m_info = "2024-01-01 00:00:00|7|boot ok"
    assert rows[m_info]["s"] == "1"
    assert rows[m_info]["c"] == "Collector"
    assert rows[m_info]["l"] == "I"
    assert rows["2024-01-01 00:00:01|7|fetch failed"]["l"] == "E"
    # sink writes partitioned by level letter
    route_fanout_writer(str(tmp_path / "logs"), "l")(packets, 0)
    back = spark.read.parquet(str(tmp_path / "logs"))
    assert sorted(r["l"] for r in back.collect()) == ["E", "I"]


def test_kv_text_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [({"s": "1", "t": "rating", "x": "a=b"},), ({"s": "2", "f": "in.cdr"},)],
        "attrs map<string,string>",
    )
    out = str(tmp_path / "wire")
    write_kv_text(df, out)
    back = SOURCES.read(spark, "kv_text", out)
    got = {r["s"]: r for r in back.collect()}
    assert got[1]["t"] == "rating" and got[1]["attrs"]["x"] == "a=b"
    assert got[2]["f"] == "in.cdr"


def test_kv_text_write_separator_clash_fails_in_pass(spark, tmp_path):
    """The separator guard runs IN-ROW inside the write pass (no extra
    filter+count scan of the output); a value containing the separator
    aborts the write with a clear message naming only the offending
    keys."""
    bad = spark.createDataFrame(
        [({"s": "has|pipe", "t": "fine"},)], "attrs map<string,string>"
    )
    with pytest.raises(Exception, match="separator .* occurs inside .*offending keys: s[^,]"):
        write_kv_text(bad, str(tmp_path / "bad"))


def test_progress_logger_emits_log_packets(spark, tmp_path):
    """G4 x A7: the listener turns query lifecycle events into
    LoggerWriter-shaped packets (s/c/l/m) that the log sink can carry."""
    import time as _time

    from etl_work_flow_for_big_data_spark.streaming.monitor import (
        attach_progress_logger,
    )

    logger = attach_progress_logger(spark, component="TestMonitor")
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        (indir / "a.txt").write_text("hello\nworld\n")
        stream = spark.readStream.format("text").load(str(indir))
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener bus delivers asynchronously; poll briefly
        got = []
        for _ in range(40):
            got += logger.take()
            if any("started" in p["m"] for p in got) and any(
                "terminated" in p["m"] for p in got
            ):
                break
            _time.sleep(0.25)
        assert any("started" in p["m"] for p in got)
        assert any("terminated cleanly" in p["m"] for p in got)
        for p in got:
            assert p["s"] == "1" and p["c"] == "TestMonitor"
            assert p["l"] in "IDWCEAN"
            assert p["m"].count("|") >= 2  # ts|session|message
    finally:
        spark.streams.removeListener(logger)


def test_kv_text_write_newline_in_value_fails(spark, tmp_path):
    """A raw newline inside a value would silently split into bogus
    entries after the separator translate — caught in-row like the
    separator clash. A NULL value has no spelling on the wire (its
    entry used to vanish): both writers fail it in-row too, naming
    only its key."""
    from etl_work_flow_for_big_data_spark.sources.registry import kafka_wire_frame

    bad = spark.createDataFrame(
        [({"s": "has\nnewline"},)], "attrs map<string,string>"
    )
    with pytest.raises(Exception, match="newline"):
        write_kv_text(bad, str(tmp_path / "bad"))
    null_value = spark.createDataFrame(
        [({"s": "1", "t": "rating", "v": None},)], "attrs map<string,string>"
    )
    with pytest.raises(Exception, match="NULL.*offending keys: v[^,]"):
        write_kv_text(null_value, str(tmp_path / "null"))
    with pytest.raises(Exception, match="NULL.*offending keys: v[^,]"):
        kafka_wire_frame(null_value).collect()
