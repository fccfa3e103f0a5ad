"""Closed-loop mediation + rating pipeline as ONE composed run.

The reference's full workflow — collect CDR files from network
elements (MFramework.cpp:1209-1319), ledger each file once
(:1286-1302), parse wire packets, drop invalid records, rate usage
against a session/tariff dim, route outputs by target system — was
previously covered piecewise (ledger in test_ledger, routing and
checkpoint restart in test_streaming, rating in the oracle suite).
This test composes all of it and injects a crash at the worst
moment — AFTER the sink wrote a micro-batch, BEFORE the checkpoint
committed its offsets — then resumes from the checkpoint and proves
no-dup/no-loss over the whole pipeline (r8-verdict task 5).

Why that crash point: it is the one a naive sink double-writes on.
``route_fanout_writer`` overwrites per-batch directories, so the
replayed batch replaces its own partial output — the documented
exactly-once mechanism, here actually exercised mid-pipeline
instead of asserted on a single-stage stream.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401  (registers ops)
from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec
from etl_work_flow_for_big_data_spark.sources.ledger import FileLedger
from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
from etl_work_flow_for_big_data_spark.streaming.sinks import (
    route_fanout_writer,
    start_routed_stream,
)

# Six single-packet CDR files: two tariffed types, one packet with no
# component type (t) — the reference logs-and-drops those; route_by's
# default keeps them on a dead-letter route — and one with no session
# id (s), which filter_valid drops entirely (MFramework.cpp:1245-1250).
_CDR_FILES = {
    "ne1_a.cdr": "s=1|t=voice|u=10.0|f=a\ns=2|t=data|u=4.0|f=a\n",
    "ne1_b.cdr": "s=3|t=voice|u=2.5|f=b\n",
    "ne2_a.cdr": "s=4|t=data|u=100.0|f=c\n",
    "ne2_b.cdr": "s=5|u=7.0|f=d\n",           # no t -> dead-letter route
    "ne3_a.cdr": "t=voice|u=1.0|f=e\n",        # no s -> dropped as invalid
}

# what the composed pipeline must emit, exactly once each:
# (s, route, charge = round(u * rate, 2))
_EXPECTED = {
    (1, "voice", 0.50),   # 10.0 * 0.05
    (2, "data", 0.40),    # 4.0 * 0.10
    (3, "voice", 0.13),   # 2.5 * 0.05 = 0.125 -> bankers? no: HALF_UP 0.13
    (4, "data", 10.00),   # 100.0 * 0.10
    (5, "dead-letter", None),
}


def _collect(remote: str, landing: str, ledger: FileLedger) -> list[str]:
    """The reference's collection loop: fetch each remote file once,
    marking it in the ledger BEFORE the next poll sees it."""
    fetched = []
    for fname in sorted(os.listdir(remote)):
        if ledger.is_done(fname):
            continue
        SOURCES.fetch("local", os.path.join(remote, fname),
                      os.path.join(landing, fname))
        ledger.mark_done(fname)
        fetched.append(fname)
    return fetched


def _mediation_stream(spark, landing: str):
    """parse → validate → rate (broadcast tariff join) → route."""
    spec = PipelineSpec.from_rows(
        "mediation",
        [
            {"session_id": 1, "operator_name": "parse_packets",
             "next_session_id": 2},
            {"session_id": 2, "operator_name": "filter_valid",
             "params": {"required": "s"}, "next_session_id": 3},
            {"session_id": 3, "operator_name": "route_by",
             "params": {"key": "t"}, "next_session_id": None},
        ],
    )
    # one file per micro-batch so a mid-stream crash leaves real work
    stream = SOURCES.read_stream(spark, "kv_text", landing, None,
                                 maxFilesPerTrigger=1)
    tariff = spark.createDataFrame(
        [("voice", 0.05), ("data", 0.10)], "t string, rate double"
    )
    mediated = spec.compile(stream).withColumn(
        "u", F.col("attrs")["u"].cast("double")
    )
    rated = (
        mediated.join(F.broadcast(tariff), "t", "left")
        .withColumn("charge", F.round(F.col("u") * F.col("rate"), 2))
        .select("s", "route", "charge")
    )
    return rated


def test_closed_loop_crash_and_resume(spark, tmp_path):
    remote = tmp_path / "remote"
    landing = tmp_path / "landing"
    out = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    remote.mkdir()
    landing.mkdir()
    for fname, body in _CDR_FILES.items():
        (remote / fname).write_text(body)

    # -- collection with the FWorkCheckpoint ledger ------------------
    ledger = FileLedger(str(tmp_path / "ledger"))
    ledger.backup()  # Dir1 -> Dir2, as the reference does on start
    assert sorted(_collect(str(remote), str(landing), ledger)) == sorted(_CDR_FILES)
    # a second poll fetches nothing: the marker IS the once-only gate
    assert _collect(str(remote), str(landing), ledger) == []

    # -- run A: crash AFTER the first batch's sink write -------------
    inner = route_fanout_writer(out, "route")
    crashed = {"flag": False}

    def crashing_writer(batch_df, batch_id):
        inner(batch_df, batch_id)
        if batch_id == 0:
            crashed["flag"] = True
            raise RuntimeError("injected crash between sink write and "
                               "checkpoint commit")

    q = (
        _mediation_stream(spark, str(landing))
        .writeStream.foreachBatch(crashing_writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert crashed["flag"], "the injected crash never fired"
    # batch 0 reached the sink (the dangerous half-written state)
    partial = spark.read.parquet(out)
    assert 0 < partial.count() < len(_EXPECTED)

    # -- run B: resume from the checkpoint, no injected crash --------
    q2 = start_routed_stream(
        _mediation_stream(spark, str(landing)), out, ckpt
    )
    q2.awaitTermination(120)
    assert q2.exception() is None

    # -- no-dup / no-loss over the COMPOSED pipeline ------------------
    rows = spark.read.parquet(out).select("s", "route", "charge").collect()
    got = [(r["s"], r["route"], r["charge"]) for r in rows]
    assert len(got) == len(_EXPECTED), f"dup or loss: {sorted(got, key=str)}"
    assert set(got) == _EXPECTED

    # -- rollback path: Dir2 still holds the pre-run ledger state -----
    ledger.restore()
    assert ledger.done_files() == set()  # pre-collection snapshot
