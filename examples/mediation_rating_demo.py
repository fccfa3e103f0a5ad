"""End-to-end demo: the reference's mediation + rating workflow on this
engine.

Mirrors what a user of Rameshei87/ETL-work-flow-for-Big-Data runs
today — collect CDR files over a protocol, parse wire packets, drop
invalid records, rate usage against a tariff, route outputs by target
system, under a supervised control plane — expressed as this engine's
pipeline specs and streaming primitives.

Run: ``python examples/mediation_rating_demo.py`` (local[*], ~30 s).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401  (registers ops)
from etl_work_flow_for_big_data_spark.catalog import load_table
from etl_work_flow_for_big_data_spark.operators.joins import range_join
from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec
from etl_work_flow_for_big_data_spark.session import get_spark
from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
from etl_work_flow_for_big_data_spark.streaming.engine import PipelineManager
from etl_work_flow_for_big_data_spark.streaming.sinks import start_routed_stream


def streaming_mediation(spark, work: str) -> None:
    """AMQP-reader analog: wire packets → parse → validate → route."""
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    src = os.path.join(work, "ne1.cdr")
    with open(src, "w") as f:
        f.write("s=7|t=rating|f=a.cdr\ns=8|t=billing|f=b.cdr\nt=orphan\ns=9|f=c.cdr\n")
    SOURCES.fetch("local", src, os.path.join(landing, "ne1.cdr"))

    spec = PipelineSpec.from_rows(
        "mediation",
        [
            {"session_id": 1, "operator_name": "parse_packets", "next_session_id": 2},
            {"session_id": 2, "operator_name": "filter_valid",
             "params": {"required": "s"}, "next_session_id": 3},
            {"session_id": 3, "operator_name": "route_by",
             "params": {"key": "t"}, "next_session_id": None},
        ],
    )
    out, ckpt = os.path.join(work, "routed"), os.path.join(work, "ckpt")
    mgr = PipelineManager(spark)
    mgr.register(
        "mediation",
        lambda s: start_routed_stream(
            spec.compile(SOURCES.read_stream(s, "kv_text", landing, None)).drop("attrs"),
            out, ckpt,
        ),
    )
    mgr.start("mediation")
    mgr._pipelines["mediation"].query.awaitTermination(120)
    mgr.stop(None)

    routed = spark.read.parquet(out).select("s", "f", "route")
    print("\n=== streaming mediation: routed packets ===")
    routed.orderBy("s").show(truncate=False)


def batch_rating(spark) -> None:
    """gsmrating analog: usage-tier tariff applied to the CDR fact."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    cdrs = load_table(spark, sf_dir, "lineitem")
    tariff = spark.createDataFrame(
        [(0.0, 10.0, "T1", 0.05), (10.0, 25.0, "T2", 0.10), (25.0, 51.0, "T3", 0.20)],
        "lo double, hi double, tier string, rate double",
    )
    rated = (
        range_join(cdrs, tariff, "l_quantity")
        .withColumn("charge", F.round(F.col("l_extendedprice") * F.col("rate"), 2))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_cdrs"),
            F.round(F.sum("charge"), 2).alias("total_charge"),
        )
        .orderBy("tier")
    )
    print("=== batch rating: charges by tariff tier ===")
    rated.show()


if __name__ == "__main__":
    spark = get_spark("mediation-rating-demo")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        streaming_mediation(spark, work)
        batch_rating(spark)
    spark.stop()
