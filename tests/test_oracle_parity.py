"""Oracle-differential test over every registered query (driver t2
replica, run at sf0.001 for speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from etl_work_flow_for_big_data_spark.queries import load_all
from tests.parity import compare

REGISTRY = load_all()
ORACLE_KEYS = sorted(REGISTRY)


def test_every_query_is_hash_oracled():
    # the registry contract: oracle is a non-empty SQL string for every
    # query — no rows-only registrations (r5 verdict doc-sync item)
    assert all(
        isinstance(s.oracle, str) and s.oracle.strip() for s in REGISTRY.values()
    )
    assert len(REGISTRY) >= 83


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    compare(spec.fn(spark, sf_dir), duck.sql(spec.oracle))


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())


def test_approx_quantile_accuracy(spark, sf_dir):
    # The 2%-relative-accuracy claim for percentile_approx, kept OUT of
    # the agg_approx_quantile oracle columns (a zero exact median makes
    # relative error undefined — ANSI DIVIDE_BY_ZERO — and an over-2%
    # sketch gap on a regenerated fixture would read as a hash mismatch
    # instead of an accuracy finding). Here it is a plain assertion:
    # relative where the median is nonzero, exact-match where it is 0.
    from pyspark.sql import functions as F

    from etl_work_flow_for_big_data_spark.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("exact"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        if r.exact is None:
            assert r.approx is None
        elif r.exact == 0.0:
            assert r.approx == 0.0
        else:
            assert abs(r.approx - r.exact) / abs(r.exact) < 0.02, r
