"""Physical distribution operators for scale (SURVEY.md §2.F + north
star): salted joins for skew, bucketed tables for shuffle-free
co-located joins. Partitioned writes for pruning are
``SINKS.write(fmt, df, path, partition_by=cols)``
(:mod:`..sources.registry`).

These are the knobs a 100 TB deployment turns when AQE alone isn't
enough: AQE's skew-join split handles moderate skew at runtime, but a
pathological hot key (one subscriber generating 30% of CDRs) still
needs salting; bucketing pre-pays the shuffle once at write time for
tables joined repeatedly on the same key; partitioned layout turns
time/route predicates into directory pruning instead of data scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join a skewed fact to a smaller table with key salting.

    The fact side gets a random salt in [0, n_salts); the small side is
    exploded n_salts× so every (key, salt) partner exists. The hot
    key's rows spread over n_salts reducers instead of one. The small
    side's explosion is the price — keep it dim-sized or broadcast.

    Result is identical to a plain join (salt columns are dropped) for
    inner/left/semi/anti joins; right/full outer would duplicate
    unmatched small-side rows once per salt, so they're rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftsemi", "left_semi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti, got {how!r} "
            "(right/full would emit unmatched small-side rows n_salts times)"
        )
    if "__salt" in skewed.columns or "__salt" in small.columns:
        raise ValueError("input already has a __salt column; rename it first")
    salted_fact = skewed.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_fact.join(salted_small, [key, "__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 16,
) -> None:
    """Persist a table bucketed by the join key. Two tables bucketed
    the same way join WITHOUT a shuffle — the shuffle is pre-paid once
    at write time, amortized over every subsequent join (the right
    layout for fact tables joined on the same key daily)."""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_key).saveAsTable(table)
