"""range_join unit tests (C6): the path picked from the tiers' ranges,
the join-free CASE path's output schema and rows, and overlapping-tier
semantics via the BNLJ fallback."""

from __future__ import annotations

from decimal import Decimal

import pytest

from etl_work_flow_for_big_data_spark.operators.joins import range_join


@pytest.fixture(scope="module")
def fact(spark):
    return spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0)], "id long, v double"
    )


def test_overlapping_tiers_fall_back_with_no_option(spark):
    """Overlapping tiers need no option: range_join sees the overlap in
    the tiers it collects, takes the broadcast non-equi join and gives
    one row per matching tier."""
    tiers = spark.createDataFrame(
        [(0.0, 12.0, "a"), (10.0, 20.0, "b")], "lo double, hi double, tier string"
    )
    fact = spark.createDataFrame(
        [(1, 5.0), (2, 11.0), (3, 15.0), (4, 25.0)], "id long, v double"
    )
    out = range_join(fact, tiers, "v")
    assert out.columns == ["id", "v", "lo", "hi", "tier"]
    rows = sorted((r["id"], r["tier"]) for r in out.collect())
    assert rows == [(1, "a"), (2, "a"), (2, "b"), (3, "b")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_overlapping_tiers_full_semantics_on_bnlj_path(spark, fact):
    tiers = spark.createDataFrame(
        [(0.0, 12.0, "a"), (10.0, 20.0, "b")], "lo double, hi double, tier string"
    )
    rows = sorted(
        (r["id"], r["tier"])
        for r in range_join(fact, tiers, "v").collect()
    )
    # v=15 falls in BOTH [0,12)? no — in [10,20) only; v=5 in [0,12);
    # a value in the overlap zone [10,12) would produce two rows
    assert rows == [(1, "a"), (2, "b")]
    fact2 = spark.createDataFrame([(9, 11.0)], "id long, v double")
    both = sorted(
        r["tier"]
        for r in range_join(fact2, tiers, "v").collect()
    )
    assert both == ["a", "b"]
    # an empty tariff matches nothing, like the inner join it stands for
    empty = range_join(fact, tiers.limit(0), "v")
    assert empty.columns == ["id", "v", "lo", "hi", "tier"]
    assert empty.count() == 0


def test_disjoint_tiers_fast_path_ok(spark, fact):
    tiers = spark.createDataFrame(
        [(0.0, 10.0, "a"), (10.0, 20.0, "b")], "lo double, hi double, tier string"
    )
    rows = sorted(
        (r["id"], r["tier"]) for r in range_join(fact, tiers, "v").collect()
    )
    assert rows == [(1, "a"), (2, "b")]


def test_disjoint_tiers_keep_schema_types_and_drop_unmatched(spark):
    """The CASE path emits the fact's columns then the tier's, in
    order and with the tier's types (int, decimal, string), carries a
    NULL tier value through, drops fact rows no tier covers, and plans
    no join at all."""
    fact = spark.createDataFrame(
        [(1, 5.0, "x"), (2, 15.0, "y"), (3, 25.0, "z"), (4, -1.0, "w"), (5, None, "v")],
        "id long, v double, tag string",
    )
    tiers = spark.createDataFrame(
        [(10.0, 20.0, 2, Decimal("0.10"), None), (0.0, 10.0, 1, Decimal("0.05"), "low")],
        "lo double, hi double, rank int, rate decimal(10,2), name string",
    )
    out = range_join(fact, tiers, "v")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("id", "bigint"), ("v", "double"), ("tag", "string"),
        ("lo", "double"), ("hi", "double"), ("rank", "int"),
        ("rate", "decimal(10,2)"), ("name", "string"),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 5.0, "x", 0.0, 10.0, 1, Decimal("0.05"), "low"),
        (2, 15.0, "y", 10.0, 20.0, 2, Decimal("0.10"), None),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


class TestMergeUpsert:
    """Batch CDC merge edge semantics (the plain-parquet MERGE INTO)."""

    @pytest.fixture(scope="class")
    def base(self, spark):
        return spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )

    def test_update_insert_delete(self, spark, base):
        from etl_work_flow_for_big_data_spark.operators.transforms import (
            merge_upsert,
        )

        updates = spark.createDataFrame(
            [(2, "B", False), (4, "d", False), (3, None, True)],
            "id long, v string, deleted boolean",
        )
        got = sorted(
            tuple(r)
            for r in merge_upsert(base, updates, ["id"], "deleted").collect()
        )
        assert got == [(1, "a"), (2, "B"), (4, "d")]

    def test_empty_updates_is_identity(self, spark, base):
        from etl_work_flow_for_big_data_spark.operators.transforms import (
            merge_upsert,
        )

        empty = spark.createDataFrame([], "id long, v string")
        got = sorted(tuple(r) for r in merge_upsert(base, empty, ["id"]).collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]

    def test_tombstone_null_means_live(self, spark, base):
        from etl_work_flow_for_big_data_spark.operators.transforms import (
            merge_upsert,
        )

        updates = spark.createDataFrame(
            [(2, "B", None)], "id long, v string, deleted boolean"
        )
        got = sorted(
            tuple(r)
            for r in merge_upsert(base, updates, ["id"], "deleted").collect()
        )
        assert (2, "B") in got  # NULL tombstone = not deleted

    def test_version_last_write_wins(self, spark, base):
        from etl_work_flow_for_big_data_spark.operators.transforms import (
            merge_upsert,
        )

        updates = spark.createDataFrame(
            [(2, "B1", 1), (2, "B2", 2), (4, "d", 1)],
            "id long, v string, ver int",
        )
        got = sorted(
            tuple(r)
            for r in merge_upsert(
                base, updates, ["id"], version_col="ver"
            ).collect()
        )
        assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]


class TestAsofBruteForce:
    """asof_join vs a pure-Python reference: backward and forward
    directions, equal-timestamp ties (resolve to the right row), keys
    with no right rows (null payload), duplicate left timestamps."""

    LEFT = [
        # (key, t)
        ("a", 1), ("a", 5), ("a", 5), ("a", 10),
        ("b", 3),
        ("c", 7),          # no right rows for key c
    ]
    RIGHT = [
        # (key, t, rate)
        ("a", 0, 1.0), ("a", 5, 2.0), ("a", 8, 3.0),
        ("b", 4, 9.0),  # after the only left b row
    ]

    def _want(self, direction):
        out = []
        for k, t in self.LEFT:
            cands = [
                (rt, v)
                for (rk, rt, v) in self.RIGHT
                if rk == k and (rt <= t if direction == "backward" else rt >= t)
            ]
            if direction == "backward":
                best = max(cands, default=None)
            else:
                best = min(cands, default=None)
            out.append((k, t, best[1] if best else None))
        return sorted(out, key=lambda r: (r[0], r[1], str(r[2])))

    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_matches_reference(self, spark, direction):
        from etl_work_flow_for_big_data_spark.operators.joins import asof_join

        left = spark.createDataFrame(self.LEFT, "k string, t long")
        right = spark.createDataFrame(self.RIGHT, "k string, rt long, rate double")
        got = sorted(
            ((r["k"], r["t"], r["rate"]) for r in
             asof_join(left, right, "k", "t", "rt", direction=direction).collect()),
            key=lambda r: (r[0], r[1], str(r[2])),
        )
        assert got == self._want(direction), direction
