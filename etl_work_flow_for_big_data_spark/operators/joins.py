"""Join operators beyond stock equi-joins: as-of and range (tier) joins.

Domain: the reference's rating binaries price each CDR against a tariff
valid at event time / usage tier (``/root/reference/gsmrating.sh:14``;
SURVEY.md §2.C C6). Spark has no native ASOF JOIN, so we implement the
scalable idiom: union both sides, one window pass per key, carry the
most recent right-side value forward. One shuffle on the key — no
range-explosion, no skewed theta-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the most recent right row at-or-before
    its timestamp (``backward``; ``forward`` = earliest at-or-after).

    Implementation: tag + union + single window pass — shuffles once on
    ``on`` and scales linearly; the naive non-equi join alternative is
    O(|L|·|R|) per key and unusable at 100 TB.

    Right-side payload columns must not collide with left columns
    (rename before calling). Ties at equal timestamps resolve to the
    right row (matching ``t >= t_right`` asof semantics).
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in keys and c != right_time]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    collisions = set(payload) & set(left.columns)
    if collisions:
        raise ValueError(
            f"right payload columns collide with left columns: "
            f"{sorted(collisions)}; rename the right side before asof_join"
        )

    l_tagged = left.withColumn("__t", F.col(left_time)).withColumn(
        "__is_right", F.lit(0)
    )
    for c in payload:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    r_tagged = right.withColumn("__t", F.col(right_time)).withColumn(
        "__is_right", F.lit(1)
    )
    for c in left.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    cols = keys + ["__t", "__is_right"] + payload + [
        c for c in left.columns if c not in keys and c != "__t"
    ]
    unioned = l_tagged.select(*cols).unionByName(r_tagged.select(*cols))

    t_order = F.col("__t").asc() if direction == "backward" else F.col("__t").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(t_order, F.col("__is_right").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = [F.last(c, ignorenulls=True).over(w).alias(c) for c in payload]

    # select the carried payload BY NAME after the window pass —
    # re-selecting the window Column objects would plan a second
    # Window+Sort over the filtered output
    return (
        unioned.select(*[c for c in unioned.columns if c not in payload], *carried)
        .filter(F.col("__is_right") == 0)
        .select(*left.columns, *payload)
    )


def range_join(
    fact: DataFrame,
    tiers: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Join a fact to a (small) tier/tariff table on
    ``lo <= value < hi``. Output is the fact's columns followed by the
    tier's; rows matching no tier are dropped (inner-join semantics).

    The tier table is collected at plan time and its ranges picked the
    path:

    - disjoint tiers (the tariff-table norm): compile a CASE-WHEN
      bucketing expression, then emit each tier column as a CASE on
      the bucket index (literals cast to the tier schema's types). No
      join at all: the probe stays inside whole-stage codegen — a
      BroadcastNestedLoopJoin with a range predicate evaluates
      row-at-a-time and measured ~10× slower on a 600k-row fact;
    - overlapping tiers: the first-match CASE would assign ONE tier
      where inner-join semantics produce a row per match, so these
      fall back to the general non-equi join, broadcasting the tier
      side (one output row per matching tier).
    """
    rows = tiers.collect()  # tier table is dim-sized by contract
    if not rows:
        # empty tariff → empty inner-join result with the joined schema
        return fact.filter(F.lit(False)).crossJoin(tiers)
    by_lo = sorted(rows, key=lambda r: (r[lo_col], r[hi_col]))
    if any(b[lo_col] < a[hi_col] for a, b in zip(by_lo, by_lo[1:])):
        cond = (F.col(value_col) >= F.col(lo_col)) & (
            F.col(value_col) < F.col(hi_col)
        )
        return fact.join(F.broadcast(tiers), cond, "inner")
    expr = None
    for i, r in enumerate(rows):
        hit = (F.col(value_col) >= F.lit(r[lo_col])) & (
            F.col(value_col) < F.lit(r[hi_col])
        )
        expr = F.when(hit, i) if expr is None else expr.when(hit, i)
    bucket = F.col("__tier_idx")

    def tier_value(j: int, field) -> Column:
        out = None
        for i, r in enumerate(rows):
            v = F.lit(r[j]).cast(field.dataType)
            out = F.when(bucket == i, v) if out is None else out.when(bucket == i, v)
        return out.alias(field.name)

    return (
        fact.withColumn("__tier_idx", expr)
        .filter(bucket.isNotNull())
        .select("*", *(tier_value(j, f) for j, f in enumerate(tiers.schema.fields)))
        .drop("__tier_idx")
    )
