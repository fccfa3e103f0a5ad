"""Event-time window query family over ``events`` — the batch analogs
of the streaming G7 semantics (SURVEY.md §2.G): tumbling, sliding and
session windows, plus content-based/round-robin routing assignment
(§2.F F1/F3) expressed declaratively.

``window_tumbling`` is built on the streaming builder
``streaming.windows.tumbling_agg``, so the batch query and the stream
share one plan; Catalyst drops the watermark from a batch plan, and
batch execution here is what makes the builder oracle-checkable. The
sliding and session windows are batch-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import load_table
from etl_work_flow_for_big_data_spark.operators.transforms import hash_bucket
from etl_work_flow_for_big_data_spark.queries import query
from etl_work_flow_for_big_data_spark.streaming.windows import tumbling_agg

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "window_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2)     AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="G7 tumbling event-time window (1h): Spark window() aligns to "
    "epoch, so 1h-tumbling == date_trunc('hour') in the oracle. "
    "Built on the streaming tumbling_agg; its withWatermark is dropped "
    "from the batch plan. NULL-ts "
    "events are windowless: Spark's window() drops them implicitly; "
    "the oracle filters explicitly.",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(ev, keys=["event_type"]).select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "window_sliding",
    """
    SELECT strftime(date_trunc('hour', ts) - INTERVAL (o.off) HOUR,
                    '%Y-%m-%d %H:%M:%S')  AS window_start,
           CAST(COUNT(*) AS BIGINT)       AS n_events,
           ROUND(SUM(value), 2)           AS total_value
    FROM events, (VALUES (0), (1)) AS o(off)
    WHERE ts IS NOT NULL
    GROUP BY 1
    ORDER BY window_start
    """,
    doc="G7 sliding window (2h size, 1h slide): each event lands in two "
    "windows with starts date_trunc(hour,ts) and -1h; oracle expands "
    "via a 2-row lateral VALUES. NULL-ts events are windowless (see "
    "window_tumbling).",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "window_session",
    """
    WITH gaps AS (
      -- rn is computed in the SAME window pass as LAG (identical OVER
      -- spec, one sort), then the cumulative sum below orders by rn —
      -- a UNIQUE key. Ordering the second pass by the non-unique ts
      -- made the oracle nondeterministic on duplicate (user_id, ts)
      -- rows over multi-file scans: the two passes could order the
      -- tied peers differently, splitting one session into two (fuzz
      -- seed 100002, drift+dupstorm — count flipped 31/32 run to run).
      -- Full-row duplicates make any SINGLE consistent tie order yield
      -- the same sessions; rn pins that consistency.
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
      WHERE ts IS NOT NULL
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S')                       AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')  AS session_end,
           CAST(COUNT(*) AS BIGINT)                                     AS n_events,
           ROUND(SUM(value), 2)                                         AS total_value
    FROM sess
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    doc="G7 session window (30-min gap): Spark session_window() per "
    "user; oracle is the classic gaps-and-islands SQL. Session end = "
    "last event + gap (both sides). Streaming twin is the same groupBy "
    "with a watermark; state per (user, open session) only.",
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            F.date_format("w.end", _TS_FMT).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "route_assign",
    """
    SELECT event_id,
           event_type AS route,
           CAST(CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4)
                     AS INT) % 3 AS BIGINT) AS rr_slot
    FROM events
    ORDER BY event_id
    """,
    doc="F1+F3 routing as data: content-based route key (the 't' "
    "demux, MFramework.cpp:1372-1377) + load-balanced slot within "
    "route (producer index cycling, MFramework.cpp:1565-1571). r14 "
    "(VERDICT r13 #3): the slot is a deterministic md5 hash of the "
    "event id — the r13 per-route row_number funneled each route's "
    "ENTIRE history through one task (partition-by with 5 distinct "
    "routes), the exact single-key funnel the repo engineered around "
    "in sample_quota and pack_sequences_bucketed. A hash slot keeps "
    "the same contract the reference's cycling producer index "
    "delivers — uniform distribution over n slots, stable per record "
    "— while staying map-only (zero Exchange, plan-asserted); the "
    "oracle mirrors the md5 16-bit prefix exactly. The physical twin "
    "is df.write.partitionBy(route) / repartition(n).",
)
def route_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_type").alias("route"),
        hash_bucket(F.col("event_id"), 3).cast("long").alias("rr_slot"),
    )


@query(
    "ts_gapfill",
    """
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
         types AS (SELECT DISTINCT event_type FROM events),
         grid AS (SELECT event_type,
                         unnest(generate_series((SELECT lo FROM b),
                                                (SELECT hi FROM b),
                                                INTERVAL 1 HOUR)) AS hour
                  FROM types),
         agg AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                        CAST(count(*) AS BIGINT) AS n,
                        ROUND(sum(value), 2)     AS sv
                 FROM events GROUP BY 1, 2)
    SELECT g.event_type,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S')  AS hour_ts,
           CAST(COALESCE(a.n, 0) AS BIGINT)       AS n_events,
           COALESCE(a.sv, 0.0)                    AS sum_value,
           ROUND(last_value(a.sv IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                                                  AS ffill_sum
    FROM grid g
    LEFT JOIN agg a ON g.event_type = a.event_type AND g.hour = a.hour
    """,
    doc="G7/E hypertable-rollup gap-fill: dense hourly grid per series "
    "(generate_series x distinct types — no crossJoin, the grid is "
    "types x hours by construction), hourly rollup LEFT-joined on, "
    "zero-fill counts, forward-fill sums (last IGNORE NULLS window). "
    "At 100 TB: the rollup is a partial+final hash agg at (type, hour) "
    "cardinality; the grid side is tiny by definition; one window "
    "shuffle on the series key. Empty leading cells stay NULL in "
    "ffill_sum on both engines.",
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    ).collect()[0]  # 1-row bounds: plan-time scalar by contract
    if b["lo"] is None or b["hi"] is None:
        # Empty events (or every ts NULL): the dense grid min..max is
        # empty by definition. Return a 0-row frame with the contract
        # schema instead of letting sequence(NULL, NULL, interval)
        # fail analysis — the oracle agrees (duck's unnest(
        # generate_series(NULL, NULL, ...)) yields no rows). Found by
        # the r8 tiny-cardinality fuzz axis; at scale this is the
        # partition-pruned-to-nothing read, not a corner case.
        return spark.createDataFrame(
            [],
            "event_type string, hour_ts string, n_events bigint, "
            "sum_value double, ffill_sum double",
        )
    # Dense-grid span guard: the grid is min..max ts BY CONTRACT, so a
    # single corrupt outlier timestamp (one 1901 row in a 2024 table)
    # would silently multiply the output by centuries of empty hours —
    # per event_type, as one F.sequence array. Fail with the actual
    # bounds instead of OOMing mid-job; callers gapfilling dirty data
    # should pre-filter to the intended range. 500k hours ≈ 57 years.
    span_hours = (b["hi"] - b["lo"]).total_seconds() / 3600
    if span_hours > 500_000:
        raise ValueError(
            f"ts_gapfill: hourly grid would span {span_hours:.0f} hours "
            f"({b['lo']} .. {b['hi']}); an outlier timestamp is almost "
            "certainly polluting the bounds — filter events.ts to the "
            "intended range before gapfilling"
        )
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(b["lo"]), F.lit(b["hi"]), F.expr("INTERVAL 1 HOUR")
                )
            ).alias("hour"),
        )
    )
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.date_format("hour", _TS_FMT).alias("hour_ts"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("sv", F.lit(0.0)).alias("sum_value"),
            F.round(F.last("sv", ignorenulls=True).over(w), 2).alias(
                "ffill_sum"
            ),
        )
    )
