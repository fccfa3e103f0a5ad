"""Packet/row-transform query family (SURVEY.md §2.B B1-B8, I6).

The fixture tables carry no wire-format payloads, so each query first
SYNTHESIZES a deterministic ``k=value`` payload column from ``events``
(same construction on the Spark and oracle sides), then exercises the
engine's packet functions on it. The oracle recomputes the expected
field values directly from the source columns — i.e. it checks
``extract ∘ parse ∘ build == project`` as an end-to-end identity.

Edge cases baked into the payload: a missing required key (``s``
absent for every 5th user), a value containing ``=`` (``x=eq=...``),
duplicate keys (serialize query), and an unparseable int (cast query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import load_table
from etl_work_flow_for_big_data_spark.functions.packets import (
    bitmask_admit,
    decode_level,
    packet_entries,
    packet_get,
    packet_map,
    serialize_entries,
)
from etl_work_flow_for_big_data_spark.queries import query

# Shared payload construction (MUST stay in sync with _PAYLOAD_SQL).
# Total on any events fixture (adversarial-parity contract):
# - an event_type embedding the entry terminator chr(10) cannot be
#   framed unambiguously (classic injection: a "t=a\ns=9" value would
#   smuggle entries into the wire frame) → payload NULL;
# - a value whose cents overflow BIGINT (±Inf/NaN/|x|>2^63) serializes
#   via TRY_CAST → NULL cents → payload NULL (ANSI CAST would kill the
#   task on one corrupt record);
# - NULL user_id/event_type propagate NULL through the concat on both
#   engines → payload NULL.
_PAYLOAD_SQL = """
    CASE WHEN event_type LIKE '%' || chr(10) || '%' THEN NULL ELSE
    CASE WHEN user_id % 5 = 0 THEN '' ELSE 's=' || user_id || chr(10) END
    || 'f=file_' || (event_id % 10) || '.cdr' || chr(10)
    || 't=' || event_type || chr(10)
    || 'v=' || TRY_CAST(ROUND(value * 100) AS BIGINT) || chr(10)
    || 'x=eq=' || event_type || chr(10)
    END
"""


def _payload(df: DataFrame) -> DataFrame:
    nl = F.lit("\n")
    cents = F.round(F.col("value") * 100).try_cast("long").cast("string")
    payload = F.concat(
        F.when(
            F.col("user_id") % 5 == 0, F.lit("")
        ).otherwise(F.concat(F.lit("s="), F.col("user_id").cast("string"), nl)),
        F.lit("f=file_"),
        (F.col("event_id") % 10).cast("string"),
        F.lit(".cdr"),
        nl,
        F.lit("t="),
        F.col("event_type"),
        nl,
        F.lit("v="),
        cents,
        nl,
        F.lit("x=eq="),
        F.col("event_type"),
        nl,
    )
    payload = F.when(
        F.col("event_type").contains("\n"), F.lit(None).cast("string")
    ).otherwise(payload)
    return df.withColumn("payload", payload)


@query(
    "parse_kv",
    f"""
    WITH p AS (SELECT event_id, user_id, event_type, value,
                      {_PAYLOAD_SQL} AS payload FROM events)
    SELECT event_id,
           CASE WHEN payload IS NULL THEN NULL
                WHEN user_id % 5 = 0 THEN NULL ELSE user_id END    AS s,
           CASE WHEN payload IS NULL THEN NULL
                ELSE 'file_' || (event_id % 10) || '.cdr' END      AS f,
           CASE WHEN payload IS NULL THEN NULL ELSE event_type END AS t,
           CASE WHEN payload IS NULL THEN NULL
                ELSE TRY_CAST(ROUND(value * 100) AS BIGINT) END    AS v_cents,
           CASE WHEN payload IS NULL THEN NULL
                ELSE 'eq=' || event_type END                       AS x,
           CAST(CASE WHEN payload IS NULL THEN NULL
                     WHEN user_id % 5 = 0 THEN 4 ELSE 5 END AS INT) AS n_entries
    FROM p
    ORDER BY event_id
    """,
    doc="B1 packet parse: k=v wire text → typed fields "
    "(MFramework.cpp:1234-1243; key = offset 0, '=' at offset 1, value "
    "keeps further '='). Pure Catalyst: one entry regex read by two "
    "regexp_extract_all — codegens, no higher-order functions.",
)
def parse_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _payload(load_table(spark, sf_dir, "events"))
    m = packet_map(F.col("payload"))
    return ev.select(
        "event_id",
        packet_get(m, "s").cast("long").alias("s"),
        packet_get(m, "f").alias("f"),
        packet_get(m, "t").alias("t"),
        packet_get(m, "v").cast("long").alias("v_cents"),
        packet_get(m, "x").alias("x"),
        F.size(packet_entries(F.col("payload"))).alias("n_entries"),
    )


@query(
    "serialize_kv",
    """
    SELECT event_id,
           'd=first' || chr(10) || 'd=second' || chr(10)
           || 'f=file_' || (event_id % 10) || '.cdr' || chr(10)
           || CASE WHEN user_id IS NULL THEN ''
                   ELSE 's=' || user_id || chr(10) END
           || CASE WHEN event_type IS NULL THEN ''
                   ELSE 't=' || event_type || chr(10) END          AS payload
    FROM events
    ORDER BY event_id
    """,
    doc="B2 packet serialize: entries → k=v wire text in std::multimap "
    "order (key-ascending, insertion-stable for duplicate keys), every "
    "entry newline-terminated (MFramework.cpp:1552-1560). A NULL-valued "
    "entry is SKIPPED, not nulled through: array_join drops null "
    "elements, exactly a multimap that never held the absent key — the "
    "oracle's per-entry CASEs mirror that.",
)
def serialize_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # deliberately out of key order + a duplicate key, to prove ordering
    entries = F.array(
        F.struct(F.lit("t").alias("key"), F.col("event_type").alias("value")),
        F.struct(F.lit("d").alias("key"), F.lit("first").alias("value")),
        F.struct(F.lit("s").alias("key"), F.col("user_id").cast("string").alias("value")),
        F.struct(F.lit("d").alias("key"), F.lit("second").alias("value")),
        F.struct(
            F.lit("f").alias("key"),
            F.concat(F.lit("file_"), (F.col("event_id") % 10).cast("string"), F.lit(".cdr")).alias(
                "value"
            ),
        ),
    )
    return ev.select(
        "event_id", serialize_entries(entries).alias("payload")
    )


@query(
    "filter_required",
    f"""
    WITH p AS (SELECT event_id, user_id, {_PAYLOAD_SQL} AS payload FROM events)
    SELECT event_id, user_id AS s
    FROM p WHERE regexp_matches(payload, '(^|' || chr(10) || ')s=-?[0-9]+' || chr(10))
    ORDER BY event_id
    """,
    doc="B3 validity filter: drop packets lacking required key 's' "
    "(MFramework.cpp:1245-1250). The validity test runs against the "
    "wire frame (anchored rlike for a TERMINATED NUMERIC 's=' entry, "
    "matching packet_entries' terminated-entries contract and the "
    "downstream long cast) rather than the raw packet_map column: a "
    "filter on it gets pushed through the projection by Catalyst and "
    "re-evaluates the ENTIRE kv-parse per row (measured 2x at sf0.1; "
    "parse_packets avoids this with a generate); the wire-level "
    "predicate is cheap and the parse then runs once, on survivors.",
)
def filter_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _payload(load_table(spark, sf_dir, "events"))
    m = packet_map(F.col("payload"))
    # `s=-?[0-9]+\n`, not `s=`: an UNTERMINATED trailing `s=...` segment
    # is dropped by packet_entries (terminated-entries contract) and a
    # non-numeric s would surface as s=NULL rather than be filtered —
    # the loose prefix test only coincided with parse-then-filter on
    # payloads that are always newline-terminated with numeric s. The
    # optional sign keeps the wire predicate aligned with the long cast
    # (CAST('-3' AS LONG) succeeds) should fixtures grow negative ids.
    return ev.filter(F.col("payload").rlike("(^|\n)s=-?[0-9]+\n")).select(
        "event_id", packet_get(m, "s").cast("long").alias("s")
    )


@query(
    "project_rename",
    f"""
    WITH p AS (SELECT event_id, user_id, event_type, value,
                      {_PAYLOAD_SQL} AS payload FROM events)
    SELECT event_id,
           CAST(user_id AS VARCHAR)              AS s_norm,
           'file_' || (event_id % 10) || '.cdr'  AS fname
    FROM p WHERE regexp_matches(payload, '(^|' || chr(10) || ')s=-?[0-9]+' || chr(10))
    ORDER BY event_id
    """,
    doc="B4 key projection/rewrite: copy map, normalize 's' "
    "(parse-int → restringify), extract 'f' (MFramework.cpp:1264-1273). "
    "The keep-rows-with-parseable-s filter runs on the wire frame "
    "(same terminated-numeric-entry predicate as filter_required): "
    "filtering on the parsed-then-cast column makes Catalyst re-parse "
    "the whole payload per input row in the pushed filter — measured "
    "1.6x at sf0.1.",
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _payload(load_table(spark, sf_dir, "events"))
    m = packet_map(F.col("payload"))
    return ev.filter(F.col("payload").rlike("(^|\n)s=-?[0-9]+\n")).select(
        "event_id",
        packet_get(m, "s").cast("long").cast("string").alias("s_norm"),
        packet_get(m, "f").alias("fname"),
    )


@query(
    "cast_types",
    """
    SELECT event_id,
           TRY_CAST(CASE WHEN event_id % 7 = 0 THEN 'bad'
                         ELSE CAST(user_id AS VARCHAR) END AS BIGINT) AS s_long,
           event_id % 7 <> 0                                          AS is_valid
    FROM events
    ORDER BY event_id
    """,
    doc="B5 typed cast with malformed input: string→int of routing keys "
    "(m_FromString<int>, MFramework.cpp:1276) via try_cast (NULL on junk)",
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s_str = F.when(F.col("event_id") % 7 == 0, F.lit("bad")).otherwise(
        F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        s_str.try_cast("long").alias("s_long"),
        (F.col("event_id") % 7 != 0).alias("is_valid"),
    )


@query(
    "filter_bitmask",
    """
    SELECT event_id,
           CAST((1 << (event_id % 6)) AS INT) AS level
    FROM events
    WHERE ((1 << (event_id % 6)) & 31) <> 0
    ORDER BY event_id
    """,
    doc="B6 bitmask admission: global_level & msg_level "
    "(LoggerWriter.cpp:178); mask 31 admits info..error, drops alert",
)
def filter_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    level = F.expr("shiftleft(1, CAST(event_id % 6 AS INT))")
    return (
        ev.select("event_id", level.cast("int").alias("level"))
        .filter(bitmask_admit(F.col("level")))
    )


@query(
    "case_map",
    """
    SELECT event_id,
           CAST((1 << (event_id % 7)) AS INT) AS level,
           CASE (1 << (event_id % 7))
             WHEN 1  THEN 'I' WHEN 2  THEN 'D' WHEN 4 THEN 'W'
             WHEN 8  THEN 'C' WHEN 16 THEN 'E' WHEN 32 THEN 'A'
             ELSE 'N' END                     AS level_letter
    FROM events
    ORDER BY event_id
    """,
    doc="B7 enum decode: level bit → I/D/W/C/E/A/N "
    "(LoggerWriter.cpp:182-205; %7 yields 64 → 'N' default branch)",
)
def case_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    level = F.expr("shiftleft(1, CAST(event_id % 7 AS INT))").cast("int")
    return ev.select(
        "event_id", level.alias("level"), decode_level(level).alias("level_letter")
    )


@query(
    "scalar_string_date",
    """
    SELECT o_orderkey,
           substring(o_orderpriority, 1, 1)                          AS prio_code,
           COALESCE(position('URGENT' IN o_orderpriority) > 0, FALSE) AS is_urgent,
           upper(o_orderstatus) || '-' || lower(o_orderpriority)     AS tag,
           strftime(o_orderdate, '%Y-%m')                            AS order_month,
           CAST(year(o_orderdate) AS INT)                            AS order_year,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT)
                                                                     AS days_since_epoch,
           ROUND(ABS(o_totalprice - 100000.5), 2)                    AS amt_dev
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="B8 scalar string/date/math suite: substring/instr/concat/case "
    "conversion/date_format/year/datediff/round/abs "
    "(MFramework.cpp:1236,:1559; LoggerWriter.cpp:211)",
)
def scalar_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        # coalesce to FALSE: a NULL priority is "not urgent", and a
        # nullable boolean column changes pandas dtype (bool → object/
        # float) the moment one NULL appears, breaking value-hash
        # comparability for the WHOLE column
        F.coalesce(F.instr("o_orderpriority", "URGENT") > 0, F.lit(False)).alias(
            "is_urgent"
        ),
        F.concat(
            F.upper("o_orderstatus"), F.lit("-"), F.lower("o_orderpriority")
        ).alias("tag"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch"),
        F.round(F.abs(F.col("o_totalprice") - 100000.5), 2).alias("amt_dev"),
    )


@query(
    "parse_json",
    """
    WITH j AS (
      SELECT event_id,
             CASE WHEN json_valid(props)
                  THEN trim(json_extract_string(props, '$.k'),
                            ' ' || chr(9) || chr(10) || chr(13)) END AS ks
      FROM events
    )
    SELECT event_id,
           TRY_CAST(CASE WHEN regexp_matches(ks, '\\A[+-]?[0-9]+\\z')
                         THEN ks END AS INT) AS k,
           TRY_CAST(CASE WHEN regexp_matches(ks, '\\A[+-]?[0-9]+\\z')
                         THEN ks END AS INT) AS k_via_path
    FROM j
    ORDER BY event_id
    """,
    doc="B1/I6 JSON extraction: from_json with schema + get_json_object "
    "path access over events.props. Total on any fixture: malformed "
    "JSON parses to NULL (from_json is lenient; duck json_extract "
    "ERRORS without the json_valid guard) and a non-numeric k is "
    "try_cast → NULL on both sides instead of an ANSI cast error. BOTH "
    "sides gate the cast behind the same btrim(space/tab/LF/CR) + "
    "integer regex, because the engines' raw string→int coercions "
    "genuinely differ in both directions: duck TRY_CAST('12.5') rounds "
    "to 13 and accepts '1e2'/'0x1A'/'.5' where Spark yields NULL, and "
    "Spark's bare try_cast trims the full Java control-char set "
    "(form-feed-wrapped digits) where duck's trim doesn't. The gate "
    "anchors with \\\\A..\\\\z, NOT ^..$: Java's $ matches before a "
    "trailing U+2028/U+2029/U+0085 line terminator (which btrim does "
    "not strip and try_cast then trims as Java whitespace → 12 for "
    "'12\\u2028') while RE2's $ is end-of-string — \\\\A/\\\\z mean "
    "end-of-input with no line-terminator exception in BOTH dialects. "
    "The shared gate matched on a 17-case probe (signs, whitespace, "
    "fractions, scientific, hex, overflow, unicode digits) plus the "
    "U+2028/29/85-terminated variants.",
)
def parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # k STRING + a gated cast, not k INT: from_json with an INT field
    # nulls a JSON-string "12" that the path-extract route (and the
    # oracle's json_extract_string) coerces to 12 — extract-then-cast
    # keeps both columns and the oracle on one coercion rule. The
    # gate (btrim of space/\t/\n/\r, then an integer regex) runs on
    # the SPARK side too, not just the oracle: a bare try_cast trims
    # the full Java control-char set (a form-feed-wrapped '\x0c42'
    # would cast to 42 where the oracle's 4-char trim leaves NULL) —
    # one shared rule, applied verbatim on both engines.
    parsed = F.from_json("props", "k STRING")

    def _int_gate(c):
        t = F.btrim(c, F.lit(" \t\n\r"))
        return F.when(t.rlike(r"\A[+-]?[0-9]+\z"), t).try_cast("int")

    return ev.select(
        "event_id",
        _int_gate(parsed["k"]).alias("k"),
        _int_gate(F.get_json_object("props", "$.k")).alias("k_via_path"),
    )


@query(
    "serialize_json",
    """
    SELECT event_id,
           '{"event_id":' || event_id ||
           CASE WHEN event_type IS NULL THEN ''
                ELSE ',"event_type":' || to_json(event_type)
           END || '}' AS js
    FROM events
    ORDER BY event_id
    """,
    doc="B2 JSON serialization: to_json(struct(...)) — the oracle "
    "mirrors Spark's null-field OMISSION by hand (duck to_json emits "
    "null fields) but delegates string escaping to duck's to_json, "
    "which matched Spark's Jackson escaping on a 14-case probe "
    '(backslash, quote, \\n \\t \\r \\b \\f, \\u00XX control chars '
    "with UPPERCASE hex, raw DEL, multibyte) — a hand replace-chain "
    "covering only the popular five silently diverges on \\b/\\f/"
    "\\u0001-class bytes.",
)
def serialize_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.to_json(F.struct("event_id", "event_type")).alias("js")
    )
