"""Unit + property tests for the packet wire format — pins the
reference's observable parser semantics
(/root/reference/MFramework.cpp:1234-1243, :1552-1560):
single-char keys, '=' at offset 1, values may contain '=', duplicate
keys kept in key-sorted insertion-stable order, trailing newline.
"""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.functions.packets import (
    DEFAULT_GLOBAL_MASK,
    LOG_LEVELS,
    bitmask_admit,
    decode_level,
    packet_entries,
    packet_get,
    packet_map,
    serialize_entries,
    serialize_map,
    wire_entries,
)


def _parse_one(spark, payload: str) -> list[tuple[str, str]]:
    df = spark.createDataFrame([(payload,)], "payload string")
    row = df.select(packet_entries(F.col("payload")).alias("e")).head()
    return [(e["key"], e["value"]) for e in row["e"]]


def _map_one(spark, payload: str) -> dict:
    df = spark.createDataFrame([(payload,)], "payload string")
    return df.select(packet_map(F.col("payload")).alias("m")).head()["m"]


def _serialize(spark, entries: list[tuple[str, str]]) -> str:
    df = spark.createDataFrame([(entries,)], "e array<struct<key:string,value:string>>")
    return df.select(serialize_entries(F.col("e")).alias("s")).head()["s"]


class TestParse:
    def test_basic(self, spark):
        assert _parse_one(spark, "s=42\nf=a.cdr\n") == [("s", "42"), ("f", "a.cdr")]

    def test_value_keeps_equals(self, spark):
        # MFramework.cpp:1237-1239 — value = substr(2), '=' inside kept
        assert _parse_one(spark, "x=a=b=c\n") == [("x", "a=b=c")]

    def test_invalid_lines_skipped(self, spark):
        # no '=' at offset 1 → not an entry
        assert _parse_one(spark, "ab=1\n=x\nz\n\ns=1\n") == [("s", "1")]

    def test_empty_value(self, spark):
        assert _parse_one(spark, "k=\n") == [("k", "")]

    def test_duplicates_preserved_in_entries(self, spark):
        assert _parse_one(spark, "d=1\nd=2\n") == [("d", "1"), ("d", "2")]

    def test_map_last_wins(self, spark):
        assert dict(_map_one(spark, "d=1\nd=2\ns=9\n")) == {"d": "2", "s": "9"}

    def test_trailing_partial_entry_dropped(self, spark):
        # the reference's find-loop consumes only separator-TERMINATED
        # entries (MFramework.cpp:1234-1243): a trailing segment with no
        # final newline is a partial entry and must be dropped, even if
        # it happens to look like k=v (ADVICE r1, packets.py)
        assert _parse_one(spark, "s=1\nf=partial") == [("s", "1")]
        assert _parse_one(spark, "s=1") == []
        assert _parse_one(spark, "") == []

    def test_missing_key_null(self, spark):
        df = spark.createDataFrame([("s=1\n",)], "payload string")
        row = df.select(packet_get(packet_map(F.col("payload")), "f").alias("f")).head()
        assert row["f"] is None


class TestSerialize:
    def test_multimap_order(self, spark):
        # key-ascending; insertion-stable within equal keys; every entry
        # newline-terminated (MFramework.cpp:1552-1560)
        out = _serialize(spark, [("t", "x"), ("d", "first"), ("s", "1"), ("d", "second")])
        assert out == "d=first\nd=second\ns=1\nt=x\n"

    def test_empty(self, spark):
        assert _serialize(spark, []) == ""

    def test_map_roundtrip(self, spark):
        df = spark.createDataFrame([({"s": "1", "f": "a"},)], "m map<string,string>")
        assert df.select(serialize_map(F.col("m")).alias("s")).head()["s"] == "f=a\ns=1\n"


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(string.ascii_lowercase),
            st.text(
                alphabet=string.ascii_letters + string.digits + "=.|,-_ ",
                max_size=12,
            ),
        ),
        max_size=8,
    )
)
def test_roundtrip_parse_serialize(entries):
    """parse(serialize(entries)) == multimap-sorted entries (property)."""
    spark = _SPARK[0]
    wire = _serialize(spark, entries)
    expected = sorted(
        [(k, v) for i, (k, v) in enumerate(entries)],
        key=lambda kv: kv[0],
    )
    # stable sort by key == std::multimap iteration order
    import functools

    expected = sorted(
        list(enumerate(entries)), key=functools.cmp_to_key(
            lambda a, b: (a[1][0] > b[1][0]) - (a[1][0] < b[1][0]) or (a[0] > b[0]) - (a[0] < b[0])
        )
    )
    expected = [kv for _, kv in expected]
    assert _parse_one(spark, wire) == expected


_SPARK = []


@pytest.fixture(autouse=True)
def _capture_spark(spark):
    if not _SPARK:
        _SPARK.append(spark)
    yield


class TestLogLevels:
    def test_decode_all(self, spark):
        rows = spark.createDataFrame(
            [(b,) for b in [1, 2, 4, 8, 16, 32, 64, 0]], "lvl int"
        ).select("lvl", decode_level(F.col("lvl")).alias("letter")).collect()
        got = {r["lvl"]: r["letter"] for r in rows}
        assert got == {**LOG_LEVELS, 64: "N", 0: "N"}

    def test_bitmask_truth_table(self, spark):
        # LoggerWriter.cpp:178 with default global mask 31
        rows = (
            spark.createDataFrame([(b,) for b in [1, 2, 4, 8, 16, 32, 64]], "lvl int")
            .select("lvl", bitmask_admit(F.col("lvl"), DEFAULT_GLOBAL_MASK).alias("ok"))
            .collect()
        )
        got = {r["lvl"]: r["ok"] for r in rows}
        assert got == {1: True, 2: True, 4: True, 8: True, 16: True, 32: False, 64: False}


class TestShingleEdges:
    """Short-document shingle semantics (regression: docs with < k
    tokens used to hit Spark's descending sequence + slice(0) crash)."""

    def test_short_docs_yield_empty(self, spark):
        from etl_work_flow_for_big_data_spark.functions.text import shingles

        edge = spark.createDataFrame(
            [("a b",), ("a b c d e",), ("a b c d e f",), ("",), ("   ",)],
            "text string",
        )
        rows = edge.select("text", shingles(F.col("text"), 5).alias("s")).collect()
        got = {r["text"]: list(r["s"]) for r in rows}
        assert got["a b"] == []
        assert got[""] == []
        assert got["   "] == []
        assert got["a b c d e"] == ["a b c d e"]
        assert got["a b c d e f"] == ["a b c d e", "b c d e f"]


def _reference_find_loop(payload: str) -> list[tuple[str, str]]:
    """Pure-Python simulation of the reference parser
    (MFramework.cpp:1234-1243): consume separator-TERMINATED segments
    with a find-loop; an entry is any segment with '=' at offset 1;
    the value is substr(2) (embedded '=' kept); everything else —
    including a trailing non-terminated segment — is skipped."""
    out = []
    start = 0
    while (end := payload.find("\n", start)) != -1:
        seg = payload[start:end]
        if len(seg) >= 2 and seg[1] == "=":
            out.append((seg[0], seg[2:]))
        start = end + 1
    return out


@settings(max_examples=30, deadline=None)
@given(
    st.text(
        alphabet=string.ascii_lowercase + string.digits + "=|.\n ",
        max_size=60,
    )
)
def test_parser_matches_reference_find_loop(payload):
    """For ARBITRARY payloads (valid entries, junk, embedded '=',
    empty segments, missing terminators), the Catalyst parser produces
    exactly what the reference's find-loop would — byte-for-byte wire
    fidelity as a property, not just on curated cases. The driver-side
    parse (``wire_entries``, the control plane's) agrees too."""
    spark = _SPARK[0]
    assert _parse_one(spark, payload) == _reference_find_loop(payload)
    assert wire_entries(payload) == _reference_find_loop(payload)


_WIDE_ALPHABET = string.ascii_lowercase + string.digits + "=|.\n \r\u0085\u2028\u00e9\U0001F600"
#: payloads over the wide alphabet, assembled from short runs so that
#: an ``x=`` right after a ``\r``/``\u0085``/``\u2028`` is common
_WIDE_PAYLOAD = st.lists(
    st.one_of(st.sampled_from(_WIDE_ALPHABET), st.text(alphabet=_WIDE_ALPHABET, max_size=6))
    .flatmap(lambda run: st.sampled_from([run, run + "=", run + "\n"])),
    max_size=12,
).map("".join)


@settings(max_examples=30, deadline=None)
@given(st.lists(_WIDE_PAYLOAD, min_size=1, max_size=20))
def test_packet_map_matches_reference_find_loop_last_wins(payloads):
    """``packet_map`` is the reference find-loop collapsed last-wins,
    also when values and keys hold the characters a regex could take
    for line terminators (``\\r``, ``\\u0085``, ``\\u2028``) or
    multi-byte and non-BMP code points: only ``\\n`` ends an entry.
    Each example parses a batch of payloads in one job."""
    df = _SPARK[0].createDataFrame([(i, p) for i, p in enumerate(payloads)], "i int, payload string")
    rows = df.select("i", packet_map(F.col("payload")).alias("m")).collect()
    got = {r["i"]: r["m"] for r in rows}
    want = [dict(_reference_find_loop(p)) for p in payloads]
    assert [got[i] for i in range(len(payloads))] == want
    assert [dict(wire_entries(p)) for p in payloads] == want
