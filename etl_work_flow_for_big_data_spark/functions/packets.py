"""Packet wire-format functions — the reference's DataMap semantics.

The reference's inter-stage record is a ``multimap<char, string>``
serialized as newline-separated ``k=value`` lines
(``/root/reference/MFramework.cpp:1234-1243`` parse,
``:1552-1560`` serialize). Observable quirks we preserve exactly:

- a line is a valid entry iff it has ``=`` at offset 1; the key is the
  single char at offset 0; the value is everything from offset 2 and
  may itself contain ``=`` (``MFramework.cpp:1237-1239``);
- duplicate keys are allowed (multimap); iteration — hence serialized
  order — is key-sorted, insertion-ordered within equal keys
  (std::multimap semantics);
- each serialized entry ends with ``\\n``, including the last
  (``MFramework.cpp:1552-1560``).

Log-level decode follows ``LoggerWriter.cpp:182-205``; the bit values
of ``d_log_level_*`` are not in the repo (headers absent) but the
"clamp else 31" default (``MFramework.cpp:535-540``) pins
info..error = 1,2,4,8,16 and alert = 32.

This module is the only one that knows the wire format. Besides the
parser and serializers it holds the line framing of the one-packet-
per-line transports (``kv_text`` files, single-line kafka bodies):
``check_sep`` for the substitute separator, ``unframe_line`` for the
readers and ``frame_map`` — the serializer behind one in-row guard —
for ``write_kv_text`` and ``kafka_wire_frame``. The control plane's
packets are parsed on the driver by ``wire_entries``, the Python twin
of the Catalyst parser over the same entry pattern.

The Column functions are pure Catalyst expressions (no Python UDFs).
The parser (two ``regexp_extract_all`` over one entry regex) and the
log-level functions whole-stage-codegen; the serializers sort and join
through higher-order functions (``transform``/``array_sort`` lambdas),
which Spark evaluates interpreted inside the generated stage.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: level bit → letter (LoggerWriter.cpp:182-205)
LOG_LEVELS = {1: "I", 2: "D", 4: "W", 8: "C", 16: "E", 32: "A"}
DEFAULT_GLOBAL_MASK = 31  # MFramework.cpp:535-540

#: One wire entry: single-char key at a line start, ``=``, value,
#: TERMINATING ``\n`` — an unterminated tail is dropped, like the
#: reference's find-loop (MFramework.cpp:1234-1243). Spark compiles it
#: with ``(?md)`` and Python ``re`` with ``re.M``; in both only ``\n``
#: ends a line for ``.`` and ``^``, so ``\r``/``\u0085``/``\u2028`` stay
#: in keys and values.
_ENTRY = r"^(.)=([^\n]*)\n"
_ENTRY_RE = re.compile(_ENTRY, re.M)


def _entry_parts(payload: Column) -> tuple[Column, ...]:
    return tuple(F.regexp_extract_all(payload, F.lit("(?md)" + _ENTRY), g) for g in (1, 2))


def wire_entries(payload: str) -> list[tuple[str, str]]:
    """Parse one wire packet on the driver: the ``(key, value)``
    entries in arrival order, exactly what :func:`packet_entries`
    yields for the same text."""
    return _ENTRY_RE.findall(payload)


def check_sep(sep: str) -> str:
    """Validate the substitute entry separator of a one-packet-per-line
    transport. The line swaps ``sep`` and ``\\n`` one for one, so ``sep``
    is one character, and it is neither ``=`` nor ``\\n`` (either would
    fuse with the entry syntax and lose entries silently)."""
    if len(sep) != 1 or sep in "=\n":
        raise ValueError(
            f"sep must be exactly one character other than '=' and newline, got {sep!r}"
        )
    return sep


def unframe_line(line: Column, sep: str) -> Column:
    """One packet per line → wire text. The line terminator the text
    reader stripped WAS the final entry's terminator, so it is restored;
    the parser then consumes only terminated entries, like the
    reference's find-loop."""
    return F.concat(F.replace(line, F.lit(check_sep(sep)), F.lit("\n")), F.lit("\n"))


def packet_entries(payload: Column) -> Column:
    """Parse ``k=value`` wire text into an array<struct<key,value>>,
    preserving duplicates and arrival order (the faithful multimap)."""
    keys, values = _entry_parts(payload)
    return F.arrays_zip(keys.alias("key"), values.alias("value"))


def packet_map(payload: Column) -> Column:
    """Parse wire text to map<string,string>. Duplicate keys collapse
    to the LAST occurrence (deterministic; documented deviation from
    the reference's multimap, which keeps all — use
    :func:`packet_entries` when duplicates matter).

    Relies on ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by
    ``tune_session``) so the map build is one pass over the entries."""
    return F.map_from_arrays(*_entry_parts(payload))


def packet_get(payload_map: Column, key: str) -> Column:
    """``element_at`` with absent→NULL (the reference's find()==end())."""
    return F.element_at(payload_map, F.lit(key))


def serialize_entries(entries: Column) -> Column:
    """Serialize entries back to wire text in std::multimap iteration
    order: key-ascending, insertion-ordered within equal keys; every
    entry (including the last) newline-terminated
    (MFramework.cpp:1552-1560)."""
    indexed = F.transform(
        entries,
        lambda e, i: F.struct(e["key"].alias("key"), e["value"].alias("value"), i.alias("idx")),
    )
    ordered = F.array_sort(
        indexed,
        lambda a, b: F.when(a["key"] < b["key"], -1)
        .when(a["key"] > b["key"], 1)
        .when(a["idx"] < b["idx"], -1)
        .otherwise(1),
    )
    body = F.array_join(
        F.transform(ordered, lambda e: F.concat(e["key"], F.lit("="), e["value"], F.lit("\n"))),
        "",
    )
    return body


def serialize_map(payload_map: Column) -> Column:
    """Serialize a map column to wire text (key-sorted)."""
    return serialize_entries(F.map_entries(payload_map))


def frame_map(payload_map: Column, sep: str | None) -> Column:
    """Serialize a map column for a transport: raw multi-line wire text
    when ``sep`` is None, else one line with ``sep`` for each ``\\n``.

    A key or value holding ``\\n`` (or ``sep``) would split into bogus
    entries on the far side, and a NULL value has no spelling on the
    wire (its entry would vanish), so such a row fails IN-ROW, inside
    the write's own pass (a filter+count pre-scan would read the input
    twice), naming the offending keys. ``check_sep`` keeps ``sep``
    apart from ``=`` and ``\\n``, so a ``sep`` on the line can only come
    from a key or value, which is what the guard reads."""
    what = "a raw newline"
    if sep is not None:
        what += f" or the separator {check_sep(sep)!r}"

    def holds_break(c: Column) -> Column:
        hit = F.instr(c, "\n") > 0
        return hit if sep is None else hit | (F.instr(c, sep) > 0)

    def bad_value(v: Column) -> Column:
        return v.isNull() | holds_break(v)

    # the test reads the map's own key and value arrays; the filtered
    # map is built only for the message of a failing row
    clash = F.exists(F.map_keys(payload_map), holds_break) | F.exists(
        F.map_values(payload_map), bad_value
    )
    bad = F.map_filter(payload_map, lambda k, v: holds_break(k) | bad_value(v))
    wire = serialize_map(payload_map)
    text = wire if sep is None else F.replace(wire, F.lit("\n"), F.lit(sep))
    return F.when(
        clash,
        F.raise_error(
            F.concat(
                F.lit(
                    f"{what} occurs inside a packet key or value, where it "
                    "would split the entry on the wire, or a value is NULL, "
                    "which the wire cannot spell; offending keys: "
                ),
                F.concat_ws(",", F.map_keys(bad)),
            )
        ).cast("string"),
    ).otherwise(text)


def bitmask_admit(level: Column, global_mask: int = DEFAULT_GLOBAL_MASK) -> Column:
    """Log-admission predicate ``global_mask & level != 0``
    (LoggerWriter.cpp:178)."""
    return level.bitwiseAND(F.lit(global_mask)) != 0


def decode_level(level: Column) -> Column:
    """Level bit → letter I/D/W/C/E/A, else N (LoggerWriter.cpp:182-205)."""
    expr = None
    for bit, letter in LOG_LEVELS.items():
        cond = F.when(level == bit, letter)
        expr = cond if expr is None else expr.when(level == bit, letter)
    return expr.otherwise("N")
