"""Mixed-schema directory datasets — the lake-drift contract.

A 100-TB table is a directory written by many jobs over months:
columns appear over time, an old writer shipped INT32 ids where the
new one ships INT64, field order differs per file. `load_table` must
read that deterministically — missing columns as NULL, integers
widened, order ignored — instead of Spark's default "whichever footer
inference happened to pick" (which can silently drop a column or die
on a narrowing read). The resolution lives in
`catalog._drifted_schema`: by-name widest-type footer union, passed
as an explicit scan schema; single-file and footer-identical
directories keep the default zero-extra-I/O path.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_work_flow_for_big_data_spark.catalog import (
    _drifted_schema,
    load_table,
    table_row_count,
)


@pytest.fixture()
def drifted_dir(tmp_path):
    """documents-shaped dataset, three files with drifted footers:
    canonical / missing-column+reordered / INT32-ids."""
    d = tmp_path / "documents.parquet"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1], pa.int64()),
                "text": pa.array(["alpha beta", "gamma"]),
                "lang": pa.array(["en", "en"]),
                "source": pa.array(["web", "web"]),
                "n_chars": pa.array([10, 5], pa.int64()),
            }
        ),
        str(d / "part-000.parquet"),
    )
    # newer file: 'source' not yet added by that writer, fields reordered
    pq.write_table(
        pa.table(
            {
                "text": pa.array(["delta"]),
                "n_chars": pa.array([5], pa.int64()),
                "doc_id": pa.array([2], pa.int64()),
                "lang": pa.array(["fr"]),
            }
        ),
        str(d / "part-001.parquet"),
    )
    # oldest writer: INT32 ids and counts
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([3], pa.int32()),
                "text": pa.array(["epsilon zeta eta"]),
                "lang": pa.array(["en"]),
                "source": pa.array(["crawl"]),
                "n_chars": pa.array([16], pa.int32()),
            }
        ),
        str(d / "part-002.parquet"),
    )
    return str(tmp_path)


def test_drifted_directory_reads_union_widest(spark, drifted_dir):
    df = load_table(spark, drifted_dir, "documents")
    assert df.schema["doc_id"].dataType.simpleString() == "bigint"
    assert df.schema["n_chars"].dataType.simpleString() == "bigint"
    rows = {r.doc_id: r for r in df.collect()}
    assert set(rows) == {0, 1, 2, 3}
    # missing column → NULL for that file's rows, values elsewhere
    assert rows[2].source is None and rows[0].source == "web"
    # INT32 file widened into the LONG column
    assert rows[3].doc_id == 3 and rows[3].n_chars == 16
    # reordered file's values land in the right columns
    assert rows[2].lang == "fr" and rows[2].n_chars == 5


def test_drifted_read_matches_duckdb_union_by_name(spark, duck, drifted_dir):
    got = {
        tuple(r)
        for r in load_table(spark, drifted_dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(
            f"SELECT doc_id, text, lang, source, n_chars FROM read_parquet("
            f"'{drifted_dir}/documents.parquet/*.parquet', union_by_name=true)"
        ).fetchall()
    }
    assert got == want


def test_single_file_and_uniform_directory_skip_resolution(tmp_path, sf_dir):
    # single file (the driver fixture shape): no resolution
    assert _drifted_schema(os.path.join(sf_dir, "documents.parquet")) is None
    # directory with identical footers: no resolution
    d = tmp_path / "t.parquet"
    d.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"a": pa.array([i], pa.int64())}),
            str(d / f"part-{i:03d}.parquet"),
        )
    assert _drifted_schema(str(d)) is None


def test_nested_directory_drift_is_resolved(tmp_path):
    """Multi-job output layouts nest data files below the top level
    (compaction subfolders, per-batch dirs); a drift seam between
    subdirectories must resolve like a flat one (r10 ADVICE)."""
    d = tmp_path / "t.parquet"
    (d / "batch_a").mkdir(parents=True)
    (d / "batch_b").mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "x": pa.array(["a"])}),
        str(d / "batch_a" / "part-000.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int32())}),
        str(d / "batch_b" / "part-000.parquet"),
    )
    # metadata subdir contents must not participate
    (d / "_delta_log").mkdir()
    pq.write_table(
        pa.table({"poison": pa.array([0], pa.int64())}),
        str(d / "_delta_log" / "part-000.parquet"),
    )
    s = _drifted_schema(str(d))
    assert s is not None
    assert {f.name: f.dataType.simpleString() for f in s.fields} == {
        "id": "bigint",
        "x": "string",
    }


def test_hive_partitioned_layout_bails_to_default_inference(tmp_path):
    """Partition columns live in directory names, not footers — an
    explicit footer-union schema would silently drop them from the
    scan, so `key=value` layouts keep default inference (documented
    limitation; declared schemas are the production answer there)."""
    d = tmp_path / "t.parquet"
    (d / "lang=en").mkdir(parents=True)
    (d / "lang=fr").mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64())}),
        str(d / "lang=en" / "part-000.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int32())}),
        str(d / "lang=fr" / "part-000.parquet"),
    )
    assert _drifted_schema(str(d)) is None


def test_spark_unmappable_union_falls_back(tmp_path):
    """pyarrow can unify schemas whose union Spark cannot map (e.g.
    unsigned ints from a foreign writer); conversion failure must fall
    back to default inference, not raise out of load_table
    (r10 ADVICE)."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.uint64()), "x": pa.array(["a"])}),
        str(d / "part-000.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.uint64())}),
        str(d / "part-001.parquet"),
    )
    assert _drifted_schema(str(d)) is None


def test_drifted_schema_is_deterministic_not_file_order_dependent(tmp_path):
    """The pathology this replaces: default inference picks 'a random
    data file'. The union must not depend on which file drifts first."""
    for flip in (False, True):
        d = tmp_path / f"t{int(flip)}.parquet"
        d.mkdir()
        wide = pa.table({"id": pa.array([1], pa.int64()), "x": pa.array(["a"])})
        narrow = pa.table({"id": pa.array([2], pa.int32())})
        pq.write_table(narrow if flip else wide, str(d / "part-000.parquet"))
        pq.write_table(wide if flip else narrow, str(d / "part-001.parquet"))
        s = _drifted_schema(str(d))
        assert s is not None
        assert {f.name: f.dataType.simpleString() for f in s.fields} == {
            "id": "bigint",
            "x": "string",
        }


def test_hive_layout_inside_metadata_dir_is_ignored(tmp_path):
    """A `key=value` path nested INSIDE a hidden/metadata dir (e.g.
    _delta_log checkpoint layouts) is metadata, not a partitioned
    table — it must not abort drift resolution for the whole directory
    (r11 ADVICE: the hidden-prefix prune now runs before the hive
    test, and os.walk no longer descends hidden subtrees at all)."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "x": pa.array(["a"])}),
        str(d / "part-000.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int32())}),
        str(d / "part-001.parquet"),
    )
    meta = d / "_delta_log" / "part=0"
    meta.mkdir(parents=True)
    pq.write_table(
        pa.table({"poison": pa.array([0], pa.int64())}),
        str(meta / "part-000.parquet"),
    )
    s = _drifted_schema(str(d))
    assert s is not None
    assert {f.name: f.dataType.simpleString() for f in s.fields} == {
        "id": "bigint",
        "x": "string",
    }


def test_row_count_skips_files_the_scan_skips(spark, tmp_path):
    """``table_row_count`` counts what ``load_table`` reads: a leftover
    ``_temporary/`` attempt file (an aborted write) or a hidden file is
    not part of the table, so its rows are not counted."""
    d = tmp_path / "t.parquet"
    (d / "_temporary" / "0").mkdir(parents=True)
    ten = pa.table({"id": pa.array(range(10), pa.int64())})
    pq.write_table(ten, str(d / "part-0.parquet"))
    pq.write_table(ten, str(d / "_temporary" / "0" / "part-9.parquet"))
    pq.write_table(ten, str(d / ".part-8.parquet"))
    assert load_table(spark, str(tmp_path), "t").count() == 10
    assert table_row_count(str(tmp_path), "t") == 10
