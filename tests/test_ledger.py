"""File-ledger tests (G2 batch side — FWorkCheckpoint semantics:
marker-per-file, at-most-once processing, crash retry, Dir1→Dir2
backup/restore; /root/reference/MFramework.cpp:1286-1302, :886-903)."""

from __future__ import annotations

import pytest

from etl_work_flow_for_big_data_spark.sources.ledger import (
    FileLedger,
    process_incremental,
)


@pytest.fixture
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "a.cdr").write_text("s=1|t=rating\n")
    (d / "b.cdr").write_text("s=2|t=billing\n")
    return d


def test_each_file_processed_once(spark, landing, tmp_path):
    ledger = FileLedger(str(tmp_path / "ledger"))
    seen = []
    run = lambda: process_incremental(
        spark, str(landing), ledger, lambda df, p: seen.append((p, df.count())), fmt="kv_text"
    )
    assert run() == ["a.cdr", "b.cdr"]
    assert [c for _, c in seen] == [1, 1]
    # second run: everything skipped
    assert run() == []
    # new file arrives: only it is processed
    (landing / "c.cdr").write_text("s=3\n")
    assert run() == ["c.cdr"]
    assert ledger.done_files() == {"a.cdr", "b.cdr", "c.cdr"}


def test_crash_midway_retries_unmarked_file(spark, landing, tmp_path):
    ledger = FileLedger(str(tmp_path / "ledger"))
    calls = []

    def explode_on_b(df, path):
        if path.endswith("b.cdr"):
            raise RuntimeError("executor lost")
        calls.append(path)

    with pytest.raises(RuntimeError):
        process_incremental(spark, str(landing), ledger, explode_on_b, fmt="kv_text")
    # a.cdr committed + marked; b.cdr has no marker -> retried next run
    assert ledger.done_files() == {"a.cdr"}
    done = process_incremental(
        spark, str(landing), ledger, lambda df, p: calls.append(p), fmt="kv_text"
    )
    assert done == ["b.cdr"]


def test_backup_restore_rolls_ledger_back(spark, landing, tmp_path):
    ledger = FileLedger(str(tmp_path / "ledger"))
    process_incremental(spark, str(landing), ledger, lambda df, p: None, fmt="kv_text")
    ledger.backup()
    (landing / "c.cdr").write_text("s=3\n")
    process_incremental(spark, str(landing), ledger, lambda df, p: None, fmt="kv_text")
    assert ledger.done_files() == {"a.cdr", "b.cdr", "c.cdr"}
    # roll back to the pre-c state: c.cdr becomes eligible again
    ledger.restore()
    assert ledger.done_files() == {"a.cdr", "b.cdr"}
    assert process_incremental(
        spark, str(landing), ledger, lambda df, p: None, fmt="kv_text"
    ) == ["c.cdr"]
