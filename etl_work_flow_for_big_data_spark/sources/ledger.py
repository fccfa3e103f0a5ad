"""File-granularity processing ledger for batch ingest — the
FWorkCheckpoint analog (G2).

The reference creates a zero-byte marker file named after each input
file when its first packet arrives (``Dir1``,
``/root/reference/MFramework.cpp:1286-1302``) and copies ``Dir1`` to a
backup ``Dir2`` before a session (re)starts (``:886-903``) — a
crash-recovery ledger at file granularity. This module reproduces
those semantics for batch jobs over a landing zone:

- a file is processed at most once (marker exists ⇒ skipped);
- the marker is written only AFTER the batch for that file commits,
  so a crash mid-batch reprocesses the file (at-least-once per file;
  pair with idempotent sinks for exactly-once, same as the reference);
- ``backup()``/``restore()`` mirror the Dir1→Dir2 copy, letting an
  operator roll the ledger back to the last known-good state.

Streaming jobs should prefer ``checkpointLocation`` (offset log); this
ledger is for the reference's batch collection pattern (prerating/
gsmrating over collected CDR files).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class FileLedger:
    """Marker-file once-only ledger with Dir1 (live) / Dir2 (backup)
    — the literal FWorkCheckpoint semantics: mark before process,
    back up on success, restore Dir2→Dir1 on rollback
    (MFramework.cpp:1286-1302, :886-903)."""

    def __init__(self, ledger_dir: str) -> None:
        self.dir1 = os.path.join(ledger_dir, "Dir1")
        self.dir2 = os.path.join(ledger_dir, "Dir2")
        os.makedirs(self.dir1, exist_ok=True)
        os.makedirs(self.dir2, exist_ok=True)

    # -- marker ops (MFramework.cpp:1286-1302) -------------------------
    def is_done(self, filename: str) -> bool:
        return os.path.exists(os.path.join(self.dir1, os.path.basename(filename)))

    def mark_done(self, filename: str) -> None:
        # zero-byte marker named after the input file, as the reference
        open(os.path.join(self.dir1, os.path.basename(filename)), "w").close()

    def done_files(self) -> set[str]:
        return set(os.listdir(self.dir1))

    # -- Dir1 -> Dir2 backup/restore (MFramework.cpp:886-903) ----------
    def backup(self) -> None:
        shutil.rmtree(self.dir2, ignore_errors=True)
        shutil.copytree(self.dir1, self.dir2)

    def restore(self) -> None:
        shutil.rmtree(self.dir1, ignore_errors=True)
        shutil.copytree(self.dir2, self.dir1)


def process_incremental(
    spark: SparkSession,
    landing_dir: str,
    ledger: FileLedger,
    process: Callable[[DataFrame, str], None],
    fmt: str = "text",
    **read_opts,
) -> list[str]:
    """Process each new file in the landing zone exactly once.

    Lists the landing dir, skips files with markers, runs ``process``
    per file (receiving the file's DataFrame and its path), and marks
    the file done only after ``process`` returns — a crash leaves no
    marker, so the file is retried next run. The reference's Dir1→Dir2
    recovery copy is taken before anything is touched.
    Returns the files processed this run (in sorted order, so runs are
    deterministic).
    """
    ledger.backup()
    from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT

    processed = []
    for fname in sorted(os.listdir(landing_dir)):
        path = os.path.join(landing_dir, fname)
        if not os.path.isfile(path) or ledger.is_done(fname):
            continue
        df = DEFAULT.read(spark, fmt, path, **read_opts)
        process(df, path)
        ledger.mark_done(fname)
        processed.append(fname)
    return processed
