"""Exactly-once streaming commits into the snapshot-log table.

Structured Streaming's foreachBatch is at-least-once: after a crash
between the batch write and the checkpoint advance, the same epoch is
REPLAYED. The classic fix is an idempotent sink keyed by epoch id —
here each micro-batch becomes one table version whose manifest records
its epoch, and a replayed epoch is detected and SKIPPED before any
write, so the versioned table sees every micro-batch exactly once.

This is the from-scratch analogue of Iceberg's streaming sink (which
stores the checkpointed batch id in snapshot summary metadata and skips
already-committed batches on restart).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from finetoo_sp_spark.sources.table import (
    CommitConflict,
    _load_manifest,
    _publish,
    current_version,
)


def committed_epochs(path: str) -> set[int]:
    """Epoch ids already committed to the table at ``path``."""
    latest = current_version(path)
    out: set[int] = set()
    for v in range(0, (latest + 1) if latest is not None else 0):
        m = _load_manifest(path, v)
        if "epoch" in m and m["epoch"] is not None:
            out.add(int(m["epoch"]))
    return out


MAX_COMMIT_ATTEMPTS = 64


def versioned_epoch_sink(path: str):
    """foreachBatch callable: commit each micro-batch as one APPEND
    version stamped with its epoch id; replayed epochs are skipped
    before any file is written (exactly-once on restart).

    Concurrent writers (two queries feeding one table, or an old
    executor's zombie attempt racing its replacement) are handled by
    optimistic concurrency: the link-CAS in ``_publish`` admits exactly
    one manifest per version number, and a loser re-reads the log,
    re-checks the epoch marker (another writer may have committed THIS
    epoch — then the data files just written become orphans and the
    replay rule applies), and re-commits on the new parent. This is
    Iceberg's CommitFailedException retry loop, one epoch at a time."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) in committed_epochs(path):
            return  # replay after crash: this epoch is already in the table
        import uuid

        snap_dir = os.path.join(path, "data", uuid.uuid4().hex)
        batch_df.write.mode("error").parquet(snap_dir)
        new_files = sorted(
            os.path.join("data", os.path.basename(snap_dir), f)
            for f in os.listdir(snap_dir)
            if f.endswith(".parquet")
        )
        for _ in range(MAX_COMMIT_ATTEMPTS):
            # Ordering matters: read the parent FIRST, then scan epoch
            # markers through that parent, then CAS on parent+1. The
            # CAS failing proves some commit landed after our scan — so
            # a successful CAS proves the scan covered EVERY earlier
            # version, and two writers can never stamp the same epoch
            # at different version numbers (the duplicate-epoch race a
            # naive recheck-then-commit leaves open).
            parent = current_version(path)
            seen = {
                int(m["epoch"])
                for v in range(0, (parent + 1) if parent is not None else 0)
                if (m := _load_manifest(path, v)).get("epoch") is not None
            }
            if int(epoch_id) in seen:
                return  # another writer committed this epoch first
            files = new_files if parent is None else (
                _load_manifest(path, parent)["files"] + new_files
            )
            try:
                # the epoch id rides the SAME atomic manifest publish as
                # the file list — a crash can never leave a
                # committed-but-unstamped epoch
                _publish(
                    path, files, "stream-append", parent,
                    extra={"epoch": int(epoch_id)},
                )
                return
            except CommitConflict:
                continue  # someone advanced the table: rescan + retry
        raise CommitConflict(
            f"epoch {epoch_id}: gave up after {MAX_COMMIT_ATTEMPTS} "
            f"commit attempts under contention"
        )

    return sink
