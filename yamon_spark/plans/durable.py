"""The two durable-write rules, each stated once.

Replay-safe epoch overwrite. ``foreachBatch`` is at-least-once: a crash
between an epoch's writes and its checkpoint commit replays the same
epoch id on restart. :func:`write_epoch` stamps it as the leading
``ingest_epoch`` partition column and replaces exactly the partitions
the frame has rows for, so a replay rewrites its own output instead of
adding a second copy — the idempotent sink that, with a replayable
source, makes a stream exactly-once end to end.

Crash-safe directory swap. A rewrite builds its new directory under a
DOT-PREFIXED sibling, which Spark's file listing skips (never read,
never discovered as a partition), then :func:`swap_dir` swaps it in by
two atomic renames. :func:`recover_swaps` restores a live dir a crash
left missing and drops the other debris, matched by exact suffix, never
by substring, so an unrelated dot-dir that merely contains one survives.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def replace_partitions(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Write ``df`` partitioned by ``partition_cols``, replacing only the
    partitions it has rows for; every other partition stays as it was."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_epoch(df: DataFrame, path: str, epoch: int, *partition_cols: str) -> None:
    """Land one ``foreachBatch`` epoch: stamp ``ingest_epoch`` and replace
    the ``(ingest_epoch=epoch, *partition_cols)`` partitions, so a
    replayed epoch leaves one copy of its rows."""
    replace_partitions(
        df.withColumn("ingest_epoch", F.lit(int(epoch))), path, "ingest_epoch", *partition_cols
    )


def hidden(live: Path, suffix: str) -> Path:
    """The hidden sibling ``.<live name><suffix>`` next to ``live``."""
    return live.parent / f".{live.name}{suffix}"


def swap_dir(live: Path, new: Path, old_suffix: str) -> None:
    """Put the directory ``new`` in place of ``live``: ``live`` to its
    hidden ``old_suffix`` sibling, ``new`` to ``live``, then drop the old
    copy. :func:`recover_swaps` heals a crash at any point in between."""
    old = hidden(live, old_suffix)
    live.rename(old)
    new.rename(live)
    shutil.rmtree(old, ignore_errors=True)


def recover_swaps(parent: Path, old_suffix: str, *tmp_suffixes: str) -> None:
    """Crash recovery for :func:`swap_dir` under ``parent``: a hidden
    ``.<name><old_suffix>`` whose live ``<name>`` is missing means the
    swap died between its renames — restore it; every other hidden dir
    ending in ``old_suffix`` or one of ``tmp_suffixes`` (the debris its
    caller writes) is stale and dropped."""
    for p in list(parent.iterdir()):
        if not p.is_dir() or not p.name.startswith("."):
            continue
        if p.name.endswith(old_suffix):
            live = parent / p.name[1 : -len(old_suffix)]
            if not live.exists():
                p.rename(live)
                continue
        if p.name.endswith((old_suffix, *tmp_suffixes)):
            shutil.rmtree(p, ignore_errors=True)
