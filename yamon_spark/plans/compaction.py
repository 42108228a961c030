"""Small-file compaction for date-partitioned parquet detail tables
(SURVEY §2.4 storage maintenance; the OPTIMIZE/merge analogue of
MergeTree background merges, clickhouse storage the reference relies on
via res/schema.sql partitioning).

Streaming micro-batches write one file per trigger per date partition
(``streaming/pipeline`` rebalances each detail write by date; AQE
splits a date only above its advisory partition size), so a 5-second
trigger still produces ~17k files/day/partition — death by file
listing at 100 TB. Compaction rewrites each date partition to
``ceil(bytes / target_file_bytes)`` files, restoring the table's sort
order (ORDER BY keys) inside each file so min/max pruning and tag bloom
filters stay effective.

The rewrite is atomic per partition: write to a DOT-PREFIXED sibling
tmp dir, then directory-swap. The dot prefix matters twice over —
Spark's file listing ignores paths whose name starts with ``.`` or
``_``, so in-flight/crashed tmp and old dirs are invisible to readers
AND distinguishable from live ``date=`` partitions (a plain
``date=X.compact-tmp`` sibling would be DISCOVERED as a partition,
double-counting every row and breaking date-type inference). A crash
leaves either the original intact or a recoverable ``.compact-old``;
``_recover`` (run at the start of every stats/compact pass) restores a
missing live dir from its old copy and clears the rest.
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

from pyspark.sql import SparkSession

# hidden sibling names: "." + <partition> + suffix (never "date=..."-shaped)
_TMP_SUFFIX = ".compact-tmp"
_OLD_SUFFIX = ".compact-old"


def _hidden(table_path: str, part_name: str, suffix: str) -> Path:
    return Path(table_path) / f".{part_name}{suffix}"


def _recover(root: Path) -> None:
    """Crash recovery: a leftover ``.date=X.compact-old`` whose live dir
    is missing means we died between the two renames — restore it; any
    other leftover tmp/old dir is stale and dropped."""
    for part in list(root.iterdir()):
        if not part.is_dir() or not part.name.startswith("."):
            continue
        if part.name.endswith(_OLD_SUFFIX):
            live = root / part.name[1 : -len(_OLD_SUFFIX)]
            if not live.exists():
                part.rename(live)
                continue
        if part.name.endswith(_OLD_SUFFIX) or part.name.endswith(_TMP_SUFFIX):
            shutil.rmtree(part, ignore_errors=True)


def partition_stats(table_path: str) -> dict[str, tuple[int, int]]:
    """{partition_dir_name: (n_files, total_bytes)} for date= partitions."""
    out: dict[str, tuple[int, int]] = {}
    root = Path(table_path)
    if not root.is_dir():
        return out
    _recover(root)
    for part in sorted(root.iterdir()):
        if not part.is_dir() or not part.name.startswith("date="):
            continue
        files = [f for f in part.rglob("*.parquet") if f.is_file()]
        out[part.name] = (len(files), sum(f.stat().st_size for f in files))
    return out


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    sort_keys: list[str] | None = None,
    min_files: int = 2,
) -> dict[str, int]:
    """Compact every date partition with more than ``min_files`` files
    down to ``ceil(bytes/target)`` files. Returns {partition: n_files_after}.
    """
    done: dict[str, int] = {}
    for part_name, (n_files, total_bytes) in partition_stats(table_path).items():
        n_target = max(1, math.ceil(total_bytes / target_file_bytes))
        if n_files <= max(min_files, n_target):
            continue
        part_dir = Path(table_path) / part_name
        tmp_dir = _hidden(table_path, part_name, _TMP_SUFFIX)
        df = spark.read.parquet(str(part_dir)).repartition(n_target)
        # tables differ in dimension columns (e.g. the uniq MV has no
        # host); sort by whichever of the requested keys exist
        keys = [k for k in (sort_keys or []) if k in df.columns]
        if keys:
            df = df.sortWithinPartitions(*keys)
        writer = df.write.mode("overwrite").option("compression", "zstd")
        if {"tag_keys", "tag_values"} <= set(df.columns):
            # detail tables carry the D7 tag-index columns: the rewrite
            # must re-arm their parquet bloom filters (incl. any hot-key
            # scalar columns), or compaction silently trades small files
            # for lost tag skipping
            from yamon_spark.plans.layout import with_tag_blooms

            hot = tuple(
                c[len("tag_"):]
                for c in df.columns
                if c.startswith("tag_") and c not in ("tag_keys", "tag_values")
            )
            writer = with_tag_blooms(writer, hot_keys=hot)
        writer.parquet(str(tmp_dir))
        # atomic-ish swap: old dir out of the way (hidden), tmp in, old
        # dropped; _recover handles a crash at any point in between
        old_dir = _hidden(table_path, part_name, _OLD_SUFFIX)
        part_dir.rename(old_dir)
        tmp_dir.rename(part_dir)
        shutil.rmtree(old_dir, ignore_errors=True)
        done[part_name] = n_target
    return done
