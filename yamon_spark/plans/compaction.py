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
filters stay effective (other columns, such as the tag arrays older
versions wrote, pass through). Only ``date=YYYY-MM-DD`` partitions are
rewritten: retention ages the NULL-date partition by file mtime.

The rewrite is atomic per partition: write to the DOT-PREFIXED sibling
``.date=X.compact-tmp``, then swap it in through ``durable.swap_dir``
(a plain ``date=X.compact-tmp`` sibling would be DISCOVERED as a
partition, double-counting every row and breaking date-type
inference). A crash leaves either the original intact or a recoverable
``.date=X.compact-old``; ``durable.recover_swaps``, run at the start of
every stats/compact pass, restores a missing live dir from its old copy
and clears the rest.
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import SparkSession

from yamon_spark.plans.durable import hidden, recover_swaps, swap_dir
from yamon_spark.plans.layout import with_tag_blooms
from yamon_spark.plans.retention import _PART_RE

# hidden sibling names: "." + <partition> + suffix (never "date=..."-shaped)
_TMP_SUFFIX = ".compact-tmp"
_OLD_SUFFIX = ".compact-old"


def partition_stats(table_path: str) -> dict[str, tuple[int, int]]:
    """{partition_dir_name: (n_files, total_bytes)} for dated partitions."""
    out: dict[str, tuple[int, int]] = {}
    root = Path(table_path)
    if not root.is_dir():
        return out
    recover_swaps(root, _OLD_SUFFIX, _TMP_SUFFIX)
    for part in sorted(root.iterdir()):
        if not part.is_dir() or not _PART_RE.match(part.name):
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
    down to ``ceil(bytes/target)`` files. Each rewrite lands in its
    hidden tmp sibling and swaps in through ``durable.swap_dir``.
    Returns {partition: n_files_after}.
    """
    done: dict[str, int] = {}
    for part_name, (n_files, total_bytes) in partition_stats(table_path).items():
        n_target = max(1, math.ceil(total_bytes / target_file_bytes))
        if n_files <= max(min_files, n_target):
            continue
        part_dir = Path(table_path) / part_name
        tmp_dir = hidden(part_dir, _TMP_SUFFIX)
        df = spark.read.parquet(str(part_dir)).repartition(n_target)
        # tables differ in dimension columns (e.g. the uniq MV has no
        # host); sort by whichever of the requested keys exist
        keys = [k for k in (sort_keys or []) if k in df.columns]
        if keys:
            df = df.sortWithinPartitions(*keys)
        writer = df.write.mode("overwrite").option("compression", "zstd")
        # re-arm the blooms of whatever hot-key tag_<key> columns the
        # partition carries (D7), or compaction trades small files for
        # lost tag skipping
        hot = tuple(c[len("tag_"):] for c in df.columns if c.startswith("tag_"))
        writer = with_tag_blooms(writer, hot_keys=hot)
        writer.parquet(str(tmp_dir))
        swap_dir(part_dir, tmp_dir, _OLD_SUFFIX)
        done[part_name] = n_target
    return done
