"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every knob here is
chosen for the 1000-executor / 100 TB case and merely *also* works locally:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  broadcast demotion/promotion based on observed sizes),
- session timezone pinned to UTC so event-time semantics are
  deployment-independent (the reference stores DateTime64 wall-UTC,
  reference res/schema.sql:3),
- Arrow enabled for the pandas-UDF surface (the reference's script
  extension point, reference script.go:120-240, maps to vectorized UDFs),
- zstd parquet output matching the reference's CODEC(ZSTD) columns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Input-sized wide start: bytes of on-disk (zstd parquet) input per
# INITIAL shuffle partition. Calibrated from the r12 partition-knee
# measurement (SCALE_CURVE.json partition_knee): at a ~700 MB synthesized
# 300x corpus, a 512-wide start halved the posting-list pair kernel's
# wall vs a 32-wide start (dedup_jaccard 299->140 s) — i.e. ~1.4 MB of
# compressed input per initial partition kept per-task shuffle volume
# bounded through the family's explode amplification (~40x uncompressed).
# Below that scale the wide start is pure scheduling overhead: the r13
# fresh-JVM probe (`git show 8b1a8f1:scripts/minhash_probe.py`) measured
# the minhash chain of SMALL shuffles paying 1.43-1.98x at sf0.1 (17 MB
# input) under a fixed 512 vs letting shuffles start at
# spark.sql.shuffle.partitions.
_INPUT_BYTES_PER_INITIAL_PARTITION = 1_400_000
# Ceiling for the sized width. Locally this bounds scheduling overhead;
# on a real cluster you would raise it to ~2-4x total executor cores
# (the knob is the same rule: start wide enough that no task's shuffle
# read exceeds executor memory, let AQE coalesce the rest).
_MAX_INITIAL_PARTITIONS = 8192


def _sized_initial_partitions(data_dir: str, floor: int) -> int:
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    width = total // _INPUT_BYTES_PER_INITIAL_PARTITION + 1
    return max(floor, min(_MAX_INITIAL_PARTITIONS, int(width)))


def get_spark(
    app_name: str = "yamon-spark",
    shuffle_partitions: int | None = None,
    data_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to $SPARK_GRAFT_CPUS (local) — on a real
    cluster you'd leave AQE's coalescing to right-size this from
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.

    ``data_dir``: when the caller knows the input directory (bench and
    scale harnesses do), the AQE wide start is SIZED from its on-disk
    bytes instead of a fixed 512 — see _INPUT_BYTES_PER_INITIAL_PARTITION
    for the calibration. A fixed wide start is only correct at the data
    volume it was sized for; sizing from the input is the rule that holds
    from sf0.001 through 100 TB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    # Wide start: sized from the input's on-disk bytes when the caller
    # knows its data_dir (the rule that holds across scales; see module
    # constants), else the fixed 512 of r12 — scale-safe for the corpus
    # sizes the scale sweeps run, mild overhead on tiny data.
    if data_dir and os.path.isdir(data_dir):
        init_parts = _sized_initial_partitions(data_dir, shuffle_partitions)
    else:
        init_parts = 512
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # shuffles START wide and AQE merges small partitions by observed
        # size — partitions track data volume instead of a fixed count.
        # Measured (SCALE_CURVE.json partition_knee): halves the posting-
        # list pair kernel's wall at 300x corpus (dedup_jaccard 299->140 s,
        # segment exponent 1.09) because per-task shuffle volume stays
        # bounded; at sf0.1 verification scale the coalescer collapses the
        # extra width for free (probe: 9.2 vs 9.0 s over 6 queries, noise).
        # On a real cluster this is the standard sizing (start wide,
        # coalesce down) — a fixed 32 would be the deployment bug.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(init_parts))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # dims (region/nation/supplier) are tiny: let Catalyst broadcast
        # them; 64MB is safe with 128GiB local, and typical for big clusters
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
