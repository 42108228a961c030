"""Retention + storage-layout maintenance (SURVEY §2.4 D4-D7).

The reference's TTL clauses (res/schema.sql:15-18,34,66,99,118 with
``ttl_only_drop_parts=1``) drop whole MergeTree parts once a partition's
date ages out. The Spark-native equivalent over date-partitioned parquet
is a pure directory drop: O(#partitions) metadata work, zero data
rewrite — the same cost model. Each table's TTL is its
``layout.STORE`` entry: detail tables keep 30 days, rollups 365
(res/schema.sql defaults).

Records with a NULL ``when`` (missing or malformed ``t``) land in
``date=__HIVE_DEFAULT_PARTITION__``; its files expire by modification
time on the same TTL (compaction never rewrites them).
"""

from __future__ import annotations

import datetime as dt
import re
import shutil
from pathlib import Path

from yamon_spark.plans.layout import STORE

_PART_RE = re.compile(r"^date=(\d{4}-\d{2}-\d{2})$")
_NULL_PART = "date=__HIVE_DEFAULT_PARTITION__"


def expired_partitions(table_path: str, ttl_days: int, today: dt.date) -> list[Path]:
    """date=YYYY-MM-DD partition dirs strictly older than the TTL, and
    NULL-date partition files last modified (UTC) before the same day."""
    cutoff = today - dt.timedelta(days=ttl_days)
    out: list[Path] = []
    root = Path(table_path)
    if not root.is_dir():
        return out
    for child in sorted(root.iterdir()):
        m = _PART_RE.match(child.name)
        if m and dt.date.fromisoformat(m.group(1)) < cutoff:
            out.append(child)
        elif child.name == _NULL_PART and child.is_dir():
            out += [
                f for f in sorted(child.iterdir())
                if dt.datetime.fromtimestamp(f.stat().st_mtime, dt.timezone.utc).date() < cutoff
            ]
    return out


def apply_retention(
    out_dir: str,
    ttl_days: dict[str, int] | None = None,
    today: dt.date | None = None,
    dry_run: bool = False,
) -> dict[str, list[str]]:
    """Drop expired date partitions (and NULL-date files) per table.
    Returns {table: [dropped]}, paths relative to the table.

    On a real deployment this is a scheduled job against the table
    location (or ``ALTER TABLE ... DROP PARTITION`` on a catalog table /
    Delta ``delete + vacuum``); the directory semantics are identical.
    """
    ttl_days = {**{t: spec.ttl_days for t, spec in STORE.items()}, **(ttl_days or {})}
    # partitions are stamped from EVENT time under a UTC session, so the
    # cutoff must be today-in-UTC — the machine-local date on a UTC+13
    # host would expire a partition a full day early (ClickHouse's TTL
    # compares against UTC now() the same way)
    today = today or dt.datetime.now(dt.timezone.utc).date()
    dropped: dict[str, list[str]] = {}
    for table, ttl in ttl_days.items():
        root = Path(out_dir) / table
        dropped[table] = []
        for p in expired_partitions(str(root), ttl, today):
            if not dry_run:
                # tolerate a partition vanishing mid-sweep (concurrent
                # maintenance): one lost dir must not abort retention
                # for every remaining partition and table
                try:
                    shutil.rmtree(p) if p.is_dir() else p.unlink()
                except FileNotFoundError:
                    continue
            dropped[table].append(p.relative_to(root).as_posix())
    return dropped
