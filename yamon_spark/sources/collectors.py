"""Host-collector parsers (SURVEY §2.1 S2-S10): /proc-format text ->
metric rows.

The reference runs these as in-process goroutines reading /proc and
emitting counters/gauges (collector/*.go). Re-expressed Spark-first:
each collector is a pure parser ``lines DataFrame -> metrics DataFrame``
(``when``, ``type``, ``host``, ``name``, ``value``, ``tags``; see
``_metric``) built from split/explode/filter built-ins — the
agent-side acquisition (reading /proc, exec'ing df) ships its raw text
into the landing zone, and parsing/fan-out runs distributed. One
snapshot = one lines-DataFrame; ``when`` is parse time — the same
clock the reference stamps via time.Now() at collection
(common/metric.go:37-43).

Parity (semantics, not bugs — SURVEY §7.4): the net parser emits the
four rx/tx bytes/packets counters the reference actually writes
(collector/net.go:70-85); its Tx.Drop-overwrites-Rx.Drop parse bug
(net.go:53) is moot since drops are never emitted.

Exec-backed and fs-walk collectors (sensors S12, apt S14, gpu S15,
cgroup S16, zfs S11, fscache S13) follow the same shape — their exec
output lands as text and a parser fans it out; the grid/JSON parsers
here (kv grid, df table) are the reusable pieces they build on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# /proc/stat per-cpu counter keys (collector/cpu.go:14-16)
PROC_STAT_CPU_KEYS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq")

# /proc/diskstats counter keys (collector/disk.go:18-36)
DISKSTATS_KEYS = (
    "reads_completed",
    "reads_merged",
    "sectors_read",
    "time_spent_reading",
    "writes_completed",
    "writes_merged",
    "sectors_written",
    "time_spent_writing",
    "io_in_progress",
    "time_spent_doing_io",
    "weighted_time_spent_doing_io",
    "discards_completed",
    "discards_merged",
    "sectors_discarded",
    "time_spend_discarding",
    "flush_requests_completed",
    "time_spent_flushing",
)

def _empty_tags() -> Column:
    return F.create_map().cast("map<string,string>")


def _snapshot_ts() -> Column:
    """Default metric time: the snapshot's publish millis embedded in the
    landing file name (snap-<ms>-<uuid>.jsonl, producer._publish). Scan-
    scoped input_file_name() resolves in any projection over a file
    source — batch or streaming — so every parser stamps the TICK time
    without threading a column through its selects; non-file inputs
    (createDataFrame tests) fall back to processing time."""
    # any _publish-landed prefix ('snap', 'exec', 'batch', ...) embeds its
    # publish millis as <prefix>-<ms>-<uuid>; match them all, not just
    # snap — anchored to the LAST path segment so a digit-bearing
    # directory name earlier in the path can never match first
    ms = F.regexp_extract(F.input_file_name(), r"/[a-z]+-(\d+)-[^/]*$", 1)
    return F.coalesce(F.timestamp_millis(ms.try_cast("long")), F.current_timestamp())


def _metric(name: Column, mtype: str, value: Column, tags: Column | None = None, ts: Column | None = None) -> list[Column]:
    return [
        (ts if ts is not None else _snapshot_ts()).alias("when"),
        F.lit(mtype).alias("type"),
        F.lit("").alias("host"),
        name.alias("name"),
        # real /proc text contains blanks/garbage on some kernels; malformed
        # values become null and are dropped by callers (the reference's
        # ParseNumber swallows errors the same way)
        value.try_cast("double").alias("value"),
        (tags if tags is not None else _empty_tags()).alias("tags"),
    ]


def _fields(col: str = "value") -> Column:
    """Whitespace-split with repeated-separator collapse (the reference's
    util.FilterRepeatingSpaces)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def parse_proc_stat(lines: DataFrame, col: str = "value") -> DataFrame:
    """S2 cpu: per-cpu jiffy counters ``cpu.{user,...,softirq}`` tagged
    {cpu: id} (aggregate ``cpu`` line skipped) + ``cpu.ctxt``
    (collector/cpu.go:18-46)."""
    p = _fields(col)
    cpu = (
        lines.select(p.alias("p"))
        .where(F.col("p")[0].rlike(r"^cpu\d+$"))
        .select(
            F.substring(F.col("p")[0], 4, 10).alias("cpu_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(k).alias("key"), F.col("p")[i + 1].alias("raw"))
                        for i, k in enumerate(PROC_STAT_CPU_KEYS)
                    ]
                )
            ).alias("kv"),
        )
        .select(
            *_metric(
                F.concat(F.lit("cpu."), F.col("kv.key")),
                "counter",
                F.col("kv.raw"),
                F.create_map(F.lit("cpu"), F.col("cpu_id")),
            )
        )
    )
    ctxt = (
        lines.select(p.alias("p"))
        .where(F.col("p")[0] == "ctxt")
        .select(*_metric(F.lit("cpu.ctxt"), "counter", F.col("p")[1]))
    )
    return cpu.unionByName(ctxt)


def parse_loadavg(lines: DataFrame, col: str = "value") -> DataFrame:
    """S4 load: ``load.{1,5,15}`` gauges (collector/system.go:26-42)."""
    p = _fields(col)
    return (
        lines.select(p.alias("p"))
        .where(F.size("p") >= 3)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(f"load.{k}").alias("n"), F.col("p")[i].alias("v"))
                        for i, k in enumerate(("1", "5", "15"))
                    ]
                )
            ).alias("kv")
        )
        .select(*_metric(F.col("kv.n"), "gauge", F.col("kv.v")))
    )


def parse_uptime(lines: DataFrame, col: str = "value") -> DataFrame:
    """S5 uptime gauge (collector/system.go:44-53)."""
    p = _fields(col)
    return lines.select(p.alias("p")).where(F.size("p") >= 1).select(
        *_metric(F.lit("uptime"), "gauge", F.col("p")[0])
    )


def parse_meminfo(lines: DataFrame, col: str = "value") -> DataFrame:
    """S3 memory: ``memory.{total,used,cached,free,available}`` gauges in
    bytes from /proc/meminfo (the reference reads the same fields via
    go-osstat, collector/system.go:13-24: cached = Cached + SReclaimable,
    used = total - free - buffers - cached; meminfo is kB)."""
    p = _fields(col)
    kv = (
        lines.select(p.alias("p"), F.input_file_name().alias("snap"), _snapshot_ts().alias("snap_ts"))
        .where(F.size("p") >= 2)
        .select(
            "snap",
            "snap_ts",
            F.regexp_replace(F.col("p")[0], ":", "").alias("k"),
            (F.col("p")[1].cast("double") * 1024).alias("v"),
        )
    )
    # keyed by the snapshot's file identity: a keyless global pivot would
    # collapse every tick in the batch into ONE row, mixing MemTotal from
    # one tick with MemFree from another (input_file_name is "" for
    # non-file test inputs — one group, the single-tick behavior)
    pivoted = kv.groupBy("snap", "snap_ts").pivot(
        "k", ["MemTotal", "MemFree", "MemAvailable", "Buffers", "Cached", "SReclaimable"]
    ).agg(F.first("v"))
    # a global agg over EMPTY input still emits one all-null row, and the
    # coalesce(...,0) sums below would turn it into a spurious
    # memory.cached=0 gauge on hosts with no meminfo snapshot — gate on
    # the field every real /proc/meminfo carries
    pivoted = pivoted.where(F.col("MemTotal").isNotNull())
    derived = pivoted.select(
        "snap_ts",
        F.col("MemTotal").alias("total"),
        F.col("MemFree").alias("free"),
        F.col("MemAvailable").alias("available"),
        (F.coalesce("Cached", F.lit(0.0)) + F.coalesce("SReclaimable", F.lit(0.0))).alias("cached"),
        (
            F.col("MemTotal")
            - F.col("MemFree")
            - F.coalesce("Buffers", F.lit(0.0))
            - F.coalesce("Cached", F.lit(0.0))
            - F.coalesce("SReclaimable", F.lit(0.0))
        ).alias("used"),
    )
    unpiv = derived.select(
        "snap_ts",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(f"memory.{k}").alias("n"), F.col(k).alias("v"))
                    for k in ("total", "used", "cached", "free", "available")
                ]
            )
        ).alias("kv"),
    )
    return unpiv.where(F.col("kv.v").isNotNull()).select(
        *_metric(F.col("kv.n"), "gauge", F.col("kv.v"), ts=F.col("snap_ts"))
    )


def parse_diskstats(lines: DataFrame, col: str = "value") -> DataFrame:
    """S6 disk_io: 17 counters per device tagged {device}; loop devices
    skipped (collector/disk.go:38-64)."""
    p = _fields(col)
    return (
        lines.select(p.alias("p"))
        .where((F.size("p") >= 4) & ~F.col("p")[2].startswith("loop"))
        .select(
            F.col("p")[2].alias("device"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(f"disk.{k}").alias("n"), F.col("p")[i + 3].alias("v"))
                        for i, k in enumerate(DISKSTATS_KEYS)
                    ]
                )
            ).alias("kv"),
        )
        .where(F.col("kv.v").isNotNull())  # short lines: missing trailing counters drop
        .select(
            *_metric(
                F.col("kv.n"), "counter", F.col("kv.v"), F.create_map(F.lit("device"), F.col("device"))
            )
        )
    )


def parse_df_output(lines: DataFrame, col: str = "value") -> DataFrame:
    """S7 disk_usage over ``df --output=source,target,fstype,file,itotal,
    iavail,iused,ipcent,size,avail,used,pcent``: ``disk.{free,used}``
    gauges tagged {path,mount,type}; tmpfs/sysfs/proc, all-zero rows and
    overlay2 mounts filtered (collector/disk.go:77-141)."""
    p = _fields(col)
    rows = (
        lines.select(p.alias("p"))
        .where((F.size("p") >= 11) & (F.col("p")[0] != "Filesystem"))
        .select(
            F.col("p")[0].alias("path"),
            F.col("p")[1].alias("mount"),
            F.col("p")[2].alias("fstype"),
            F.col("p")[4].cast("double").alias("inodes"),
            F.col("p")[9].cast("double").alias("avail"),
            F.col("p")[10].cast("double").alias("used"),
        )
        .where(~F.col("fstype").isin("tmpfs", "sysfs", "proc"))
        .where((F.col("inodes") != 0) | (F.col("used") != 0) | (F.col("avail") != 0))
        .where(~F.col("mount").contains("overlay2"))
    )
    tags = F.create_map(
        F.lit("path"), F.col("path"), F.lit("mount"), F.col("mount"), F.lit("type"), F.col("fstype")
    )
    return rows.select(
        F.explode(
            F.array(
                F.struct(F.lit("disk.free").alias("n"), F.col("avail").alias("v")),
                F.struct(F.lit("disk.used").alias("n"), F.col("used").alias("v")),
            )
        ).alias("kv"),
        tags.alias("tags"),
    ).select(*_metric(F.col("kv.n"), "gauge", F.col("kv.v"), F.col("tags")))


def parse_net_dev(lines: DataFrame, col: str = "value") -> DataFrame:
    """S8 net: ``net.{rx,tx}.{bytes,packets}`` counters per interface,
    veth*/br-* skipped (collector/net.go:26-87)."""
    p = _fields(col)
    rows = (
        lines.select(p.alias("p"))
        .where((F.size("p") >= 11) & F.col("p")[0].endswith(":"))
        .select(
            F.regexp_replace(F.col("p")[0], ":$", "").alias("iface"),
            F.col("p")[1].alias("rx_bytes"),
            F.col("p")[2].alias("rx_packets"),
            F.col("p")[9].alias("tx_bytes"),
            F.col("p")[10].alias("tx_packets"),
        )
        .where(~F.col("iface").startswith("veth") & ~F.col("iface").startswith("br-"))
    )
    return rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(n).alias("n"), F.col(c).alias("v"))
                    for n, c in (
                        ("net.rx.bytes", "rx_bytes"),
                        ("net.rx.packets", "rx_packets"),
                        ("net.tx.bytes", "tx_bytes"),
                        ("net.tx.packets", "tx_packets"),
                    )
                ]
            )
        ).alias("kv"),
        F.create_map(F.lit("iface"), F.col("iface")).alias("tags"),
    ).select(*_metric(F.col("kv.n"), "counter", F.col("kv.v"), F.col("tags")))


def parse_netstat(lines: DataFrame, col: str = "value") -> DataFrame:
    """S9 tcp: /proc/net/netstat header/value line pairs ->
    ``{tcp,ip}.<Key>`` counters — the reference strips the ``Ext``
    suffix and lowercases (collector/tcp.go:40: ``ToLower(name[:-3])``).

    Spark-first restatement of the stateful two-line walk: header and
    value lines join on their shared section prefix, then keys zip with
    values positionally (arrays_zip + explode — no Python, no state).
    """
    parts = F.split(F.col(col), ": ")
    split_lines = (
        lines.where(F.col(col).contains(": "))
        .select(
            # snapshot identity joins header to value lines of the SAME
            # tick — on bare `section`, two snapshots in one batch would
            # cross-join their TcpExt lines (2x2 pairings of counters)
            F.input_file_name().alias("snap"),
            _snapshot_ts().alias("snap_ts"),
            parts[0].alias("section"),
            F.split(F.trim(parts[1]), r"\s+").alias("vals"),
        )
    )
    # header lines have non-numeric first token; value lines are all digits
    is_hdr = ~split_lines["vals"][0].rlike(r"^-?\d+$")
    headers = split_lines.where(is_hdr).select("snap", "snap_ts", F.col("section"), F.col("vals").alias("keys"))
    values = split_lines.where(~is_hdr).select("snap", F.col("section"), F.col("vals"))
    joined = headers.join(values, ["snap", "section"])
    prefix = F.lower(F.expr("substring(section, 1, length(section) - 3)"))
    return (
        joined.select(
            "snap_ts",
            prefix.alias("prefix"),
            F.explode(F.arrays_zip("keys", "vals")).alias("kv"),
        )
        .select(
            *_metric(
                F.concat(F.col("prefix"), F.lit("."), F.col("kv.keys")),
                "counter",
                F.col("kv.vals"),
                ts=F.col("snap_ts"),
            )
        )
    )


def parse_vmstat(lines: DataFrame, col: str = "value") -> DataFrame:
    """S10 vmstat: ``vmstat.<key>`` counters from the k/v lines
    (collector/vmstat.go:14-40; non-numeric lines skipped)."""
    p = _fields(col)
    return (
        lines.select(p.alias("p"))
        .where((F.size("p") == 2) & F.col("p")[1].rlike(r"^\d+$"))
        .select(*_metric(F.concat(F.lit("vmstat."), F.col("p")[0]), "counter", F.col("p")[1]))
    )


COLLECTOR_PARSERS = {
    "cpu": parse_proc_stat,
    "memory": parse_meminfo,
    "load": parse_loadavg,
    "uptime": parse_uptime,
    "disk_io": parse_diskstats,
    "disk_usage": parse_df_output,
    "net": parse_net_dev,
    "tcp": parse_netstat,
    "vmstat": parse_vmstat,
}
