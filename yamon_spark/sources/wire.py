"""Wire-format parsers (SURVEY §2.1 S18-S23): reference JSON protocols
-> typed stream DataFrames.

Every parser is a pure function over a DataFrame with a single string
column (default ``value`` — what ``spark.read[Stream].text`` yields), so
the same code path serves batch fixtures and Structured Streaming
landing zones. All parsing is ``from_json`` / built-ins — JVM-side, no
Python in the record path.

Formats (field names are the reference's wire contract, parity-checked
against the Go struct tags):
- Batch            reference common/batch.go:3-7 (``m``/``l``/``e``),
                   metric ``t/m/h/n/v/g`` (common/metric.go:17-22),
                   log ``t/h/s/l/d/g`` (common/log.go:6-11),
                   event ``t/h/e/d/g`` (common/event.go:9-13)
                   (POST /v1/data's long-form keys are re-keyed to these
                   by the HTTP receiver before landing)
- ScriptResult     reference script.go:19-86 (singular+plural fan-out,
                   unix-seconds time override)
- journald entry   reference journal/client.go:44-75 (field routing)
- prom text        reference prom/scrape.go:45-101 (expfmt text parse)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from yamon_spark.functions.transforms import (
    JOURNALD_PRUNED_KEYS,
    priority_to_level,
    prune_tag_keys,
    script_time,
)

_TAGS = MapType(StringType(), StringType())

# short-key wire structs (agent -> forward server)
WIRE_METRIC = StructType(
    [
        StructField("t", StringType()),  # RFC3339 from Go time.Time
        StructField("m", StringType()),  # type
        StructField("h", StringType()),  # host
        StructField("n", StringType()),  # name
        StructField("v", DoubleType()),  # value
        StructField("g", _TAGS),  # tags
    ]
)
WIRE_LOG = StructType(
    [
        StructField("t", StringType()),
        StructField("h", StringType()),
        StructField("s", StringType()),  # service
        StructField("l", StringType()),  # level
        StructField("d", StringType()),  # data
        StructField("g", _TAGS),
    ]
)
WIRE_EVENT = StructType(
    [
        StructField("t", StringType()),
        StructField("h", StringType()),
        StructField("e", StringType()),  # type
        StructField("d", StringType()),
        StructField("g", _TAGS),
    ]
)
WIRE_BATCH = StructType(
    [
        StructField("m", ArrayType(WIRE_METRIC)),
        StructField("l", ArrayType(WIRE_LOG)),
        StructField("e", ArrayType(WIRE_EVENT)),
    ]
)

# script protocol (res/deno/yamon.ts:1-36)
SCRIPT_METRIC = StructType(
    [
        StructField("type", StringType()),
        StructField("name", StringType()),
        StructField("value", DoubleType()),
        StructField("time", LongType()),  # unix seconds, optional
        StructField("tags", _TAGS),
    ]
)
SCRIPT_LOG = StructType(
    [
        StructField("service", StringType()),
        StructField("level", StringType()),
        StructField("data", StringType()),
        StructField("time", LongType()),
        StructField("tags", _TAGS),
    ]
)
SCRIPT_EVENT = StructType(
    [
        StructField("type", StringType()),
        StructField("data", StringType()),
        StructField("time", LongType()),
        StructField("tags", _TAGS),
    ]
)
SCRIPT_RESULT = StructType(
    [
        StructField("metrics", ArrayType(SCRIPT_METRIC)),
        StructField("metric", SCRIPT_METRIC),
        StructField("logs", ArrayType(SCRIPT_LOG)),
        StructField("log", SCRIPT_LOG),
        StructField("events", ArrayType(SCRIPT_EVENT)),
        StructField("event", SCRIPT_EVENT),
    ]
)


def _ts(col: Column) -> Column:
    """RFC3339 (Go time.Time JSON) -> timestamp; Spark's cast handles the
    offset and fractional seconds."""
    return col.cast("timestamp")


def _tags(col: Column) -> Column:
    """Tags default to an empty map, never null (common/metric.go:34-36)."""
    return F.coalesce(col, F.create_map().cast(_TAGS))


def _elements(df: DataFrame, arr: Column | str, alias: str, *keep: str) -> DataFrame:
    """One row per element of ``arr`` with ``explode``'s rows: null and
    empty arrays emit nothing, null elements are kept. Written as
    ``posexplode_outer`` + ``pos IS NOT NULL`` because Catalyst infers a
    ``size(arr) > 0 AND isnotnull(arr)`` filter under an inner
    ``explode`` (InferFiltersFromGenerate), which re-evaluates the
    landing line's ``from_json`` below the projection that parses it;
    outer generators get no inferred filter, so each line parses once."""
    return (
        df.select(F.posexplode_outer(arr).alias("_pos", alias), *keep)
        .where(F.col("_pos").isNotNull())
        .drop("_pos")
    )


def parse_batch(lines: DataFrame, col: str = "value") -> dict[str, DataFrame]:
    """One submit-batch JSON body per row -> the three typed streams
    (the forward server's decode, forward_server.go:58-78)."""
    parsed = lines.select(F.from_json(F.col(col), WIRE_BATCH).alias("b")).select("b.*")
    metrics = _elements(parsed, "m", "r").select(
        _ts(F.col("r.t")).alias("when"),
        F.col("r.m").alias("type"),
        F.coalesce(F.col("r.h"), F.lit("")).alias("host"),
        F.col("r.n").alias("name"),
        F.col("r.v").alias("value"),
        _tags(F.col("r.g")).alias("tags"),
    )
    logs = _elements(parsed, "l", "r").select(
        _ts(F.col("r.t")).alias("when"),
        F.coalesce(F.col("r.h"), F.lit("")).alias("host"),
        F.col("r.s").alias("service"),
        F.coalesce(F.col("r.l"), F.lit("")).alias("level"),
        F.coalesce(F.col("r.d"), F.lit("")).alias("data"),
        _tags(F.col("r.g")).alias("tags"),
    )
    events = _elements(parsed, "e", "r").select(
        _ts(F.col("r.t")).alias("when"),
        F.coalesce(F.col("r.h"), F.lit("")).alias("host"),
        F.col("r.e").alias("type"),
        F.coalesce(F.col("r.d"), F.lit("")).alias("data"),
        _tags(F.col("r.g")).alias("tags"),
    )
    return {"metrics": metrics, "logs": logs, "events": events}


def parse_script_result(lines: DataFrame, col: str = "value") -> dict[str, DataFrame]:
    """One ScriptResult JSON per row: singular and plural fields fan out
    (script.go:88-118); intended line-per-result streaming semantics —
    NOT replicating the reference's dropped-results bug
    (script.go:183-189, SURVEY §7.4)."""
    b = lines.select(
        F.from_json(F.col(col), SCRIPT_RESULT).alias("r"),
        F.current_timestamp().alias("ingest_ts"),
    )
    # singular + plural -> one array; nulls drop via filter
    metrics_arr = F.filter(
        F.concat(F.coalesce("r.metrics", F.array()), F.array("r.metric")), lambda x: x.isNotNull()
    )
    logs_arr = F.filter(F.concat(F.coalesce("r.logs", F.array()), F.array("r.log")), lambda x: x.isNotNull())
    events_arr = F.filter(
        F.concat(F.coalesce("r.events", F.array()), F.array("r.event")), lambda x: x.isNotNull()
    )
    metrics = (
        _elements(b, metrics_arr, "m", "ingest_ts")
        .where(F.col("m.type").isin("gauge", "counter"))  # type dispatch, script.go:28-39
        .select(
            script_time(F.col("m.time"), F.col("ingest_ts")).alias("when"),
            F.col("m.type").alias("type"),
            F.lit("").alias("host"),
            F.col("m.name").alias("name"),
            F.col("m.value").alias("value"),
            _tags(F.col("m.tags")).alias("tags"),
        )
    )
    logs = _elements(b, logs_arr, "l", "ingest_ts").select(
        script_time(F.col("l.time"), F.col("ingest_ts")).alias("when"),
        F.lit("").alias("host"),
        F.col("l.service").alias("service"),
        F.coalesce(F.col("l.level"), F.lit("")).alias("level"),
        F.coalesce(F.col("l.data"), F.lit("")).alias("data"),
        _tags(F.col("l.tags")).alias("tags"),
    )
    events = _elements(b, events_arr, "e", "ingest_ts").select(
        script_time(F.col("e.time"), F.col("ingest_ts")).alias("when"),
        F.lit("").alias("host"),
        F.col("e.type").alias("type"),
        F.coalesce(F.col("e.data"), F.lit("")).alias("data"),
        _tags(F.col("e.tags")).alias("tags"),
    )
    return {"metrics": metrics, "logs": logs, "events": events}


def parse_journald(lines: DataFrame, col: str = "value", ignored_services: list[str] | None = None) -> DataFrame:
    """journalctl --output json line -> log entry (journal/client.go:44-75):
    SYSLOG_IDENTIFIER -> service, MESSAGE -> data, PRIORITY -> level name,
    __REALTIME_TIMESTAMP (µs) -> when, remaining fields -> tags after
    pruning routing/noise keys."""
    m = F.from_json(F.col(col), _TAGS)
    df = lines.select(m.alias("j")).where(F.col("j").isNotNull())
    out = df.select(
        F.timestamp_micros(F.element_at("j", "__REALTIME_TIMESTAMP").cast("long")).alias("when"),
        F.lit("").alias("host"),
        F.coalesce(F.element_at("j", "SYSLOG_IDENTIFIER"), F.lit("")).alias("service"),
        priority_to_level(F.element_at("j", "PRIORITY")).alias("level"),
        F.coalesce(F.element_at("j", "MESSAGE"), F.lit("")).alias("data"),
        prune_tag_keys(F.col("j"), JOURNALD_PRUNED_KEYS).alias("tags"),
    )
    if ignored_services:
        out = out.where(~F.col("service").isin(ignored_services))
    return out


# prom text exposition: `name{l1="v1",...} value [timestamp_ms]`
_PROM_SAMPLE_RE = r'^([a-zA-Z_:][a-zA-Z0-9_:]*)(\{.*\})?\s+(\S+)(\s+\d+)?\s*$'


def parse_prom_text(lines: DataFrame, col: str = "value") -> DataFrame:
    """Prometheus text format -> metric rows (prom/scrape.go:45-101):
    only gauge/counter families kept (``# TYPE`` comment join, :96-98),
    NaN samples dropped (:86-94), labels -> tags.

    The family-type lookup is a broadcast join against the tiny set of
    ``# TYPE`` lines — at scale each scrape payload is small; the join
    key is the family name with the standard histogram/summary suffix
    stripped before matching (suffixed families are non-gauge/counter
    anyway, so a plain name match suffices for kept types).
    """
    types = (
        lines.where(F.col(col).rlike(r"^# TYPE "))
        .select(F.split(F.col(col), r"\s+").alias("p"))
        .select(F.element_at("p", 3).alias("name"), F.element_at("p", 4).alias("ptype"))
        .where(F.col("ptype").isin("gauge", "counter"))
        .distinct()
    )
    samples = (
        lines.where(~F.col(col).rlike(r"^\s*(#|$)"))
        .select(
            F.regexp_extract(col, _PROM_SAMPLE_RE, 1).alias("name"),
            F.regexp_extract(col, _PROM_SAMPLE_RE, 2).alias("labels_raw"),
            F.regexp_extract(col, _PROM_SAMPLE_RE, 3).try_cast("double").alias("value"),
            F.trim(F.regexp_extract(col, _PROM_SAMPLE_RE, 4)).alias("ts_ms"),
        )
        .where(F.col("name") != "")
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    # label block `{k="v",k2="v2"}` -> map via paired extract_all (prom
    # label values are quoted; embedded commas/quotes are out of scope
    # exactly as for the reference's expfmt defaults)
    keys = F.expr(r"""regexp_extract_all(labels_raw, '([a-zA-Z_][a-zA-Z0-9_]*)="', 1)""")
    vals = F.expr(r"""regexp_extract_all(labels_raw, '="((?:[^"\\\\]|\\\\.)*)"', 1)""")
    tags = F.when(
        F.coalesce(F.col("labels_raw"), F.lit("")) == "", F.create_map().cast(_TAGS)
    ).otherwise(F.map_from_arrays(keys, vals))
    return (
        samples.join(F.broadcast(types), "name")
        .select(
            F.when(
                F.col("ts_ms") != "", F.timestamp_millis(F.col("ts_ms").cast("long"))
            )
            .otherwise(F.current_timestamp())
            .alias("when"),
            F.col("ptype").alias("type"),
            F.lit("").alias("host"),
            "name",
            "value",
            tags.alias("tags"),
        )
    )


def parse_rejects(lines: DataFrame, col: str = "value") -> DataFrame:
    """Landing lines that fail to decode as JSON at all.

    The reference drops undecodable request bodies at-most-once and
    counts them (clickhouse_writer.go:124-150, internal_metrics.go:8-23
    — the ``result="dropped"`` label). Spark 4's PERMISSIVE from_json
    returns a null-field struct (not NULL) for malformed input, so
    decode failure is detected with ``try_parse_json`` instead; the
    surviving rows are the dead-letter set, and their ``count()`` feeds
    the self-metrics listener. Valid-but-empty JSON (``{}``) is NOT a
    reject — Go's json.Unmarshal accepts it as an empty batch, and so do
    the parsers here (explode of a null array emits nothing). A
    VALID-JSON scalar or array (``42``, ``[1,2]``) IS a reject: the Go
    reference's unmarshal-into-struct errors on it, while from_json
    would quietly emit zero rows — without this gate such lines would
    vanish from both the data and the drop counters.
    """
    c = F.col(col)
    # JSON whitespace is [ \t\n\r]; ltrim only strips spaces, so use a
    # regex for the leading-object check
    is_object = c.rlike(r"^[ \t\r\n]*\{")
    return lines.where(c.isNotNull() & (F.try_parse_json(c).isNull() | ~is_object))
