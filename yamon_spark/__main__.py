"""CLI entry points — the Spark restatement of the reference's three
binaries (cmd/yamon-server, cmd/yamon-agent, cmd/yamon-debug):

    python -m yamon_spark serve    --data-dir D --landing-dir L --checkpoint-dir C
    python -m yamon_spark agent    --landing-dir L [--ticks N --interval S]
    python -m yamon_spark scrape   URL --landing-dir L [--ticks N --interval S]
    python -m yamon_spark maintain --data-dir D
    python -m yamon_spark query    --data-dir D "SELECT ..."
    python -m yamon_spark debug    [collector]

`serve` composes receiver + streaming pipeline + engine (the server
binary); `agent` runs collection ticks into the landing zone (the agent
binary's producer loop — on a real deployment it runs on each host and
lands to shared/object storage); `debug` prints one collection tick as
typed rows (cmd/yamon-debug's Info/Collector commands). `maintain` and
`query` cover the scheduled-TTL/compaction job and ad-hoc SQL the
reference delegates to ClickHouse tooling.
"""

from __future__ import annotations

import argparse
import sys
import time


def _spark(app: str):
    from yamon_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_serve(args: argparse.Namespace) -> int:
    from yamon_spark.engine import serve

    for kv in args.key or []:
        if ":" not in kv:
            raise SystemExit(f"--key must be NAME:SECRET, got {kv!r}")
    keys = dict(kv.split(":", 1) for kv in args.key) if args.key else None
    host, port = args.host, args.port
    if args.config:
        # reference HCL server config (common/config.go:10-22): flags
        # explicitly given still win over the file
        from yamon_spark.config import load_server_config, server_plan

        plan = server_plan(load_server_config(args.config))
        if host is None:
            host = plan["host"]
        if port is None:
            port = plan["port"]
        if keys is None:
            keys = plan["keys"]
        if plan["clickhouse"]:
            print(
                "note: clickhouse block parsed "
                f"(targets={plan['clickhouse']['targets']}); wire it via "
                "streaming.clickhouse.ClickHouseSinkConfig + PipelineConfig.clickhouse"
            )
    if host is None:
        host = "127.0.0.1"
    if port is None:
        port = 0
    receiver, queries, _engine = serve(
        _spark("yamon-serve"),
        data_dir=args.data_dir,
        landing_dir=args.landing_dir,
        checkpoint_dir=args.checkpoint_dir,
        keys=keys,
        host=host,
        port=port,
        trigger={"processingTime": f"{args.trigger_seconds} seconds"},
        hot_tag_keys=tuple(args.hot_tag or ()),
        deadman_horizon_s=args.deadman_horizon,
    )
    print(f"listening on {host}:{receiver.port}; {len(queries)} streaming queries running")
    try:
        while True:
            time.sleep(1)
    except KeyboardInterrupt:
        pass
    finally:
        receiver.stop()
        for q in queries:
            q.stop()
    return 0


def cmd_agent(args: argparse.Namespace) -> int:
    from yamon_spark.sources.producer import snapshot_once

    sources = None
    if args.config:
        # reference HCL agent config (common/config.go:24-75): collector
        # gates apply to the snapshot sources; scrape/tail/script/journal
        # followers are listed in the plan (each names its implementing
        # function; --dry-run prints the full mapped plan and exits)
        import json

        from yamon_spark.config import agent_plan, load_daemon_config

        plan = agent_plan(load_daemon_config(args.config))
        sources = plan["sources"]
        if args.dry_run:
            print(json.dumps(plan, indent=1))
            return 0
    elif args.dry_run:
        raise SystemExit("--dry-run requires --config")
    for i in range(args.ticks):
        path = snapshot_once(args.landing_dir, sources=sources)
        print(path or "(nothing collectable)")
        if args.interval and i + 1 < args.ticks:
            time.sleep(args.interval)
    return 0


def cmd_scrape(args: argparse.Namespace) -> int:
    from yamon_spark.sources.scrape import scrape_interval

    paths = scrape_interval(args.url, args.landing_dir, ticks=args.ticks, interval_s=args.interval)
    for p in paths:
        print(p)
    return 0 if paths else 1


def cmd_maintain(args: argparse.Namespace) -> int:
    import json

    from yamon_spark.engine import Engine

    out = Engine(_spark("yamon-maintain"), args.data_dir).maintain()
    print(json.dumps(out, indent=1))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from yamon_spark.engine import Engine

    Engine(_spark("yamon-query"), args.data_dir).sql(args.sql).show(args.limit, truncate=False)
    return 0


def cmd_debug(args: argparse.Namespace) -> int:
    """One collection tick, parsed to typed rows (cmd/yamon-debug)."""
    import json

    from yamon_spark.sources.producer import collect_snapshots, parse_snapshots

    spark = _spark("yamon-debug")
    snaps = collect_snapshots()
    if args.collector:
        snaps = [s for s in snaps if s.source == args.collector]
        if not snaps:
            print(f"no snapshot for collector '{args.collector}'", file=sys.stderr)
            return 1
    else:
        print("collected:", ", ".join(sorted(s.source for s in snaps)))
    lines = spark.createDataFrame(
        [(json.dumps({"source": s.source, "captured_at": s.captured_at, "text": s.text}),)
         for s in snaps],
        "value string",
    )
    parse_snapshots(lines).orderBy("name").show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="yamon_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("serve", help="receiver + streaming pipeline + engine")
    s.add_argument("--data-dir", required=True)
    s.add_argument("--landing-dir", required=True)
    s.add_argument("--checkpoint-dir", required=True)
    # None default = "not explicitly given", so flag-vs-config precedence
    # is decidable: an explicit --host/--port ALWAYS wins over the HCL file
    s.add_argument("--host", default=None)
    s.add_argument("--port", type=int, default=None)
    s.add_argument("--trigger-seconds", type=int, default=5)
    s.add_argument("--key", action="append", metavar="NAME:SECRET",
                   help="enable submit-batch auth (repeatable)")
    s.add_argument("--hot-tag", action="append", metavar="KEY",
                   help="materialize IO-skipping scalar column for this tag key (repeatable)")
    s.add_argument("--deadman-horizon", type=int, default=None, metavar="SECONDS",
                   help="start the live silence alerter with this horizon")
    s.add_argument("--config", default=None, metavar="SERVER_HCL",
                   help="reference-compatible HCL server config (bind/keys/clickhouse)")
    s.set_defaults(fn=cmd_serve)

    a = sub.add_parser("agent", help="collection ticks -> landing zone")
    a.add_argument("--landing-dir", required=True)
    a.add_argument("--ticks", type=int, default=1)
    a.add_argument("--interval", type=float, default=15.0)
    a.add_argument("--config", default=None, metavar="AGENT_HCL",
                   help="reference-compatible HCL agent config (collector gates etc.)")
    a.add_argument("--dry-run", action="store_true",
                   help="print the mapped agent plan from --config and exit")
    a.set_defaults(fn=cmd_agent)

    sc = sub.add_parser("scrape", help="Prometheus pull -> landing zone")
    sc.add_argument("url")
    sc.add_argument("--landing-dir", required=True)
    sc.add_argument("--ticks", type=int, default=1)
    sc.add_argument("--interval", type=float, default=15.0)
    sc.set_defaults(fn=cmd_scrape)

    m = sub.add_parser("maintain", help="TTL drops + compaction over a data dir")
    m.add_argument("--data-dir", required=True)
    m.set_defaults(fn=cmd_maintain)

    q = sub.add_parser("query", help="ad-hoc SQL over the pipeline tables")
    q.add_argument("--data-dir", required=True)
    q.add_argument("sql")
    q.add_argument("--limit", type=int, default=50)
    q.set_defaults(fn=cmd_query)

    d = sub.add_parser("debug", help="run collectors once, print typed rows")
    d.add_argument("collector", nargs="?", default=None)
    d.add_argument("--limit", type=int, default=40)
    d.set_defaults(fn=cmd_debug)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
