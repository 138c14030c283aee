"""Command-line entry points — the operational surface a bristle user
switches to (reference: the bristle server binary + the
bristle-forward-json CLI, cmd/bristle-forward-json/main.go:184-219).

    python -m bristle_spark ingest         --config CONFIG --type MSG --input DIR --sink DIR
    python -m bristle_spark ingest-stream  --config CONFIG --type MSG --input DIR --sink DIR --checkpoint DIR
    python -m bristle_spark forward-json   --config CONFIG --type MSG --input FILE --sink DIR
    python -m bristle_spark query          --name r_hash_agg [--sf-dir DIR] [--limit N]
    python -m bristle_spark list-queries

ingest reads parquet payload files with columns (type string,
body binary); ingest-stream drains a landing dir as the front doors
write it (the binding's raw columns plus body, service.land_payload);
forward-json reads JSON-lines text (protojson field names). Sinks are
parquet, day-partitioned when --ts-column is given.
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from bristle_spark.session import get_spark

    return get_spark(app_name=app)


def cmd_ingest(args: argparse.Namespace) -> int:
    from bristle_spark.ingest import pipeline
    from bristle_spark.ingest.config import registry_from_json

    spark = _spark("bristle-ingest")
    binding = registry_from_json(args.config).for_type(args.type)
    payloads = spark.read.parquet(args.input)
    out = pipeline.ingest(payloads, binding)
    pipeline.write_sink(out, args.sink, ts_column=args.ts_column, mode="append")
    n = spark.read.parquet(args.sink).count()
    print(f"ingested; sink now holds {n} rows", file=sys.stderr)
    return 0


def cmd_ingest_stream(args: argparse.Namespace) -> int:
    from bristle_spark.ingest.config import registry_from_json
    from bristle_spark.ingest.service import prepare_landing
    from bristle_spark.streaming.ingest_stream import run_stream_ingest

    spark = _spark("bristle-ingest-stream")
    binding = registry_from_json(args.config).for_type(args.type)
    # a landing dir of the older (type, body) layout would read back as
    # all-null raw columns: upgrade it first, as a server start does
    prepare_landing(args.input, binding)
    n = run_stream_ingest(
        spark,
        args.input,
        binding,
        args.sink,
        args.checkpoint,
        ts_column=args.ts_column,
    )
    print(f"processed {n} micro-batches", file=sys.stderr)
    return 0


def cmd_forward_json(args: argparse.Namespace) -> int:
    from bristle_spark.ingest.config import registry_from_json

    if args.connect:
        # live producer mode (reference cmd/bristle-forward-json): read
        # lines driver-side, encode protojson -> wire, stream batches to
        # the TCP front door with the client batcher (D14), acked.
        from bristle_spark.ingest.forwarder import forward_json_lines

        binding = registry_from_json(args.config).for_type(args.type)
        host, _, port = args.connect.rpartition(":")
        with open(args.input) as fh:
            stats = forward_json_lines(
                fh, host or "127.0.0.1", int(port), binding,
                max_buffer=args.max_buffer, type_name=args.type,
            )
        print(
            f"forwarded {stats.n_sent}/{stats.n_lines} rows "
            f"({stats.n_skipped} malformed skipped) in {stats.n_batches} "
            f"batches: {stats.results}",
            file=sys.stderr,
        )
        return 0 if stats.results.keys() <= {"OK"} else 1

    from bristle_spark.ingest import pipeline
    from bristle_spark.ingest.json_source import ingest_json_lines

    spark = _spark("bristle-forward-json")
    binding = registry_from_json(args.config).for_type(args.type)
    lines = spark.read.text(args.input)
    out = ingest_json_lines(lines, binding)
    pipeline.write_sink(out, args.sink, ts_column=args.ts_column)
    print(f"forwarded {out.count()} rows", file=sys.stderr)
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    """Run the reload-capable ingest server (reference server binary:
    config -> registries -> writer group; SIGHUP reload analog via
    --reload-between-pumps for scripted testing). With --listen the
    wire-protocol TCP front door accepts client sessions between pump
    cycles (reference ingest_service.go:63-74); --grpc-listen mounts
    the HTTP/2-gRPC front door (both public RPCs) the same way."""
    import json as _json

    from bristle_spark.ingest.server import IngestServer

    spark = _spark("bristle-serve")
    server = IngestServer(spark, args.config, args.data_root)
    # D18: /metrics + debug endpoints when the config has a debugging
    # block (debug_server.go:32-47 analog)
    from bristle_spark.ingest.metrics import debug_server_from_config

    debug = debug_server_from_config(server.config)
    if debug is not None:
        print(
            _json.dumps({"debug": f"{debug.host}:{debug.port}"}), file=sys.stderr
        )
    from bristle_spark.ingest.grpc_transport import GrpcIngestService
    from bristle_spark.ingest.service import IngestSocketService

    services = []
    for listen, service_cls, key in (
        (args.listen, IngestSocketService, "listening"),
        (getattr(args, "grpc_listen", None), GrpcIngestService, "grpc"),
    ):
        if listen:
            host, _, port = listen.rpartition(":")
            service = service_cls(server, host or "127.0.0.1", int(port)).start()
            services.append(service)
            print(_json.dumps({key: f"{service.host}:{service.port}"}), file=sys.stderr)
    try:
        for i in range(args.pumps):
            if i > 0 and args.reload_between_pumps:
                ok = server.reload()
                print(_json.dumps({"reload": "applied" if ok else "kept-old"}), file=sys.stderr)
            if args.pump_interval > 0 and i > 0:
                import time

                time.sleep(args.pump_interval)
            stats = server.pump()
            if args.compact_every and (i + 1) % args.compact_every == 0:
                merged = server.compact()
                print(f"[serve] compacted: {merged}", file=sys.stderr)
            print(_json.dumps({"pump": i, "batches": stats}))
    finally:
        for service in services:
            service.stop()
        if debug is not None:
            debug.stop()
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Merge small parts in the day-partitioned sink (the MergeTree
    background-merge analog; reference README.md:6)."""
    import json as _json

    from bristle_spark.ingest.maintenance import compact_sink

    spark = _spark("bristle-compact")
    result = compact_sink(
        spark,
        args.path,
        order_by=args.order_by.split(",") if args.order_by else None,
        min_files=args.min_files,
    )
    print(_json.dumps(result))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from bristle_spark.registry import all_specs

    spark = _spark("bristle-query")
    spec = all_specs().get(args.name)
    if spec is None:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    df = spec.fn(spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_list_queries(args: argparse.Namespace) -> int:
    from bristle_spark.registry import all_specs

    for name, spec in sorted(all_specs().items()):
        kind = "oracle" if spec.oracle else "rows-only"
        print(f"{name:28s} [{spec.group}/{kind}] {spec.doc.strip().splitlines()[0] if spec.doc else ''}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bristle_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_ingest_common(sp):
        sp.add_argument("--config", required=True)
        sp.add_argument("--type", required=True, help="message full name")
        sp.add_argument("--input", required=True)
        sp.add_argument("--sink", required=True)
        sp.add_argument("--ts-column", default=None)

    sp = sub.add_parser("ingest", help="batch payload parquet -> sink")
    add_ingest_common(sp)
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser("ingest-stream", help="checkpointed streaming ingest")
    add_ingest_common(sp)
    sp.add_argument("--checkpoint", required=True)
    sp.set_defaults(fn=cmd_ingest_stream)

    sp = sub.add_parser("forward-json", help="JSON-lines -> sink (D16)")
    add_ingest_common(sp)
    sp.add_argument("--connect", default=None,
                    help="HOST:PORT of a live front door (producer mode)")
    sp.add_argument("--max-buffer", type=int, default=100_000,
                    help="client batcher flush threshold (D14)")
    sp.set_defaults(fn=cmd_forward_json)

    sp = sub.add_parser("compact", help="merge small sink parts (MergeTree merge analog)")
    sp.add_argument("--path", required=True, help="day-partitioned sink directory")
    sp.add_argument("--order-by", default=None, help="comma-separated ORDER BY columns")
    sp.add_argument("--min-files", type=int, default=2)
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser("serve", help="reload-capable ingest server (pump cycles)")
    sp.add_argument("--config", required=True)
    sp.add_argument("--data-root", required=True)
    sp.add_argument("--pumps", type=int, default=1)
    sp.add_argument("--reload-between-pumps", action="store_true")
    sp.add_argument("--listen", default=None, help="HOST:PORT for the wire-protocol TCP front door")
    sp.add_argument("--grpc-listen", default=None,
                    help="HOST:PORT for the HTTP/2-gRPC front door (Streaming + WriteBatch)")
    sp.add_argument("--pump-interval", type=float, default=0.0, help="seconds between pump cycles")
    sp.add_argument("--compact-every", type=int, default=0,
                    help="run the MergeTree-merge analog after every N pumps (0 = never)")
    sp.set_defaults(fn=cmd_serve)

    sp = sub.add_parser("query", help="run a declared query")
    sp.add_argument("--name", required=True)
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("list-queries", help="list the declared-query registry")
    sp.set_defaults(fn=cmd_list_queries)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
