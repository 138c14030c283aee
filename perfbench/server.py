"""The process under test for the ingest workloads.

Runs ``IngestServer`` behind one front door (``IngestSocketService`` or
``GrpcIngestService``) on a data root given by the caller, and talks to
the load generator (``run.py``) over two pipes: commands arrive as JSON
lines on stdin, events leave as JSON lines on the file descriptor named
by ``--pipe``. Stdout is left to the program and Spark.

With ``--spark`` the server owns a SparkSession and can drain its
landing zone with ``IngestServer.pump``; without it, it is the thin
ingress the service documents (validate and land, nothing else).

Usage (normally started by run.py):
    python3 perfbench/server.py --transport socket|grpc --root DIR \
        --pipe FD [--spark] [--trace] [--spans-out FILE]

Spark's core count comes from ``SPARK_GRAFT_CPUS``, which run.py sets.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spans import Recorder, self_times  # noqa: E402

TABLE_DIR = "finnhub__trades"


def table_config(binding) -> dict:
    """IngestServer config for one day-partitioned table bound to
    ``binding`` (the shape of the reference's example configs)."""
    return {
        "tables": [
            {
                "name": binding.sink_table,
                "ts_column": "trade_time",
                "columns": [
                    {"name": c.name, "type": c.ch_type, "default": c.default}
                    for c in binding.sink_columns
                ],
                "messages": [binding.message_name],
            }
        ],
        "messages": {
            binding.message_name: {
                "fields": [
                    {
                        "number": f.number,
                        "name": f.name,
                        "kind": f.kind,
                        "repeated": f.repeated,
                        "column": f.column,
                        "json_name": f.json_name,
                    }
                    for f in binding.fields
                ]
            }
        },
    }


def sink_rows(sink_dir: str) -> int:
    """Rows in every parquet part under ``sink_dir`` (footers only)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(sink_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, f)).num_rows
    return total


class DrainListener:
    """Collects ``StreamingQueryProgress.durationMs`` per micro-batch."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.run_ids: list[str] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                outer.progress.append(
                    {"rows": p.numInputRows, **{k: float(v) for k, v in p.durationMs.items()}}
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _L()


def install_wrappers(rec: Recorder) -> None:
    """Time the ingest layers from outside the program: the service's
    batch path, landing, frame splitting inside it, and the HTTP/2 and
    HPACK receive paths. ``process_batch`` and ``land_payload`` are
    looked up as module globals at call time, so patching the module
    attribute reaches every caller. The per-message decode is left
    unwrapped (a shim per message would double its cost); its time is
    what ``process_batch`` spends outside splitting and landing."""
    from bristle_spark.ingest import h2, hpack, wire
    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.server import IngestServer

    rec.wrap(
        svc,
        "process_batch",
        "service.process_batch",
        lambda a, k: f"{os.path.basename(a[0].data_root)}:{a[2]['id']}",
    )
    rec.wrap(svc, "land_payload", "landing.land_payload")
    rec.wrap(wire, "split_frames", "wire.split_frames", count_of=len)
    rec.wrap(h2.H2Connection, "receive_data", "h2.receive_data")
    rec.wrap(hpack.Decoder, "decode", "hpack.decode")
    rec.wrap(IngestServer, "pump", "server.pump")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transport", choices=["socket", "grpc"], required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--pipe", type=int, required=True)
    ap.add_argument("--spark", action="store_true")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans-out", default="")
    args = ap.parse_args()
    out = os.fdopen(args.pipe, "w", buffering=1)

    def emit(**event) -> None:
        out.write(json.dumps(event) + "\n")

    stamps = {"start": time.monotonic()}
    rec = Recorder(args.trace)
    from bristle_spark.ingest import grpc_transport, metrics
    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.fixtures import finnhub_binding
    from bristle_spark.ingest.server import IngestServer

    if args.trace:
        install_wrappers(rec)
    binding = finnhub_binding()
    spark = None
    listener = None
    if args.spark:
        from bristle_spark.session import get_spark

        local = os.path.join(args.root, "spark-local")
        spark = get_spark(
            app_name="perfbench-ingest",
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(args.root, "warehouse"),
            },
        )
        spark.range(1).count()
        if args.trace:
            listener = DrainListener()
            spark.streams.addListener(listener.listener)
    stamps["session"] = time.monotonic()

    cfg_path = os.path.join(args.root, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(table_config(binding), fh)
    service_cls = (
        svc.IngestSocketService if args.transport == "socket" else grpc_transport.GrpcIngestService
    )
    server = IngestServer(spark, cfg_path, os.path.join(args.root, "data"))
    service = service_cls(server).start()
    warm_server = warm_service = None
    if args.spark:
        warm_server = IngestServer(spark, cfg_path, os.path.join(args.root, "warm"))
        warm_service = service_cls(warm_server).start()
    stamps["server"] = time.monotonic()
    emit(
        event="ready",
        port=service.port,
        warm_port=warm_service.port if warm_service else None,
        stamps=stamps,
    )

    sink_dir = os.path.join(args.root, "data", "sink", TABLE_DIR)
    since = 0.0
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            op = cmd["op"]
            if op == "pump_warm":
                warm_server.pump()
                warm_service.stop()
                warm_service = None
                got = sink_rows(os.path.join(args.root, "warm", "sink", TABLE_DIR))
                if listener is not None:
                    listener.progress.clear()
                    listener.run_ids.clear()
                emit(event="warm_done", rows=got)
            elif op == "mark":
                since = time.monotonic()
                emit(event="marked")
            elif op == "drain":
                expected = int(cmd["rows"])
                t0 = time.monotonic()
                pumps = microbatches = 0
                rows = sink_rows(sink_dir)
                while rows < expected and pumps < 20:
                    microbatches += sum(server.pump().values())
                    pumps += 1
                    rows = sink_rows(sink_dir)
                drain_s = time.monotonic() - t0
                stats = {"drain_s": drain_s, "rows": rows, "pumps": pumps, "microbatches": microbatches}
                if listener is not None:
                    # listener events arrive asynchronously on the bus
                    deadline = time.monotonic() + 5
                    while len(listener.progress) < microbatches and time.monotonic() < deadline:
                        time.sleep(0.05)
                    stats["progress"] = list(listener.progress)
                    # a streaming query tags its jobs with its run id
                    tracker = spark.sparkContext.statusTracker()
                    jobs = [j for r in listener.run_ids for j in tracker.getJobIdsForGroup(r)]
                    stats["jobs"] = len(jobs)
                    stats["stages"] = sum(
                        len(info.stageIds)
                        for info in (tracker.getJobInfo(j) for j in jobs)
                        if info is not None
                    )
                emit(event="drained", **stats)
            elif op == "stats":
                emit(
                    event="stats",
                    rows_counter=metrics.ROWS.value(binding.sink_table),
                    bytes_counter=metrics.PAYLOAD_BYTES.value(binding.sink_table),
                    layers=layer_stats(rec, since),
                )
            elif op == "stop":
                break
    finally:
        service.stop()
        if warm_service is not None:
            warm_service.stop()
        if spark is not None:
            spark.stop()
        if args.trace and args.spans_out:
            rec.dump(args.spans_out)
        emit(event="stopped")
        out.close()


def layer_stats(rec: Recorder, since: float) -> dict:
    """Server-side timings (ms) per batch, keyed by '<root>:<batch id>',
    and span self times from ``since`` on, for the generator to turn
    into per-layer metrics."""
    if not rec.enabled:
        return {}
    spans = list(rec.spans)
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    per_batch = {}
    for s in spans:
        if s.name != "service.process_batch":
            continue
        under = kids.get(s.sid, [])
        split = [c for c in under if c.name == "wire.split_frames"]
        landing = [c.duration * 1e3 for c in under if c.name == "landing.land_payload"]
        split_ms = sum(c.duration * 1e3 for c in split)
        per_batch[s.tag] = {
            "process_ms": s.duration * 1e3,
            "decode_ms": s.duration * 1e3 - split_ms - sum(landing),
            "messages": sum(c.counts.get("n", 0) for c in split),
            "split_ms": split_ms,
            "landing_ms": landing[0] if landing else None,
        }
    recv = [s.duration * 1e3 for s in spans if s.name == "h2.receive_data" and s.start >= since]
    return {
        "per_batch": per_batch,
        "h2_receive_ms": recv,
        "self_s": self_times([s for s in spans if s.start >= since]),
    }


if __name__ == "__main__":
    main()
