"""D18 observability: Prometheus ``/metrics`` + debug endpoints.

The reference mounts ``promhttp.Handler()`` (Go runtime/process
collectors) and ``net/http/pprof`` on ``DebuggingConfig.Bind`` when
``debugging.metrics`` is set (debug_server.go:32-47, config.go:26-31),
and adds grpc-prometheus server interceptors — RPC started/handled
counters by method and code (ingest_service.go:52-66). No custom
application counters exist in the reference; all ingest visibility
comes from the RPC interceptors.

This module implements the same surface with the *intended* semantics
in pure stdlib (prometheus_client is env-blocked like everything else):

- a process-wide, thread-safe counter registry with labels
- the Prometheus text exposition format 0.0.4 at ``/metrics``
- process gauges read from ``/proc`` (RSS, CPU seconds, open fds,
  thread count) — the client_golang process-collector analog
- ``/debug/threads`` — a live all-threads stack dump, the Python
  analog of pprof's goroutine profile (``/debug/pprof/goroutine?debug=2``)

Beyond the interceptor parity, the front doors record what an operator
of THIS engine actually needs (the grpc-prometheus labels say nothing
about batch outcomes):

- ``bristle_ingest_batches_total{transport,result}`` — acks by
  BatchResult name across socket / grpc-streaming / grpc-unary
- ``bristle_ingest_rows_total{table}`` / ``bristle_ingest_payload_bytes_total{table}``
  — durably landed rows and payload bytes per sink table
- ``bristle_ingest_drain_microbatches_total{table}`` /
  ``bristle_ingest_drain_rows_total{table}`` — micro-batches the
  streaming drain ran and payload rows it read, per sink table (the
  rows from the query's progress events, so neither costs a Spark job;
  a run that outlasts the retained events adds no rows and warns)
- ``bristle_rpc_started_total{method}`` / ``bristle_rpc_handled_total{method,code}``
  — the grpc-prometheus interceptor pair

100 TB shape: counters are per-process; N front-door processes behind a
load balancer each expose their own ``/metrics`` and Prometheus sums
across targets — exactly how the reference deploys.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class CounterVec:
    """A labeled monotonic counter (prometheus CounterVec analog)."""

    def __init__(self, name: str, help_text: str, label_names: tuple[str, ...]) -> None:
        self.name = name
        self.help = help_text
        self.label_names = label_names
        self._values: dict[tuple[str, ...], float] = {}
        self._lock = threading.Lock()

    def inc(self, *labels: str, by: float = 1.0) -> None:
        if len(labels) != len(self.label_names):
            raise ValueError(f"{self.name}: expected {self.label_names}, got {labels}")
        key = tuple(str(v) for v in labels)
        with self._lock:
            self._values[key] = self._values.get(key, 0.0) + by

    def value(self, *labels: str) -> float:
        with self._lock:
            return self._values.get(tuple(str(v) for v in labels), 0.0)

    def samples(self) -> list[tuple[tuple[str, ...], float]]:
        with self._lock:
            return sorted(self._values.items())


class MetricsRegistry:
    """Thread-safe registry rendering the text exposition format."""

    def __init__(self) -> None:
        self._counters: dict[str, CounterVec] = {}
        self._lock = threading.Lock()

    def counter(
        self, name: str, help_text: str, label_names: tuple[str, ...]
    ) -> CounterVec:
        with self._lock:
            c = self._counters.get(name)
            if c is None:
                c = CounterVec(name, help_text, label_names)
                self._counters[name] = c
            elif c.label_names != label_names:
                raise ValueError(f"{name} re-registered with different labels")
            return c

    @staticmethod
    def _escape(v: str) -> str:
        return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

    def render(self) -> str:
        """Prometheus text exposition format 0.0.4."""
        out: list[str] = []
        with self._lock:
            counters = sorted(self._counters.values(), key=lambda c: c.name)
        for c in counters:
            out.append(f"# HELP {c.name} {c.help}")
            out.append(f"# TYPE {c.name} counter")
            for key, val in c.samples():
                if c.label_names:
                    lbl = ",".join(
                        f'{n}="{self._escape(v)}"'
                        for n, v in zip(c.label_names, key)
                    )
                    out.append(f"{c.name}{{{lbl}}} {_fmt(val)}")
                else:
                    out.append(f"{c.name} {_fmt(val)}")
        out.extend(_process_metrics())
        return "\n".join(out) + "\n"


def _fmt(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(v)


def _process_metrics() -> list[str]:
    """client_golang process-collector analog, from /proc/self."""
    out: list[str] = []
    try:
        with open("/proc/self/stat") as fh:
            # fields after the parenthesised comm (which may hold spaces)
            rest = fh.read().rpartition(")")[2].split()
        tick = os.sysconf("SC_CLK_TCK")
        utime, stime = int(rest[11]), int(rest[12])
        n_threads = int(rest[17])
        rss_pages = int(rest[21])
        page = os.sysconf("SC_PAGE_SIZE")
        out += [
            "# HELP process_cpu_seconds_total Total user and system CPU time.",
            "# TYPE process_cpu_seconds_total counter",
            f"process_cpu_seconds_total {(utime + stime) / tick}",
            "# HELP process_resident_memory_bytes Resident memory size in bytes.",
            "# TYPE process_resident_memory_bytes gauge",
            f"process_resident_memory_bytes {rss_pages * page}",
            "# HELP process_threads Current thread count.",
            "# TYPE process_threads gauge",
            f"process_threads {n_threads}",
        ]
    except (OSError, ValueError, IndexError):
        pass  # non-Linux: the app counters above still render
    try:
        n_fds = len(os.listdir("/proc/self/fd"))
        out += [
            "# HELP process_open_fds Number of open file descriptors.",
            "# TYPE process_open_fds gauge",
            f"process_open_fds {n_fds}",
        ]
    except OSError:
        pass
    return out


# process-wide default registry + the instrumented families
REGISTRY = MetricsRegistry()

BATCHES = REGISTRY.counter(
    "bristle_ingest_batches_total",
    "Write batches acked, by front-door transport and BatchResult.",
    ("transport", "result"),
)
ROWS = REGISTRY.counter(
    "bristle_ingest_rows_total",
    "Rows durably landed in payload files, per sink table.",
    ("table",),
)
PAYLOAD_BYTES = REGISTRY.counter(
    "bristle_ingest_payload_bytes_total",
    "Payload body bytes durably landed, per sink table.",
    ("table",),
)
DRAIN_MICROBATCHES = REGISTRY.counter(
    "bristle_ingest_drain_microbatches_total",
    "Micro-batches run by the streaming drain, per sink table.",
    ("table",),
)
DRAIN_ROWS = REGISTRY.counter(
    "bristle_ingest_drain_rows_total",
    "Landed payload rows read by the streaming drain, per sink table. A drain "
    "run of more micro-batches than Spark keeps progress events for "
    "(spark.sql.streaming.numRecentProgressUpdates, 100) adds none.",
    ("table",),
)
RPC_STARTED = REGISTRY.counter(
    "bristle_rpc_started_total",
    "RPCs started on the gRPC front door, by method.",
    ("method",),
)
RPC_HANDLED = REGISTRY.counter(
    "bristle_rpc_handled_total",
    "RPCs completed on the gRPC front door, by method and grpc code.",
    ("method", "code"),
)


def _thread_dump() -> str:
    """All-threads stack dump (pprof goroutine-profile analog)."""
    names = {t.ident: t.name for t in threading.enumerate()}
    parts = [f"thread dump @ {time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime())}"]
    for ident, frame in sorted(sys._current_frames().items()):
        parts.append(f"\n--- thread {ident} ({names.get(ident, '?')}) ---")
        parts.append("".join(traceback.format_stack(frame)))
    return "\n".join(parts)


class _Handler(BaseHTTPRequestHandler):
    registry: MetricsRegistry = REGISTRY
    metrics_enabled: bool = True

    def do_GET(self) -> None:  # noqa: N802 (stdlib API)
        path = self.path.split("?", 1)[0]
        if path == "/metrics" and self.metrics_enabled:
            body = self.registry.render().encode()
            ctype = "text/plain; version=0.0.4; charset=utf-8"
        elif path in ("/debug/threads", "/debug/pprof/goroutine"):
            body = _thread_dump().encode()
            ctype = "text/plain; charset=utf-8"
        else:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # silence per-request stderr
        pass


class DebugServer:
    """The debug_server.go analog: an HTTP server exposing /metrics
    (when enabled) and the thread-dump debug endpoint, started from the
    config's ``debugging`` block and stopped on server shutdown."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        registry: MetricsRegistry = REGISTRY,
        metrics_enabled: bool = True,
    ) -> None:
        handler = type(
            "_BoundHandler",
            (_Handler,),
            {"registry": registry, "metrics_enabled": metrics_enabled},
        )
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self.host, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> "DebugServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, kwargs={"poll_interval": 0.1},
            daemon=True,
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> "DebugServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def debug_server_from_config(cfg: dict) -> DebugServer | None:
    """Start a DebugServer if the config asks for one
    (``debugging: {bind, metrics}`` — config.go:26-31; metrics=false
    still serves the debug endpoints, matching the reference where
    pprof mounts unconditionally and /metrics is gated)."""
    dbg = (cfg or {}).get("debugging")
    if not dbg or not dbg.get("bind"):
        return None
    host, _, port = str(dbg["bind"]).rpartition(":")
    return DebugServer(
        host or "127.0.0.1", int(port), metrics_enabled=bool(dbg.get("metrics", True))
    ).start()
