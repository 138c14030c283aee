"""bristle ingest-and-query benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see NOTES.md for why each
exists and which layer metric should move which end-to-end metric):

  ingest_socket_bulk  5000-row finnhub batches through the TCP front
                      door, closed loop for S seconds, no drain, no Spark
  ingest_grpc_mixed   a fixed backlog of 100- and 5000-row batches
                      through the gRPC front door, then drained into the
                      day-partitioned sink with IngestServer.pump
  query_mix           oracle-backed registry keys on seeded star-schema
                      tables, build plus execute, warm-up then timed rounds

This process is the load generator: it makes every input from the seed
before the process under test starts, then drives that process (server.py
or querymix.py) through the program's public client and query APIs. All
scratch files live under ``.perfbench/`` in the checkout and the run's
own directory is removed at exit. Human-readable lines go first; the
last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import geomean, median, percentile  # noqa: E402

WORKLOADS = ("ingest_socket_bulk", "ingest_grpc_mixed", "query_mix")

SOCKET_BATCH_ROWS = 5000
SOCKET_POOL_BATCHES = 8  # distinct pre-encoded batches, sent in turn
SOCKET_WARMUP_BATCHES = 60
SOCKET_SETUPS = 3  # server starts per run; setup_s is their median

GRPC_GROUP = (100, 100, 100, 100, 5000)  # four small batches per full one
GRPC_GROUPS = 6  # backlog = 30 batches, 32,400 rows
GRPC_WARMUP_GROUPS = 1

QUERY_SCALE = 0.02  # star-schema size as a fraction of TPC-H sf1
# ten build- or schema-inference-dominated keys, then two execution-
# dominated ones; none reaches a memo cache
QUERY_KEYS = (
    "r_hash_agg",
    "r_filter_predicates",
    "r_distinct_count",
    "r_join_multi",
    "r_window_rank",
    "r_asof_join",
    "r_percentiles",
    "t_cast_int_widths",
    "t_map_to_arrays",
    "l_text_stats",
    "r_rollup_cascade",
    "l_ann_ivf",
)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them: the report prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


READY_TIMEOUT_S = 90
RUN_DEADLINE_S = 170


class BenchError(RuntimeError):
    """The run cannot produce a result (the program is missing, a child
    died, or a deadline passed)."""


def say(line: str) -> None:
    print(line, flush=True)


# ------------------------------------------------------------ processes


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM a Spark child starts), so
    ``reap`` can wait for every process this run started."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


class Child:
    """A process under test: commands go to its stdin, JSON events come
    back on a dedicated pipe, and its stdout/stderr go to a log file."""

    def __init__(self, argv: list[str], env: dict, log_path: str) -> None:
        r, w = os.pipe()
        self.log_path = log_path
        self.log = open(log_path, "w")
        self.closed = False
        self.t_spawn = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, *argv, "--pipe", str(w)],
            cwd=ROOT,
            env=env,
            stdin=subprocess.PIPE,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            pass_fds=(w,),
            start_new_session=True,
            text=True,
        )
        os.close(w)
        self._fd = r
        self._buf = b""

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def expect(self, event: str, timeout: float) -> dict:
        """Next event named ``event`` (earlier events are skipped)."""
        deadline = time.monotonic() + timeout
        while True:
            while b"\n" in self._buf:
                line, self._buf = self._buf.split(b"\n", 1)
                msg = json.loads(line)
                if msg.get("event") == event:
                    return msg
            left = deadline - time.monotonic()
            if left <= 0 or not select.select([self._fd], [], [], left)[0]:
                raise BenchError(f"timed out waiting for '{event}'\n{self.log_tail()}")
            chunk = os.read(self._fd, 1 << 20)
            if not chunk:
                raise BenchError(f"process under test exited before '{event}'\n{self.log_tail()}")
            self._buf += chunk

    def log_tail(self, n: int = 30) -> str:
        self.log.flush()
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def close(self, timeout: float = 30.0) -> None:
        """Ask politely (stdin EOF), then terminate and kill the whole
        process group, and wait for every member to end."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self._signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                self._signal(signal.SIGKILL)
                self.proc.wait()
        reap(self.proc.pid)
        os.close(self._fd)
        self.log.close()
        self.closed = True

    def _signal(self, sig: int) -> None:
        try:
            os.killpg(self.proc.pid, sig)
        except ProcessLookupError:
            pass


def reap(pgid: int, timeout: float = 20.0) -> None:
    """Wait until no process of group ``pgid`` is left, reaping the
    adopted ones; kill the group if it outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def child_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # keep the JVM's scratch (hsperfdata, java.io.tmpdir) in the run dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_rotation(pid: int):
    """``pin(i)`` for ``timed_acks``: moves every thread of process
    ``pid`` to the i-th CPU of this process's set, in turn. The vCPUs of
    a shared host run at different, drifting speeds, and a one-thread
    server left where the scheduler put it runs a whole run on one of
    them; rotating samples every vCPU equally in every run."""
    cpus = sorted(os.sched_getaffinity(0))

    def pin(i: int) -> None:
        cpu = {cpus[i % len(cpus)]}
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                os.sched_setaffinity(int(tid), cpu)
            except (ProcessLookupError, PermissionError):
                pass

    return pin


# ------------------------------------------------------------- payloads


def encode_bodies(rows: list[tuple]) -> list[bytes]:
    from bristle_spark.ingest import wire

    return [
        wire.encode_message(
            [
                (1, "string", sym, False),
                (2, "double", price, False),
                (3, "uint64", ts, False),
                (4, "double", vol, False),
                (5, "string", conds, True),
            ]
        )
        for sym, price, ts, vol, conds in rows
    ]


def checksum(rows: list[tuple]) -> dict:
    """Exact integer sums over the rows (prices are whole cents)."""
    return {
        "rows": len(rows),
        "price_cents": sum(round(r[1] * 100) for r in rows),
        "time_ms": sum(r[2] for r in rows),
        "volume": sum(int(r[3]) for r in rows),
        "conditions": sum(len(r[4]) for r in rows),
    }


def sink_checksum(sink_dir: str) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = {"rows": 0, "price_cents": 0, "time_ms": 0, "volume": 0, "conditions": 0}
    for root, _dirs, files in os.walk(sink_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(
                os.path.join(root, f),
                columns=["price", "trade_time", "volume", "trade_conditions"],
            )
            out["rows"] += t.num_rows
            out["price_cents"] += int(pc.sum(pc.round(pc.multiply(t["price"], 100))).as_py() or 0)
            ms = pc.cast(t["trade_time"], "timestamp[ms]").cast("int64")
            out["time_ms"] += int(pc.sum(ms).as_py() or 0)
            out["volume"] += int(pc.sum(t["volume"]).as_py() or 0)
            out["conditions"] += int(pc.sum(pc.list_value_length(t["trade_conditions"])).as_py() or 0)
    return out


def landed_payload(data_dir: str) -> tuple[int, int, int]:
    """(files, rows, body bytes) in the landing zone."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = rows = nbytes = 0
    for root, _dirs, names in os.walk(os.path.join(data_dir, "payloads")):
        for f in names:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, f), columns=["body"])
                files += 1
                rows += t.num_rows
                nbytes += int(pc.sum(pc.binary_length(t["body"])).as_py() or 0)
    return files, rows, nbytes


# ------------------------------------------------------------ workloads


def timed_acks(
    client, batches: list[list[bytes]], type_id: int, until: float | None, pin=None
):
    """Closed loop: each batch is sent when the previous ack arrives.
    Cycles ``batches`` until ``until`` (monotonic) when given, else sends
    each once. ``pin(i)``, when given, runs before batch ``i`` is timed.
    Returns (ack seconds, result codes, rows, wall seconds)."""
    acks, codes = [], []
    rows = 0
    t_start = time.monotonic()
    i = 0
    while (i < len(batches)) if until is None else (time.monotonic() < until):
        batch = batches[i % len(batches)]
        if pin is not None:
            pin(i)
        t0 = time.monotonic()
        codes.append(client.write_batch(batch, type_id=type_id))
        acks.append(time.monotonic() - t0)
        rows += len(batch)
        i += 1
    return acks, codes, rows, time.monotonic() - t_start


def run_socket_bulk(ctx: "Run") -> dict:
    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.fixtures import finnhub_binding

    from datagen import finnhub_rows

    rows = finnhub_rows(ctx.seed, SOCKET_BATCH_ROWS * SOCKET_POOL_BATCHES)
    bodies = encode_bodies(rows)
    pool = [
        bodies[i : i + SOCKET_BATCH_ROWS] for i in range(0, len(bodies), SOCKET_BATCH_ROWS)
    ]
    type_name = finnhub_binding().message_name
    warm = [pool[i % len(pool)] for i in range(SOCKET_WARMUP_BATCHES)]
    setups, warm_ok = [], True
    for k in range(SOCKET_SETUPS):
        # set-up runs several times, each on a fresh root, and its median
        # is reported; the last server goes on to the timed phase
        data_root = os.path.join(ctx.run_dir, f"ingest{k}")
        os.makedirs(data_root)
        child = ctx.spawn(["perfbench/server.py", "--transport", "socket", "--root", data_root])
        ready = child.expect("ready", READY_TIMEOUT_S)
        client = svc.IngestSocketClient("127.0.0.1", ready["port"])
        tid = client.register_type(type_name)
        pin = cpu_rotation(child.proc.pid)
        t_warm = time.monotonic()
        _, warm_codes, warm_rows, _ = timed_acks(client, warm, tid, None, pin)
        child.send(op="mark")
        child.expect("marked", 30)
        t_first = time.monotonic()
        setups.append(t_first - child.t_spawn)
        warm_ok = warm_ok and all(c == svc.OK for c in warm_codes)
        if k < SOCKET_SETUPS - 1:
            client.close()
            child.send(op="stop")
            child.expect("stopped", 30)
            child.close()
    with client:
        acks, codes, acked_rows, wall = timed_acks(
            client, pool, tid, t_first + ctx.seconds, pin
        )
    child.send(op="stats")
    stats = child.expect("stats", 30)
    child.send(op="stop")
    child.expect("stopped", 30)
    child.close()

    sent_rows = warm_rows + acked_rows
    files, landed_rows, landed_bytes = landed_payload(os.path.join(data_root, "data"))
    pool_bytes = [sum(len(b) for b in batch) for batch in pool]
    warm_bytes = sum(pool_bytes[i % len(pool)] for i in range(len(warm)))
    sent_bytes = warm_bytes + sum(pool_bytes[i % len(pool)] for i in range(len(codes)))
    failed = sum(c != svc.OK for c in codes)
    errors = []
    if failed or not warm_ok:
        errors.append("non-OK acks")
    if landed_rows != sent_rows:
        errors.append(f"landed rows {landed_rows} != acked rows {sent_rows}")
    if int(stats["rows_counter"]) != sent_rows:
        errors.append(f"metrics.ROWS {stats['rows_counter']} != acked rows {sent_rows}")
    if files != len(codes) + len(warm_codes):
        errors.append(f"landed files {files} != acked batches {len(codes) + len(warm_codes)}")
    if landed_bytes != sent_bytes or int(stats["bytes_counter"]) != sent_bytes:
        errors.append(
            f"landed body bytes {landed_bytes} (metrics {stats['bytes_counter']}) != sent {sent_bytes}"
        )
    ack_ms = [a * 1e3 for a in acks]
    server = ready["stamps"]
    result = {
        "errors": errors,
        "attempted": len(codes),
        "failed": failed,
        "e2e": {
            "setup_s": median(setups),
            "op_ms_gmean": geomean(ack_ms),
            "ops_per_s": len(codes) / wall,
        },
        "named": {
            "ack_ms_p50": (median(ack_ms), "ms"),
            "ack_ms_p99": (percentile(ack_ms, 99), "ms"),
            "acked_rows_per_s": (acked_rows / wall, "1/s"),
            "failed_frac": (failed / max(1, len(codes)), "frac"),
        },
    }
    if ctx.trace:
        result["layers"] = ingest_layers(
            stats["layers"], ack_ms, len(warm) + 1, "service.transport_ms_p50",
            landed_bytes - warm_bytes,
        )
        result["layers"].update(
            {
                "setup.session_s": server["session"] - server["start"],
                "setup.server_s": server["server"] - server["session"],
                "setup.warmup_s": t_first - t_warm,
            }
        )
    return result


def ingest_layers(
    layers: dict, ack_ms: list[float], first_id: int, transport_key: str, landed_bytes: int
) -> dict:
    """Per-layer metrics from the server's spans. Timed batch ``i`` has
    client batch id ``first_id + i``, so each ack pairs with the
    server's process_batch span of the same id."""
    per_batch = layers["per_batch"]
    timed = [per_batch.get(f"data:{first_id + i}") for i in range(len(ack_ms))]
    pairs = [(a, b) for a, b in zip(ack_ms, timed) if b is not None]
    landed = [b["landing_ms"] for _, b in pairs if b["landing_ms"] is not None]
    return {
        "wire.split_ms_p50": median([b["split_ms"] for _, b in pairs]),
        "wire.decode_ms_p50": median([b["decode_ms"] for _, b in pairs]),
        "wire.messages": sum(b["messages"] for _, b in pairs),
        "landing.ms_p50": median(landed),
        "landing.files": len(landed),
        "landing.bytes": landed_bytes,
        "service.process_batch_ms_p50": median([b["process_ms"] for _, b in pairs]),
        "service.non_ok": len(pairs) - len(landed),
        transport_key: median([a - b["process_ms"] for a, b in pairs]),
        "grpc.h2_receive_ms_p50": median(layers["h2_receive_ms"]),
        "grpc.h2_receive_calls": len(layers["h2_receive_ms"]),
        "self_s": layers["self_s"],
    }


def grpc_batches(seed: int, groups: int) -> tuple[list[list[bytes]], list[tuple]]:
    import random

    from datagen import finnhub_rows

    sizes = list(GRPC_GROUP) * groups
    random.Random(seed).shuffle(sizes)
    rows = finnhub_rows(seed, sum(sizes))
    bodies = encode_bodies(rows)
    batches, off = [], 0
    for n in sizes:
        batches.append(bodies[off : off + n])
        off += n
    return batches, rows


def run_grpc_mixed(ctx: "Run") -> dict:
    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.fixtures import finnhub_binding
    from bristle_spark.ingest.grpc_transport import GrpcIngestClient

    batches, rows = grpc_batches(ctx.seed, GRPC_GROUPS)
    warm_batches, warm_rows = grpc_batches(ctx.seed + 1_000_003, GRPC_WARMUP_GROUPS)
    expect = checksum(rows)
    data_root = os.path.join(ctx.run_dir, "ingest")
    os.makedirs(data_root)
    child = ctx.spawn(
        ["perfbench/server.py", "--transport", "grpc", "--spark", "--root", data_root]
    )
    ready = child.expect("ready", READY_TIMEOUT_S)
    type_name = finnhub_binding().message_name
    t_warm = time.monotonic()
    with GrpcIngestClient("127.0.0.1", ready["warm_port"]) as client:
        tid = client.register_type(type_name)
        _, warm_codes, _, _ = timed_acks(client, warm_batches, tid, None)
    child.send(op="pump_warm")
    warm = child.expect("warm_done", 120)
    errors = []
    if warm["rows"] != len(warm_rows) or any(c != svc.OK for c in warm_codes):
        errors.append(f"warm-up cycle drained {warm['rows']} of {len(warm_rows)} rows")
    with GrpcIngestClient("127.0.0.1", ready["port"]) as client:
        tid = client.register_type(type_name)
        child.send(op="mark")
        child.expect("marked", 30)
        t_first = time.monotonic()
        acks, codes, acked_rows, ack_wall = timed_acks(client, batches, tid, None)
    child.send(op="drain", rows=acked_rows)
    drained = child.expect("drained", RUN_DEADLINE_S)
    child.send(op="stats")
    stats = child.expect("stats", 30)
    child.send(op="stop")
    child.expect("stopped", 60)
    child.close()

    non_ok = sum(c != svc.OK for c in codes)
    if non_ok:
        errors.append(f"{non_ok} non-OK acks")
    got = sink_checksum(os.path.join(data_root, "data", "sink", "finnhub__trades"))
    if got != expect:
        errors.append(f"sink checksum {got} != sent {expect}")
    ack_ms = [a * 1e3 for a in acks]
    drain_s = drained["drain_s"]
    server = ready["stamps"]
    result = {
        "errors": errors,
        "attempted": len(codes),
        "failed": non_ok,
        "e2e": {
            "setup_s": t_first - child.t_spawn,
            "op_ms_gmean": geomean(ack_ms),
            "ops_per_s": len(codes) / drain_s,
        },
        "named": {
            "ack_ms_p50": (median(ack_ms), "ms"),
            "ack_ms_p90": (percentile(ack_ms, 90), "ms"),
            "acked_rows_per_s": (acked_rows / ack_wall, "1/s"),
            "drain_rows_per_s": (drained["rows"] / drain_s, "1/s"),
            "failed_frac": (non_ok / max(1, len(codes)), "frac"),
        },
    }
    if ctx.trace:
        landed_bytes = landed_payload(os.path.join(data_root, "data"))[2]
        layers = ingest_layers(stats["layers"], ack_ms, 1, "grpc.transport_ms_p50", landed_bytes)
        progress = drained.get("progress", [])
        layers.update(
            {
                "drain.pumps": drained["pumps"],
                "drain.microbatches": drained["microbatches"],
                "drain.rows_per_microbatch": drained["rows"] / max(1, drained["microbatches"]),
                "drain.microbatch_ms_p50": median([p.get("triggerExecution", 0.0) for p in progress]),
                "drain.jobs": drained.get("jobs", 0),
                "drain.stages": drained.get("stages", 0),
                "setup.session_s": server["session"] - server["start"],
                "setup.server_s": server["server"] - server["session"],
                "setup.warmup_s": t_first - t_warm,
            }
        )
        for phase in ("addBatch", "queryPlanning", "walCommit", "latestOffset"):
            layers[f"drain.{phase}_ms_p50"] = median([p.get(phase, 0.0) for p in progress])
        result["layers"] = layers
    return result


def run_query_mix(ctx: "Run") -> dict:
    from datagen import write_tables

    data_dir = os.path.join(ctx.run_dir, "tables")
    write_tables(data_dir, ctx.seed, QUERY_SCALE)
    child = ctx.spawn(
        ["perfbench/querymix.py", "--data", data_dir, "--keys", ",".join(QUERY_KEYS),
         "--seconds", str(ctx.seconds), "--local-dir", os.path.join(ctx.run_dir, "spark-local")]
    )
    done = child.expect("done", RUN_DEADLINE_S)
    child.close()
    samples = done["samples"]
    op_ms = [(s["build_s"] + s["exec_s"]) * 1e3 for s in samples]
    per_key: dict[str, list[float]] = {}
    for s, ms in zip(samples, op_ms):
        per_key.setdefault(s["key"], []).append(ms)
    timed_s = done["stamps"]["timed_end"] - done["stamps"]["warmup"]
    stamps = done["stamps"]
    t_first = stamps["warmup"]
    mix_ms = sum(median(v) for v in per_key.values())
    result = {
        "errors": done["errors"],
        "attempted": done["attempted"],
        "failed": done["failed"],
        "e2e": {
            "setup_s": t_first - child.t_spawn,
            "op_ms_gmean": geomean(op_ms),
            "ops_per_s": len(samples) / timed_s,
        },
        "named": {
            "query_ms_p50": (median(op_ms), "ms"),
            "query_ms_p80": (percentile(op_ms, 80), "ms"),
            "mix_s": (mix_ms / 1e3, "s"),
            "failed_frac": (done["failed"] / max(1, done["attempted"]), "frac"),
        },
    }
    if ctx.trace:
        layers = done["layers"]
        n_rounds = max(1, done["rounds"])
        result["layers"] = {
            "catalog.loads": layers["catalog_loads"] / n_rounds,
            "catalog.load_ms_sum": layers["catalog_load_s"] * 1e3 / n_rounds,
            "query.build_ms_p50": median([s["build_s"] * 1e3 for s in samples]),
            "query.build_jobs": sum(s["build_jobs"] for s in samples) / n_rounds,
            "query.exec_ms_p50": median([s["exec_s"] * 1e3 for s in samples]),
            "query.exec_jobs": sum(s["exec_jobs"] for s in samples) / n_rounds,
            "query.exec_stages": sum(s["exec_stages"] for s in samples) / n_rounds,
            "setup.session_s": stamps["session"] - stamps["start"],
            "setup.server_s": 0.0,
            "setup.warmup_s": stamps["warmup"] - stamps["session"],
            "self_s": layers["self_s"],
        }
    return result


# ------------------------------------------------------------------ run


class Run:
    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.base = os.path.join(ROOT, ".perfbench")
        self.run_dir = os.path.join(self.base, f"run-{os.getpid()}")
        self.children: list[Child] = []

    def spawn(self, argv: list[str]) -> Child:
        extra = []
        if self.trace:
            traces = os.path.join(self.base, "traces")
            os.makedirs(traces, exist_ok=True)
            out = os.path.join(traces, f"{self.workload}-seed{self.seed}-{os.path.basename(argv[0])}.jsonl")
            extra = ["--trace", "--spans-out", out]
        child = Child(
            argv + extra,
            child_env(self.run_dir),
            os.path.join(self.run_dir, f"{os.path.basename(argv[0])}.log"),
        )
        self.children.append(child)
        return child

    def close(self) -> None:
        for child in self.children:
            if not child.closed:
                child.close(timeout=10)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def report(ctx: Run, res: dict) -> dict:
    end_to_end, per_layer = declared_metrics()
    say(f"# workload {ctx.workload}  seed {ctx.seed}  cpus {nproc()}  trace {int(ctx.trace)}")
    for name, value in res["e2e"].items():
        say(f"  {name:<28} {fmt(value)} {end_to_end[name]}")
    for name, (value, unit) in res["named"].items():
        say(f"  {name:<28} {fmt(value)} {unit}")
    for err in res["errors"]:
        say(f"  CHECK FAILED: {err}")
    metrics = {}
    if ctx.trace:
        layers = res.get("layers", {})
        self_s = layers.pop("self_s", {})
        for name, unit in per_layer.items():
            metrics[name] = {"value": float(layers.get(name, 0.0) or 0.0), "unit": unit}
            say(f"  {name:<28} {fmt(metrics[name]['value'])} {unit}")
        say("  self time by span (s): " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(self_s.items())))
        say("  tracing overhead (traced - untraced): " + tracing_overhead(ctx, res["e2e"]))
    else:
        for name, unit in end_to_end.items():
            metrics[name] = {"value": res["e2e"][name], "unit": unit}
        save_untraced(ctx, res["e2e"])
    return metrics


def fmt(value) -> str:
    return "n/a (too few samples)" if value is None else f"{value:.4f}"


def untraced_path(ctx: Run) -> str:
    """Where the untraced result of this workload and seed is kept: the
    tracing overhead compares runs of the same inputs only."""
    return os.path.join(ctx.base, "untraced", f"{ctx.workload}-seed{ctx.seed}.json")


def save_untraced(ctx: Run, e2e: dict) -> None:
    path = untraced_path(ctx)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(e2e, fh)


def tracing_overhead(ctx: Run, e2e: dict) -> str:
    path = untraced_path(ctx)
    if not os.path.exists(path):
        return f"n/a (no untraced run of this workload with seed {ctx.seed} in this checkout)"
    with open(path) as fh:
        base = json.load(fh)
    parts = []
    for name, value in e2e.items():
        ref = base.get(name)
        if value is not None and ref:
            parts.append(f"{name} {value - ref:+.4f} ({(value - ref) / ref:+.1%})")
    return f"vs untraced run of seed {ctx.seed}: " + ", ".join(parts)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bristle_spark", "__init__.py")):
        print("perfbench: bristle_spark is not in this checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its children (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    ctx = Run(args)
    os.makedirs(ctx.run_dir, exist_ok=True)
    runner = {
        "ingest_socket_bulk": run_socket_bulk,
        "ingest_grpc_mixed": run_grpc_mixed,
        "query_mix": run_query_mix,
    }[args.workload]
    try:
        res = runner(ctx)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        ctx.close()
    missing = [k for k, v in res["e2e"].items() if v is None]
    if missing:
        res["errors"].append(f"too few samples for {missing}")
        res["e2e"] = {k: (v if v is not None else 0.0) for k, v in res["e2e"].items()}
    metrics = report(ctx, res)
    correct = not res["errors"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
