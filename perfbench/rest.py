"""rest_read and rest_write: closed-loop HTTP traffic against
``GatewayHttpServer`` over a preloaded, keyed channel.

The gateway runs in this process; the clients run in a separate
generator process (``clients.py``), 2 client connections in a closed
loop.  rest_read first sends ``WARMUP_CYCLES`` untimed cycles of reads
per client (one request per route each): on a fresh JVM the first
cycle is about 2x slower than the third while the JIT compiles the
request paths, it still speeds up by about 20% over the next ten, and
how fast it gets there varies from run to run.  It then measures a
whole number of read cycles, about the run's seconds of them: a time
limit that cut some runs one cycle shorter than others would move
their mean by more than the noise.  rest_write has no
separate warm-up (its set-up rounds' probes read the same keyed-state
path its episode starts with); it measures one episode on a gateway
no send has touched yet: a baseline read of one key, then
``WRITE_ITERATIONS`` send / read-your-write / last-tick iterations per
client.  Every send adds a producer to the channel, so read cost grows
through the episode; a fixed episode keeps that growth the same in
every run.
"""

from __future__ import annotations

import json
import select
import statistics
import subprocess
import sys
import time
from pathlib import Path
from typing import Dict, List, Optional

import clients
import gen
import layers
import stats
from common import HERE, RESULTS, run_setup
from spans import Tracer

WRITE_ITERATIONS = 2
WARMUP_CYCLES = 3
#: seconds one read cycle (one request per route) takes a client on a
#: 4-core host after the warm-up; rest_read measures
#: round(seconds / this) cycles
READ_CYCLE_SECONDS = 1.5


class Gateway:
    """The system under test: a catalog with one keyed channel fed by a
    parquet producer, served over HTTP."""

    def __init__(self, spark, data_path: Path):
        from csp_gateway_spark.catalog import ChannelCatalog
        from csp_gateway_spark.serving.app import GatewayApi, GatewayHttpServer

        df = spark.read.parquet(str(data_path))
        self.catalog = ChannelCatalog(spark)
        self.catalog.declare(gen.CHANNEL, df.schema)
        self.catalog.declare_state(gen.CHANNEL, gen.KEY)
        self.catalog.set_channel(gen.CHANNEL, df)
        self.server = GatewayHttpServer(GatewayApi(self.catalog)).start()

    @property
    def port(self) -> int:
        return self.server.port

    def stop(self) -> None:
        self.server.stop()


def trace_handlers(tracer: Tracer, jobs: layers.JobGroups, server) -> None:
    """Give each server handler thread the client's request id, a root
    span and its own Spark job group."""
    handler = server._server.RequestHandlerClass
    for verb in ("do_GET", "do_POST"):
        original = getattr(handler, verb)

        def wrapped(self, _original=original):
            if not tracer.enabled:
                return _original(self)
            rid = self.headers.get("X-Request-Id")
            with tracer.request(rid):
                jobs.tag(rid)
                try:
                    with tracer.span("serving.handler"):
                        _original(self)
                finally:
                    jobs.untag()
                    jobs.record(rid)

        setattr(handler, verb, wrapped)


class Generator:
    """The load generator process (``clients.py``) and its line protocol."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "clients.py"), str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def recv(self, timeout: float) -> dict:
        ready, _, _ = select.select([self.proc.stdout], [], [], timeout)
        line = self.proc.stdout.readline() if ready else ""
        if not line:
            raise RuntimeError(f"load generator gave no reply within {timeout:.0f}s (exit {self.proc.poll()})")
        return json.loads(line)

    def run(self, params: dict, timeout: float) -> dict:
        self.proc.stdin.write(json.dumps(params) + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout)

    def close(self) -> None:
        try:
            self.proc.stdin.write(json.dumps({"stop": True}) + "\n")
            self.proc.stdin.close()
        except OSError:  # the generator already exited
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc.stdout.close()


class RestWorkload:
    def __init__(self, name: str, seed: int, run_dir: Path, cpus: int):
        self.name = name
        self.seed = seed
        self.run_dir = run_dir
        self.cpus = cpus
        self.gw: Optional[Gateway] = None
        self.fresh = False  # no episode has written to self.gw yet
        self.on_gateway = None  # applied to every gateway built while set
        self.probe_failures = 0

    # --- inputs -------------------------------------------------------
    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        spec = gen.event_spec(self.seed)
        df = gen.events(spec)
        self.spec = spec
        self.expected = gen.Expected.build(df)
        self.data_path = self.run_dir / "events.parquet"
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), self.data_path)
        # the hottest key answers the set-up probe
        self.probe_key = int(df[gen.KEY].value_counts().idxmax())

    def _new_gateway(self, spark) -> None:
        self.teardown()
        self.gw = Gateway(spark, self.data_path)
        self.fresh = True
        if self.on_gateway is not None:
            self.on_gateway(self.gw.server)

    # --- set-up -------------------------------------------------------
    def build(self, spark) -> None:
        self._new_gateway(spark)
        status, raw = clients.request(self.gw.port, "GET", f"/state/{gen.CHANNEL}/{self.probe_key}", "setup")
        want = self.expected.by_key[self.probe_key]["id"]
        if status != 200 or [row["id"] for row in json.loads(raw)] != [want]:
            self.probe_failures += 1

    def teardown(self) -> None:
        if self.gw is not None:
            self.gw.stop()
            self.gw = None

    # --- run ------------------------------------------------------------
    def run(self, seconds: float, trace: bool) -> dict:
        generator = Generator(self.seed)
        try:
            spark, rounds = run_setup(self.cpus, self.build, self.teardown)
            generator.recv(timeout=120)  # expected answers built
            warmup = {"samples": [], "wall": 0.0}
            if self.name == "rest_read":
                warmup = self._phase(generator, {"kind": "read", "cycles": WARMUP_CYCLES})
            out = self._phases(spark, generator, seconds, trace)
            out["warmup"] = warmup
        finally:
            generator.close()
            self.teardown()
        out["setup"] = rounds
        return out

    def _phase(self, generator: Generator, params: dict) -> dict:
        return generator.run({"port": self.gw.port, **params}, timeout=150)

    def _measure(self, spark, generator: Generator, seconds: float) -> dict:
        if self.name == "rest_read":
            cycles = max(1, round(seconds / READ_CYCLE_SECONDS))
            out = self._phase(generator, {"kind": "read", "cycles": cycles})
        else:
            if not self.fresh:
                self._new_gateway(spark)
            self.fresh = False
            out = self._phase(generator, {"kind": "write", "iterations": WRITE_ITERATIONS})
        # the channel's producers as the phase left them
        out["producers"] = [len(self.gw.catalog._producers[gen.CHANNEL])]
        return out

    def _phases(self, spark, generator: Generator, seconds: float, trace: bool) -> dict:
        t_measure = time.perf_counter()
        if not trace:
            return {"t_measure": t_measure, "untraced": self._measure(spark, generator, seconds)}
        # every layer wrapped; rest_read alternates recording off, on,
        # on, off so the JIT's remaining warm-up drift cancels out of
        # the overhead; rest_write runs one traced and one untraced
        # episode, the most its run time has room for
        tracer = Tracer()
        layers.instrument(tracer, spark)
        jobs = layers.JobGroups(spark)
        self.on_gateway = lambda server: trace_handlers(tracer, jobs, server)
        self.on_gateway(self.gw.server)
        parts = {False: [], True: []}
        try:
            order = (False, True, True, False) if self.name == "rest_read" else (True, False)
            for on in order:
                tracer.enabled = on
                parts[on].append(self._measure(spark, generator, seconds / len(order)))
        finally:
            self.on_gateway = None
            tracer.enabled = False
            tracer.restore()

        def merged(phases: List[dict]) -> dict:
            return {
                "samples": [x for p in phases for x in p["samples"]],
                "wall": sum(p["wall"] for p in phases),
                "producers": [n for p in phases for n in p["producers"]],
            }

        return {
            "t_measure": t_measure,
            "untraced": merged(parts[False]),
            "traced": merged(parts[True]),
            "tracer": tracer,
            "jobs": jobs,
        }


def _lat_ms(samples: List[dict]) -> List[float]:
    return [(s["t1"] - s["t0"]) * 1e3 for s in samples]


def summarize(wl: RestWorkload, out: dict, results_stem: str) -> dict:
    phase = out["untraced"]
    samples = phase["samples"]
    lat = _lat_ms(samples)
    checked = samples + out["warmup"]["samples"] + (out["traced"]["samples"] if "traced" in out else [])
    failed = sum(1 for s in checked if not s["ok"]) + wl.probe_failures
    attempted = len(checked) + len(out["setup"].total)
    t_first = min(s["t0"] for s in samples)
    by_route: Dict[str, List[float]] = {}
    for s in samples:
        by_route.setdefault(s["route"], []).append((s["t1"] - s["t0"]) * 1e3)
    detail = {
        "spec": vars(wl.spec),
        "clients": clients.CLIENTS,
        "loop": "closed",
        "latency_ms": stats.summary(lat),
        "routes": {r: stats.summary(v) for r, v in sorted(by_route.items())},
        "throughput_per_s": len(samples) / phase["wall"],
        "phase_wall_s": phase["wall"],
        "producers": phase["producers"],
        "warmup": {
            "requests": len(out["warmup"]["samples"]),
            "wall_s": out["warmup"]["wall"],
            "latency_ms": stats.summary(_lat_ms(out["warmup"]["samples"])),
        },
        "error_rate": failed / max(attempted, 1),
        "errors": [s["err"] for s in samples if not s["ok"]][:10],
        # [route, start offset ms, latency ms, ok] per request, in start order
        "samples": [
            [s["route"], round((s["t0"] - t_first) * 1e3, 3), round((s["t1"] - s["t0"]) * 1e3, 3), s["ok"]]
            for s in sorted(samples, key=lambda s: s["t0"])
        ],
    }
    if wl.name == "rest_write":
        detail["episodes"] = len(phase["producers"])
        detail["iterations_per_client"] = WRITE_ITERATIONS
        sends = [s for s in samples if s["route"] == "send"]
        visible = [s["visible_ms"] for s in samples if s.get("visible_ms") is not None]
        reads = sorted((s for s in samples if s["route"] == "state_key"), key=lambda s: s["t0"])
        detail["sends"] = len(sends)
        detail["send_ms"] = stats.summary(_lat_ms(sends))
        detail["visible_ms"] = stats.summary(visible)
        if len(reads) >= 2:
            first, last = _lat_ms(reads[:1])[0], _lat_ms(reads[-1:])[0]
            detail["state_read_first_ms"] = first
            detail["state_read_last_ms"] = last
            detail["read_growth_x"] = last / first
    e2e = {
        "latency_mean_ms": statistics.mean(lat),
        "throughput_per_s": len(samples) / phase["wall"],
    }
    lay: Dict[str, float] = {}
    if "traced" in out:
        lay, tdetail = _traced_layers(out, RESULTS / f"{results_stem}-spans.jsonl")
        detail["traced"] = tdetail
    return {"e2e": e2e, "layers": lay, "detail": detail, "attempted": attempted, "failed": failed}


def rest_layers(tracer: Tracer, samples: List[dict], jobs: layers.JobGroups, producers: List[int]) -> Dict[str, float]:
    """Per-layer metrics of traced HTTP requests: self times per
    request, HTTP time outside the API span, send-path times per send,
    and the channel's producer count."""
    lay = layers.per_op_layers(tracer, len(samples), jobs)
    api = layers.api_durations(tracer)
    http = [
        (s["t1"] - s["t0"]) * 1e3 - api[s["rid"]] * 1e3 for s in samples if s["rid"] in api
    ]
    lay["serving.http_ms"] = statistics.mean(http) if http else 0.0
    n_send = sum(1 for s in samples if s["route"] == "send")
    selfs = tracer.layer_self(["serving.publish", "catalog.send"])
    lay["serving.publish_ms"] = selfs.get("serving.publish", 0.0) * 1e3 / n_send if n_send else 0.0
    lay["catalog.send_ms"] = selfs.get("catalog.send", 0.0) * 1e3 / n_send if n_send else 0.0
    lay["catalog.producers"] = statistics.mean(producers)
    return lay


def _traced_layers(out: dict, spans_path: Path):
    tracer: Tracer = out["tracer"]
    samples = out["traced"]["samples"]
    lay = rest_layers(tracer, samples, out["jobs"], out["traced"]["producers"])
    traced = statistics.mean(_lat_ms(samples))
    untraced = statistics.mean(_lat_ms(out["untraced"]["samples"]))
    lay["trace.overhead_ms"] = traced - untraced
    tracer.dump(str(spans_path))
    detail = {
        "requests": len(samples),
        "latency_ms": stats.summary(_lat_ms(samples)),
        "untraced_latency_ms": stats.summary(_lat_ms(out["untraced"]["samples"])),
        "spans": len(tracer.spans),
        "spans_file": str(spans_path),
        "errors": sum(1 for s in samples if not s["ok"]),
    }
    return lay, detail
