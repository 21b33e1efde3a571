"""pipelines: the stream replay (``stream.py``) and then the batch
operator queries (``batch.py``) in one process and one Spark session.

Neither half goes through serving or the catalog: the replay drives
``streaming/`` and its file source, the queries drive ``operators/``.
They share a process because each run pays the JVM's cold start and
the first Spark jobs' compilation once, and the run budget has room
for that cost three times, not four.

A set-up round restarts the session and runs one query as its probe.
After set-up, one untimed query pass and one small untimed replay warm
both halves up: the first pass in a fresh JVM runs 2-3x slower than
the next, and the first replay 2x slower, while their code is
compiled, by an amount that varies from run to run.  Their results
are checked like every other's.  Then one round is one replay (with
its state read) followed by one query pass.  Rounds repeat until the
run's seconds are spent, at least one.  Each
replay and each query is one operation: ``latency_mean_ms`` is their
mean latency and ``throughput_per_s`` operations per second of
operation time.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path
from typing import Dict, List

import batch
import layers
import stream
from common import RESULTS, run_setup
from spans import Tracer


class PipelinesWorkload:
    name = "pipelines"

    def __init__(self, seed: int, run_dir: Path, cpus: int):
        self.cpus = cpus
        self.stream = stream.StreamReplay(seed, run_dir)
        self.batch = batch.BatchOperators()

    @property
    def probe_failures(self) -> int:
        return self.stream.probe_failures + self.batch.probe_failures

    def prepare(self) -> None:
        self.stream.prepare()
        self.batch.prepare()

    def build(self, spark) -> None:
        self.batch.build(spark)

    def teardown(self) -> None:
        self.batch.teardown()

    def _round(self, spark, out: dict, tracer: Tracer = None, jobs: layers.JobGroups = None) -> None:
        out["replays"].append(self.stream.replay(spark, self.stream.backlog, tracer, jobs))
        out["passes"].append(self.batch.run_pass(spark, tracer, jobs))

    def run(self, seconds: float, trace: bool) -> dict:
        spark, rounds = run_setup(self.cpus, self.build, self.teardown)
        warmup = self.batch.run_pass(spark)
        self.stream.build(spark)
        t_measure = time.perf_counter()
        untraced = {"replays": [], "passes": []}
        t_end = t_measure + (seconds / 2 if trace else seconds)
        while not untraced["passes"] or time.perf_counter() < t_end:
            self._round(spark, untraced)
        out = {"setup": rounds, "t_measure": t_measure, "warmup": warmup, "untraced": untraced}
        if trace:
            # one traced round after the untraced one, both warm: the
            # overhead compares the two
            tracer = Tracer()
            layers.instrument(tracer, spark)
            jobs = layers.JobGroups(spark)
            traced = {"replays": [], "passes": []}
            tracer.enabled = True
            try:
                self._round(spark, traced, tracer, jobs)
            finally:
                tracer.enabled = False
                tracer.restore()
            out.update(traced=traced, tracer=tracer, jobs=jobs)
        return out


def _op_latencies(phase: dict) -> List[float]:
    """Seconds per operation: each replay with its state read, each query."""
    return [r["replay_s"] + r["read_s"] for r in phase["replays"]] + [
        t for p in phase["passes"] for t in p["per_query"].values()
    ]


def summarize(wl: PipelinesWorkload, out: dict, results_stem: str) -> dict:
    phase = out["untraced"]
    phases = [phase] + ([out["traced"]] if "traced" in out else [])
    replays = [r for p in phases for r in p["replays"]]
    passes = [out["warmup"]] + [p for ph in phases for p in ph["passes"]]
    failed = (
        sum(1 for r in replays if r["error"] is not None)
        + sum(len(p["errors"]) for p in passes)
        + wl.probe_failures
    )
    # every replay, probes included, every query, and one probe per set-up round
    attempted = wl.stream.n_replays + len(batch.QUERIES) * len(passes) + len(out["setup"].total)
    lat = _op_latencies(phase)
    e2e = {
        "latency_mean_ms": statistics.mean(lat) * 1e3,
        "throughput_per_s": len(lat) / sum(lat),
    }
    n_events = wl.stream.n_events
    walls = [p["wall"] for p in phase["passes"]]
    detail = {
        "stream": {
            "spec": {**vars(wl.stream.spec), "files": stream.FILES},
            "replays": len(phase["replays"]),
            "replay_s": [r["replay_s"] for r in phase["replays"]],
            "state_read_s": [r["read_s"] for r in phase["replays"]],
            "events_per_s": [stream.events_per_s(n_events, r) for r in phase["replays"]],
            "batches": [len(r["progress"]) for r in phase["replays"]],
        },
        "batch": {
            "spec": wl.batch.spec,
            "batch_s": statistics.median(walls),
            "passes": len(walls),
            "pass_wall_s": walls,
            "per_query_median_s": {
                q: statistics.median(p["per_query"][q] for p in phase["passes"]) for q in batch.QUERIES
            },
            "shared_build_s": [p["shared_build_s"] for p in phase["passes"]],
            "warmup_pass_s": out["warmup"]["wall"],
        },
        "operations": len(lat),
        "errors": [r["error"] for r in replays if r["error"]] + [p["errors"] for p in passes if p["errors"]],
        "error_rate": failed / attempted,
    }
    lay: Dict[str, float] = {}
    if "traced" in out:
        traced = out["traced"]
        tpass = traced["passes"][0]
        traced_lat = _op_latencies(traced)
        lay = layers.per_op_layers(out["tracer"], len(traced_lat), out["jobs"])
        lay.update(stream.stream_layers(wl.stream, traced["replays"]))
        for q in batch.QUERIES:
            lay[f"operators.{q}_s"] = tpass["per_query"][q]
        lay["operators.shared_build_s"] = tpass["shared_build_s"]
        lay["trace.overhead_ms"] = (statistics.mean(traced_lat) - statistics.mean(lat)) * 1e3
        spans_path = RESULTS / f"{results_stem}-spans.jsonl"
        out["tracer"].dump(str(spans_path))
        detail["traced"] = {
            "replay_s": traced["replays"][0]["replay_s"],
            "read_s": traced["replays"][0]["read_s"],
            "pass_wall_s": tpass["wall"],
            "progress_duration_ms": [p.get("durationMs") for p in traced["replays"][0]["progress"]],
            "spans": len(out["tracer"].spans),
            "spans_file": str(spans_path),
        }
    return {"e2e": e2e, "layers": lay, "detail": detail, "attempted": attempted, "failed": failed}
