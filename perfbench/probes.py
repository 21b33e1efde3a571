"""Layer probes: how a traced run reports every per-layer metric.

A workload's own traced phase measures only the layers it enters:
rest_read never sends, rest_write never asks for a Perspective view,
the REST workloads never stream or run batch queries, and pipelines
never goes through serving or the catalog.  After that phase, in the
same session and with every layer wrapped again, the traced run sends
one short probe into each layer the workload missed, and the metrics
of those layers come from the probe:

- ``rest``: a gateway on the seed's channel and one in-process client:
  one request per read route, then one send / read-your-write / last
  tick iteration;
- ``stream``: the seed's backlog replayed once through
  ``streaming_keyed_last``, after the small warm-up replay;
- ``batch``: one pass of the batch queries (not warmed, so it reads
  slower than pipelines' warm passes).

Last, every traced run replays the backlog once on a ``local[1]``
session, the single-core baseline.  Every probe operation is checked
like the workload's own and counts in ``attempted`` and ``failed``.
"""

from __future__ import annotations

from pathlib import Path
from typing import Dict, List, Optional

import batch
import clients
import gen
import layers
import stream
from common import RESULTS, start_session
from spans import Tracer

#: per-layer metrics each probe measures
REST = (
    "serving.self_ms",
    "serving.http_ms",
    "serving.publish_ms",
    "catalog.plan_ms",
    "catalog.send_ms",
    "catalog.producers",
    "query.compile_ms",
    "operators.pivot.plan_ms",
)
STREAM = layers.STREAM_METRICS
BATCH = tuple(f"operators.{q}_s" for q in batch.QUERIES) + ("operators.shared_build_s",)


class Probes:
    def __init__(self, seed: int, run_dir: Path, stem: str):
        self.seed = seed
        self.run_dir = run_dir
        self.stem = stem
        self.layers: Dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.detail: Dict[str, dict] = {}
        self.tracer = Tracer()

    def run(self, spark, need: set, replay: Optional[stream.StreamReplay]) -> None:
        """Probe the layers that give a metric in ``need``, then the
        single-core replay (with ``replay``'s backlog, or the probe's)."""
        layers.instrument(self.tracer, spark)
        jobs = layers.JobGroups(spark)
        self.tracer.enabled = True
        try:
            if need & set(REST):
                self._rest(spark, jobs)
            if need & set(STREAM):
                replay = self._stream(spark, jobs)
            if need & set(BATCH):
                self._batch(spark, jobs)
        finally:
            self.tracer.enabled = False
            self.tracer.restore()
        if replay is None:
            replay = stream.StreamReplay(self.seed, self.run_dir / "probe-stream")
            replay.run_dir.mkdir()
            replay.prepare()
        self._one_core(spark, replay)
        path = RESULTS / f"{self.stem}-probe-spans.jsonl"
        self.tracer.dump(str(path))
        self.detail["spans_file"] = str(path)

    def _rest(self, spark, jobs: layers.JobGroups) -> None:
        import rest

        wl = rest.RestWorkload("probe", self.seed, self.run_dir / "probe-rest", cpus=0)
        wl.run_dir.mkdir()
        wl.prepare()
        gw = rest.Gateway(spark, wl.data_path)
        try:
            rest.trace_handlers(self.tracer, jobs, gw.server)
            samples: List[dict] = []
            ids = list(wl.expected.by_id)
            clients.read_client(gw.port, wl.spec, 0, wl.expected, ids, 1, 90, samples)
            clients.write_client(gw.port, self.seed, 0, wl.expected, 1, 91, samples)
            producers = [len(gw.catalog._producers[gen.CHANNEL])]
        finally:
            gw.stop()
        lay = rest.rest_layers(self.tracer, samples, jobs, producers)
        self.layers.update({k: lay[k] for k in REST})
        self.attempted += len(samples)
        self.failed += sum(1 for s in samples if not s["ok"])
        self.detail["rest"] = {
            "requests": {s["rid"]: [s["route"], (s["t1"] - s["t0"]) * 1e3, s["ok"]] for s in samples},
            "errors": [s["err"] for s in samples if not s["ok"]],
        }

    def _stream(self, spark, jobs: layers.JobGroups) -> stream.StreamReplay:
        replay = stream.StreamReplay(self.seed, self.run_dir / "probe-stream")
        replay.run_dir.mkdir()
        replay.prepare()
        replay.build(spark)
        rep = replay.replay(spark, replay.backlog, self.tracer, jobs)
        lay = stream.stream_layers(replay, [rep])
        self.layers.update({k: lay[k] for k in STREAM})
        self.attempted += replay.n_replays
        self.failed += replay.probe_failures + (rep["error"] is not None)
        self.detail["stream"] = {"replay_s": rep["replay_s"], "read_s": rep["read_s"], "error": rep["error"]}
        return replay

    def _batch(self, spark, jobs: layers.JobGroups) -> None:
        ops = batch.BatchOperators()
        ops.prepare()
        p = ops.run_pass(spark, self.tracer, jobs)
        for q in batch.QUERIES:
            self.layers[f"operators.{q}_s"] = p["per_query"][q]
        self.layers["operators.shared_build_s"] = p["shared_build_s"]
        self.attempted += len(batch.QUERIES)
        self.failed += len(p["errors"])
        self.detail["batch"] = {"pass_wall_s": p["wall"], "errors": p["errors"]}

    def _one_core(self, spark, replay: stream.StreamReplay) -> None:
        """The backlog replayed on a ``local[1]`` session."""
        spark.stop()
        spark = start_session(1)
        n_before = replay.n_replays
        failures = replay.probe_failures
        replay.build(spark)
        rep = replay.replay(spark, replay.backlog)
        self.layers["streaming.events_per_s_1core"] = stream.events_per_s(replay.n_events, rep)
        self.attempted += replay.n_replays - n_before
        self.failed += replay.probe_failures - failures + (rep["error"] is not None)
        self.detail["one_core"] = {"replay_s": rep["replay_s"], "read_s": rep["read_s"], "error": rep["error"]}
