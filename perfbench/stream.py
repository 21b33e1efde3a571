"""The stream half of the pipelines workload: a seeded backlog of event
files replayed through ``streaming_keyed_last`` (``availableNow``, one
file per micro-batch), then the state table read once.

One operation is one replay: start the query, wait for it to drain
the backlog, read the state table.  Its latency is the replay wall
time plus that first state read.  Every replay's state must equal
keyed-last computed by DuckDB over the same files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from pathlib import Path
from typing import List

import gen
import layers
from spans import Tracer

FILES = 4
PROBE_ROWS = 2_000


def _progress(q) -> List[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


class StreamReplay:
    def __init__(self, seed: int, run_dir: Path):
        self.seed = seed
        self.run_dir = run_dir
        self.n_replays = 0
        self.probe_failures = 0

    # --- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spec = gen.event_spec(self.seed)
        df = gen.events(self.spec)
        self.n_events = len(df)
        self.backlog = self.run_dir / "backlog"
        self.probe_dir = self.run_dir / "probe"
        for d in (self.backlog, self.probe_dir):
            d.mkdir()
        table = pa.Table.from_pandas(df, preserve_index=False)
        bounds = [round(i * len(df) / FILES) for i in range(FILES + 1)]
        # the file source orders a backlog by modification time
        for i in range(FILES):
            path = self.backlog / f"part-{i:03d}.parquet"
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        pq.write_table(table.slice(0, PROBE_ROWS), self.probe_dir / "part-000.parquet")
        self.expected = self._duckdb_state(self.backlog)
        self.expected_probe = self._duckdb_state(self.probe_dir)

    @staticmethod
    def _duckdb_state(src: Path) -> set:
        import duckdb

        con = duckdb.connect()
        try:
            rows = con.execute(
                f"""
                SELECT {gen.KEY}, id, value FROM (
                  SELECT *, row_number() OVER (PARTITION BY {gen.KEY} ORDER BY timestamp DESC) AS rn
                  FROM read_parquet('{src}/*.parquet')
                ) WHERE rn = 1
                """
            ).fetchall()
        finally:
            con.close()
        return {(int(k), i, float(v)) for k, i, v in rows}

    # --- one replay -----------------------------------------------------
    def replay(self, spark, src: Path, tracer: Tracer = None, jobs: layers.JobGroups = None) -> dict:
        from csp_gateway_spark.streaming.state_stream import streaming_keyed_last

        self.n_replays += 1
        table = f"perfbench_state_{self.n_replays}"
        ckpt = self.run_dir / f"ckpt-{self.n_replays}"
        tracer = tracer or Tracer()
        stream = spark.readStream.schema(self.schema).option("maxFilesPerTrigger", "1").parquet(str(src))
        t0 = time.perf_counter()
        with tracer.span("streaming.replay"):
            q = streaming_keyed_last(
                stream,
                [gen.KEY],
                state_table=table,
                checkpoint=str(ckpt),
                trigger_available_now=True,
            )
            q.awaitTermination()
        t1 = time.perf_counter()
        rid = f"state-read-{self.n_replays}"
        error = None
        rows = []
        if jobs is not None:
            jobs.tag(rid)
        try:
            with tracer.request(rid), tracer.span("streaming.state_read"):
                rows = spark.table(f"global_temp.{table}").collect()
        except Exception as e:  # noqa: BLE001 — a failed read is a failed operation
            error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            if jobs is not None:
                jobs.untag()
                jobs.record(rid)
        t2 = time.perf_counter()
        progress = _progress(q)
        # each replay stands for one replay job: release its state
        spark.catalog.dropGlobalTempView(table)
        spark.catalog.clearCache()
        shutil.rmtree(ckpt, ignore_errors=True)
        got = {(int(r[gen.KEY]), r["id"], float(r["value"])) for r in rows}
        want = self.expected if src == self.backlog else self.expected_probe
        if error is None and got != want:
            error = f"state mismatch: {len(got ^ want)} differing rows"
        return {"replay_s": t1 - t0, "read_s": t2 - t1, "progress": progress, "error": error, "rows": len(rows)}

    # --- set-up -----------------------------------------------------------
    def build(self, spark) -> None:
        self.schema = spark.read.parquet(str(self.probe_dir)).schema
        if self.replay(spark, self.probe_dir)["error"] is not None:
            self.probe_failures += 1


def events_per_s(n_events: int, rep: dict) -> float:
    return n_events / (rep["replay_s"] + rep["read_s"])


def stream_layers(sr: StreamReplay, traced: List[dict]) -> dict:
    """Per-layer stream metrics from the traced replays'
    ``recentProgress`` and state reads."""
    prog = [p for r in traced for p in r["progress"]]
    nb = max(len(prog), 1)

    def dur(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in prog) / nb

    return {
        "streaming.batches": len(prog) / len(traced),
        # rows the source handed each micro-batch: Spark's numInputRows
        # counts only what the first action read (upsert's take(1))
        "sources.rows_per_batch": sr.n_events * len(traced) / nb,
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.commit_ms": dur("commitOffsets"),
        "streaming.state_read_ms": statistics.mean(r["read_s"] for r in traced) * 1e3,
    }
