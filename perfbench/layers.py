"""Which program functions the traced run wraps, and the per-layer
metrics computed from the spans.

Layers are named after the program's modules.  Every wrapped function
is public API of its layer; nothing in the program is edited.
"""

from __future__ import annotations

from typing import Dict, List

from spans import Tracer

#: span names whose self time is reported per operation, -> metric name
SELF_TIME_METRICS = {
    "serving.api": "serving.self_ms",
    "catalog.plan": "catalog.plan_ms",
    "query.compile": "query.compile_ms",
    "operators.state": "operators.state.plan_ms",
    "operators.pivot": "operators.pivot.plan_ms",
    "engine.exec": "engine.exec_ms",
}

STREAM_METRICS = (
    "streaming.batches",
    "sources.rows_per_batch",
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.planning_ms",
    "streaming.commit_ms",
    "streaming.state_read_ms",
)


def instrument(tracer: Tracer, spark) -> None:
    """Wrap each layer's public functions with span recorders."""
    from pyspark.sql.readwriter import DataFrameWriter

    import csp_gateway_spark.catalog as catalog
    import csp_gateway_spark.operators.pivot as pivot
    import csp_gateway_spark.operators.state as state
    import csp_gateway_spark.query as query
    import csp_gateway_spark.selection as selection
    import csp_gateway_spark.serving.app as app

    for m in ("last", "state", "lookup", "send", "perspective_view_compute"):
        tracer.wrap(app.GatewayApi, m, "serving.api")
    tracer.wrap(app.NextTickBroker, "publish", "serving.publish")
    tracer.wrap(selection.SubscriptionManager, "publish", "serving.publish")
    for m in ("last", "state", "query", "lookup", "get_channel"):
        tracer.wrap(catalog.ChannelCatalog, m, "catalog.plan")
    tracer.wrap(catalog.ChannelCatalog, "send", "catalog.send")
    tracer.wrap(catalog.ChannelCatalog, "set_channel", "catalog.set_channel")
    tracer.wrap(app, "parse_query", "query.compile")
    tracer.wrap(catalog, "apply_query", "query.compile")
    tracer.wrap(query, "apply_query", "query.compile")
    tracer.wrap(state, "keyed_last", "operators.state")
    tracer.wrap(state, "last_tick", "operators.state")
    tracer.wrap(pivot, "perspective_view", "operators.pivot")
    df_cls = type(spark.range(1))
    for m in ("collect", "count", "toPandas"):
        tracer.wrap(df_cls, m, "engine.exec")
    tracer.wrap(DataFrameWriter, "save", "engine.exec")


class JobGroups:
    """Per-operation Spark job and task counts: the caller tags each
    operation's thread with its own job group, then ``record`` reads
    the group's jobs back from the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs: Dict[str, int] = {}
        self.tasks: Dict[str, int] = {}

    def tag(self, rid: str) -> None:
        self.sc.setJobGroup(rid, "perfbench")

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, rid: str) -> None:
        st = self.sc.statusTracker()
        jids = st.getJobIdsForGroup(rid)
        tasks = 0
        for jid in jids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        self.jobs[rid] = len(jids)
        self.tasks[rid] = tasks


def per_op_layers(tracer: Tracer, n_ops: int, jobs: JobGroups | None) -> Dict[str, float]:
    """Self time per operation (ms) for each layer in
    ``SELF_TIME_METRICS``, plus job and task counts per operation."""
    n = max(n_ops, 1)
    selfs = tracer.layer_self(SELF_TIME_METRICS)
    out = {metric: selfs.get(span, 0.0) * 1e3 / n for span, metric in SELF_TIME_METRICS.items()}
    if jobs is not None and jobs.jobs:
        out["engine.jobs_per_request"] = sum(jobs.jobs.values()) / len(jobs.jobs)
        out["engine.tasks_per_request"] = sum(jobs.tasks.values()) / len(jobs.tasks)
    else:
        out["engine.jobs_per_request"] = 0.0
        out["engine.tasks_per_request"] = 0.0
    return out


def api_durations(tracer: Tracer) -> Dict[str, float]:
    """request id -> duration of its outermost ``serving.api`` span."""
    out: Dict[str, float] = {}
    for rid, spans in tracer.by_request().items():
        api: List = [s for s in spans if s.name == "serving.api"]
        if api:
            out[rid] = max(s.duration for s in api)
    return out
