"""Gateway benchmark: one workload per process, outputs checked, every
metric printed by name and unit.

Usage (from the checkout root):

    python3 perfbench/run.py --workload rest_read --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Workloads:

- ``rest_read``   closed-loop reads over HTTP: keyed state, filtered
                  state, last tick, id lookup, Perspective view;
- ``rest_write``  closed-loop send / read-your-write / last tick;
- ``pipelines``   a backlog replay through ``streaming_keyed_last``,
                  then a fixed list of ``__spark_entry__.queries()``.

``--trace 0`` measures with nothing wrapped and prints the end-to-end
metrics.  ``--trace 1`` runs an untraced and a traced phase, wraps each
layer's public functions with span recorders (``layers.py``) and
prints every per-layer metric, tracing overhead included: the layers
the workload does not enter are measured by short probes after its
traced phase (``probes.py``).  The last
line of standard output is one compact JSON object; the full detail
goes to ``.perfbench/results/<workload>-seed<n>-trace<t>.json``.
``--workload all`` runs every workload in its own fresh process and
prints each one's compact line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

WORKLOADS = ("rest_read", "rest_write", "pipelines")

END_TO_END = {
    "setup_s": "s",
    "latency_mean_ms": "ms",
    "throughput_per_s": "1/s",
}


#: per-layer metrics every workload's own traced phase measures
COMMON_LAYERS = (
    "session.start_s",
    "trace.overhead_ms",
    "engine.exec_ms",
    "engine.jobs_per_request",
    "engine.tasks_per_request",
    "operators.state.plan_ms",
)


def layer_names() -> tuple:
    """Every per-layer metric, as the ``--trace 1`` result line lists them."""
    import probes

    return COMMON_LAYERS + probes.REST + probes.STREAM + ("streaming.events_per_s_1core",) + probes.BATCH


def own_layers(workload: str) -> tuple:
    """The per-layer metrics a workload's own traced phase measures;
    the traced run's probes (``probes.py``) measure the others."""
    import probes

    if workload == "rest_read":  # no sends
        skip = ("serving.publish_ms", "catalog.send_ms")
    elif workload == "rest_write":  # no Perspective views
        skip = ("operators.pivot.plan_ms",)
    else:
        return COMMON_LAYERS + ("operators.pivot.plan_ms",) + probes.STREAM + probes.BATCH
    return COMMON_LAYERS + tuple(m for m in probes.REST if m not in skip)


def unit_of(metric: str) -> str:
    if "per_s" in metric:
        return "1/s"
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    return "count"


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    import common

    common.check_checkout()
    cpus = common.nproc()
    run_dir = common.new_run_dir(workload)
    common.configure_env(run_dir, cpus)
    stem = f"{workload}-seed{seed}-trace{int(trace)}"
    try:
        if workload in ("rest_read", "rest_write"):
            import rest as module

            wl = module.RestWorkload(workload, seed, run_dir, cpus)
        else:
            import pipelines as module

            wl = module.PipelinesWorkload(seed, run_dir, cpus)
        t_gen = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t_gen
        out = wl.run(seconds, trace)
        res = module.summarize(wl, out, stem)
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if trace:
            import probes

            res["layers"]["session.start_s"] = out["setup"].session_s
            own = set(own_layers(workload))
            probed = [k for k in layer_names() if k not in own]
            probe = probes.Probes(seed, run_dir, stem)
            probe.run(spark, set(probed), getattr(wl, "stream", None))
            res["layers"] = {k: (probe.layers if k in probed else res["layers"])[k] for k in layer_names()}
            res["attempted"] += probe.attempted
            res["failed"] += probe.failed
            res["detail"]["probes"] = {"metrics": probed, **probe.detail}
            res["detail"]["error_rate"] = res["failed"] / res["attempted"]
            spark = SparkSession.getActiveSession()
        env = common.versions(spark, cpus) if spark is not None else {"cores": cpus}
        local_bytes = common.tree_bytes(run_dir / "spark-local")
    finally:
        common.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    rounds = out["setup"]
    e2e = {"setup_s": rounds.setup_s, **res["e2e"]}
    correct = res["failed"] == 0
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "env": env,
        "gen_s": gen_s,
        "first_op_s": out["t_measure"] - T_PROCESS,
        "wall_s": time.perf_counter() - T_PROCESS,
        "setup_rounds_s": rounds.total,
        "session_start_rounds_s": rounds.session,
        "spark_local_bytes": local_bytes,
        "end_to_end": e2e,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "correct": correct,
        **res["detail"],
    }
    if trace:
        metrics = {k: (v, unit_of(k)) for k, v in res["layers"].items()}
        detail["per_layer"] = res["layers"]
    else:
        metrics = {k: (e2e[k], END_TO_END[k]) for k in END_TO_END}
    path = common.write_detail(stem, detail)
    print(
        f"# {workload} seed={seed} cores={env.get('cores')} spark={env.get('spark')} "
        f"java={env.get('java')} python={env.get('python')} detail={path}"
    )
    for k, (v, u) in metrics.items():
        print(f"#   {k:32s} {v:14.4f} {u}")
    print(common.result_line(correct, res["attempted"], res["failed"], metrics), flush=True)
    return 0


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Each workload in a fresh process; one compact line per workload."""
    status = 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(int(trace))]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        last = lines[-1] if lines and proc.returncode == 0 else None
        if last is None:
            status = 1
            print(json.dumps({"workload": w, "error": f"exit {proc.returncode}"}))
        else:
            print(json.dumps({"workload": w, **json.loads(last)}, separators=(",", ":")), flush=True)
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
