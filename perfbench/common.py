"""Process set-up shared by every workload: where the run may write,
how the Spark session is pinned, versions, and the result line.

Everything a run writes goes under ``.perfbench/`` at the checkout
root: Spark scratch, the JVM's and Python's temp files, generated
inputs, streaming checkpoints, and the detail files in
``.perfbench/results/``.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
RESULTS = WORK / "results"
SETUP_ROUNDS = 3


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints, without
    its ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


def check_checkout() -> None:
    """Fail fast when the program's sources are not beside the
    benchmark (e.g. a directory holding only the benchmark)."""
    for rel in ("csp_gateway_spark/__init__.py", "__spark_entry__.py"):
        if not (ROOT / rel).is_file():
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}; run from a full checkout")


def configure_env(run_dir: Path, cpus: int) -> None:
    """Pin the session to ``cpus`` cores and keep every file Spark, the
    JVM and Python write inside ``run_dir``.  Must run before pyspark
    launches its JVM.

    A run may write only inside its checkout, so Spark's scratch
    (``spark.local.dir``) is here too, not the program's default tmpfs
    directory.  Each run records how many bytes that scratch holds at
    its end (``spark_local_bytes`` in the detail file)."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(local)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(cpus: int):
    """The program's own session factory, pinned to ``cpus`` cores."""
    from csp_gateway_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already gone
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def versions(spark, cpus: int) -> Dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {
        "cores": cpus,
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


@dataclass
class SetupRounds:
    """Per-round set-up times; ``setup_s`` is their median."""

    total: List[float] = field(default_factory=list)
    session: List[float] = field(default_factory=list)

    @property
    def setup_s(self) -> float:
        return statistics.median(self.total)

    @property
    def session_s(self) -> float:
        return statistics.median(self.session)


def run_setup(cpus: int, build, teardown) -> tuple:
    """Set the workload up ``SETUP_ROUNDS`` times: each round restarts
    the Spark session, builds the system, and ends when its first
    checked operation has answered.  The first round includes the JVM's
    cold start; ``setup_s`` is the median round.  Returns
    ``(spark, SetupRounds)`` with the last round's system left
    running."""
    rounds = SetupRounds()
    spark = None
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            teardown()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cpus)
        t1 = time.perf_counter()
        build(spark)
        t2 = time.perf_counter()
        rounds.session.append(t1 - t0)
        rounds.total.append(t2 - t0)
    return spark, rounds


def tree_bytes(root: Path) -> int:
    """Bytes in the files under ``root`` (Spark may delete some meanwhile)."""
    total = 0
    for p in root.rglob("*"):
        try:
            total += p.stat().st_size if p.is_file() else 0
        except OSError:
            pass
    return total


def new_run_dir(workload: str) -> Path:
    d = WORK / f"run-{workload}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    RESULTS.mkdir(parents=True, exist_ok=True)
    return d


def write_detail(name: str, detail: dict) -> Path:
    RESULTS.mkdir(parents=True, exist_ok=True)
    path = RESULTS / f"{name}.json"
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    return path


def result_line(correct: bool, attempted: int, failed: int, metrics: Dict[str, tuple]) -> str:
    """The compact last line: ``metrics`` maps name -> (value, unit)."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        },
        separators=(",", ":"),
    )
