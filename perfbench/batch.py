"""The batch half of the pipelines workload: a fixed list of
``__spark_entry__.queries()`` entries over fixed tables.

The tables are a copy of the sf0.01 test tables ``documents``,
``embeddings``, ``events`` and ``lineitem`` (``perfbench/data/sf0.01``),
the scale at which every query is checked against its oracle; the seed
does not apply to them.  A pass calls ``reset_shared()`` first, so
every shared intermediate is rebuilt inside it, then runs each query
once and collects its result, which is small (at most ~10k rows).  After
each query's timing has stopped its result is hash-compared with the
query's ``oracle_sql()`` result on DuckDB (computed before the session
starts): order-insensitive, every value compared as a string, as
``tools/check.py`` requires.  Collecting instead
of writing to the ``noop`` sink lets the timed pass be the checked
pass, so no second pass is needed.
"""

from __future__ import annotations

import hashlib
import time
from typing import Dict, List, Optional

import layers
from common import HERE
from spans import Tracer

DATA = HERE / "data" / "sf0.01"
TABLES = ("documents", "embeddings", "events", "lineitem")
PROBE = "sales_cube"

#: one query per operator module: similarity, dedup, retrieval, text,
#: windows, joins, pivot, rollup.  tfidf (corpus), hdr_quantiles
#: (sketches) and kendall_tau (analytics) are left out: cold, each takes
#: 2-4 s, more than the run budget has room for
QUERIES = (
    "ann_cosine_topk",
    "embedding_neardup_lsh",
    "bm25_topk",
    "quality_filter",
    "window_session",
    "asof_join",
    "perspective_pivot",
    "sales_cube",
)


def canonical_hash(pdf) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    every value rendered as a string, rows sorted."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(str(v) for v in rec) for rec in pdf[cols].itertuples(index=False))
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class BatchOperators:
    def __init__(self):
        self.sf_dir = str(DATA)
        self.probe_failures = 0
        self.passes: List[dict] = []

    def prepare(self) -> None:
        missing = [t for t in TABLES if not (DATA / f"{t}.parquet").is_file()]
        if missing:
            raise SystemExit(f"perfbench: missing batch tables {missing} under {DATA}")
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()
        self.want = self._oracle_hashes(entry.oracle_sql())
        self.spec = {"tables": list(TABLES), "queries": list(QUERIES), "sf_dir": "perfbench/data/sf0.01"}

    @staticmethod
    def _oracle_hashes(oracles: Dict[str, str]) -> Dict[str, str]:
        """query -> hash of its ``oracle_sql()`` result on DuckDB."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / (t + '.parquet')}')")
            return {q: canonical_hash(con.execute(oracles[q]).fetchdf()) for q in set(QUERIES) | {PROBE}}
        finally:
            con.close()

    def _collect(self, spark, name: str):
        return self.queries[name](spark, self.sf_dir).toPandas()

    def _check(self, name: str, pdf) -> Optional[str]:
        """None when ``pdf`` hash-matches the query's oracle, else why."""
        return None if canonical_hash(pdf) == self.want[name] else "hash mismatch with oracle_sql"

    def build(self, spark) -> None:
        try:
            error = self._check(PROBE, self._collect(spark, PROBE))
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            error = str(e)
        if error is not None:
            self.probe_failures += 1

    def teardown(self) -> None:
        self.entry.reset_shared(keep_plans=False)

    def run_pass(self, spark, tracer: Tracer = None, jobs: layers.JobGroups = None) -> dict:
        """Every query once, timed one by one; each result is checked
        after its timing has stopped."""
        self.entry.reset_shared()
        per: Dict[str, float] = {}
        errors: Dict[str, str] = {}
        for q in QUERIES:
            rid = f"q-{q}-{len(self.passes)}"
            pdf = None
            if jobs is not None:
                jobs.tag(rid)
            tq = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.request(rid), tracer.span("operators.query"):
                        pdf = self._collect(spark, q)
                else:
                    pdf = self._collect(spark, q)
            except Exception as e:  # noqa: BLE001 — counted as failed
                errors[q] = f"{type(e).__name__}: {str(e)[:200]}"
            finally:
                per[q] = time.perf_counter() - tq
                if jobs is not None:
                    jobs.untag()
                    jobs.record(rid)
            if pdf is not None and (error := self._check(q, pdf)) is not None:
                errors[q] = error
        rec = {
            "wall": sum(per.values()),
            "per_query": per,
            "errors": errors,
            "shared_build_s": self.entry.shared_build_sec(),
        }
        self.passes.append(rec)
        return rec
