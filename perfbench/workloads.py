"""The benchmark's workloads.

Each is a closed loop with one client: the next operation starts when the
previous one has returned its result to the driver.  A *pass* is what
``wall_s`` times; an *operation* is what ``error_rate`` counts (one detect
run, or one registry query).  Inputs are generated from the seed before
any timing, and every operation's output is checked.

Why each workload exists (README.md has the sizing numbers):

* ``detect-cold`` -- the reference CLI's default run: ``--force-reload``
  and a 200-message stream.  Ingest (JSON scan, filters, preprocessing,
  Parquet cache write) is a large share; the detectors see 200 messages.
* ``detect-warm`` -- the same CLI over the whole test split with the
  cache already built.  The detector operators and ``plans/pipeline.py``
  do the work; ingest is a cache hit, so this is the bypass case for any
  ingest change.
* ``ivm`` -- streaming maintenance twins that write state every batch
  while reading it back: kmv spends its time staging and publishing,
  curation inside ``addBatch``, covariance crosses the Python/Arrow
  boundary (``mapInPandas``).
* ``fixpoint`` -- the iterative, job-bound loops: q-digest sweep,
  connected components, BFS and k-core.
* ``ivm-fixpoint`` -- the kmv twin and the k-core fixpoint loop: the
  stand-in for the two above in ``BENCHMARK.json``.  It bypasses
  conversation ingest and the detector pipeline.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import gen
import oracle

TABLE_READS = {
    "q_stream_hist_maintenance": ("events",),
    "q_stream_hh_maintenance": ("documents",),
    "q_stream_covariance_maintenance": ("embeddings",),
    "q_stream_kmv_maintenance": ("documents",),
    "q_stream_curation_maintenance": ("documents",),
    "q_events_qdigest": ("events",),
    "q_customer_golden_record": ("customer",),
    "q_part_hop_distance": ("lineitem", "part"),
    "q_part_coreness": ("lineitem",),
}


@dataclass
class Op:
    """One operation: its time, and a check returning an error or None."""

    name: str
    seconds: float
    check: Callable[[], str | None]


def _failed(exc: Exception) -> Callable[[], str]:
    message = f"{type(exc).__name__}: {exc}"
    return lambda: message


class DetectWorkload:
    """The reference CLI run in-process (``cli.main``), summary checked
    against the pure-Python oracle."""

    def __init__(self, work: str, seed: int, cold: bool) -> None:
        self.corpus = os.path.join(work, "corpus")
        self.cache = os.path.join(work, "cache")
        self.seed = seed
        self.cold = cold
        self.limit = 200 if cold else None

    def prepare(self) -> None:
        raw = gen.generate_corpus(self.corpus, self.seed)
        self.want = oracle.expected_summary(self.corpus, self.limit)
        # cold ingest scans every raw message; warm streams the test split
        self.input_rows = raw if self.cold else self.want["processed"]

    def ready(self) -> None:
        pass

    def run_pass(self, spark, span) -> list[Op]:
        from bigdataminingproject_spark import cli

        args = ["--data-dir", self.corpus, "--cache-dir", self.cache]
        args += ["--force-reload"] if self.cold else ["--max-messages", str(10**9)]
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(out):
                cli.main.main(args=args, standalone_mode=False)
        except Exception as exc:  # a failed operation is counted, not fatal
            return [Op("detect", time.perf_counter() - t0, _failed(exc))]
        seconds = time.perf_counter() - t0
        summary = json.loads(out.getvalue())
        return [Op("detect", seconds, lambda: "; ".join(
            oracle.summary_mismatches(summary, self.want)[:3]) or None)]

    def close(self) -> None:
        pass


class QueryWorkload:
    """A fixed mix of registry queries, each checked against its DuckDB
    oracle on the same generated tables."""

    def __init__(self, work: str, seed: int, queries: tuple[str, ...]) -> None:
        self.tables = os.path.join(work, "tables")
        self.seed = seed
        self.queries = queries

    def prepare(self) -> None:
        import __spark_entry__

        rows = gen.generate_tables(self.tables, self.seed,
                                   tuple({t for q in self.queries for t in TABLE_READS[q]}))
        registry, sql = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        self.fns = {q: registry[q] for q in self.queries}
        self.input_rows = sum(rows[t] for q in self.queries for t in TABLE_READS[q])
        # The oracles (q-digest's alone takes ~10 s in DuckDB) run in a
        # thread during the untimed warm-up; ``ready`` joins it before timing.
        self._pool = ThreadPoolExecutor(1)
        self._want = self._pool.submit(self._oracles, rows, sql)

    def _oracles(self, rows, sql) -> dict:
        con = oracle.duckdb_connection(self.tables, rows)
        try:
            return {q: oracle.oracle_matrix(con, sql[q]) for q in self.queries}
        finally:
            con.close()

    def ready(self) -> None:
        self.want = self._want.result()

    def close(self) -> None:
        self._pool.shutdown(wait=True)

    def run_pass(self, spark, span) -> list[Op]:
        ops = []
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                with span("query", name):
                    df = self.fns[name](spark, self.tables)
                    cols, rows = df.columns, df.collect()
            except Exception as exc:  # a failed operation is counted, not fatal
                ops.append(Op(name, time.perf_counter() - t0, _failed(exc)))
                continue
            ops.append(Op(name, time.perf_counter() - t0, functools.partial(
                self._check, name, oracle.value_matrix(cols, rows))))
        return ops

    def _check(self, name: str, got) -> str | None:
        self.ready()
        return oracle.matrix_mismatch(got, self.want[name])


IVM = ("q_stream_hist_maintenance", "q_stream_hh_maintenance",
       "q_stream_covariance_maintenance", "q_stream_kmv_maintenance",
       "q_stream_curation_maintenance")
FIXPOINT = ("q_events_qdigest", "q_customer_golden_record",
            "q_part_hop_distance", "q_part_coreness")
# The query workload in BENCHMARK.json: one twin and one fixpoint loop,
# as much of ivm and fixpoint as fits the time budget (README.md, "Budget").
IVM_FIXPOINT = ("q_stream_kmv_maintenance", "q_part_coreness")

WORKLOADS = {
    "detect-cold": lambda work, seed: DetectWorkload(work, seed, cold=True),
    "detect-warm": lambda work, seed: DetectWorkload(work, seed, cold=False),
    "ivm-fixpoint": lambda work, seed: QueryWorkload(work, seed, IVM_FIXPOINT),
    "ivm": lambda work, seed: QueryWorkload(work, seed, IVM),
    "fixpoint": lambda work, seed: QueryWorkload(work, seed, FIXPOINT),
}
