"""Run metrics — the analog of the reference's stats sink (stats.csv with
per-stage wall clock: shaclapi/statsCalculation.py:112-170, columns
total_execution_time / query_time / network_validation_time / join_time).

Here stages are engine phases (per-shape evaluation, per-lineage-wave
processing); rows go to an in-memory recorder that exports a DataFrame so
callers can append it to a metrics table (Delta/Iceberg in production,
parquet here) — SURVEY.md §2.1 S5 mapping.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = (
    "run_id string, stage string, wall_sec double, n_rows long, ts double"
)

# per-emission trace: `answer` is the cumulative delivered-result count at
# this emission, `time` the offset from run start — the reference's trace
# file columns (test, approach, answer, time) at wave/micro-batch grain
TRACE_SCHEMA = "run_id string, answer long, time double, n_rows long, ts double"


@dataclass
class MetricsRecorder:
    """``max_rows`` (optional) ring-buffers both ``rows`` and ``trace``:
    when set, only the most recent ``max_rows`` entries are kept, so a
    recorder shared across a long-running service's requests stays
    bounded (round-4 advice — an uncapped recorder grows without limit
    and /metrics payloads with it). ``mark_first`` remembers the stages
    it has marked outside the ring, so eviction never re-arms it."""

    run_id: str
    rows: list[tuple] = field(default_factory=list)
    trace: list[tuple] = field(default_factory=list)
    max_rows: int | None = None
    _first_marked: set[str] = field(default_factory=set, init=False, repr=False)

    def _cap(self) -> None:
        if self.max_rows is not None:
            if len(self.rows) > self.max_rows:
                del self.rows[: len(self.rows) - self.max_rows]
            if len(self.trace) > self.max_rows:
                del self.trace[: len(self.trace) - self.max_rows]

    @contextmanager
    def stage(self, name: str, n_rows: int | None = None):
        """Time a named phase; ``record_rows`` on the yielded handle sets the
        row count after the fact (e.g. once an action returns)."""
        h = _StageHandle(n_rows)
        t0 = time.time()
        try:
            yield h
        finally:
            self.rows.append(
                (self.run_id, name, time.time() - t0, h.n_rows, time.time())
            )
            self._cap()

    def record(self, stage: str, wall_sec: float, n_rows: int | None = None) -> None:
        self.rows.append((self.run_id, stage, wall_sec, n_rows, time.time()))
        self._cap()

    def mark_first(self, stage: str, since_ts: float, n_rows: int | None = None) -> None:
        """Record a first-emission latency row (e.g. first verdict wave /
        micro-batch landing — the analog of the reference's first-result
        timestamp, ValidationResultTransmitter.py:21-24) exactly once."""
        if stage in self._first_marked:
            return
        self._first_marked.add(stage)
        self.record(stage, time.time() - since_ts, n_rows)

    def mark_emission(self, since_ts: float, n_rows: int | None = None) -> None:
        """Record one per-answer trace row: the analog of the reference's
        emission trace (shaclapi/statsCalculation.py:43-68 writes one
        (answer, time) row per delivered result). A per-verdict row would
        be driver-side O(results) at 10^12 scale, so the engine's emission
        unit is a delivered WAVE / MICRO-BATCH: each call appends the
        cumulative answer count + offset-from-start, reconstructing the
        reference's per-answer latency curve at emission granularity (the
        first row doubles as first-result, the last as last-result +
        number_of_results)."""
        prev = self.trace[-1][1] if self.trace else 0
        self.trace.append(
            (
                self.run_id,
                prev + (n_rows or 0),
                time.time() - since_ts,
                n_rows,
                time.time(),
            )
        )
        self._cap()

    def get(self, stage: str) -> float | None:
        for r in self.rows:
            if r[1] == stage:
                return r[2]
        return None

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.rows, schema=METRICS_SCHEMA)

    def trace_to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.trace, schema=TRACE_SCHEMA)

    def append_parquet(self, spark: SparkSession, path: str) -> None:
        self.to_df(spark).write.mode("append").parquet(path)

    def append_trace_parquet(self, spark: SparkSession, path: str) -> None:
        self.trace_to_df(spark).write.mode("append").parquet(path)


class _StageHandle:
    def __init__(self, n_rows: int | None):
        self.n_rows = n_rows

    def record_rows(self, n: int) -> None:
        self.n_rows = n
