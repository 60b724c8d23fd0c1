"""The benchmark's workloads. Each one is a closed loop: one driver thread
issues one op, waits for it, checks it against the oracle, issues the next.

Every op forces its verdicts (as per-(shape, is_valid) counts, which the gate
compares with the oracle) and its violations (executed, not collected).

The per-layer probes run once, alone, after the measured window of a traced
run, and only on the workload whose path goes through the layer; the others
report 0 for it.
"""

from __future__ import annotations

import io
import json
import os
import random
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

from perfbench.inputs import Counts, drift_counts, mismatch, oracle_counts, oracle_sqls

DATASET = "__dataset__"


@dataclass
class OpResult:
    counts: Counts
    entities: int
    udf: dict = field(default_factory=dict)


def _counts_frame(verdicts):
    from pyspark.sql import functions as F

    return (
        verdicts.filter(F.col("entity_id") != DATASET)
        .groupBy("shape", "is_valid")
        .count()
    )


def force(res, tracer, counters, traced: bool):
    """Plan, then run, the verdict counts and the violations of a
    ``SuiteResult``. Returns (counts, Arrow-UDF metrics or {})."""
    counts_df = _counts_frame(res.verdicts)
    frames = [counts_df, res.violations]
    with tracer.span("engine.plan"):
        for df in frames:
            df._jdf.queryExecution().executedPlan()
    with tracer.span("engine.exec"):
        rows = counts_df.collect()
        res.violations._jdf.queryExecution().toRdd().count()
    counts = {(r["shape"], bool(r["is_valid"])): int(r["count"]) for r in rows}
    return counts, (counters.python_udf(frames) if traced else {})


def _forced_s(df) -> float:
    t = time.perf_counter()
    df._jdf.queryExecution().toRdd().count()
    return time.perf_counter() - t


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return sorted(times)[reps // 2]


class Workload:
    name = ""
    #: large enough that data work, not per-pass overhead, dominates an op
    n_clips = 150_000

    def __init__(self, spark, paths: dict[str, str], seed: int, n_clips: int) -> None:
        self.spark = spark
        self.paths = paths
        self.seed = seed
        self.n_clips = n_clips
        self.fixture_dir = os.path.dirname(paths["clips"])

    def suites(self):
        raise NotImplementedError

    def register(self) -> None:
        """Register the op's tables (part of every set-up repetition)."""
        raise NotImplementedError

    def oracle(self) -> Counts:
        """Expected verdict counts of one op (part of every set-up repetition)."""
        raise NotImplementedError

    def run_op(self, tracer, counters, traced: bool) -> OpResult:
        raise NotImplementedError

    def probes(self, tracer, failures, small: "Workload") -> dict[str, float]:
        """Per-layer probes; ``small`` is the same workload over the small
        fixture. Layers every workload goes through: the suite compiler and
        the dataset-level drift evaluation (empty for suites without drift)."""
        from shaclapi_spark.compiler import compile_suite
        from shaclapi_spark.ops import drift as drift_ops

        def compile_all():
            for s in self.suites():
                compile_suite(s, s.names())

        out = {"compiler.compile_ms": _median_s(compile_all, 21) * 1e3}
        with tracer.span("ops.drift.eval"):
            t = time.perf_counter()
            for s in self.suites():
                vd, _vl = drift_ops.evaluate_drift_constraints(self.spark, s, self.tables)
                if vd is not None:
                    vd._jdf.queryExecution().toRdd().count()
            out["ops.drift.eval_s"] = time.perf_counter() - t
        return out


class ClipBatch(Workload):
    """The north-star job: the full clip suite (audio SNR Arrow UDF, drift,
    referential joins) over clips + transcripts."""

    name = "clip_batch"

    def suites(self):
        from shaclapi_spark import fixtures

        return [fixtures.clip_suite(include_audio=True, include_drift=True)]

    def register(self) -> None:
        self.tables = {
            t: self.spark.read.parquet(self.paths[t])
            for t in ("clips", "transcripts", "ref_histograms")
        }

    def oracle(self) -> Counts:
        return oracle_counts(oracle_sqls(self.fixture_dir, ["clip_verdicts"])["clip_verdicts"])

    def run_op(self, tracer, counters, traced):
        from shaclapi_spark.engine import run_suite

        with tracer.span("engine.build"):
            res = run_suite(self.spark, self.suites()[0], self.tables)
        counts, udf = force(res, tracer, counters, traced)
        return OpResult(counts, sum(counts.values()), udf)

    def probes(self, tracer, failures, small):
        out = super().probes(tracer, failures, small)
        out["audio_codec.snr_us_per_clip"] = self._snr_probe()
        out.update(self._revalidate_probe(tracer))
        # the service answers requests over small request-scoped tables
        out.update(small._service_probe(tracer, failures))
        return out

    def _snr_probe(self) -> float:
        """``snr_db_batch`` on a seeded 2000-clip sample, in this thread."""
        import pyarrow.parquet as pq
        from shaclapi_spark import audio_codec

        blobs = pq.read_table(self.paths["clips"], columns=["bytes"]).column(0).to_pylist()
        sample = random.Random(self.seed).sample(blobs, 2000)
        return _median_s(lambda: audio_codec.snr_db_batch(sample), 5) / len(sample) * 1e6

    def _revalidate_probe(self, tracer) -> dict[str, float]:
        """The affected-population step of incremental re-validation, from
        these tables to their ``mutate_clip_tables`` version, forced alone.
        The shares compare its size with the verdicts that really change
        between the two versions, which the DuckDB oracle gives."""
        import duckdb
        from shaclapi_spark import fixtures, revalidate

        suite = fixtures.clip_suite(include_audio=True, include_drift=False)
        nc, nt = fixtures.mutate_clip_tables(self.tables["clips"], self.tables["transcripts"])
        new = dict(self.tables, clips=nc, transcripts=nt)
        with tracer.span("revalidate.affected"):
            t = time.perf_counter()
            pops = revalidate.affected_populations(suite, self.tables, new, suite.names())
            n_reval = sum(p.count() for p in pops.values())
            affected_s = time.perf_counter() - t
        sqls = oracle_sqls(self.fixture_dir, ["incremental_verdicts", "verdict_regression"])
        n_new = sum(oracle_counts(sqls["incremental_verdicts"]).values())
        con = duckdb.connect()
        try:
            (changed,) = con.execute(
                f"SELECT sum(n) FROM ({sqls['verdict_regression']}) WHERE transition <> 'unchanged'"
            ).fetchone()
        finally:
            con.close()
        return {
            "revalidate.affected_s": affected_s,
            "revalidate.reval_share": n_reval / n_new,
            "revalidate.useful_share": int(changed) / n_reval if n_reval else 0.0,
        }

    def _service_probe(self, tracer, failures) -> dict[str, float]:
        """One request per route through ``service.make_app`` over these
        tables (seeded order), checked against the oracle, then the route's
        stage timings from ``GET /metrics``."""
        from shaclapi_spark import fixtures, service

        app = service.make_app(self.spark)

        def request(method, path, form=None):
            body = urlencode(form).encode() if form else b""
            environ = {
                "REQUEST_METHOD": method,
                "PATH_INFO": path,
                "QUERY_STRING": "",
                "CONTENT_LENGTH": str(len(body)),
                "wsgi.input": io.BytesIO(body),
            }
            status = []
            payload = b"".join(app(environ, lambda s, h: status.append(s)))
            return status[0], json.loads(payload)

        refs = json.dumps({t: "parquet:" + self.paths[t]
                           for t in ("clips", "transcripts", "ref_histograms")})
        sqls = oracle_sqls(self.fixture_dir, ["clip_cycle_verdicts", "clip_verdicts"])
        full = oracle_counts(sqls["clip_verdicts"])
        # the route's per-shape counts include one __dataset__ verdict per
        # drift constraint
        for key, n in drift_counts(self.fixture_dir, self.suites()[0]).items():
            full[key] = full.get(key, 0) + n
        routes = {
            "validation": ({"suite": fixtures.clip_cycle_suite().to_json(), "tables": refs},
                           oracle_counts(sqls["clip_cycle_verdicts"])),
            "multiprocessing": ({"suite": self.suites()[0].to_json(), "tables": refs,
                                 "limit": "100"}, full),
        }
        order = sorted(routes)
        random.Random(self.seed).shuffle(order)
        for route in order:
            form, want = routes[route]
            with tracer.span(f"service.{route}"):
                status, out = request("POST", "/" + route, form)
            got = {(shape, valid): c["valid" if valid else "invalid"]
                   for shape, c in out.get("shapes", {}).items() for valid in (True, False)}
            why = f"/{route} answered {status}" if not status.startswith("200") else mismatch(
                want, {k: v for k, v in got.items() if v})
            failures.record(not why, f"service probe: {why}")
        _status, metrics = request("GET", "/metrics")
        stage = {row["stage"]: row["wall_sec"] for row in metrics["stages"]}
        out = {}
        for route in routes:
            load = stage[f"{route}.load_time"]
            val = stage[f"{route}.validation_time"]
            out[f"service.{route}.load_ms"] = load * 1e3
            out[f"service.{route}.validation_ms"] = val * 1e3
            out[f"service.{route}.serialize_ms"] = (stage[f"{route}.total_execution_time"] - load - val) * 1e3
        return out


class MediaBatch(Workload):
    """The image suite then the video suite: container-header expressions in
    whole-stage codegen, no Python UDF on the path."""

    name = "media_batch"
    # a media op does less data work per clip than a clip_batch op
    n_clips = 200_000

    def suites(self):
        from shaclapi_spark import fixtures

        return [fixtures.image_suite(), fixtures.video_suite()]

    def register(self) -> None:
        self.tables = {
            t: self.spark.read.parquet(self.paths[t]) for t in ("images", "videos")
        }

    def oracle(self) -> Counts:
        want: Counts = {}
        for sql in oracle_sqls(self.fixture_dir, ["image_verdicts", "video_verdicts"]).values():
            want.update(oracle_counts(sql))
        return want

    def run_op(self, tracer, counters, traced):
        from shaclapi_spark.engine import run_suite

        counts: Counts = {}
        udf: dict = {}
        for suite in self.suites():
            with tracer.span("engine.build"):
                res = run_suite(self.spark, suite, self.tables)
            c, u = force(res, tracer, counters, traced)
            counts.update(c)
            for k, v in u.items():
                udf[k] = udf.get(k, 0) + v
        return OpResult(counts, sum(counts.values()), udf)

    def probes(self, tracer, failures, small):
        from shaclapi_spark.pipeline import imagery

        out = super().probes(tracer, failures, small)
        # over the small fixture: image_meta runs outside whole-stage codegen
        # (its expression tree is too large) at ~1 ms an image here
        with tracer.span("imagery.header"):
            out["imagery.header_s"] = _forced_s(imagery.image_meta(small.tables["images"]))
        return out


WORKLOADS = {w.name: w for w in (ClipBatch, MediaBatch)}
