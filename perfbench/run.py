"""Benchmark of the shaclapi_spark validation engine.

    python3 perfbench/run.py --workload clip_batch --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The first run synthesizes the
fixtures into ``.perfbench_cache/`` (cached by size, pinned by
``perfbench/inputs.lock.json``); every run then

1. starts a Spark session sized to the host (all cores, a quarter of RAM),
2. sets up three times: registers the tables and computes the oracle's
   expected verdict counts with DuckDB,
3. warms up with two full passes,
4. runs ops closed-loop for ``--seconds``, each from an empty Spark cache,
   checking each against the oracle and sampling the process tree's CPU
   and RSS from ``/proc``,
5. with ``--trace 1`` also reads Spark's counters around half the ops
   (ABBA order), records spans, and runs the per-layer probes,

and prints one JSON object as the last line of stdout. The line before it
(``# detail {...}``) records the host, the per-op samples and the self time
per span; the spans themselves go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WARMUP_OPS = 2
#: the fixture of the probes that answer small requests (service, image headers)
SMALL_N_CLIPS = 2_000


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit of the run's metrics, as ``BENCHMARK.json`` at the
    root of the checkout declares them: end-to-end untraced, per-layer traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def is_traced(i: int) -> bool:
    """Whether op ``i`` of a traced run is traced. Traced and untraced ops
    alternate in ABBA order and a traced window ends on a whole quartet, so
    the window's downward drift (the JIT keeps compiling) falls equally on
    both halves of the overhead estimate."""
    return i % 4 in (0, 3)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "shaclapi_spark")):
        return fail(f"no shaclapi_spark package under {ROOT}: run from a source checkout")
    sys.path[:0] = [ROOT]
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS
    from shaclapi_spark import fixture_io

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    fixtures = os.path.join(cache, "fixtures")
    tmp = os.path.join(cache, "tmp")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (tmp, out_dir):
        os.makedirs(d, exist_ok=True)
    # everything Spark, its JVM and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    wcls = WORKLOADS[args.workload]
    try:
        paths = fixture_io.ensure_fixture_pandas(wcls.n_clips, root=fixtures)
        inputs.check_lock(wcls.n_clips, paths)
        small_paths = fixture_io.ensure_fixture_pandas(SMALL_N_CLIPS, root=fixtures)
        inputs.check_lock(SMALL_N_CLIPS, small_paths)
    except inputs.InputMismatch as e:
        return fail(str(e))
    units = declared_metrics(bool(args.trace))
    metrics, failures, detail = measure(args, wcls, paths, small_paths, tmp, out_dir, units)
    missing = sorted(set(units) - set(metrics))
    if missing and failures.failed == 0:
        return fail(f"declared metrics not measured: {missing}")
    result = {
        "correct": failures.failed == 0 and failures.attempted > 0,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0


def measure(args, wcls, paths, small_paths, tmp, out_dir, units):
    import pyspark

    from perfbench import stats
    from perfbench.procstat import TreeSampler, cpu_steal, wait_tree_gone
    from perfbench.spark_layers import (
        SparkCounters, build_session, driver_mem_mb, host_cores, host_mem_mb, release_cache,
        stop_session,
    )
    from perfbench.tracing import Tracer

    cores, mem_mb = host_cores(), host_mem_mb()
    sampler = TreeSampler()
    sampler.start()
    failures = stats.FailureCount()
    tracer = Tracer(enabled=False)
    detail = {
        "workload": wcls.name,
        "seed": args.seed,
        "n_clips": wcls.n_clips,
        "host": {
            "cores": cores,
            "mem_total_mb": mem_mb,
            "driver_mem_mb": driver_mem_mb(mem_mb),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "load_threads": 1,
        },
    }
    t0 = time.perf_counter()
    spark = build_session(tmp, cores, driver_mem_mb(mem_mb))
    session_s = time.perf_counter() - t0
    try:
        counters = SparkCounters(spark)
        wl = wcls(spark, paths, args.seed, wcls.n_clips)
        rep_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.register()
            expected = wl.oracle()
            rep_s.append(time.perf_counter() - t)

        def one_op(op_id: str, traced: bool) -> dict:
            # every op is a full pass: nothing cached by the last one is reused
            release_cache(spark)
            tracer.enabled = traced
            tracer.op_id = op_id
            counters.begin_op(op_id, wl.name)
            cg0 = counters.codegen() if traced else None
            sampler.reset_peaks()
            cpu0 = sampler.sample()
            roles0 = sampler.cpu_by_role()
            rec = checked_op(lambda: wl.run_op(tracer, counters, traced), expected,
                             failures, op_id, tracer)
            rec["cpu_s"] = sampler.sample() - cpu0
            rec["cpu_roles_s"] = {r: v - roles0[r] for r, v in sampler.cpu_by_role().items()}
            rec["rss_mb"] = sampler.peak_total_rss_mb
            rec["rss_roles_mb"] = dict(sampler.peak_rss_mb)
            rec["traced"] = traced
            if traced:
                cg1 = counters.codegen()
                rec["codegen"] = (cg1[0] - cg0[0], cg1[1] - cg0[1])
                rec["jobs"] = counters.jobs_of(op_id)
            tracer.enabled = False
            return rec

        # warm-up: full passes from the cold JVM. The first pays the JIT,
        # whole-stage codegen and Python worker start-up; the JIT then keeps
        # settling for about ten passes, more than a run can afford, and the
        # first of those is still ~20 % slower than the third. What drift
        # is left is the same in every run; the median over the window's
        # ops absorbs it
        t = time.perf_counter()
        warm = [one_op(f"warmup-{i}", False) for i in range(WARMUP_OPS)]
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(rep_s) + warm_s

        steal0 = cpu_steal()
        ops = []
        start = time.perf_counter()
        # in traced runs the untraced half of the ops gives the tracing
        # overhead within the same run, over whole ABBA quartets
        while time.perf_counter() - start < args.seconds or (args.trace and len(ops) % 4):
            ops.append(one_op(f"op-{len(ops)}", bool(args.trace) and is_traced(len(ops))))
        window_s = time.perf_counter() - start
        steal1 = cpu_steal()
        good = [o for o in ops if "error" not in o]
        walls = [o["wall_s"] * 1e3 for o in good]
        detail.update({
            "session_s": session_s,
            "setup_reps_s": rep_s,
            "warmup_s": warm_s,
            "warmup_ops_s": [o["wall_s"] for o in warm],
            "window_s": window_s,
            # share of the host's CPU time the hypervisor gave to others
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "latency_ms": {"n": len(walls), "p50": statistics.median(walls) if walls else None,
                           "tail": stats.tail(walls)},
            "ops": [{k: v for k, v in o.items() if k not in ("udf", "jobs", "rss_roles_mb")}
                    for o in ops],
        })
        if args.trace:
            metrics = layer_metrics(good, counters, tracer, units)
            release_cache(spark)
            tracer.enabled = True
            tracer.op_id = "probes"
            try:
                small = wcls(spark, small_paths, args.seed, SMALL_N_CLIPS)
                small.register()
                metrics.update(wl.probes(tracer, failures, small))
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                failures.record(False, f"probes: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            metrics["gate.error_rate"] = failures.error_rate
            detail["self_s"] = tracer.self_times()
            tracer.write(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-spans.json"))
        else:
            metrics = {"setup_s": setup_s}
            if good:
                metrics["peak_rss_mb"] = statistics.median([o["rss_mb"] for o in good])
                metrics["entities_per_s"] = statistics.median([o["entities"] / o["wall_s"] for o in good])
                metrics["cpu_us_per_entity"] = statistics.median(
                    [o["cpu_s"] / o["entities"] * 1e6 for o in good])
        detail["errors"] = failures.errors
    finally:
        stop_session(spark)
        sampler.stop()
        left = wait_tree_gone(sampler)
        if left:
            print(f"perfbench: killed leftover processes {left}", file=sys.stderr)
    return metrics, failures, detail


def checked_op(run, expected, failures, op_id: str, tracer) -> dict:
    """Run one op and compare its verdict counts with the oracle's. An op
    that raises or disagrees is counted as failed; the run goes on."""
    from perfbench import inputs

    rec = {"op": op_id}
    t = time.perf_counter()
    try:
        with tracer.span("op"):
            res = run()
            with tracer.span("gate.check"):
                why = inputs.mismatch(expected, res.counts)
        rec.update(entities=res.entities, udf=res.udf)
    except Exception as e:  # noqa: BLE001 - the failure is reported, not fatal
        why = f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    rec["wall_s"] = time.perf_counter() - t
    if why:
        rec["error"] = why
    failures.record(not why, f"{op_id}: {why}")
    return rec


def layer_metrics(good, counters, tracer, units) -> dict[str, float]:
    """Per-layer numbers of the traced ops, probes' layers left at 0."""
    traced = [o for o in good if o["traced"]]
    untraced = [o for o in good if not o["traced"]]

    def per_op(fn) -> float:
        return sum(fn(o) for o in traced) / len(traced) if traced else 0.0

    span_s: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        d = span_s.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + (s["end"] - s["start"])

    def median_span(name: str) -> float:
        return statistics.median([d.get(name, 0.0) for d in span_s.values()]) if span_s else 0.0

    rdds, cached_mb = counters.storage()
    m = dict.fromkeys(units, 0.0)
    m.update({
        "engine.build_s": median_span("engine.build"),
        "engine.plan_s": median_span("engine.plan"),
        "engine.exec_s": median_span("engine.exec"),
        "engine.persistent_rdds_end": rdds,
        "engine.cached_mb_end": cached_mb,
        "ops.audio.python_ms": per_op(lambda o: o["udf"].get("python_ms", 0.0)),
        "ops.audio.python_sent_mb": per_op(lambda o: o["udf"].get("python_sent_mb", 0.0)),
        "codegen.compiles": per_op(lambda o: o["codegen"][0]),
        "codegen.compile_ms": per_op(lambda o: o["codegen"][1]),
        "spark.jobs_per_op": per_op(lambda o: o["jobs"]["jobs"]),
        "spark.tasks_per_op": per_op(lambda o: o["jobs"]["tasks"]),
        "spark.shuffle_write_mb": per_op(lambda o: o["jobs"]["shuffle_write_mb"]),
    })
    for role in ("driver", "jvm", "pyworkers"):
        m[f"rss.{role}_mb"] = statistics.median([o["rss_roles_mb"].get(role, 0.0) for o in good] or [0.0])
        m[f"cpu.{role}_s"] = statistics.median([o["cpu_roles_s"][role] for o in good] or [0.0])
    if traced and untraced:
        m["trace.overhead_share"] = (
            statistics.median([o["wall_s"] for o in traced])
            / statistics.median([o["wall_s"] for o in untraced]) - 1.0
        )
    return m


if __name__ == "__main__":
    sys.exit(main())
