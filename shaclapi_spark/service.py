"""HTTP service facade — the reference's Flask app (``run.py``) rebuilt on
the Python stdlib (WSGI, zero extra dependencies) over this engine's
library API.

Route parity (ref run.py:21-66):

=========================  =================================================
reference                  here
=========================  =================================================
POST /multiprocessing      full suite evaluation (api.run) → JSON verdict
  (run.py:21-34)           rows (bounded by ``limit``) + per-shape counts
POST /validation           api.validation_summary → per-shape valid/invalid
  (run.py:37-48)           counts + bounded verdict rows
POST /reduce               api.explain (compile-only) → reduced shapes +
  (run.py:51-62)           evaluation order + surviving constraint ids +
                           pruned shapes/constraints (the reduction audit);
                           errors → {"result": [], "error": ...} exactly
                           like the reference's handler
GET  /                     health text (run.py:65-66)
GET  /metrics              per-request stage timings (the stats.csv analog,
                           ref statsCalculation.py:112-170): JSON relation,
                           or the literal csv shape with ``?format=csv``
=========================  =================================================

Form arguments (``application/x-www-form-urlencoded``, mirroring the
reference's config-driven form parsing, ref shaclapi/config.py):

* ``suite`` — the engine's native Suite JSON; OR
* ``schemaDir`` + ``shapeFormat`` (SHACL|JSON, ref config.py:128-139) +
  ``bindings`` — a JSON object {shape: {table, entity_col, columns?,
  links?, class_column?, target_filter?}} (links values are LinkBinding
  kwargs) — the relational analog of the reference's endpoint config;
* ``tables`` — JSON object {name: source ref} resolved through
  :func:`shaclapi_spark.sources.read_table` (``parquet:/path``,
  ``iceberg:cat.db.tbl``, catalog names, bare paths);
* ``targetShape`` — optional JSON list or comma-separated shape names
  (ref config.py:67-88 target_shape);
* ``limit`` — max verdict rows serialized into the response (default 1000;
  counts are always exact and computed distributed) — the HTTP layer must
  never ``collect()`` an unbounded relation onto the driver.

The server owns no SparkSession: :func:`make_app` closes over one the
caller built, so tests and deployments (e.g. behind ``spark-submit``)
control master/memory/conf. Concurrency note: wsgiref's simple server is
single-threaded, matching Spark's one-driver model; production would front
this with a real WSGI container, which is orthogonal to the engine.
"""

from __future__ import annotations

import json
import traceback
from contextlib import ExitStack
from typing import Callable
from urllib.parse import parse_qs

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaclapi_spark import api, sources
from shaclapi_spark.metrics import MetricsRecorder
from shaclapi_spark.shacl import LinkBinding, ShapeBinding, parse_shape_dir, to_suite
from shaclapi_spark.suite import Suite


def _json_default(v):
    # bytes (audio payloads) and other non-JSON scalars, defensively
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _rows(df: DataFrame, limit: int) -> list[dict]:
    """Bounded row serialization: LIMIT runs distributed; only ≤limit rows
    ever reach the driver."""
    return [r.asDict(recursive=True) for r in df.limit(limit).collect()]


def _parse_form(environ) -> dict[str, str]:
    try:
        length = int(environ.get("CONTENT_LENGTH") or 0)
    except ValueError:
        length = 0
    body = environ["wsgi.input"].read(length).decode("utf-8") if length else ""
    return {k: v[0] for k, v in parse_qs(body).items()}


def _load_suite(form: dict[str, str]) -> Suite:
    if "suite" in form:
        return Suite.from_json(form["suite"])
    if "schemaDir" in form:
        if "bindings" not in form:
            raise ValueError(
                "schemaDir requires a 'bindings' form field mapping each "
                "shape onto a table (the relational analog of the "
                "reference's endpoint)"
            )
        shapes = parse_shape_dir(
            form["schemaDir"], form.get("shapeFormat", "SHACL")
        )
        raw = json.loads(form["bindings"])
        bindings = {}
        for name, b in raw.items():
            links = {
                p: LinkBinding(**lb) for p, lb in (b.pop("links", {})).items()
            }
            bindings[name] = ShapeBinding(links=links, **b)
        return to_suite(shapes, bindings)
    raise ValueError("missing 'suite' (Suite JSON) or 'schemaDir' form field")


def _load_tables(
    spark: SparkSession, form: dict[str, str]
) -> dict[str, DataFrame]:
    if "tables" not in form:
        raise ValueError(
            "missing 'tables' form field: JSON {name: source ref}"
        )
    refs = json.loads(form["tables"])
    return {name: sources.read_table(spark, ref) for name, ref in refs.items()}


def _target_shapes(form: dict[str, str]) -> list[str] | None:
    raw = form.get("targetShape")
    if not raw:
        return None
    raw = raw.strip()
    if raw.startswith("["):
        return list(json.loads(raw))
    return [s.strip() for s in raw.split(",") if s.strip()]


def make_app(
    spark: SparkSession, recorder: MetricsRecorder | None = None
) -> Callable:
    """Build the WSGI application over an existing SparkSession.

    ``recorder``: optional MetricsRecorder shared with the caller; when
    omitted the app creates its own, ring-buffered at the most recent
    10,000 stage rows so a long-running service's memory and /metrics
    payload stay bounded (pass an uncapped recorder to keep everything). Every validating POST records the
    reference's stats.csv stage columns per request
    (ref shaclapi/statsCalculation.py:112-170 — total_execution_time /
    query_time / network_validation_time analogs as
    ``<route>.total_execution_time`` / ``<route>.load_time`` /
    ``<route>.validation_time``), and ``GET /metrics`` serves the
    accumulated relation as JSON (or text/csv with ``?format=csv`` — the
    literal stats.csv shape)."""
    rec = recorder if recorder is not None else MetricsRecorder(
        run_id="service", max_rows=10_000
    )

    def respond(start_response, status: str, payload, mimetype: str):
        body = (
            payload
            if isinstance(payload, bytes)
            else json.dumps(payload, default=_json_default).encode("utf-8")
            if not isinstance(payload, str)
            else payload.encode("utf-8")
        )
        start_response(
            status,
            [
                ("Content-Type", mimetype),
                ("Content-Length", str(len(body))),
            ],
        )
        return [body]

    # every validating route releases its run's cached frames once the
    # response is serialized (or the request failed): a long-running
    # service must not pin one request's verdicts for the process lifetime
    def route_multiprocessing(form: dict[str, str]):
        with rec.stage(
            "multiprocessing.total_execution_time"
        ) as total, ExitStack() as held:
            with rec.stage("multiprocessing.load_time"):
                suite = _load_suite(form)
                tables = _load_tables(spark, form)
                limit = int(form.get("limit", "1000"))
            with rec.stage("multiprocessing.validation_time") as vt:
                res = held.enter_context(
                    api.run(
                        spark, suite, tables, target_shapes=_target_shapes(form)
                    )
                )
                counts = {
                    r["shape"]: {
                        "valid": int(r["valid"]),
                        "invalid": int(r["invalid"]),
                    }
                    for r in _rows(
                        res.verdicts.groupBy("shape").agg(
                            F.sum(F.col("is_valid").cast("long")).alias("valid"),
                            F.sum((~F.col("is_valid")).cast("long")).alias(
                                "invalid"
                            ),
                        ),
                        10_000,
                    )
                }
                n_total = sum(
                    c["valid"] + c["invalid"] for c in counts.values()
                )
                vt.record_rows(n_total)
            out = {
                "shapes": counts,
                "verdicts": _rows(res.verdicts, limit),
                "violations": _rows(res.violations, limit),
            }
            total.record_rows(n_total)
        return out

    def route_validation(form: dict[str, str]):
        with rec.stage(
            "validation.total_execution_time"
        ) as total, ExitStack() as held:
            with rec.stage("validation.load_time"):
                suite = _load_suite(form)
                tables = _load_tables(spark, form)
                limit = int(form.get("limit", "1000"))
            with rec.stage("validation.validation_time") as vt:
                out = api.validation_summary(
                    spark, suite, tables, target_shapes=_target_shapes(form)
                )
                held.enter_context(out["result"])
                n_total = sum(
                    c["valid"] + c["invalid"] for c in out["shapes"].values()
                )
                vt.record_rows(n_total)
            payload = {
                "shapes": out["shapes"],
                "verdicts": _rows(out["verdicts"], limit),
            }
            total.record_rows(n_total)
        return payload

    def route_reduce(form: dict[str, str]):
        # the reference's /reduce never touches data — suite only. Beyond
        # the reduced schema, the payload carries the FULL reduction audit:
        # chosen evaluation order (with cyclic-group markers), per-shape
        # surviving constraint ids, and exactly what was pruned
        suite = _load_suite(form)
        try:
            targets = _target_shapes(form)
            for name in targets or []:
                suite.shape(name)  # KeyError on unknown target, like the ref
            relevant = None
            if form.get("relevantColumns"):
                relevant = set(json.loads(form["relevantColumns"]))
            info = api.explain(
                suite, target_shapes=targets, relevant_columns=relevant
            )
            return {
                "shapes": info["shapes"],
                "order": info["order"],
                "constraints": info["constraints"],
                "pruned_shapes": info["pruned_shapes"],
                "pruned_constraints": info["pruned_constraints"],
            }
        except Exception:  # noqa: BLE001 — parity: ref run.py:56-62
            return {"result": [], "error": repr(traceback.format_exc())}

    def route_metrics(query: dict[str, str]):
        stages = [
            {
                "run_id": r[0],
                "stage": r[1],
                "wall_sec": r[2],
                "n_rows": r[3],
                "ts": r[4],
            }
            for r in rec.rows
        ]
        if query.get("format") == "csv":
            lines = ["run_id,stage,wall_sec,n_rows,ts"]
            for r in rec.rows:
                lines.append(
                    f"{r[0]},{r[1]},{r[2]},{'' if r[3] is None else r[3]},{r[4]}"
                )
            return ("\n".join(lines) + "\n", "text/csv")
        return (
            {
                "run_id": rec.run_id,
                "stages": stages,
                "trace": [
                    {
                        "run_id": t[0],
                        "answer": t[1],
                        "time": t[2],
                        "n_rows": t[3],
                        "ts": t[4],
                    }
                    for t in rec.trace
                ],
            },
            "application/json",
        )

    def app(environ, start_response):
        path = environ.get("PATH_INFO", "/")
        method = environ.get("REQUEST_METHOD", "GET")
        if path == "/" and method == "GET":
            return respond(start_response, "200 OK", "shaclapi-spark", "text/plain")
        if path == "/metrics" and method == "GET":
            query = {
                k: v[0]
                for k, v in parse_qs(environ.get("QUERY_STRING", "")).items()
            }
            payload, mimetype = route_metrics(query)
            return respond(start_response, "200 OK", payload, mimetype)
        handlers = {
            "/multiprocessing": route_multiprocessing,
            "/validation": route_validation,
            "/reduce": route_reduce,
        }
        if path not in handlers:
            return respond(start_response, "404 Not Found", {"error": "no such route"}, "application/json")
        if method != "POST":
            return respond(start_response, "405 Method Not Allowed", {"error": "POST only"}, "application/json")
        form = _parse_form(environ)
        try:
            payload = handlers[path](form)
        except Exception as e:  # noqa: BLE001 — service boundary
            return respond(
                start_response,
                "400 Bad Request",
                {"error": f"{type(e).__name__}: {e}"},
                "application/json",
            )
        return respond(start_response, "200 OK", payload, "application/json")

    return app


def serve(spark: SparkSession, host: str = "127.0.0.1", port: int = 5000):
    """Blocking dev server (the analog of ``flask run`` on the reference).
    Returns the server (callers embed it; tests run it on port 0 in a
    thread)."""
    from wsgiref.simple_server import make_server

    srv = make_server(host, port, make_app(spark))
    return srv
