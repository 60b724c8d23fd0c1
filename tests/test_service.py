"""HTTP service facade parity with the reference's Flask app (run.py:21-66):
/multiprocessing, /validation, /reduce, GET / — stdlib WSGI over the same
library API, form-encoded in, JSON out, bounded row serialization."""

import http.client
import io
import json
import shutil
import threading
from urllib.parse import urlencode

import pytest

from shaclapi_spark import api, fixtures, service


@pytest.fixture(scope="module")
def server(spark):
    srv = service.serve(spark, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address
    srv.shutdown()


def _post(addr, path, form):
    conn = http.client.HTTPConnection(*addr)
    conn.request(
        "POST",
        path,
        body=urlencode(form),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    r = conn.getresponse()
    body = r.read().decode()
    conn.close()
    return r.status, json.loads(body) if body.startswith(("{", "[")) else body


def _form(fixture_dir, **extra):
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    form = {
        "suite": suite.to_json(),
        "tables": json.dumps(
            {
                "clips": f"parquet:{fixture_dir['clips']}",
                "transcripts": f"parquet:{fixture_dir['transcripts']}",
            }
        ),
    }
    form.update(extra)
    return form


def test_health(server):
    conn = http.client.HTTPConnection(*server)
    conn.request("GET", "/")
    r = conn.getresponse()
    assert r.status == 200
    assert b"shaclapi" in r.read()
    conn.close()


def test_validation_route_matches_library(server, spark, fixture_dir, fixture_tables):
    status, out = _post(server, "/validation", _form(fixture_dir))
    assert status == 200
    lib = api.validation_summary(
        spark,
        fixtures.clip_suite(include_audio=False, include_drift=False),
        fixture_tables,
    )
    assert out["shapes"] == lib["shapes"]
    assert 0 < len(out["verdicts"]) <= 1000
    assert {"entity_id", "shape", "is_valid"} <= set(out["verdicts"][0])


def test_multiprocessing_route(server, fixture_dir):
    status, out = _post(
        server, "/multiprocessing", _form(fixture_dir, limit="7")
    )
    assert status == 200
    assert len(out["verdicts"]) == 7  # bounded serialization
    assert len(out["violations"]) <= 7
    counts = out["shapes"]["ClipShape"]
    assert counts["valid"] > 0 and counts["invalid"] > 0


def test_reduce_route_no_tables_needed(server):
    suite = fixtures.clip_cycle_suite()
    status, out = _post(
        server, "/reduce", {"suite": suite.to_json(), "targetShape": "ClipShape"}
    )
    assert status == 200
    assert set(out["shapes"]) == {"ClipShape", "TranscriptShape"}
    assert any(g["cyclic"] for g in out["order"])


def test_reduce_error_payload_parity(server):
    # parity with ref run.py:56-62: handler errors -> {'result': [], 'error': ...}
    status, out = _post(
        server,
        "/reduce",
        {
            "suite": fixtures.clip_suite(False, False).to_json(),
            "targetShape": "NoSuchShape",
        },
    )
    assert status == 200
    assert out["result"] == [] and "error" in out


def test_target_shape_restriction(server, fixture_dir):
    status, out = _post(
        server,
        "/validation",
        _form(fixture_dir, targetShape='["TranscriptShape"]'),
    )
    assert status == 200
    assert set(out["shapes"]) == {"TranscriptShape"}


def test_bad_request_and_routing(server):
    status, out = _post(server, "/validation", {})
    assert status == 400 and "suite" in out["error"]
    status, _ = _post(server, "/nope", {})
    assert status == 404
    conn = http.client.HTTPConnection(*server)
    conn.request("GET", "/validation")
    assert conn.getresponse().status == 405
    conn.close()


def test_schema_dir_bindings_path(server, tmp_path, fixture_dir):
    # the reference's schemaDir + shapeFormat form flow (config.py:128-139)
    (tmp_path / "Clip.ttl").write_text(
        """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:ClipShape a sh:NodeShape ;
  sh:property [ sh:path ex:codec ; sh:minCount 1 ] .
"""
    )
    bindings = {
        "ClipShape": {
            "table": "clips",
            "entity_col": "clip_id",
            "columns": {"codec": "codec"},
        }
    }
    form = {
        "schemaDir": str(tmp_path),
        "shapeFormat": "SHACL",
        "bindings": json.dumps(bindings),
        "tables": json.dumps({"clips": f"parquet:{fixture_dir['clips']}"}),
    }
    status, out = _post(server, "/validation", form)
    assert status == 200
    c = out["shapes"]["ClipShape"]
    assert c["valid"] + c["invalid"] > 0


def _get(addr, path):
    conn = http.client.HTTPConnection(*addr)
    conn.request("GET", path)
    r = conn.getresponse()
    body = r.read().decode()
    ctype = r.getheader("Content-Type")
    conn.close()
    return r.status, ctype, json.loads(body) if body.startswith(("{", "[")) else body


def test_metrics_route_records_request_stages(server, fixture_dir):
    # drive one validation, then the stats.csv-analog relation must carry
    # the per-request stage rows (total/load/validation) with row counts
    status, out = _post(server, "/validation", _form(fixture_dir))
    assert status == 200
    n_total = sum(c["valid"] + c["invalid"] for c in out["shapes"].values())
    status, ctype, m = _get(server, "/metrics")
    assert status == 200 and ctype == "application/json"
    stages = {s["stage"] for s in m["stages"]}
    assert {
        "validation.total_execution_time",
        "validation.load_time",
        "validation.validation_time",
    } <= stages
    vt = [
        s for s in m["stages"] if s["stage"] == "validation.validation_time"
    ][-1]
    assert vt["n_rows"] == n_total and vt["wall_sec"] > 0
    # csv export: the literal stats.csv shape
    status, ctype, csv = _get(server, "/metrics?format=csv")
    assert status == 200 and ctype == "text/csv"
    assert csv.splitlines()[0] == "run_id,stage,wall_sec,n_rows,ts"
    assert any("validation.total_execution_time" in ln for ln in csv.splitlines())


def test_reduce_route_reports_reduction_audit(server):
    # target restriction prunes the unreachable shape and reports it
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    status, out = _post(
        server,
        "/reduce",
        {"suite": suite.to_json(), "targetShape": "TranscriptShape"},
    )
    assert status == 200
    assert out["shapes"] == ["TranscriptShape"]
    assert "ClipShape" in out["pruned_shapes"]
    assert out["constraints"]["TranscriptShape"]
    assert out["order"][0]["cyclic"] is False


def test_multiprocessing_soak_releases_cached_frames(spark, fixture_dir, tmp_path):
    """A long-running service must not pin any request's cached frames: 20
    /multiprocessing requests (clip suite with audio and drift) leave no
    persisted RDD behind. The tables are private copies, so no other
    test's cached plan can match these requests'; the check is on RDD ids
    because the session's cleaner may drop other tests' caches meanwhile."""
    app = service.make_app(spark)
    tables = {}
    for t in ("clips", "transcripts", "ref_histograms"):
        shutil.copy(fixture_dir[t], tmp_path / t)
        tables[t] = f"parquet:{tmp_path / t}"
    body = urlencode(
        {
            "suite": fixtures.clip_suite().to_json(),
            "tables": json.dumps(tables),
            "limit": "10",
        }
    ).encode()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(20):
        status = []
        environ = {
            "REQUEST_METHOD": "POST",
            "PATH_INFO": "/multiprocessing",
            "QUERY_STRING": "",
            "CONTENT_LENGTH": str(len(body)),
            "wsgi.input": io.BytesIO(body),
        }
        out = json.loads(b"".join(app(environ, lambda s, h: status.append(s))))
        assert status == ["200 OK"], out
        assert out["shapes"]["ClipShape"]["invalid"] > 0
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
