"""HTTP transport binding: the WSGI adapter must carry the exact
service.handle_request contract over a REAL HTTP round-trip (wsgiref
simple_server on a loopback socket — the same realness bar as
test_sources' paginated-HTTP test) and pass PEP-3333 validation."""

from __future__ import annotations

import datetime as dt
import io
import json
import threading
import urllib.error
import urllib.request
from wsgiref.simple_server import make_server
from wsgiref.validate import validator

from social_warner_spark.config import parse_config
from social_warner_spark.wsgi import make_wsgi_app

CONFIG = {
    "dataset_id": "dataset_brand",
    "metrics": {"metric.impressions": "int64"},
    "group_by": {"lfm.post.channel": "string"},
    "meta_dimensions": {"lfm.brand.name": "string"},
    "brands": [1],
}

ANCHOR = dt.date(2024, 1, 8)


def _configs():
    return {"a": parse_config("a", CONFIG), "b": parse_config("b", CONFIG)}


def _app(spark, fail_ids=()):
    def extract(cfg, start, end):
        if cfg.config_id in fail_ids:
            raise RuntimeError("boom")
        return spark.createDataFrame(
            [("yt", "acme", "10")],
            "`lfm.post.channel` string, `lfm.brand.name` string,"
            " `metric.impressions` string",
        )

    return make_wsgi_app(
        _configs(), extract, load=lambda df, cfg: df.count(), anchor=ANCHOR
    )


def _call(
    app, method="POST", body=None, content_length=None, extra_environ=None,
    validate=True,
):
    """Drive the (PEP-3333-validated) app with a synthetic environ."""
    if body is None:
        raw = b""
    elif isinstance(body, (bytes, str)):
        raw = body if isinstance(body, bytes) else body.encode()
    else:
        raw = json.dumps(body).encode()
    environ = {
        "REQUEST_METHOD": method,
        "SERVER_NAME": "t",
        "SERVER_PORT": "80",
        "SERVER_PROTOCOL": "HTTP/1.1",
        "SCRIPT_NAME": "",
        "PATH_INFO": "/",
        "QUERY_STRING": "",
        "CONTENT_LENGTH": str(len(raw) if content_length is None else content_length),
        "wsgi.version": (1, 0),
        "wsgi.url_scheme": "http",
        "wsgi.input": io.BytesIO(raw),
        "wsgi.errors": io.StringIO(),
        "wsgi.multithread": False,
        "wsgi.multiprocess": False,
        "wsgi.run_once": False,
    }
    if extra_environ:
        environ.update(extra_environ)
        for k, v in list(environ.items()):
            if v is None:
                del environ[k]
    out = {}

    def start_response(status, headers):
        out["status"] = int(status.split()[0])
        out["headers"] = dict(headers)

    wrapped = validator(app) if validate else app
    it = wrapped(environ, start_response)
    try:
        chunks = list(it)
    finally:
        close = getattr(it, "close", None)
        if close is not None:
            close()
    out["body"] = json.loads(b"".join(chunks)) if chunks else None
    return out


def test_wsgi_ok_batch(spark):
    r = _call(
        _app(spark),
        body={"start_date": "{{nDaysAgo 7}}", "end_date": "2024-01-08"},
    )
    assert r["status"] == 200
    assert r["headers"]["Content-Type"] == "application/json"
    assert r["body"]["processed"] == 2 and r["body"]["failed"] == []
    assert r["body"]["start_date"] == "2024-01-01"


def test_wsgi_partial_failure_maps_to_500(spark):
    r = _call(
        _app(spark, fail_ids=("b",)),
        body={"start_date": "2024-01-01", "end_date": "2024-01-08"},
    )
    assert r["status"] == 500
    assert r["body"]["status"] == "partial" and r["body"]["failed"] == ["b"]
    assert r["body"]["processed"] == 1


def test_wsgi_empty_body_runs_default_batch(spark):
    # documented service.py deviation: bodyless request = default dates
    r = _call(_app(spark), body=None)
    assert r["status"] == 200
    assert r["body"]["start_date"] == "2024-01-01"  # {{nDaysAgo 7}} @ anchor
    assert r["body"]["end_date"] == "2024-01-08"


def test_wsgi_malformed_json_is_400_not_batch(spark):
    calls = []

    def extract(cfg, start, end):  # must never run
        calls.append(cfg.config_id)

    app = make_wsgi_app(_configs(), extract, load=lambda df, c: 0, anchor=ANCHOR)
    r = _call(app, body=b"{not json")
    assert r["status"] == 400 and r["body"]["status"] == "error"
    r2 = _call(app, body=b'["a", "list"]')
    assert r2["status"] == 400 and "JSON object" in r2["body"]["message"]
    assert calls == []


def test_wsgi_bad_macro_is_400(spark):
    r = _call(_app(spark), body={"start_date": "{{nDaysAgo nope}}"})
    assert r["status"] == 400 and r["body"]["status"] == "error"


def test_wsgi_bad_reports_filter_is_400_json(spark):
    r = _call(_app(spark), body={"reports_filter": 5})
    assert r["status"] == 400 and r["body"]["status"] == "error"
    assert r["headers"]["Content-Type"] == "application/json"


def test_wsgi_method_not_allowed(spark):
    r = _call(_app(spark), method="DELETE", body={"start_date": "2024-01-01"})
    assert r["status"] == 405
    # RFC 7231 §6.5.5 (ADVICE r07): the 405 must advertise the methods
    assert r["headers"]["Allow"] == "GET, POST"


def test_wsgi_chunked_body_is_read(spark):
    """gunicorn-style chunked POST: no CONTENT_LENGTH, but the host sets
    wsgi.input_terminated — the supplied dates must be honored, not
    silently swapped for the default batch (ADVICE r07)."""
    # unvalidated drive: wsgi.input_terminated is exactly the host
    # extension that legalizes the argless read() the PEP-3333
    # validator forbids.
    r = _call(
        _app(spark),
        body={"start_date": "2023-06-01", "end_date": "2023-06-03"},
        extra_environ={"CONTENT_LENGTH": None, "wsgi.input_terminated": True},
        validate=False,
    )
    assert r["status"] == 200
    assert r["body"]["start_date"] == "2023-06-01"
    assert r["body"]["end_date"] == "2023-06-03"


def test_wsgi_missing_length_without_termination_is_default_batch(spark):
    # without the host's EOF guarantee the adapter must NOT read() —
    # PEP-3333 says the stream may block — so the empty-body path runs
    r = _call(
        _app(spark),
        body={"start_date": "2023-06-01"},
        extra_environ={"CONTENT_LENGTH": None},
    )
    assert r["status"] == 200
    assert r["body"]["start_date"] == "2024-01-01"  # anchor default, body ignored


def test_wsgi_unmapped_status_gets_fallback_reason(spark, monkeypatch):
    """A status outside the mapped set must serialize as '<code> Unknown',
    not explode into an opaque host 500 via KeyError (ADVICE r07)."""
    import social_warner_spark.service as service

    monkeypatch.setattr(
        service, "handle_request", lambda *a, **k: ({"status": "odd"}, 299)
    )
    app = make_wsgi_app(_configs(), lambda *a: None, load=lambda df, c: 0, anchor=ANCHOR)
    r = _call(app, body=None)
    assert r["status"] == 299
    assert r["body"] == {"status": "odd"}


def test_wsgi_real_http_round_trip(spark):
    """Serve the app on a real loopback socket and POST to it — the
    deployment shape (any WSGI host) end-to-end, stdlib only."""
    app = _app(spark, fail_ids=("b",))
    srv = make_server("127.0.0.1", 0, validator(app))
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/",
            data=json.dumps(
                {"start_date": "2024-01-01", "end_date": "2024-01-08"}
            ).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            resp = urllib.request.urlopen(req, timeout=30)
            status, raw = resp.status, resp.read()
        except urllib.error.HTTPError as e:  # 500 is a valid contract reply
            status, raw = e.code, e.read()
        assert status == 500  # config "b" fails -> partial batch
        body = json.loads(raw)
        assert body["status"] == "partial" and body["failed"] == ["b"]
        assert body["processed"] == 1
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=10)
