"""CLI transport (`python -m social_warner_spark`): the same
service.handle_request contract as HTTP, driven through argparse with
pluggable dotted-path extract/load and the `--out` sink (sinks.write_table)."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from social_warner_spark.__main__ import main, resolve_callable

CONFIG_DOC = {
    "a": {
        "dataset_id": "dataset_brand",
        "metrics": {"metric.impressions": "int64"},
        "group_by": {"lfm.post.channel": "string"},
        "meta_dimensions": {"lfm.brand.name": "string"},
        "brands": [1],
    },
    "b": {
        "dataset_id": "dataset_brand",
        "metrics": {"metric.impressions": "int64"},
        "group_by": {"lfm.post.channel": "string"},
        "meta_dimensions": {"lfm.brand.name": "string"},
        "brands": [2],
    },
}


def demo_extract(config, start, end):
    """Importable extract target for the dotted-path CLI contract."""
    from social_warner_spark.session import get_spark

    if config.config_id == "boom":
        raise RuntimeError("boom")
    df = get_spark().createDataFrame(
        [("yt", "acme", "10")],
        "`lfm.post.channel` string, `lfm.brand.name` string,"
        " `metric.impressions` string",
    )
    return df.limit(0) if config.config_id == "empty" else df


def demo_load(df, config):
    return df.count()


NOT_CALLABLE = 42


def _write_configs(tmp_path, doc=CONFIG_DOC):
    p = tmp_path / "configs.json"
    p.write_text(json.dumps(doc))
    return str(p)


def test_resolve_callable_contract():
    fn = resolve_callable("tests.test_cli:demo_load")
    # pytest may import this module under a different name, so compare
    # by qualname rather than object identity
    assert fn.__qualname__ == demo_load.__qualname__
    with pytest.raises(ValueError, match="must look like"):
        resolve_callable("tests.test_cli.demo_load")
    with pytest.raises(ValueError, match="cannot import"):
        resolve_callable("no.such.module:fn")
    with pytest.raises(ValueError, match="no attribute"):
        resolve_callable("tests.test_cli:nope")
    with pytest.raises(ValueError, match="non-callable"):
        resolve_callable("tests.test_cli:NOT_CALLABLE")


def test_batch_ok_with_builtin_parquet_loader(spark, tmp_path, capsys):
    out_dir = tmp_path / "exports"
    rc = main([
        "batch",
        "--configs", _write_configs(tmp_path),
        "--extract", "tests.test_cli:demo_extract",
        "--out", str(out_dir),
        "--start", "{{nDaysAgo 7}}",
        "--end", "2024-01-08",
        "--anchor", "2024-01-08",
    ])
    body = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert body["processed"] == 2 and body["failed"] == []
    assert body["start_date"] == "2024-01-01"  # macro resolved at anchor
    # the --out sink wrote the reference-named sink tables
    written = spark.read.parquet(str(out_dir / "010_warner_dl_lf_a"))
    assert written.count() == 1
    assert "lfm&brand&name" in written.columns  # sanitize ran (A12)


def test_batch_reports_filter_and_failure_exit_code(tmp_path, capsys):
    doc = dict(CONFIG_DOC)
    doc["boom"] = dict(doc["a"])
    rc = main([
        "batch",
        "--configs", _write_configs(tmp_path, doc),
        "--extract", "tests.test_cli:demo_extract",
        "--load", "tests.test_cli:demo_load",
        "--reports-filter", "a", "boom",
        "--start", "2024-01-01",
        "--end", "2024-01-08",
    ])
    body = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1  # partial batch -> HTTP 500 -> scripting failure
    assert body["status"] == "partial"
    assert body["processed"] == 1 and body["failed"] == ["boom"]


def test_wiring_errors_exit_2(tmp_path, capsys):
    cfg = _write_configs(tmp_path)
    # neither --load nor --out
    rc = main(["batch", "--configs", cfg, "--extract", "tests.test_cli:demo_extract"])
    assert rc == 2
    assert "exactly one of" in json.loads(capsys.readouterr().out)["message"]
    # both
    rc = main([
        "batch", "--configs", cfg,
        "--extract", "tests.test_cli:demo_extract",
        "--load", "tests.test_cli:demo_load", "--out", str(tmp_path),
    ])
    assert rc == 2
    # missing configs file
    rc = main([
        "batch", "--configs", str(tmp_path / "nope.json"),
        "--extract", "tests.test_cli:demo_extract",
        "--load", "tests.test_cli:demo_load",
    ])
    assert rc == 2


def test_wrong_typed_config_section_exits_2(tmp_path, capsys):
    """ADVICE r08: "metrics": [] used to escape main() as a raw
    AttributeError traceback; config-shape errors are now ValueError
    from parse_config, so the CLI reports the documented exit-2 JSON."""
    bad = {"a": dict(CONFIG_DOC["a"], metrics=[])}
    rc = main([
        "batch", "--configs", _write_configs(tmp_path, bad),
        "--extract", "tests.test_cli:demo_extract",
        "--load", "tests.test_cli:demo_load",
    ])
    body = json.loads(capsys.readouterr().out.strip())
    assert rc == 2
    assert body["status"] == "error"
    assert "section 'metrics'" in body["message"]


def test_serve_wires_the_wsgi_app(tmp_path, monkeypatch):
    """The serve branch must hand make_wsgi_app's app to the server
    factory with the parsed host/port; the real socket path is covered
    by test_service_wsgi's loopback round-trip."""
    import social_warner_spark.__main__ as cli

    captured = {}

    class FakeServer:
        server_address = ("127.0.0.1", 4242)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def serve_forever(self):
            captured["served"] = True
            raise KeyboardInterrupt  # the CLI's clean-shutdown path

    def fake_make_server(host, port, app):
        captured["host"], captured["port"], captured["app"] = host, port, app
        return FakeServer()

    monkeypatch.setattr(cli, "_make_server", fake_make_server)
    rc = main([
        "serve",
        "--configs", _write_configs(tmp_path),
        "--extract", "tests.test_cli:demo_extract",
        "--out", str(tmp_path / "exports"),
        "--host", "0.0.0.0",
        "--port", "9999",
    ])
    assert rc == 0
    assert captured["served"]
    assert (captured["host"], captured["port"]) == ("0.0.0.0", 9999)
    assert callable(captured["app"])  # the WSGI app from make_wsgi_app


def _batch_out(tmp_path, out_dir, doc=CONFIG_DOC, *extra):
    return main([
        "batch",
        "--configs", _write_configs(tmp_path, doc),
        "--extract", "tests.test_cli:demo_extract",
        "--out", str(out_dir),
        "--start", "2024-01-01",
        "--end", "2024-01-08",
        *extra,
    ])


def test_out_appends_across_batches(spark, tmp_path, capsys):
    """--out appends, as the removed built-in loader did: a second batch
    doubles every sink table."""
    out_dir = tmp_path / "exports"
    for _ in range(2):
        assert _batch_out(tmp_path, out_dir) == 0
        body = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert body["processed"] == 2 and body["failed"] == []
    for cid in CONFIG_DOC:
        assert spark.read.parquet(str(out_dir / f"010_warner_dl_lf_{cid}")).count() == 2


def test_out_empty_config_fails_and_writes_nothing(spark, tmp_path, capsys):
    """An empty transformed frame fails its config (the sink's empty-input
    guard, as over WSGI) while the other config still loads; exit 1."""
    out_dir = tmp_path / "exports"
    doc = dict(CONFIG_DOC, empty=dict(CONFIG_DOC["a"]))
    rc = _batch_out(tmp_path, out_dir, doc, "--reports-filter", "a", "empty")
    body = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert body["status"] == "partial"
    assert body["processed"] == 1 and body["failed"] == ["empty"]
    assert not (out_dir / "010_warner_dl_lf_empty").exists()
    assert spark.read.parquet(str(out_dir / "010_warner_dl_lf_a")).count() == 1
