"""Paginated REST source tests (A1): Spark 4 Python DataSource with one
partition per page."""

from __future__ import annotations

import json

from pyspark.sql.types import StructType

from social_warner_spark.sources import PagedRestDataSource

SCHEMA_DDL = "page int, item_id int, name string"


def fake_fetch_page(page_index: int, options: dict):
    """Deterministic fake API: 3 rows per page."""
    per_page = int(options.get("per_page", "3"))
    for i in range(per_page):
        yield {"page": page_index, "item_id": page_index * 100 + i, "name": f"row{i}"}


def test_datasource_one_partition_per_page(spark):
    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .schema(SCHEMA_DDL)
        .option("fetcher", "tests.test_sources:fake_fetch_page")
        .option("num_pages", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # page == partition
    rows = df.collect()
    assert len(rows) == 12
    assert {r.page for r in rows} == {0, 1, 2, 3}
    assert any(r.item_id == 301 for r in rows)


def rule_fetch_page(page_index: int, options: dict):
    """Reports which ``zipimporter.invalidate_caches`` the reader's worker
    runs."""
    import zipimport

    yield {"page": page_index, "item_id": 0,
           "name": zipimport.zipimporter.invalidate_caches.__module__}


def test_reader_workers_run_the_zip_directory_rule(spark):
    """The workers that read a ``paged_rest`` source import the package,
    and so re-read an unchanged zip archive's directory once per process,
    not on every call (session.py docstring)."""
    import sys

    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .schema(SCHEMA_DDL)
        .option("fetcher", "tests.test_sources:rule_fetch_page")
        .option("num_pages", "2")
        .load()
    )
    expected = "social_warner_spark.session" if sys.version_info < (3, 12) else "zipimport"
    assert {r.name for r in df.collect()} == {expected}


def test_fetcher_reference_must_name_module_and_function(spark):
    """The fetcher option goes through the one ``module:callable``
    resolver: a dotted path with no colon fails with its message, not an
    import or attribute error."""
    import pytest

    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .schema(SCHEMA_DDL)
        .option("fetcher", "perfbench.etl_input.fetch_page")
        .load()
    )
    with pytest.raises(Exception, match="must look like 'package.module:function'"):
        df.collect()


def test_credentials_resolved_into_options(monkeypatch):
    """A17: the provider runs once driver-side; options carry materialized
    credentials as JSON (DataSource options are strings)."""
    import json

    from social_warner_spark.sources.rest import (
        CREDENTIALS_OPTION,
        DEFAULT_CREDENTIALS_ENV,
        resolve_credentials,
    )

    creds = {"client_id": "cid", "client_secret": "cs", "api_key": "k"}
    monkeypatch.setenv(DEFAULT_CREDENTIALS_ENV, json.dumps(creds))
    opts = resolve_credentials({"num_pages": "3"})
    assert opts["num_pages"] == "3"
    assert json.loads(opts[CREDENTIALS_OPTION]) == creds

    calls = []

    def custom_provider():
        calls.append(1)
        return {"api_key": "other"}

    opts2 = resolve_credentials({}, provider=custom_provider)
    assert json.loads(opts2[CREDENTIALS_OPTION]) == {"api_key": "other"}
    assert calls == [1]


def test_credentials_env_missing_raises(monkeypatch):
    import pytest

    from social_warner_spark.sources.rest import (
        DEFAULT_CREDENTIALS_ENV,
        resolve_credentials,
    )

    monkeypatch.delenv(DEFAULT_CREDENTIALS_ENV, raising=False)
    with pytest.raises(KeyError, match="SOCIAL_WARNER_CREDENTIALS"):
        resolve_credentials({})


def http_fetch_page(page_index: int, options: dict):
    """Real-socket fetcher for the localhost round-trip test: GET
    ``{base_url}/items?page=N`` and yield the JSON rows.  Importable by
    module path so DataSource executors can resolve it."""
    import urllib.request

    url = f"{options['base_url']}/items?page={page_index}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        yield from json.loads(resp.read().decode("utf-8"))


def test_datasource_real_http_roundtrip(spark):
    """A1 through a genuine socket (r04 verdict task 6): a localhost
    http.server serves 3 JSON pages then empty pages; the real
    DataSource read path must fetch page==partition in executors and
    honor pagination-end (the empty trailing page contributes 0 rows)."""
    import http.server
    import threading

    PAGES = 3
    PER_PAGE = 2
    hits = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = int(self.path.split("page=")[1])
            hits.append(page)
            rows = (
                [
                    {
                        "page": page,
                        "item_id": page * 100 + i,
                        "name": f"srv{i}",
                    }
                    for i in range(PER_PAGE)
                ]
                if page < PAGES
                else []  # pagination end: the API returns an empty page
            )
            body = json.dumps(rows).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # keep pytest output clean
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        spark.dataSource.register(PagedRestDataSource)
        df = (
            spark.read.format("paged_rest")
            .schema(SCHEMA_DDL)
            .option("fetcher", "tests.test_sources:http_fetch_page")
            .option("base_url", f"http://127.0.0.1:{port}")
            .option("num_pages", str(PAGES + 1))  # overshoot into the end
            .load()
        )
        assert df.rdd.getNumPartitions() == PAGES + 1  # page == partition
        rows = df.collect()
    finally:
        server.shutdown()
        server.server_close()
    assert len(rows) == PAGES * PER_PAGE  # empty page adds nothing
    assert {r.page for r in rows} == set(range(PAGES))
    assert any(r.item_id == 201 and r.name == "srv1" for r in rows)
    assert sorted(hits) == list(range(PAGES + 1))  # every page truly fetched
