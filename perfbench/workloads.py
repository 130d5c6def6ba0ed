"""The three workloads: how each makes its inputs, warms up, runs one op,
and checks the program's outputs after the timed window."""

from __future__ import annotations

import datetime as dt
import io
import json
import math
import os
import shutil

import pandas as pd

from perfbench import etl_input, tables
from perfbench.trace import RECORDER

#: Scale factor of the generated catalog tables for both query workloads.
SF = 0.005

OLAP_MIX = (
    "c1_scan_filter", "c2_inner_join", "c3_star_join", "c8_hash_agg",
    "r6_in_between_agg", "s1_tumbling", "s3_session", "c13_ranking_windows",
    "q2_min_price_supplier", "q21_sole_returned_supplier",
)
#: One query per operator module: dedup, similarity, graph, tokenizer,
#: corpus, ordered, timeseries.  Graph and tokenizer keep their iterative
#: operators (fixed-round label propagation, BPE merge rounds); the other
#: modules use a cheap query, so that a run fits its time budget.
CORPUS_MIX = (
    "l2_jaccard_pairs", "x55_embed_quantize", "x239_label_propagation",
    "x170_bpe_merges", "x52_source_caps", "x17_range_frame", "x75_ewma",
)


class QueryWorkload:
    """One op = one declared query: build the DataFrame, then materialize
    the whole result with a ``noop`` write over the persisted plan, so the
    rows stay in executor memory and nothing is collected inside the op.
    After the op, outside its timing, the cached rows are collected for the
    oracle check and the cache is dropped."""

    def __init__(self, state_dir: str, seed: int, mix: tuple[str, ...]):
        # The seed makes the tables; the mix runs in its listed order, since
        # the first executions of a run pay most of the cold-start cost.
        self.state_dir, self.seed, self.mix = state_dir, seed, mix
        self.results: list[tuple[str, list]] = []
        self._df = None

    def prepare(self) -> None:
        self.sf_dir = tables.ensure_tables(os.path.join(self.state_dir, "data"), SF, self.seed)

    def setup(self, spark) -> None:
        """Warm the JVM, the Python workers and every table; no query of
        the mix runs before the timed window."""
        import pyspark.sql.functions as F
        from social_warner_spark import catalog
        from social_warner_spark.queries import all_queries

        self.spark = spark
        self.queries = all_queries()

        @F.pandas_udf("double")
        def plus_one(v: pd.Series) -> pd.Series:
            return v + 1.0

        @F.udf("long")
        def twice(v):
            return 2 * v

        cores = spark.sparkContext.defaultParallelism
        (spark.range(0, 10_000, numPartitions=cores)
         .select(plus_one(F.col("id").cast("double")), twice("id"))
         .write.format("noop").mode("overwrite").save())
        for name in catalog.TABLES:  # first touch of every table
            catalog.load_table(spark, self.sf_dir, name).write.format("noop").mode("overwrite").save()

    def ops(self):
        return [(name, self._op(name)) for name in self.mix]

    def _op(self, name: str):
        def run() -> None:
            with RECORDER.span("queries.build"):
                df = self.queries[name](self.spark, self.sf_dir)
            with RECORDER.span("queries.action"):
                self._df = df.persist()
                self._df.write.format("noop").mode("overwrite").save()
        return run

    def finish_op(self, label: str) -> int:
        """Untimed: keep the op's rows for the oracle check, drop its cache
        and the program's persisted intermediates.  Returns how many
        intermediates were released."""
        from social_warner_spark import caching

        if self._df is not None:
            self.results.append((label, self._df.collect()))
            self._df.unpersist()
            self._df = None
        return caching.release_persisted_intermediates()

    def counters(self) -> dict[str, int]:
        return {}

    def rows_loaded(self) -> int:
        return sum(len(rows) for _, rows in self.results)

    def verify(self) -> set[str]:
        """Names of the queries whose rows differ from the DuckDB oracle
        (order-independent)."""
        import duckdb
        from social_warner_spark.catalog import TABLES, table_path
        from social_warner_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.sf_dir, t)}')")
        expected: dict[str, tuple[list, list]] = {}
        bad = set()
        for name, rows in self.results:
            if name not in expected:
                cur = con.execute(oracles[name])
                expected[name] = ([d[0] for d in cur.description], cur.fetchall())
            cols, want = expected[name]
            got_cols = list(rows[0].__fields__) if rows else cols
            if not _same_rows(got_cols, [tuple(r) for r in rows], cols, want):
                bad.add(name)
        con.close()
        return bad


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 4)
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # Spark Row (struct)
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    try:  # Decimal and numpy scalars
        return round(float(v), 4)
    except (TypeError, ValueError):
        return str(v)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-3 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return _close(float(a), float(b))
    return a == b


def _same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Multiset equality of two results, columns matched by name and
    doubles compared at 4 decimals."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    ia = sorted(range(len(cols_a)), key=cols_a.__getitem__)
    ib = sorted(range(len(cols_b)), key=cols_b.__getitem__)
    key = lambda r: tuple((x is None, repr(x)) for x in r)  # noqa: E731
    a = sorted((tuple(_norm(r[i]) for i in ia) for r in rows_a), key=key)
    b = sorted((tuple(_norm(r[i]) for i in ib) for r in rows_b), key=key)
    return all(_close(x, y) for x, y in zip(a, b))


class EtlWorkload:
    """One op = one export request through the WSGI app: every config is
    extracted from ``PagedRestDataSource``, transformed and loaded."""

    def __init__(self, state_dir: str, seed: int):
        self.state_dir, self.seed = state_dir, seed
        self.run_dir = os.path.join(state_dir, f"etl-run-{os.getpid()}")
        self.sink_dir = os.path.join(self.run_dir, "sink")
        self.fetch_log = os.path.join(self.run_dir, "fetch.log")
        self.rows_written = 0
        self.files_written = 0
        self.bytes_written = 0
        self.count_files = False  # list sink files around each write (traced run)
        self.ok_requests = 0

    def prepare(self) -> None:
        from social_warner_spark.config import parse_config_document

        self.inp = etl_input.make_request_input(os.path.join(self.state_dir, "etl"), self.seed)
        self.configs = parse_config_document(json.dumps(self.inp["configs"]))
        self.body = json.dumps(self.inp["body"]).encode()
        self.pages_needed = sum(self.inp["page_counts"].values())
        os.makedirs(self.run_dir, exist_ok=True)

    def setup(self, spark) -> None:
        from social_warner_spark import wsgi
        from social_warner_spark.sources.rest import PagedRestDataSource

        self.spark = spark
        spark.dataSource.register(PagedRestDataSource)
        self.app = wsgi.make_wsgi_app(self.configs, self._extract, self._load,
                                      anchor=etl_input.ANCHOR)
        self._request()  # warm-up request; its output is discarded
        shutil.rmtree(self.sink_dir, ignore_errors=True)
        self.rows_written = self.ok_requests = 0

    def _extract(self, cfg, start, end):
        from social_warner_spark import extract

        with RECORDER.span("extract.config"):
            q = extract.build_extract_query(cfg, start, end, etl_input.ANCHOR)
            pred = extract.compile_filters(q.filters, etl_input.ANCHOR)
            with RECORDER.span("sources.read"):
                df = (self.spark.read.format("paged_rest").schema(etl_input.SCHEMA_DDL)
                      .option("fetcher", "perfbench.etl_input:fetch_page")
                      .option("num_pages", str(self.inp["page_counts"][cfg.dataset_id]))
                      .option("pages_dir", self.inp["pages_dir"])
                      .option("dataset", cfg.dataset_id)
                      .option("fetch_log", self.fetch_log)
                      .load())
            return df.filter(pred)

    def _load(self, df, cfg) -> int:
        from social_warner_spark.sinks import writers

        path = os.path.join(self.sink_dir, cfg.sink_table_name)
        before = set(os.listdir(path)) if self.count_files and os.path.isdir(path) else set()
        rows = writers.write_table(df, path, self.inp["dispositions"][cfg.config_id])
        self.rows_written += rows
        if self.count_files:
            new = [f for f in set(os.listdir(path)) - before if f.endswith(".parquet")]
            self.files_written += len(new)
            self.bytes_written += sum(os.path.getsize(os.path.join(path, f)) for f in new)
        return rows

    def _request(self) -> int:
        environ = {
            "REQUEST_METHOD": "POST", "PATH_INFO": "/", "SERVER_NAME": "bench",
            "SERVER_PORT": "80", "SERVER_PROTOCOL": "HTTP/1.1",
            "CONTENT_LENGTH": str(len(self.body)), "wsgi.input": io.BytesIO(self.body),
            "wsgi.errors": io.StringIO(), "wsgi.url_scheme": "http",
        }
        status = {}

        def start_response(line, headers):
            status["code"] = int(line.split()[0])

        with RECORDER.span("wsgi.app"):
            body = json.loads(b"".join(self.app(environ, start_response)))
        if status["code"] != 200 or body.get("processed") != len(self.configs):
            raise RuntimeError(f"request failed: {status} {body}")
        self.ok_requests += 1
        return self.rows_written

    def ops(self):
        return [("request", self._request)]

    def finish_op(self, label: str) -> int:
        return 0

    def rows_loaded(self) -> int:
        return self.rows_written

    def counters(self) -> dict[str, int]:
        """Running totals, read between ops: pages and rows fetched (from
        the fetcher's log) and what the sink wrote."""
        lines = []
        if os.path.exists(self.fetch_log):
            with open(self.fetch_log) as fh:
                lines = fh.read().splitlines()
        return {
            "sources.pages_fetched": len(lines),
            "sources.rows_fetched": sum(int(x.rsplit("\t", 1)[1]) for x in lines),
            "sinks.files_written": self.files_written,
            "_bytes_written": self.bytes_written,
        }

    def verify(self) -> set[str]:
        """Config ids whose sink table, read back, differs from the pure
        Python expectation (row count, pivot column set, typed checksum)."""
        from social_warner_spark.sinks.writers import read_table

        bad = set()
        for cid, cfg in self.configs.items():
            names, rows = etl_input.expected_table(self.inp, cid)
            times = 1 if self.inp["dispositions"][cid] == "WRITE_TRUNCATE" else self.ok_requests
            path = os.path.join(self.sink_dir, cfg.sink_table_name)
            got = read_table(self.spark, path)
            got_names = got.columns
            got_rows = [tuple(r) for r in got.collect()]
            if (sorted(got_names) != sorted(names) or len(got_rows) != times * len(rows)
                    or etl_input.row_checksum(got_names, got_rows)
                    != etl_input.row_checksum(names, rows) * times % (1 << 64)):
                bad.add(cid)
        return bad

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def make(name: str, state_dir: str, seed: int):
    if name == "etl_export":
        return EtlWorkload(state_dir, seed)
    if name == "olap_queries":
        return QueryWorkload(state_dir, seed, OLAP_MIX)
    if name == "corpus_queries":
        return QueryWorkload(state_dir, seed, CORPUS_MIX)
    raise SystemExit(f"unknown workload {name!r}; known: etl_export, olap_queries, corpus_queries")
