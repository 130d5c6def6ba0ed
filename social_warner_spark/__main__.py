"""Command-line entry point — the third transport for the request surface.

The reference ships ONLY as a Cloud Function (main.py:20 — HTTP in,
JSON out); `service.handle_request` already made that contract
transport-agnostic and `wsgi.py` bound it to any PEP-3333 host.  This
module closes the loop for operators without an HTTP host:

    python -m social_warner_spark batch --configs cfg.json \
        --extract my_pkg.sources:extract --out /data/exports \
        --start 2024-01-01 --end 2024-01-08 --reports-filter a b

    python -m social_warner_spark serve --configs cfg.json \
        --extract my_pkg.sources:extract --out /data/exports --port 8080

`batch` runs one request through `handle_request` and prints its JSON
response (exit 0 on HTTP 200, 1 otherwise — scriptable); `serve` runs
the same app under stdlib `wsgiref.simple_server`.

Extract and load stay PLUGGABLE (the pipeline contract): dotted
``module:callable`` references resolved at startup.

- ``--extract``: ``(config, start_date, end_date) -> DataFrame | None``.
  Obtain the session with ``social_warner_spark.session.get_spark()``
  (getOrCreate — shares the CLI's session).
- ``--load``: ``(df, config) -> int`` (rows written).  When ``--out DIR``
  is given instead, each config's frame goes through the package's one
  sink, ``sinks.write_table``, appending to ``DIR/<sink_table_name>`` (the
  reference's BigQuery table naming, data_load.py:36).  The reported row
  count comes from the write itself, and an empty frame fails its config,
  exactly as over WSGI.

No new dependency: argparse + wsgiref are stdlib, like wsgi.py.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib
import json
import sys
from typing import Any, Callable

from social_warner_spark import logging_util as logu


def _make_server(host: str, port: int, app):
    """Indirection over wsgiref's make_server (patchable in tests)."""
    from wsgiref.simple_server import make_server

    return make_server(host, port, app)


def resolve_callable(ref: str) -> Callable:
    """Resolve a ``module.path:callable`` reference with loud errors."""
    mod_name, sep, attr = ref.partition(":")
    if not sep or not mod_name or not attr:
        raise ValueError(
            f"callable reference {ref!r} must look like 'package.module:function'"
        )
    try:
        mod = importlib.import_module(mod_name)
    except ImportError as exc:
        raise ValueError(f"cannot import module {mod_name!r}: {exc}") from exc
    try:
        fn = getattr(mod, attr)
    except AttributeError as exc:
        raise ValueError(f"module {mod_name!r} has no attribute {attr!r}") from exc
    if not callable(fn):
        raise ValueError(f"{ref!r} resolved to a non-callable {type(fn).__name__}")
    return fn


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m social_warner_spark",
        description="Run the config-driven export batch (CLI or HTTP serve).",
    )
    sub = p.add_subparsers(dest="command", required=True)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--configs", required=True,
        help="path to the export-config JSON document ({config_id: {...}})",
    )
    common.add_argument(
        "--extract", required=True,
        help="dotted 'module:callable' taking (config, start, end) -> DataFrame|None",
    )
    common.add_argument(
        "--load",
        help="dotted 'module:callable' taking (df, config) -> rows written",
    )
    common.add_argument(
        "--out",
        help="append each config to DIR/<sink_table_name> via sinks.write_table"
        " (alternative to --load)",
    )
    common.add_argument(
        "--anchor",
        help="YYYY-MM-DD anchor for {{nDaysAgo N}} macros (default: today)",
    )
    b = sub.add_parser("batch", parents=[common], help="run one batch and exit")
    b.add_argument("--start", help="start date (literal or {{nDaysAgo N}})")
    b.add_argument("--end", help="end date (literal or {{nDaysAgo N}})")
    b.add_argument(
        "--reports-filter", nargs="+",
        help="config ids to run (default: all)",
    )
    s = sub.add_parser("serve", parents=[common], help="serve over HTTP (wsgiref)")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8080)
    return p


def _wire(args) -> tuple[dict, Callable, Callable, dt.date | None]:
    from social_warner_spark.config import parse_config_document

    if bool(args.load) == bool(args.out):
        raise ValueError("exactly one of --load or --out is required")
    with open(args.configs) as f:
        configs = parse_config_document(f.read())
    extract = resolve_callable(args.extract)
    if args.load:
        load = resolve_callable(args.load)
    else:
        from social_warner_spark.sinks import write_table

        def load(df, config) -> int:
            return write_table(df, f"{args.out.rstrip('/')}/{config.sink_table_name}")

    anchor = dt.date.fromisoformat(args.anchor) if args.anchor else None
    return configs, extract, load, anchor


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    try:
        configs, extract, load, anchor = _wire(args)
    except (OSError, ValueError) as exc:
        print(json.dumps({"status": "error", "message": str(exc)}))
        return 2

    if args.command == "batch":
        from social_warner_spark.service import handle_request

        payload: dict[str, Any] = {}
        if args.start:
            payload["start_date"] = args.start
        if args.end:
            payload["end_date"] = args.end
        if args.reports_filter:
            payload["reports_filter"] = args.reports_filter
        body, status = handle_request(payload or None, configs, extract, load, anchor)
        print(json.dumps(body))
        return 0 if status == 200 else 1

    # serve
    from social_warner_spark.wsgi import make_wsgi_app

    app = make_wsgi_app(configs, extract, load, anchor)
    with _make_server(args.host, args.port, app) as srv:
        host, port = srv.server_address[:2]
        logu.info("serving", host=str(host), port=port)
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
