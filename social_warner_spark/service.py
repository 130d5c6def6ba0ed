"""Request-handling surface — the reference's Cloud Function entry semantics
(main.py:20-123) as a transport-agnostic function.

The reference parses `{reports_filter?, start_date, end_date}` from the
HTTP POST body, runs the per-config batch, and returns a JSON status with
the processed count (200) or an error (500).  `handle_request` reproduces
exactly that contract; wrap it in any transport (functions-framework,
FastAPI, a CLI) — the engine does not depend on one.

Deviation (documented): the reference treats a missing body as an error
only when JSON parsing throws (main.py:31-33); we accept a missing body as
"no filter, default dates" and surface config-level failures in the
response rather than only in logs.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame

from social_warner_spark import logging_util as logu
from social_warner_spark.config import ExportConfig
from social_warner_spark.operators.datemacro import eval_date_macro
from social_warner_spark.pipeline import run_configs


def handle_request(
    payload: Mapping[str, Any] | None,
    configs: Mapping[str, ExportConfig],
    extract: Callable[[ExportConfig, str, str], DataFrame | None],
    load: Callable[[DataFrame, ExportConfig], int],
    anchor: dt.date | None = None,
) -> tuple[dict, int]:
    """Process one batch request; returns (response_json, http_status).

    - `reports_filter`: optional list/str of config ids to run (main.py:64-65);
      any other type is a 400
    - `start_date`/`end_date`: literal YYYY-MM-DD or {{nDaysAgo N}} macros,
      resolved here (data_extract.py:70, 109-126); defaults: 7 days ago → today.
    """
    payload = dict(payload or {})
    try:
        reports_filter = payload.get("reports_filter")
        if isinstance(reports_filter, str):
            reports_filter = [reports_filter]
        if reports_filter is not None and not (
            isinstance(reports_filter, list)
            and all(isinstance(r, str) for r in reports_filter)
        ):
            raise ValueError("reports_filter must be a string or a list of strings")
        start = eval_date_macro(
            str(payload.get("start_date", "{{nDaysAgo 7}}")), anchor
        )
        end = eval_date_macro(str(payload.get("end_date", "{{nDaysAgo 0}}")), anchor)
    except ValueError as exc:
        logu.error("bad request", error=str(exc))
        return {"status": "error", "message": str(exc)}, 400

    results = run_configs(
        configs,
        extract=lambda cfg: extract(cfg, start, end),
        load=load,
        reports_filter=reports_filter,
    )
    processed = sum(1 for r in results if r.status == "loaded")
    failed = [r.config_id for r in results if r.status == "failed"]
    body = {
        "status": "ok" if not failed else "partial",
        "processed": processed,
        "total": len(results),
        "failed": failed,
        "start_date": start,
        "end_date": end,
    }
    return body, 200 if not failed else 500
