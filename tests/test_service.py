"""Request-surface tests: the reference Cloud Function contract
(reports_filter, date macros, status codes) without a transport."""

from __future__ import annotations

import datetime as dt

import pytest
import pyspark.sql.functions as F

from social_warner_spark.config import parse_config
from social_warner_spark.service import handle_request

CONFIG = {
    "dataset_id": "dataset_brand",
    "metrics": {"metric.impressions": "int64"},
    "group_by": {"lfm.post.channel": "string"},
    "meta_dimensions": {"lfm.brand.name": "string"},
    "brands": [1],
}

ANCHOR = dt.date(2024, 1, 8)


def _configs():
    return {
        "a": parse_config("a", CONFIG),
        "b": parse_config("b", CONFIG),
    }


def _extract_factory(spark, fail_ids=()):
    def extract(cfg, start, end):
        assert start == "2024-01-01" and end == "2024-01-08"  # macro resolution
        if cfg.config_id in fail_ids:
            raise RuntimeError("boom")
        return spark.createDataFrame(
            [("yt", "acme", "10")],
            "`lfm.post.channel` string, `lfm.brand.name` string, `metric.impressions` string",
        )

    return extract


def test_ok_batch(spark):
    body, code = handle_request(
        {"start_date": "{{nDaysAgo 7}}", "end_date": "2024-01-08"},
        _configs(),
        _extract_factory(spark),
        load=lambda df, cfg: df.count(),
        anchor=ANCHOR,
    )
    assert code == 200
    assert body["processed"] == 2 and body["failed"] == []
    assert body["start_date"] == "2024-01-01"


def test_reports_filter_single_string(spark):
    body, code = handle_request(
        {"reports_filter": "a", "start_date": "2024-01-01", "end_date": "2024-01-08"},
        _configs(),
        _extract_factory(spark),
        load=lambda df, cfg: df.count(),
        anchor=ANCHOR,
    )
    assert code == 200 and body["total"] == 1


def test_partial_failure_gives_500(spark):
    body, code = handle_request(
        {"start_date": "2024-01-01", "end_date": "2024-01-08"},
        _configs(),
        _extract_factory(spark, fail_ids=("b",)),
        load=lambda df, cfg: df.count(),
        anchor=ANCHOR,
    )
    assert code == 500
    assert body["status"] == "partial" and body["failed"] == ["b"]
    assert body["processed"] == 1  # isolation: 'a' still loaded


@pytest.mark.parametrize(
    "macro",
    ["{{nDaysAgo never}}", "{{nDaysAgo 1000000}}"],
    ids=["never", "huge"],
)
def test_bad_date_macro_gives_400(spark, macro):
    body, code = handle_request(
        {"start_date": macro},
        _configs(),
        _extract_factory(spark),
        load=lambda df, cfg: df.count(),
        anchor=ANCHOR,
    )
    assert code == 400 and body["status"] == "error"


@pytest.mark.parametrize(
    "bad",
    [5, [1, 2], {"a": 1}, ["a", None]],
    ids=["int", "int_list", "dict", "list_with_null"],
)
def test_bad_reports_filter_gives_400_and_runs_nothing(spark, bad):
    calls = []

    def extract(cfg, start, end):
        calls.append(cfg.config_id)

    body, code = handle_request(
        {"reports_filter": bad},
        _configs(),
        extract,
        load=lambda df, cfg: 0,
        anchor=ANCHOR,
    )
    assert code == 400 and body["status"] == "error"
    assert "reports_filter" in body["message"]
    assert calls == []
