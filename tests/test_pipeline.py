"""End-to-end config-driven ETL pipeline tests over reference-shaped
fixtures (FIXTURES.md §A)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from social_warner_spark.config import parse_config, parse_config_document
from social_warner_spark.pipeline import run_configs, transform_config_frame

CONFIG_DOC = {
    "dataset_id": "dataset_content_warner",
    "metrics": {"metric.impressions": "int64", "metric.engagement_rate": "float64"},
    "group_by": {"lfm.fact.date_str": "datetime64[ns]", "lfm.post.channel": "string"},
    "meta_dimensions": {"lfm.brand.name": "string", "lfm.content.tags": "string"},
    "brands": [101, 102, 103],
}


def _raw_fixture(spark):
    """ListenFirst-shaped raw page rows, incl. every transform edge case."""
    rows = [
        # date_str, channel, brand, tags, impressions, engagement
        ("2024-01-05", "yt", "acme", ["genre: drama", "genre: comedy", "lang: en"], "1200", "0.35"),
        ("2024-01-06", "tw", "acme", ["untagged"], "bad", None),
        ("2024-01-07", "ig", "unauthorized", ["genre: news"], "77", "0.1"),  # scrubbed
        ("not-a-date", "pin", "zenith", None, None, "junk"),
        ("2024-01-08", "fb", "zenith", [], "42", "2.5"),
    ]
    return spark.createDataFrame(
        rows,
        "`lfm.fact.date_str` string, `lfm.post.channel` string, "
        "`lfm.brand.name` string, `lfm.content.tags` array<string>, "
        "`metric.impressions` string, `metric.engagement_rate` string",
    ).withColumn("extra_column_to_prune", F.lit("x"))


def test_config_validation_missing_field():
    doc = {k: v for k, v in CONFIG_DOC.items() if k != "brands"}
    with pytest.raises(ValueError, match="missing required field.*brands"):
        parse_config("cfg1", doc)


def test_config_validation_bad_dtype():
    doc = dict(CONFIG_DOC, metrics={"m": "int32"})
    with pytest.raises(ValueError, match="unsupported dtype"):
        parse_config("cfg1", doc)


def test_config_validation_wrong_typed_sections():
    # ADVICE r08: a wrong-typed section must raise the documented
    # ValueError (CLI exit-code-2 JSON), never AttributeError/TypeError.
    with pytest.raises(ValueError, match="section 'metrics' must be a"):
        parse_config("cfg1", dict(CONFIG_DOC, metrics=[]))
    with pytest.raises(ValueError, match="brands must be a list"):
        parse_config("cfg1", dict(CONFIG_DOC, brands=7))
    with pytest.raises(ValueError, match="brands must be a list"):
        parse_config("cfg1", dict(CONFIG_DOC, brands="101"))
    # ADVICE r09: non-list/tuple Iterables must ALSO raise — a dict
    # iterates over its keys and a generator is one-shot-consumed, so
    # both previously produced surprising downstream behavior instead
    # of the documented ValueError.
    with pytest.raises(ValueError, match="brands must be a list"):
        parse_config("cfg1", dict(CONFIG_DOC, brands={101: "x"}))
    with pytest.raises(ValueError, match="brands must be a list"):
        parse_config("cfg1", dict(CONFIG_DOC, brands=(b for b in [101])))
    with pytest.raises(ValueError, match="brands must be a list"):
        parse_config("cfg1", dict(CONFIG_DOC, brands={101, 102}))
    # list and tuple both stay accepted
    assert parse_config("cfg1", dict(CONFIG_DOC, brands=(5, 6))).brands == (5, 6)
    with pytest.raises(ValueError, match="dataset_id must be a string"):
        parse_config("cfg1", dict(CONFIG_DOC, dataset_id=["d"]))


def test_config_document_wrong_shapes():
    import json

    with pytest.raises(ValueError, match="must be a .config_id: config."):
        parse_config_document(json.dumps([CONFIG_DOC]))
    with pytest.raises(ValueError, match="config 'cfg1' must be an object"):
        parse_config_document(json.dumps({"cfg1": ["not", "a", "config"]}))


def test_config_document_roundtrip():
    import json

    cfgs = parse_config_document(json.dumps({"cfg1": CONFIG_DOC}))
    cfg = cfgs["cfg1"]
    assert cfg.is_content_dataset
    assert cfg.sink_table_name == "010_warner_dl_lf_cfg1"
    assert cfg.columns[0] == "lfm.fact.date_str"


def test_transform_config_frame_end_to_end(spark):
    cfg = parse_config("cfg1", CONFIG_DOC)
    out = transform_config_frame(_raw_fixture(spark), cfg)
    # sanitize applied, pivot exploded tags into dynamic columns
    assert "lfm&fact&date_str" in out.columns
    assert "lfm&content&tags&genre" in out.columns
    assert "lfm&content&tags&lang" in out.columns
    assert "extra_column_to_prune" not in out.columns
    rows = {r["lfm&post&channel"]: r for r in out.collect()}
    assert "ig" not in rows  # 'unauthorized' row scrubbed
    yt = rows["yt"]
    assert yt["lfm&fact&date_str"] == "2024-01-05"
    assert yt["metric&impressions"] == 1200
    assert yt["lfm&content&tags&genre"] == "drama//comedy"  # dup-key join
    tw = rows["tw"]
    assert tw["metric&impressions"] == 0          # 'bad' → 0
    assert tw["metric&engagement_rate"] == 0.0    # null → 0.0
    assert tw["lfm&content&tags&untitled"] == "untagged"
    pin = rows["pin"]
    assert pin["lfm&fact&date_str"] is None  # invalid date → NULL, row kept
    fb = rows["fb"]
    assert fb["lfm&content&tags&genre"] is None   # empty tag list → all-null pivots


@pytest.mark.parametrize("tags_type", ["string", "bigint"])
def test_transform_non_array_tags_pivot_to_nothing(spark, tags_type):
    # The reference maps non-list tags to {} (data_transform.py:102-150):
    # no pivot columns and no tags column, every other column as usual.
    cfg = parse_config("cfg1", CONFIG_DOC)
    raw = _raw_fixture(spark).withColumn(
        "lfm.content.tags", F.size("`lfm.content.tags`").cast(tags_type)
    )
    out = transform_config_frame(raw, cfg)
    assert not [c for c in out.columns if c.startswith("lfm&content&tags")]
    rows = {r["lfm&post&channel"]: r for r in out.collect()}
    assert sorted(rows) == ["fb", "pin", "tw", "yt"]
    assert rows["yt"]["metric&impressions"] == 1200


def test_run_configs_isolation_and_skip(spark):
    cfg_ok = parse_config("ok", CONFIG_DOC)
    cfg_empty = parse_config("empty", CONFIG_DOC)
    cfg_boom = parse_config("boom", CONFIG_DOC)
    loads: dict[str, int] = {}

    def extract(cfg):
        if cfg.config_id == "empty":
            return None
        if cfg.config_id == "boom":
            raise RuntimeError("api down")
        return _raw_fixture(spark)

    def load(df, cfg):
        n = df.count()
        loads[cfg.config_id] = n
        return n

    results = run_configs(
        {"ok": cfg_ok, "empty": cfg_empty, "boom": cfg_boom}, extract, load
    )
    statuses = {r.config_id: r.status for r in results}
    assert statuses == {"ok": "loaded", "empty": "skipped_empty", "boom": "failed"}
    assert loads == {"ok": 4}


def logged_fetch_page(page_index: int, options: dict):
    """Two fixture rows per page; appends the page index to ``options["log"]``
    on every fetch."""
    with open(options["log"], "a") as fh:
        fh.write(f"{page_index}\n")
    for i in range(2):
        yield {"lfm.fact.date_str": "2024-01-05", "lfm.post.channel": f"c{page_index}{i}",
               "lfm.brand.name": "acme", "lfm.content.tags": ["genre: drama"],
               "metric.impressions": "1", "metric.engagement_rate": "0.5"}


def test_run_configs_fetches_each_page_once(spark, tmp_path):
    # Pivot-key discovery, the sink's empty check and the write all scan
    # the extract; the source must still be read once per config.
    from social_warner_spark.sinks import write_table
    from social_warner_spark.sources import PagedRestDataSource

    spark.dataSource.register(PagedRestDataSource)
    log = tmp_path / "fetch.log"

    def extract(cfg):
        return (spark.read.format("paged_rest")
                .schema("`lfm.fact.date_str` string, `lfm.post.channel` string, "
                        "`lfm.brand.name` string, `lfm.content.tags` array<string>, "
                        "`metric.impressions` string, `metric.engagement_rate` string")
                .option("fetcher", "tests.test_pipeline:logged_fetch_page")
                .option("num_pages", "3").option("log", str(log)).load())

    results = run_configs({"cfg1": parse_config("cfg1", CONFIG_DOC)}, extract,
                          lambda df, cfg: write_table(df, str(tmp_path / "sink")))
    assert [(r.status, r.rows) for r in results] == [("loaded", 6)]
    assert sorted(log.read_text().split()) == ["0", "1", "2"]


def test_transform_missing_config_columns_fail_fast(spark):
    cfg = parse_config(
        "cfg1", dict(CONFIG_DOC, metrics={"metric.not_in_extract": "int64"})
    )
    with pytest.raises(ValueError, match="absent from the extract.*not_in_extract"):
        transform_config_frame(_raw_fixture(spark), cfg)


def test_run_configs_reports_filter(spark):
    cfg = parse_config("only", CONFIG_DOC)
    results = run_configs(
        {"only": cfg, "other": cfg},
        extract=lambda c: _raw_fixture(spark),
        load=lambda df, c: df.count(),
        reports_filter=["only"],
    )
    assert [r.config_id for r in results] == ["only"]


def test_content_dataset_window_widen():
    """Reference data_extract.py:60-71: for content datasets the caller's
    dates land in a BETWEEN filter on lfm.fact.date_str and THEN the
    analysis start_date widens to {{nDaysAgo 365}} — filter dates and
    analysis window must differ."""
    import datetime as dt

    from social_warner_spark.extract import (
        CONTENT_WIDENED_START,
        DATE_STR_FIELD,
        build_extract_query,
    )

    anchor = dt.date(2024, 3, 1)
    cfg = parse_config("cfg1", CONFIG_DOC)  # dataset_content_warner
    assert cfg.is_content_dataset
    q = build_extract_query(cfg, "{{nDaysAgo 7}}", "{{nDaysAgo 0}}", anchor=anchor)

    between = [f for f in q.filters if f["field"] == DATE_STR_FIELD]
    assert len(between) == 1 and between[0]["operator"] == "BETWEEN"
    assert between[0]["values"] == ["2024-02-23", "2024-03-01"]
    # the widen happened AFTER the filter captured the caller dates
    assert q.start_date == CONTENT_WIDENED_START
    assert (q.start_date, q.end_date) != ("2024-02-23", "2024-03-01")
    assert q.end_date == "{{nDaysAgo 0}}"


def test_non_content_dataset_no_widen():
    from social_warner_spark.extract import DATE_STR_FIELD, build_extract_query

    cfg = parse_config("cfg2", dict(CONFIG_DOC, dataset_id="dataset_brand_warner"))
    assert not cfg.is_content_dataset
    q = build_extract_query(cfg, "2024-01-01", "2024-01-31")
    assert (q.start_date, q.end_date) == ("2024-01-01", "2024-01-31")
    assert not [f for f in q.filters if f["field"] == DATE_STR_FIELD]
    # brand IN filter is always present
    assert q.filters[0]["operator"] == "IN" and q.filters[0]["values"] == [101, 102, 103]


def test_compile_filters_applies_in_and_between(spark):
    import datetime as dt

    from social_warner_spark.extract import build_extract_query, compile_filters

    cfg = parse_config("cfg1", CONFIG_DOC)
    q = build_extract_query(cfg, "2024-01-05", "2024-01-07", anchor=dt.date(2024, 3, 1))
    df = spark.createDataFrame(
        [
            ("2024-01-04", 101),
            ("2024-01-05", 101),
            ("2024-01-06", 999),  # brand not in list
            ("2024-01-07", 103),
            ("2024-01-08", 102),
        ],
        "`lfm.fact.date_str` string, `lfm.brand_view.id` long",
    )
    got = sorted(
        r["lfm.fact.date_str"] for r in df.where(compile_filters(q.filters)).collect()
    )
    assert got == ["2024-01-05", "2024-01-07"]
