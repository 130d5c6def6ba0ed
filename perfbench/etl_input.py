"""Seeded ListenFirst-shaped export input for the ``etl_export`` workload.

``make_request_input`` pre-generates every API page of every dataset once,
as JSON files, plus the config document and the request body.  The
fetcher handed to ``PagedRestDataSource`` (``fetch_page``) only replays a
page file and appends one line per fetch to a log, so the benchmark can
count pages fetched against the pages a request needs.

``expected_table`` is the pure-Python statement of what the pipeline must
load for one config (FIXTURES.md A1-A3): brand IN / date BETWEEN filter,
``unauthorized`` scrub over every string column, typed cast with fill,
``key: value`` tag parse with the ``//`` duplicate join and ``untitled``
key, sorted dynamic pivot, date / ISO timestamp rendering and the
``.`` -> ``&`` column rename.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np

SENTINEL = "unauthorized"
TAGS = "lfm.content.tags"
BRAND = "lfm.brand_view.id"
DATE = "lfm.fact.date_str"
ANCHOR = dt.date(2024, 3, 31)
START, END = "2024-03-01", "2024-03-24"
ISO_COLUMNS = ("lfm.content.posted_on_datetime", "lfm.fact.window_start_date",
               "lfm.fact.window_end_date")

#: Raw page schema: every value arrives as a string except the brand id and
#: the tags list; ``lfm.extra.note`` is not in any config (pruned by the
#: projection, but a sentinel in it still drops the row).
RAW_SCHEMA = [
    (BRAND, "bigint"), (DATE, "string"), ("lfm.content.posted_on_datetime", "string"),
    ("lfm.fact.window_start_date", "string"), ("lfm.fact.window_end_date", "string"),
    (TAGS, "array<string>"), ("lfm.post.channel", "string"), ("lfm.brand.name", "string"),
    ("metric.impressions", "string"), ("metric.engagement_rate", "string"),
    ("lfm.extra.note", "string"),
]
SCHEMA_DDL = ", ".join(f"`{c}` {t}" for c, t in RAW_SCHEMA)

CONTENT_SECTIONS = {
    "metrics": {"metric.impressions": "int64", "metric.engagement_rate": "float64"},
    "group_by": {DATE: "datetime64[ns]", "lfm.post.channel": "string"},
    "meta_dimensions": {"lfm.brand.name": "string",
                        "lfm.content.posted_on_datetime": "datetime64[ns]",
                        "lfm.fact.window_start_date": "datetime64[ns]", TAGS: "string"},
}
BRAND_SECTIONS = {
    "metrics": {"metric.impressions": "int64", "metric.engagement_rate": "float64"},
    "group_by": {DATE: "datetime64[ns]"},
    "meta_dimensions": {"lfm.brand.name": "string", "lfm.fact.window_end_date": "datetime64[ns]"},
}

TAG_KEYS = ["campaign", "Campaign Name", "topic", "format", "lang", "region",
            "season", "audience", "product", "series", "talent", "franchise",
            "rating", "genre", "platform", "creative", "cta", "tone", "mood", "slot"]
CHANNELS = ["youtube", "instagram", "tiktok", "facebook", "twitter"]
BAD_NUMBERS = ["n/a", "", None, "--", "12x"]


def _ts(rng, day: dt.date) -> str:
    s = int(rng.integers(0, 86_400))
    return f"{day.isoformat()} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"


def _tags(rng) -> list[str] | None:
    r = rng.random()
    if r < 0.05:
        return None
    if r < 0.10:
        return []
    items = []
    for _ in range(int(rng.integers(1, 7))):
        q = rng.random()
        if q < 0.06:
            items.append(f"free text {int(rng.integers(0, 50))}")  # no ':' -> untitled
        else:
            key = TAG_KEYS[int(rng.integers(0, len(TAG_KEYS)))]
            items.append(f"{key}: v{int(rng.integers(0, 40))}")
    if items and rng.random() < 0.15:  # duplicate key -> '//' join
        items.append(items[0].split(":")[0] + ": dup" if ":" in items[0] else "more free text")
    return items


def _row(rng, brand_ids, out_brands, day0: dt.date) -> dict:
    day = day0 + dt.timedelta(days=int(rng.integers(0, 60)))
    brand = (out_brands if rng.random() < 0.2 else brand_ids)
    brand = int(brand[int(rng.integers(0, len(brand)))])
    imp = str(int(rng.integers(0, 100_000))) if rng.random() > 0.08 else \
        BAD_NUMBERS[int(rng.integers(0, len(BAD_NUMBERS)))]
    er = f"{rng.random():.4f}" if rng.random() > 0.08 else \
        BAD_NUMBERS[int(rng.integers(0, len(BAD_NUMBERS)))]
    row = {
        BRAND: brand,
        DATE: day.isoformat(),
        "lfm.content.posted_on_datetime": _ts(rng, day - dt.timedelta(days=int(rng.integers(0, 300))))
        if rng.random() > 0.03 else "not-a-date",
        "lfm.fact.window_start_date": day.isoformat(),
        "lfm.fact.window_end_date": (day + dt.timedelta(days=7)).isoformat(),
        TAGS: _tags(rng),
        "lfm.post.channel": CHANNELS[int(rng.integers(0, len(CHANNELS)))] if rng.random() > 0.03 else None,
        "lfm.brand.name": f"brand-{brand}",
        "metric.impressions": imp,
        "metric.engagement_rate": er,
        "lfm.extra.note": "ok",
    }
    if rng.random() < 0.07:  # sentinel in a random string column
        col = ["lfm.post.channel", "lfm.brand.name", "metric.impressions",
               "lfm.extra.note", DATE][int(rng.integers(0, 5))]
        row[col] = SENTINEL
    return row


#: Configs per request (content and brand datasets alternate), API pages
#: per dataset and rows per page.
N_CONFIGS, PAGES, ROWS_PER_PAGE = 2, 3, 500


def make_request_input(root: str, seed: int) -> dict:
    """Write the pages and return the request description (config document,
    body, dispositions and page counts)."""
    rng = np.random.default_rng(seed)
    out = os.path.join(root, f"seed{seed}")
    configs, dispositions, page_counts = {}, {}, {}
    day0 = dt.date(2024, 2, 1)
    for i in range(N_CONFIGS):
        content = i % 2 == 0
        cid = f"{'content' if content else 'brand'}_{i}"
        dataset = f"dataset_content_{i}" if content else f"dataset_brand_{i}"
        brands = sorted(int(b) for b in rng.choice(np.arange(100, 130), 6, replace=False))
        out_brands = [b for b in range(100, 130) if b not in brands]
        ddir = os.path.join(out, dataset)
        os.makedirs(ddir, exist_ok=True)
        for p in range(PAGES):
            rows = [_row(rng, brands, out_brands, day0) for _ in range(ROWS_PER_PAGE)]
            with open(os.path.join(ddir, f"page_{p}.json"), "w") as fh:
                json.dump(rows, fh)
        sections = CONTENT_SECTIONS if content else BRAND_SECTIONS
        configs[cid] = {"dataset_id": dataset, **sections, "brands": brands}
        dispositions[cid] = "WRITE_TRUNCATE" if i % 2 == 0 else "WRITE_APPEND"
        page_counts[dataset] = PAGES
    return {
        "pages_dir": out,
        "configs": configs,
        "dispositions": dispositions,
        "page_counts": page_counts,
        "body": {"start_date": START, "end_date": END},
    }


def fetch_page(index: int, options: dict) -> list[dict]:
    """PagedRestDataSource fetcher: replay one pre-generated page and log
    the fetch.  Runs in the Spark Python workers."""
    path = os.path.join(options["pages_dir"], options["dataset"], f"page_{index}.json")
    with open(path) as fh:
        rows = json.load(fh)
    line = f"{options['dataset']}\t{index}\t{len(rows)}\n"
    fd = os.open(options["fetch_log"], os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, line.encode())
    finally:
        os.close(fd)
    return rows


# ---------------------------------------------------------------- expected


def _as_long(v):
    if v is None or not v.isdigit():
        return 0
    return int(v)


def _as_double(v):
    try:
        return float(v) if v not in (None, "") else 0.0
    except ValueError:
        return 0.0


def _as_ts(v):
    if v is None:
        return None
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return dt.datetime.strptime(v, fmt)
        except ValueError:
            pass
    return None


def _parse_tags(items) -> dict[str, str]:
    out: dict[str, str] = {}
    for x in items or []:
        if ":" in x:
            k, v = x.split(":", 1)
            key, val = f"{TAGS}." + k.strip(" ").replace(" ", "_"), v.strip(" ")
        else:
            key, val = f"{TAGS}.untitled", x.strip(" ")
        out[key] = out[key] + "//" + val if key in out else val
    return out


def expected_table(inp: dict, cid: str) -> tuple[list[str], list[tuple]]:
    """(sanitized column names, rows) the sink must hold after one load."""
    cfg = inp["configs"][cid]
    dtypes = {**cfg["group_by"], **cfg["meta_dimensions"], **cfg["metrics"]}
    columns = list(dtypes)
    content = "content" in cfg["dataset_id"]
    brands = set(cfg["brands"])
    string_cols = [c for c, t in RAW_SCHEMA if t == "string"]
    kept: list[dict] = []
    ddir = os.path.join(inp["pages_dir"], cfg["dataset_id"])
    for p in range(inp["page_counts"][cfg["dataset_id"]]):
        with open(os.path.join(ddir, f"page_{p}.json")) as fh:
            for row in json.load(fh):
                if row[BRAND] not in brands:
                    continue
                if content and not (START <= row[DATE] <= END):
                    continue
                if any(row[c] == SENTINEL for c in string_cols):
                    continue
                kept.append(row)
    parsed = [_parse_tags(r[TAGS]) for r in kept] if TAGS in columns else None
    keys = sorted({k for m in parsed for k in m}) if parsed is not None else []
    rows = []
    for i, r in enumerate(kept):
        vals = []
        for c in columns:
            if c == TAGS:
                continue
            t, v = dtypes[c], r[c]
            if t == "int64":
                v = _as_long(v)
            elif t == "float64":
                v = _as_double(v)
            elif t == "datetime64[ns]":
                ts = _as_ts(v)
                if ts is None:
                    v = None
                elif c == DATE:
                    v = ts.strftime("%Y-%m-%d")
                else:
                    v = ts.strftime("%Y-%m-%dT%H:%M:%S")
            vals.append(v)
        if parsed is not None:
            vals.extend(parsed[i].get(k) for k in keys)
        rows.append(tuple(vals))
    names = [c for c in columns if c != TAGS] + keys
    return [n.replace(".", "&") for n in names], rows


def row_checksum(names: list[str], rows) -> int:
    """Order-independent typed checksum: sum of per-row digests, each over
    (column name, type tag, value) in sorted column order."""
    order = sorted(range(len(names)), key=names.__getitem__)
    total = 0
    for row in rows:
        cells = [(names[j], type(row[j]).__name__, row[j]) for j in order]
        h = hashlib.blake2b(repr(cells).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return total
