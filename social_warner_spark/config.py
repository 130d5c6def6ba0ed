"""Export-config model — the reference's config document (SURVEY.md §1.1).

Shape (reference main.py:72-78, data_transform.py:31-34):

```json
{
  "<config_id>": {
    "dataset_id": "dataset_content_...",
    "metrics":         {"metric.impressions": "int64", ...},
    "group_by":        {"lfm.fact.date_str": "datetime64[ns]", ...},
    "meta_dimensions": {"lfm.brand.name": "string", ...},
    "brands": [101, 102]
  }
}
```

Validation mirrors the reference's required-field check
(data_extract.py:33-42): missing field → ValueError naming the field.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Mapping

from social_warner_spark.operators.transforms import CAST_RULES

REQUIRED_FIELDS = ("dataset_id", "metrics", "group_by", "meta_dimensions", "brands")


@dataclass(frozen=True)
class ExportConfig:
    config_id: str
    dataset_id: str
    metrics: Mapping[str, str]
    group_by: Mapping[str, str]
    meta_dimensions: Mapping[str, str]
    brands: tuple[int, ...]

    @property
    def columns(self) -> list[str]:
        """Projection order: group_by ∪ meta_dimensions ∪ metrics, in config
        order (reference data_transform.py:31-32).  A column named in two
        sections appears once, at its first position; its dtype is the
        one ``dtype_map`` resolves."""
        return list(dict.fromkeys([*self.group_by, *self.meta_dimensions, *self.metrics]))

    @property
    def dtype_map(self) -> dict[str, str]:
        return {**self.group_by, **self.meta_dimensions, **self.metrics}

    @property
    def is_content_dataset(self) -> bool:
        """The reference branches on 'content' in dataset_id
        (data_extract.py:60)."""
        return "content" in self.dataset_id

    @property
    def sink_table_name(self) -> str:
        """Reference table naming: 010_warner_dl_lf_{config_id}
        (data_load.py:36)."""
        return f"010_warner_dl_lf_{self.config_id}"


def parse_config(config_id: str, doc: Mapping[str, Any]) -> ExportConfig:
    missing = [f for f in REQUIRED_FIELDS if f not in doc]
    if missing:
        raise ValueError(
            f"config {config_id!r} missing required field(s): {missing}"
        )
    if not isinstance(doc["dataset_id"], str):
        raise ValueError(
            f"config {config_id!r}: dataset_id must be a string, got "
            f"{type(doc['dataset_id']).__name__}"
        )
    # Exactly (list, tuple), matching the "must be a list of ids" error
    # text: a dict is Iterable but iterates over keys, and a one-shot
    # generator would be silently consumed — both previously slipped
    # through and produced surprising downstream behavior (ADVICE r9).
    if not isinstance(doc["brands"], (list, tuple)):
        raise ValueError(
            f"config {config_id!r}: brands must be a list of ids, got "
            f"{type(doc['brands']).__name__}"
        )
    for section in ("metrics", "group_by", "meta_dimensions"):
        if not isinstance(doc[section], Mapping):
            # A wrong-typed section (e.g. "metrics": []) must surface as
            # the documented config ValueError, not an AttributeError
            # escaping the CLI/service as a raw traceback (ADVICE r08).
            raise ValueError(
                f"config {config_id!r}: section {section!r} must be a "
                f"{{column: dtype}} object, got {type(doc[section]).__name__}"
            )
        for col, dtype in doc[section].items():
            if dtype not in CAST_RULES:
                raise ValueError(
                    f"config {config_id!r}: column {col!r} has unsupported "
                    f"dtype {dtype!r} (valid: {sorted(CAST_RULES)})"
                )
    return ExportConfig(
        config_id=config_id,
        dataset_id=doc["dataset_id"],
        metrics=dict(doc["metrics"]),
        group_by=dict(doc["group_by"]),
        meta_dimensions=dict(doc["meta_dimensions"]),
        brands=tuple(doc["brands"]),
    )


def parse_config_document(text: str) -> dict[str, ExportConfig]:
    """Parse the whole config blob (reference: GCS JSON, utils.py:94-125 +
    main.py:50).  Source-agnostic: pass the text however it was fetched."""
    raw = json.loads(text)
    if not isinstance(raw, dict):
        raise ValueError(
            f"config document must be a {{config_id: config}} object, "
            f"got {type(raw).__name__}"
        )
    for cid, doc in raw.items():
        if not isinstance(doc, Mapping):
            raise ValueError(
                f"config {cid!r} must be an object, got {type(doc).__name__}"
            )
    return {cid: parse_config(cid, doc) for cid, doc in raw.items()}
