"""Relative-date macro evaluation (SURVEY.md §2.a A4).

Reference: ``format_date`` parses ``{{nDaysAgo N}}`` → ``today - N days`` as
``YYYY-MM-DD`` (data_extract.py:109-126).  The reference returns None on
parse failure; we raise (documented deviation, SURVEY.md §2.a quirks).

Evaluation is driver-side: configs are tiny, and the result feeds filter
literals, which keeps the filter a constant → partition-prunable.
"""

from __future__ import annotations

import datetime as dt
import re

_MACRO_RE = re.compile(r"\{\{\s*nDaysAgo\s+(\d+)\s*\}\}")


def eval_date_macro(value: str, anchor: dt.date | None = None) -> str:
    """``{{nDaysAgo N}}`` → (anchor - N days) as 'YYYY-MM-DD'; literal dates
    pass through.  `anchor` defaults to today; tests pin it for determinism.
    """
    m = _MACRO_RE.fullmatch(value.strip())
    if m:
        base = anchor or dt.date.today()
        try:
            return (base - dt.timedelta(days=int(m.group(1)))).isoformat()
        except OverflowError as exc:  # N reaches before 0001-01-01
            raise ValueError(f"unparseable date macro: {value!r}") from exc
    try:
        return dt.date.fromisoformat(value.strip()).isoformat()
    except ValueError as exc:
        raise ValueError(f"unparseable date macro: {value!r}") from exc
