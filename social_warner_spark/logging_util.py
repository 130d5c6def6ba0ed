"""Structured JSON logging (reference A20: print(json.dumps({severity,...}))
at every step, e.g. main.py:37-40, utils.py:29-48)."""

from __future__ import annotations

import json
import sys
import time


def log(severity: str, message: str, **fields) -> None:
    rec = {"severity": severity, "message": message, "ts": round(time.time(), 3)}
    rec.update(fields)
    print(json.dumps(rec), file=sys.stderr)


def info(message: str, **fields) -> None:
    log("INFO", message, **fields)


def warning(message: str, **fields) -> None:
    log("WARNING", message, **fields)


def error(message: str, **fields) -> None:
    log("ERROR", message, **fields)
