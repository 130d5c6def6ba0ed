"""Paginated REST source (SURVEY.md A1: per-page fetch → DataFrame).

The reference iterates API result pages on the driver and pandas-concats
them (data_extract.py:89-94) — single-process, memory-bound.
`PagedRestDataSource` replaces it: a Spark 4 Python DataSource where EACH
PAGE IS A PARTITION — page fetches run on executors in parallel, nothing is
concatenated in driver memory.  The fetcher is addressed by module path
(must be importable on executors) because DataSource options are strings.

Auth/secret retrieval (reference utils.py:78-92) is a driver concern:
`resolve_credentials` runs a pluggable CredentialProvider ONCE on the
driver and threads the materialized credentials into the fetcher options —
executors never fetch secrets per-partition.  The default provider reads a
JSON blob from an environment variable (the generic stand-in for the
reference's secret-manager lookup; swap in any callable for a real store).
"""

from __future__ import annotations

import importlib
import json
import os
from typing import Callable, Iterable, Iterator, Mapping, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


PageFetcher = Callable[[int, dict], Iterable[dict]]
"""(page_index, options) -> iterable of row dicts for that page."""

CredentialProvider = Callable[[], Mapping[str, str]]
"""() -> credential mapping (e.g. client_id/client_secret/api_key —
reference utils.py:86-92 builds its API client from exactly such a doc)."""

# key contains "secret" so Spark's default redaction regex
# ((?i)secret|password|token|access[.]key) masks it in explain output,
# the UI Environment/SQL tabs, and event logs
CREDENTIALS_OPTION = "credentials_secret_json"
DEFAULT_CREDENTIALS_ENV = "SOCIAL_WARNER_CREDENTIALS"


def env_credential_provider(env_var: str = DEFAULT_CREDENTIALS_ENV) -> CredentialProvider:
    """Default provider: parse a JSON credential blob from an env var.

    Mirrors the reference's get_secret('LF_CREDENTIALS') → json.loads
    (utils.py:78-92) with the secret store abstracted to the environment;
    raises KeyError when unset (fail fast, never a silent anonymous run).
    """

    def provider() -> Mapping[str, str]:
        raw = os.environ.get(env_var)
        if raw is None:
            raise KeyError(f"credential env var {env_var!r} is not set")
        return json.loads(raw)

    return provider


def resolve_credentials(
    options: Mapping[str, str], provider: CredentialProvider | None = None
) -> dict[str, str]:
    """Resolve credentials ONCE (driver-side) into fetcher options (A17).

    DataSource options are strings, so the credential mapping is embedded
    as JSON under ``credentials_json``; fetchers json-load it.  Executors
    receive materialized credentials with the serialized options and never
    call the secret store themselves.
    """
    provider = provider or env_credential_provider()
    out = dict(options)
    out[CREDENTIALS_OPTION] = json.dumps(dict(provider()), sort_keys=True)
    return out


def resolve_callable(ref: str) -> Callable:
    """Resolve a ``module.path:callable`` reference with loud errors — the
    CLI's ``--extract``/``--load`` and this source's ``fetcher`` option
    (imported executor-side)."""
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


class _PagedRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = dict(options)

    def partitions(self) -> Sequence[InputPartition]:
        n = int(self._options.get("num_pages", "1"))
        return [InputPartition(i) for i in range(n)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        fetch: PageFetcher = resolve_callable(self._options["fetcher"])
        names = [f.name for f in self._schema.fields]
        for row in fetch(partition.value, self._options):
            yield tuple(row.get(name) for name in names)


class PagedRestDataSource(DataSource):
    """spark.read.format("paged_rest")
    .schema(...)
    .option("fetcher", "my_module:fetch_page")
    .option("num_pages", "8").load()

    Register once per session:
    ``spark.dataSource.register(PagedRestDataSource)``.
    """

    @classmethod
    def name(cls) -> str:
        return "paged_rest"

    def schema(self) -> str | StructType:
        raise ValueError("paged_rest requires an explicit .schema(...)")

    def reader(self, schema: StructType) -> DataSourceReader:
        return _PagedRestReader(schema, self.options)
