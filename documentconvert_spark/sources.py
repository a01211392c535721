"""Custom Python DataSource (Spark 4 DataSource API) for URL inputs:
`spark.read.format("urldocs").option("urls", manifest).load()` fetches each
document on the executor that owns its slice of the manifest.

Reference analogue: the reference's HTTP-URL input path is an
unimplemented TODO (`enhanced_task_processor.py:450-454`: URL tasks raise
"not supported yet"). Here the fetcher is injectable (a module:function
option), so air-gapped environments and unit tests substitute a
deterministic local fetcher, and a failed fetch becomes an error row,
never a failed task (the engine's C7 error-row discipline).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

URL_DOCS_SCHEMA_DDL = (
    "doc_id string, doc_type string, content binary, byte_len long, "
    "source_bucket string, source_path string, error string"
)


@dataclass
class _UrlSlice(InputPartition):
    urls: list  # [(doc_id, doc_type, url, parse_error)]


_FETCH_CAP = 256 * 1024 * 1024


def _default_fetcher(url: str) -> bytes:
    """urllib-based fetch — used only when no fetcher option is given.
    Bounded: 30 s timeout, 256 MiB cap (a hostile Content-Length must not
    OOM an executor). An over-cap body RAISES — the read() loop contains
    it as an error row; silently truncating would hand corrupt bytes
    downstream as a clean document."""
    from urllib.request import urlopen

    with urlopen(url, timeout=30) as resp:  # noqa: S310 — the operator passes explicit URLs
        blob = resp.read(_FETCH_CAP + 1)
    if len(blob) > _FETCH_CAP:
        raise ValueError(f"response body exceeds the {_FETCH_CAP}-byte fetch cap")
    return blob


def offline_demo_fetcher(url: str) -> bytes:
    """Deterministic no-network fetcher (tests / air-gapped demos): yields
    a synthetic image document derived from the URL; paths ending in
    /missing raise, exercising the per-row containment path."""
    if url.endswith("/missing"):
        raise OSError("404 not found")
    tail = url.rsplit("/", 1)[-1]
    return f"MINIIMG-1.0\nref-{tail}.jpg\nocr text for {url}\n".encode()


def _resolve_fetcher(spec: str | None):
    if not spec:
        return _default_fetcher
    import importlib

    mod, _, fn = spec.rpartition(":")
    return getattr(importlib.import_module(mod), fn)


class UrlDocsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        # urls option: newline-separated "doc_id,doc_type,url" records
        # (an operator typically builds this from a manifest table).
        # A malformed line becomes an error ROW, not a planning failure —
        # one bad manifest entry must not abort the whole load.
        self.records = []  # (doc_id, doc_type, url, parse_error)
        for lineno, line in enumerate((options.get("urls") or "").splitlines(), 1):
            line = line.strip()
            if not line:
                continue
            parts = line.split(",", 2)
            if len(parts) == 3:
                self.records.append((parts[0], parts[1], parts[2], None))
            else:
                self.records.append((
                    parts[0], None, None,
                    f"ValueError: malformed manifest line {lineno} "
                    f"(expected doc_id,doc_type,url)",
                ))
        self.fetcher_spec = options.get("fetcher")
        self.per_partition = int(options.get("urls_per_partition", 64))

    def partitions(self):
        step = max(self.per_partition, 1)
        return [
            _UrlSlice(self.records[lo:lo + step])
            for lo in range(0, len(self.records), step)
        ] or [_UrlSlice([])]

    def read(self, partition: _UrlSlice):
        fetch = _resolve_fetcher(self.fetcher_spec)
        for doc_id, doc_type, url, parse_error in partition.urls:
            if parse_error is not None:
                yield (doc_id, doc_type, None, 0, "url", url, parse_error)
                continue
            try:
                blob = fetch(url)
                yield (doc_id, doc_type, blob, len(blob), "url", url, None)
            except Exception as exc:  # noqa: BLE001 — per-row containment
                yield (doc_id, doc_type, None, 0, "url", url,
                       f"{type(exc).__name__}: {exc}")


class UrlDocsDataSource(DataSource):
    """`spark.dataSource.register(UrlDocsDataSource)`; then
    `spark.read.format("urldocs").option("urls", manifest).load()` —
    add `.option("fetcher", "mymodule:myfetch")` to swap transports."""

    @classmethod
    def name(cls) -> str:
        return "urldocs"

    def schema(self) -> str:
        return URL_DOCS_SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return UrlDocsReader(schema, self.options)
