"""btrblocks_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of maxi-k/btrblocks (SIGMOD 2023).

Layers (see SURVEY.md):
  - ``format``   : chunked columnar storage model — per-chunk stats, sampling
                   based compression-scheme selection, cascading, writer/reader,
                   round-trip verification (reference: compression/*, scheme/*).
  - ``queries``  : the declared relational query surface (SURVEY.md §2b) —
                   pure Spark DataFrame built-ins, DuckDB-oracle-verified.
  - ``pipeline`` : large-scale training-data operators — dedup (exact/minhash/
                   simhash/jaccard/embedding), similarity search, text analysis,
                   multimodal column plumbing.
  - ``streaming``: Structured Streaming ingest into the chunked format.
"""

from __future__ import annotations

import importlib


def lazy_exports(package: str, exports: dict[str, str]):
    """PEP 562 ``__getattr__`` and ``__dir__`` for ``package``: the public
    name ``n`` is imported from submodule ``exports[n]`` on first access,
    not at package import. A forked Python worker that unpickles one class
    (the ``btrblocks`` data source) then imports only that class's module
    chain, not every engine module and pandas."""

    def __getattr__(name: str):
        if name not in exports:
            raise AttributeError(f"module {package!r} has no attribute {name!r}")
        value = getattr(importlib.import_module(f"{package}.{exports[name]}"), name)
        setattr(importlib.import_module(package), name, value)
        return value

    def __dir__() -> list[str]:
        return sorted({*vars(importlib.import_module(package)), *exports})

    return __getattr__, __dir__


_EXPORTS = {
    "BtrBlocksConfig": "config",
    "get_spark": "session",
    "TABLE_NAMES": "tables",
    "load_table": "tables",
    "load_tables": "tables",
}
__all__ = list(_EXPORTS)
__getattr__, __dir__ = lazy_exports(__name__, _EXPORTS)

__version__ = "0.1.0"
