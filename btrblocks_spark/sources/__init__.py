"""Sources/sinks beyond Parquet: CSV ingest with the reference parser's
null/trim semantics, CSV export, schema handling (YAML-style declared
schemas → StructType), and the `btrblocks` Python DataSource
(spark.read.format("btrblocks") over written chunked tables)."""

from btrblocks_spark import lazy_exports

_EXPORTS = {
    "read_csv": "csv_source",
    "export_csv": "csv_source",
    "schema_from_decl": "csv_source",
    "BtrBlocksDataSource": "btr_datasource",
    "load_btr_table": "btr_datasource",
    "read_jsonl": "jsonl_source",
    "export_jsonl": "jsonl_source",
    "read_jsonl_quarantine": "jsonl_source",
}
__all__ = list(_EXPORTS)
__getattr__, __dir__ = lazy_exports(__name__, _EXPORTS)
