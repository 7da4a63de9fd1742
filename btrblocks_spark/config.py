"""Engine configuration.

Mirrors the reference's ``BtrBlocksConfig`` (reference:
``btrblocks.hpp:22-69``): block size, per-type enabled scheme sets, cascade
depth, sampling parameters, and scheme-selection mode. Ours adds Spark-side
knobs (shuffle partitions, target file size) because at 100 TB those are the
levers that matter.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from enum import Enum


class SchemeSelection(str, Enum):
    """Reference: ``SchemeSelection`` in btrblocks.hpp:46-48."""

    SAMPLE = "sample"  # estimate compression ratio on run-structured samples
    TRY_ALL = "try_all"  # encode with every scheme, keep the smallest


# Scheme identifiers (reference: scheme/SchemeType.hpp). We keep the names,
# not the numeric codes — our on-disk physical encoding is Parquet, and the
# scheme is recorded in table metadata for planner lineage + decode hints.
# The AUTHORITATIVE per-kind implemented-scheme lists live in
# format/codecs.py (INT_SCHEMES / DOUBLE_SCHEMES / STRING_SCHEMES); the
# dataclass fields below are the DEFAULT-ENABLED subsets the planner may
# pick from — intentionally narrower: double.xor is a time-series
# specialist (slowly-varying series: ~115 MB/s enc / ~520 MB/s dec after
# the round-5 flat-gather rewrite, but only ~0.12x size on its target
# shape and near-incompressible on general doubles), double_bp/
# max_exponent are legacy competitors; enable per table via
# `with_(double_schemes=...)` when a column shape wants them.


@dataclass(frozen=True)
class BtrBlocksConfig:
    """Engine config. Defaults mirror the reference defaults.

    Reference values: block_size 65536 (btrblocks.hpp:24), sample_count 10 /
    sample_size 64 (btrblocks.hpp:25-26), cascade depth 3 (btrblocks.hpp:31),
    column-part target 16 MiB (storage/Chunk.cpp:12).
    """

    block_size: int = 65536
    sample_count: int = 10
    sample_size: int = 64
    max_cascade_depth: int = 3
    scheme_selection: SchemeSelection = SchemeSelection.SAMPLE
    # delta/dod on by default: with width-honest size models they are the
    # winning schemes for sorted keys and (ns-)timestamp columns
    integer_schemes: tuple[str, ...] = (
        "uncompressed", "one_value", "dict", "rle", "pfor", "bp", "delta", "dod",
    )
    double_schemes: tuple[str, ...] = (
        "uncompressed", "one_value", "dict", "rle", "frequency",
        "pseudodecimal", "alp", "alp_rd",
    )
    string_schemes: tuple[str, ...] = (
        "uncompressed", "one_value", "dict", "fsst", "dict8", "dict16",
    )
    # force a scheme for every column of the type (tests; reference
    # test/test-cases/TestHelper.hpp:15-35 EnforceScheme)
    force_integer_scheme: str | None = None
    force_double_scheme: str | None = None
    force_string_scheme: str | None = None
    # gates (reference: scheme/integer/RLE.cpp:12-16, templated/Frequency.hpp:23-48,
    # scheme/string/Fsst.cpp:119-127, string/DynamicDictionary.cpp:54-56)
    rle_min_avg_run: float = 2.0
    frequency_min_top_share: float = 0.9
    fsst_min_total_length: int = 16 * 1024
    dict_fsst_min_unique_pool: int = 16 * 1024
    # Spark-side physical knobs
    # ColumnPart target (storage/Chunk.cpp:233-266): the btrblocks data
    # source packs consecutive chunk files into read partitions of up to
    # this many bytes, and it caps a chunk file's page byte limit (each
    # chunk column is one Parquet page below it)
    part_target_bytes: int = 16 * 1024 * 1024
    compression_codec: str = "zstd"
    # zstd 9: measured ~2% smaller than the default level 3 at equal write
    # wall time on the bench tables; levels ≥19 cost ~10x write for ~4%
    zstd_level: int = 9
    # bloom filters on the order/lookup keys written without a dictionary,
    # sized from planner NDV stats (row-group skipping for equality
    # predicates on non-sorted keys). An integer/temporal leading order key
    # never gets one: chunks are sorted by it, so file min/max narrows a
    # lookup to one chunk, and it is stored delta-encoded instead
    bloom_filter_keys: bool = True
    # column-group encoding (write_table(column_groups=...) / auto):
    # mapping tables are broadcast at read time, so the entry count is
    # capped; auto grouping requires rows >= nd(det) * group_min_shrink —
    # a mapping near table size saves nothing (the "held but pointless"
    # verdict class of format_column_group_plan)
    max_group_entries: int = 1 << 20
    group_min_shrink: int = 8

    def with_(self, **kw) -> "BtrBlocksConfig":
        return replace(self, **kw)

    def schemes_for(self, spark_type: str) -> tuple[str, ...]:
        t = spark_type.lower()
        if t in ("int", "integer", "bigint", "long", "smallint", "short", "tinyint"):
            return self.integer_schemes
        if t in ("double", "float"):
            return self.double_schemes
        if t in ("string", "varchar"):
            return self.string_schemes
        return ("uncompressed",)

    def forced_scheme_for(self, spark_type: str) -> str | None:
        t = spark_type.lower()
        if t in ("int", "integer", "bigint", "long", "smallint", "short", "tinyint"):
            return self.force_integer_scheme
        if t in ("double", "float"):
            return self.force_double_scheme
        if t in ("string", "varchar"):
            return self.force_string_scheme
        return None


DEFAULT_CONFIG = BtrBlocksConfig()
