"""Format layer: chunked columnar storage model with per-chunk stats and
sampling-based compression-scheme selection (the reference's actual surface).

Design (SURVEY.md M3): the *semantic* layer — chunking, stats, scheme
selection, cascading, metadata — is ours and fully re-implemented; the
*physical* bit-twiddling (dictionary pages, RLE hybrid, bit-packing, ZSTD) is
delegated to Parquet, which implements the same encoding family natively and
JVM-side. Scheme choices are recorded in a metadata sidecar (the btr
``metadata`` file analog, compression/Datablock.hpp:30-35). The physical
choice the Parquet writer can make, a dictionary or not per column, is
made the BtrBlocks way: ``write_table`` trial-encodes a key-ordered
sample chunk under both forms and keeps the smaller, and every chunk
column is one Parquet page, so the page is the BtrBlocks block. The
signature codecs (pseudodecimal, RLE, dict, frequency, FOR/delta,
FSST-class) additionally exist as real encode/decode transforms in
``codecs.py`` with bit-exact round-trip tests.
"""

from btrblocks_spark import lazy_exports

_EXPORTS = {
    "with_global_index": "chunker",
    "with_chunk_id": "chunker",
    "choose_scheme": "planner",
    "write_table": "writer",
    "read_table": "reader",
    "scheme_summary": "reader",
}
__all__ = list(_EXPORTS)
__getattr__, __dir__ = lazy_exports(__name__, _EXPORTS)
