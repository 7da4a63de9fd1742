"""Round-trip verification (reference X3: csvtobtr -verify,
tools/conversion/csvtobtr.cpp:49-66 + null-aware equality
storage/Chunk.cpp:143-231).

Spark formulation: symmetric ``exceptAll`` emptiness + row-count equality —
null-aware by construction (exceptAll treats nulls as equal), and fully
distributed (no driver collect)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from btrblocks_spark.format.reader import read_table
from btrblocks_spark.format.writer import write_parquet


def frames_equal(a: DataFrame, b: DataFrame) -> bool:
    # column ORDER must not matter, and a differing column SET is unequal
    # (not an AnalysisException from the select below). Types compare per
    # NAME — a positional check against differently-ordered schemas would
    # report equal frames unequal.
    if set(a.columns) != set(b.columns):
        return False
    a_types = {f.name: f.dataType for f in a.schema.fields}
    b_types = {f.name: f.dataType for f in b.schema.fields}
    if a_types != b_types:
        return False
    cols = sorted(a.columns)
    a, b = a.select(cols), b.select(cols)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def round_trip_verify(original: DataFrame, spark: SparkSession, path: str) -> bool:
    """True iff the written table scans back to exactly the original rows."""
    readback, _meta = read_table(spark, path)
    return frames_equal(original.select(*sorted(original.columns)), readback.select(*sorted(readback.columns)))


def _chunk_digests(spark: SparkSession, path: str):
    """Per-chunk order-invariant content digests of the stored rows:
    xxhash64 over every user column, combined with commutative
    count/sum/xor per chunk — one map-side-combinable pass, no shuffle of
    data columns beyond the hash."""
    import os

    from pyspark.sql import functions as F

    from btrblocks_spark.format.reader import read_metadata

    meta = read_metadata(path)
    bs = meta["block_size"]
    df = spark.read.parquet(os.path.join(path, "data"))
    cols = [c for c in df.columns if c != "_idx"]
    # 32-bit truncation keeps the commutative long sum overflow-free (ANSI
    # mode) to ~2^31 rows per chunk — far past any block_size
    h = F.xxhash64(*[F.col(c) for c in cols]).bitwiseAND(F.lit(0xFFFFFFFF))
    return (
        df.select(F.expr(f"_idx div {bs}").alias("chunk"), h.alias("h"))
        .groupBy("chunk")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("h").cast("long").alias("sum"),
            F.expr("bit_xor(h)").cast("long").alias("xor"),
        )
    )


_CHECKSUM_DIR = "_btr_chunk_checksums"


def add_chunk_checksums(spark: SparkSession, path: str) -> dict:
    """Record per-chunk content checksums — at-rest integrity the
    round-trip verifier can't give once the source DataFrame is gone
    (Parquet page CRCs detect storage bit-rot; these detect logical
    tampering/corruption at chunk granularity and travel with the table).
    One extra scan at write/maintenance time; verification later needs no
    source of truth besides the recorded digests.

    Digests land in a ``_btr_chunk_checksums/`` parquet dataset written
    from the executors (the sharded-sidecar shape: at 15M chunks a
    driver-held dict in the JSON sidecar is the exact bottleneck the v2
    chunk-stats dataset removed); the sidecar JSON records only the
    pointer. Returns {"chunks": N}."""
    import os

    from pyspark.sql import functions as F

    from btrblocks_spark.format.journal import replace_json
    from btrblocks_spark.format.reader import read_metadata

    out_dir = os.path.join(path, _CHECKSUM_DIR)
    write_parquet(_chunk_digests(spark, path).sort("chunk").write.mode("overwrite"), out_dir)
    n = spark.read.parquet(out_dir).agg(F.count("*")).collect()[0][0]
    meta = read_metadata(path)
    meta.pop("chunk_checksums", None)  # drop a legacy inline dict if present
    meta["chunk_checksums"] = _CHECKSUM_DIR
    replace_json(os.path.join(path, "_btr_metadata.json"), meta, indent=1, default=str)
    return {"chunks": int(n)}


def verify_chunk_checksums(spark: SparkSession, path: str) -> dict:
    """Recompute per-chunk digests and compare with the recorded checksums.
    Returns {"ok": bool, "bad_chunks": [chunk ids], "missing": bool} —
    bad_chunks pinpoints corruption to a chunk, so a repair only
    re-fetches/rewrites that chunk, not the table.

    The compare is a DISTRIBUTED full outer join on chunk id (recorded
    dataset vs recomputed digests); only mismatching chunk ids reach the
    driver. Legacy tables with the inline sidecar dict still verify."""
    import os

    from pyspark.sql import functions as F

    from btrblocks_spark.format.reader import read_metadata

    meta = read_metadata(path)
    recorded = meta.get("chunk_checksums")
    if recorded is None:
        return {"ok": False, "bad_chunks": [], "missing": True}
    if isinstance(recorded, dict):  # legacy inline sidecar dict
        rec_df = spark.createDataFrame(
            [
                (int(c), v["n"], v["sum"], v["xor"])
                for c, v in recorded.items()
            ],
            "chunk long, n long, sum long, xor long",
        )
    else:
        rec_df = spark.read.parquet(os.path.join(path, str(recorded)))
    actual = _chunk_digests(spark, path)
    joined = rec_df.alias("r").join(
        actual.alias("a"), on="chunk", how="full_outer"
    )
    mismatch = (
        ~(F.col("r.n").eqNullSafe(F.col("a.n")))
        | ~(F.col("r.sum").eqNullSafe(F.col("a.sum")))
        | ~(F.col("r.xor").eqNullSafe(F.col("a.xor")))
    )
    bad = sorted(
        r["chunk"] for r in joined.filter(mismatch).select("chunk").collect()
    )
    return {"ok": not bad, "bad_chunks": bad, "missing": False}
