"""Filesystem abstraction for the format layer — local paths use plain
``os``/``open`` (fast path, no JVM hop); URI paths (``s3a://``, ``hdfs://``,
``file://``, ``abfss://``…) route through Hadoop's FileSystem API via py4j,
the same client Spark's own parquet scan uses.

This is what makes the compressed format object-store native (reference S7:
``tools/conversion/decompression-speed-s3.cpp:25-40`` reads the ``metadata``
blob + column parts with S3 GetObject; ``tools/conversion/s3-management.hpp``
wraps the client). Here the data files already go through Spark's
Hadoop-backed writers/readers; these helpers close the gap for the sidecar
(``_btr_metadata.json``) and file-size listing so ``write_table`` /
``read_table`` work verbatim against ``s3a://bucket/table``.

Offline-testable: ``file:///tmp/...`` URIs exercise the exact Hadoop code
path (URI parse → FileSystem.get → FSDataInput/OutputStream) that an
``s3a://`` path would, no network needed.
"""

from __future__ import annotations

import json
import os
import re

_URI_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def is_uri(path: str) -> bool:
    """True for scheme-qualified paths (s3a://…, file://…); False for plain
    local paths, which take the ``os`` fast path."""
    return bool(_URI_RE.match(path))


def _jvm_fs(spark, path: str):
    """(FileSystem, Path) for a URI via the active Hadoop configuration —
    picks up every ``fs.s3a.*`` credential/endpoint conf set on the session
    (see sources/object_store.configure_s3)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def read_text(path: str, spark=None) -> str:
    if not is_uri(path):
        with open(path) as fh:
            return fh.read()
    if spark is None:
        raise ValueError(
            f"reading {path!r} needs an active SparkSession (Hadoop FileSystem client)"
        )
    fs, jpath = _jvm_fs(spark, path)
    stream = fs.open(jpath)
    try:
        # FSDataInputStream is a java.io.InputStream; readAllBytes (Java 9+)
        # drains it fully and py4j hands it back as Python bytes
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def write_text(path: str, text: str, spark=None) -> None:
    if not is_uri(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)
        return
    if spark is None:
        raise ValueError(
            f"writing {path!r} needs an active SparkSession (Hadoop FileSystem client)"
        )
    fs, jpath = _jvm_fs(spark, path)
    stream = fs.create(jpath, True)  # overwrite — sidecar is rewritten whole
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def read_json(path: str, spark=None) -> dict:
    return json.loads(read_text(path, spark))


def write_json(path: str, obj: dict, spark=None) -> None:
    write_text(path, json.dumps(obj, indent=1, default=str), spark)


def _visible(name: str) -> bool:
    return not name.startswith(("_", "."))


def list_file_sizes(path: str, suffix: str = ".parquet", spark=None) -> list[int]:
    """Sizes of all files under ``path`` matching ``suffix`` (recursive).
    The plan pass of write_table and compact (writer.plan_chunk_files)
    sizes ``maxPartitionBytes`` to the largest chunk file with it — an
    O(num_files) metadata listing, never a data read (on S3 this
    is LIST, not GET). Applies the same Spark-visibility filter as
    ``list_parquet_files`` (skip ``_``/``.`` components): a crashed rival's
    ``_temporary`` task attempt or a staged ``.inflight`` file must never
    size a read Spark will not perform."""
    if not is_uri(path):
        out_local: list[int] = []
        for r, dirs, fs_ in os.walk(path):
            dirs[:] = [d for d in dirs if _visible(d)]
            out_local.extend(
                os.path.getsize(os.path.join(r, f))
                for f in fs_
                if f.endswith(suffix) and _visible(f)
            )
        return out_local
    return [int(status.getLen()) for status in _uri_files(path, suffix, spark)]


def _uri_files(path: str, suffix: str, spark):
    """Hadoop ``FileStatus`` of every Spark-visible file under the URI
    ``path`` whose name ends with ``suffix`` (recursive)."""
    if spark is None:
        raise ValueError(
            f"listing {path!r} needs an active SparkSession (Hadoop FileSystem client)"
        )
    fs, jpath = _jvm_fs(spark, path)
    base = str(jpath.toString()).rstrip("/")
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        name = p.getName()
        if not name.endswith(suffix) or not _visible(name):
            continue
        # every path component below the listing root must be visible too
        rel = str(p.toString())[len(base):].lstrip("/")
        if any(not _visible(c) for c in rel.split("/")[:-1]):
            continue
        yield status


def column_footer_bytes(path: str, spark=None) -> dict[str, tuple[int, set[str]]]:
    """Per column of the parquet files under ``path``: the summed footer
    ``total_compressed_size`` of its column chunks and the encodings they
    use, read from footers only (pyarrow for local paths, parquet-mr's
    reader for URIs)."""
    out: dict[str, tuple[int, set[str]]] = {}

    def add(col: str, size: int, encodings) -> None:
        b, enc = out.get(col, (0, set()))
        out[col] = (b + int(size), enc | set(encodings))

    if not is_uri(path):
        import pyarrow.parquet as pq

        for f in list_parquet_files(path):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    add(col.path_in_schema, col.total_compressed_size, col.encodings)
        return out
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for status in _uri_files(path, ".parquet", spark):
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
        )
        try:
            for block in reader.getFooter().getBlocks():
                for col in block.getColumns():
                    add(
                        col.getPath().toDotString(), col.getTotalSize(),
                        [e.name() for e in col.getEncodings()],
                    )
        finally:
            reader.close()
    return out


def remove_empty_parquet(path: str, pattern: str, spark=None) -> None:
    """Delete the 0-row parquet files named ``path/pattern`` (a glob), by
    the row counts in their footers, with the checksum file Hadoop's local
    filesystem writes beside each."""
    if not is_uri(path):
        import glob

        import pyarrow.parquet as pq

        for f in glob.glob(os.path.join(path, pattern)):
            if pq.ParquetFile(f).metadata.num_rows == 0:
                d, name = os.path.split(f)
                for p in (f, os.path.join(d, f".{name}.crc")):
                    if os.path.exists(p):
                        os.remove(p)
        return
    if spark is None:
        raise ValueError(f"removing files under {path!r} needs a SparkSession")
    jvm = spark._jvm
    fs, jpath = _jvm_fs(spark, path)
    conf = spark._jsc.hadoopConfiguration()
    for status in fs.globStatus(jvm.org.apache.hadoop.fs.Path(jpath, pattern)) or []:
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
        )
        try:
            empty = reader.getRecordCount() == 0
        finally:
            reader.close()
        if empty:
            fs.delete(status.getPath(), False)


def exists(path: str, spark=None) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    if spark is None:
        raise ValueError(f"existence check on {path!r} needs a SparkSession")
    fs, jpath = _jvm_fs(spark, path)
    return bool(fs.exists(jpath))


def join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join mangles
    ``s3a://bucket`` on absolute-looking parts)."""
    if not is_uri(base):
        return os.path.join(base, *parts)
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out

def list_parquet_files(path: str) -> list[str]:
    """Recursive parquet listing that sees EXACTLY what a Spark read of the
    same path sees: components starting with ``_`` or ``.`` (staging dirs
    like ``_stream_stage``, ``_copy_tmp-*``, hidden files) are skipped, the
    way Hadoop's default path filter skips them. Every lister feeding a
    file-identity decision (incremental fold state, compaction stats) MUST
    use this, or the counted set and the scanned set diverge — e.g. an
    os.walk that counts staged-but-uncommitted batch files Spark never
    read. Local paths only (sorted for deterministic identity)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)
