"""Object-store (S7) path: the format layer's sidecar + listing I/O through
the Hadoop FileSystem client, exercised offline with ``file://`` URIs —
the identical code path (URI parse → FileSystem.get → FSData streams) an
``s3a://`` table takes (reference tools/conversion/decompression-speed-s3.cpp
streams the metadata blob + parts with S3 GetObject).

configure_s3 is pure conf wiring on the live Hadoop configuration, asserted
directly (no network in this sandbox)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from btrblocks_spark.config import DEFAULT_CONFIG
from btrblocks_spark.format import fs as _fs
from btrblocks_spark.format.reader import read_metadata, read_table, scheme_summary
from btrblocks_spark.format.writer import write_table
from btrblocks_spark.sources.object_store import configure_s3, parquet_uri, read_btr_uri
from btrblocks_spark.tables import load_table


@pytest.fixture(scope="module")
def uri_dir():
    d = tempfile.mkdtemp(prefix="btr_uri_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_is_uri():
    assert _fs.is_uri("s3a://bucket/table")
    assert _fs.is_uri("file:///tmp/x")
    assert _fs.is_uri("hdfs://nn:8020/warehouse/t")
    assert not _fs.is_uri("/tmp/x")
    assert not _fs.is_uri("relative/path")


def test_join_preserves_scheme():
    assert _fs.join("s3a://bucket/tbl", "data") == "s3a://bucket/tbl/data"
    assert _fs.join("s3a://bucket/tbl/", "a", "b") == "s3a://bucket/tbl/a/b"
    assert _fs.join("/tmp/t", "data") == os.path.join("/tmp/t", "data")


def test_text_roundtrip_via_hadoop_fs(spark, uri_dir):
    uri = "file://" + uri_dir + "/sub/blob.json"
    _fs.write_json(uri, {"k": 1, "s": "x"}, spark)
    assert _fs.exists(uri, spark)
    assert _fs.read_json(uri, spark) == {"k": 1, "s": "x"}
    # the bytes really landed on disk where the URI says
    assert os.path.exists(os.path.join(uri_dir, "sub", "blob.json"))


def test_write_read_table_via_uri(spark, sf_dir, uri_dir):
    """Full S7 round-trip: write_table/read_table against a scheme-qualified
    URI — sidecar through Hadoop FS, data through the parquet scan, file
    sizing through the Hadoop LIST."""
    df = load_table(spark, sf_dir, "nation")
    uri = "file://" + uri_dir + "/nation_tbl"
    meta = write_table(df, uri, ["n_nationkey"], DEFAULT_CONFIG.with_(block_size=16), "nation")
    assert meta["num_rows"] == df.count()
    # sidecar readable via URI and via the plain local path
    assert read_metadata(uri, spark)["table"] == "nation"
    assert read_metadata(os.path.join(uri_dir, "nation_tbl"))["table"] == "nation"
    back, meta2 = read_table(spark, uri)
    assert meta2["num_chunks"] == meta["num_chunks"]
    a = sorted(df.collect(), key=lambda r: r["n_nationkey"])
    b = sorted(back.collect(), key=lambda r: r["n_nationkey"])
    assert a == b
    # metadata inspection works off the URI too
    schemes = scheme_summary(spark, uri)
    assert schemes.filter(F.col("column") == "n_name").count() >= 1
    # source-module helpers resolve the same table
    via_src, _ = read_btr_uri(spark, uri)
    assert via_src.count() == df.count()
    assert parquet_uri(spark, uri + "/data").count() == df.count()


def test_list_file_sizes_uri_matches_local(spark, sf_dir, uri_dir):
    local = os.path.join(uri_dir, "nation_tbl", "data")
    sizes_local = sorted(_fs.list_file_sizes(local, ".parquet"))
    sizes_uri = sorted(_fs.list_file_sizes("file://" + local, ".parquet", spark))
    assert sizes_local == sizes_uri and len(sizes_local) >= 1


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_remove_empty_parquet(spark, tmp_path, scheme):
    """Only the 0-row files the glob names go, with their checksum files;
    a local path takes the os route, a URI the Hadoop FileSystem."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    empty = pa.table({"a": pa.array([], pa.int64())})
    pq.write_table(empty, tmp_path / "part-00000-x.parquet")
    (tmp_path / ".part-00000-x.parquet.crc").write_bytes(b"crc")
    pq.write_table(pa.table({"a": [1]}), tmp_path / "part-00000-y.parquet")
    pq.write_table(empty, tmp_path / "part-00001-z.parquet")
    _fs.remove_empty_parquet(scheme + str(tmp_path), "part-00000-*", spark)
    assert sorted(os.listdir(tmp_path)) == [
        "part-00000-y.parquet", "part-00001-z.parquet"
    ]


def test_configure_s3_sets_hadoop_conf(spark):
    applied = configure_s3(
        spark,
        access_key="AK",
        secret_key="SK",
        endpoint="http://minio.local:9000",
        region="us-east-1",
        path_style_access=True,
        connection_maximum=64,
    )
    hconf = spark._jsc.hadoopConfiguration()
    for k, v in applied.items():
        assert hconf.get(k) == v
    assert hconf.get("fs.s3a.access.key") == "AK"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.connection.maximum") == "64"


def test_configure_s3_anonymous_provider(spark):
    applied = configure_s3(spark, anonymous=True)
    assert applied["fs.s3a.aws.credentials.provider"].endswith(
        "AnonymousAWSCredentialsProvider"
    )
    assert (
        spark._jsc.hadoopConfiguration().get("fs.s3a.aws.credentials.provider")
        == applied["fs.s3a.aws.credentials.provider"]
    )


def test_chunk_pruning_via_uri(spark, sf_dir, uri_dir):
    """read_table_skipping / prune_chunks / metadata_agg on a
    scheme-qualified URI (S7): the sharded chunk-stats dataset resolves
    through the URI both driver-side (file:// strips to a local read) and
    with the meta/spark pass-through (round-4 review regression)."""
    from btrblocks_spark.format.reader import (
        metadata_agg,
        prune_chunks,
        read_table_skipping,
    )

    df = load_table(spark, sf_dir, "orders")
    uri = "file://" + uri_dir + "/orders_tbl"
    write_table(df, uri, ["o_orderkey"], DEFAULT_CONFIG.with_(block_size=512), "orders")

    keys = sorted(r["o_orderkey"] for r in df.select("o_orderkey").distinct().collect())
    lo, hi = keys[len(keys) // 2], keys[len(keys) // 2 + 2]
    kept = prune_chunks(uri, "o_orderkey", lo, hi, spark=spark)
    n_chunks = read_metadata(uri, spark)["num_chunks"]
    assert 0 < len(kept) < n_chunks

    pruned, kept2 = read_table_skipping(spark, uri, "o_orderkey", lo, hi)
    assert kept2 == kept
    expect = df.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi))
    assert pruned.count() == expect.count()

    agg = {r["column"]: r for r in metadata_agg(uri, ["o_orderkey"], spark)}
    assert list(agg) == ["o_orderkey"]
    assert agg["o_orderkey"]["n_rows"] == df.count()
    assert agg["o_orderkey"]["min"] == min(keys) and agg["o_orderkey"]["max"] == max(keys)
