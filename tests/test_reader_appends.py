"""Reads and deletes over a table with rows appended through the
``btrblocks`` source and not yet compacted: appended files carry no
``_idx`` and no chunk stats, so ``read_table_skipping`` must still read
them (subject to the value predicate), before and after ``compact()``, and
deletion vectors must work on the written rows."""

from __future__ import annotations

import os

import pytest

from btrblocks_spark.config import DEFAULT_CONFIG
from btrblocks_spark.format import journal, maintenance
from btrblocks_spark.format.reader import read_table_skipping
from btrblocks_spark.format.writer import write_table
from btrblocks_spark.sources.btr_datasource import BtrBlocksDataSource

# (lo, hi) on k; the written keys are 0..1999, the appended ones 500..519
# and 5000..5039 — (5000, 5020) matches appended rows only, in a range no
# written chunk's stats can cover
_RANGES = [(510, 600), (5000, 5020), (3000, 4000), (1990, None), (None, 3)]


def _rows(spark, keys):
    return spark.createDataFrame([(k, k * 3, f"s{k % 7}") for k in keys], "k long, v long, s string")


def test_range_scan_sees_uncompacted_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    written = _rows(spark, range(2000))
    write_table(written, path, ["k"], DEFAULT_CONFIG.with_(block_size=256))
    spark.dataSource.register(BtrBlocksDataSource)
    appended = [_rows(spark, range(500, 520)), _rows(spark, range(5000, 5040))]
    for batch in appended:
        batch.write.format("btrblocks").mode("append").option("path", path).save()
    everything = written.unionByName(appended[0]).unionByName(appended[1])

    def check(appended_in_stats: bool):
        for lo, hi in _RANGES:
            got, chunks = read_table_skipping(spark, path, "k", lo, hi)
            want = everything
            if lo is not None:
                want = want.filter(want.k >= lo)
            if hi is not None:
                want = want.filter(want.k <= hi)
            assert sorted(got.collect()) == sorted(want.collect()), (lo, hi)
            if (lo, hi) == (5000, 5020):
                assert bool(chunks) == appended_in_stats

    check(appended_in_stats=False)
    assert maintenance.compact(spark, path)["compacted"]
    check(appended_in_stats=True)


def test_deletion_vector_beside_uncompacted_appends(spark, tmp_path):
    """delete_where_dv deletes written rows of a table with an uncompacted
    append, read_table_mor serves the result, and a predicate matching an
    appended row (no ``_idx`` yet) is refused with nothing committed."""
    path = str(tmp_path / "t")
    written = _rows(spark, range(2000))
    write_table(written, path, ["k"], DEFAULT_CONFIG.with_(block_size=256))
    spark.dataSource.register(BtrBlocksDataSource)
    appended = _rows(spark, range(5000, 5040))
    appended.write.format("btrblocks").mode("append").option("path", path).save()
    want = sorted(written.unionByName(appended).filter("k >= 10").collect())

    res = maintenance.delete_where_dv(spark, path, "k < 10")
    assert res["deleted_rows"] == 10
    assert sorted(maintenance.read_table_mor(spark, path).collect()) == want

    dv_dir = os.path.join(path, "_deletes")
    with pytest.raises(ValueError, match=r"compact\(\)"):
        maintenance.delete_where_dv(spark, path, "k = 20 OR k = 5001")
    assert journal.read_pointer(dv_dir) == res["dv_version"]
    assert journal.list_versions(dv_dir, "dv=") == [res["dv_version"]]
    assert sorted(maintenance.read_table_mor(spark, path).collect()) == want
