"""One commit record per cache entry, checked by one listing per probe.

The writer lists the committed table location once and records, beside
the metadata document, the data-file inventory and whether Spark's
``_SUCCESS`` marker was in that listing (``data_inventory.txt``). Every
probe — catalog branch and path fallback alike — decides from that record
and one recursive listing of the location.
"""
from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_SMOKE  # noqa: E402


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _agg(spark, tag):
    return (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("probe", F.lit(tag))
    )


def _location(spark, h):
    from dbfs_spark_cache_spark import core

    return core._table_location(spark, h).replace("file:", "")


def test_catalog_entry_without_success_marker_is_miss(extended):
    """The marker rule covers the catalog branch too: a marker-written
    entry whose table is still live in the catalog but whose _SUCCESS
    vanished is a miss, and restoring the marker restores the hit."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache

    df = _agg(extended, "catalog_marker")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    assert extended.catalog.tableExists(core.table_name_for_hash(h))
    loc = _location(extended, h)

    os.remove(f"{loc}/_SUCCESS")
    assert read_cache_if_exist(df) is None

    open(f"{loc}/_SUCCESS", "w").close()
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected


def test_catalog_entry_with_deleted_directory_is_miss(extended):
    """A recorded entry whose directory is gone is a miss even while the
    catalog still lists its table (Spark would list the missing root as
    empty and serve zero rows); the next write heals it."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache

    df = _agg(extended, "catalog_gone")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    shutil.rmtree(_location(extended, h))
    assert extended.catalog.tableExists(core.table_name_for_hash(h))

    assert read_cache_if_exist(df) is None
    assert write_cache(df).count() == expected
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected


@pytest.mark.parametrize("base", ["default", "custom", "direct"])
def test_sidecar_dir_holds_metadata_and_commit_record(extended, tmp_path, base):
    """A fresh entry's sidecar directory holds exactly the metadata
    document and the commit record, and the record carries the inventory
    and the marker line — under the default base, a custom cache_path
    base, and for direct-data entries."""
    from dbfs_spark_cache_spark import core, fs, write_cache
    from dbfs_spark_cache_spark.config import config

    if base == "direct":
        cached = extended.createCachedDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
        h = cached._direct_data_cache_hash
        sidecar_dir = f"{config.SPARK_CACHE_DIR}{h}"
    else:
        cache_path = f"{tmp_path}/custom_cache/" if base == "custom" else None
        df = _agg(extended, f"record_{base}")
        write_cache(df, cache_path=cache_path)
        h = core.resolve_table_hash(df)
        sidecar_dir = f"{cache_path or config.SPARK_CACHE_DIR}{h}"

    assert sorted(os.listdir(sidecar_dir)) == [
        "cache_metadata.txt", "data_inventory.txt",
    ]
    record = fs.read_text(f"{sidecar_dir}/data_inventory.txt")
    assert "success_marker=true" in record.splitlines()
    assert fs.parse_inventory(record) == fs.data_file_inventory(
        _location(extended, h)
    )


def test_hit_probe_lists_location_once(extended, monkeypatch):
    """A hit decides from one listing of the entry's location: no
    existence probes, and one directory listing for an unpartitioned
    table."""
    from dbfs_spark_cache_spark import fs, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.plans.fingerprint import (
        canonical_plan,
        input_dir_mod_datetime,
    )

    df = _agg(extended, "one_listing")
    write_cache(df)
    plan = canonical_plan(df)
    info = input_dir_mod_datetime(df, plan)

    calls = {"exists": 0, "list_dir": 0}
    real_exists, real_list_dir = fs.exists, fs.list_dir

    def counting(name, real):
        def call(*a, **kw):
            calls[name] += 1
            return real(*a, **kw)
        return call

    monkeypatch.setattr(fs, "exists", counting("exists", real_exists))
    monkeypatch.setattr(fs, "list_dir", counting("list_dir", real_list_dir))
    assert read_cache_if_exist(df, query_plan=plan, input_info=info) is not None
    assert calls == {"exists": 0, "list_dir": 1}
