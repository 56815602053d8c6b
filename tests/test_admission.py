"""One admission step for every cache call.

``cacheToStorage`` and ``backup_spark_cached_to_storage`` decide through
``core._admit`` whether a frame may be written and whether it already is
a cache entry; ``resolve_table_hash`` (the clear path) shares the same
identity check. The cost estimate runs only when a threshold asks.
"""
from __future__ import annotations

import ast
import os
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_SMOKE  # noqa: E402

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "dbfs_spark_cache_spark"


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods
    from dbfs_spark_cache_spark.core import reset_cache_session_stats

    extend_dataframe_methods(spark)
    reset_cache_session_stats()
    return spark


def _agg(spark, tag="a"):
    return (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tag", F.lit(tag))
    )


def _tables(spark):
    from dbfs_spark_cache_spark.config import config

    if not spark.catalog.databaseExists(config.CACHE_DATABASE):
        return []
    return [
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN {config.CACHE_DATABASE}")
        .filter("isTemporary = false")
        .collect()
    ]


def _sidecar_dirs():
    from dbfs_spark_cache_spark.config import config

    return sorted(os.listdir(config.SPARK_CACHE_DIR))


# --- entry identity: the write path agrees with the clear path -------------


def test_chained_cache_calls_on_cached_scan_write_once(extended):
    from dbfs_spark_cache_spark.core import cache_session_stats

    df = _agg(extended)
    expected = sorted(map(tuple, df.collect()))
    a = df.cacheToStorage(override_prefer_spark_cache=True)
    b = a.cacheToStorage(override_prefer_spark_cache=True)
    c = b.cacheToStorage(override_prefer_spark_cache=True)

    assert len(_tables(extended)) == 1
    assert len(_sidecar_dirs()) == 1
    assert cache_session_stats()["writes"] == 1
    assert sorted(map(tuple, c.collect())) == expected

    c.clearStorageCache()
    assert _tables(extended) == []
    assert _sidecar_dirs() == []


def test_untagged_scan_of_direct_data_table_writes_nothing(extended):
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.core import cache_session_stats

    pdf = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    direct = extended.createCachedDataFrame(pdf)
    data_hash = direct._direct_data_cache_hash
    # a fresh scan of the table carries no direct-data tag
    scan = extended.table(f"{config.CACHE_DATABASE}.{data_hash}")
    assert not getattr(scan, "_is_direct_data_cache", False)

    out = scan.cacheToStorage(override_prefer_spark_cache=True)

    assert out is scan
    assert _tables(extended) == [data_hash]
    assert _sidecar_dirs() == [data_hash]
    assert cache_session_stats()["writes"] == 0


# --- the cost estimate runs only when a threshold asks ---------------------


@pytest.fixture()
def estimate_calls(monkeypatch):
    from dbfs_spark_cache_spark import complexity

    calls = []
    real = complexity.estimate_compute_complexity

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(complexity, "estimate_compute_complexity", counting)
    return calls


def test_ungated_miss_skips_estimate(extended, estimate_calls):
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.core import cache_session_stats

    cache_dataframe(_agg(extended), override_prefer_spark_cache=True)
    assert cache_session_stats()["misses"] == 1
    assert cache_session_stats()["writes"] == 1
    assert estimate_calls == []


def test_gated_miss_computes_estimate_once(extended, estimate_calls):
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.core import cache_session_stats

    cache_dataframe(
        _agg(extended), override_prefer_spark_cache=True,
        complexity_threshold=1e-12,
    )
    assert cache_session_stats()["writes"] == 1
    assert len(estimate_calls) == 1


def test_backup_estimates_once_per_eligible_frame(extended, estimate_calls):
    from dbfs_spark_cache_spark import backup_spark_cached_to_storage, write_cache
    from dbfs_spark_cache_spark.config import config

    first, second = _agg(extended, "first"), _agg(extended, "second")
    entry = write_cache(_agg(extended, "entry"))  # a pure scan: not eligible
    assert len(_tables(extended)) == 1
    frames = [first.cache(), second.cache(), entry]

    backed = backup_spark_cached_to_storage(frames, min_multiplier_threshold=0.5)

    assert len(backed) == 2 and not any(df is entry for df in backed)
    assert len(estimate_calls) == 2
    assert len(_tables(extended)) == 3
    assert len(os.listdir(config.SPARK_CACHE_DIR)) == 3
    for df in (first, second):
        df.unpersist()


# --- CI guard: the admission decision lives in core alone ------------------

_ADMISSION_NAMES = {
    "plan_is_uncacheable",
    "INPUT_LISTING_FAILED_KEY",
    "SCHEMA_CHANGED_KEY",
    "estimate_compute_complexity",
}
_DEFINING = {
    "plan_is_uncacheable": "plans/fingerprint.py",
    "INPUT_LISTING_FAILED_KEY": "plans/fingerprint.py",
    "SCHEMA_CHANGED_KEY": "plans/fingerprint.py",
    "estimate_compute_complexity": "complexity.py",
}


def _program_files():
    yield from sorted(PACKAGE.rglob("*.py"))
    yield from sorted((REPO / "scripts").glob("*.py"))
    yield from sorted(REPO.glob("*.py"))


def _references(tree):
    """(name, is_import) for every use of an admission name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id in _ADMISSION_NAMES:
            yield node.id, False
        elif isinstance(node, ast.Attribute) and node.attr in _ADMISSION_NAMES:
            yield node.attr, False
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if alias.name in _ADMISSION_NAMES:
                    yield alias.name, True


def test_admission_names_referenced_only_from_core():
    offenders = []
    for path in _program_files():
        rel = path.relative_to(PACKAGE).as_posix() if PACKAGE in path.parents else None
        if rel == "core.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, is_import in _references(tree):
            if rel == _DEFINING[name]:
                continue
            if is_import and path.name == "__init__.py" and rel is not None:
                continue  # package re-export
            offenders.append(f"{path.relative_to(REPO)}: {name}")
    assert not offenders, (
        "the admission decision (uncacheable plan, unmatchable fingerprint, "
        f"cost estimate) is forked outside core._admit: {offenders}"
    )
