"""Cache-tier policy and batch backup.

Two tiers (reference: caching.py:21-175, dataframe_extensions.py:23-25):

1. Spark's in-memory/disk cache (``df.cache()``) — fastest, cluster-lifetime;
2. the materialized content-addressed table — persistent across sessions.

``backup_spark_cached_to_storage`` drains tier 1 into tier 2 through the
same admission step as ``cacheToStorage``, with optional complexity
pre-filters so trivially-recomputable frames are skipped.
"""
from __future__ import annotations

import logging
import os
from typing import Iterable, List, Mapping, Optional, Tuple

from pyspark.sql import DataFrame

from .config import config

log = logging.getLogger(__name__)


def is_serverless_cluster() -> bool:
    """Serverless Databricks runtimes report ``client.*`` versions; there the
    in-memory tier is unavailable (reference: utils.py:13-19)."""
    return os.environ.get("DATABRICKS_RUNTIME_VERSION", "").startswith("client.")


def should_prefer_spark_cache() -> bool:
    return config.PREFER_SPARK_CACHE and not is_serverless_cluster()


def is_spark_cached(df: DataFrame) -> bool:
    try:
        level = df.storageLevel
        return bool(level.useMemory or level.useDisk)
    except Exception:
        return False


def backup_spark_cached_to_storage(
    specific_dfs: Iterable[DataFrame],
    unpersist_after_backup: bool = False,
    min_complexity_threshold: Optional[float] = None,
    min_multiplier_threshold: Optional[float] = None,
    process_in_reverse_order: bool = True,
) -> List[DataFrame]:
    """Persist Spark-cached DataFrames to the materialized tier.

    Every frame passes the admission step ``cacheToStorage`` uses
    (``core._admit``): uncacheable plans, frames that already are a cache
    entry (direct-data or a pure scan of a cache table), unmatchable
    fingerprints and, when thresholds are given, frames whose estimated
    complexity/multiplier fall below them are skipped. Returns the
    successfully backed-up frames.
    """
    from . import core

    candidates = list(specific_dfs)
    if process_in_reverse_order:
        candidates.reverse()

    eligible: List[Tuple[DataFrame, str, Mapping]] = []
    for df in candidates:
        if not isinstance(df, DataFrame):
            continue
        admitted = core._admit(
            df, min_complexity_threshold, min_multiplier_threshold
        )
        if not isinstance(admitted, DataFrame):
            eligible.append((df, *admitted))

    backed_up: List[DataFrame] = []
    for df, plan, info in eligible:
        try:
            # Reuse admission's plan + input listing: write_cache would
            # otherwise re-stringify the plan and re-LIST every input
            # directory — and a listing failure in that re-run would
            # reintroduce the orphan admission just screened out.
            core.write_cache(df, replace=False, query_plan=plan, input_info=info)
            backed_up.append(df)
            if unpersist_after_backup:
                df.unpersist()
        except Exception as exc:
            log.error("Backup failed: %s", exc)
    return backed_up
