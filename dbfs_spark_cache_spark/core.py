"""Core cache engine: probe, materialize, and direct-data caching.

Re-implements the reference's caching subsystem (reference:
dbfs_spark_cache/core_caching.py) Spark-first:

* materialized caches are managed tables in ``config.CACHE_DATABASE``
  (Parquet locally; Delta transparently when its jars are present);
* metadata sidecars live under ``config.SPARK_CACHE_DIR/<hash>/`` via the
  engine's FS layer (local os / Hadoop FS) instead of ``dbutils``;
* a cache hit replaces the user's whole logical plan with a columnar table
  scan — Catalyst then gets predicate pushdown + column pruning on the
  materialized result for free.

The reference's double-write bug (saveAsTable called twice per miss,
core_caching.py:113-114) is intentionally NOT reproduced.
"""
from __future__ import annotations

import hashlib
import logging
from datetime import datetime
from typing import Any, Callable, List, Mapping, Optional, Tuple, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import fs
from .config import config
from .hashing import hash_input_data
from .plans.fingerprint import (
    INPUT_LISTING_FAILED_KEY,
    SCHEMA_CHANGED_KEY,
    canonical_plan,
    existing_entry_hash,
    find_plain_udfs,
    input_dir_mod_datetime,
    plan_is_uncacheable,
    resolve_table_hash,
    table_cache_info,
)

log = logging.getLogger(__name__)

# Per-cache-key write locks: Spark drivers legitimately run jobs from many
# threads (our own staged pipelines do), and two concurrent ``overwrite``
# writes to one table location can interleave their delete/commit phases
# into a mix of both jobs' part-files. Serializing per key turns the race
# into first-writer-writes / later-writers-hit-skip-if-identical (the
# metadata document is content-addressed, so all racers carry identical
# bytes). Cross-process writers on a shared filesystem still race exactly
# like the reference; a transactional CACHE_FORMAT (delta) closes that too.
import threading

_KEY_LOCKS: dict = {}
_KEY_LOCKS_GUARD = threading.Lock()


def _lock_for_key(key: str) -> threading.Lock:
    with _KEY_LOCKS_GUARD:
        return _KEY_LOCKS.setdefault(key, threading.Lock())


# Session-level cache effectiveness counters [NS]: at 100 TB a pipeline
# whose hit rate silently drops to zero pays full recompute on every run —
# these make that visible without log spelunking. Driver-side only, one
# dict bump per cache_dataframe/write_cache call; never on the data path.
_SESSION_STATS = {
    "hits": 0,          # probe found a live materialized cache
    "misses": 0,        # probe found nothing (a write MAY follow the gates)
    "writes": 0,        # distributed materializations actually performed
    "write_skips": 0,   # write short-circuited (metadata identical / racer)
    "spark_cache": 0,   # served from the in-memory tier instead
    "threshold_skips": 0,  # cost gate declined to cache
}
_STATS_LOCK = threading.Lock()


def _bump(counter: str) -> None:
    with _STATS_LOCK:
        _SESSION_STATS[counter] += 1


def cache_session_stats() -> dict:
    """Snapshot of this session's cache-effectiveness counters, plus the
    derived hit rate over completed probes (hits / (hits + misses);
    0.0 before any probe)."""
    with _STATS_LOCK:
        snap = dict(_SESSION_STATS)
    probes = snap["hits"] + snap["misses"]
    snap["hit_rate"] = (snap["hits"] / probes) if probes else 0.0
    return snap


def reset_cache_session_stats() -> None:
    with _STATS_LOCK:
        for k in _SESSION_STATS:
            _SESSION_STATS[k] = 0


def exc_summary(exc: BaseException, width: int = 120) -> str:
    """First line of an exception message, safe for exceptions whose
    message is empty (``str(exc).splitlines()`` is ``[]`` then — indexing
    it would make the degradation path itself throw)."""
    return (str(exc).splitlines() or [""])[0][:width]


def table_name_for_hash(hash_name: str) -> str:
    return f"{config.CACHE_DATABASE}.{hash_name}"


def ensure_cache_database(spark: SparkSession) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {config.CACHE_DATABASE}")


# Session-level memo: once the configured format proved unavailable, go
# straight to parquet for the rest of the session (writes AND path reads).
_FORMAT_FALLBACK: dict = {}


def _effective_cache_format() -> str:
    if _FORMAT_FALLBACK.get("parquet"):
        return "parquet"
    return config.CACHE_FORMAT


def _is_format_missing(exc: Exception) -> bool:
    """True only for driver-side data-source-resolution failures."""
    msg = str(exc)
    return "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg


def _table_location(spark: SparkSession, hash_name: str) -> str:
    """Managed-table location for a cache entry (warehouse/<db>.db/<hash>)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return f"{warehouse.rstrip('/')}/{config.CACHE_DATABASE}.db/{hash_name}"


def _save_as_cache_table(
    df: DataFrame,
    table: str,
    hash_name: str,
    partition_by: Optional[List[str]] = None,
    bucket_by: Optional[List[str]] = None,
    n_buckets: int = 16,
    bucket_sort_by: Optional[List[str]] = None,
) -> None:
    """Materialize a DataFrame as a managed columnar table.

    Unpartitioned overwrite, like the reference. At 100 TB callers should
    pre-``repartition`` on a natural key before caching; the write itself is
    a single distributed job either way.

    ``bucket_by`` buckets (and optionally sorts) the materialized table by
    its join key: downstream joins between same-bucketed cached tables run
    WITHOUT a shuffle on either side (see ``operators.scale.write_bucketed``
    — this is that pre-computation fused into the cache write). Bucketing
    metadata lives in the catalog; the path-read fallback still returns
    correct rows but loses the shuffle elimination.

    Durability note: with Spark's default in-memory catalog the table entry
    dies with the session while its files survive in the warehouse. A stale
    location from a previous session would block ``saveAsTable``, so it is
    cleared first; reads fall back to the path (see ``_read_cache_table``).
    """
    spark = df.sparkSession
    ensure_cache_database(spark)
    if not _table_exists(spark, table):
        fs.remove(_table_location(spark, hash_name))

    def build_writer(fmt: str):
        writer = df.write.mode("overwrite")
        if fmt:
            writer = writer.format(fmt)
        if partition_by:
            # At 100 TB an unpartitioned cache makes every downstream read a
            # full scan; partitioning on a natural key turns filtered
            # re-reads into partition-pruned scans.
            writer = writer.partitionBy(*partition_by)
        if bucket_by:
            writer = writer.bucketBy(n_buckets, *bucket_by)
            if bucket_sort_by:
                writer = writer.sortBy(*bucket_sort_by)
        return writer

    try:
        build_writer(_effective_cache_format()).saveAsTable(table)
    except Exception as exc:
        # Configured format's jars absent (e.g. CACHE_FORMAT=delta without
        # delta-spark on the classpath): degrade to parquet — still
        # columnar, still correct, minus the transactional extras. Only
        # driver-side format-resolution failures qualify; anything matching
        # mid-job (task failures also mention ClassNotFound) must re-raise
        # rather than silently re-run a huge write.
        if _effective_cache_format() not in ("", "parquet") and _is_format_missing(exc):
            log.warning(
                "Cache format %r unavailable (%s); falling back to parquet",
                config.CACHE_FORMAT, exc_summary(exc),
            )
            _FORMAT_FALLBACK["parquet"] = True
            build_writer("parquet").saveAsTable(table)
        else:
            raise


def _marks_success_jobs(spark: SparkSession) -> bool:
    """Whether this session's file-output committer writes _SUCCESS
    markers (mapreduce.fileoutputcommitter.marksuccessfuljobs, default
    true). Unreadable conf -> assume the default: the guard stays on."""
    try:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        val = hconf.get(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
        )
        return str(val).strip().lower() != "false"
    except Exception:
        return True


# The commit record: one file beside the metadata document, written after
# the table commits and before the metadata makes the entry visible. It
# holds the data-file inventory the writer listed (``files=``/``bytes=``)
# and whether that listing held Spark's ``_SUCCESS`` job-commit marker.
# Readers refuse an entry whose live listing contradicts either: a part
# file lost after commit scans cleanly with fewer rows, and a missing
# marker is what another process sees mid-rewrite (the overwrite is
# remove-then-rewrite and the key lock only serializes this driver). The
# marker is recorded rather than assumed because committers configured
# with marksuccessfuljobs=false (common on S3A) never write one.
_INVENTORY_SIDECAR = "data_inventory.txt"
_MARKER_KEY = "success_marker"

# Entry states decided by _probe_entry; only the last two are served.
GONE = "gone"                  # no table location
CORRUPT = "corrupt"            # data files differ from the commit record
UNCOMMITTED = "uncommitted"    # expected _SUCCESS marker absent
TRANSACTIONAL = "transactional"  # _delta_log: the format's log is the record
SERVABLE = "servable"


def _inventory_sidecar_path(
    hash_name: str, sidecar_dir: Optional[str] = None
) -> str:
    """The commit record's path, beside the entry's metadata document:
    ``sidecar_dir`` when the caller resolved a custom ``cache_path``,
    else the entry's directory under the default cache base."""
    base = sidecar_dir or f"{config.SPARK_CACHE_DIR.rstrip('/')}/{hash_name}"
    return f"{base.rstrip('/')}/{_INVENTORY_SIDECAR}"


def _recorded_marker(record: Optional[str]) -> Optional[bool]:
    """The record's ``success_marker`` line; None when it has none (records
    and entries written before the line existed)."""
    for line in (record or "").splitlines():
        key, _, val = line.strip().partition("=")
        if key == _MARKER_KEY:
            return val.strip().lower() == "true"
    return None


def _commit_entry(
    df: DataFrame,
    hash_name: str,
    metadata_path: str,
    metadata_txt: str,
    **layout: Any,
) -> None:
    """Write one cache entry: the table, then its commit record from one
    listing of the committed location, then the metadata document that
    makes the entry visible to probes."""
    spark = df.sparkSession
    _save_as_cache_table(df, table_name_for_hash(hash_name), hash_name, **layout)
    listing = fs.entry_listing(_table_location(spark, hash_name))
    marker = "true" if "_SUCCESS" in listing.root_names else "false"
    fs.write_text(
        _inventory_sidecar_path(hash_name, metadata_path.rsplit("/", 1)[0]),
        f"{fs.render_inventory(listing.files, listing.data_bytes)}\n"
        f"{_MARKER_KEY}={marker}",
    )
    fs.write_text(metadata_path, metadata_txt)


def _probe_entry(
    spark: SparkSession, hash_name: str, sidecar_dir: Optional[str] = None
) -> Tuple[str, fs.EntryListing]:
    """Classify a cache entry from its commit record and ONE recursive
    listing of its table location; returns (state, listing).

    An entry whose record has no marker line falls back to this reader's
    committer conf: such entries predate the line, and their writer's
    discipline is unknown."""
    location = _table_location(spark, hash_name)
    listing = fs.entry_listing(location)
    # Only an empty listing is ambiguous between "empty" and "missing".
    if not listing.root_names and not fs.exists(location):
        return GONE, listing
    if "_delta_log" in listing.root_names:
        return TRANSACTIONAL, listing
    record = fs.read_text(_inventory_sidecar_path(hash_name, sidecar_dir))
    recorded = fs.parse_inventory(record)
    if recorded is not None and recorded != (listing.files, listing.data_bytes):
        return CORRUPT, listing
    marker = _recorded_marker(record)
    if marker is None:
        marker = _marks_success_jobs(spark)
    if marker and "_SUCCESS" not in listing.root_names:
        return UNCOMMITTED, listing
    return SERVABLE, listing


def _read_cache_table(
    spark: SparkSession,
    hash_name: str,
    sidecar_dir: Optional[str] = None,
) -> Optional[DataFrame]:
    """Read a cache entry via the catalog, falling back to its files;
    None unless :func:`_probe_entry` finds it servable or transactional.

    The path fallback is what makes caches survive session restarts on
    catalogs without persistence (local in-memory catalog); on a shared
    metastore the catalog branch always wins. Both branches obey the same
    probe, so a scan is only ever built over a committed, complete
    directory. ``sidecar_dir``: the entry's sidecar directory when the
    caller resolved a custom ``cache_path``; None = the default layout.
    """
    try:
        state, _ = _probe_entry(spark, hash_name, sidecar_dir)
    except Exception as exc:
        log.warning("Probe of cache entry %s failed (%s); treating as a miss",
                    hash_name, exc_summary(exc))
        return None
    if state == CORRUPT:
        log.warning(
            "Cache entry %s fails its data-file inventory (part files lost "
            "or altered after commit); treating as a miss", hash_name,
        )
    elif state == UNCOMMITTED:
        log.warning(
            "Cache entry %s has no _SUCCESS job-commit marker (concurrent "
            "rewrite in another process, or an uncommitted directory); "
            "treating as a miss", hash_name,
        )
    if state not in (SERVABLE, TRANSACTIONAL):
        return None
    table = table_name_for_hash(hash_name)
    if _table_exists(spark, table):
        try:
            return spark.read.table(table)
        except Exception as exc:
            # e.g. a delta-written table read in a jar-less session: treat
            # as a miss / try the files rather than crash the safe wrapper.
            log.warning("Catalog read failed for %s (%s); trying files",
                        table, exc_summary(exc))
    # The files may have been written by the configured format OR by the
    # parquet degradation path of a previous session — try both. A
    # transactional directory is never read as raw parquet: superseded
    # file versions would surface as duplicated or stale rows.
    location = _table_location(spark, hash_name)
    formats = [_effective_cache_format() or "parquet", "parquet"]
    if state == TRANSACTIONAL:
        formats = [f for f in formats if f != "parquet"]
    for fmt in dict.fromkeys(formats):
        try:
            return spark.read.format(fmt).load(location)
        except Exception as exc:
            log.warning("Path read (%s) failed for %s: %s", fmt, location,
                        exc_summary(exc))
    return None


def read_cache_if_exist(
    df: DataFrame,
    query_plan: Optional[str] = None,
    input_info: Optional[Mapping[str, Union[datetime, bool]]] = None,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
) -> Optional[DataFrame]:
    """Return the materialized cache for ``df``'s fingerprint, or None.

    Hit requires BOTH the metadata sidecar and the catalog table to exist
    (reference: core_caching.py:409-471). ``hash_name``/``cache_path``
    must mirror whatever the write used — a custom-keyed cache
    (``cacheToStorage(hash_name=...)``) is invisible to a default-keyed
    probe.
    """
    spark = df.sparkSession
    plan = query_plan if query_plan is not None else canonical_plan(df)
    info = input_info if input_info is not None else input_dir_mod_datetime(df, plan)

    key, _, metadata_path, metadata_txt = table_cache_info(
        info, plan, hash_name=hash_name, cache_path_base=cache_path
    )
    # The probe runs under the key's write lock, which writers hold across
    # the whole commit and eviction (management.clear_cache_for_hash) takes
    # too: a probe sees each entry either fully live or fully gone, never
    # mid-overwrite or mid-drop. The lock covers only sidecar reads and
    # scan construction (driver metadata work, no Spark job); plan/mtime
    # fingerprinting stays outside it. Same Spark driver only — the
    # commit record and marker rule cover other processes.
    with _lock_for_key(key):
        # A CUSTOM hash_name pins the metadata path, so a hit must require
        # the stored document to EQUAL the current one — existence alone
        # would serve day-1 rows forever after the inputs change (the
        # equality miss sends the call to write_cache, whose in-lock
        # comparison rewrites the stale entry). The default content-addressed
        # key keeps the existence check: the key IS the document hash, so a
        # changed document lands on a different path anyway, and a corrupted
        # sidecar under the correct key still identifies a valid
        # materialization (pinned by the corrupt-sidecar healing test) —
        # equality there would force a spurious recompute.
        stored = fs.read_text(metadata_path)
        if stored is None or (hash_name is not None and stored != metadata_txt):
            return None
        cached = _read_cache_table(
            spark, key, sidecar_dir=metadata_path.rsplit("/", 1)[0]
        )
    if cached is None:
        log.warning("Cache metadata exists but table %s is not servable", key)
    return cached


def write_cache(
    df: DataFrame,
    replace: bool = True,
    query_plan: str = "",
    input_info: Optional[Mapping[str, Union[datetime, bool]]] = None,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
    partition_by: Optional[List[str]] = None,
    bucket_by: Optional[List[str]] = None,
    n_buckets: int = 16,
    bucket_sort_by: Optional[List[str]] = None,
    verbose: bool = False,
) -> DataFrame:
    """Materialize ``df`` under its content hash and return the cached scan.

    Skips the (expensive, distributed) write when the stored metadata is
    byte-identical — the cache is already current (reference:
    core_caching.py:100-102). ``partition_by`` partitions the materialized
    table (partition-pruned re-reads at scale) and ``bucket_by``/
    ``n_buckets``/``bucket_sort_by`` bucket it by a join key (shuffle-free
    joins between same-bucketed caches); layout options do not participate
    in the fingerprint — same result, same cache key, regardless of layout.
    """
    spark = df.sparkSession
    plan = query_plan or canonical_plan(df)
    info = input_info if input_info is not None else input_dir_mod_datetime(df, plan)

    key, _, metadata_path, metadata_txt = table_cache_info(
        info, plan, hash_name=hash_name, cache_path_base=cache_path
    )
    table = table_name_for_hash(key)
    if verbose:
        # the reference's verbose flag prints the resolved identity; here
        # it surfaces the key/table plus the metadata document driving it
        log.info(
            "write_cache: key=%s table=%s; metadata document:\n%s",
            key, table, metadata_txt,
        )

    with _lock_for_key(key):
        # Probe INSIDE the lock: a racer that lost the lock re-reads the
        # winner's (identical, content-addressed) metadata and skips the
        # duplicate distributed write entirely.
        existing = fs.read_text(metadata_path)
        cached = None
        if existing == metadata_txt:
            cached = _read_cache_table(
                spark, key, sidecar_dir=metadata_path.rsplit("/", 1)[0]
            )
        if cached is not None:
            log.info("Cache %s already current; skipping write", key)
            if partition_by or bucket_by:
                # Layout is not part of the identity: an existing entry is
                # served as-written. Re-layout by clearing the entry first.
                log.info(
                    "Cache %s served with its existing layout; "
                    "partition_by/bucket_by apply only when the entry is "
                    "(re)written",
                    key,
                )
            _bump("write_skips")
        else:
            if existing is not None and existing != metadata_txt:
                log.info("Cache %s metadata changed; rewriting", key)
            _commit_entry(
                df, key, metadata_path, metadata_txt,
                partition_by=partition_by, bucket_by=bucket_by,
                n_buckets=n_buckets, bucket_sort_by=bucket_sort_by,
            )
            _bump("writes")
            if replace:
                # Built under the lock: an eviction between the commit and
                # Spark's file listing would otherwise leave a scan of an
                # empty root — zero rows and no error.
                try:
                    cached = spark.read.table(table)
                except Exception as exc:
                    log.error("Could not read back cache table %s (%s)",
                              table, exc_summary(exc))
    return cached if replace and cached is not None else df


def _table_exists(spark: SparkSession, table: str) -> bool:
    try:
        return spark.catalog.tableExists(table)
    except Exception:
        return False


_InputInfo = Mapping[str, Union[datetime, bool]]


def _admit(
    df: DataFrame,
    complexity_threshold: Optional[float] = None,
    multiplier_threshold: Optional[float] = None,
    probe: Optional[Callable[[str, _InputInfo], Optional[DataFrame]]] = None,
) -> Union[DataFrame, Tuple[str, _InputInfo]]:
    """The admission step of every cache call (``cacheToStorage`` and
    backup): may ``df`` be written, and is it already a cache entry?

    Returns ``(plan, input_info)`` for an admitted write, else the frame
    the caller returns as is: ``df``, or ``probe``'s hit. ``probe``
    (cacheToStorage only) runs before the cost gate, so a hit is served
    whatever the thresholds say; only probing calls bump the counters.
    """
    plan = canonical_plan(df)
    if plan_is_uncacheable(plan):
        # No content identity (reference: dataframe_extensions.py:47-49):
        # two RDD-backed frames with one schema would share a key.
        log.info("RDD-backed plan; skipping cache")
        return df
    # A direct-data frame or a pure scan of a cache table already IS its
    # entry: writing it again would store a twin of that table under the
    # metadata-document key (reference: dataframe_extensions.py:54-56).
    existing = existing_entry_hash(df, plan)
    if existing is not None:
        log.info("Frame already is cache entry %s; nothing to cache", existing)
        return df
    info = input_dir_mod_datetime(df, plan)
    if INPUT_LISTING_FAILED_KEY in info or SCHEMA_CHANGED_KEY in info:
        # Both sentinels carry datetime.now(): the fingerprint is
        # unmatchable, so writing would create an entry no later
        # (correct) key ever finds — a full distributed write leaked as
        # an orphan on EVERY call. Skip caching this run instead.
        log.warning(
            "Unmatchable fingerprint (input listing failed or schema "
            "changed); skipping cache for this run"
        )
        return df
    if probe is not None:
        hit = probe(plan, info)
        if hit is not None:
            log.info("Cache hit; replacing plan with table scan")
            _bump("hits")
            return hit
        _bump("misses")
    # The cost gate: strict <, and the estimate is computed only when a
    # threshold above 0 asks for it — nothing else reads it.
    thresholds = (complexity_threshold or 0, multiplier_threshold or 0)
    if max(thresholds) > 0:
        from .complexity import estimate_compute_complexity

        try:
            estimate = estimate_compute_complexity(df)
        except Exception as exc:
            log.warning("Complexity estimation failed: %s", exc_summary(exc))
            return plan, info
        for name, value, threshold in zip(
            ("Complexity", "Multiplier"), estimate, thresholds
        ):
            if threshold > 0 and value < threshold:
                log.info("%s %.2f below threshold %s; not caching",
                         name, value, threshold)
                if probe is not None:
                    _bump("threshold_skips")
                return df
    return plan, info


def cache_dataframe(
    df: DataFrame,
    override_prefer_spark_cache: bool = False,
    complexity_threshold: Optional[float] = None,
    multiplier_threshold: Optional[float] = None,
    verbose: bool = False,
    **kwargs: Any,
) -> DataFrame:
    """The flagship entry point (``df.cacheToStorage()``).

    Pipeline (reference: dataframe_extensions.py:29-133): admission (plan
    check, entry identity, input listing) -> cache probe -> cost gate ->
    Spark-cache tier or materialized write; see :func:`_admit`. Returns
    the original df (skip, or df already is an entry), the in-memory
    cached df, or a scan of the materialized table (hit/new write).
    """
    hash_name = kwargs.get("hash_name")
    cache_path = kwargs.get("cache_path")
    admitted = _admit(
        df, complexity_threshold, multiplier_threshold,
        probe=lambda plan, info: read_cache_if_exist(
            df, query_plan=plan, input_info=info,
            hash_name=hash_name, cache_path=cache_path,
        ),
    )
    if isinstance(admitted, DataFrame):
        return admitted
    plan, info = admitted

    plain_udfs = find_plain_udfs(df)
    if plain_udfs:
        # Reference parity (core_caching.py:318-319, README.md:196): the
        # fingerprint sees only the UDF's name, so editing its body will NOT
        # invalidate the entry about to be written. Checked only when a
        # write/Spark-cache is actually imminent: find_plain_udfs runs full
        # physical planning, which would be pure overhead (and a repeated
        # warning) on cache hits and early returns.
        log.warning(
            "Cached plan contains Python functions whose code is invisible "
            "to the cache fingerprint: %s. Editing them will NOT invalidate "
            "this cache — wrap scalar UDFs with "
            "functions.content_addressed_udf (embeds a body hash in the "
            "plan-visible name), or clear the cache manually after changes.",
            plain_udfs,
        )

    from .tiering import should_prefer_spark_cache

    if not override_prefer_spark_cache and should_prefer_spark_cache():
        log.info("Using Spark in-memory cache tier")
        _bump("spark_cache")
        return df.cache()

    return write_cache(
        df,
        query_plan=plan,
        input_info=info,
        hash_name=hash_name,
        cache_path=cache_path,
        partition_by=kwargs.get("partition_by"),
        bucket_by=kwargs.get("bucket_by"),
        n_buckets=kwargs.get("n_buckets", 16),
        bucket_sort_by=kwargs.get("bucket_sort_by"),
        verbose=verbose,
    )


def clear_cache_for_df(df: DataFrame) -> None:
    from .management import clear_cache_for_hash

    clear_cache_for_hash(df.sparkSession, resolve_table_hash(df))


# ---------------------------------------------------------------------------
# Direct-data caching (createCachedDataFrame)
# ---------------------------------------------------------------------------

def create_cached_dataframe(
    spark: SparkSession,
    data: Union[pd.DataFrame, List[Any], Tuple[Any, ...]],
    schema: Optional[Any] = None,
    **kwargs: Any,
) -> DataFrame:
    """Content-addressed ``createDataFrame`` (reference:
    core_caching.py:119-206).

    Hashes the driver-local input; on a hit reads the existing ``data_*``
    table, on a miss creates + materializes it. The returned DataFrame is
    tagged so later fingerprinting short-circuits to the data hash.

    An explicit ``schema`` participates in the key (a deviation from the
    reference, which hashes only the data — core_caching.py:140): for
    list/tuple input the pandas conversion infers one dtype regardless of
    the declared schema, so ``schema='a INT'`` and ``schema='b BIGINT'``
    over the same rows would otherwise collide on one table and the
    second call would return the first call's column names and types.
    """
    data_hash = hash_input_data(data)
    if schema is not None:
        schema_repr = (
            schema.simpleString() if hasattr(schema, "simpleString") else str(schema)
        )
        data_hash = hashlib.md5(
            f"{data_hash};schema={schema_repr}".encode("utf-8")
        ).hexdigest()
    cache_hash_name = f"data_{data_hash}"
    table = table_name_for_hash(cache_hash_name)
    cache_dir = f"{config.SPARK_CACHE_DIR}{cache_hash_name}/"
    metadata_path = f"{cache_dir}cache_metadata.txt"

    with _lock_for_key(cache_hash_name):
        cached = None
        if fs.read_text(metadata_path) is not None:
            cached = _read_cache_table(spark, cache_hash_name)
        if cached is not None:
            log.info("Direct-data cache hit: %s", table)
        else:
            log.info("Direct-data cache miss; creating %s", table)
            source = spark.createDataFrame(data, schema=schema, **kwargs)
            # Deterministic document — NO wall-clock line: every racer on
            # this key must produce byte-identical content, because both
            # the per-key lock's re-probe and fs.write_text's lost-rename
            # recovery treat "target holds my exact bytes" as success
            # (creation time lives in the sidecar file's own mtime, which
            # is where the registry reads it from anyway).
            metadata_txt = (
                "CACHE TYPE: Direct Data Input\n"
                f"DATA HASH: {data_hash}\n"
                f"SCHEMA: {source.schema.simpleString()}"
            )
            _commit_entry(source, cache_hash_name, metadata_path, metadata_txt)
            cached = spark.read.table(table)

    assert cached is not None
    setattr(cached, "_is_direct_data_cache", True)
    setattr(cached, "_direct_data_cache_hash", cache_hash_name)
    return cached
