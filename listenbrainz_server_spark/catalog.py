"""Dataset registry: named tables over a parquet directory.

The reference resolves datasets by HDFS path constants and registers
temp views per query (listenbrainz_spark/path.py, listens/data.py:38-55).
We keep a thin catalog: table name -> parquet path under a base dir,
lazily loaded, memoized, registered as temp views so both the
DataFrame API and spark.sql() see the same names.

Memoization + caching strategy (the "many queries, one session" path —
exactly what the reference's request_consumer does with one long-lived
session serving a request queue):

- The DataFrame handle for (session, path) is memoized, so repeated
  ``load_table`` calls across queries reuse one analyzed plan instead of
  re-listing files and re-reading parquet footers per query.
- When the table's on-disk size is below ``SPARK_GRAFT_CACHE_MAX_MB``
  (default 512 MB per table), the DataFrame is additionally ``.cache()``d:
  the first action materializes it into executor memory and every later
  query scans memory, not parquet.  At 100 TB the threshold disables
  this automatically — big tables keep streaming from disk with
  pushdown/pruning intact.
- The memo key includes the parquet directory's mtime, so a sink that
  overwrites a path invalidates the stale handle on the next load.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we convert to micros
# timestamps here — same truncation DuckDB applies reading TIMESTAMP_NS.
_NANO_TS_COLS = {"events": ("ts",)}

_CACHE_MAX_BYTES = int(os.environ.get("SPARK_GRAFT_CACHE_MAX_MB", "512")) * 1024 * 1024

# Cached-table partition sizing (r14 opt, guide §2.5/§2.7): a cached
# table inherits the SCAN's split count, and these single-file fixture
# tables scan as 1-3 row-group splits — so every consumer's first map
# stage (InMemoryTableScan → project/broadcast-join/partial-agg →
# exchange write) ran 3-wide on a 32-core box (h_fresh_releases: 2.56 s
# of its 4.0 s wall in one 3-task stage). Repartition BEFORE caching so
# the in-memory layout tracks the session's parallelism instead of the
# accident of source file count: partitions = clamp(ceil(on-disk bytes
# / quantum), 1, defaultParallelism). Size-derived AND core-capped, so
# a huge cluster doesn't shred a small dim table into thousands of
# empty cache blocks, and the driver's low-core bench legs shrink it
# automatically. The one-time round-robin shuffle happens at cache
# materialization (untimed warm-up in the bench); at 100 TB the size
# gate disables caching and scans keep their natural split parallelism.
#
# Quantum = 1 MiB, measured not guessed: the first cut used 256 KiB
# (lineitem → 32 cache blocks at sf0.1) and the endround A-B-A caught
# 4 sub-second cached-scan queries CONFIRMED slower under matched
# windows (p9_conditional_projection 0.23 → 0.67 s matched legs) —
# per-task overhead dominates a 0.2 s query read 32-wide. A mirrored
# in-process A/B over {256K, 1M, 4M, off} × 3 cycles × 2 reps
# (medians, sf0.1) showed 1 MiB strictly better for the tiny queries
# (p9 0.244→0.183, p6_having 0.256→0.166, h_yim_top_missed
# 0.652→0.480, a12_distinct 0.239→0.147) at a small cost on the
# widest heavy stage (h_fresh_releases 2.27→2.53; still 2.1x better
# than no-repartition's 5.36) while keeping a1_pricing_summary's win
# (0.374 vs 1.320 off); panel totals 5.35/5.12/6.38/9.61.
_CACHE_PARTITION_BYTES = 1024 * 1024

# (applicationId, abspath, mtime_ns) -> DataFrame
_TABLE_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def clear_table_cache() -> None:
    _TABLE_CACHE.clear()


_CACHE_ENABLED = True


class cache_disabled:
    """Context manager: force direct parquet scans (the shape every
    table takes at 100 TB, where the size gate disables caching).
    Plan-shape tests use this to assert pushdown/pruning on the real
    scan instead of an InMemoryTableScan."""

    def __enter__(self):
        global _CACHE_ENABLED
        self._prev = _CACHE_ENABLED
        _CACHE_ENABLED = False
        return self

    def __exit__(self, *exc):
        global _CACHE_ENABLED
        _CACHE_ENABLED = self._prev
        return False


def _path_stats(path: str) -> tuple[int, int]:
    """(total_bytes, newest_mtime_ns) over a parquet file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return st.st_size, st.st_mtime_ns
    total, mtime = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            total += st.st_size
            mtime = max(mtime, st.st_mtime_ns)
    return total, mtime


def load_table(
    spark: SparkSession, base_dir: str, name: str, *, use_cache: bool = True
) -> DataFrame:
    """Parquet scan with memoized handle + size-gated in-memory cache.

    Column pruning + predicate pushdown are left to Catalyst — callers
    filter/select on the returned DataFrame and the scan narrows
    automatically (verify with .explain: PushedFilters/ReadSchema).
    Pruning still applies through an InMemoryRelation (cached batches
    carry per-column stats and batch-level filtering).

    SIDE EFFECT (nano-timestamp tables only): loading a table listed in
    ``_NANO_TS_COLS`` sets ``spark.sql.legacy.parquet.nanosAsLong=true``
    and pins ``spark.sql.session.timeZone`` to UTC **for the whole
    session** — required so the long-nanos and native-timestamp data
    generations agree with each other and with the UTC DuckDB oracle.
    An embedding application that had set a non-UTC session timezone
    will see its unrelated timestamp rendering change; a RuntimeWarning
    is emitted when that override actually flips a non-UTC setting.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    path = table_path(base_dir, name)
    key = None
    if use_cache and _CACHE_ENABLED:
        size, mtime = _path_stats(path)
        key = (spark.sparkContext.applicationId, os.path.abspath(path), mtime)
        hit = _TABLE_CACHE.get(key)
        if hit is not None:
            return hit

    if name in _NANO_TS_COLS:
        # Runtime-settable; required even on externally-built sessions
        # (the driver harness constructs its own SparkSession).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→TIMESTAMP cast below interprets the wall clock in the
        # session timezone; the long-nanos path is epoch-based. On a
        # non-UTC external session the two generations would diverge
        # (and drift from the UTC DuckDB oracle), so pin UTC here too —
        # get_session already does, but load_table supports sessions it
        # didn't build. Warn when this actually changes a host
        # application's non-UTC setting (see docstring SIDE EFFECT).
        prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
        if prev_tz not in (None, "UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            import warnings

            warnings.warn(
                f"load_table({name!r}): overriding session timezone "
                f"{prev_tz!r} with UTC for nano-timestamp parity; this "
                "affects timestamp rendering session-wide.",
                RuntimeWarning,
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            # Integer `div` — float division loses precision at 1e18 ns.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dtype, TimestampNTZType):
            # Newer testdata stores native parquet timestamps with
            # isAdjustedToUTC=false; normalize to TimestampType so both
            # generations present one schema (wall clock preserved —
            # rendering happens in the same session timezone). Cast via
            # the explicit type object: the "timestamp" DDL keyword
            # resolves to TIMESTAMP_NTZ (a no-op cast) when a session
            # sets spark.sql.timestampType=TIMESTAMP_NTZ.
            df = df.withColumn(col, F.col(col).cast(TimestampType()))

    from listenbrainz_server_spark.schemas import validate

    df = validate(name, df)
    if key is not None:
        if size <= _CACHE_MAX_BYTES:
            nparts = max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    -(-size // _CACHE_PARTITION_BYTES),
                ),
            )
            if nparts > 1:
                df = df.repartition(nparts)
            df = df.cache()
        _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, base_dir: str, tables=TPCH_TABLES) -> dict[str, DataFrame]:
    """Register every table as a temp view; returns the DataFrames.

    Routed through load_table so SQL views and the DataFrame API share
    one conversion/validation path (events.ts is a timestamp in both).
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        if not os.path.exists(table_path(base_dir, name)):
            continue
        df = load_table(spark, base_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
