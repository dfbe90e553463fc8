"""Warehouse writers: overwrite / append / idempotent range replacement
(reference parity: S4, S5, S6, R1, O7).

The reference implements idempotent incremental loads as two *non-atomic*
BigQuery jobs: ``DELETE FROM t WHERE DATE(LOWER(f)) BETWEEN a AND b`` then a
``WRITE_APPEND`` load of the re-extracted rows (reference utils.py:255-283,
utils.py:391-398; "Idempotência" README.md:10). A crash between the two loses
the range. Spark's dynamic partition overwrite replaces the touched
partitions atomically in one job — same intent, strictly safer, and it
scales: only the partitions intersecting the range are rewritten, never the
whole table.

Tables written by this module are date-partitioned parquet directories
(partition column ``p_date`` derived from the table's filter field). A range
replacement reads only what the range touches:

- one driver-side directory listing (``list_partitions``, no Spark job)
  names the partitions inside the range and tells a first load from a
  refresh;
- at month granularity, the touched partition directories alone are read
  back for the rows to retain — partitions outside the range are never
  opened;
- one ``collect`` of per-partition counts gives the emptiness guard, the
  partitions written and the log figures.

On a real cluster you'd put Delta/Iceberg underneath for snapshot isolation;
the operator surface here stays identical.
"""

from __future__ import annotations

import datetime as dt
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "p_date"

# Partition granularity is a per-table choice (registry.TableSpec): a 7-year
# daily fact means ~2500 directories — death by file listing on any
# filesystem; monthly keeps it at ~84 while date-filter partition pruning
# still works (p_date is the truncated date, pruning compares ranges).
GRANULARITIES = ("day", "month")


def _partition_expr(filter_field: str, granularity: str):
    if granularity == "day":
        return F.to_date(F.col(filter_field))
    if granularity == "month":
        return F.to_date(F.date_trunc("month", F.col(filter_field)))
    raise ValueError(f"granularity must be one of {GRANULARITIES}, got {granularity!r}")


def _with_partition(df: DataFrame, filter_field: str, granularity: str = "day") -> DataFrame:
    return df.withColumn(PARTITION_COL, _partition_expr(filter_field, granularity))


def _partition_of(day: str, granularity: str) -> dt.date:
    """The partition value a given ISO day falls into."""
    d = dt.date.fromisoformat(day)
    return d if granularity == "day" else d.replace(day=1)


def _filesystem(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — the same API on local FS,
    HDFS and S3A, so listing and deletes take a cluster's code path."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def table_exists(spark: SparkSession, path: str) -> bool:
    """Whether anything was ever written at ``path`` (the S6 empty-guard
    skips the write on empty input, leaving no directory at all)."""
    fs, p = _filesystem(spark, path)
    return fs.exists(p)


def list_partitions(spark: SparkSession, path: str, col: str) -> dict:
    """``{decoded partition value: FileStatus}`` for the ``col=<value>``
    directories directly under ``path``, from one Hadoop ``listStatus`` — no
    Spark job. Empty when the table does not exist.

    Values are decoded with Spark's own inverse of the escaping it applies to
    partition directory names (``1995-02-01 00%3A00%3A00`` is the TIMESTAMP
    ``1995-02-01 00:00:00``); ``java.net.URLDecoder`` would also turn a
    literal ``+`` into a space."""
    fs, root = _filesystem(spark, path)
    if not fs.exists(root):
        return {}
    catalog_utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    prefix = f"{col}="
    parts = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith(prefix) and status.isDirectory():
            parts[catalog_utils.unescapePathName(name[len(prefix):])] = status
    return parts


def partitions_between(parts: dict, start, end) -> dict:
    """The listed partitions whose value falls on a day in ``[start, end]``.
    DATE and TIMESTAMP partition values both begin with their ISO day, which
    orders as a string; the null partition (``__HIVE_DEFAULT_PARTITION__``)
    falls outside every range."""
    lo, hi = (dt.date.fromisoformat(str(d)).isoformat() for d in (start, end))
    return {v: s for v, s in parts.items() if lo <= v[:10] <= hi}


def delete_listed(spark: SparkSession, statuses) -> None:
    """Recursively delete listed partition directories by their own paths."""
    for status in statuses:
        path = status.getPath()
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)


def overwrite_table(
    df: DataFrame, path: str, filter_field: str | None = None, granularity: str = "day"
) -> None:
    """S4 — full-replace load (reference WRITE_TRUNCATE, utils.py:309,
    config.py:72-90). Partitioned by date when the table has a filter field
    so later incremental loads and date-pruned scans work."""
    if df.isEmpty():  # S6 guard (reference utils.py:287-292)
        return
    # force static overwrite: the session default is dynamic (for R1), which
    # would silently turn a full replace into a partial one
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if filter_field:
        w = (
            _with_partition(df, filter_field, granularity)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(PARTITION_COL)
        )
    w.parquet(path)


def append_table(
    df: DataFrame, path: str, filter_field: str | None = None, granularity: str = "day"
) -> None:
    """S5 — append load (reference WRITE_APPEND, utils.py:309-317)."""
    if df.isEmpty():
        return
    w = df.write.mode("append")
    if filter_field:
        w = (
            _with_partition(df, filter_field, granularity)
            .write.mode("append")
            .partitionBy(PARTITION_COL)
        )
    w.parquet(path)


class Replaced(NamedTuple):
    """What one ``replace_range`` wrote: rows (new plus retained) and the
    partitions they landed in. ``(0, 0)`` when nothing was written."""

    rows: int
    partitions: int


def replace_range(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    filter_field: str,
    start: str | dt.date,
    end: str | dt.date,
    granularity: str = "day",
) -> Replaced:
    """R1 — idempotent day-granular range replacement: after this call, the
    table's content for dates in ``[start, end]`` is exactly the in-range
    rows of ``new_rows`` (rows outside the range are ignored, mirroring the
    reference where extraction and delete share the same range).

    One atomic job: dynamic partition overwrite rewrites only the touched
    partitions. Re-running with the same inputs is a no-op change
    (reference's delete+insert idempotency, utils.py:391-398, without the
    crash window between the two jobs).

    With ``granularity="month"`` the day range need not align to partition
    boundaries: rows of the touched months *outside* the range are read
    back — from those months' directories only — and re-staged alongside
    the new rows (retain ∪ new), so the overwrite of those months is still
    exact. The retained rows are localCheckpoint'ed first — Spark refuses to
    overwrite a path it is concurrently reading from lineage."""
    start_d = F.lit(str(start)).cast("date")
    end_d = F.lit(str(end)).cast("date")
    day_in_range = F.to_date(F.col(filter_field)).between(start_d, end_d)
    staged = (
        _with_partition(new_rows, filter_field, granularity)
        .filter(day_in_range)
        .withColumn("_is_new", F.lit(True))
    )
    # partitions the range *touches* in the existing table (none on a first
    # load). Dynamic overwrite only rewrites partitions present in the staged
    # data — a touched partition with no new (or retained) rows would keep
    # stale in-range rows (caught by tests/test_property_range_replace.py),
    # so those are deleted explicitly afterwards, mirroring the reference's
    # DELETE of the full range (utils.py:266-269).
    touched = partitions_between(
        list_partitions(spark, path, PARTITION_COL),
        _partition_of(str(start), granularity),
        _partition_of(str(end), granularity),
    )
    if touched and granularity != "day":
        # sub-partition replacement: keep touched-partition rows that fall
        # outside the day range
        existing = (
            spark.read.option("basePath", path)
            .parquet(*[s.getPath().toString() for s in touched.values()])
            .drop(PARTITION_COL)
        )
        retained = (
            _with_partition(existing, filter_field, granularity)
            .filter(~day_in_range)
            .withColumn("_is_new", F.lit(False))
            .localCheckpoint()
        )
        staged = staged.unionByName(retained)
    written = (
        staged.groupBy(PARTITION_COL)
        .agg(F.max("_is_new").alias("has_new"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not any(r.has_new for r in written):
        # The reference skips the delete when extraction returns no rows
        # (extract-before-delete ordering, utils.py:379-398): absence of new
        # data must never destroy existing data.
        return Replaced(0, 0)
    (
        staged.drop("_is_new")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )
    desired = {str(r[PARTITION_COL]) for r in written}
    delete_listed(spark, [s for p, s in touched.items() if p not in desired])
    return Replaced(sum(r.n for r in written), len(written))


def refresh_recent(
    spark: SparkSession,
    path: str,
    source_df: DataFrame,
    filter_field: str,
    days: int = 7,
    today: dt.date | None = None,
    granularity: str = "day",
) -> tuple[dt.date, dt.date] | None:
    """O7 — recent-refresh window: re-replace the last ``days`` days from the
    source (reference utils.py:406-451, constant config.py:19). Skipped when
    days <= 0, like the reference (utils.py:410)."""
    if days <= 0:
        return None
    today = today or dt.date.today()
    start = today - dt.timedelta(days=days)
    fresh = source_df.filter(
        F.to_date(F.col(filter_field)).between(F.lit(str(start)), F.lit(str(today)))
    )
    replace_range(spark, path, fresh, filter_field, start, today, granularity)
    return (start, today)


def read_table(
    spark: SparkSession, path: str, like: DataFrame | None = None
) -> DataFrame:
    """Read a warehouse table written by this module or the streaming sink
    (drops the derived partition/epoch columns so round-trips are
    schema-stable). With ``like``, a missing/never-written table (the S6
    empty-guard skips the write entirely on empty input) reads back as an
    empty frame with ``like``'s schema instead of PATH_NOT_FOUND — so
    empty-source pipelines produce empty results, not crashes."""
    if like is not None and not table_exists(spark, path):
        return spark.createDataFrame([], like.schema)
    df = spark.read.parquet(path)
    for derived in (PARTITION_COL, "_epoch"):
        if derived in df.columns:
            df = df.drop(derived)
    return df


def delete_keys(spark: SparkSession, path: str, key: str, keys: DataFrame) -> None:
    """Keyed hard delete (the GDPR right-to-erasure path): drop every row
    whose ``key`` appears in ``keys`` from the table at ``path``.

    Anti-join rewrite on plain parquet: read, LEFT ANTI against the
    (deduplicated) key set, checkpoint, overwrite. Idempotent — re-running
    with the same key set is a no-op rewrite. Scale notes: the key set
    ships as a broadcast when small (the common case — an erasure batch);
    unlike the range delete, a keyed delete cannot prune by partition
    unless the table is partitioned by the key, so at 100 TB this is one
    full rewrite per erasure *batch* — which is why erasure requests are
    batched, exactly as the reference batches its range reloads."""
    if not table_exists(spark, path):
        return  # never-written table (S6 empty-guard): nothing to delete
    keyset = keys.select(key).distinct()
    existing = spark.read.parquet(path)
    retained = existing.join(F.broadcast(keyset), key, "left_anti").localCheckpoint()
    retained.write.mode("overwrite").option("partitionOverwriteMode", "static").parquet(path)
