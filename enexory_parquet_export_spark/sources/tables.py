"""Parquet table loaders for the canonical fixture tables.

Replaces the reference's chunked JDBC scan (O1,
Parquet Export/db_extractor.py:13,198,230) for the offline harness:
the source snapshot is parquet, read with Spark's vectorized reader so
predicate pushdown and column pruning apply (SURVEY.md §4).

Fixture quirk: the driver-generated files store some timestamp columns
as parquet TIMESTAMP(NANOS), which Spark cannot map natively.  With
``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as long
nanoseconds; we sniff the parquet footer (metadata-only, via pyarrow)
and rescale to microsecond timestamps so downstream code sees a plain
``TimestampType``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import configure


@functools.lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as TIMESTAMP(NANOS) — footer-only sniff."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds
        schema = ds.dataset(path, format="parquet").schema
        return tuple(
            field.name for field in schema
            if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
        )
    except Exception:
        return ()


def table_path(sf_dir: str, name: str) -> str:
    flat = os.path.join(sf_dir, f"{name}.parquet")
    return flat if os.path.exists(flat) else os.path.join(sf_dir, name)


#: (applicationId, path) → DataFrame.  A DataFrame is an immutable plan
#: fragment, so reuse across queries is safe and skips re-listing the
#: files + footer sniff on every declared-query invocation.  Keyed by
#: the session's applicationId, not id(spark): CPython can reuse an id
#: after a stopped session is collected, which would hand back plans
#: bound to a dead session.  Entries for other applications are evicted
#: on sight, so the memo cannot grow across session restarts.
_TABLE_MEMO: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one canonical table with timestamps normalized to µs."""
    configure(spark)
    path = table_path(sf_dir, name)
    app_id = spark.sparkContext.applicationId
    key = (app_id, path)
    if key in _TABLE_MEMO:
        return _TABLE_MEMO[key]
    for stale in [k for k in _TABLE_MEMO if k[0] != app_id]:
        del _TABLE_MEMO[stale]
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_cols(path):
        # pyarrow reports INT96 (Spark-written) timestamps as ns too,
        # but Spark reads those as TIMESTAMP directly — only INT64
        # TIMESTAMP(NANOS) surfaces as long under nanosAsLong, so the
        # Spark dtype is the authoritative convert-or-not signal
        if not isinstance(df.schema[col].dataType, LongType):
            continue
        # integer div: ns → µs, exact, stays in whole-stage codegen
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    # µs-naive parquet timestamps (isAdjustedToUTC=false) surface as
    # TIMESTAMP_NTZ under Spark 4's NTZ inference; re-tag as session-tz
    # TIMESTAMP (UTC, session.py) so chronon functions (unix_micros,
    # withWatermark, …) apply.  Pure re-tag: wall clock is unchanged,
    # and the DuckDB oracle reads the same naive wall clock.
    from pyspark.sql.types import TimestampNTZType
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name,
                               F.col(field.name).cast("timestamp"))
    _TABLE_MEMO[key] = df
    return df


# --------------------------------------------------------------------------
# JDBC source — the reference's actual production entry point (O1).
# --------------------------------------------------------------------------

#: analog of the reference's 1M-row streaming chunks
#: (Parquet Export/db_extractor.py:13 CHUNK_SIZE = 1_000_000): the JDBC
#: cursor fetch size bounds per-round-trip memory the same way.
JDBC_FETCH_SIZE = 1_000_000

#: the reference's projected column list (db_extractor.py:225-226)
SOURCE_COLS = ("id", "date_time", "value", "ts")


def jdbc_scan_options(url: str, table: str, *,
                      fetchsize: int = JDBC_FETCH_SIZE,
                      driver: str | None = None,
                      extra: dict[str, str] | None = None) -> dict[str, str]:
    """The JDBC option contract, as a pure (testable) dict.

    ``fetchsize`` is the chunked-streaming analog (db_extractor.py:13);
    ``pushDownPredicate``/``pushDownAggregate`` stay on so the day
    filters and MAX(date_time) resume probes (db_extractor.py:29-49)
    execute server-side exactly as the reference's SQL does.
    """
    opts = {
        "url": url,
        "dbtable": table,
        "fetchsize": str(fetchsize),
        "pushDownPredicate": "true",
        "pushDownAggregate": "true",
    }
    if driver:
        opts["driver"] = driver
    if extra:
        opts.update(extra)
    return opts


def read_source_jdbc(spark: SparkSession, url: str, table: str, *,
                     fetchsize: int = JDBC_FETCH_SIZE,
                     driver: str | None = None) -> DataFrame:
    """Chunked JDBC scan of the source table (O1,
    db_extractor.py:13,198,230): the production entry point that the
    parquet fixture harness stands in for offline.

    One JDBC partition streams the table at ``fetchsize`` rows per
    fetch (the backfill shape, db_extractor.py:195-216); the day and
    resume filters applied downstream are pushed into its query
    server-side.  Only the canonical four columns are projected, so
    JDBC column pruning applies.
    """
    opts = jdbc_scan_options(url, table, fetchsize=fetchsize, driver=driver)
    return (spark.read.format("jdbc").options(**opts).load()
            .select(*SOURCE_COLS))
