"""End-to-end extraction pipeline — the Spark-first restatement of the
reference's daily sync (Parquet Export/db_extractor.py, SURVEY §3.1).

The reference hand-sequences: mode decision (backfill vs incremental,
db_extractor.py:262-264) → chunked day-by-day extraction → per-row
validation → string-datetime normalization → per-day file write →
row-count audit.  Here each stage is a declarative DataFrame
transform, so one ranged query replaces the reference's day-walking
loop (:302-317) — Spark's partition parallelism does what the loop
did, and per-day idempotence comes from dynamic partition overwrite
instead of per-file rewrites.

``source`` is any DataFrame with the canonical 4 columns (id,
date_time, value, ts) — in production
:func:`..sources.tables.read_source_jdbc` (one JDBC partition read at
``fetchsize`` rows per fetch, the analog of the reference's 1M-row
chunks, db_extractor.py:13; :func:`incremental_sync`'s
``date_time >= resume`` filter is pushed into its query, like the
reference's ranged query, :225-230); in this offline harness, a
parquet snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetime import (
    DT_PATTERN,
    SENTINEL_DT,
    day_key,
    normalize_datetime,
)
from .sources.writer import (
    list_days,
    read_day_partitioned,
    remove_empty_days,
    write_day_partitioned,
)

MIRROR_COLS = ("id", "date_time", "value", "ts")


def validate(source: DataFrame) -> DataFrame:
    """Row-constraint relation (db_extractor.py:78-149): adds boolean
    flags per rule + overall ``valid``.  The reference aborts on first
    violation; callers choose abort (count invalid) or quarantine
    (filter) — both stay distributed."""
    checks = {
        "chk_id": F.col("id").isNotNull() & (F.col("id") >= 0),
        "chk_dt": F.col("date_time").rlike(DT_PATTERN)
                  & (F.length("date_time") == 19),
        "chk_ts": F.col("ts").rlike(DT_PATTERN) & (F.length("ts") == 19),
    }
    out = source
    for name, expr in checks.items():
        out = out.withColumn(name, expr)
    return out.withColumn(
        "valid", F.lit(True) & checks["chk_id"] & checks["chk_dt"]
        & checks["chk_ts"])


def normalize(source: DataFrame) -> DataFrame:
    """Datetime canonicalization with sentinel fallback (O7,
    db_extractor.py:242-245) + derived day partition column (O8)."""
    return (source
            .withColumn("date_time", normalize_datetime(F.col("date_time")))
            .withColumn("ts", normalize_datetime(F.col("ts")))
            .withColumn("day", day_key(F.col("date_time"))))


def historical_backfill(source: DataFrame, mirror_path: str,
                        min_date: str) -> None:
    """One-time backfill of everything before ``min_date``
    (db_extractor.py:195-216).  One ranged scan, one partitioned
    write — the pre-1677 dates that forced the reference into custom
    string formatting are naturally representable because day keys
    stay string prefixes end-to-end."""
    hist = source.filter(F.col("date_time") < F.lit(min_date))
    write_day_partitioned(normalize(hist).select("day", *MIRROR_COLS),
                          mirror_path)


def find_resume_point(spark: SparkSession, mirror_path: str) -> str | None:
    """Day the sync resumes from (O5, db_extractor.py:51-76): the newest
    day partition that is not the sentinel day, or ``None``.  The
    reference opens the newest day file; here the partition listing
    alone answers, with no Spark job: every row of ``day=D`` has a
    ``date_time`` starting with ``D`` (``day_key``), and the writer
    leaves no empty day directory behind."""
    days = [d for d in list_days(spark, mirror_path) if d != SENTINEL_DT[:10]]
    return days[-1] if days else None


def incremental_sync(spark: SparkSession, source: DataFrame,
                     mirror_path: str) -> list[str]:
    """Daily sync (db_extractor.py:284-317): refetch the resume day
    wholesale (late-data tolerance by partition rewrite, :284-291) plus
    everything after it, in ONE ranged scan; dynamic partition
    overwrite keeps untouched days intact.  With no resume day (an
    empty or sentinel-only mirror) every source row is written.

    Every day written is whole.  The raw ``date_time >= resume`` filter
    is the one JDBC and parquet push down, but a row can pass it with an
    older day (``2010/01/01 …`` sorts after ``2010-01-06``; garbage goes
    to the sentinel day), and overwriting that day from such rows alone
    would wipe the rest of it.  So only rows whose normalized ``day`` is
    ``>= resume`` are written; for every ``LAX_DT_FORMATS`` shape their
    raw text passes the raw filter too.  Returns the refreshed days,
    sorted."""
    rows = normalize(source)
    resume = find_resume_point(spark, mirror_path)
    if resume is not None:
        rows = (normalize(source.filter(F.col("date_time") >= F.lit(resume)))
                .filter(F.col("day") >= F.lit(resume)))
    return write_day_partitioned(rows.select("day", *MIRROR_COLS), mirror_path)


def repair(spark: SparkSession, mirror_path: str) -> int:
    """Re-validate the whole mirror and rewrite only days containing
    invalid rows (db_extractor.py:151-193 revalidates every historical
    file; here clean days are never rewritten).  Returns #rows fixed."""
    mirror = read_day_partitioned(spark, mirror_path)
    bad = (validate(mirror).filter(~F.col("valid"))
           .groupBy("day")
           .agg(F.count("*").alias("n"),
                F.collect_set(day_key(normalize_datetime(F.col("date_time"))))
                 .alias("dest"))
           .collect())
    if not bad:
        return 0
    # a repaired row can MIGRATE days (garbage date_time → sentinel
    # day): its destination day is rewritten whole along with it, and a
    # bad day it emptied is removed (consolidate.cpp:226-238's cleanup)
    bad_days = [r["day"] for r in bad]
    days = set(bad_days).union(*(r["dest"] for r in bad))
    fixed = (normalize(mirror.filter(F.col("day").isin(sorted(days)))
                       .drop("day"))
             .select("day", *MIRROR_COLS))
    remove_empty_days(spark, mirror_path, bad_days,
                      write_day_partitioned(fixed, mirror_path))
    return sum(r["n"] for r in bad)


@dataclass
class IntegrityReport:
    source_rows: int
    mirror_rows: int
    matches: bool
    difference: int
    per_day_mismatches: list[tuple[str, int, int]]


def row_integrity(spark: SparkSession, source: DataFrame,
                  mirror_path: str) -> IntegrityReport:
    """Count reconciliation (row_integrity.py:48-82) generalized to
    per-day localization (SURVEY §3.3): the reference can only say THAT
    counts differ; per-day diffs say WHERE.  One aggregation over both
    sides, tagged, gives the per-day counts; totals are their sums.
    ``matches`` holds only when every day's counts match, so per-day
    differences that cancel out in the totals still fail the audit.
    The source is scanned in full.  The mirror is read with a declared
    schema of its partition column alone, ``day string``: no job infers
    the data schema, its day directories are listed on the driver
    however many there are, and parquet counts the rows from the file
    footers (as row_integrity.py:68 does).  So the audit's only jobs
    are its aggregation, and a mirror directory with no data files
    audits as zero rows."""
    mirror = spark.read.schema("day string").parquet(mirror_path)
    sides = (normalize(source).select("day", F.lit(True).alias("src"))
             .unionByName(mirror.select("day", F.lit(False).alias("src"))))
    per_day = (sides.groupBy("day")
               .agg(F.count_if("src").alias("n_src"),
                    F.count_if(~F.col("src")).alias("n_mir"))
               .collect())
    n_src = sum(r["n_src"] for r in per_day)
    n_mir = sum(r["n_mir"] for r in per_day)
    mism = sorted((r["day"], r["n_src"], r["n_mir"]) for r in per_day
                  if r["n_src"] != r["n_mir"])
    return IntegrityReport(n_src, n_mir, not mism, n_mir - n_src, mism)


def run_sync(spark: SparkSession, source: DataFrame,
             mirror_path: str) -> IntegrityReport:
    """The reference's main() (db_extractor.py:254-325): sync, then
    audit.  The reference backfills an empty mirror first; here the
    incremental sync of an empty mirror has no resume day and writes
    every row in its one write, so no separate backfill runs."""
    incremental_sync(spark, source, mirror_path)
    return row_integrity(spark, source, mirror_path)
