"""Day-partitioned parquet writer — the reference's partition contract.

The reference writes one snappy parquet file per day named
``YYYY-MM-DD.parquet`` (Parquet Export/db_extractor.py:15,211,247;
consolidate.cpp:116,375) and uses whole-partition rewrite as its only
update primitive.  We adopt the idiomatic Hive layout
(``day=YYYY-MM-DD/part-*.parquet``) and preserve the *contract*, not
the file shape (SURVEY.md §7 risk register):

- per-day overwrite is idempotent → dynamic partition overwrite;
- a day whose merged result is empty disappears entirely
  (consolidate.cpp:226-238) → ``remove_empty_days`` deletes partitions
  that were touched by a merge but produced zero rows.

``write_day_partitioned`` returns the days it wrote (an observed
metric of the write itself), so callers never re-read to learn them;
``list_days`` answers "which days exist" from the directory names on
the driver; ``read_day_partitioned(…, days=…)`` opens only the day
directories a caller needs, so a read of a few days does not list the
whole mirror.  No read here runs a discovery job: directories are
listed on the driver, and ``footer_schema`` reads the schema from one
file's footer on the driver instead of Spark's inference job (the
reference, too, reads its day files by name with a fixed schema).

Scale posture: dynamic partition overwrite only rewrites touched
partitions, so a 100 TB mirror with a 3-day CDC window rewrites 3
partitions, never the table.  ``remove_empty_days`` is a driver-side
metadata operation on the partition *list*, never a data scan.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_day_partitioned(df: DataFrame, path: str) -> list[str]:
    """Write parquet (snappy by session conf) partitioned by ``day``
    with dynamic partition overwrite; returns the sorted days written
    (``[]`` for an empty ``df``).

    Overwrite + partitionOverwriteMode=dynamic rewrites only the
    day-partitions present in ``df`` — the Spark-native equivalent of
    the reference's per-day file overwrite
    (Parquet Export/db_extractor.py:247-248).  The days are observed
    above the exchange: below it, AQE drops an empty input's write
    stage and the metric never arrives.
    """
    written = Observation()
    (df.repartition("day")  # one shuffle → at most one writer task per day
       .observe(written, F.collect_set("day").alias("days"))
       .write.mode("overwrite")
       .partitionBy("day")
       .parquet(path))
    return sorted(written.get["days"])


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jvm, jpath


def list_days(spark: SparkSession, path: str) -> list[str]:
    """Partition values present under ``path`` (metadata only)."""
    fs, jvm, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    days = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("day="):
            days.append(name[len("day="):])
    return sorted(days)


def remove_empty_days(spark: SparkSession, path: str,
                      touched_days: list[str],
                      surviving_days: list[str]) -> list[str]:
    """Delete day-partitions a merge touched but left empty.

    Dynamic partition overwrite cannot delete a partition for which
    the merge produced zero rows (no rows → partition not in the write
    set), so the reference's delete-file-when-empty behavior
    (consolidate.cpp:226-238) needs this explicit cleanup.
    """
    doomed = sorted(set(touched_days) - set(surviving_days))
    fs, jvm, _ = _hadoop_fs(spark, path)
    removed = []
    for day in doomed:
        part = jvm.org.apache.hadoop.fs.Path(f"{path}/day={day}")
        if fs.exists(part):
            fs.delete(part, True)
            removed.append(day)
    return removed


def read_day_partitioned(spark: SparkSession, path: str, *,
                         days: list[str] | None = None) -> DataFrame:
    """Read the mirror back; ``day`` comes from the directory layout,
    so day-filters become partition pruning (no data scan).

    ``days=None`` reads the whole mirror; ``days`` reads only those
    ``day=D`` directories (one ``load`` of their paths, ``basePath``
    keeping ``day`` a column).  Either way the directories are listed
    on the driver (``session.RUNTIME_CONFS`` pins the parallel-listing
    threshold above any mirror's day count), and the schema is declared:
    one data file's footer, read on the driver by :func:`footer_schema`,
    plus ``day string``.  So the read submits no Spark job of its own;
    the declared schema is the files' own, so a ``select`` of a column
    the mirror lacks still fails analysis.
    """
    schema = footer_schema(spark, f"{path}/day={days[0]}" if days else path)
    reader = spark.read.format("parquet").schema(schema.add("day", "string"))
    if days is None:
        return reader.load(path)
    return (reader.option("basePath", path)
            .load([f"{path}/day={d}" for d in days]))


def _first_data_file(fs, status):
    """The first file under ``status`` in listing order, skipping the
    ``_``/``.`` names Spark skips (``_SUCCESS``, ``.crc`` files,
    temporary directories), or ``None``."""
    if status.isFile():
        return status.getPath()
    for child in fs.listStatus(status.getPath()):
        if not child.getPath().getName().startswith(("_", ".")):
            found = _first_data_file(fs, child)
            if found is not None:
                return found
    return None


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The data schema of the parquet files under ``path`` (a file, a
    directory or a glob), read on the driver from the footer of its
    first data file.

    This is what Spark's schema inference does without ``mergeSchema``
    (it, too, reads one file and assumes the rest agree), minus the
    Spark job it runs for that: the footer is read with parquet-mr and
    converted by Spark's own ``ParquetFileFormat.readSchemaFromFooter``
    under the session's SQL conf, so ``nanosAsLong`` and the other read
    settings apply.  Partition columns are not included.
    """
    fs, jvm, jpath = _hadoop_fs(spark, path)
    for root in fs.globStatus(jpath) or []:
        found = _first_data_file(fs, root)
        if found is not None:
            break
    else:
        raise FileNotFoundError(f"no parquet data file under {path}")
    parquet = jvm.org.apache.parquet
    footer = parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext._jsc.hadoopConfiguration(), found,
        parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    datasources = jvm.org.apache.spark.sql.execution.datasources
    schema = datasources.parquet.ParquetFileFormat.readSchemaFromFooter(
        parquet.hadoop.Footer(found, footer),
        datasources.parquet.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()))
    return StructType.fromJson(json.loads(schema.json()))


def day_files(spark: SparkSession, path: str) -> dict[str, dict[str, int]]:
    """``{day: {file_name: length}}`` of each day's data files — pure
    file-listing metadata, on the driver."""
    fs, jvm, jpath = _hadoop_fs(spark, path)
    out: dict[str, dict[str, int]] = {}
    if not fs.exists(jpath):
        return out
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("day=")):
            continue
        out[name[len("day="):]] = {
            f.getPath().getName(): f.getLen()
            for f in fs.listStatus(status.getPath())
            if f.isFile() and not f.getPath().getName().startswith(("_", "."))}
    return out


def write_reference_layout(df: DataFrame, path: str) -> list[str]:
    """Export in the REFERENCE'S file layout: one snappy parquet file
    per day named ``YYYY-MM-DD.parquet`` flat under ``path`` — exactly
    what ``db_extractor.py:15,211,247`` writes and what its repair pass
    parses back out of the filename (db_extractor.py:160-163).

    The engine's native mirror keeps the Hive ``day=`` layout; this
    compat mode lets reference tooling (row_integrity.py, the repair
    walk, downstream consumers globbing ``*.parquet``) consume the
    mirror unchanged during a migration.  The ``day`` column lives in
    the FILENAME only, matching the reference (its per-day files don't
    carry the day as a column).

    Mechanics: one :func:`write_day_partitioned` (one file per day),
    then a driver-side FS rename per day —
    bounded by day count, metadata-only, the same class of operation
    as :func:`list_days`.  Idempotent: an existing ``<day>.parquet``
    is replaced atomically-per-day (delete + rename).

    Returns the day keys written.
    """
    spark = df.sparkSession
    tmp = path.rstrip("/") + "/_ref_export_tmp"
    fs, jvm, _ = _hadoop_fs(spark, path)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path))
    try:
        days = write_day_partitioned(df, tmp)
        for day in days:
            part_dir = jvm.org.apache.hadoop.fs.Path(f"{tmp}/day={day}")
            parts = [s.getPath() for s in fs.listStatus(part_dir)
                     if s.getPath().getName().endswith(".parquet")]
            if len(parts) != 1:  # repartition(day) guarantees one file
                raise RuntimeError(
                    f"expected exactly one part file for day {day}, "
                    f"got {len(parts)}")
            dest = jvm.org.apache.hadoop.fs.Path(f"{path}/{day}.parquet")
            if fs.exists(dest):
                fs.delete(dest, False)
            fs.rename(parts[0], dest)
    finally:
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    return days


def read_reference_layout(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-layout export back, deriving ``day`` from the
    ``YYYY-MM-DD.parquet`` filename — the inverse of
    :func:`write_reference_layout` and the same filename-as-date parse
    the reference's repair pass performs (db_extractor.py:160-163)."""
    return (spark.read.parquet(path.rstrip("/") + "/*.parquet")
            .withColumn("day", F.regexp_extract(
                F.col("_metadata.file_path"),
                r"(\d{4}-\d{2}-\d{2})\.parquet$", 1)))


def mirror_to_replica(spark: SparkSession, primary: str,
                      replica: str) -> list[str]:
    """Second-target mirror sink (O27): copy day-partitions
    byte-for-byte from the primary mirror to a replica path.

    The reference rsyncs its freshly-written day files to a second
    mirror after every merge (parse_binlogs.sh:146-151); a byte copy of
    the already-written partitions preserves that exactly — the replica
    is a verbatim clone (hash-identical files), not a re-encode, and
    re-running the copy for a day is idempotent (delete + copy).

    Like rsync's quick check, a day is copied only when the replica
    lacks it or lists other files (names and lengths) than the primary;
    Spark names each written file after its write job, so a rewritten
    day never lists like its old copy.  The choice is made from the two
    listings alone, so whichever commands rewrote the primary since the
    last copy (``repair``, ``backfill``, a run without ``--replica``, a
    copy cut short), the replica ends equal to it.  Days the primary no
    longer has are deleted from the replica.  Driver-side FS operation
    bounded by day count — the data bytes move through the filesystem
    layer, never through Spark.  Returns the days copied, sorted.
    """
    fs, jvm, _ = _hadoop_fs(spark, primary)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    want, have = day_files(spark, primary), day_files(spark, replica)
    fs.mkdirs(Path(replica))
    copied = sorted(d for d, files in want.items() if have.get(d) != files)
    for day in copied:
        dst = Path(f"{replica}/day={day}")
        if fs.exists(dst):
            fs.delete(dst, True)
        jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, Path(f"{primary}/day={day}"), fs, dst, False, True, hconf)
    # a day deleted on the primary disappears from the replica too
    for day in sorted(set(have) - set(want)):
        fs.delete(Path(f"{replica}/day={day}"), True)
    return copied
