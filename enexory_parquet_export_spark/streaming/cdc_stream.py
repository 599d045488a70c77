"""Streaming CDC merge — the reference's cron'd binlog pipeline
(Parquet Export/parse_binlogs.sh → consolidate.cpp) restated as
Structured Streaming ``foreachBatch``.

The reference polls binlogs on a cron, consolidates the window's
events per (day, pk), and merges them into the per-day parquet files.
That is exactly the micro-batch model: ``readStream`` over an
append-only changelog directory, and each micro-batch runs the SAME
batch merge (operators.cdc.merge_changelog, the one-aggregation form
of consolidate + apply_changes) against the current mirror, writing
back with dynamic partition overwrite.

Late data: the reference tolerates late rows in the newest day by
refetching that whole day (db_extractor.py:284-291) — partition
rewrite, not row-level watermarking.  The merge path inherits that:
any late event simply lands in a later micro-batch and merges into its
(old) day partition, because the merge is keyed by (day, pk), not by
arrival time.

Scale posture: each micro-batch shuffles its changelog (small) and
the touched day-partitions of the base (read from their directories
only, so the mirror is never listed whole) once, by ``day``, into the
tasks that write those days; state never accumulates in the stream —
the mirror on disk IS the state, the same copy-on-write philosophy as
the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.cdc import merge_changelog
from ..sources.writer import (
    list_days,
    read_day_partitioned,
    remove_empty_days,
    write_day_partitioned,
)

#: changelog wire schema (consolidate.cpp:29-35's struct Change + op)
CHANGELOG_SCHEMA = StructType([
    StructField("seq", LongType(), False),
    StructField("pk", LongType(), False),
    StructField("op", StringType(), False),          # 'I' | 'U' | 'D'
    StructField("date_time", StringType(), False),   # 19-char string
    StructField("value", DoubleType(), True),
    StructField("ts_epoch", LongType(), False),
    StructField("day", StringType(), False),
])


def stream_changelog(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over an append-only parquet changelog directory —
    the streaming stand-in for the mysqlbinlog tail
    (parse_binlogs.sh:70-124)."""
    reader = (spark.readStream.schema(CHANGELOG_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def merge_batch(spark: SparkSession, batch: DataFrame, mirror_path: str) -> list[str]:
    """One micro-batch merge: read the base from the touched days'
    directories only, fold the batch into it
    (delete→update-if-exists→upsert, :func:`..operators.cdc.merge_changelog`),
    rewrite the days the merge produced, then drop the touched days it
    left empty.  Its Spark jobs: the touched-day collect, then the
    merge — one shuffle, by ``day``, which the write reuses — and its
    write.  The base read submits none: it lists its days and reads its
    schema from one file's footer on the driver.  Returns the touched
    days, sorted: every day the merge rewrote or removed.

    The base read declares the mirror files' own schema, so a mirror in
    another schema (``sync`` writes ``id``/``ts``) fails the ``select``
    below before anything is written.  When no touched day exists yet,
    one existing day is opened for that check alone: the ``day`` filter
    prunes all of its files."""
    touched = sorted(r["day"] for r in batch.select("day").distinct().collect())
    if not touched:
        return []
    existing = list_days(spark, mirror_path)
    if existing:
        present = sorted(set(touched) & set(existing))
        base = (read_day_partitioned(spark, mirror_path,
                                     days=present or existing[:1])
                .filter(F.col("day").isin(touched))
                .select("day", "pk", "date_time", "value", "ts_epoch"))
    else:
        base = spark.createDataFrame(
            [], "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    remove_empty_days(spark, mirror_path, touched,
                      write_day_partitioned(merge_changelog(base, batch), mirror_path))
    return touched


def start_cdc_merge_stream(changelog: DataFrame, mirror_path: str,
                           checkpoint: str, *,
                           available_now: bool = True) -> StreamingQuery:
    """``foreachBatch`` streaming merge into the day-partitioned mirror.

    ``available_now=True`` drains everything currently in the source and
    stops — the cron-batch replacement; ``False`` runs continuously.
    Exactly-once: checkpointed source offsets + idempotent per-day
    overwrite (re-merging a batch of already-applied upserts is a
    no-op; the reference relies on the same idempotence).
    """
    def _merge(batch: DataFrame, _batch_id: int) -> None:
        merge_batch(batch.sparkSession, batch, mirror_path)

    writer = (changelog.writeStream
              .foreachBatch(_merge)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_binlog_text(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over a directory of rotated binlog pseudo-SQL
    TEXT segments — the reference's literal input form (the
    ``parse_binlogs.sh`` tail), not a pre-typed changelog.

    ``wholetext`` makes each arriving segment ONE row, so per-file
    line numbers are exact regardless of partitioning
    (``operators.binlog.number_lines``); a segment must be complete
    when it lands, which rotation guarantees.
    """
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (reader.text(path, wholetext=True)
            .select(F.col("_metadata.file_path").alias("file"),
                    F.col("_metadata.file_modification_time")
                     .alias("file_mtime"),
                    "value"))


def start_binlog_text_stream(spark: SparkSession, binlog_dir: str,
                             mirror_path: str, checkpoint: str, *,
                             max_files_per_trigger: int | None = None,
                             available_now: bool = True) -> StreamingQuery:
    """End-to-end streaming CDC from RAW binlog text to the mirror:
    tail the segment directory → parse pseudo-SQL → fold into the
    touched days (delete→update-if-exists→upsert, :func:`merge_batch`),
    all inside ``foreachBatch``.

    The parse uses window functions (block assembly), which Structured
    Streaming forbids on the unbounded plan — but each micro-batch is
    a STATIC frame inside ``foreachBatch``, where the full batch
    relational plan (including windows) is legal.  This is the same
    layering the reference uses: mysqlbinlog writes a complete text
    segment; the consolidator processes whole segments.

    Exactly-once story: checkpointed file-source offsets (each segment
    is consumed once) + idempotent per-day overwrite in the merge.

    A micro-batch may contain MANY segments (availableNow drains a
    backlog into one batch); ``assign_global_seq`` rebases the per-file
    line-number seq onto the segment rotation order first, so the
    one-shot consolidation inside the batch is equivalent to the
    reference's sequential per-segment apply regardless of trigger
    batching.
    """
    from ..operators.binlog import assign_global_seq, number_lines, parse_binlog_text

    raw = stream_binlog_text(spark, binlog_dir,
                             max_files_per_trigger=max_files_per_trigger)

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        changelog = assign_global_seq(parse_binlog_text(number_lines(batch)))
        merge_batch(batch.sparkSession, changelog, mirror_path)

    writer = (raw.writeStream
              .foreachBatch(_apply)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
