"""Streaming surface: CDC merge replay-equivalence (SURVEY §2.2 —
streaming is verified against the batch path, not DuckDB) and the
stateful change detector vs its lag()-window batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enexory_parquet_export_spark.operators.cdc import (
    apply_changes,
    consolidate,
    derive_changelog,
)
from enexory_parquet_export_spark.sources.tables import load_table
from enexory_parquet_export_spark.sources.writer import read_day_partitioned
from enexory_parquet_export_spark.streaming.cdc_stream import (
    CHANGELOG_SCHEMA,
    start_cdc_merge_stream,
    stream_changelog,
)


def _final_state(df):
    return {(r["day"], r["pk"]): (r["date_time"], r["value"], r["ts_epoch"])
            for r in df.collect()}


@pytest.mark.slow
def test_streaming_merge_equals_batch_replay(spark, sf_dir, tmp_path):
    """Drain the full changelog through foreachBatch micro-batches
    (several files per trigger) and compare the resulting mirror with a
    single batch consolidate+merge of the same events."""
    events = load_table(spark, sf_dir, "events").limit(4000)
    log = derive_changelog(events).persist()

    # batch oracle: empty base + one consolidated merge
    empty = spark.createDataFrame(
        [], "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    expected = _final_state(apply_changes(empty, consolidate(log)))
    # D-only keys produce no row; drop them from comparison noise
    src = str(tmp_path / "changelog")
    mirror = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")

    # 4 changelog files == at least 2 micro-batches at 2 files/trigger.
    # NB: split by pk hash, NOT by seq range — per-key event order must
    # be preserved across micro-batches (binlog order per key), and
    # consolidate() is order-correct within whatever batch sees the key.
    (log.repartition(4, "pk").write.mode("overwrite").parquet(src))

    stream = stream_changelog(spark, src, max_files_per_trigger=2)
    q = start_cdc_merge_stream(stream, mirror, ckpt, available_now=True)
    q.awaitTermination(300)

    got = _final_state(
        read_day_partitioned(spark, mirror)
        .select("day", "pk", "date_time", "value", "ts_epoch"))
    log.unpersist()
    assert got == expected


def test_streaming_merge_idempotent_restart(spark, tmp_path):
    """Re-running the drained stream with the same checkpoint applies
    nothing new (exactly-once via offsets + idempotent overwrite)."""
    rows = [(1, 10, "I", "2024-01-01 00:00:01", 1.0, 100, "2024-01-01"),
            (2, 10, "U", "2024-01-01 00:00:02", 2.0, 101, "2024-01-01"),
            (3, 11, "I", "2024-01-02 00:00:03", 3.0, 102, "2024-01-02")]
    log = spark.createDataFrame(rows, CHANGELOG_SCHEMA)
    src, mirror, ckpt = (str(tmp_path / d) for d in ("src", "mirror", "ckpt"))
    log.write.mode("overwrite").parquet(src)

    for _ in range(2):  # second run must be a no-op
        q = start_cdc_merge_stream(stream_changelog(spark, src), mirror, ckpt)
        q.awaitTermination(120)
    out = _final_state(read_day_partitioned(spark, mirror)
                       .select("day", "pk", "date_time", "value", "ts_epoch"))
    assert out == {("2024-01-01", 10): ("2024-01-01 00:00:02", 2.0, 101),
                   ("2024-01-02", 11): ("2024-01-02 00:00:03", 3.0, 102)}


def test_sequential_micro_batches_equal_full_replay(spark, sf_dir, tmp_path):
    """Cross-batch semantics: splitting the changelog into three
    seq-ordered micro-batches and merging them one after another must
    land on the same mirror as one full-replay merge — I-then-U,
    I-then-D, D-then-I and U-to-missing interleavings all cross batch
    boundaries here (unlike the per-key-partitioned stream test)."""
    from enexory_parquet_export_spark.streaming.cdc_stream import merge_batch

    events = load_table(spark, sf_dir, "events").limit(3000)
    log = derive_changelog(events).persist()
    empty = spark.createDataFrame(
        [], "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    expected = _final_state(apply_changes(empty, consolidate(log)))

    lo, hi = log.agg(
        F.expr("percentile(seq, array(0.33, 0.66))")).collect()[0][0]
    mirror = str(tmp_path / "mirror_seq")
    for cond in [F.col("seq") <= lo,
                 (F.col("seq") > lo) & (F.col("seq") <= hi),
                 F.col("seq") > hi]:
        merge_batch(spark, log.filter(cond), mirror)

    got = _final_state(read_day_partitioned(spark, mirror)
                       .select("day", "pk", "date_time", "value", "ts_epoch"))
    log.unpersist()
    assert got == expected


def test_stream_merge_deletes_emptied_day(spark, tmp_path):
    from enexory_parquet_export_spark.sources.writer import (
        list_days,
        write_day_partitioned,
    )
    from enexory_parquet_export_spark.streaming.cdc_stream import merge_batch

    base = spark.createDataFrame(
        [("2024-01-01", 10, "2024-01-01 00:00:00", 1.0, 99)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    mirror = str(tmp_path / "mirror")
    write_day_partitioned(base, mirror)
    batch = spark.createDataFrame(
        [(5, 10, "D", "2024-01-01 00:00:05", None, 105, "2024-01-01")],
        CHANGELOG_SCHEMA)
    merge_batch(spark, batch, mirror)
    assert list_days(spark, mirror) == []


def _merge_jobs(spark, tmp_path, count_jobs, n_days):
    """Jobs and result of one merge into a mirror of ``n_days`` days
    (three keys each): a delete, an update, an insert into a new day,
    and the deletes that empty one day."""
    from enexory_parquet_export_spark.sources.writer import (
        list_days,
        write_day_partitioned,
    )
    from enexory_parquet_export_spark.streaming.cdc_stream import merge_batch

    days = [f"2024-{1 + d // 28:02d}-{1 + d % 28:02d}" for d in range(n_days)]
    mirror = str(tmp_path / "mirror")
    write_day_partitioned(spark.createDataFrame(
        [(day, pk, f"{day} 00:00:00", 1.0, 99) for day in days for pk in range(3)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint"),
        mirror)
    batch = spark.createDataFrame(
        [(1, 0, "D", "2024-01-02 00:00:05", None, 105, "2024-01-02"),
         (2, 1, "U", "2024-01-04 00:00:05", 7.0, 106, "2024-01-04"),
         (3, 9, "I", "2024-03-25 00:00:05", 8.0, 107, "2024-03-25")]
        + [(4 + pk, pk, "D", "2024-01-06 00:00:05", None, 108, "2024-01-06")
           for pk in range(3)],
        CHANGELOG_SCHEMA)
    jobs, touched = count_jobs(merge_batch, spark, batch, mirror)
    after = list_days(spark, mirror)
    assert "2024-01-06" not in after and "2024-03-25" in after
    assert len(after) == n_days
    return jobs, touched


def test_merge_batch_job_ceiling(spark, tmp_path, count_jobs):
    """One merge into a small mirror stays within its job budget of 4:
    the touched-day collect (2), then the merge's one shuffle map stage
    (1) and its write (1).  The base read lists its days and reads its
    schema from one file's footer on the driver, so it submits no job.
    A schema-inference job, a second shuffle (consolidating before a
    join, or the writer's own ``repartition("day")``) or reading the
    merge back to learn its days adds jobs."""
    jobs, touched = _merge_jobs(spark, tmp_path, count_jobs, 10)
    assert len(jobs) <= 4, jobs
    assert touched == ["2024-01-02", "2024-01-04", "2024-01-06", "2024-03-25"]


def test_merge_batch_job_ceiling_above_listing_threshold(spark, tmp_path,
                                                          count_jobs):
    """The same budget on a 40-day mirror, past Spark's default
    threshold of 32 paths for listing in a job of its own: the base is
    read from the touched days' directories only, listed on the
    driver."""
    jobs, _ = _merge_jobs(spark, tmp_path, count_jobs, 40)
    assert len(jobs) <= 4, jobs


@pytest.mark.parametrize("day", ["2010-01-05", "2010-01-09"],
                         ids=["touches-existing-day", "touches-new-day-only"])
def test_merge_batch_fails_on_sync_written_mirror(spark, tmp_path, day):
    """A mirror ``sync`` wrote has ``id``/``ts``, not ``pk``/``ts_epoch``.
    The merge fails analysis before it writes anything, whether or not
    the batch touches a day the mirror has: no NULL ``pk`` rows, no
    day of another schema next to the mirror's own."""
    from pyspark.errors import AnalysisException

    from enexory_parquet_export_spark.pipeline import run_sync
    from enexory_parquet_export_spark.streaming.cdc_stream import merge_batch

    mirror = tmp_path / "mirror"
    run_sync(spark, spark.createDataFrame(
        [(1, "2010-01-05 01:00:00", 1.0, "2010-01-05 02:00:00"),
         (2, "2010-01-06 01:00:00", 2.0, "2010-01-06 02:00:00")],
        "id bigint, date_time string, value double, ts string"), str(mirror))

    def files():
        return {str(f.relative_to(mirror)): f.read_bytes()
                for f in mirror.rglob("*") if f.is_file()}

    before = files()
    batch = spark.createDataFrame(
        [(1, 1, "U", f"{day} 01:00:00", 7.0, 106, day)],
        CHANGELOG_SCHEMA)
    with pytest.raises(AnalysisException):
        merge_batch(spark, batch, str(mirror))
    assert files() == before


POLLS = [
    # node, seq, online, lag, err
    ("a", 1, True, 0.0, None),
    ("a", 2, True, 700.0, None),        # lag crosses 600 → alert on
    ("a", 3, True, 10.0, None),         # alert off
    ("a", 4, False, None, "io dead"),   # flip + new error
    ("a", 5, False, None, "io dead"),   # same error → silent
    ("b", 1, True, 5.0, None),
    ("b", 2, True, 6.0, None),          # nothing
    ("b", 3, True, 6.0, "sql stopped"),
    # edge battery (ADVICE r1): '' is "no error", NaN lag is no alert
    ("c", 1, True, 5.0, "disk full"),   # new error
    ("c", 2, True, 5.0, ""),            # '' poll → NOT a new error
    ("c", 3, True, 5.0, "disk full"),   # same error as before '' → silent
    ("c", 4, True, float("nan"), None), # NaN lag → no alert flip
    ("c", 5, True, 700.0, ""),          # alert on; '' stays silent
    # detail-render battery (ADVICE r2): an alert flip OFF via NULL lag
    # and via NaN lag must render identically on both paths — Arrow
    # erases the null/NaN distinction in the stream's float64 frame
    ("d", 1, True, 700.0, None),        # alert on
    ("d", 2, True, None, None),         # off via NULL → detail lag=null
    ("d", 3, True, 650.0, None),        # alert on again
    ("d", 4, True, float("nan"), None), # off via NaN → detail lag=null
]


def test_change_detect_batch_rules(spark):
    from enexory_parquet_export_spark.streaming.change_detect import (
        POLL_SCHEMA,
        detect_changes_batch,
    )
    polls = spark.createDataFrame(POLLS, POLL_SCHEMA)
    got = {(r["node"], r["poll_seq"], r["change_kind"])
           for r in detect_changes_batch(polls).collect()}
    # a-4: alert already off since a-3, so no lag_threshold transition;
    # c: '' never emits, repeated error after '' stays silent, NaN lag
    # never alerts, c-5 crosses the threshold for real
    assert got == {("a", 2, "lag_threshold"), ("a", 3, "lag_threshold"),
                   ("a", 4, "online_flip"),
                   ("a", 4, "new_error"), ("b", 3, "new_error"),
                   ("c", 1, "new_error"), ("c", 5, "lag_threshold"),
                   ("d", 1, "lag_threshold"), ("d", 2, "lag_threshold"),
                   ("d", 3, "lag_threshold"), ("d", 4, "lag_threshold")}
    details = {(r["node"], r["poll_seq"]): r["detail"]
               for r in detect_changes_batch(polls).collect()
               if r["change_kind"] == "lag_threshold"}
    # NULL and NaN both render 'null' — matches the stream, where Arrow
    # hands the state handler a float64 frame that cannot tell them apart
    assert details[("d", 2)] == "lag=null"
    assert details[("d", 4)] == "lag=null"
    assert details[("d", 3)] == "lag=650.0"


@pytest.mark.slow
def test_change_detect_stream_equals_batch(spark, tmp_path):
    from enexory_parquet_export_spark.streaming.change_detect import (
        POLL_SCHEMA,
        detect_changes_batch,
        detect_changes_stream,
    )
    polls = spark.createDataFrame(POLLS, POLL_SCHEMA)
    src = str(tmp_path / "polls")
    # one file per poll_seq so micro-batches respect poll order per key
    for seq in sorted({p[1] for p in POLLS}):
        (spark.createDataFrame([p for p in POLLS if p[1] == seq], POLL_SCHEMA)
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(POLL_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (detect_changes_stream(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in detect_changes_batch(polls).collect()}
    assert got == want


@pytest.mark.slow
def test_binlog_text_stream_end_to_end(spark, sf_dir, tmp_path):
    """Raw pseudo-SQL segments streamed into the mirror must produce
    the same final table as the batch path (parse → consolidate →
    merge) applied to all segments at once."""
    from enexory_parquet_export_spark.operators.binlog import (
        parse_binlog_text,
        read_binlog_dir,
        render_binlog_text,
    )
    from enexory_parquet_export_spark.operators.cdc import (
        consolidate,
        apply_changes,
        derive_changelog,
    )
    from enexory_parquet_export_spark.streaming.cdc_stream import (
        start_binlog_text_stream,
    )
    from enexory_parquet_export_spark.sources.tables import load_table
    from enexory_parquet_export_spark.sources.writer import (
        read_day_partitioned,
    )

    log = derive_changelog(load_table(spark, sf_dir, "events").limit(1500))
    split = log.agg(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY seq)")
                    .alias("m")).collect()[0]["m"]
    txt = render_binlog_text(log)
    bdir = str(tmp_path / "binlogs")
    # two rotated segments: rotation is TIME-ordered, so the first
    # segment holds the earlier half of the seq range — under that
    # ordering, streamed per-segment apply must equal one-shot batch
    # apply exactly (later segment's events win, as they should)
    txt.filter(F.col("seq") <= split).select("line") \
       .coalesce(1).write.mode("append").text(bdir)
    txt.filter(F.col("seq") > split).select("line") \
       .coalesce(1).write.mode("append").text(bdir)

    mirror = str(tmp_path / "mirror")
    ckpt = str(tmp_path / "ckpt")
    # lexicographic file order == write order here (part files share a
    # prefix; the two appends produce distinct task UUIDs but the file
    # source processes by modification time per trigger)
    q = start_binlog_text_stream(spark, bdir, mirror, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(300)

    got = {(r["day"], r["pk"]): (r["date_time"], r["value"], r["ts_epoch"])
           for r in read_day_partitioned(spark, mirror).collect()}

    # batch reference with the SAME semantics the stream claims:
    # sequential per-segment consolidate→merge (one-shot apply of all
    # segments at once is a DIFFERENT contract — an I in segment 1
    # followed by a U in segment 2 survives sequential apply but a
    # one-shot consolidation collapses the pair to the U, which an
    # empty base then drops)
    all_log = parse_binlog_text(read_binlog_dir(spark, bdir))
    base = spark.createDataFrame(
        [], "day string, pk bigint, date_time string, value double, "
            "ts_epoch bigint")
    # apply segments in the same order the file source does: oldest
    # modification time first (lexicographic part-file names carry a
    # random task UUID, so name order is meaningless)
    import os

    files = sorted((r["file"] for r in
                    all_log.select("file").distinct().collect()),
                   key=lambda u: os.path.getmtime(u.removeprefix("file:")))
    want_df = base
    for f in files:
        want_df = apply_changes(want_df,
                                consolidate(all_log.filter(F.col("file") == f)))
    want = {(r["day"], r["pk"]): (r["date_time"], r["value"], r["ts_epoch"])
            for r in want_df.collect()}
    assert got and got == want


def test_binlog_text_stream_one_shot_backlog(spark, tmp_path):
    """The DEFAULT trigger path (no max_files_per_trigger): availableNow
    drains a multi-segment backlog into ONE micro-batch.  With the
    global seq rebase, that one-shot apply must equal the reference's
    sequential per-segment contract — the cross-file I-then-U pair
    survives as an upsert carrying the U's payload."""
    from enexory_parquet_export_spark.operators.binlog import TABLE_LIT
    from enexory_parquet_export_spark.sources.writer import (
        read_day_partitioned,
    )
    from enexory_parquet_export_spark.streaming.cdc_stream import (
        start_binlog_text_stream,
    )

    bdir = tmp_path / "binlogs"
    bdir.mkdir()
    (bdir / "seg-000001").write_text("\n".join([
        f"INSERT INTO {TABLE_LIT}", "SET",
        "@1=1", "@3='2024-03-01 10:00:00'", "@4=1.0", "@6=100",
        f"INSERT INTO {TABLE_LIT}", "SET",
        "@1=2", "@3='2024-03-01 11:00:00'", "@4=5.0", "@6=101",
    ]))
    (bdir / "seg-000002").write_text("\n".join([
        f"UPDATE {TABLE_LIT}", "SET",          # low line numbers: the
        "@1=1", "@3='2024-03-01 10:00:00'",    # per-file seq hazard
        "@4=2.0", "@6=200",
        f"DELETE FROM {TABLE_LIT}", "WHERE",
        "@1=2", "@3='2024-03-01 11:00:00'",
    ]))
    mirror = str(tmp_path / "mirror")
    q = start_binlog_text_stream(spark, str(bdir), mirror,
                                 str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    rows = {r["pk"]: r for r in read_day_partitioned(spark, mirror).collect()}
    # pk 1: I (seg 1) then U (seg 2) → upsert with the U's payload
    # pk 2: I (seg 1) then D (seg 2) → gone
    assert set(rows) == {1}
    assert rows[1]["value"] == 2.0 and rows[1]["ts_epoch"] == 200


@pytest.mark.slow
def test_pack_stream_equals_batch(spark, tmp_path):
    """Stateful per-shard sequence packing: the stream (one BIGINT of
    state per shard) must assign every document the same
    (bin, offset) slots as the batch prefix-sum twin when it drains
    the same corpus in doc_id order."""
    from enexory_parquet_export_spark.streaming.packing import (
        pack_batch,
        pack_stream,
    )

    rows = [(i, 10 + (i * 37) % 90) for i in range(300)]
    schema = "doc_id bigint, n_tokens bigint"
    src = str(tmp_path / "docs")
    # three append files in doc_id order — the source's batch order
    for lo in range(0, 300, 100):
        (spark.createDataFrame(rows[lo:lo + 100], schema)
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (pack_stream(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            pack_batch(spark.createDataFrame(rows, schema)).collect()}
    assert got == want and len(got) == 300


def test_row_signature_matches_batch_signatures(spark, sf_dir):
    """row_signature (pure expressions, stream-legal) must equal the
    exploded+agg batch signature bit-for-bit on every doc."""
    from enexory_parquet_export_spark.operators.dedup import (
        minhash_signatures,
        row_signature,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    batch = minhash_signatures(docs, k=8)
    row = (docs.select("doc_id", row_signature(F.col("text"), k=8)
                       .alias("sig"))
               .filter(F.col("sig").isNotNull()))
    joined = (batch.withColumnRenamed("sig", "bsig")
              .join(row.withColumnRenamed("sig", "rsig"), "doc_id",
                    "full_outer"))
    bad = joined.filter(
        F.col("bsig").isNull() | F.col("rsig").isNull()
        | (F.col("bsig") != F.col("rsig"))).count()
    assert bad == 0


@pytest.mark.slow
def test_neardup_stream_equals_batch(spark, tmp_path):
    """Streaming MinHash-LSH near-dup candidates over an in-order
    append stream must equal the batch twin's event set — including
    bucket_cap truncation and exact integer est_micro values."""
    from enexory_parquet_export_spark.streaming.neardup_stream import (
        neardup_batch,
        neardup_stream,
    )

    from conftest import SF_DIR
    base = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    twins = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                        F.concat("text", F.lit(" zz0 zz1 zz2"))
                         .alias("text"))
    corpus = base.unionByName(twins).orderBy("doc_id").collect()

    schema = "doc_id bigint, text string"
    src = str(tmp_path / "docs")
    rows = [(r["doc_id"], r["text"]) for r in corpus]
    step = max(1, len(rows) // 3)
    for lo in range(0, len(rows), step):
        (spark.createDataFrame(rows[lo:lo + step], schema)
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (neardup_stream(stream, bucket_cap=8).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            neardup_batch(spark.createDataFrame(rows, schema),
                          bucket_cap=8).collect()}
    assert got == want
    # the derived twins are near-identical: every twin pair must be hit
    twin_hits = {(a, b) for a, b, _ in got if a - 1_000_000 == b}
    assert len(twin_hits) > 0


@pytest.mark.slow
def test_neardup_stream_multichunk_group_admission_order(spark, tmp_path):
    """A hot band bucket whose micro-batch rows span MULTIPLE Arrow
    chunks (arrow.maxRecordsPerBatch below the bucket volume) must
    still admit members in global doc_id order: the r4 matcher sorted
    each chunk independently, which broke bucket_cap admission (and
    could emit nbr_id > doc_id) whenever one group exceeded a chunk.
    The source file is written in DESCENDING doc_id order so per-chunk
    sorting cannot accidentally restore the global order."""
    from enexory_parquet_export_spark.streaming.neardup_stream import (
        neardup_batch,
        neardup_stream,
    )

    # identical texts → every doc lands in the same band buckets →
    # one hot group holding all 24 rows of the single micro-batch
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text) for i in range(24)]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "docs")
    (spark.createDataFrame(list(reversed(rows)), schema)
     .coalesce(1).write.mode("append").parquet(src))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        out = str(tmp_path / "out")
        q = (neardup_stream(stream, bucket_cap=4).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            neardup_batch(spark.createDataFrame(rows, schema),
                          bucket_cap=4).collect()}
    assert got == want
    assert all(a > b for a, b, _ in got)  # events always point backwards


@pytest.mark.slow
def test_pack_stream_multichunk_group_order(spark, tmp_path):
    """A shard whose micro-batch rows span multiple Arrow chunks must
    still pack in global doc_id order (the r4 packer sorted each chunk
    independently — same defect class as the neardup matcher).  One
    shard (n_shards=1), descending-written source file, 2-row chunks."""
    from enexory_parquet_export_spark.streaming.packing import (
        pack_batch,
        pack_stream,
    )

    rows = [(i, 10 + (i * 37) % 90) for i in range(30)]
    schema = "doc_id bigint, n_tokens bigint"
    src = str(tmp_path / "docs")
    (spark.createDataFrame(list(reversed(rows)), schema)
     .coalesce(1).write.mode("append").parquet(src))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        out = str(tmp_path / "out")
        q = (pack_stream(stream, capacity=64, n_shards=1).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            pack_batch(spark.createDataFrame(rows, schema),
                       capacity=64, n_shards=1).collect()}
    assert got == want


@pytest.mark.slow
def test_change_detect_multichunk_group_order(spark, tmp_path):
    """One node's polls spanning multiple Arrow chunks must replay in
    global poll_seq order: with per-chunk sorting, a descending-written
    micro-batch produces phantom transitions."""
    from enexory_parquet_export_spark.streaming.change_detect import (
        POLL_SCHEMA,
        detect_changes_batch,
        detect_changes_stream,
    )

    # node flips online/offline every 3 polls: order-sensitive events
    polls = [("n1", s, s % 6 < 3, 10.0, "") for s in range(24)]
    src = str(tmp_path / "polls")
    (spark.createDataFrame(list(reversed(polls)), POLL_SCHEMA)
     .coalesce(1).write.mode("append").parquet(src))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(POLL_SCHEMA).parquet(src)
        out = str(tmp_path / "out")
        q = (detect_changes_stream(stream).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            detect_changes_batch(
                spark.createDataFrame(polls, POLL_SCHEMA)).collect()}
    assert got == want


@pytest.mark.slow
def test_neardup_state_flat_across_stream_length(spark, tmp_path):
    """The near-dup operator's state is bounded by #buckets × cap × k,
    NOT by stream length: tripling the stream over the same text
    domain (same band-key buckets) must leave the state row count
    exactly flat while input rows triple."""
    from enexory_parquet_export_spark.streaming.neardup_stream import (
        neardup_stream,
    )

    texts = [f"alpha bravo charlie delta echo foxtrot golf variant{v}"
             for v in range(10)]
    schema = "doc_id bigint, text string"

    def run(mult):
        rows = [(i, texts[i % 10]) for i in range(60 * mult)]
        src = str(tmp_path / f"docs_x{mult}")
        step = len(rows) // 4
        for lo in range(0, len(rows), step):
            (spark.createDataFrame(rows[lo:lo + step], schema)
             .coalesce(1).write.mode("append").parquet(src))
        q = (neardup_stream(spark.readStream.schema(schema)
                            .option("maxFilesPerTrigger", "1").parquet(src),
                            bucket_cap=8)
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / f"ckpt{mult}"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        progs = [p for p in q.recentProgress if p.get("stateOperators")]
        n_in = sum(p.get("numInputRows", 0) for p in q.recentProgress)
        return n_in, progs[-1]["stateOperators"][0]["numRowsTotal"]

    in1, state1 = run(1)
    in3, state3 = run(3)
    assert in3 > in1 * 2          # the stream really got ~3× longer
    assert state1 > 0
    assert state3 == state1       # state keys = band buckets, not docs


def test_arrow_signature_kernel_bit_parity(spark, sf_dir):
    """The stream's mapInPandas signature kernel must equal the batch
    expression path bit-for-bit — on the real documents table AND on
    adversarial whitespace (Spark's trim strips ONLY ' '; split keeps
    leading/trailing empty tokens; the Python twin must reproduce
    both, measured in-session before this test was written)."""
    from enexory_parquet_export_spark.operators.dedup import (
        minhash_signatures,
    )
    from enexory_parquet_export_spark.streaming.neardup_stream import (
        _signatures_arrow,
    )

    edge = [(9_000_001, "\talpha bravo charlie"),      # leading tab
            (9_000_002, "alpha bravo charlie\n"),      # trailing newline
            (9_000_003, "  alpha\tbravo  charlie  "),  # mixed runs
            (9_000_004, "a b"),                        # too short
            (9_000_005, " \t "),                       # whitespace only
            (9_000_006, None),                         # null text
            (9_000_007, "x\x0by z w"),                 # vertical tab
            (9_000_008, "a  b c d")]                   # double space
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .unionByName(spark.createDataFrame(
                edge, "doc_id bigint, text string")))
    batch = minhash_signatures(docs, k=8)
    arrow = docs.mapInPandas(_signatures_arrow(8),
                             "doc_id bigint, sig array<bigint>")
    joined = (batch.withColumnRenamed("sig", "bsig")
              .join(arrow.withColumnRenamed("sig", "asig"), "doc_id",
                    "full_outer"))
    bad = joined.filter(
        F.col("bsig").isNull() | F.col("asig").isNull()
        | (F.col("bsig") != F.col("asig"))).count()
    assert bad == 0


def test_bench_sweep_accounting_pinned(tmp_path):
    """r6 sweep findings stay pinned (VERDICT r6 item 8 + ADVICE):
    (a) flatten_parts orders `_f=` partition dirs NUMERICALLY — with
    ≥10 dirs a lexicographic sort scrambles file-source arrival order
    and the CDC last-applied-wins state with it; (b) the progress
    accounting takes batch count from the last batchId (recentProgress
    is a ~100-entry window) and input rows from the caller's
    true_rows (numInputRows counts source SCANS, doubled by a
    two-action foreachBatch body)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from bench_streaming import flatten_parts, summarize_progress

    import pandas as pd

    src = tmp_path / "parts"
    for i in range(12):                 # _f=10/_f=11 sort before _f=2 lexically
        d = src / f"_f={i}"
        d.mkdir(parents=True)
        pd.DataFrame({"v": [i]}).to_parquet(d / "part-0.parquet")
    dest = flatten_parts(str(src), str(tmp_path / "flat"))
    out = sorted(os.listdir(dest))
    assert len(out) == 12
    # dest file K must hold _f=K's rows — numeric arrival order
    for k, fname in enumerate(out):
        assert pd.read_parquet(os.path.join(dest, fname))["v"].tolist() == [k]

    # (b) progress accounting: retained window starts at batchId 3,
    # numInputRows double-counted by a 2-action foreachBatch
    prog = [{"batchId": b, "batchDuration": 100, "numInputRows": 20,
             "stateOperators": [{"numRowsTotal": 7}]}
            for b in range(3, 8)]
    rows, nb, durs, state = summarize_progress(prog, true_rows=50)
    assert rows == 50          # caller truth, not 5×20 scan count
    assert nb == 8             # last batchId + 1, not len(window)
    assert len(durs) == 5 and state == 7
    rows_fallback, *_ = summarize_progress(prog)
    assert rows_fallback == 100   # documented scan-count fallback
    assert summarize_progress([]) == (0, 0, [], None)


def test_quantize_codebook_cache_value_identity(spark):
    """The session-scoped codebook cache (cache_key=...) must be
    value-invisible and actually reused — the r10/r11 artifact-cache
    conventions applied to the stream family's trained state."""
    from enexory_parquet_export_spark.streaming import semdedup_stream as M

    from conftest import SF_DIR
    vecs = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("vec_id",
                    F.col("embedding").cast("array<double>")
                     .alias("embedding")))
    M._CODEBOOKS.clear()
    try:
        plain = M.quantize_codebook(vecs, k_clusters=4)
        cached = M.quantize_codebook(vecs, k_clusters=4,
                                     cache_key="t-cb")
        assert cached == plain
        assert M.quantize_codebook(vecs, k_clusters=4,
                                   cache_key="t-cb") is cached  # pure hit
        # distinct params never share an entry
        assert M.quantize_codebook(vecs, k_clusters=5,
                                   cache_key="t-cb") == \
            M.quantize_codebook(vecs, k_clusters=5)
        assert len(M._CODEBOOKS) == 2
    finally:
        M._CODEBOOKS.clear()


@pytest.mark.slow
def test_semdedup_stream_equals_batch(spark, tmp_path):
    """Streaming SemDeDup events over an in-order append stream must
    equal the batch twin's set — including cluster_cap admission
    truncation and exact integer cos_micro values (the same
    set-equality contract as the neardup twin test; x100 anchors the
    batch twin to the DuckDB oracle)."""
    from enexory_parquet_export_spark.streaming.semdedup_stream import (
        quantize_codebook,
        semdedup_batch,
        semdedup_stream,
    )

    from conftest import SF_DIR
    base = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("vec_id",
                    F.col("embedding").cast("array<double>")
                     .alias("embedding")))
    twins = base.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                        F.transform("embedding", lambda x: x * 1.1)
                         .alias("embedding"))
    corpus_df = base.unionByName(twins)
    cb = quantize_codebook(corpus_df, k_clusters=4)
    corpus = corpus_df.orderBy("vec_id").collect()

    schema = "vec_id bigint, embedding array<double>"
    src = str(tmp_path / "vecs")
    rows = [(r["vec_id"], list(r["embedding"])) for r in corpus]
    step = max(1, len(rows) // 3)
    for lo in range(0, len(rows), step):
        (spark.createDataFrame(rows[lo:lo + step], schema)
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (semdedup_stream(stream, cb, thresh_micro=990_000, cluster_cap=8)
         .writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            semdedup_batch(spark.createDataFrame(rows, schema), cb,
                           thresh_micro=990_000, cluster_cap=8).collect()}
    assert got == want
    assert len(want) > 0
    # every derived twin is a scaled copy (cos = 1): the twin must hit
    # its base whenever the base was admitted to the cluster
    twin_hits = {(a, b) for a, b, _ in got if a - 1_000_000 == b}
    assert len(twin_hits) > 0


# ---------------------------------------------------------------------------
# Checkpoint recovery (VERDICT r7 #7): each stateful family must survive
# a kill-and-restart from checkpointLocation — part 2 of the data
# arrives only after the first query has terminated, the second query
# resumes from the SAME checkpoint, and the union of outputs must match
# one uninterrupted run.  This is the production failure mode (the
# reference's cron abort-and-rerun posture, parse_binlogs.sh).
# ---------------------------------------------------------------------------

def test_cdc_stream_recovery_from_checkpoint(spark, tmp_path):
    """foreachBatch CDC merge: part-2 updates/deletes hit part-1 keys,
    so a restart that lost offsets or reapplied part 1 would corrupt
    the mirror."""
    part1 = [(1, 10, "I", "2024-01-01 00:00:01", 1.0, 100, "2024-01-01"),
             (2, 11, "I", "2024-01-01 00:00:02", 2.0, 101, "2024-01-01"),
             (3, 12, "I", "2024-01-02 00:00:03", 3.0, 102, "2024-01-02")]
    part2 = [(4, 10, "U", "2024-01-01 00:00:04", 9.0, 103, "2024-01-01"),
             (5, 11, "D", "2024-01-01 00:00:05", 0.0, 104, "2024-01-01"),
             (6, 13, "I", "2024-01-02 00:00:06", 4.0, 105, "2024-01-02")]
    src, mirror, ckpt = (str(tmp_path / d) for d in ("src", "mirror", "ckpt"))

    spark.createDataFrame(part1, CHANGELOG_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)
    q = start_cdc_merge_stream(stream_changelog(spark, src), mirror, ckpt)
    q.awaitTermination(120)
    assert not q.isActive  # killed: availableNow drained part 1 only

    spark.createDataFrame(part2, CHANGELOG_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)
    q2 = start_cdc_merge_stream(stream_changelog(spark, src), mirror, ckpt)
    q2.awaitTermination(120)

    got = _final_state(read_day_partitioned(spark, mirror)
                       .select("day", "pk", "date_time", "value", "ts_epoch"))
    assert got == {("2024-01-01", 10): ("2024-01-01 00:00:04", 9.0, 103),
                   ("2024-01-02", 12): ("2024-01-02 00:00:03", 3.0, 102),
                   ("2024-01-02", 13): ("2024-01-02 00:00:06", 4.0, 105)}


def test_neardup_stream_recovery_from_checkpoint(spark, tmp_path):
    """applyInPandasWithState MinHash-LSH: the part-2 twins duplicate
    part-1 originals, so the pairs only appear if the bucket state
    (part-1 signatures) survived the restart."""
    from enexory_parquet_export_spark.streaming.neardup_stream import (
        neardup_batch,
        neardup_stream,
    )

    from conftest import SF_DIR
    base = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(60))
    rows = [(r["doc_id"], r["text"]) for r in base.collect()]
    twins = [(d + 1_000_000, t + " zz0 zz1 zz2") for d, t in rows]
    schema = "doc_id bigint, text string"
    src, out, ckpt = (str(tmp_path / d) for d in ("docs", "out", "ckpt"))

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (neardup_stream(stream, bucket_cap=8).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    spark.createDataFrame(rows, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(twins, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            neardup_batch(spark.createDataFrame(rows + twins, schema),
                          bucket_cap=8).collect()}
    assert got == want
    # cross-restart pairs specifically: twin vs its part-1 original
    assert any(a - 1_000_000 == b for a, b, _ in got)


def test_pack_stream_recovery_from_checkpoint(spark, tmp_path):
    """Stateful packer: shard offsets are one BIGINT of state each —
    after the restart, part-2 docs must CONTINUE the running offsets
    (a reset would restart every shard at bin 0)."""
    from enexory_parquet_export_spark.streaming.packing import (
        pack_batch,
        pack_stream,
    )

    rows = [(i, 10 + (i * 37) % 90) for i in range(300)]
    schema = "doc_id bigint, n_tokens bigint"
    src, out, ckpt = (str(tmp_path / d) for d in ("docs", "out", "ckpt"))

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (pack_stream(stream).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    spark.createDataFrame(rows[:200], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(rows[200:], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            pack_batch(spark.createDataFrame(rows, schema)).collect()}
    assert got == want and len(got) == 300


def test_change_detect_stream_recovery_from_checkpoint(spark, tmp_path):
    """Stateful change detector: part-2 polls continue part-1 key
    state (same-error suppression, alert level), so a restart that
    lost state would re-emit suppressed events or miss flips."""
    from enexory_parquet_export_spark.streaming.change_detect import (
        POLL_SCHEMA,
        detect_changes_batch,
        detect_changes_stream,
    )

    seqs = sorted({p[1] for p in POLLS})
    cut = seqs[len(seqs) // 2]
    src, out, ckpt = (str(tmp_path / d) for d in ("polls", "out", "ckpt"))

    def run_once():
        stream = (spark.readStream.schema(POLL_SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (detect_changes_stream(stream).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    for seq in [s for s in seqs if s <= cut]:
        (spark.createDataFrame([p for p in POLLS if p[1] == seq], POLL_SCHEMA)
         .coalesce(1).write.mode("append").parquet(src))
    run_once()
    for seq in [s for s in seqs if s > cut]:
        (spark.createDataFrame([p for p in POLLS if p[1] == seq], POLL_SCHEMA)
         .coalesce(1).write.mode("append").parquet(src))
    run_once()

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in detect_changes_batch(
        spark.createDataFrame(POLLS, POLL_SCHEMA)).collect()}
    assert got == want


def test_semdedup_stream_cap_boundary_mid_batch(spark, tmp_path):
    """All three regimes of the r10 batched kernel in one run, one
    cluster, cap 4, micro-batches of 3/3/1: (a) empty state + batch
    admission, (b) PARTIAL state (count0=3) + one same-batch admit —
    later arrivals score against state AND the batch-admitted member,
    (c) full state (n_adm=0, state-only scoring).  Must equal the
    independent batch twin's event set exactly."""
    from enexory_parquet_export_spark.streaming.semdedup_stream import (
        semdedup_batch,
        semdedup_stream,
    )

    # near-parallel vectors (high cos) so every comparison emits
    rows = [(i, [1.0 + 0.001 * i, 1.0, 0.5]) for i in range(7)]
    cb = [[1000, 1000, 500]]          # single cluster: all rows collide
    schema = "vec_id bigint, embedding array<double>"
    src = str(tmp_path / "vecs")
    for lo, hi in ((0, 3), (3, 6), (6, 7)):
        (spark.createDataFrame(rows[lo:hi], schema)
         .coalesce(1).write.mode("append").parquet(src))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (semdedup_stream(stream, cb, thresh_micro=900_000, cluster_cap=4)
         .writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            semdedup_batch(spark.createDataFrame(rows, schema), cb,
                           thresh_micro=900_000, cluster_cap=4).collect()}
    assert got == want
    # admitted members are exactly vec_id 0..3; arrivals 4..6 score
    # against those four and are never scored against each other
    hit_pairs = {(a, b) for a, b, _ in got}
    assert all(b <= 3 for _, b in hit_pairs)
    assert {(a, b) for a, b in hit_pairs if a >= 4} == {
        (a, b) for a in (4, 5, 6) for b in (0, 1, 2, 3)}


def test_semdedup_stream_recovery_from_checkpoint(spark, tmp_path):
    """Streaming SemDeDup: part-2 twins dedup against part-1 cluster
    state — pairs appear only if the admitted-member state survived
    the restart."""
    from enexory_parquet_export_spark.streaming.semdedup_stream import (
        quantize_codebook,
        semdedup_batch,
        semdedup_stream,
    )

    from conftest import SF_DIR
    base = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("vec_id",
                    F.col("embedding").cast("array<double>")
                     .alias("embedding")).orderBy("vec_id").limit(40))
    twins = base.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                        F.transform("embedding", lambda x: x * 1.1)
                         .alias("embedding"))
    corpus_df = base.unionByName(twins)
    cb = quantize_codebook(corpus_df, k_clusters=4)
    rows = [(r["vec_id"], list(r["embedding"]))
            for r in corpus_df.orderBy("vec_id").collect()]
    half = [r for r in rows if r[0] < 1_000_000]
    rest = [r for r in rows if r[0] >= 1_000_000]

    schema = "vec_id bigint, embedding array<double>"
    src, out, ckpt = (str(tmp_path / d) for d in ("vecs", "out", "ckpt"))

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (semdedup_stream(stream, cb, thresh_micro=990_000,
                             cluster_cap=8).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    spark.createDataFrame(half, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(rest, schema) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            semdedup_batch(spark.createDataFrame(half + rest, schema), cb,
                           thresh_micro=990_000, cluster_cap=8).collect()}
    assert got == want
    # cross-restart evidence: some pair joins a twin to a part-1 vector
    assert any(a >= 1_000_000 and b < 1_000_000 for a, b, *_ in got), got


@pytest.mark.slow
def test_dedup_stream_recovery_from_checkpoint(spark, tmp_path):
    """dropDuplicatesWithinWatermark: part-2 re-sends part-1 keys, so
    they stay dropped only if the dedup state survived the restart
    (r9 — the one stream family whose recovery was untested)."""
    from enexory_parquet_export_spark.streaming.dedup_stream import (
        dedup_stream,
    )

    def frame(rows):
        return (spark.createDataFrame(rows, "ts_s string, ckey string")
                .select(F.to_timestamp("ts_s").alias("ts"), "ckey"))

    part1 = [("2024-01-01 01:00:00", "k1"),
             ("2024-01-01 01:01:00", "k2"),
             ("2024-01-01 01:02:00", "k3")]
    part2 = [("2024-01-01 01:05:00", "k1"),   # dup of part-1 key
             ("2024-01-01 01:06:00", "k2"),   # dup of part-1 key
             ("2024-01-01 01:07:00", "k4")]   # new
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def run_once():
        stream = (spark.readStream.schema(frame(part1).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (dedup_stream(stream, ["ckey"], lateness="365 days")
             .writeStream.format("parquet").outputMode("append")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    frame(part1).coalesce(1).write.mode("append").parquet(src)
    run_once()
    frame(part2).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = sorted((r["ckey"], str(r["ts"])) for r in
                 spark.read.parquet(out).collect())
    # exactly one row per key, and k1/k2 carry their PART-1 timestamps
    # (a state reset would re-emit the part-2 arrivals)
    assert [k for k, _ in got] == ["k1", "k2", "k3", "k4"], got
    assert ("k1", "2024-01-01 01:00:00") in got
    assert ("k2", "2024-01-01 01:01:00") in got


@pytest.mark.slow
def test_interval_join_stream_recovery_from_checkpoint(spark, tmp_path):
    """Stream-stream interval join: all views arrive before the kill,
    all clicks after — every match is cross-restart, so the output is
    correct only if the buffered left-side join state survived."""
    from enexory_parquet_export_spark.streaming.join_stream import (
        interval_join_stream,
    )

    def vframe(rows):
        return (spark.createDataFrame(
                    rows, "ts_s string, user_id bigint, view_id bigint")
                .select("user_id", F.to_timestamp("ts_s").alias("l_ts"),
                        "view_id"))

    def cframe(rows):
        return (spark.createDataFrame(
                    rows, "ts_s string, user_id bigint, click_id bigint")
                .select("user_id", F.to_timestamp("ts_s").alias("r_ts"),
                        "click_id"))

    views = [("2024-01-01 01:00:00", 1, 100),
             ("2024-01-01 01:00:00", 2, 101),
             ("2024-01-01 02:00:00", 1, 102)]
    clicks = [("2024-01-01 01:05:00", 1, 200),   # matches view 100
              ("2024-01-01 01:09:00", 2, 201),   # matches view 101
              ("2024-01-01 02:30:00", 1, 202)]   # outside every window
    vsrc, csrc, out, ckpt = (str(tmp_path / d)
                             for d in ("v", "c", "sink", "ckpt"))

    def run_once():
        vs = (spark.readStream.schema(vframe(views).schema)
              .option("maxFilesPerTrigger", 1).parquet(vsrc))
        cs = (spark.readStream.schema(cframe(clicks).schema)
              .option("maxFilesPerTrigger", 1).parquet(csrc))
        q = (interval_join_stream(vs, cs, lateness="365 days")
             .select("user_id", "view_id", "click_id")
             .writeStream.format("parquet").outputMode("append")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    vframe(views).coalesce(1).write.mode("append").parquet(vsrc)
    cframe([]).coalesce(1).write.mode("append").parquet(csrc)
    run_once()
    assert spark.read.parquet(out).count() == 0   # no clicks yet
    cframe(clicks).coalesce(1).write.mode("append").parquet(csrc)
    run_once()

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == [(1, 100, 200), (2, 101, 201)], got


@pytest.mark.slow
def test_session_stream_recovery_from_checkpoint(spark, tmp_path):
    """Session windows: u1's session SPANS the restart (part-2 events
    continue it within the gap), so the emitted session carries the
    full cross-restart count only if the open-session state survived;
    a later event then advances the watermark to close it."""
    from enexory_parquet_export_spark.streaming.windowed import (
        session_counts,
        session_counts_stream,
    )

    def frame(rows):
        return (spark.createDataFrame(rows, "ts_s string, user_id bigint")
                .select(F.to_timestamp("ts_s").alias("ts"), "user_id"))

    part1 = [("2024-01-01 01:00:00", 1),
             ("2024-01-01 01:10:00", 1)]
    part2 = [("2024-01-01 01:20:00", 1),      # continues u1's session
             ("2024-01-01 12:00:00", 9),      # advances the watermark
             ("2024-01-01 12:05:00", 9)]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def run_once():
        stream = (spark.readStream.schema(frame(part1).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (session_counts_stream(stream, lateness="1 minute")
             .writeStream.format("parquet").outputMode("append")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    frame(part1).coalesce(1).write.mode("append").parquet(src)
    run_once()
    frame(part2).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(map(tuple,
                       session_counts(frame(part1 + part2)).collect()))
    # u1's closed session = ONE row with the full 3-event count and
    # the part-1 start time; it must equal the batch twin's session
    u1 = [r for r in got if r[0] == 1]
    assert u1 == [r for r in batch if r[0] == 1], (got, batch)
    assert u1[0][2] == 3
    # exactly-once across the restart
    assert len(got) == len(set(got))


def test_decon_stream_equals_batch_and_x55_core(spark, tmp_path):
    """Streaming decontamination over a chunked append stream must
    equal (a) its batch twin and (b) the independent batch
    formulation ``operators/dedup.py:decontaminate`` with the df-cap
    disabled — shared counts, probe multiplicities and all."""
    from enexory_parquet_export_spark.operators.dedup import decontaminate
    from enexory_parquet_export_spark.streaming.decon_stream import (
        decon_batch,
        decon_stream,
    )

    from conftest import SF_DIR
    base = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    # probe suite = every 20th doc; corpus = the rest plus near-copies
    # of probe docs (trailing filler keeps most probe shingles) so
    # real hits exist; two probes duplicated to exercise multiplicity
    probes = (base.filter(F.col("doc_id") % 20 == 0)
              .select(F.col("doc_id").alias("probe_id"), "text"))
    probes = probes.unionByName(
        probes.orderBy("probe_id").limit(2)
              .select((F.col("probe_id") + 777_000)
                      .alias("probe_id"), "text"))
    contaminated = (base.filter(F.col("doc_id") % 20 == 0)
                    .select((F.col("doc_id") + 500_000).alias("doc_id"),
                            F.concat("text", F.lit(" tail filler words"))
                             .alias("text")))
    corpus = (base.filter(F.col("doc_id") % 20 != 0)
              .unionByName(contaminated))

    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "docs")
    step = max(1, len(rows) // 3)
    for lo in range(0, len(rows), step):
        (spark.createDataFrame(rows[lo:lo + step], schema)
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (decon_stream(stream, probes, k=5).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert len(got) > 0, "fixture produced no contamination hits"
    batch_df = spark.createDataFrame(rows, schema)
    twin = {tuple(r) for r in decon_batch(batch_df, probes, k=5).collect()}
    assert got == twin
    # independent formulation: equi-join + hash-agg, df-cap disabled
    # (cap far above the corpus size so no stop shingle exists)
    indep = {tuple(r) for r in
             decontaminate(batch_df, probes, k=5,
                           df_cap_min=10_000_000,
                           df_cap_div=1).collect()}
    assert got == indep
    # duplicated probes must double their class multiplicity: every
    # contaminated twin of the two duplicated probe docs counts 2.
    # The +777_000 rows ARE the duplicates; the twin doc_id is the
    # original probe_id + 500_000.
    dup_ids = {r["probe_id"] + 500_000 - 777_000
               for r in probes.filter(F.col("probe_id") >= 777_000)
                              .collect()}
    assert len(dup_ids) == 2
    hit_dups = {doc_id for doc_id, n_hit, _ in got
                if doc_id in dup_ids and n_hit >= 2}
    assert hit_dups == dup_ids, (
        f"duplicated probes {dup_ids - hit_dups} did not register "
        f"multiplicity >= 2")


def test_decon_stream_short_and_clean_docs_emit_nothing(spark):
    """Sub-shingle docs and clean docs produce no output rows; a doc
    equal to a probe scores every probe shingle."""
    from enexory_parquet_export_spark.streaming.decon_stream import (
        decon_batch,
    )

    probe_text = "p0 p1 p2 p3 p4 p5 p6 p7"
    probes = spark.createDataFrame([(1, probe_text)],
                                   "probe_id bigint, text string")
    docs = spark.createDataFrame(
        [(10, probe_text),                  # exact copy: 6 shingles
         (11, "a0 a1"),                     # sub-shingle: no rows
         (12, "c0 c1 c2 c3 c4 c5 c6 c7")],  # clean: no rows
        "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_probes_hit"], r["max_shared"])
           for r in decon_batch(docs, probes, k=5).collect()}
    assert got == {10: (1, 6)}


def test_containment_stream_equals_batch_and_x85_core(spark, tmp_path):
    """Streaming snippet containment over a chunked append stream must
    equal its batch twin and the independent ``containment``
    formulation (df-cap disabled), per-pair micro values included."""
    from enexory_parquet_export_spark.operators.dedup import containment
    from enexory_parquet_export_spark.streaming.decon_stream import (
        containment_batch,
        containment_stream,
    )

    from conftest import SF_DIR
    base = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    # snippets = leading words of every 25th doc (high containment in
    # the source doc); corpus = all docs
    snips = (base.filter(F.col("doc_id") % 25 == 0)
             .select(F.col("doc_id").alias("snip_id"),
                     F.array_join(F.slice(F.split(F.trim("text"), r"\s+"),
                                          1, 8), " ").alias("text")))
    rows = [(r["doc_id"], r["text"]) for r in base.collect()]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "docs")
    step = max(1, len(rows) // 3)
    for lo in range(0, len(rows), step):
        (spark.createDataFrame(rows[lo:lo + step], schema)
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (containment_stream(stream, snips, thresh_micro=800_000)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert len(got) > 0, "fixture produced no containment hits"
    batch_df = spark.createDataFrame(rows, schema)
    twin = {tuple(r) for r in
            containment_batch(batch_df, snips,
                              thresh_micro=800_000).collect()}
    assert got == twin
    indep = {tuple(r) for r in
             containment(batch_df, snips, thresh_micro=800_000,
                         df_cap_min=10_000_000, df_cap_div=1).collect()}
    assert got == indep
