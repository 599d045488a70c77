"""End-to-end tests of the __main__ CLI — the reference's runnable
surface (db_extractor.py main / parse_binlogs.sh / row_integrity.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from enexory_parquet_export_spark.__main__ import build_parser, main
from enexory_parquet_export_spark.sources.tables import load_table


def test_parser_rejects_missing_source():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["sync"])  # --mirror required


def _source_snapshot(spark, sf_dir, path):
    """events → the reference's (id, date_time, value, ts) source shape."""
    ev = load_table(spark, sf_dir, "events").limit(5000)
    src = ev.select(
        F.col("event_id").alias("id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("date_time"),
        F.col("value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))
    src.write.mode("overwrite").parquet(path)
    return src


def test_cli_sync_and_integrity(spark, sf_dir, tmp_path, capsys):
    src_path = str(tmp_path / "src")
    mirror = str(tmp_path / "mirror")
    _source_snapshot(spark, sf_dir, src_path)

    rc = main(["sync", "--source-parquet", src_path, "--mirror", mirror])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert rep["cmd"] == "sync" and rep["matches"] is True
    assert rep["source_rows"] == rep["mirror_rows"] > 0

    rc = main(["integrity", "--source-parquet", src_path, "--mirror", mirror])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["matches"] is True


def test_cli_sync_job_ceiling_above_listing_threshold(spark, tmp_path, capsys,
                                                     count_jobs):
    """``sync --source-parquet`` that adds one night to a 40-day mirror
    takes 4 jobs: the write (2), then the audit's aggregation (2).  The
    source's schema is read from one file's footer on the driver and
    the audit lists the mirror's days there, so neither a schema
    inference nor a listing job runs."""
    src_path, mirror = str(tmp_path / "src"), str(tmp_path / "m")
    argv = ["sync", "--source-parquet", src_path, "--mirror", mirror]

    def write_source(n_days):
        days = [f"2010-{1 + d // 28:02d}-{1 + d % 28:02d}" for d in range(n_days)]
        spark.createDataFrame(
            [(i, f"{day} 01:00:00", float(i), f"{day} 02:00:00")
             for i, day in enumerate(days)],
            "id bigint, date_time string, value double, ts string") \
            .write.mode("overwrite").parquet(src_path)

    write_source(40)
    assert main(argv) == 0
    write_source(41)
    jobs, rc = count_jobs(main, argv)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["matches"] is True and rep["mirror_rows"] == 41
    assert len(jobs) <= 4, jobs


def test_cli_integrity_fails_on_day_mismatches_that_cancel_out(spark, tmp_path,
                                                              capsys):
    """Equal totals do not make a match: the mirror holds days A=1 and
    B=2, the source A=2 and B=1, so the audit fails and exits 1."""
    from enexory_parquet_export_spark.sources.writer import write_day_partitioned

    a, b = "2010-01-05", "2010-01-06"
    src_path, mirror = str(tmp_path / "src"), str(tmp_path / "m")
    write_day_partitioned(spark.createDataFrame(
        [(a, 1, f"{a} 01:00:00", 1.0, f"{a} 02:00:00"),
         (b, 2, f"{b} 01:00:00", 2.0, f"{b} 02:00:00"),
         (b, 3, f"{b} 03:00:00", 3.0, f"{b} 04:00:00")],
        "day string, id bigint, date_time string, value double, ts string"),
        mirror)
    spark.createDataFrame(
        [(1, f"{a} 01:00:00", 1.0, f"{a} 02:00:00"),
         (4, f"{a} 05:00:00", 4.0, f"{a} 06:00:00"),
         (2, f"{b} 01:00:00", 2.0, f"{b} 02:00:00")],
        "id bigint, date_time string, value double, ts string") \
        .write.parquet(src_path)
    rc = main(["integrity", "--source-parquet", src_path, "--mirror", mirror])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (rep["source_rows"], rep["mirror_rows"], rep["difference"]) == (3, 3, 0)
    assert rep["matches"] is False and rc == 1
    assert rep["per_day_mismatches"] == [[a, 2, 1], [b, 1, 2]]


def test_cli_binlog_apply(spark, sf_dir, tmp_path, capsys):
    from enexory_parquet_export_spark.operators.binlog import (
        render_binlog_text,
    )
    from enexory_parquet_export_spark.operators.cdc import (
        apply_changes,
        consolidate,
        derive_changelog,
    )
    from enexory_parquet_export_spark.sources.writer import (
        read_day_partitioned,
    )

    # pk 0 is the parser's no-row-image marker (the reference's flush
    # guard), so those blocks never reach the mirror
    log = derive_changelog(load_table(spark, sf_dir, "events").limit(2000)) \
        .filter(F.col("pk") != 0)
    log = spark.createDataFrame(log.collect(), log.schema)
    txt_dir = str(tmp_path / "binlogs")
    # one text file of rendered pseudo-SQL, blocks in seq order as in a
    # real binlog
    (render_binlog_text(log.orderBy("seq"))
     .select("line")
     .coalesce(1).write.mode("overwrite").text(txt_dir))

    mirror = str(tmp_path / "mirror")
    rc = main(["binlog-apply", "--binlog-text", txt_dir,
               "--mirror", mirror])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    empty = spark.createDataFrame(
        [], "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    cols = ("day", "pk", "date_time", "value", "ts_epoch")
    want = {tuple(r) for r in
            apply_changes(empty, consolidate(log)).select(*cols).collect()}
    got = {tuple(r) for r in
           read_day_partitioned(spark, mirror).select(*cols).collect()}
    assert got == want and rep["mirror_days"] == len({r[0] for r in want}) > 0


def test_cli_binlog_apply_with_replica_and_export_ref(spark, sf_dir,
                                                      tmp_path, capsys):
    """binlog-apply --replica (O27) + export-ref round-trip through the
    CLI surface."""
    import json

    from enexory_parquet_export_spark.__main__ import main
    from enexory_parquet_export_spark.operators.binlog import (
        render_binlog_text,
    )
    from enexory_parquet_export_spark.operators.cdc import derive_changelog
    from enexory_parquet_export_spark.sources.tables import load_table
    from enexory_parquet_export_spark.sources.writer import (
        read_day_partitioned,
        read_reference_layout,
    )

    log = derive_changelog(load_table(spark, sf_dir, "events").limit(200))
    txt_dir = str(tmp_path / "binlogs")
    render_binlog_text(log).select("line").coalesce(1) \
        .write.mode("overwrite").text(txt_dir)

    mirror, replica = str(tmp_path / "m"), str(tmp_path / "rep")
    rc = main(["binlog-apply", "--binlog-text", txt_dir,
               "--mirror", mirror, "--replica", replica])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["mirror_days"] == rep["replicated_days"] > 0
    prim = {tuple(r) for r in read_day_partitioned(spark, mirror).collect()}
    assert prim == {tuple(r)
                    for r in read_day_partitioned(spark, replica).collect()}

    out_dir = str(tmp_path / "ref")
    rc = main(["export-ref", "--mirror", mirror, "--out", out_dir])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_days = read_day_partitioned(spark, mirror) \
        .select("day").distinct().count()
    assert rc == 0 and rep["exported_days"] == n_days
    back = read_reference_layout(spark, out_dir)
    assert {tuple(r) for r in
            back.select(*read_day_partitioned(spark, mirror).columns)
                .collect()} == prim


def _replica_matches(spark, mirror, replica):
    """Same days, same files (names and lengths), same rows."""
    from enexory_parquet_export_spark.sources.writer import (
        day_files,
        read_day_partitioned,
    )
    return (day_files(spark, mirror) == day_files(spark, replica)
            and {tuple(r) for r in read_day_partitioned(spark, mirror).collect()}
            == {tuple(r) for r in read_day_partitioned(spark, replica).collect()})


def test_cli_sync_replica_copies_only_the_days_written(spark, tmp_path, capsys):
    """The first ``sync --replica`` seeds the replica with every day; a
    sync that adds one night to a multi-day mirror then copies only the
    days that changed (the resume day it rewrote and the new one), and
    the replica still equals the primary."""
    src_path, mirror, replica = (str(tmp_path / d) for d in ("src", "m", "rep"))
    rows = [(d, f"2010-01-{d:02d} 01:00:00", float(d), f"2010-01-{d:02d} 02:00:00")
            for d in range(2, 9)]

    def sync(rows):
        spark.createDataFrame(
            rows, "id bigint, date_time string, value double, ts string") \
            .write.mode("overwrite").parquet(src_path)
        rc = main(["sync", "--source-parquet", src_path, "--mirror", mirror,
                   "--replica", replica])
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and rep["matches"] is True
        return rep

    assert sync(rows)["replicated_days"] == 7
    rep = sync(rows + [(9, "2010-01-09 01:00:00", 9.0, "2010-01-09 02:00:00")])
    assert rep["replicated_days"] <= 2
    assert _replica_matches(spark, mirror, replica)


def test_cli_binlog_apply_replica_copies_only_the_days_touched(spark, tmp_path,
                                                               capsys):
    """After a seeding ``binlog-apply --replica``, a merge that updates
    one day and empties another copies the one day it rewrote and
    removes the emptied day from the replica too."""
    from enexory_parquet_export_spark.operators.binlog import render_binlog_text
    from enexory_parquet_export_spark.streaming.cdc_stream import CHANGELOG_SCHEMA

    mirror, replica = str(tmp_path / "m"), str(tmp_path / "rep")

    def apply(name, events):
        log = spark.createDataFrame(
            [(seq, pk, op, f"{day} 01:00:00", value, 100 + seq, day)
             for seq, (op, pk, day, value) in enumerate(events)],
            CHANGELOG_SCHEMA)
        txt = str(tmp_path / name)
        render_binlog_text(log.orderBy("seq")).select("line") \
            .coalesce(1).write.mode("overwrite").text(txt)
        rc = main(["binlog-apply", "--binlog-text", txt, "--mirror", mirror,
                   "--replica", replica])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    days = [f"2024-01-{d:02d}" for d in range(1, 7)]
    rep = apply("seed", [("I", pk, day, 1.0) for day in days for pk in (1, 2)])
    assert rep["replicated_days"] == rep["mirror_days"] == 6
    rep = apply("night", [("U", 1, days[2], 7.0),
                          ("D", 1, days[4], None), ("D", 2, days[4], None)])
    assert rep["mirror_days"] == 5 and rep["replicated_days"] <= 2
    assert _replica_matches(spark, mirror, replica)


def test_cli_replica_catches_up_after_runs_without_it(spark, tmp_path, capsys):
    """Days rewritten by runs that do not copy to the replica (``repair``,
    a ``sync`` without ``--replica``) reach it on the next
    ``sync --replica``: the replica ends equal to the primary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src_path, mirror, replica = (str(tmp_path / d) for d in ("src", "m", "rep"))

    def sync(n_days, *replica_args):
        spark.createDataFrame(
            [(d, f"2010-01-{d:02d} 01:00:00", float(d), f"2010-01-{d:02d} 02:00:00")
             for d in range(2, 2 + n_days)],
            "id bigint, date_time string, value double, ts string") \
            .write.mode("overwrite").parquet(src_path)
        main(["sync", "--source-parquet", src_path, "--mirror", mirror,
              *replica_args])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert sync(7, "--replica", replica)["replicated_days"] == 7
    assert sync(8)["matches"] is True            # adds 2010-01-09
    # damage one day; repair moves its bad row to the sentinel day
    pq.write_table(pa.table({"id": pa.array([99], pa.int64()),
                             "date_time": ["garbage"],
                             "value": pa.array([9.0], pa.float64()),
                             "ts": ["2010-01-05 09:00:00"]}),
                   str(tmp_path / "m" / "day=2010-01-05" / "stray.parquet"))
    assert main(["repair", "--mirror", mirror]) == 0
    capsys.readouterr()
    # the audit counts the moved row, which the source lacks; the copy
    # runs all the same.  Copied: the sentinel day and 2010-01-05 from
    # the repair, 2010-01-08 (rewritten) and 2010-01-09 from the sync
    # without a replica, and the new night 2010-01-10 from this sync.
    assert sync(9, "--replica", replica)["replicated_days"] == 5
    assert _replica_matches(spark, mirror, replica)
