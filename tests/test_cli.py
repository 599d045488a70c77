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
