"""Command-line entry points — the reference's runnable surface.

Every command a user of the reference runs today maps to one
subcommand here (README "Migrating from the reference"):

==============================  =====================================
reference                       this CLI
==============================  =====================================
``python db_extractor.py``      ``… sync --source … --mirror …``
(first run = backfill,          (incremental from the newest day; an
then incremental + audit)       empty mirror gets every row in one
                                write; always audits —
                                db_extractor.py:254-325)
``./parse_binlogs.sh``          ``… binlog-apply --binlog-text … --mirror …``
``python row_integrity.py``     ``… integrity --source … --mirror …``
(damaged mirror)                ``… repair --mirror …``
==============================  =====================================

The source is either a parquet snapshot path (the offline harness) or
a JDBC url+table (the reference's production entry point, O1).  All
heavy lifting stays in :mod:`pipeline` / :mod:`operators` — this
module only parses arguments, builds the session, and prints one JSON
line per run so orchestrators can consume results the way the
reference's cron/orchestrator consumed its stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def _source(spark: SparkSession, args) -> DataFrame:
    if args.source_parquet:
        from .sources.writer import footer_schema
        return (spark.read.schema(footer_schema(spark, args.source_parquet))
                .parquet(args.source_parquet))
    from .sources.tables import read_source_jdbc
    return read_source_jdbc(spark, args.jdbc_url, args.jdbc_table)


def _add_source_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--source-parquet", help="parquet snapshot of the source table")
    p.add_argument("--jdbc-url", help="JDBC url of the live source (O1)")
    p.add_argument("--jdbc-table", help="source table name for --jdbc-url")


def build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(prog="enexory_parquet_export_spark")
    sub = top.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("sync", help="incremental (everything into an "
                                    "empty mirror), then audit")
    _add_source_args(p)
    p.add_argument("--mirror", required=True)
    p.add_argument("--replica", help="second mirror target (O27): the "
                                     "day partitions that differ from "
                                     "the replica's are byte-copied "
                                     "after the sync, rsync-style")

    p = sub.add_parser("backfill", help="one-time historical backfill")
    _add_source_args(p)
    p.add_argument("--mirror", required=True)
    p.add_argument("--min-date", required=True)

    p = sub.add_parser("integrity", help="per-day row-count reconciliation")
    _add_source_args(p)
    p.add_argument("--mirror", required=True)

    p = sub.add_parser("repair", help="re-audit and rewrite divergent days")
    p.add_argument("--mirror", required=True)

    p = sub.add_parser("binlog-apply",
                       help="parse binlog pseudo-SQL text, consolidate, "
                            "merge into the mirror")
    p.add_argument("--binlog-text", required=True,
                   help="text files of mysqlbinlog pseudo-SQL")
    p.add_argument("--mirror", required=True)
    p.add_argument("--replica", help="second mirror target (O27): the "
                                     "day partitions that differ from "
                                     "the replica's are byte-copied "
                                     "after the merge")

    p = sub.add_parser("export-ref",
                       help="export the mirror in the reference's file "
                            "layout: one YYYY-MM-DD.parquet per day")
    p.add_argument("--mirror", required=True)
    p.add_argument("--out", required=True)
    return top


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    args = build_parser().parse_args(argv)
    spark = get_spark(f"epe-{args.cmd}")
    out: dict = {"cmd": args.cmd}

    if args.cmd in ("sync", "backfill", "integrity") \
            and not (args.source_parquet or (args.jdbc_url and args.jdbc_table)):
        print("need --source-parquet or --jdbc-url + --jdbc-table",
              file=sys.stderr)
        return 2

    if args.cmd == "sync":
        from . import pipeline
        rep = pipeline.run_sync(spark, _source(spark, args), args.mirror)
        out.update(source_rows=rep.source_rows, mirror_rows=rep.mirror_rows,
                   matches=rep.matches, difference=rep.difference,
                   per_day_mismatches=rep.per_day_mismatches)
    elif args.cmd == "backfill":
        from . import pipeline
        pipeline.historical_backfill(_source(spark, args), args.mirror,
                                     args.min_date)
        from .sources.writer import list_days
        out.update(days=len(list_days(spark, args.mirror)))
    elif args.cmd == "integrity":
        from . import pipeline
        rep = pipeline.row_integrity(spark, _source(spark, args), args.mirror)
        out.update(source_rows=rep.source_rows, mirror_rows=rep.mirror_rows,
                   matches=rep.matches, difference=rep.difference,
                   per_day_mismatches=rep.per_day_mismatches)
    elif args.cmd == "repair":
        from . import pipeline
        out.update(rewritten_days=pipeline.repair(spark, args.mirror))
    elif args.cmd == "binlog-apply":
        from .operators.binlog import (
            assign_global_seq,
            parse_binlog_text,
            read_binlog_dir,
        )
        from .sources.writer import list_days
        from .streaming.cdc_stream import merge_batch

        # seq from parse is a per-file line number; rebase it onto the
        # segment rotation order so one-shot consolidation across many
        # segments equals the reference's sequential per-segment apply
        # (parse_binlogs.sh pipes each segment through ./consolidate in
        # ls-sort order — last-event-wins must respect that order)
        changelog = assign_global_seq(
            parse_binlog_text(read_binlog_dir(spark, args.binlog_text)))
        merge_batch(spark, changelog, args.mirror)
        out.update(mirror_days=len(list_days(spark, args.mirror)))
    elif args.cmd == "export-ref":
        from .sources.writer import read_day_partitioned, write_reference_layout
        days = write_reference_layout(
            read_day_partitioned(spark, args.mirror), args.out)
        out.update(exported_days=len(days))

    if getattr(args, "replica", None):
        from .sources.writer import mirror_to_replica
        out.update(replicated_days=len(
            mirror_to_replica(spark, args.mirror, args.replica)))

    print(json.dumps(out))
    return 0 if out.get("matches", True) else 1


if __name__ == "__main__":
    raise SystemExit(main())
