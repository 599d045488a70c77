"""Bucketed co-located joins and small-file compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enexory_parquet_export_spark.sources.bucketed import (
    read_bucketed,
    write_bucketed,
)
from enexory_parquet_export_spark.sources.tables import load_table
from enexory_parquet_export_spark.sources.writer import (
    compact_days,
    day_file_stats,
    read_day_partitioned,
    write_day_partitioned,
)


def _events_with_day(spark, sf_dir, n=5000):
    return (load_table(spark, sf_dir, "events").limit(n)
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd")))


def test_compact_days_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    path = str(tmp_path / "mirror")
    # compact_days issues one overwrite job per fragmented day, so the
    # test's wall is O(distinct days) × the host's job-dispatch floor
    # (the sf0.001 slice spans 30 days ≈ 90 dispatch-bound jobs — the
    # r13 driver pytest-gate timeout).  Five days exercise the same
    # contract: >1 file per day before, exactly 1 after, rows equal.
    ev = _events_with_day(spark, sf_dir)
    five = [r["day"] for r in
            ev.select("day").distinct().orderBy("day").limit(5).collect()]
    ev = ev.filter(F.col("day").isin(five))
    # fragment the way CDC merges do: one small file per day per batch
    for i in range(3):
        (ev.filter(F.col("event_id") % 3 == i)
           .write.mode("append").partitionBy("day").parquet(path))
    before = day_file_stats(spark, path)
    assert all(n > 1 for n, _ in before.values())
    rows_before = sorted(map(tuple, read_day_partitioned(spark, path)
                             .collect()))

    done = compact_days(spark, path, target_file_bytes=1 << 30)
    after = day_file_stats(spark, path)
    assert set(done) == set(before)
    assert all(n == 1 for n, _ in after.values())
    assert sorted(map(tuple, read_day_partitioned(spark, path)
                      .collect())) == rows_before


def test_compact_days_skips_already_compact(spark, sf_dir, tmp_path):
    path = str(tmp_path / "mirror")
    write_day_partitioned(_events_with_day(spark, sf_dir, 2000), path)
    compact_days(spark, path, target_file_bytes=1 << 30)
    assert compact_days(spark, path, target_file_bytes=1 << 30) == {}


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed by the same key/count must join with no
    Exchange on either side — the co-located CDC-merge shape."""
    ev = (load_table(spark, sf_dir, "events").limit(4000)
          .select(F.col("event_id").alias("pk"), "event_type", "value"))
    base = ev.filter(F.col("pk") % 2 == 0)
    changes = ev.filter(F.col("pk") % 3 == 0) \
                .select("pk", F.col("value").alias("new_value"))
    write_bucketed(base, "t_base", path=str(tmp_path / "base"),
                   n_buckets=8, sort_col="pk")
    write_bucketed(changes, "t_changes", path=str(tmp_path / "changes"),
                   n_buckets=8, sort_col="pk")
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_bucketed(spark, "t_base").join(
                read_bucketed(spark, "t_changes"), "pk")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # result correctness vs plain join
            expect = base.join(changes, "pk")
            assert sorted(map(tuple, joined.collect())) \
                == sorted(map(tuple, expect.select(*joined.columns).collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_base")
        spark.sql("DROP TABLE IF EXISTS t_changes")


def test_write_clustered_disjoint_footer_ranges(spark, sf_dir, tmp_path):
    """Range-clustered files must carry disjoint min/max footer stats
    on the cluster key (that disjointness is what lets a predicate
    prune whole files), and a selective read must return the same rows
    as from the unclustered layout."""
    import glob

    import pyarrow.parquet as pq

    from enexory_parquet_export_spark.sources.writer import write_clustered

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    path = str(tmp_path / "clustered")
    write_clustered(ev, path, ["event_id"], n_files=4)

    ranges = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(md.row_group(rg).column(i)
                       for i in range(md.row_group(rg).num_columns)
                       if md.row_group(rg).column(i).path_in_schema
                       == "event_id")
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 4
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, ranges  # files cover disjoint key ranges

    lo, hi = ranges[0][0], ranges[0][1]
    got = (spark.read.parquet(path)
           .filter((F.col("event_id") >= lo) & (F.col("event_id") <= hi)))
    expect = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") <= hi))
    assert sorted(map(tuple, got.select("event_id", "user_id", "value")
                      .collect())) == sorted(map(tuple, expect.collect()))


def test_day_partition_pruning_scans_only_filtered_day(spark, tmp_path):
    """A day-filter on the mirror must prune at the FILE level: the
    scan's inputFiles() may only touch the selected day's directory —
    this is the property that makes the reference's day-walking loop
    (db_extractor.py:209) a metadata no-op here instead of a data scan.
    """
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.sources.writer import (
        read_day_partitioned,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", float(i)) for i in range(300)],
        "pk bigint, day string, value double")
    path = str(tmp_path / "mirror")
    write_day_partitioned(df, path)

    scan = read_day_partitioned(spark, path).filter(F.col("day") == "2024-01-02")
    # inputFiles() lists the relation pre-pruning; the proof lives in
    # the physical scan node's PartitionFilters
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "2024-01-02" in pf, pf
    assert scan.count() == 100


def test_write_zordered_tightens_all_dimensions(spark, sf_dir, tmp_path):
    """Morton clustering keeps per-file footer min/max narrow on BOTH
    dimensions; lexicographic range-clustering only tightens the
    leading column — the second dimension's per-file range stays close
    to the full domain, so predicates on it cannot prune files."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.sources.writer import (
        write_clustered,
        write_zordered,
    )

    ev = load_table(spark, sf_dir, "events")
    # hash-decorrelated dims: the fixture's raw ids are correlated, and
    # correlated dims are the one case lexicographic clustering handles
    df = ev.select(F.pmod(F.hash("event_id"), F.lit(256))
                    .cast("int").alias("a"),
                   F.pmod(F.hash("user_id"), F.lit(256))
                    .cast("int").alias("b"),
                   "value")
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lex")
    write_zordered(df, zpath, ["a", "b"], bits=8, n_files=16)
    write_clustered(df, lpath, ["a", "b"], n_files=16)

    def avg_widths(path):
        wa, wb, n = 0, 0, 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins = {"a": 1 << 30, "b": 1 << 30}
            maxs = {"a": -1, "b": -1}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        mins[name] = min(mins[name], col.statistics.min)
                        maxs[name] = max(maxs[name], col.statistics.max)
            wa += maxs["a"] - mins["a"]
            wb += maxs["b"] - mins["b"]
            n += 1
        return wa / n, wb / n, n

    za, zb, zn = avg_widths(zpath)
    la, lb, ln = avg_widths(lpath)
    assert zn >= 8 and ln >= 8    # both actually split into many files
    # row preservation
    assert spark.read.parquet(zpath).count() == df.count()
    # lexicographic: leading col tight, second col ~ full domain
    assert la < 64 and lb > 180
    # z-order: BOTH dims well under half the domain per file
    assert za < 128 and zb < 128, (za, zb)


def test_zorder_key_overflow_guard_and_mask(spark):
    """ADVICE r2: 4 cols × 16 bits would put the top interleave bit on
    the BIGINT sign bit (negative keys sort first → clustering silently
    destroyed) — must raise; and out-of-range ranks are masked into
    their own lanes instead of corrupting neighbors."""
    import pytest as _pytest

    from enexory_parquet_export_spark.sources.writer import zorder_key

    with _pytest.raises(ValueError, match="overflows"):
        zorder_key(["a", "b", "c", "d"], bits=16)
    zorder_key(["a", "b", "c"], bits=21)           # 63 bits: fine

    # mask: rank 2^8 (out of range for bits=8) must NOT touch col b's
    # lanes — key equals the in-range (0, 3) interleave
    df = spark.createDataFrame([(256, 3), (0, 3)], "a bigint, b bigint")
    keys = [r["z"] for r in
            df.select(zorder_key(["a", "b"], bits=8).alias("z")).collect()]
    assert keys[0] == keys[1] >= 0
