"""Driver-contract tests for __spark_entry__ and the writer layer."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def test_entry_runs_and_has_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"day", "id", "date_time", "value", "ts"}


def test_every_query_has_oracle_or_is_flagged(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 42
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle entries without queries: {missing}"
    # every declared query has an oracle unless it is on the explicit
    # rows-only allowlist (genuinely non-cross-engine-comparable output;
    # each entry must document its alternative correctness check)
    ROWS_ONLY_OK = {
        # HLL++ registers are engine-private; 3σ error bound vs exact
        # counts is pytest'd (test_functions.test_approx_distinct_...)
        "x53_approx_distinct",
        # quantile-sketch internals are engine-private; rank-error
        # bound vs exact order statistics is pytest'd
        # (test_functions.test_approx_percentile_error_bound)
        "x74_approx_percentiles",
    }
    weak = set(qs) - set(oracles) - ROWS_ONLY_OK
    assert not weak, f"queries without oracle SQL: {weak}"


def test_queries_return_lazy_dataframes(spark, sf_dir):
    # spot-check a fast pair: callable → DataFrame with named columns
    qs = entrymod.queries()
    df = qs["q01_scan_project"](spark, sf_dir)
    assert df.columns  # analysis succeeded without execution


def test_configure_force_repins_mutated_runtime_conf(spark):
    """configure() is memoized per applicationId (r13: ~20 conf.set
    py4j round trips x 3-4 calls per query construction), so a
    mid-session RUNTIME_CONFS mutation is NOT re-pinned by configure()
    — only configure_force() re-applies it.  Pins the documented
    semantics (r13 VERDICT item 8)."""
    from enexory_parquet_export_spark import session as sess

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    pinned = sess.RUNTIME_CONFS[key]
    try:
        sess.configure(spark)  # ensure memoized
        spark.conf.set(key, "7m")
        sess.configure(spark)  # memo hit: must NOT silently re-pin
        assert spark.conf.get(key) == "7m"
        sess.configure_force(spark)  # force: must re-pin
        assert spark.conf.get(key) == pinned
        # and a force re-arms nothing extra: plain configure stays memoized
        spark.conf.set(key, "7m")
        sess.configure(spark)
        assert spark.conf.get(key) == "7m"
    finally:
        sess.configure_force(spark)
        assert spark.conf.get(key) == pinned


def test_configure_force_logs_a_conf_it_cannot_set(caplog):
    """A conf the session refuses is logged with its key and the error;
    the other confs are still applied."""
    from types import SimpleNamespace

    from enexory_parquet_export_spark import session as sess

    refused = next(iter(sess.RUNTIME_CONFS))
    applied = {}

    def conf_set(key, value):
        if key == refused:
            raise RuntimeError("not settable here")
        applied[key] = value

    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="fake"),
                           conf=SimpleNamespace(set=conf_set))
    before = set(sess._CONFIGURED)
    try:
        with caplog.at_level("WARNING", logger=sess.__name__):
            sess.configure_force(fake)
    finally:
        sess._CONFIGURED.clear()
        sess._CONFIGURED.update(before)
    assert refused in caplog.text and "not settable here" in caplog.text
    assert set(applied) == set(sess.RUNTIME_CONFS) - {refused}


def test_day_partitioned_roundtrip(spark, tmp_path):
    from enexory_parquet_export_spark.sources.writer import (
        list_days,
        read_day_partitioned,
        remove_empty_days,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, "2024-01-01 00:00:01", 1.0, 100),
         ("2024-01-02", 2, "2024-01-02 00:00:02", None, 200)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    path = str(tmp_path / "mirror")
    write_day_partitioned(df, path)
    assert sorted(list_days(spark, path)) == ["2024-01-01", "2024-01-02"]

    back = read_day_partitioned(spark, path)
    assert back.count() == 2
    # dynamic partition overwrite: rewriting one day leaves the other intact
    upd = df.filter(F.col("day") == "2024-01-01").withColumn("value", F.lit(9.0))
    write_day_partitioned(upd, path)
    back2 = read_day_partitioned(spark, path)
    assert back2.count() == 2
    assert back2.filter(F.col("day") == "2024-01-01").collect()[0]["value"] == 9.0


def test_day_partitioned_write_returns_days_written(spark, tmp_path):
    """The writer reports the sorted days it wrote; an empty input over
    an existing mirror writes nothing, returns [] and leaves it as it
    was."""
    from enexory_parquet_export_spark.sources.writer import (
        list_days,
        read_day_partitioned,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [("2024-01-03", 3, 1.0), ("2024-01-01", 1, 2.0), ("2024-01-03", 4, 3.0)],
        "day string, pk bigint, value double")
    path = str(tmp_path / "mirror")
    assert write_day_partitioned(df, path) == ["2024-01-01", "2024-01-03"]
    before = sorted(map(tuple, read_day_partitioned(spark, path).collect()))

    assert write_day_partitioned(df.filter(F.col("pk") < 0), path) == []
    assert list_days(spark, path) == ["2024-01-01", "2024-01-03"]
    assert sorted(map(tuple, read_day_partitioned(spark, path).collect())) == before


def test_footer_schema_equals_inferred_schema(spark, tmp_path, count_jobs):
    """The schema read on the driver from one file's footer is the one
    Spark's inference job finds, partition columns aside, and reading
    it submits no Spark job: on a multi-file flat directory, a mirror
    and one of its day directories, a TIMESTAMP(NANOS) file and a file
    whose column is all NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from enexory_parquet_export_spark.sources.writer import (
        footer_schema,
        write_day_partitioned,
    )

    rows = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", f"2024-01-0{1 + i % 3} 00:00:00",
          float(i), None) for i in range(30)],
        "id bigint, day string, date_time string, value double, empty double")
    flat, mirror = str(tmp_path / "flat"), str(tmp_path / "mirror")
    rows.drop("day").repartition(3).write.parquet(flat)
    write_day_partitioned(rows, mirror)
    nanos, nulls = str(tmp_path / "nanos.parquet"), str(tmp_path / "nulls.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns")),
                             "id": pa.array([1, 2], pa.int64())}),
                   nanos, version="2.6")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "n": pa.nulls(2)}), nulls)
    for path in (flat, f"{mirror}/day=2024-01-02", mirror, nanos, nulls):
        jobs, got = count_jobs(footer_schema, spark, path)
        inferred = spark.read.parquet(path).schema
        assert got == StructType([f for f in inferred if f.name != "day"]), path
        assert jobs == [], path


def test_footer_schema_of_path_without_data_file_names_it(spark, tmp_path):
    """A directory holding only Spark's ``_SUCCESS`` marker, or no
    path at all, has no footer to read: the error names the path."""
    import re

    from enexory_parquet_export_spark.sources.writer import footer_schema

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    for path in (str(empty), str(tmp_path / "missing")):
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            footer_schema(spark, path)


def test_day_partition_pruning_scans_only_filtered_day(spark, tmp_path):
    """A day-filter on the mirror must prune at the FILE level: the
    scan's inputFiles() may only touch the selected day's directory —
    this is the property that makes the reference's day-walking loop
    (db_extractor.py:209) a metadata no-op here instead of a data scan.
    """
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


def test_driver_window_covers_contract_core():
    """The driver's correctness check hashes only the FIRST 50 entries
    of queries() in iteration order, and the window rotates per round
    (the ledger ``ROTATION`` in the module).  queries() serves the
    last recorded round.  Every recorded round holds 50 distinct slots,
    each a declared oracle-paired query (the rows-only sketches x53/x74
    must never waste a slot), and every paired query holds a slot in
    every three consecutive rounds — x109, born r13, excepted."""
    rounds, windows = zip(*entrymod.ROTATION.items())
    names = list(entrymod.queries())
    assert len(names) >= 50
    assert tuple(n.split("_")[0] for n in names[:50]) == windows[-1]
    paired = {n.split("_")[0] for n in entrymod.oracle_sql()}
    for rnd, window in entrymod.ROTATION.items():
        assert len(window) == len(set(window)) == 50, rnd
        assert set(window) <= paired, (rnd, sorted(set(window) - paired))
        assert not {"x53", "x74"} & set(window), rnd
    for i in range(len(windows) - 2):
        unheld = paired - set().union(*windows[i:i + 3])
        assert unheld <= {"x109"}, (rounds[i], sorted(unheld))


def test_typed_divergence_detector_catches_uncast_window_sum():
    """tools/check_oracle.py must fail on oracle SQL whose DuckDB type
    diverges from Spark's even when every value is equal — the class
    that kept q21 driver-red for two rounds (HUGEINT vs BIGINT)."""
    import duckdb
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_oracle import type_mismatches
    from pyspark.sql.types import LongType, StructField, StructType

    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM range(10) r(v)")
    schema = StructType([StructField("s", LongType())])
    uncast = "SELECT sum(v) OVER () AS s FROM t"       # DuckDB → HUGEINT
    cast = "SELECT CAST(sum(v) OVER () AS BIGINT) AS s FROM t"
    assert type_mismatches(schema, con, uncast), \
        "un-cast window sum (HUGEINT) must be flagged"
    assert not type_mismatches(schema, con, cast)


def test_reference_layout_roundtrip(spark, tmp_path):
    """Compat export (VERDICT r2 #7): one YYYY-MM-DD.parquet per day,
    flat, day in the FILENAME only — reference tooling's layout
    (db_extractor.py:15,211,247) — and the filename-parse read-back."""
    from enexory_parquet_export_spark.sources.writer import (
        read_reference_layout,
        write_reference_layout,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, "2024-01-01 10:00:00", 9.0, 100),
         ("2024-01-01", 2, "2024-01-01 11:00:00", 8.0, 101),
         ("2024-01-02", 3, "2024-01-02 10:00:00", 7.0, 102)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    out = str(tmp_path / "ref")
    assert write_reference_layout(df, out) == ["2024-01-01", "2024-01-02"]
    names = sorted(p.name for p in (tmp_path / "ref").iterdir()
                   if not p.name.startswith((".", "_")))  # FS crc sidecars
    assert names == ["2024-01-01.parquet", "2024-01-02.parquet"]

    back = read_reference_layout(spark, out)
    assert {(r["day"], r["pk"]) for r in back.collect()} == \
        {("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)}
    # the day column lives in the filename, not the file
    raw_cols = spark.read.parquet(out + "/2024-01-01.parquet").columns
    assert "day" not in raw_cols

    # idempotent re-export replaces, never duplicates
    write_reference_layout(df.filter(F.col("day") == "2024-01-01"), out)
    assert sorted(p.name for p in (tmp_path / "ref").iterdir()
                  if not p.name.startswith((".", "_"))) == names


def test_mirror_to_replica_byte_identical(spark, tmp_path):
    """O27 second-mirror sink: the replica is a verbatim byte clone of
    the primary's day partitions (the reference rsyncs,
    parse_binlogs.sh:146-151), and re-sync drops days the primary lost."""
    import hashlib

    from enexory_parquet_export_spark.sources.writer import (
        mirror_to_replica,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, 9.0), ("2024-01-02", 2, 8.0)],
        "day string, pk bigint, value double")
    primary, replica = str(tmp_path / "p"), str(tmp_path / "r")
    write_day_partitioned(df, primary)
    assert mirror_to_replica(spark, primary, replica) == \
        ["2024-01-01", "2024-01-02"]

    def day_hashes(root):
        out = {}
        for daydir in sorted(tmp_path.joinpath(root).iterdir()):
            if not daydir.name.startswith("day="):
                continue
            for f in sorted(daydir.iterdir()):
                if f.name.endswith(".parquet"):
                    out[(daydir.name, f.name)] = hashlib.sha256(
                        f.read_bytes()).hexdigest()
        return out

    assert day_hashes("p") == day_hashes("r") and day_hashes("p")

    # primary loses a day → re-sync removes it from the replica
    import shutil
    shutil.rmtree(tmp_path / "p" / "day=2024-01-02")
    mirror_to_replica(spark, primary, replica)
    assert not (tmp_path / "r" / "day=2024-01-02").exists()
    assert (tmp_path / "r" / "day=2024-01-01").exists()


def test_mirror_to_replica_copies_only_days_that_differ(spark, tmp_path):
    """A day is copied when the replica lacks it or lists other files
    than the primary: an unchanged mirror copies nothing, a rewritten
    day is copied, and a replica day missing a file (a copy cut short)
    is copied again."""
    from enexory_parquet_export_spark.sources.writer import (
        day_files,
        mirror_to_replica,
        write_day_partitioned,
    )

    def day_df(*days):
        return spark.createDataFrame([(d, 1, 9.0) for d in days],
                                     "day string, pk bigint, value double")

    primary, replica = str(tmp_path / "p"), str(tmp_path / "r")
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    write_day_partitioned(day_df(*days), primary)
    assert mirror_to_replica(spark, primary, replica) == days
    assert mirror_to_replica(spark, primary, replica) == []

    write_day_partitioned(day_df("2024-01-02"), primary)   # same rows, new file
    assert mirror_to_replica(spark, primary, replica) == ["2024-01-02"]

    for f in (tmp_path / "r" / "day=2024-01-03").glob("*.parquet"):
        f.unlink()
    assert mirror_to_replica(spark, primary, replica) == ["2024-01-03"]
    assert day_files(spark, primary) == day_files(spark, replica)


def test_declared_query_code_never_persists_directly():
    """bench.py's steady-run purity detection observes
    session.materialize and construction-scoped jobs (and, since r6, a
    storage-info snapshot).  Keep the invariant enforceable at source
    level too: declared-query code paths must route every
    materialization through session.materialize — a direct
    .persist()/.cache() would bypass the audit flag, the reliable-
    checkpoint switch, AND the bench purity counter at once (r5
    ADVICE)."""
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "enexory_parquet_export_spark")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            for i, line in enumerate(open(path), 1):
                if "lint: allow-persist" in line:
                    # explicit, comment-justified exemption (bounded
                    # foreachBatch-scoped cache with unpersist)
                    continue
                code = line.split("#", 1)[0]
                if re.search(r"\.(persist|cache)\(", code):
                    hits.append(f"{path}:{i}: {line.strip()}")
    assert not hits, "direct persist/cache in package code:\n" + "\n".join(hits)


def test_settings_table_names_every_env_variable():
    """README's Settings table lists exactly the ``SPARK_GRAFT_*``
    variables that the package, ``bench.py`` and ``__spark_entry__.py``
    mention, so a new knob cannot land without a row."""
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    name = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
    paths = [os.path.join(repo, "bench.py"),
             os.path.join(repo, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(
            os.path.join(repo, "enexory_parquet_export_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    in_code = set()
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            in_code.update(name.findall(fh.read()))
    with open(os.path.join(repo, "README.md"), encoding="utf-8") as fh:
        readme = fh.read()
    section = readme.split("\n## Settings\n", 1)[1].split("\n## ", 1)[0]
    in_table = {m for line in section.splitlines() if line.startswith("| `")
                for m in name.findall(line.split("|")[1])}
    assert in_code and in_code == in_table
