"""Binlog pseudo-SQL parser (O11, consolidate.cpp:310-369) semantics.

Covers: quote-strip of @3, the NULL literal in @4, non-digit pk
dropping the block, UPDATE's WHERE-then-SET last-assignment-wins, @4/@6
ignored for DELETE, junk/preamble lines ignored, and a full round trip
against the typed changelog derivation feeding consolidate().
"""

from __future__ import annotations

from pyspark.sql import functions as F

from enexory_parquet_export_spark.operators import cdc
from enexory_parquet_export_spark.operators.binlog import (
    TABLE_LIT,
    parse_binlog_text,
    render_binlog_text,
)
from enexory_parquet_export_spark.sources.tables import load_table


def lines_df(spark, lines):
    return spark.createDataFrame(
        [("f1", None, i, ln) for i, ln in enumerate(lines)],
        "file string, file_mtime timestamp, line_no bigint, line string")


def parse(spark, lines):
    rows = parse_binlog_text(lines_df(spark, lines)).collect()
    return {r["pk"]: r for r in rows}, rows


def test_insert_block_typed_fields(spark):
    got, rows = parse(spark, [
        "# junk preamble the awk filter left behind",
        f"INSERT INTO {TABLE_LIT}",
        "SET",
        "  @1=42",
        "  @2=7",
        "  @3='2024-03-01 10:00:00'",
        "  @4=12.5",
        "  @5=0",
        "  @6=1709287200",
    ])
    assert len(rows) == 1
    r = got[42]
    assert (r["op"], r["date_time"], r["value"], r["ts_epoch"], r["day"]) == \
        ("I", "2024-03-01 10:00:00", 12.5, 1709287200, "2024-03-01")


def test_null_literal_and_bad_pk(spark):
    got, rows = parse(spark, [
        f"INSERT INTO {TABLE_LIT}",
        "SET", "@1=7", "@3='2024-03-01 10:00:00'", "@4=NULL", "@6=100",
        f"INSERT INTO {TABLE_LIT}",          # non-digit pk → block dropped
        "SET", "@1=12x", "@3='2024-03-01 11:00:00'", "@4=1.0", "@6=101",
    ])
    assert len(rows) == 1 and got[7]["value"] is None
    assert got[7]["ts_epoch"] == 100


def test_update_where_then_set_overrides(spark):
    got, rows = parse(spark, [
        f"UPDATE {TABLE_LIT}",
        "WHERE",                              # old row-image
        "@1=9", "@3='0001-01-01 00:00:00'", "@4=-1.0", "@6=0",
        "SET",                                # new row-image wins
        "@1=9", "@3='2024-04-02 08:30:00'", "@4=3.25", "@6=1712046600",
    ])
    r = got[9]
    assert (r["op"], r["date_time"], r["value"], r["ts_epoch"]) == \
        ("U", "2024-04-02 08:30:00", 3.25, 1712046600)


def test_delete_ignores_value_and_ts(spark):
    got, rows = parse(spark, [
        f"DELETE FROM {TABLE_LIT}",
        "WHERE", "@1=5", "@3='2024-05-05 00:00:01'", "@4=99.0", "@6=123",
    ])
    r = got[5]
    assert r["op"] == "D" and r["day"] == "2024-05-05"
    assert r["value"] is None and r["ts_epoch"] is None


def test_round_trip_matches_typed_changelog(spark, sf_dir):
    """render(changelog) → parse → the typed changelog, field-exact
    (value/ts for D are parser-null by the reference's skip rule), and
    the parsed stream feeds consolidate() identically."""
    log = cdc.derive_changelog(load_table(spark, sf_dir, "events")) \
             .filter(F.col("pk") != 0).limit(200)
    expected = {r["seq"]: r for r in log.collect()}
    parsed = parse_binlog_text(render_binlog_text(log))
    got = {r["seq"] // 1000: r for r in parsed.collect()}
    assert set(got) == set(expected)
    for seq, e in expected.items():
        g = got[seq]
        assert (g["pk"], g["op"], g["date_time"], g["day"]) == \
            (e["pk"], e["op"], e["date_time"], e["day"])
        if e["op"] != "D":
            assert g["ts_epoch"] == e["ts_epoch"]
            if e["value"] is None:
                assert g["value"] is None
            else:
                assert abs(g["value"] - e["value"]) < 1e-9

    # the parsed stream consolidates exactly like the typed one
    typed = cdc.consolidate(log).orderBy("day", "pk").collect()
    reparsed = cdc.consolidate(
        parsed.select(F.floor(F.col("seq") / 1000).cast("bigint").alias("seq"),
                      "pk", "op",
                      "date_time", "value",
                      F.coalesce("ts_epoch", F.lit(0)).alias("ts_epoch"),
                      "day")
    ).orderBy("day", "pk").collect()
    tkey = [(r["day"], r["pk"], r["op"], r["date_time"]) for r in typed]
    pkey = [(r["day"], r["pk"], r["op"], r["date_time"]) for r in reparsed]
    assert tkey == pkey


# ---------------------------------------------------------------------------
# Property-based round trip: ANY changelog the data contract allows must
# survive render → parse exactly (hypothesis drives op mix, pk spread,
# null values, epoch edge values; derandomized for reproducibility).
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_dt = st.tuples(
    st.integers(2000, 2099), st.integers(1, 12), st.integers(1, 28),
    st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
).map(lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d} "
                f"{t[3]:02d}:{t[4]:02d}:{t[5]:02d}")

_row = st.tuples(
    st.sampled_from("IUD"),
    st.integers(1, 2**62),
    _dt,
    st.one_of(st.none(),
              st.floats(allow_nan=False, allow_infinity=False,
                        width=64, min_value=-1e12, max_value=1e12)),
    st.one_of(st.none(), st.integers(0, 2**40)),
)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(_row, min_size=1, max_size=40))
def test_roundtrip_property(spark, rows):
    log = spark.createDataFrame(
        [(i, op, pk, dt, v, ts) for i, (op, pk, dt, v, ts)
         in enumerate(rows)],
        "seq bigint, op string, pk bigint, date_time string, "
        "value double, ts_epoch bigint")
    got = {r["seq"]: r for r in
           parse_binlog_text(render_binlog_text(log)).collect()}
    # seq survives as the block's first line number: seq*1000
    assert len(got) == len(rows)
    for i, (op, pk, dt, v, ts) in enumerate(rows):
        r = got[i * 1000]
        assert (r["op"], r["pk"], r["date_time"]) == (op, pk, dt)
        if op == "D":
            assert r["value"] is None and r["ts_epoch"] is None
        else:
            assert r["value"] == v
            assert r["ts_epoch"] == (ts if ts is not None else 0)
        assert r["day"] == dt[:10]


@settings(max_examples=6, deadline=None, derandomize=True)
@given(st.lists(_row, min_size=1, max_size=25))
def test_roundtrip_identity_matches_composition(spark, rows):
    """r14 x43 collapse: ``roundtrip_changelog_identity`` must equal
    ``parse_binlog_text ∘ render_binlog_text`` row-for-row — on the
    contract domain AND on the adversarial corners the equivalence
    argument names (NULL/empty date_time, NULL value, NULL/negative
    ts_epoch, NULL/negative/zero pk: pk corners drop the block in both
    forms; a NULL date_time's @3 SET line vanishes so UPDATE falls
    back to the stale WHERE image while INSERT/DELETE parse NULL)."""
    from enexory_parquet_export_spark.operators.binlog import (
        roundtrip_changelog_identity,
    )

    edge = [
        ("U", 7, None, 1.5, 10),      # null dt: stale image wins for U
        ("I", 8, None, None, None),   # null dt: slot NULL for I
        ("D", 9, None, 2.0, 11),      # null dt + D
        ("U", 10, "", 3.0, 12),       # empty dt: parses as literal ''
        ("I", -5, "2024-01-01 00:00:00", 1.0, 1),   # negative pk drops
        ("U", None, "2024-01-01 00:00:00", 1.0, 1),  # null pk drops
        ("I", 11, "2024-01-01 00:00:00", 1.0, -7),  # negative ts -> 0
        ("D", 0, "2024-01-01 00:00:00", 1.0, 1),    # pk=0 drops
    ]
    allrows = list(rows) + edge
    log = spark.createDataFrame(
        [(i, op, pk, dt, v, ts) for i, (op, pk, dt, v, ts)
         in enumerate(allrows)],
        "seq bigint, op string, pk bigint, date_time string, "
        "value double, ts_epoch bigint")
    cols = ["seq", "pk", "op", "date_time", "value", "ts_epoch", "day"]
    via_text = sorted(
        tuple(r[c] for c in cols) for r in
        parse_binlog_text(render_binlog_text(log)).select(*cols).collect())
    collapsed = sorted(
        tuple(r[c] for c in cols) for r in
        roundtrip_changelog_identity(log).select(*cols).collect())
    assert collapsed == via_text


def test_assign_global_seq_numeric_suffix_rank(spark):
    """Segment rank must use the NUMERIC index (mysql-bin.999999 <
    mysql-bin.1000000), where lexical order breaks at the widening."""
    from enexory_parquet_export_spark.operators.binlog import assign_global_seq

    df = spark.createDataFrame(
        [("mysql-bin.1000000", 2, None), ("mysql-bin.999999", 5, None)],
        "file string, seq bigint, file_mtime timestamp")
    got = {r["file"]: r["seq"] for r in assign_global_seq(df).collect()}
    assert got["mysql-bin.999999"] == 5                  # rank 0: unchanged
    assert got["mysql-bin.1000000"] == (1 << 40) + 2     # rank 1: rebased
    assert got["mysql-bin.1000000"] > got["mysql-bin.999999"]


def test_assign_global_seq_prefers_mtime(spark):
    """Among files without a numeric suffix, file_mtime (rotation
    finalization order) beats name — part-file names carry random
    UUIDs."""
    import datetime

    from enexory_parquet_export_spark.operators.binlog import assign_global_seq

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime.datetime(2024, 1, 1, 0, 0, 1)
    df = spark.createDataFrame(
        [("part-aaaa.txt", 1, t1), ("part-zzzz.txt", 1, t0)],
        "file string, seq bigint, file_mtime timestamp")
    got = {r["file"]: r["seq"] for r in assign_global_seq(df).collect()}
    assert got["part-zzzz.txt"] == 1            # older mtime → rank 0
    assert got["part-aaaa.txt"] == (1 << 40) + 1
    assert "file_mtime" not in assign_global_seq(df).columns


def test_cross_segment_last_event_wins(spark):
    """The ADVICE r2 hazard: an I at a HIGH line number in the older
    segment vs a U at a LOW line number in the newer one.  Per-file seq
    would let the old I win last-event-wins; the global rebase must make
    one-shot consolidation equal the reference's sequential per-segment
    apply (I then U on empty base → upsert carrying the U's payload)."""
    from enexory_parquet_export_spark.operators.binlog import assign_global_seq

    lines = spark.createDataFrame(
        [("mysql-bin.000001", 100, f"INSERT INTO {TABLE_LIT}"),
         ("mysql-bin.000001", 101, "SET"),
         ("mysql-bin.000001", 102, "@1=1"),
         ("mysql-bin.000001", 103, "@3='2024-03-01 10:00:00'"),
         ("mysql-bin.000001", 104, "@4=1.0"),
         ("mysql-bin.000001", 105, "@6=100"),
         ("mysql-bin.000002", 1, f"UPDATE {TABLE_LIT}"),
         ("mysql-bin.000002", 2, "SET"),
         ("mysql-bin.000002", 3, "@1=1"),
         ("mysql-bin.000002", 4, "@3='2024-03-01 10:00:00'"),
         ("mysql-bin.000002", 5, "@4=2.0"),
         ("mysql-bin.000002", 6, "@6=200")],
        "file string, line_no bigint, line string",
    ).withColumn("file_mtime", F.lit(None).cast("timestamp"))
    log = assign_global_seq(parse_binlog_text(lines))
    base = spark.createDataFrame(
        [], "day string, pk bigint, date_time string, value double, "
            "ts_epoch bigint")
    rows = cdc.apply_changes(base, cdc.consolidate(log)).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 2.0 and rows[0]["ts_epoch"] == 200


def test_read_binlog_dir_keeps_line_order(spark, tmp_path):
    """I, D, I on one key inside one segment file ends as I: the text
    reader must number lines within the file, or the three blocks tie
    on ``seq`` and consolidation picks one at random."""
    from enexory_parquet_export_spark.operators.binlog import (
        assign_global_seq,
        read_binlog_dir,
    )

    def block(header, value, epoch):
        return [header, "SET", "@1=7", "@3='2024-03-01 10:00:00'",
                f"@4={value}", f"@6={epoch}"]

    seg = tmp_path / "binlogs" / "mysql-bin.000001"
    seg.parent.mkdir()
    seg.write_text("\n".join(block(f"INSERT INTO {TABLE_LIT}", 1.0, 100)
                             + block(f"DELETE FROM {TABLE_LIT}", 1.0, 101)
                             + block(f"INSERT INTO {TABLE_LIT}", 3.0, 102)))
    log = assign_global_seq(parse_binlog_text(
        read_binlog_dir(spark, str(seg.parent))))
    rows = cdc.consolidate(log).collect()
    assert [(r["op"], r["value"], r["ts_epoch"]) for r in rows] == \
        [("I", 3.0, 102)]
