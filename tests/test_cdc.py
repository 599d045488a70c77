"""CDC merge semantics — the flagship's nontrivial rules, unit-tested
against the reference's map algebra (consolidate.cpp:56-109,184-214)
plus a randomized replay-oracle differential test (the reference's own
strongest test pattern, HA_test2.py:158-256, restated for the engine).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enexory_parquet_export_spark.operators.cdc import (
    OP_MAPPING,
    apply_changes,
    cdc_merge,
    consolidate,
    derive_changelog,
)

SCHEMA = "seq bigint, pk bigint, op string, date_time string, value double, ts_epoch bigint, day string"
BASE_SCHEMA = "day string, pk bigint, date_time string, value double, ts_epoch bigint"

D = "2024-01-01"


def ev(seq, pk, op, value=1.0):
    return (seq, pk, op, f"{D} 00:00:{seq % 60:02d}", value, 1700000000 + seq, D)


def chg(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def base_df(spark, rows):
    return spark.createDataFrame(
        [(D, pk, f"{D} 00:00:00", v, 1700000000) for pk, v in rows], BASE_SCHEMA)


def merged_dict(df):
    return {(r["day"], r["pk"]): r["value"] for r in df.collect()}


class TestConsolidate:
    def test_last_event_wins(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "I", 1.0), ev(2, 10, "U", 2.0),
                                      ev(3, 10, "U", 3.0)])).collect()
        assert len(out) == 1
        assert out[0]["op"] == "I"          # I then Us → still an insert fold
        assert out[0]["value"] == 3.0       # ... with the LAST payload

    def test_insert_then_delete_kills(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "I"), ev(2, 10, "D")])).collect()
        assert out[0]["op"] == "D"

    def test_delete_then_insert_revives(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "D"), ev(2, 10, "I", 9.0)])).collect()
        assert out[0]["op"] == "I" and out[0]["value"] == 9.0

    def test_update_after_delete_stays_dead(self, spark):
        # consolidate.cpp:194 — the U lands in the update map, but the key
        # no longer exists after the delete phase, so it must not revive.
        out = consolidate(chg(spark, [ev(1, 10, "I"), ev(2, 10, "D"),
                                      ev(3, 10, "U", 7.0)])).collect()
        assert out[0]["op"] == "D"

    def test_only_updates(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "U", 5.0), ev(2, 10, "U", 6.0)])).collect()
        assert out[0]["op"] == "U" and out[0]["value"] == 6.0

    def test_per_day_per_pk_keys(self, spark):
        rows = [ev(1, 10, "I"), ev(2, 11, "I"),
                (3, 10, "I", "2024-01-02 00:00:03", 1.0, 1700000003, "2024-01-02")]
        assert consolidate(chg(spark, rows)).count() == 3


class TestApplyChanges:
    def test_delete_update_insert_order(self, spark):
        base = base_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
        changes = chg(spark, [ev(10, 1, "D"),           # delete existing
                              ev(11, 2, "U", 20.0),     # update existing
                              ev(12, 4, "I", 40.0)])    # insert new
        changes = consolidate(changes)
        out = merged_dict(apply_changes(base, changes))
        assert out == {(D, 2): 20.0, (D, 3): 3.0, (D, 4): 40.0}

    def test_update_missing_pk_is_noop(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 99, "U", 9.0)]))
        out = merged_dict(apply_changes(base, changes))
        assert out == {(D, 1): 1.0}

    def test_insert_upserts_existing(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 1, "I", 11.0)]))
        out = merged_dict(apply_changes(base, changes))
        assert out == {(D, 1): 11.0}

    def test_delete_missing_pk_is_noop(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 99, "D")]))
        assert merged_dict(apply_changes(base, changes)) == {(D, 1): 1.0}

    def test_merge_to_empty(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 1, "D")]))
        assert apply_changes(base, changes).count() == 0


def replay_oracle(base: dict, events: list) -> dict:
    """Single-threaded dict reimplementation of consolidate.cpp's
    consolidate+merge semantics (the reference's EXPECTED_TABLE
    pattern, HA_test2.py:36)."""
    state = dict(base)
    # within-batch consolidation: effective op per key
    by_key: dict = {}
    for seq, pk, op, value in sorted(events):
        k = by_key.setdefault(pk, {"last_i": -1, "last_d": -1, "last": None})
        if op == "I":
            k["last_i"] = seq
        elif op == "D":
            k["last_d"] = seq
        k["last"] = value
    for pk, k in by_key.items():
        if k["last_i"] > k["last_d"]:
            state[pk] = k["last"]                      # insert-as-upsert
        elif k["last_d"] >= 0:
            state.pop(pk, None)                        # delete wins
        elif pk in state:
            state[pk] = k["last"]                      # update-if-exists
    return state


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_randomized_replay_differential(spark, seed):
    rng = random.Random(seed)
    base_rows = [(pk, float(rng.randint(0, 50))) for pk in rng.sample(range(30), 12)]
    events = []
    for seq in range(200):
        op = rng.choices("IUD", weights=[0.4, 0.4, 0.2])[0]
        events.append((seq, rng.randrange(30), op, float(rng.randint(0, 99))))

    expected = replay_oracle(dict(base_rows), events)

    base = base_df(spark, base_rows)
    changes = consolidate(chg(
        spark, [ev(seq, pk, op, v) for seq, pk, op, v in events]))
    actual = {pk: v for (_, pk), v in merged_dict(apply_changes(base, changes)).items()}
    assert actual == expected


def test_count_parity_invariant(spark):
    """#rows_after = #rows_before − applied_deletes + net_new_inserts
    (the reference's log accounting, consolidate.cpp:216-224)."""
    base = base_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
    changes = consolidate(chg(spark, [
        ev(10, 1, "D"), ev(11, 2, "U", 5.0), ev(12, 9, "I", 6.0),
        ev(13, 8, "U", 7.0)]))  # update-to-missing: no-op
    merged = apply_changes(base, changes)
    assert merged.count() == 3 - 1 + 1


def test_derive_changelog_shape(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from enexory_parquet_export_spark.sources.tables import load_table
    events = load_table(spark, sf_dir, "events")
    log = derive_changelog(events)
    assert log.columns == ["seq", "pk", "op", "date_time", "value", "ts_epoch", "day"]
    ops = {r["op"] for r in log.select("op").distinct().collect()}
    assert ops <= {"I", "U", "D"}
    n19 = log.filter(F.length("date_time") != 19).count()
    assert n19 == 0


# ---------------------------------------------------------------------------
# Hypothesis: consolidation + clause-table apply ≡ TRUE sequential
# replay.  The reference never applies events one at a time — it
# consolidates into maps first — but its CLAIM (consolidate.cpp:56-109
# + 184-214) is that the consolidated apply equals sequential
# semantics: I upserts, U updates-if-exists, D deletes.  This property
# pins the consolidated algebra against the sequential definition with
# shrinking, covering orderings the seeded differential tests may miss
# (U-before-I on a missing key, D-then-U, I-D-I chains, ...).
# ---------------------------------------------------------------------------

try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
    HAVE_HYP = True
except ImportError:          # pragma: no cover
    HAVE_HYP = False


def sequential_replay(base, events):
    state = dict(base)
    for seq, pk, op, value in sorted(events):
        if op == "I":
            state[pk] = value
        elif op == "U":
            if pk in state:
                state[pk] = value
        else:
            state.pop(pk, None)
    return state


if HAVE_HYP:
    _events = st.lists(
        st.tuples(st.integers(0, 10_000),            # seq (dedup below)
                  st.integers(0, 6),                 # pk — forced collisions
                  st.sampled_from("IUD"),
                  st.integers(0, 99).map(float)),
        max_size=40).map(
            lambda evs: [(s, pk, op, v)
                         for s, (pk, op, v) in
                         zip(sorted({e[0] for e in evs}),
                             [(e[1], e[2], e[3]) for e in evs])])
    _base = st.dictionaries(st.integers(0, 6), st.integers(0, 99).map(float),
                            max_size=5)

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(base=_base, events=_events)
    def test_consolidated_apply_equals_sequential_replay(base, events):
        assert replay_oracle(base, events) == sequential_replay(base, events)

    # Each case is one day of its own, so one Spark merge checks a list
    # of (base, batch) pairs; the named example holds, in day order:
    # base-only keys next to an updated one, U on a missing key, D-then-I
    # on a base key, an I-D-U chain with and without a base row, and a
    # batch that deletes every row of its day.
    _NAMED_CASES = [
        ({1: 1.0, 2: 2.0}, [(1, 1, "U", 5.0)]),
        ({}, [(1, 3, "U", 1.0)]),
        ({4: 1.0}, [(1, 4, "D", 0.0), (2, 4, "I", 7.0)]),
        ({}, [(1, 5, "I", 1.0), (2, 5, "D", 0.0), (3, 5, "U", 3.0)]),
        ({5: 9.0}, [(1, 5, "I", 1.0), (2, 5, "D", 0.0), (3, 5, "U", 3.0)]),
        ({1: 1.0, 2: 2.0}, [(1, 1, "D", 0.0), (2, 2, "D", 0.0)]),
    ]

    @settings(max_examples=20, deadline=None, derandomize=True)
    @given(cases=st.lists(st.tuples(_base, _events), min_size=1, max_size=8))
    @example(cases=_NAMED_CASES)
    def test_fused_fold_equals_join_and_sequential_replay(spark, cases):
        """merge_changelog(base, batch) ≡ apply_changes(base,
        consolidate(batch)) ≡ sequential replay, row for row."""
        from enexory_parquet_export_spark.operators.cdc import merge_changelog

        def day(i):
            return f"2024-01-{i + 1:02d}"

        base = spark.createDataFrame(
            [(day(i), pk, f"{day(i)} 00:00:00", v, 1700000000)
             for i, (b, _) in enumerate(cases) for pk, v in b.items()],
            BASE_SCHEMA)
        log = spark.createDataFrame(
            [(seq, pk, op, f"{day(i)} 00:00:{seq % 60:02d}", v,
              1700000000 + seq, day(i))
             for i, (_, evs) in enumerate(cases) for seq, pk, op, v in evs],
            SCHEMA)
        fused = sorted(merge_changelog(base, log).collect())
        joined = sorted(apply_changes(base, consolidate(log)).collect())
        assert fused == joined
        expected = {(day(i), pk): v for i, (b, evs) in enumerate(cases)
                    for pk, v in sequential_replay(b, evs).items()}
        assert {(r["day"], r["pk"]): r["value"] for r in fused} == expected


# ---------------------------------------------------------------------------
# q24 — FIXTURES.md §2.1: the base replays the 'I' events up to the
# median event_id, and every later event merges on top.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = ("event_id bigint, ts string, user_id bigint, "
                 "event_type string, value double")


def q24_model(events):
    """FIXTURES.md §2.1 on plain tuples: events = [(event_id, ts,
    user_id, event_type, value)] with unique ids → {(day, id):
    (date_time, value, ts at UTC+2)}."""
    import statistics
    from datetime import datetime, timedelta

    s0 = statistics.median(e[0] for e in events) if events else None
    log = [(eid, (ts[:10], uid), OP_MAPPING[etype],
            (ts, None if etype == "purchase" else value))
           for eid, ts, uid, etype, value in events]
    base = {}
    for seq, key, op, payload in sorted(log):
        if op == "I" and seq <= s0:
            base[key] = payload
    final = sequential_replay(base, [e for e in log if e[0] > s0])
    fmt = "%Y-%m-%d %H:%M:%S"
    return {key: (dt, v, (datetime.strptime(dt, fmt) + timedelta(hours=2)).strftime(fmt))
            for key, (dt, v) in final.items()}


def test_q24_splits_at_the_exact_median(spark, tmp_path):
    """1,000 events whose lower median event_id is 5036, where the
    sketch median of a single-partition read returns 5035.  Event 5036
    deletes a key whose only other event is an earlier insert: at the
    median it belongs to the base, which replays inserts only, so the
    key survives, as the DuckDB oracle keeps it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from enexory_parquet_export_spark.queries import ORACLE_SQL, SPARK_QUERIES

    rng = random.Random(1)
    ids = rng.sample(range(10_000), 1_000)
    assert sorted(ids)[499] == 5036
    special = {min(ids): "signup", 5036: "error"}     # user 99's only events
    rows = []
    for eid in ids:
        uid, etype = ((99, special[eid]) if eid in special
                      else (rng.randrange(10), rng.choice(sorted(OP_MAPPING))))
        day = 0 if uid == 99 else eid % 3
        rows.append((eid, datetime(2024, 1, 1) + timedelta(days=day, seconds=eid),
                     uid, etype, float(rng.randint(0, 99))))
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array([None] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))

    got = [tuple(r) for r in SPARK_QUERIES["q24_cdc_merge"](spark, str(tmp_path)).collect()]
    assert [r[1] for r in got].count(99) == 1
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    assert sorted(got) == sorted(con.execute(ORACLE_SQL["q24_cdc_merge"]).fetchall())


if HAVE_HYP:
    _q24_events = st.lists(
        st.tuples(st.sampled_from(["2024-01-01", "2024-01-02"]),
                  st.integers(0, 86_399),                # second of the day
                  st.integers(0, 3),                     # user_id
                  st.sampled_from(sorted(OP_MAPPING)),
                  st.integers(0, 99).map(float)),
        max_size=60).flatmap(lambda body: st.lists(
            st.integers(0, 100_000), min_size=len(body), max_size=len(body),
            unique=True).map(lambda ids: [
                (eid, f"{day} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}",
                 uid, etype, v)
                for eid, (day, sec, uid, etype, v) in zip(ids, body)]))

    @settings(max_examples=15, deadline=None, derandomize=True)
    @given(events=_q24_events)
    def test_q24_equals_split_replay_model(spark, events):
        """cdc_merge ≡ the §2.1 model: the exact median, the last I at
        or below it per key, then a sequential replay of the rest.  The
        median is global, so each example is a Spark job of its own."""
        df = (spark.createDataFrame(events, EVENTS_SCHEMA)
              .withColumn("ts", F.to_timestamp("ts")))
        got = {(r["day"], r["id"]): (r["date_time"], r["value"], r["ts"])
               for r in cdc_merge(df).collect()}
        assert got == q24_model(events)
