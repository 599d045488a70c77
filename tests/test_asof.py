"""As-of join: both physical strategies agree and honor edge semantics.

Semantics under test (operators.asof): at-or-before inclusion of an
event exactly at the probe time, highest-``seq`` tie-break among equal
event times, and null payloads for keys whose events are all later
than the probe (left semantics).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from enexory_parquet_export_spark.operators.asof import (
    asof_join,
    asof_join_literal_probes,
)

PROBES = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")


def events_df(spark):
    rows = [
        # key 1: events straddling both probes; tie at probe 1 exact time
        (1, "2024-01-05 12:00:00", 10, 1.0),
        (1, "2024-01-10 00:00:00", 11, 2.0),   # exactly at probe 1 → included
        (1, "2024-01-10 00:00:00", 12, 3.0),   # same ts, higher seq wins
        (1, "2024-01-15 00:00:00", 13, 4.0),
        # key 2: all events after probe 1 → null payload at probe 1
        (2, "2024-01-12 00:00:00", 20, 5.0),
        # key 3: single early event carried to both probes
        (3, "2024-01-01 00:00:00", 30, 6.0),
    ]
    return spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_id bigint, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"),
             "event_id", "value")


def _literal(spark):
    ev = events_df(spark)
    out = asof_join_literal_probes(
        ev, key="user_id", event_time="ts", seq="event_id",
        payload_cols=("event_id", "value"), probes=PROBES)
    return {(r["user_id"], str(r["probe"])): (r["event_id"], r["value"])
            for r in out.collect()}


def test_literal_probes_semantics(spark):
    got = _literal(spark)
    # exact-time event included, higher seq wins the tie
    assert got[(1, "2024-01-10 00:00:00")] == (12, 3.0)
    assert got[(1, "2024-01-20 00:00:00")] == (13, 4.0)
    # no event at-or-before probe 1 → null payload (left semantics)
    assert got[(2, "2024-01-10 00:00:00")] == (None, None)
    assert got[(2, "2024-01-20 00:00:00")] == (20, 5.0)
    # early event carried forward to both probes
    assert got[(3, "2024-01-10 00:00:00")] == (30, 6.0)
    assert got[(3, "2024-01-20 00:00:00")] == (30, 6.0)
    assert len(got) == 6  # every key × every probe


def test_union_sort_path_matches_literal_path(spark):
    ev = events_df(spark)
    probes = (ev.select("user_id").distinct()
                .crossJoin(spark.createDataFrame(
                    [(p,) for p in PROBES], "p string")
                    .select(F.to_timestamp("p").alias("probe"))))
    general = asof_join(probes, ev, key="user_id", probe_time="probe",
                        event_time="ts", seq="event_id",
                        payload_cols=("event_id", "value"))
    got = {(r["user_id"], str(r["probe"])): (r["event_id"], r["value"])
           for r in general.collect()}
    assert got == _literal(spark)


def test_range_cluster_path_value_identical_and_exchange_free_sort(spark):
    """range_cluster=True (r14, the x62 shape) must produce the same
    rows as the default hash-exchange path, and a final orderBy
    starting with the key must plan WITHOUT a second exchange (the
    range partitioning satisfies the sort's required distribution)."""
    ev = events_df(spark)
    probes = (ev.select("user_id").distinct()
                .crossJoin(spark.createDataFrame(
                    [(p,) for p in PROBES], "p string")
                    .select(F.to_timestamp("p").alias("probe"))))
    kw = dict(key="user_id", probe_time="probe", event_time="ts",
              seq="event_id", payload_cols=("event_id", "value"))
    base = asof_join(probes, ev, **kw)
    rc = asof_join(probes, ev, range_cluster=True, **kw)
    assert sorted(map(tuple, base.collect())) \
        == sorted(map(tuple, rc.collect()))
    plan = (rc.orderBy("user_id", "probe")
              ._jdf.queryExecution().executedPlan().toString())
    # exactly ONE range exchange: the union's cluster.  A non-elided
    # final orderBy would plan a SECOND rangepartitioning exchange
    # (the probes fixture's own distinct adds a hash exchange, which
    # is probe construction, not the asof shape).
    assert plan.count("Exchange rangepartitioning") == 1, plan


# ---------------------------------------------------------------------------
# Property-based: BOTH physical strategies must agree with a naive
# per-probe argmax oracle on ANY event/probe set the contract allows —
# hypothesis drives exact-tie probes, same-timestamp seq races, keys
# with no eligible events, and probe keys absent from events entirely.
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_minute = st.integers(0, 120)
_events = st.lists(
    st.tuples(st.integers(1, 4), _minute,
              st.integers(-1000, 1000).map(float)),
    min_size=1, max_size=30)
_probe_rows = st.lists(st.tuples(st.integers(1, 5), _minute),
                       min_size=1, max_size=8, unique=True)


def _ts(minute: int) -> str:
    return f"2024-01-01 {minute // 60:02d}:{minute % 60:02d}:00"


def _naive(ev_rows, key, probe_minute):
    cand = [(m, seq, v) for (k, m, v, seq) in ev_rows
            if k == key and m <= probe_minute]
    return max(cand)[2] if cand else None


@settings(max_examples=5, deadline=None, derandomize=True)  # r13 V#3: suite wall
@given(_events, _probe_rows)
def test_asof_property_both_strategies(spark, events, probes):
    ev_rows = [(k, m, v, seq) for seq, (k, m, v) in enumerate(events)]
    ev = spark.createDataFrame(
        [(k, _ts(m), seq, v) for (k, m, v, seq) in ev_rows],
        "user_id bigint, ts_s string, event_id bigint, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"),
             "event_id", "value")

    # general path: probe RELATION, left semantics per probe row
    pr = spark.createDataFrame(
        [(k, _ts(m)) for (k, m) in probes],
        "user_id bigint, probe_s string"
    ).select("user_id", F.to_timestamp("probe_s").alias("probe"))
    got = {(r["user_id"], r["probe"].strftime("%Y-%m-%d %H:%M:%S")):
           r["value"]
           for r in asof_join(pr, ev, key="user_id", probe_time="probe",
                              event_time="ts", seq="event_id",
                              payload_cols=["value"]).collect()}
    assert len(got) == len(probes)
    for (k, m) in probes:
        assert got[(k, _ts(m))] == _naive(ev_rows, k, m), (k, m)

    # literal path: every key present in events × every probe literal
    probe_lits = sorted({_ts(m) for (_, m) in probes})
    lit = {(r["user_id"], r["probe"].strftime("%Y-%m-%d %H:%M:%S")):
           r["value"]
           for r in asof_join_literal_probes(
               ev, key="user_id", event_time="ts", seq="event_id",
               payload_cols=["value"], probes=probe_lits).collect()}
    ev_keys = {k for (k, _, _, _) in ev_rows}
    assert len(lit) == len(ev_keys) * len(probe_lits)
    for k in ev_keys:
        for p in probe_lits:
            pm = int(p[11:13]) * 60 + int(p[14:16])
            assert lit[(k, p)] == _naive(ev_rows, k, pm), (k, p)
