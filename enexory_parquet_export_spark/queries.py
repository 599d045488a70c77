"""Declared query inventory (SURVEY.md §2.2) — Spark + DuckDB oracle.

Each entry is a pair: a PySpark DataFrame program (the engine under
test) and an ANSI-SQL string the DuckDB oracle runs over the identical
parquet fixtures.  Determinism rules (SURVEY.md §2.2):

- every query ends in a total ORDER BY;
- NO DECIMAL column ever appears in a declared result.  Computed
  floats are rendered as ``floor(x * 1e6)`` BIGINT micro-units (both
  engines perform the identical IEEE multiply-then-floor on the
  identical double, so the rendering is bit-stable); exact decimal
  aggregates are rescaled to integer cents (``sum(dec) * 100`` →
  BIGINT).  Round-1 evidence: every declared query emitting a DECIMAL
  failed the driver's value-hash despite bit-identical values under a
  strict local repr-compare (tools/check_oracle.py) — the driver
  canonicalizes Decimal asymmetrically between the two engines
  (trailing-zero scale rendering), so DECIMAL is banned outright;
- aggregates over doubles are computed in exact DECIMAL domain
  (cast-then-sum) so parallel summation order cannot matter, then
  rescaled to integer units at the output boundary;
- computed integers are cast to BIGINT on both sides;
- every computed column is aliased identically on both sides;
- raw TIMESTAMP columns are never returned (the fixtures store nanos;
  Spark reads µs) — timestamps are rendered as 19-char strings.

Reference anchors cited per query (PE/ = ``Parquet Export/`` in
/root/reference).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.datetime import (
    DT_PATTERN,
    LAX_DT_FORMATS_STRPTIME,
    SENTINEL_DT,
    normalize_datetime,
    utc2_render,
)
from .operators import cdc
from .operators.asof import asof_join_literal_probes
from .operators.range_join import banded_prior_count
from .sources.tables import load_table
from .session import materialize

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def declared(name: str, oracle: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.derive_changelog(_t(spark, sf_dir, "events"))


def bounded_sort(df: DataFrame, *cols: str) -> DataFrame:
    """Total order for OUTPUT-BOUNDED results (top-k per item, filtered
    candidate pairs, per-cluster representatives): one explicit reducer
    + in-partition sort instead of a range-partitioned ORDER BY.

    A range exchange first runs a SAMPLING job over its child to pick
    partition bounds, re-executing the entire upstream plan — measured
    2× on the ANN queries, whose upstream is an Arrow Python stage
    (x38: 2.08 s → 1.00 s at sf0.1).  For corpus-sized results the
    parallel range sort is correct and this helper must NOT be used;
    for result-sized outputs the single reducer is the cheaper plan at
    ANY scale: the expensive upstream stays fully parallel and only
    the final, already-small result crosses one shuffle.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def tiny_sort(df: DataFrame, *cols: str) -> DataFrame:
    """Total order for LOW-CARDINALITY results sitting directly above a
    shuffle (grouped reports / rollups over bounded key domains): merge
    the post-shuffle partitions into one task and sort there — no
    range-sampling job (``orderBy``) and no extra exchange
    (:func:`bounded_sort`'s ``repartition(1)``).

    ONLY for results bounded by key-domain contract (tens to a few
    thousand rows at ANY corpus size) whose immediate parent is an
    exchange: ``coalesce(1)`` serializes its parent STAGE, so above an
    unshuffled scan or a Python stage it would serialize that work too
    — use :func:`bounded_sort` there.  The parent being a hash agg
    keeps the plan scale-safe: map-side partials stay fully parallel
    and only the bounded reduce collapses to one task.  A/B at sf0.1
    (20-row grouped report, median of 7): orderBy 0.327 s,
    repartition-sort 0.218 s, coalesce-sort 0.162 s, unsorted 0.138 s.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def stable_sort(df: DataFrame, *cols: str) -> DataFrame:
    """Total order for CORPUS-SIZED results above an expensive
    upstream: materialize once (lazy localCheckpoint), then let the
    parallel range sort sample the MATERIALIZED rows instead of
    re-executing the whole upstream (measured: x43's binlog
    render+parse 1.71 s → 0.49 s at sf0.1).

    Scale posture: a range exchange's sampling job re-runs its child —
    for a plan whose child is a full parse/merge, that is two complete
    passes over corpus-sized data.  One memory+disk materialization of
    the same rows is strictly cheaper at any scale, and the sort
    stays fully parallel (unlike :func:`bounded_sort`, which is only
    for output-bounded results).
    """
    return df.transform(materialize, eager=False).orderBy(*cols)


#: FIXTURES.md §2.1 derivation, DuckDB dialect — shared CTE body.
CHANGELOG_CTE = """
changelog AS (
  SELECT event_id AS seq,
         user_id  AS pk,
         CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
              ELSE 'U' END AS op,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS date_time,
         CASE WHEN event_type = 'purchase' THEN NULL ELSE value END AS value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         strftime(ts, '%Y-%m-%d') AS day
  FROM events
)"""

DT_RE_SQL = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"


# --------------------------------------------------------------------------
# Q01 scan + projection (O2: PE/db_extractor.py:225-226)
# --------------------------------------------------------------------------
@declared("q01_scan_project", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem ORDER BY l_orderkey, l_linenumber""")
def q01(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
            .orderBy("l_orderkey", "l_linenumber"))


# --------------------------------------------------------------------------
# Q02 half-open range filter with pushdown (O3: PE/db_extractor.py:225-230)
# --------------------------------------------------------------------------
@declared("q02_filter_range", """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
ORDER BY o_orderkey""")
def q02(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    return (o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
             .select("o_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
                     "o_totalprice")
             .orderBy("o_orderkey"))


def _corrupt_dt_spark(log: DataFrame) -> DataFrame:
    """Deterministic malformed-datetime injection (clean fixture →
    non-trivial validity classes; cf. FIXTURES.md §2.2)."""
    return log.withColumn(
        "dt_raw",
        F.when(F.col("seq") % 13 == 0, F.lit("not-a-datetime"))
         .when(F.col("seq") % 17 == 0, F.substring("date_time", 1, 10))
         .otherwise(F.col("date_time")))


_CORRUPT_DT_SQL = """
corrupted AS (
  SELECT *,
         CASE WHEN seq % 13 = 0 THEN 'not-a-datetime'
              WHEN seq % 17 = 0 THEN substr(date_time, 1, 10)
              ELSE date_time END AS dt_raw
  FROM changelog)"""


# --------------------------------------------------------------------------
# Q03 pattern-validity filter + count (O6/O17: PE/db_extractor.py:14,
# PE/parse_binlogs.sh:125-140)
# --------------------------------------------------------------------------
@declared("q03_filter_pattern", f"""
WITH {CHANGELOG_CTE}, {_CORRUPT_DT_SQL}
SELECT regexp_matches(dt_raw, '{DT_RE_SQL}') AS is_valid,
       count(*) AS cnt
FROM corrupted GROUP BY 1 ORDER BY is_valid""")
def q03(spark, sf_dir):
    df = _corrupt_dt_spark(_log(spark, sf_dir))
    return (df.select(F.col("dt_raw").rlike(DT_PATTERN).alias("is_valid"))
              .groupBy("is_valid").agg(F.count("*").alias("cnt"))
              .orderBy("is_valid"))


# --------------------------------------------------------------------------
# Q04 datetime normalization with sentinel (O7: PE/db_extractor.py:242-245)
# --------------------------------------------------------------------------
@declared("q04_dt_normalize", f"""
WITH {CHANGELOG_CTE}, {_CORRUPT_DT_SQL}
SELECT seq, dt_raw,
       coalesce(strftime(coalesce({", ".join(
           f"try_strptime(dt_raw, '{f}')" for f in LAX_DT_FORMATS_STRPTIME)}),
                         '%Y-%m-%d %H:%M:%S'),
                '{SENTINEL_DT}') AS dt_norm
FROM corrupted ORDER BY seq""")
def q04(spark, sf_dir):
    # r14 sort-first: a range ORDER BY's sampling job re-executes its
    # child, so the try_to_timestamp battery ran twice per action.
    # Sorting the (seq, dt_raw) rows FIRST and normalizing ABOVE the
    # sort runs the battery once AND ships fewer bytes through the
    # range exchange (key+raw is narrower than the output — guide
    # §2.3).  Project-above-Sort preserves the declared order.  A/B
    # at sf0.1: steady 0.81 → see OPTIMIZATION_r14.md.
    df = _corrupt_dt_spark(_log(spark, sf_dir))
    return (df.select("seq", "dt_raw").orderBy("seq")
              .select("seq", "dt_raw",
                      normalize_datetime(F.col("dt_raw")).alias("dt_norm")))


# --------------------------------------------------------------------------
# Q05 fixed UTC+2 render of epochs (ts_to_utc2, PE/consolidate.cpp:45-53)
# --------------------------------------------------------------------------
@declared("q05_tz_shift", f"""
WITH {CHANGELOG_CTE}
SELECT seq, ts_epoch,
       strftime(make_timestamp((ts_epoch + 7200) * CAST(1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS ts_utc2
FROM changelog ORDER BY seq""")
def q05(spark, sf_dir):
    # r14 sort-first (see q04): render once, above the sort; the range
    # exchange carries (seq, ts_epoch) instead of the rendered string
    return (_log(spark, sf_dir)
            .select("seq", "ts_epoch").orderBy("seq")
            .select("seq", "ts_epoch",
                    utc2_render(F.col("ts_epoch")).alias("ts_utc2")))


# --------------------------------------------------------------------------
# Q06 string scalar battery (O8 day key; trim PE/consolidate.cpp:37-43)
# --------------------------------------------------------------------------
@declared("q06_string_battery", f"""
WITH {CHANGELOG_CTE}
SELECT seq,
       substr(date_time, 1, 10) AS day_key,
       CAST(length(date_time) AS BIGINT) AS dt_len,
       substr(date_time, 1, 7) AS ym,
       reverse(substr(date_time, 1, 10)) AS day_rev,
       upper(op) AS op_up,
       concat(substr(date_time, 1, 10), 'T', substr(date_time, 12, 8)) AS iso_ish
FROM changelog ORDER BY seq""")
def q06(spark, sf_dir):
    # r14 sort-first (see q04): the six derived strings build once,
    # above the sort; the range exchange carries (seq, date_time, op)
    # instead of ~2× those bytes in derivatives.  JIT-cold first run
    # 4.2 → 0.9 s, steady 0.51-0.69 → 0.45-0.60 at sf0.1 (A/B ×4).
    log = _log(spark, sf_dir)
    return (log.select("seq", "date_time", "op").orderBy("seq")
               .select(
                "seq",
                F.substring("date_time", 1, 10).alias("day_key"),
                F.length("date_time").cast("bigint").alias("dt_len"),
                F.substring("date_time", 1, 7).alias("ym"),
                F.reverse(F.substring("date_time", 1, 10)).alias("day_rev"),
                F.upper("op").alias("op_up"),
                F.concat(F.substring("date_time", 1, 10), F.lit("T"),
                         F.substring("date_time", 12, 8)).alias("iso_ish")))


# --------------------------------------------------------------------------
# Q07 math / null-handling battery (nullable value, O13)
# --------------------------------------------------------------------------
@declared("q07_math_null", f"""
WITH {CHANGELOG_CTE}
SELECT seq,
       (value IS NULL) AS v_null,
       CAST(floor(coalesce(value, 0.0) * 1000000.0) AS BIGINT) AS v0_micro,
       CAST(floor(abs(value - 100.0) * 1000000.0) AS BIGINT) AS v_abs_micro,
       CAST(floor(coalesce(value, 0.0) * 100.0) AS BIGINT) AS v_cents,
       CAST(floor(value) AS BIGINT) AS v_floor,
       CAST(ceil(value) AS BIGINT) AS v_ceil,
       CAST(floor(sqrt(abs(value)) * 1000000.0) AS BIGINT) AS v_sqrt_micro,
       CAST(floor(greatest(value, 50.0) * 1000000.0) AS BIGINT) AS v_hi_micro,
       CAST(floor(least(value, 50.0) * 1000000.0) AS BIGINT) AS v_lo_micro
FROM changelog ORDER BY seq""")
def q07(spark, sf_dir):
    v = F.col("value")

    def micro(c):  # identical IEEE multiply-then-floor on both engines
        return F.floor(c * F.lit(1000000.0)).cast("bigint")

    # r14 sort-first (see q04): nine derived columns build once above
    # the sort; the range exchange carries only (seq, value)
    return (_log(spark, sf_dir)
            .select("seq", "value").orderBy("seq")
            .select("seq",
                    v.isNull().alias("v_null"),
                    micro(F.coalesce(v, F.lit(0.0))).alias("v0_micro"),
                    micro(F.abs(v - 100.0)).alias("v_abs_micro"),
                    F.floor(F.coalesce(v, F.lit(0.0)) * F.lit(100.0))
                     .cast("bigint").alias("v_cents"),
                    F.floor(v).cast("bigint").alias("v_floor"),
                    F.ceil(v).cast("bigint").alias("v_ceil"),
                    micro(F.sqrt(F.abs(v))).alias("v_sqrt_micro"),
                    micro(F.greatest(v, F.lit(50.0))).alias("v_hi_micro"),
                    micro(F.least(v, F.lit(50.0))).alias("v_lo_micro")))


# --------------------------------------------------------------------------
# Q08 MAX/MIN with sentinel anti-filter (O4/O5: PE/db_extractor.py:29-76)
# --------------------------------------------------------------------------
@declared("q08_agg_max_min", f"""
WITH {CHANGELOG_CTE},
clean AS (SELECT * FROM changelog WHERE date_time <> '{SENTINEL_DT}')
SELECT day, max(date_time) AS max_dt, min(date_time) AS min_dt FROM clean GROUP BY day
UNION ALL
SELECT 'ALL' AS day, max(date_time), min(date_time) FROM clean
ORDER BY day""")
def q08(spark, sf_dir):
    clean = _log(spark, sf_dir).filter(F.col("date_time") != SENTINEL_DT)
    per_day = clean.groupBy("day").agg(F.max("date_time").alias("max_dt"),
                                       F.min("date_time").alias("min_dt"))
    total = clean.agg(F.max("date_time").alias("max_dt"),
                      F.min("date_time").alias("min_dt")) \
                 .select(F.lit("ALL").alias("day"), "max_dt", "min_dt")
    return per_day.unionByName(total).transform(tiny_sort, "day")


# --------------------------------------------------------------------------
# Q09 COUNT reconciliation, per-day + total (O18: PE/row_integrity.py:48-82)
# --------------------------------------------------------------------------
@declared("q09_agg_count_reconcile", f"""
WITH {CHANGELOG_CTE}
SELECT day, count(*) AS cnt FROM changelog GROUP BY day
UNION ALL
SELECT 'ALL' AS day, count(*) FROM changelog
ORDER BY day""")
def q09(spark, sf_dir):
    log = _log(spark, sf_dir)
    per_day = log.groupBy("day").agg(F.count("*").alias("cnt"))
    total = log.agg(F.count("*").alias("cnt")).select(F.lit("ALL").alias("day"), "cnt")
    return per_day.unionByName(total).transform(tiny_sort, "day")


# --------------------------------------------------------------------------
# Q10 hash aggregate, TPC-H Q1 shape (O22 analog) — decimal-domain sums
# --------------------------------------------------------------------------
@declared("q10_agg_hash_tpch1", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS sum_qty_cents,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS sum_base_cents,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
           AS sum_disc_micro4,
       count(*) AS count_order,
       CAST(floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*) * 1000000.0) AS BIGINT) AS avg_qty_micro
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")
def q10(spark, sf_dir):
    # sums run in exact DECIMAL domain (summation order cannot matter),
    # then rescale to integer units at the boundary — no DECIMAL output
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    cutoff = F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    return (li.filter(F.col("l_shipdate") <= cutoff)
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(qty).alias("_sq"),
                   F.sum(price).alias("_sp"),
                   F.sum(price * (F.lit(1) - disc)).alias("_sd"),
                   F.count("*").alias("count_order"))
              .select("l_returnflag", "l_linestatus",
                      (F.col("_sq") * 100).cast("bigint").alias("sum_qty_cents"),
                      (F.col("_sp") * 100).cast("bigint").alias("sum_base_cents"),
                      (F.col("_sd") * 10000).cast("bigint").alias("sum_disc_micro4"),
                      "count_order",
                      F.floor(F.col("_sq").cast("double") / F.col("count_order")
                              * F.lit(1000000.0))
                       .cast("bigint").alias("avg_qty_micro"))
              .transform(tiny_sort, "l_returnflag", "l_linestatus"))


# --------------------------------------------------------------------------
# Q11 distinct aggregation (O15: PE/consolidate.cpp:379-383)
# --------------------------------------------------------------------------
@declared("q11_agg_count_distinct", f"""
WITH {CHANGELOG_CTE}
SELECT day, count(DISTINCT pk) AS users FROM changelog
GROUP BY day ORDER BY day""")
def q11(spark, sf_dir):
    return (_log(spark, sf_dir).groupBy("day")
            .agg(F.countDistinct("pk").alias("users"))
            .transform(tiny_sort, "day"))


# --------------------------------------------------------------------------
# Q12 grouping sets: rollup day → month (Spark built-in; extension)
# --------------------------------------------------------------------------
@declared("q12_rollup_day_month", f"""
WITH {CHANGELOG_CTE},
keyed AS (SELECT substr(day, 1, 7) AS month, day FROM changelog)
SELECT coalesce(month, 'ALL') AS month, coalesce(day, 'ALL') AS day,
       count(*) AS cnt
FROM keyed GROUP BY ROLLUP (month, day)
ORDER BY month, day""")
def q12(spark, sf_dir):
    keyed = _log(spark, sf_dir).select(
        F.substring("day", 1, 7).alias("month"), "day")
    return (keyed.rollup("month", "day").agg(F.count("*").alias("cnt"))
                 .select(F.coalesce("month", F.lit("ALL")).alias("month"),
                         F.coalesce("day", F.lit("ALL")).alias("day"), "cnt")
                 .transform(tiny_sort, "month", "day"))


# --------------------------------------------------------------------------
# Q13 inner equi-join, broadcast dimension (O14: PE/consolidate.cpp:164-214)
# --------------------------------------------------------------------------
@declared("q13_join_inner", """
SELECT c_mktsegment, count(*) AS order_cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS sum_price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment""")
def q13(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
             .groupBy("c_mktsegment")
             .agg(F.count("*").alias("order_cnt"),
                  (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                  .cast("bigint").alias("sum_price_cents"))
             .transform(tiny_sort, "c_mktsegment"))


# --------------------------------------------------------------------------
# Q14 left outer join with zero-fill (O13 update-drop analog)
# --------------------------------------------------------------------------
@declared("q14_join_left", """
SELECT o_orderkey, coalesce(b.cnt, 0) AS big_items
FROM orders LEFT JOIN (
  SELECT l_orderkey, count(*) AS cnt FROM lineitem
  WHERE l_quantity > 45 GROUP BY l_orderkey) b
ON o_orderkey = b.l_orderkey
ORDER BY o_orderkey""")
def q14(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b = (_t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
         .groupBy("l_orderkey").agg(F.count("*").alias("cnt")))
    return (o.join(b, o.o_orderkey == b.l_orderkey, "left")
             .select("o_orderkey", F.coalesce("cnt", F.lit(0)).alias("big_items"))
             .orderBy("o_orderkey"))


# --------------------------------------------------------------------------
# Q15 anti join (orders with NO heavy lineitem)
# --------------------------------------------------------------------------
@declared("q15_join_anti", """
SELECT o_orderkey FROM orders
WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
ORDER BY o_orderkey""")
def q15(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    heavy = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45) \
                                         .select("l_orderkey")
    return (o.join(heavy, o.o_orderkey == heavy.l_orderkey, "left_anti")
             .select("o_orderkey").orderBy("o_orderkey"))


# --------------------------------------------------------------------------
# Q16 semi join (O23 existence-check analog)
# --------------------------------------------------------------------------
@declared("q16_join_semi", """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate <  TIMESTAMP '1998-01-01')
ORDER BY c_custkey""")
def q16(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey", "c_name").orderBy("c_custkey"))


# --------------------------------------------------------------------------
# Q17 range join: events in the hour before each error event (O16 analog).
# Spark side uses hour-banding so pair count stays bounded at scale.
# --------------------------------------------------------------------------
@declared("q17_join_range", """
SELECT e.event_id, count(f.event_id) AS prior_cnt
FROM events e LEFT JOIN events f
  ON e.user_id = f.user_id
 AND f.ts >= e.ts - INTERVAL 1 HOUR AND f.ts < e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id ORDER BY e.event_id""")
def q17(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return banded_prior_count(ev, window_seconds=3600).orderBy("event_id")


# --------------------------------------------------------------------------
# Q18 as-of join: latest event per user at-or-before probe times
# (O5 resume-point analog; DuckDB models it with a ranked left join)
# --------------------------------------------------------------------------
_PROBES = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")


@declared("q18_join_asof", f"""
WITH probes(probe) AS (VALUES (TIMESTAMP '{_PROBES[0]}'), (TIMESTAMP '{_PROBES[1]}')),
users AS (SELECT DISTINCT user_id FROM events),
cand AS (
  SELECT u.user_id, p.probe, e.event_id, e.value,
         row_number() OVER (PARTITION BY u.user_id, p.probe
                            ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM users u CROSS JOIN probes p
  LEFT JOIN events e ON e.user_id = u.user_id AND e.ts <= p.probe)
SELECT user_id, strftime(probe, '%Y-%m-%d %H:%M:%S') AS probe_ts,
       event_id AS asof_event, value AS asof_value
FROM cand WHERE rn = 1 ORDER BY user_id, probe_ts""")
def q18(spark, sf_dir):
    # literal-probe fast path: ONE hash aggregation over events (see
    # operators.asof) — replaces round 1's distinct+crossJoin+union+
    # window plan whose 2-row driver-built relation collapsed
    # parallelism under the bench (33 s, VERDICT.md).
    ev = _t(spark, sf_dir, "events")
    res = asof_join_literal_probes(
        ev, key="user_id", event_time="ts", seq="event_id",
        payload_cols=("event_id", "value"), probes=_PROBES)
    return res.select(
        "user_id",
        F.date_format("probe", "yyyy-MM-dd HH:mm:ss").alias("probe_ts"),
        F.col("event_id").alias("asof_event"),
        F.col("value").alias("asof_value"),
    ).orderBy("user_id", "probe_ts")


# --------------------------------------------------------------------------
# Q19 ranking window: last-event-wins per (day, pk)
# (O12: PE/consolidate.cpp:56-109)
# --------------------------------------------------------------------------
@declared("q19_window_rank_lastwins", f"""
WITH {CHANGELOG_CTE}
SELECT day, pk, seq, op FROM (
  SELECT day, pk, seq, op,
         row_number() OVER (PARTITION BY day, pk ORDER BY seq DESC) AS rn
  FROM changelog) t
WHERE rn = 1 ORDER BY day, pk""")
def q19(spark, sf_dir):
    # r14: the q20-style single-range-exchange form was TRIED and
    # measured WORSE here (interleaved ×5 at sf0.1: min 0.86 → 1.51 s)
    # — the changelog projection (CASE + date_format + substring per
    # row) is expensive enough that the range sampler's extra full
    # scan+project pass costs more than the current plan's second
    # exchange, which carries only the rn=1 SURVIVORS and whose
    # sampler re-reads the first exchange's shuffle files instead of
    # the parquet scan.  Kept as-is; q20 (trivial projection, output
    # ≈ input) is where the rewrite wins.
    w = Window.partitionBy("day", "pk").orderBy(F.col("seq").desc())
    return (_log(spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("day", "pk", "seq", "op")
            .orderBy("day", "pk"))


# --------------------------------------------------------------------------
# Q20 analytic window: lag()-based change detection
# (O21: Email Node Status/watcher.py:234-266)
# --------------------------------------------------------------------------
@declared("q20_window_lag_changes", """
SELECT user_id, event_id, prev_type, event_type FROM (
  SELECT user_id, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
  FROM events) t
WHERE prev_type IS NOT NULL AND prev_type <> event_type
ORDER BY user_id, event_id""")
def q20(spark, sf_dir):
    # r14: same single-range-exchange shape as q19 — the window's lag
    # order (user_id, event_id) IS the declared output order, so one
    # range exchange + one sort serve both and the final sort is
    # elided (RangePartitioning(user_id) satisfies
    # OrderedDistribution(user_id, event_id) via its prefix).
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (_t(spark, sf_dir, "events")
            .select("user_id", "event_id", "event_type")
            .repartitionByRange("user_id")
            .sortWithinPartitions("user_id", "event_id")
            .withColumn("prev_type", F.lag("event_type").over(w))
            .filter(F.col("prev_type").isNotNull()
                    & (F.col("prev_type") != F.col("event_type")))
            .select("user_id", "event_id", "prev_type", "event_type")
            .orderBy("user_id", "event_id"))


# --------------------------------------------------------------------------
# Q21 frame window: moving sum rowsBetween(-2, 0), decimal domain
# --------------------------------------------------------------------------
@declared("q21_window_frame_movsum", """
SELECT event_id, user_id,
       CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_sum_cents
FROM events ORDER BY event_id""")
def q21(spark, sf_dir):
    # per-element floor-to-cents BIGINT, then exact integer window sum —
    # no DECIMAL anywhere and no summation-order sensitivity
    w = (Window.partitionBy("user_id").orderBy("event_id")
               .rowsBetween(-2, Window.currentRow))
    cents = F.floor(F.col("value") * F.lit(100.0)).cast("bigint")
    return (_t(spark, sf_dir, "events")
            .select("event_id", "user_id",
                    F.sum(cents).over(w).alias("mov_sum_cents"))
            .orderBy("event_id"))


# --------------------------------------------------------------------------
# Q22 global top-k (O5 newest-first short-circuit analog)
# --------------------------------------------------------------------------
@declared("q22_topk", """
SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")
def q22(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
            .limit(100))


# --------------------------------------------------------------------------
# Q23 set operations on two day-slices (O10/O15)
# --------------------------------------------------------------------------
@declared("q23_setops", """
WITH w96 AS (SELECT DISTINCT o_custkey AS k FROM orders
             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
     w97 AS (SELECT DISTINCT o_custkey AS k FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
SELECT 'both' AS tag, k FROM (SELECT k FROM w96 INTERSECT SELECT k FROM w97)
UNION ALL
SELECT 'only96' AS tag, k FROM (SELECT k FROM w96 EXCEPT SELECT k FROM w97)
UNION ALL
SELECT 'only97' AS tag, k FROM (SELECT k FROM w97 EXCEPT SELECT k FROM w96)
ORDER BY tag, k""")
def q23(spark, sf_dir):
    # r14 (guide §2.4): INTERSECT/EXCEPT over two distinct key sets is
    # one membership aggregation, not three joins — the branch form
    # scanned orders 6× (each of the 3 branches re-derived both year
    # windows) and shuffled 6 distinct aggs + 3 join exchanges; the
    # flag form scans ONCE (the pushed filter covers both years),
    # shuffles ONE map-side-combined agg keyed on custkey, and tags
    # each key from its two membership flags.  Same rows: the three
    # branches partition the key union, and every branch key appears
    # exactly once (both inputs were distinct).  Plan: 13 ops → 6,
    # Exchange 7 → 2 (agg + declared range sort); the sampler re-reads
    # the agg's shuffle files, not the scan.
    o = _t(spark, sf_dir, "orders")

    def bound(year):
        return F.lit(f"{year}-01-01 00:00:00").cast("timestamp_ntz")

    d = F.col("o_orderdate")
    in96 = (d >= bound(1996)) & (d < bound(1997))
    in97 = (d >= bound(1997)) & (d < bound(1998))
    tags = (o.filter(in96 | in97)
             .select(F.col("o_custkey").alias("k"),
                     in96.alias("_a"), in97.alias("_b"))
             .groupBy("k")
             .agg(F.max("_a").alias("_a"), F.max("_b").alias("_b"))
             .select(F.when(F.col("_a") & F.col("_b"), F.lit("both"))
                      .when(F.col("_a"), F.lit("only96"))
                      .otherwise(F.lit("only97")).alias("tag"), "k"))
    return tags.orderBy("tag", "k")


# --------------------------------------------------------------------------
# Q24 CDC merge — THE FLAGSHIP (O12+O13: PE/consolidate.cpp:56-109,184-214)
# --------------------------------------------------------------------------
@declared("q24_cdc_merge", f"""
WITH {CHANGELOG_CTE},
s0 AS (SELECT median(seq) AS v FROM changelog),
base AS (
  SELECT day, pk, date_time, value, ts_epoch FROM (
    SELECT day, pk, date_time, value, ts_epoch,
           row_number() OVER (PARTITION BY day, pk ORDER BY seq DESC) AS rn
    FROM changelog WHERE op = 'I' AND seq <= (SELECT v FROM s0)) t
  WHERE rn = 1),
tail AS (SELECT * FROM changelog WHERE seq > (SELECT v FROM s0)),
flags AS (
  SELECT day, pk,
         max(CASE WHEN op = 'I' THEN seq END) AS last_i,
         max(CASE WHEN op = 'D' THEN seq END) AS last_d
  FROM tail GROUP BY day, pk),
lastrow AS (
  SELECT day, pk, date_time, value, ts_epoch FROM (
    SELECT day, pk, date_time, value, ts_epoch,
           row_number() OVER (PARTITION BY day, pk ORDER BY seq DESC) AS rn
    FROM tail) t WHERE rn = 1),
consolidated AS (
  SELECT f.day, f.pk,
         CASE WHEN coalesce(f.last_i, -1) > coalesce(f.last_d, -1) THEN 'I'
              WHEN f.last_d IS NOT NULL THEN 'D'
              ELSE 'U' END AS op,
         l.date_time, l.value, l.ts_epoch
  FROM flags f JOIN lastrow l ON f.day = l.day AND f.pk = l.pk),
merged AS (
  SELECT coalesce(b.day, c.day) AS day, coalesce(b.pk, c.pk) AS pk,
         CASE WHEN c.op IN ('I', 'U') THEN c.date_time ELSE b.date_time END AS date_time,
         CASE WHEN c.op IN ('I', 'U') THEN c.value ELSE b.value END AS value,
         CASE WHEN c.op IN ('I', 'U') THEN c.ts_epoch ELSE b.ts_epoch END AS ts_epoch,
         c.op AS op, (b.pk IS NOT NULL) AS in_base
  FROM base b FULL OUTER JOIN consolidated c ON b.day = c.day AND b.pk = c.pk)
SELECT day, pk AS id, date_time, value,
       strftime(make_timestamp((ts_epoch + 7200) * CAST(1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS ts
FROM merged
WHERE op IS NULL OR op = 'I' OR (op = 'U' AND in_base)
ORDER BY day, id""")
def q24(spark, sf_dir):
    return cdc.cdc_merge(_t(spark, sf_dir, "events")).orderBy("day", "id")


# --------------------------------------------------------------------------
# Q25 row-constraint validation relation (O6: PE/db_extractor.py:78-149)
# --------------------------------------------------------------------------
@declared("q25_validation", f"""
WITH {CHANGELOG_CTE},
injected AS (
  SELECT seq,
         CASE WHEN seq % 101 = 0 THEN -pk - 1 ELSE pk END AS id,
         CASE WHEN pk % 97 = 0 THEN '{SENTINEL_DT}' ELSE date_time END AS dt,
         value
  FROM changelog),
flagged AS (
  SELECT seq, id, dt,
         (id >= 0) AS id_ok,
         (regexp_matches(dt, '{DT_RE_SQL}') AND length(dt) = 19
          AND dt <> '{SENTINEL_DT}') AS dt_ok,
         (value IS NULL OR NOT isnan(value)) AS value_ok
  FROM injected)
SELECT seq, id, dt, id_ok, dt_ok, value_ok FROM flagged
WHERE NOT (id_ok AND dt_ok AND value_ok)
ORDER BY seq""")
def q25(spark, sf_dir):
    log = _log(spark, sf_dir)
    injected = log.select(
        "seq",
        F.when(F.col("seq") % 101 == 0, -F.col("pk") - 1)
         .otherwise(F.col("pk")).alias("id"),
        F.when(F.col("pk") % 97 == 0, F.lit(SENTINEL_DT))
         .otherwise(F.col("date_time")).alias("dt"),
        "value")
    flagged = injected.select(
        "seq", "id", "dt",
        (F.col("id") >= 0).alias("id_ok"),
        (F.col("dt").rlike(DT_PATTERN) & (F.length("dt") == 19)
         & (F.col("dt") != SENTINEL_DT)).alias("dt_ok"),
        (F.col("value").isNull() | ~F.isnan("value")).alias("value_ok"))
    return (flagged
            .filter(~(F.col("id_ok") & F.col("dt_ok") & F.col("value_ok")))
            .orderBy("seq"))


# --------------------------------------------------------------------------
# Q26 set-containment maximum analog (O20: HA/orchestrator.py:584-633 —
# GTID subset partial order, restated over per-user event-type sets).
# The declared output reports EVERY decimated pair (subset or not), so
# Θ(|probe|·|users|) rows is the lower bound of any plan — the r6 sf1
# defect (27.8 s vs DuckDB 1.86 s) was not the pair count but the pair
# PAYLOAD: each pair row carried two full type arrays and evaluated an
# interpreted `array_except` per pair.  The contracted re-block (the
# small-alphabet subset-closure encoding): the event-type alphabet is a
# tiny closed vocabulary (5 values in the fixture; guarded ≤ 63), so
# each user's type set packs into ONE BIGINT bitmask via a per-event
# shifted bit + `bit_or` hash agg, the decimated probe side broadcasts
# as bare (id, mask) longs, and containment is `(ma & mb) == ma` — two
# integer ops inside whole-stage codegen, pair rows 3 longs wide.  The
# plan is output-bound at any scale; GTID sets wider than 63 server
# uuids would re-block on a mask prefix instead (same encoding,
# bucketed equi-join on the high bits) — guarded loudly below.
# --------------------------------------------------------------------------
@declared("q26_set_containment", """
WITH sets AS (
  SELECT user_id, list_sort(list_distinct(list(event_type))) AS types
  FROM events GROUP BY user_id)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       list_has_all(b.types, a.types) AS a_subset_b
FROM sets a JOIN sets b
  ON a.user_id < b.user_id AND a.user_id % 10 = 0
ORDER BY user_a, user_b""")
def q26(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # the alphabet collect is bounded by the closed event-type
    # vocabulary (the codebook-collect boundedness argument); sorted so
    # bit positions are engine-independent
    alpha = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    if len(alpha) > 63:
        raise ValueError(
            f"q26: event-type alphabet has {len(alpha)} values — the "
            "single-BIGINT subset encoding holds ≤ 63; re-block on a "
            "mask prefix (bucketed equi-join on the high bits) before "
            "scaling this alphabet")
    pos = F.array_position(F.array(*[F.lit(t) for t in alpha]),
                           F.col("event_type"))
    bit = F.element_at(F.array(*[F.lit(1 << i).cast("bigint")
                                 for i in range(len(alpha))]),
                       pos.cast("int"))
    sets = (ev.select("user_id", bit.alias("b"))
              .groupBy("user_id").agg(F.bit_or("b").alias("mask")))
    a = sets.filter(F.col("user_id") % 10 == 0).select(
        F.col("user_id").alias("user_a"), F.col("mask").alias("ma"))
    b = sets.select(F.col("user_id").alias("user_b"),
                    F.col("mask").alias("mb"))
    # pair generation IS the sort: range-partition the TINY decimated
    # probe side by user_a (the outer sort key) and nested-loop it
    # against the broadcast mask relation — each output partition then
    # holds a contiguous user_a range and one parallel in-partition
    # sort yields the declared total order with NO exchange over the
    # Θ(|probe|·|users|) pair stream (a post-join orderBy measured 6 s
    # of its 6.9 s total at sf1×10: range-sampling re-runs the join
    # and every pair row crosses the wire; this plan reads 1.1 s).
    # The broadcast side is |users|·16 B masks; if the user domain
    # ever outgrows broadcast, swap roles (broadcast the decimated
    # probe, stream b) and pay the pair-stream range sort — the GTID
    # domain the operator models (nodes of one cluster) never does.
    return (a.repartitionByRange(32, "user_a")
             .join(F.broadcast(b), F.col("user_a") < F.col("user_b"))
             .select("user_a", "user_b",
                     (F.col("ma").bitwiseAND(F.col("mb")) == F.col("ma"))
                      .alias("a_subset_b"))
             .sortWithinPartitions("user_a", "user_b"))


# --------------------------------------------------------------------------
# Q27 exact dedup keep-first (north star: dedup; O12 keyed-dedup analog)
# --------------------------------------------------------------------------
@declared("q27_dedup_exact", """
SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS group_sz
FROM documents GROUP BY lang, text ORDER BY keep_id""")
def q27(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy("lang", "text")
            .agg(F.min("doc_id").cast("bigint").alias("keep_id"),
                 F.count("*").alias("group_sz"))
            .select("keep_id", "group_sz")
            .orderBy("keep_id"))


# --------------------------------------------------------------------------
# Q28 text analysis: tokenize + stats (north star: text analysis)
# --------------------------------------------------------------------------
@declared("q28_text_stats", r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_tok_len
FROM toks ORDER BY doc_id""")
def q28(spark, sf_dir):
    toks = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.split(F.trim("text"), r"\s+").alias("t")))
    # r14: stable_sort (the x36/x37 precedent) — the range sampler
    # re-ran tokenize+distinct+max over every doc; narrow rows through
    # the sort (A/B ×4 at sf0.1: 0.31-0.32 → 0.18-0.21 s)
    return (toks.select(
                "doc_id",
                F.size("t").cast("bigint").alias("n_tokens"),
                F.size(F.array_distinct("t")).cast("bigint").alias("n_distinct"),
                F.array_max(F.transform("t", lambda x: F.length(x)))
                 .cast("bigint").alias("max_tok_len"))
            .transform(stable_sort, "doc_id"))


# --------------------------------------------------------------------------
# Q29 exact similarity top-k: cosine within label blocks
# (north star: similarity search; brute-force baseline)
# --------------------------------------------------------------------------
@declared("q29_similarity_topk", """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
r AS (SELECT vec_id, nbr_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nbr_id) AS rn
      FROM p)
SELECT vec_id, nbr_id, CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_micro,
       CAST(rn AS BIGINT) AS rnk
FROM r WHERE rn <= 3 ORDER BY vec_id, rnk""")
def q29(spark, sf_dir):
    from .operators.similarity import cosine_topk_blocked
    emb = _t(spark, sf_dir, "embeddings")
    return bounded_sort(cosine_topk_blocked(emb, k=3), "vec_id", "rnk")
