"""CDC consolidation + merge — the engine's flagship operator (Q23).

Spark-first restatement of the reference's binlog merge pipeline
(Parquet Export/consolidate.cpp).  The reference consumes a keyed
I/U/D changelog, consolidates it per (day, pk) in hash maps
(consolidate.cpp:56-109), then merges into the per-day base files with
apply order delete → update-if-exists → insert-as-upsert
(consolidate.cpp:184-214).

Semantics proved from the reference's map algebra (each rule unit-tested):

* within-batch last-event-wins per (day, pk) ordered by ``seq``;
* an I *after* the last D makes the key an upsert whose payload is the
  **last** event's row (a later U folds into the pending insert,
  consolidate.cpp's insert-map fold);
* any D after the last I kills the key — even if Us follow the D,
  because those Us land in the update map and "update" only applies to
  keys that still exist after the delete phase (consolidate.cpp:194);
* a batch with only Us updates the key iff it exists in the base
  (update-to-missing-pk is a silent no-op, consolidate.cpp:194);
* a day whose merged result is empty disappears
  (consolidate.cpp:226-238) — handled by sources.writer.remove_empty_days.

So the consolidated effective op per (day, pk) is::

    'I'  if last_I_seq > last_D_seq        (payload = overall last row)
    'D'  elif any D                         (payload irrelevant)
    'U'  otherwise (only Us)                (payload = overall last row)

Scale notes: consolidation is ONE hash aggregation on the natural key
(day, pk) — no window sort needed (``max_by`` keeps the last payload).
:func:`merge_changelog` folds a raw changelog into its touched days'
base rows in one aggregation, on a ``day`` exchange that the
day-partitioned writer reuses: the mirror merge runs one shuffle, and
only touched day-partitions are rewritten.  :func:`cdc_merge` is one
aggregation too, after two small aggregates that find the exact
median ``seq`` without a global sort.  :func:`apply_changes`, the
keyed full-outer join, is the reference the tests hold
:func:`merge_changelog` to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.datetime import DT_FORMAT, day_key, utc2_render

#: FIXTURES.md §2.1 — deterministic event_type → changelog op mapping
OP_MAPPING = {"signup": "I", "view": "U", "click": "U",
              "purchase": "U", "error": "D"}


def _op_col(event_type: Column) -> Column:
    expr = None
    for etype, op in OP_MAPPING.items():
        cond = event_type == F.lit(etype)
        expr = F.when(cond, F.lit(op)) if expr is None else expr.when(cond, F.lit(op))
    return expr


def derive_changelog(events: DataFrame) -> DataFrame:
    """``events`` fixture → the reference's changelog shape.

    Output: ``seq BIGINT, pk BIGINT, op STRING('I'|'U'|'D'),
    date_time STRING(19), value DOUBLE nullable, ts_epoch BIGINT,
    day STRING(10)`` — mirroring consolidate.cpp's ``struct Change``
    (consolidate.cpp:29-35) with FIXTURES.md §2.1's exact derivation.
    """
    dt = F.date_format("ts", DT_FORMAT)
    return events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("pk"),
        _op_col(F.col("event_type")).alias("op"),
        dt.alias("date_time"),
        F.when(F.col("event_type") == "purchase", F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        day_key(dt).alias("day"),
    )


def _last_event_aggs() -> list[Column]:
    """Per-key aggregates both folds share: the last I and last D
    ``seq`` and the payload of the overall last event."""
    return [
        F.max(F.when(F.col("op") == "I", F.col("seq"))).alias("_last_i"),
        F.max(F.when(F.col("op") == "D", F.col("seq"))).alias("_last_d"),
        F.max_by(F.struct("date_time", "value", "ts_epoch"), "seq").alias("_last"),
    ]


def _effective_op() -> Column:
    """The consolidated op of a key from :func:`_last_event_aggs`."""
    return (
        F.when(F.col("_last_i") > F.coalesce(F.col("_last_d"), F.lit(-1)), F.lit("I"))
         .when(F.col("_last_d").isNotNull(), F.lit("D"))
         .otherwise(F.lit("U"))
    )


def _last_payload() -> list[Column]:
    return [F.col("_last.date_time").alias("date_time"),
            F.col("_last.value").alias("value"),
            F.col("_last.ts_epoch").alias("ts_epoch")]


def _survives(op: Column, in_base: Column) -> Column:
    """The merge rule table: D drops the key, U keeps it only if the
    base has it (update-to-missing-pk is a no-op), I always keeps it.
    A base row no change touches counts as a U of its own payload."""
    return (op == "I") | ((op == "U") & in_base)


def consolidate(changelog: DataFrame) -> DataFrame:
    """Within-batch last-event-wins consolidation per (day, pk).

    One hash aggregation (map-side partial combine, single shuffle on
    the merge key) — replaces consolidate.cpp:56-109's three
    unordered_maps.  ``seq`` must be unique within the batch (binlog
    position in the reference; ``event_id`` in the fixture).

    Output: ``day, pk, op('I'|'U'|'D'), date_time, value, ts_epoch``.
    """
    return (changelog.groupBy("day", "pk").agg(*_last_event_aggs())
            .select("day", "pk", _effective_op().alias("op"), *_last_payload()))


def apply_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Merge consolidated changes into the base: the reference's
    delete → update-if-exists → insert-as-upsert (consolidate.cpp:184-214)
    as a single keyed full-outer join + CASE.

    ``base``    : day, pk, date_time, value, ts_epoch
    ``changes`` : day, pk, op, date_time, value, ts_epoch (consolidated —
                  exactly one row per (day, pk))

    Per key:  op='D' → drop;  op='U' → new payload iff base row exists;
    op='I' → new payload unconditionally; no change row → keep base row.

    The reference the tests hold :func:`merge_changelog` to.
    """
    b = base.select(
        "day", "pk", F.lit(True).alias("_in_base"),
        F.col("date_time").alias("_b_dt"), F.col("value").alias("_b_val"),
        F.col("ts_epoch").alias("_b_ts"),
    )
    c = changes.select(
        "day", "pk", F.col("op").alias("_op"),
        F.col("date_time").alias("_c_dt"), F.col("value").alias("_c_val"),
        F.col("ts_epoch").alias("_c_ts"),
    )
    joined = b.join(c, on=["day", "pk"], how="full_outer")
    op = F.col("_op")
    keep = _survives(F.coalesce(op, F.lit("U")), F.col("_in_base").isNotNull())
    # after the keep-filter, any surviving I/U row takes the change payload
    take_change = op.isin("I", "U")
    return (
        joined.filter(keep)
        .select(
            "day", "pk",
            F.when(take_change, F.col("_c_dt")).otherwise(F.col("_b_dt")).alias("date_time"),
            F.when(take_change, F.col("_c_val")).otherwise(F.col("_b_val")).alias("value"),
            F.when(take_change, F.col("_c_ts")).otherwise(F.col("_b_ts")).alias("ts_epoch"),
        )
    )


def merge_changelog(base: DataFrame, changelog: DataFrame) -> DataFrame:
    """``apply_changes(base, consolidate(changelog))`` as ONE aggregation
    on the day-partitioned writer's own exchange.

    ``base``      : day, pk, date_time, value, ts_epoch — one row per
                    (day, pk), as every merge write leaves it
    ``changelog`` : raw (unconsolidated) seq, pk, op, date_time, value,
                    ts_epoch, day — ``seq`` unique, as for
                    :func:`consolidate`

    The base rows join the changelog as U events at ``seq =
    Long.MinValue``, so every change outranks them in ``max_by`` and
    none of them counts as an I or D.  The union is repartitioned by
    ``day`` and grouped by (day, pk) once: ``hashpartitioning(day)``
    already satisfies the (day, pk) grouping, so the aggregation adds
    no exchange, and it is the partitioning
    :func:`..sources.writer.write_day_partitioned` asks for, so the
    planner drops the writer's ``repartition("day")`` too.  All of a
    day's rows fold in the one task that writes that day's file.
    """
    payload = ("date_time", "value", "ts_epoch")
    tagged = base.select(
        "day", "pk", F.lit(-(1 << 63)).cast("bigint").alias("seq"),
        F.lit("U").alias("op"), *payload, F.lit(True).alias("_in_base"),
    ).unionByName(changelog.select(
        "day", "pk", "seq", "op", *payload, F.lit(False).alias("_in_base"),
    ))
    folded = (tagged.repartition("day").groupBy("day", "pk")
              .agg(*_last_event_aggs(), F.bool_or("_in_base").alias("_in_base")))
    return (folded.filter(_survives(_effective_op(), F.col("_in_base")))
            .select("day", "pk", *_last_payload()))


def _median_seq(log: DataFrame) -> DataFrame:
    """One row, ``_split``: the ``ceil(n/2)``-th smallest ``seq`` of
    ``log`` (NULL when it is empty), found without a global sort.

    ``seq`` is unique, so ``seq <= _split`` holds for the same rows as
    the oracle's ``seq <= median(seq)``.  The sketch quantiles at
    0.5 ± 2/accuracy bracket that rank (its rank error is at most
    n/accuracy); one narrow aggregation then counts the rows below the
    bracket and sorts the few inside it.  A rank outside the bracket
    raises instead of splitting near the median.
    """
    accuracy = 1000
    bracket = log.agg(
        F.count("*").alias("_n"),
        F.percentile_approx("seq", [0.5 - 2 / accuracy, 0.5 + 2 / accuracy],
                            accuracy).alias("_q"))
    seq, lo, hi = F.col("seq"), F.col("_q")[0], F.col("_q")[1]
    band = log.crossJoin(F.broadcast(bracket)).agg(
        F.max("_n").alias("_n"),
        F.count_if(seq < lo).alias("_below"),
        F.sort_array(F.collect_list(F.when(seq.between(lo, hi), seq))).alias("_band"))
    idx = F.ceil(F.col("_n") / 2) - F.col("_below")
    return band.select(
        F.when(idx.between(1, F.size("_band")), F.element_at("_band", idx.cast("int")))
         .when(F.col("_n") > 0, F.raise_error(F.lit(
             "cdc_merge: the median rank fell outside the sketch's bracket")))
         .alias("_split"))


def cdc_merge(events: DataFrame) -> DataFrame:
    """End-to-end Q23 (FIXTURES.md §2.1): the base replays the 'I'
    events up to the median ``seq``, and every event after it merges
    on top.  Both replays start from an empty mirror, so together they
    are one sequential replay of the kept events: one
    :func:`consolidate`, keeping the keys that survive on an empty base
    (op 'I').  Returns the final mirror with the reference's output
    rendering: ``id``=pk, 19-char ``date_time``, nullable ``value``,
    ``ts`` rendered at fixed UTC+2 (consolidate.cpp:45-53).
    """
    log = derive_changelog(events)
    # NO checkpoint on the changelog (the token/input-class rule,
    # BASELINE r7): block-storing one row per change measured SLOWER
    # at every size — 4.5 → 3.2 s at 10M and 87–108 → 20 s at 100M
    # events — because the derivation is scan+project (recomputing it
    # per consumer pipelines into each branch's partial agg) while
    # the block store pays write + memory pressure on 100M rows.
    log = log.crossJoin(F.broadcast(_median_seq(log)))
    seq, split = F.col("seq"), F.col("_split")
    kept = log.filter(((F.col("op") == "I") & (seq <= split)) | (seq > split))
    return (consolidate(kept).filter(_survives(F.col("op"), F.lit(False)))
            .select(F.col("day"), F.col("pk").alias("id"), "date_time", "value",
                    utc2_render(F.col("ts_epoch")).alias("ts")))
