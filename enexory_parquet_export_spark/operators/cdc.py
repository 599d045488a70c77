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
:func:`apply_changes` merges as a single shuffle-on-key full-outer
join; with AQE on, a small consolidated changelog against a huge base
becomes a broadcast join automatically.  :func:`merge_changelog` folds
a raw changelog into its touched days' base rows in one aggregation
instead, on a ``day`` exchange that the day-partitioned writer reuses:
the mirror merge runs one shuffle, and only touched day-partitions are
rewritten.
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


def snapshot_from_inserts(changelog: DataFrame, upto_seq) -> DataFrame:
    """Base snapshot = replay of all 'I' rows with seq <= upto_seq,
    insert-as-upsert (last I wins per (day, pk)) — FIXTURES.md §2.1.

    ``upto_seq`` may be a literal or a Column (e.g. a scalar subquery).
    """
    inserts = changelog.filter((F.col("op") == "I") & (F.col("seq") <= upto_seq))
    return (
        inserts.groupBy("day", "pk")
        .agg(F.max_by(F.struct("date_time", "value", "ts_epoch"), "seq").alias("_last"))
        .select("day", "pk", *_last_payload())
    )


def apply_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Merge consolidated changes into the base: the reference's
    delete → update-if-exists → insert-as-upsert (consolidate.cpp:184-214)
    as a single keyed full-outer join + CASE.

    ``base``    : day, pk, date_time, value, ts_epoch
    ``changes`` : day, pk, op, date_time, value, ts_epoch (consolidated —
                  exactly one row per (day, pk))

    Per key:  op='D' → drop;  op='U' → new payload iff base row exists;
    op='I' → new payload unconditionally; no change row → keep base row.

    This stays a join, not :func:`merge_changelog`'s union-fold: when
    both inputs already arrive hash-partitioned on (day, pk), as in
    q24, the join adds no exchange and the union-aggregate would add
    one.  q24 at sf0.1 on 4 cores, 10 interleaved reps with the same
    result: median 1.00 s as this join, 1.07 s as the fold.
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


def merge_into_sql(base_table: str, changes_rel: str, *,
                   key_cols: tuple[str, ...] = ("day", "pk"),
                   payload_cols: tuple[str, ...] = ("date_time", "value",
                                                    "ts_epoch"),
                   op_col: str = "op") -> str:
    """The ACID-lakehouse twin of :func:`apply_changes`: one ``MERGE
    INTO`` statement with identical semantics (delete →
    update-if-exists → insert-as-upsert, consolidate.cpp:184-214).

    The repo's SHIPPED contract is the portable full-outer+CASE above —
    it runs on any Spark, is oracle-checkable against DuckDB, and with
    AQE gets the same broadcast-vs-shuffle physical choice a MERGE
    would.  On a Delta/Iceberg deployment the transactional path is
    usually preferable (atomic commit, file-level skipping of untouched
    partitions, concurrent-writer safety); this generator emits that
    statement so the two paths cannot drift — it is the single source
    of truth for the clause order, and pytest pins its text against
    ``apply_changes``'s rule table.  ``changes_rel`` must be a
    CONSOLIDATED relation (one row per key, :func:`consolidate`), which
    is also what MERGE itself requires (multiple source matches on one
    target row raise).

    Clause mapping, per consolidated key:

    * ``op='D'`` + matched   → ``DELETE``  (not matched: no-op — a
      delete of an absent key vanishes, as in the reference);
    * ``op='U'`` + matched   → ``UPDATE``  (not matched: no-op —
      update-to-missing-pk is silently dropped, consolidate.cpp:194);
    * ``op='I'``             → matched ``UPDATE`` / not-matched
      ``INSERT`` — the unconditional upsert.
    """
    on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in payload_cols)
    all_cols = ", ".join((*key_cols, *payload_cols))
    src_vals = ", ".join(f"s.{c}" for c in (*key_cols, *payload_cols))
    return (
        f"MERGE INTO {base_table} t\n"
        f"USING {changes_rel} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s.{op_col} = 'D' THEN DELETE\n"
        f"WHEN MATCHED AND s.{op_col} IN ('U', 'I') THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED AND s.{op_col} = 'I' THEN\n"
        f"  INSERT ({all_cols}) VALUES ({src_vals})"
    )


def cdc_merge(events: DataFrame, split_seq=None) -> DataFrame:
    """End-to-end Q23: derive changelog → snapshot base at the median
    seq → consolidate the tail → merge.  Returns the final mirror with
    the reference's output rendering: ``id``=pk, 19-char ``date_time``,
    nullable ``value``, ``ts`` rendered at fixed UTC+2
    (consolidate.cpp:45-53).
    """
    log = derive_changelog(events)
    # NO checkpoint on the changelog (the token/input-class rule,
    # BASELINE r7): block-storing one row per change measured SLOWER
    # at every size — 4.5 → 3.2 s at 10M and 87–108 → 20 s at 100M
    # events — because the derivation is scan+project (recomputing it
    # per consumer pipelines into each branch's partial agg) while
    # the block store pays write + memory pressure on 100M rows.
    if split_seq is None:
        # compute the median split INSIDE the plan: a 1-row aggregate
        # broadcast-crossed into the changelog — no driver collect, no
        # extra job per invocation (callers that already know the split
        # pass it and skip even this)
        # APPROXIMATE median: the merged mirror is split-invariant by
        # construction (snapshot-at-split + replay-after-split yields
        # the same final state for ANY split point), so the split only
        # needs to be NEAR the middle for balance — and Spark's exact
        # median is an object-hash aggregate that measured 34 s of
        # q24's 40 s total at 10M changes, while the single-pass
        # approx sketch reads in ~1 s.
        med = log.agg(F.percentile_approx("seq", F.lit(0.5), F.lit(1000))
                       .alias("_split_seq"))
        log = log.crossJoin(F.broadcast(med))
        split_col = F.col("_split_seq")
    else:
        split_col = F.lit(split_seq)
    base = snapshot_from_inserts(log, split_col)
    tail = consolidate(log.filter(F.col("seq") > split_col))
    merged = apply_changes(base, tail)
    return merged.select(
        F.col("day"),
        F.col("pk").alias("id"),
        "date_time",
        "value",
        utc2_render(F.col("ts_epoch")).alias("ts"),
    )
