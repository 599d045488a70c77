"""Binlog pseudo-SQL text parser (O11) — the one reference operator
with no round-1 analog.

The reference's consolidate.cpp:310-369 state-machine parses
``mysqlbinlog --verbose`` output: block headers
(``INSERT INTO `enexory`.`api_data_timeseries``` etc.) set the op type
I/U/D; within a block, ``@1=<digits>`` is the pk (any non-digit zeroes
it, and pk==0 drops the block), ``@3='…'`` is the quote-stripped
date_time, and — for non-DELETE blocks only — ``@4`` is the value with
the literal ``NULL`` honored and ``@6`` the epoch ts (non-digit → 0).
``WHERE``/``SET`` marker lines are skipped, and within a block the
LAST assignment of each ``@k`` wins (an UPDATE's WHERE row-image is
followed by its SET row-image, so new values override old).

Spark restatement: the sequential state machine becomes relational.
Each input row is (file, file_mtime, line_no, line); blocks are
recovered with a running count of header lines per file (one window,
partitioned by binlog file — the unit the reference also processes
sequentially, parse_binlogs.sh:118 — so parallelism is per-file,
matching the data's inherent ordering scope), and each block collapses
in ONE hash aggregation using ``max_by(value, line_no)`` per ``@k`` slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: the one table the pipeline mirrors (consolidate.cpp:313-329;
#: the awk pre-filter parse_binlogs.sh:125-140 guarantees it)
TABLE_LIT = "`enexory`.`api_data_timeseries`"

_HEADERS = {
    f"INSERT INTO {TABLE_LIT}": "I",
    f"UPDATE {TABLE_LIT}": "U",
    f"DELETE FROM {TABLE_LIT}": "D",
}

#: :func:`assign_global_seq`'s per-segment seq range: 2^40 (~1.1e12
#: lines per segment, ~8.4e6 segments in a BIGINT)
SEQ_STRIDE = 1 << 40


def _header_op(t):
    expr = None
    for text, op in _HEADERS.items():
        cond = t == F.lit(text)
        expr = F.when(cond, F.lit(op)) if expr is None else expr.when(cond, F.lit(op))
    return expr


def parse_binlog_text(lines: DataFrame) -> DataFrame:
    """Raw pseudo-SQL lines → typed changelog rows.

    Input: ``file, file_mtime, line_no, line``, one row per text line,
    ``line_no`` increasing within the file.
    Output: ``file, seq, pk, op, date_time, value, ts_epoch, day,
    file_mtime`` —
    ``seq`` is the block's first line number (monotone within a file,
    the binlog-position analog); blocks whose pk parse fails are
    dropped exactly as the reference's ``pk != 0`` flush guard does
    (consolidate.cpp:303-316).
    """
    t = F.trim(F.col("line"))
    base = (lines.select("file", "file_mtime", F.col("line_no").alias("_ln"),
                         t.alias("_t"))
                 .filter(F.col("_t") != ""))
    op = _header_op(F.col("_t"))
    # assignment rows: @k = <value> — split at the FIRST '=' with
    # instr/substring exactly as the C++ does (consolidate.cpp:337-341);
    # instr+substr stay in codegen where a regex engine would not
    is_assign = F.col("_t").startswith("@") & (F.instr("_t", "=") > 0)
    k = F.when(is_assign, F.expr("substring(_t, 2, instr(_t, '=') - 2)"))
    v = F.when(is_assign, F.trim(
        F.expr("substring(_t, instr(_t, '=') + 1, length(_t))")))
    # drop junk BEFORE the block-id window: only headers and the four
    # meaningful @ slots matter, and removing other lines cannot change
    # any surviving row's at-or-before header count — this cuts the
    # window sort input by the WHERE/SET markers and unused @ slots
    annotated = (base
                 .withColumn("_hdr_op", op)
                 .withColumn("_k", k)
                 .withColumn("_v", v)
                 .filter(op.isNotNull()
                         | F.col("_k").isin("1", "3", "4", "6")))
    w = (Window.partitionBy("file").orderBy("_ln")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    blocks = (annotated
              .withColumn("_blk", F.sum(
                  F.when(F.col("_hdr_op").isNotNull(), 1).otherwise(0)).over(w))
              .filter(F.col("_blk") > 0))

    def last_val(slot: str):
        cond = F.col("_k") == slot
        return F.max_by(F.when(cond, F.col("_v")),
                        F.when(cond, F.col("_ln")))

    agg = (blocks.groupBy("file", "_blk", "file_mtime")
           .agg(F.min("_ln").alias("seq"),
                F.max_by(F.col("_hdr_op"),
                         F.when(F.col("_hdr_op").isNotNull(),
                                F.col("_ln"))).alias("op"),
                last_val("1").alias("_v1"),
                last_val("3").alias("_v3"),
                last_val("4").alias("_v4"),
                last_val("6").alias("_v6")))
    # @1: digits-only or the block is dropped (consolidate.cpp:344-349)
    pk = F.when(F.col("_v1").rlike(r"^\d+$"), F.col("_v1").cast("bigint")) \
          .otherwise(F.lit(0))
    # @3: strip surrounding single quotes (consolidate.cpp:351-353)
    quoted = (F.length("_v3") > 2) & F.col("_v3").startswith("'") \
             & F.col("_v3").endswith("'")
    dt = F.when(quoted, F.expr("substring(_v3, 2, length(_v3) - 2)")) \
          .otherwise(F.col("_v3"))
    # @4/@6 apply to non-DELETE blocks only (consolidate.cpp:354-366)
    is_d = F.col("op") == "D"
    value = F.when(is_d | (F.col("_v4") == "NULL"), F.lit(None).cast("double")) \
             .otherwise(F.col("_v4").cast("double"))
    ts = F.when(is_d, F.lit(None).cast("bigint")).otherwise(
        F.when(F.col("_v6").rlike(r"^\d+$"), F.col("_v6").cast("bigint"))
         .otherwise(F.lit(0)))
    return (agg.select("file", "seq", pk.alias("pk"), "op",
                       dt.alias("date_time"), value.alias("value"),
                       ts.alias("ts_epoch"),
                       F.substring(dt, 1, 10).alias("day"), "file_mtime")
               .filter(F.col("pk") != 0))


def roundtrip_changelog_identity(changelog: DataFrame) -> DataFrame:
    """Algebraic collapse of ``parse_binlog_text ∘ render_binlog_text``
    over a one-block-per-row changelog — a pure per-row projection.

    The r13 verdict asked for x43's render→parse re-materialization to
    go (its plan was Exchange(file) → posexplode(8–15× rows) →
    Window(sum over file,_ln) → two SortAggregates → range sort, all
    to reconstruct rows the renderer started from).  Equivalence
    argument, term by term against ``parse_binlog_text``'s definition
    (every claim is pinned by
    ``tests/test_binlog.py::test_roundtrip_identity_matches_composition``
    on adversarial inputs):

    - **Block recovery is the identity.**  ``render_binlog_text`` emits
      one header per changelog row at array position 0, so the parser's
      per-file running header count assigns exactly one ``_blk`` per
      input row; blocks cannot interleave because ``line_no =
      seq*1000 + idx`` with idx ≤ 14 and distinct rows have distinct
      ``seq`` (event_id, the fixture PK — the ORACLE's round trip
      makes the identical assumption).  Hence groupBy(file, _blk)
      re-yields the original rows 1:1.
    - **seq' = seq*1000**: min(_ln) over the block is the header's
      line_no (position 0 always survives the junk filter — a header
      is never ''), i.e. seq*1000.
    - **op' = I|U|D round trip**: the rendered header string maps back
      through the exact header table; render's ``otherwise(DELETE)``
      means op ∉ {'I','U'} (including NULL) parses back as 'D'.
    - **@k last-wins**: an UPDATE's stale WHERE image precedes its SET
      image, so max_by(_ln) picks the SET values; @1 is the same pk in
      both images; @4/@6 are always present in the SET image (their
      renders coalesce NULLs to 'NULL'/'0'), so the stale '-999999.0'
      and '0' can never win.  @3 is the ONE slot whose SET line can
      vanish (``concat`` with a NULL date_time nulls the whole line,
      which posexplode emits as NULL and ``trim() <> ''`` drops):
      for 'U' the stale ``'0001-01-01 00:00:00'`` then wins; for
      'I'/'D' the slot is NULL.  Reproduced below by constructing the
      same slot strings in-row and applying the parser's own
      quote-strip / NULL-token / digits-guard expressions verbatim —
      including the corners (empty date_time renders as ``@3=''``
      whose value ``''`` fails the >2-length quote test and parses as
      the literal two-quote string; negative pk fails ``^\\d+$`` and
      drops the block exactly like the parser's pk≠0 flush guard;
      negative ts_epoch parses as 0).
    - ``trim`` is a no-op on every surviving slot: @3 values are
      edge-quoted, @1/@4/@6 render from casts that cannot produce
      edge whitespace.

    Scale: the collapsed form shuffles nothing and scans the
    changelog once; the composition it replaces exchanges and sorts
    an 8–15× exploded token stream (A/B and plan diff in
    OPTIMIZATION_r14.md).
    """
    hdr_op = (F.when(F.col("op") == "I", F.lit("I"))
               .when(F.col("op") == "U", F.lit("U"))
               .otherwise(F.lit("D")))
    pk_str = F.col("pk").cast("string")
    pk = F.when(pk_str.rlike(r"^\d+$"), F.col("pk")).otherwise(F.lit(0))
    # _v3: the parser's last-@3 slot (SET image if its line survived,
    # else the UPDATE's stale WHERE image, else NULL), then the
    # parser's verbatim quote-strip
    v3_img = F.concat(F.lit("'"), F.col("date_time"), F.lit("'"))
    v3 = F.when(v3_img.isNotNull(), v3_img).otherwise(
        F.when(hdr_op == "U", F.lit("'0001-01-01 00:00:00'")))
    quoted = (F.length(v3) > 2) & v3.startswith("'") & v3.endswith("'")
    dt = F.when(quoted, F.substring(v3, F.lit(2), F.length(v3) - 2)) \
          .otherwise(v3)
    # _v4: always the SET image (never NULL as a LINE; NULL value
    # renders as the 'NULL' token)
    v4 = F.when(F.col("value").isNull(), F.lit("NULL")) \
          .otherwise(F.col("value").cast("string"))
    value = F.when((hdr_op == "D") | (v4 == "NULL"),
                   F.lit(None).cast("double")) \
             .otherwise(v4.cast("double"))
    # _v6: always the SET image, NULL ts coalesced to '0' at render
    v6 = F.coalesce(F.col("ts_epoch").cast("string"), F.lit("0"))
    ts = F.when(hdr_op == "D", F.lit(None).cast("bigint")).otherwise(
        F.when(v6.rlike(r"^\d+$"), v6.cast("bigint")).otherwise(F.lit(0)))
    return (changelog.select(
                (F.col("seq") * 1000).alias("seq"),
                pk.alias("pk"), hdr_op.alias("op"),
                dt.alias("date_time"), value.alias("value"),
                ts.alias("ts_epoch"),
                F.substring(dt, 1, 10).alias("day"))
            .filter(F.col("pk") != 0))


def assign_global_seq(changelog: DataFrame) -> DataFrame:
    """Rebase per-file ``seq`` onto ONE global order across rotated
    segments: ``seq' = file_rank * SEQ_STRIDE + seq``.

    The reference applies segments strictly sequentially in index order
    (parse_binlogs.sh:118,146-151: ``for f in $(ls … | sort)``), and
    :func:`~..operators.cdc.consolidate`'s last-event-wins algebra is
    equivalent to that sequential application ONLY when ``seq`` is
    monotone ACROSS segments — ``parse_binlog_text``'s seq is a per-file
    line number that restarts in every segment, so a one-shot
    consolidation over >1 segment would compare line numbers between
    files (an old segment's high line number beats a new segment's low
    one) and collide on equal seqs.

    Segment rank: the reference reads ``mysql-bin.index``
    (parse_binlogs.sh:69-70 sets ``BINLOG_INDEX``; :95-108
    ``parse_index`` drives the file loop), and MySQL appends to the
    index in creation order — which for ``mysql-bin.NNNNNN`` names IS
    the numeric-suffix order.  So rank by the numeric suffix FIRST
    (numeric compare survives MySQL's index widening at
    999999→1000000 where lexical order breaks), then by ``file_mtime``
    (``read_binlog_dir`` / the text stream attach it from
    ``_metadata``) — the tiebreak for
    UUID-named part files with no numeric suffix, and robust to
    rsync/copy without timestamp preservation perturbing mtimes of
    numbered segments — then the name itself.  The rank is computed with one
    window over the DISTINCT file list — bounded by segment count, a
    few dozen rows on one partition — and broadcast back onto the
    changelog; the data itself is never shuffled and nothing is
    collected to the driver.

    ``SEQ_STRIDE`` must exceed any within-file seq; 2^40 is far beyond
    any real mysqlbinlog output, and a violating row raises rather than
    silently mis-ordering.
    """
    sfx = F.regexp_extract("file", r"(\d+)$", 1)
    # mtime is a TIEBREAK after the numeric suffix (index order), never
    # the primary key: copied/rsynced segments without timestamp
    # preservation must not reorder numbered segments
    order_keys = [F.when(sfx != "", sfx.cast("bigint")).asc_nulls_last(),
                  F.col("file_mtime").asc_nulls_last(), F.col("file")]
    from ..session import guarded_window

    rank_w = Window.orderBy(*order_keys)
    files = (changelog.select("file", "file_mtime").distinct()
             .withColumn("_frank",
                         guarded_window(
                             F.row_number().over(rank_w), rank_w,
                             8_388_608, "assign_global_seq file list")
                         - F.lit(1))
             .select("file", "_frank"))
    cols = [c for c in changelog.columns if c != "file_mtime"]
    checked_seq = F.when(
        (F.col("seq") >= 0) & (F.col("seq") < F.lit(SEQ_STRIDE)),
        F.col("seq"),
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"assign_global_seq: per-file seq out of [0, {SEQ_STRIDE}): "),
        F.col("seq").cast("string"))))
    return (changelog.join(F.broadcast(files), "file")
            .withColumn("seq",
                        F.col("_frank") * F.lit(SEQ_STRIDE) + checked_seq)
            .select(*cols))


def render_binlog_text(changelog: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_binlog_text` for fixtures/round-trip
    tests: a typed changelog rendered as mysqlbinlog-style pseudo-SQL,
    one segment ``mysql-bin.000001`` with a NULL ``file_mtime`` (the
    columns :func:`read_binlog_dir` yields).

    UPDATE blocks emit a WHERE row-image with perturbed old values
    before the SET row-image, exercising the last-assignment-wins rule.
    """
    hdr = F.when(F.col("op") == "I", F.lit(f"INSERT INTO {TABLE_LIT}")) \
           .when(F.col("op") == "U", F.lit(f"UPDATE {TABLE_LIT}")) \
           .otherwise(F.lit(f"DELETE FROM {TABLE_LIT}"))
    val_txt = F.when(F.col("value").isNull(), F.lit("NULL")) \
               .otherwise(F.col("value").cast("string"))
    img = F.array(
        F.concat(F.lit("@1="), F.col("pk").cast("string")),
        F.lit("@2=0"),
        F.concat(F.lit("@3='"), F.col("date_time"), F.lit("'")),
        F.concat(F.lit("@4="), val_txt),
        F.lit("@5=0"),
        F.concat(F.lit("@6="), F.coalesce(F.col("ts_epoch").cast("string"),
                                          F.lit("0"))),
    )
    stale = F.array(  # the WHERE row-image an UPDATE overrides
        F.concat(F.lit("@1="), F.col("pk").cast("string")),
        F.lit("@2=0"),
        F.lit("@3='0001-01-01 00:00:00'"),
        F.lit("@4=-999999.0"),
        F.lit("@5=0"),
        F.lit("@6=0"),
    )
    body = (F.when(F.col("op") == "U",
                   F.concat(F.array(hdr, F.lit("WHERE")), stale,
                            F.array(F.lit("SET")), img))
             .when(F.col("op") == "I",
                   F.concat(F.array(hdr, F.lit("SET")), img))
             .otherwise(F.concat(F.array(hdr, F.lit("WHERE")), img)))
    return (changelog
            .select(F.col("seq"), F.posexplode(body).alias("_o", "line"))
            .select(F.lit("mysql-bin.000001").alias("file"),
                    F.lit(None).cast("timestamp").alias("file_mtime"),
                    (F.col("seq") * 1000 + F.col("_o")).alias("line_no"),
                    "line"))


def number_lines(segments: DataFrame) -> DataFrame:
    """Whole-text segments (``file, file_mtime, value``, one row per
    file) → the ``(file, file_mtime, line_no, line)`` rows
    :func:`parse_binlog_text` expects.

    ``posexplode(split())`` numbers each file's lines EXACTLY, with no
    reliance on partition read order — correct because binlog segments
    are small by construction (the writer rotates at a bounded block
    count; a segment is one mysqlbinlog output, not a 100 TB table).
    """
    return segments.select(
        "file", "file_mtime",
        F.posexplode(F.split("value", "\n")).alias("line_no", "line"))


def read_binlog_dir(spark, path: str) -> DataFrame:
    """Read a directory of rotated binlog pseudo-SQL segments into the
    ``(file, file_mtime, line_no, line)`` shape :func:`parse_binlog_text`
    expects: one ``wholetext`` row per segment, then
    :func:`number_lines`.  The heavy side is the parse/consolidate
    after, not this listing-shaped read.
    """
    return number_lines(spark.read.text(path, wholetext=True)
                        .select(F.col("_metadata.file_path").alias("file"),
                                F.col("_metadata.file_modification_time")
                                 .alias("file_mtime"),
                                "value"))
