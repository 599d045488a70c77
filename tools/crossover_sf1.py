"""sf1 crossover experiment: window/CDC family, Spark vs DuckDB.

VERDICT r1 graded the window family (q19/q20/q21) and CDC merge
`weak`: 3-4 s wall at sf0.1 vs DuckDB's 0.05-0.26 s.  BASELINE.md
argues those ratios measure Spark's fixed per-job floor, not
throughput — this experiment tests that claim by scaling events 10×
(≈ sf1, ~6M rows) and re-timing the same four query shapes on both
engines.  If the floor argument is right, the ratio must collapse
toward ≤2× as real work swamps the constant.

The scaled table derives deterministically from the sf0.1 fixture
(10 copies, event_id/user_id offset per copy so keys stay unique and
key cardinality grows 10×) and is cached under ``.scratch/`` (git-
ignored).  Usage::

    python tools/crossover_sf1.py [--copies N] [--only SHAPE,...]
        [--doc-copies N] [--vec-copies N] [--duck-timeout SEC]
        [--ivf-cached] [--ivf-probe-suite [--n-probes N]]
        [--ivf-skip-plain] [--comp-nodes N]

``--only`` names the shapes to run: the ``QUERIES``, ``DOC_QUERIES``
and ``ORD_QUERIES`` keys, ``lsh_rerank``, ``ivf_probe``,
``components``, ``kmeans``, ``bpe``, ``novelty``, ``semdedup`` and
``pq_adc``; without it every shape runs.
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")

#: the four r1-`weak` shapes, as SQL both engines run verbatim on the
#: scaled events table (identical text → identical work)
QUERIES = {
    "rank_lastwins": """
        SELECT user_id, event_id, event_type FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events_sf1) t WHERE rn = 1""",
    "lag_changes": """
        SELECT user_id, event_id FROM (
          SELECT user_id, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events_sf1) t WHERE prev IS NOT NULL AND prev <> event_type""",
    "frame_movsum": """
        SELECT user_id, event_id,
               CAST(floor(sum(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 1e6) AS BIGINT)
               AS mov_micro
        FROM events_sf1""",
    "hash_agg": """
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sv
        FROM events_sf1 GROUP BY user_id, event_type""",
    # --- round-2 additions: the remaining r1-`weak` shapes ---------------
    # enrich join: big fact ⋈ per-key dim derived from itself (the
    # changes⋈base shape of q13 at fact scale)
    "join_enrich": """
        SELECT e.user_id, e.event_id, d.first_ts
        FROM events_sf1 e
        JOIN (SELECT user_id, min(ts) AS first_ts
              FROM events_sf1 GROUP BY user_id) d
          ON e.user_id = d.user_id
        WHERE e.event_type = 'purchase'""",
    # CDC consolidation core: last-event-wins per (day, pk) in one
    # hash agg — the q24 merge's dominant stage (consolidate.cpp:56-109)
    "cdc_consolidate": """
        SELECT CAST(ts AS DATE) AS day, user_id,
               max_by(event_type, event_id) AS last_op,
               max_by(value, event_id) AS last_value,
               max(event_id) AS max_seq
        FROM events_sf1 GROUP BY CAST(ts AS DATE), user_id""",
    # exact dedup keep-first by content key (q27 at fact scale)
    "dedup_keepfirst": """
        SELECT user_id, ts, value, event_id FROM (
          SELECT user_id, ts, value, event_id,
                 row_number() OVER (PARTITION BY user_id, ts, value
                                    ORDER BY event_id) AS rn
          FROM events_sf1) t WHERE rn = 1""",
    # global top-k by measure (q22's orderBy().limit() shape)
    "topk_global": """
        SELECT event_id, user_id, value FROM events_sf1
        WHERE value IS NOT NULL
        ORDER BY value DESC, event_id LIMIT 100""",
    # sessionization islands (x45/x71's shape: lag + running sum + agg)
    "sessionize": """
        SELECT user_id, snum, CAST(count(*) AS BIGINT) AS n_events FROM (
          SELECT user_id, sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS snum
          FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN prev_ts IS NULL
                          OR ts - prev_ts >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM (SELECT user_id, ts, event_id,
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_ts
                  FROM events_sf1) t) t2) t3
        GROUP BY user_id, snum""",
    # time-based RANGE frame (x75's shape: trailing-hour count per key)
    "time_range_frame": """
        SELECT user_id, event_id,
               CAST(count(*) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_1h
        FROM events_sf1""",
}


#: round-3 text-pipeline shapes on the scaled documents table.  The
#: two engines' list/lateral dialects differ, so each entry is a
#: (spark_sql, duck_sql) PAIR expressing the identical logical work
#: (same explodes, same aggregations, same joins) — the harness times
#: work, it does not diff results, and each engine uses its native
#: 64-bit hash for the segment key.
DOC_QUERIES = {
    # x76 core: segment explode → frequency hash agg → join back
    "segment_boilerplate": (
        """
        WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM docs_sf1),
        segs AS (
          SELECT doc_id,
                 xxhash64(array_join(slice(ws, seg * 8 + 1, 8), ' ')) AS h
          FROM w LATERAL VIEW explode(sequence(0,
               CAST(ceil(size(ws) / 8.0) AS INT) - 1)) t AS seg),
        freq AS (SELECT h, count(DISTINCT doc_id) AS nd
                 FROM segs GROUP BY h)
        SELECT s.doc_id, count(*) AS n_segs,
               sum(CASE WHEN f.nd >= 3 THEN 1 ELSE 0 END) AS n_boiler
        FROM segs s JOIN freq f USING (h) GROUP BY s.doc_id""",
        """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM docs_sf1),
        segs AS (
          SELECT doc_id,
                 hash(array_to_string(ws[(i.seg * 8 + 1):(i.seg * 8 + 8)],
                                      ' ')) AS h
          FROM w, LATERAL (SELECT unnest(range(0,
               CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS seg) i),
        freq AS (SELECT h, count(DISTINCT doc_id) AS nd
                 FROM segs GROUP BY h)
        SELECT s.doc_id, count(*) AS n_segs,
               sum(CASE WHEN f.nd >= 3 THEN 1 ELSE 0 END) AS n_boiler
        FROM segs s JOIN freq f USING (h) GROUP BY s.doc_id"""),
    # x80 core: bigram explode → two count aggs → join back → per-doc agg
    "bigram_lm": (
        """
        WITH t AS (SELECT doc_id, split(text, ' ') AS ws FROM docs_sf1),
        big AS (
          SELECT doc_id, element_at(ws, p) AS w1,
                 element_at(ws, p + 1) AS w2
          FROM t LATERAL VIEW explode(sequence(1, size(ws) - 1)) x AS p),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1)
        SELECT b.doc_id, count(*) AS n,
               CAST(floor(sum(floor(c12 * 1000000.0 / c1))
                          / count(*)) AS BIGINT) AS m
        FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1)
        GROUP BY b.doc_id""",
        """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM docs_sf1),
        big AS (
          SELECT doc_id, ws[i.p] AS w1, ws[i.p + 1] AS w2
          FROM t, LATERAL (SELECT unnest(range(1,
               CAST(len(ws) AS BIGINT))) AS p) i),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1)
        SELECT b.doc_id, count(*) AS n,
               CAST(floor(sum(floor(c12 * 1000000.0 / c1))
                          / count(*)) AS BIGINT) AS m
        FROM big b JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
                   JOIN uc ON b.w1 = uc.w1
        GROUP BY b.doc_id"""),
}


#: round-5 ordering shapes (x89 / x90): the engine's "never sort the
#: corpus" formulations vs the naive single-sort SQL a warehouse would
#: write.  Like the vector family, each side runs its own formulation
#: of the same logical result (and its native 64-bit hash) — the
#: harness times work, it does not diff rows.
ORD_QUERIES = {
    # x89 core: deterministic global permutation.  Engine: two-level
    # bucketed rank (4096-bucket hash partition + per-bucket
    # row_number + broadcast bucket offsets — no corpus-wide sort).
    # DuckDB: the textbook row_number() OVER (ORDER BY hash).
    "shuffle_perm": (
        """
        WITH b AS (SELECT event_id,
                          xxhash64(CAST(event_id AS STRING)) AS hh,
                          pmod(xxhash64(CAST(event_id AS STRING)), 4096)
                            AS bkt
                   FROM events_sf1),
        sizes AS (SELECT bkt, count(*) AS n FROM b GROUP BY bkt),
        offs AS (SELECT bkt,
                        coalesce(sum(n) OVER (ORDER BY bkt
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS off
                 FROM sizes)
        SELECT b.event_id,
               o.off + row_number() OVER (PARTITION BY b.bkt
                                          ORDER BY b.hh, b.event_id) - 1
                 AS pos
        FROM b JOIN offs o ON b.bkt = o.bkt""",
        """
        SELECT event_id,
               row_number() OVER (ORDER BY hash(event_id), event_id) - 1
                 AS pos
        FROM events_sf1"""),
    # x90 core: quantile binning.  Engine: histogram-CDF over the
    # bounded VALUE DOMAIN (group → cum-count → ceil(cdf·10)) — the
    # corpus is touched twice, nothing corpus-sized is sorted.
    # DuckDB: ntile(10) over a full sort of every row.
    "decile_bins": (
        """
        WITH v AS (SELECT event_id,
                          CAST(floor(value * 1000) AS BIGINT) AS nv
                   FROM events_sf1 WHERE value IS NOT NULL),
        hist AS (SELECT nv, count(*) AS c FROM v GROUP BY nv),
        cdf AS (SELECT nv,
                       sum(c) OVER (ORDER BY nv
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
                       sum(c) OVER () AS tot
                FROM hist),
        bins AS (SELECT nv, CAST(ceil(cum * 10.0 / tot) AS BIGINT) AS bin
                 FROM cdf)
        SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
               min(nv) AS mn, max(nv) AS mx, sum(nv) AS s
        FROM v JOIN bins USING (nv) GROUP BY bin""",
        """
        WITH v AS (SELECT event_id,
                          CAST(floor(value * 1000) AS BIGINT) AS nv
                   FROM events_sf1 WHERE value IS NOT NULL),
        t AS (SELECT nv, ntile(10) OVER (ORDER BY nv) AS bin FROM v)
        SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
               min(nv) AS mn, max(nv) AS mx, sum(nv) AS s
        FROM t GROUP BY bin"""),
}


def build_scaled_emb(spark, copies: int) -> str:
    """Scaled embeddings: each copy is component-perturbed (±0.01,
    deterministic in (copy, dim)) so the copies occupy distinct LSH
    buckets / IVF lists the way a real corpus would — 500 identical
    copies of 2 000 vectors would collapse into ≤2 000 bucket patterns
    and grossly overstate bucket skew."""
    path = os.path.join(SCRATCH, f"emb_x{copies}.parquet")
    if os.path.exists(path):
        return path
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.sources.tables import load_table
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = spark.range(copies).select(F.col("id").alias("_i"))
    pert = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, d: x + ((F.col("_i") * 31 + d * 7) % 1009 - 504)
        / F.lit(50000.0))
    out = emb.crossJoin(F.broadcast(idx)).select(
        (F.col("vec_id") + F.col("_i") * 1_000_000).alias("vec_id"),
        pert.alias("embedding"), "label")
    out.repartition(32).write.mode("overwrite").parquet(path)
    return path


def _duck_vec_lit(vals) -> str:
    return "[" + ", ".join(f"{v!r}" for v in vals) + "]"


def duck_lsh_sql(n_planes: int, dim: int, k: int) -> str:
    """DuckDB twin of ann_lsh_topk: sign-of-projection bucket per
    plane (same deterministic md5 coefficients), pair join within
    bucket, exact cosine rerank."""
    from enexory_parquet_export_spark.operators.similarity import lsh_planes
    bits = " || ".join(
        f"(CASE WHEN list_dot_product(v, {_duck_vec_lit(p)}) >= 0 "
        f"THEN '1' ELSE '0' END)" for p in lsh_planes(n_planes, dim))
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM emb_sf1),
        b AS (SELECT vec_id, v, {bits} AS blk FROM e),
        p AS (SELECT a.vec_id, c.vec_id AS nbr_id,
                     list_dot_product(a.v, c.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(c.v, c.v))) AS cos
              FROM b a JOIN b c
                ON a.blk = c.blk AND a.vec_id <> c.vec_id),
        r AS (SELECT vec_id, nbr_id, cos,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cos DESC, nbr_id) AS rn
              FROM p)
        SELECT vec_id, nbr_id,
               CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_micro, rn
        FROM r WHERE rn <= {k}"""


def duck_ivf_sql(stride: int, nprobe: int, k: int) -> str:
    """DuckDB twin of ivf_flat_topk at an explicit stride (x44's oracle
    shape, parameterized)."""
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM emb_sf1),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e
                 WHERE vec_id % {stride} = 0),
        scored AS (
          SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cs
          FROM e CROSS JOIN cent c),
        ranked AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, cid ASC) AS pr
          FROM scored),
        probes AS (SELECT vec_id AS qid, cid FROM ranked
                   WHERE pr <= {nprobe}),
        idx AS (SELECT vec_id AS nbr_id, cid FROM ranked WHERE pr = 1),
        cand AS (SELECT DISTINCT qid, nbr_id
                 FROM probes JOIN idx USING (cid) WHERE qid <> nbr_id),
        rer AS (
          SELECT c.qid, c.nbr_id,
                 list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM cand c JOIN e a ON a.vec_id = c.qid
                      JOIN e b ON b.vec_id = c.nbr_id),
        top AS (SELECT qid, nbr_id, cos,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, nbr_id ASC)
                         AS rnk
                FROM rer)
        SELECT qid AS vec_id, nbr_id,
               CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_micro, rnk
        FROM top WHERE rnk <= {k}"""


def duck_ivf_probe_sql(stride: int, nprobe: int, k: int,
                       probe_step: int, cap: int) -> str:
    """Probe-bounded twin of :func:`duck_ivf_sql`: only decimated
    probes are scored as queries, but list assignment (pr=1 over the
    WHOLE corpus) remains — exact IVF semantics need every member's
    list, which is precisely the work a resident index amortizes and
    an in-query formulation cannot."""
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM emb_sf1),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e
                 WHERE vec_id % {stride} = 0),
        scored AS (
          SELECT e.vec_id, c.cid,
                 list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cs
          FROM e CROSS JOIN cent c),
        ranked AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cs DESC, cid ASC) AS pr
          FROM scored),
        pset AS (SELECT vec_id FROM e WHERE vec_id % {probe_step} = 0
                 ORDER BY vec_id LIMIT {cap}),
        probes AS (SELECT r.vec_id AS qid, r.cid FROM ranked r
                   JOIN pset p ON p.vec_id = r.vec_id
                   WHERE r.pr <= {nprobe}),
        idx AS (SELECT vec_id AS nbr_id, cid FROM ranked WHERE pr = 1),
        cand AS (SELECT DISTINCT qid, nbr_id
                 FROM probes JOIN idx USING (cid) WHERE qid <> nbr_id),
        rer AS (
          SELECT c.qid, c.nbr_id,
                 list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM cand c JOIN e a ON a.vec_id = c.qid
                      JOIN e b ON b.vec_id = c.nbr_id),
        top AS (SELECT qid, nbr_id, cos,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, nbr_id ASC)
                         AS rnk
                FROM rer)
        SELECT qid AS vec_id, nbr_id,
               CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_micro, rnk
        FROM top WHERE rnk <= {k}"""


def build_scaled_docs(spark, copies: int) -> str:
    path = os.path.join(SCRATCH, f"docs_x{copies}.parquet")
    if os.path.exists(path):
        return path
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.sources.tables import load_table
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = spark.range(copies).select(F.col("id").alias("_i"))
    out = docs.crossJoin(F.broadcast(idx)).select(
        (F.col("doc_id") + F.col("_i") * 1_000_000).alias("doc_id"), "text")
    out.repartition(32).write.mode("overwrite").parquet(path)
    return path


def build_scaled(spark, copies: int) -> str:
    path = os.path.join(SCRATCH, f"events_x{copies}.parquet")
    if os.path.exists(path):
        return path
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.sources.tables import load_table
    ev = load_table(spark, SF_DIR, "events")
    # one crossJoin with a copy-index relation instead of a
    # copies-way union: the plan stays O(1) in `copies`
    idx = spark.range(copies).select(F.col("id").alias("_i"))
    out = ev.crossJoin(F.broadcast(idx)).select(
        (F.col("event_id") + F.col("_i") * 1_000_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("_i") * 1_000).alias("user_id"),
        "event_type", "value")
    out.repartition(32).write.mode("overwrite").parquet(path)
    return path


def main() -> int:
    copies = 10
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    from enexory_parquet_export_spark.session import get_spark
    spark = get_spark("crossover")
    spark.sparkContext.setLogLevel("ERROR")
    path = build_scaled(spark, copies)

    spark.read.parquet(path).createOrReplaceTempView("events_sf1")
    # warm both engines on a throwaway full pass
    spark.sql("SELECT count(*) FROM events_sf1").collect()

    import duckdb
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events_sf1 AS SELECT * FROM read_parquet('{path}/*.parquet')")
    con.execute("SELECT count(*) FROM events_sf1").fetchall()

    n = spark.sql("SELECT count(*) FROM events_sf1").collect()[0][0]
    print(f"rows: {n:,} ({copies}× sf0.1)")
    print(f"| query | duckdb sec | spark sec | ratio |")
    print(f"|---|---|---|---|")
    doc_copies = 20
    if "--doc-copies" in sys.argv:
        doc_copies = int(sys.argv[sys.argv.index("--doc-copies") + 1])
    dpath = build_scaled_docs(spark, doc_copies)
    spark.read.parquet(dpath).createOrReplaceTempView("docs_sf1")
    con.execute(f"CREATE VIEW docs_sf1 AS SELECT * "
                f"FROM read_parquet('{dpath}/*.parquet')")
    nd = spark.sql("SELECT count(*) FROM docs_sf1").collect()[0][0]
    print(f"docs rows: {nd:,} ({doc_copies}× sf0.1)")

    paired = {name: (sql, sql) for name, sql in QUERIES.items()}
    paired.update(DOC_QUERIES)
    paired.update(ORD_QUERIES)
    for name, (sql_spark, sql_duck) in paired.items():
        if only is not None and name not in only:
            continue
        sql = sql_spark  # spark side below; duck side uses sql_duck
        # best-of-2 per engine: first Spark execution pays one-off
        # whole-stage-codegen JIT and first DuckDB execution pays OS
        # page-cache fill — steady-state is the number that scales
        ts = min(_timed(lambda: spark.sql(sql).write.format("noop")
                        .mode("overwrite").save()) for _ in range(2))
        # .arrow(): near-zero-copy columnar export — python-object
        # fetchall() would bill DuckDB millions of row conversions
        # that Spark's noop sink doesn't pay
        td = min(_timed(lambda: con.execute(sql_duck).arrow())
                 for _ in range(2))
        print(f"| {name} | {td:.2f} | {ts:.2f} | {ts/td:.2f}× |")

    # ---- round-4: vector family (x38 lsh_rerank / x44 ivf_probe) --------
    # Spark side runs the ENGINE OPERATOR (pandas-UDF kernels, the real
    # product path); DuckDB runs the equivalent generated SQL.  Both
    # get the same scale-adapted knobs: n_planes grows log2 with the
    # corpus (bucket occupancy ~constant), the IVF stride grows ~√N
    # (assignment and candidate work balanced).
    import math

    vec_copies = 125
    if "--vec-copies" in sys.argv:
        vec_copies = int(sys.argv[sys.argv.index("--vec-copies") + 1])
    vec_shapes = {"lsh_rerank", "ivf_probe"}
    if only is not None:
        vec_shapes &= only
    if vec_shapes:
        from enexory_parquet_export_spark.operators.similarity import (
            ann_lsh_topk,
            ivf_flat_topk,
        )
        epath = build_scaled_emb(spark, vec_copies)
        sedf = spark.read.parquet(epath)
        con.execute(f"CREATE VIEW emb_sf1 AS SELECT * "
                    f"FROM read_parquet('{epath}/*.parquet')")
        nv = sedf.count()
        n_planes = max(8, int(math.ceil(math.log2(max(nv, 2) / 4.0))))
        stride = max(17, int(math.sqrt(nv)))
        print(f"emb rows: {nv:,} ({vec_copies}× sf0.1); "
              f"n_planes={n_planes}, ivf_stride={stride}")

        def _noop(df):
            df.write.format("noop").mode("overwrite").save()

        runs = {
            "lsh_rerank": (
                lambda: _noop(ann_lsh_topk(sedf, k=3, n_planes=n_planes)),
                duck_lsh_sql(n_planes, 64, 3)),
            "ivf_probe": (
                lambda: _noop(ivf_flat_topk(sedf, k=3,
                                            centroid_stride=stride,
                                            nprobe=2)),
                duck_ivf_sql(stride, 2, 3)),
        }
        # --ivf-cached (r11 VERDICT #6): the SESSION-CACHED index path
        # at vector scale — first run bills the codebook + (at chunking
        # scale) the materialized inverted-list index, the steady rep
        # serves queries against the resident index, the deployment
        # posture a real ANN service runs.  Spark-side only; the duck
        # pair is the ivf_probe reading (duck rebuilds its index
        # in-query every time — that IS its steady state).
        if "--ivf-cached" in sys.argv and "ivf_probe" in vec_shapes:
            ckey = f"ann-crossover-{nv}"
            t_first = _timed(lambda: _noop(ivf_flat_topk(
                sedf, k=3, centroid_stride=stride, nprobe=2,
                cache_key=ckey)))
            t_steady = _timed(lambda: _noop(ivf_flat_topk(
                sedf, k=3, centroid_stride=stride, nprobe=2,
                cache_key=ckey)))
            print(f"ivf_cached: spark first {t_first:.2f}s / "
                  f"steady {t_steady:.2f}s", flush=True)
        if "--ivf-probe-suite" in sys.argv and "ivf_probe" in vec_shapes:
            # r12 crossover watch item / r13 VERDICT #7: the all-N
            # self-join is rerank-bound (~118 µs/vector at 5M); the
            # CONTRACT workload is a bounded probe suite (≤ PROBE_CAP)
            # against the session-cached index — ANN-as-a-service
            # shape.  Probes = corpus decimation (the x44 idiom).
            # The duck pair keeps its in-query index build (that IS
            # its steady state — no resident index to amortize), with
            # only the probe side bounded; at large N the corpus×cent
            # scoring for list assignment still dominates it.
            from pyspark.sql import functions as F
            from enexory_parquet_export_spark.operators.similarity import (
                ivf_flat_probe_topk,
            )
            n_probes = 1024
            if "--n-probes" in sys.argv:
                n_probes = int(sys.argv[sys.argv.index("--n-probes") + 1])
            pstep = max(1, nv // n_probes)
            probe_rows = (sedf.filter(F.col("vec_id") % pstep == 0)
                          .select("vec_id", "embedding")
                          .orderBy("vec_id").limit(n_probes).collect())
            probes = [(r["vec_id"], list(r["embedding"]))
                      for r in probe_rows]
            ckey = f"ann-crossover-{nv}"
            t_first = _timed(lambda: _noop(ivf_flat_probe_topk(
                sedf, probes, k=3, centroid_stride=stride, nprobe=2,
                cache_key=ckey)))
            t_steady = _timed(lambda: _noop(ivf_flat_probe_topk(
                sedf, probes, k=3, centroid_stride=stride, nprobe=2,
                cache_key=ckey)))
            print(f"ivf_probe_suite: {len(probes)} probes (step "
                  f"{pstep}), spark first {t_first:.2f}s / steady "
                  f"{t_steady:.2f}s "
                  f"({t_steady / max(len(probes), 1) * 1e3:.1f} "
                  f"ms/probe steady)", flush=True)
            dsql = duck_ivf_probe_sql(stride, 2, 3, pstep, n_probes)
            duck_to = 1200.0
            if "--duck-timeout" in sys.argv:
                duck_to = float(
                    sys.argv[sys.argv.index("--duck-timeout") + 1])
            import threading as _th
            timer = _th.Timer(duck_to, con.interrupt)
            timer.start()
            try:
                td = _timed(lambda: con.execute(dsql).arrow())
                print(f"| ivf_probe_suite | {td:.2f} | {t_steady:.2f} "
                      f"| {t_steady/td:.2f}× |", flush=True)
            except Exception as exc:
                print(f"| ivf_probe_suite | DNF(>{duck_to:.0f}s or "
                      f"spill) | {t_steady:.2f} | — |  "
                      f"(duckdb: {str(exc)[:140]})", flush=True)
            finally:
                timer.cancel()
        # best-of-1 at vector scale: runs are minutes long, so JIT /
        # page-cache amortize within the run and a second rep only
        # doubles the experiment's wall clock.  DuckDB may legitimately
        # DNF here — its pair-row join formulation materializes the
        # |Q|x|M| candidate space with full vectors and can exhaust
        # temp disk where the engine's block kernels never materialize
        # pairs; record that as a result instead of crashing.  A wall
        # timeout (--duck-timeout, default 20 min) interrupts the
        # statement so the spill doesn't exhaust the host disk first.
        duck_timeout = 1200.0
        if "--duck-timeout" in sys.argv:
            duck_timeout = float(
                sys.argv[sys.argv.index("--duck-timeout") + 1])
        import threading
        # --ivf-skip-plain: when the cached-index / probe-suite
        # experiments are the subject, skip the uncached all-N race
        # (at 5M vectors it is ~10 min of spark + a duck DNF timeout
        # that measure nothing new)
        if "--ivf-skip-plain" in sys.argv:
            vec_shapes = set()
        for name in sorted(vec_shapes):
            sfn, dsql = runs[name]
            ts = _timed(sfn)
            print(f"{name}: spark {ts:.2f}s", flush=True)
            timer = threading.Timer(duck_timeout, con.interrupt)
            timer.start()
            try:
                td = _timed(lambda: con.execute(dsql).arrow())
                print(f"| {name} | {td:.2f} | {ts:.2f} | {ts/td:.2f}× |",
                      flush=True)
            except Exception as exc:
                print(f"| {name} | DNF(>{duck_timeout:.0f}s or spill) "
                      f"| {ts:.2f} | — |  (duckdb: {str(exc)[:140]})",
                      flush=True)
            finally:
                timer.cancel()

    # ---- round-4: iterative components (x59/x82 family) -----------------
    # At sf0.1 these queries sit on Spark's per-job dispatch floor
    # (~7 jobs for a 2-round loop) while DuckDB's recursive CTE is
    # milliseconds; this shape tests the same star/chain graph at real
    # size, where the pointer-jumping loop is O(E log d) work and the
    # CTE's reach-set fixpoint is not.
    if only is None or "components" in (only or set()):
        comp_nodes = 10_000_000
        if "--comp-nodes" in sys.argv:
            comp_nodes = int(sys.argv[sys.argv.index("--comp-nodes") + 1])
        from pyspark.sql import functions as F

        from enexory_parquet_export_spark.operators.components import (
            connected_components,
        )
        N = comp_nodes
        ids = spark.range(N).select(F.col("id").alias("doc_id"))
        stars = (ids.filter(F.col("doc_id") % 3 > 0)
                 .select(F.col("doc_id").alias("id_a"),
                         (F.col("doc_id") - F.col("doc_id") % 3)
                         .alias("id_b")))
        chn = (ids.filter((F.col("doc_id") % 50 == 0)
                          & (F.col("doc_id") + 1 < N))
               .select(F.col("doc_id").alias("id_a"),
                       (F.col("doc_id") + 1).alias("id_b")))
        cedges = stars.unionByName(chn)

        def _comp_run():
            (connected_components(cedges).groupBy("label")
             .agg(F.count("*").alias("n")).agg(F.count("*"), F.sum("n"))
             .write.format("noop").mode("overwrite").save())

        ts = min(_timed(_comp_run) for _ in range(2))
        duck_comp = f"""
            WITH RECURSIVE ids AS (
              SELECT unnest(range(0, {N})) AS doc_id),
            e0 AS (
              SELECT doc_id AS a, doc_id - doc_id % 3 AS b FROM ids
              WHERE doc_id % 3 > 0
              UNION ALL
              SELECT doc_id, doc_id + 1 FROM ids
              WHERE doc_id % 50 = 0 AND doc_id + 1 < {N}),
            edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
            nodes AS (SELECT DISTINCT a AS node FROM edges),
            reach(node, r) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT reach.node, edges.b
              FROM reach JOIN edges ON reach.r = edges.a),
            labels AS (SELECT node, min(r) AS label FROM reach
                       GROUP BY node)
            SELECT count(DISTINCT label), count(*) FROM labels"""
        td = _timed(lambda: con.execute(duck_comp).fetchall())
        print(f"components nodes: {N:,}")
        print(f"| components | {td:.2f} | {ts:.2f} | {ts/td:.2f}× |")

    # ---- round-5: iterative ML shapes (x94 k-means / x95 BPE) -----------
    # Each side runs its own formulation of the identical integer-exact
    # result (value-pinned by the sf0.01 oracle gate): the engine runs
    # the declared operator cores, DuckDB the generated unrolled-CTE
    # oracles retargeted at the scaled views.  A wall timeout interrupts
    # DuckDB like the vector family.
    import threading

    from enexory_parquet_export_spark.queries_ext import (
        _bpe_oracle,
        _kmeans_oracle,
        bpe_merges,
        kmeans_assign,
    )

    duck_timeout = 1200.0
    if "--duck-timeout" in sys.argv:
        duck_timeout = float(sys.argv[sys.argv.index("--duck-timeout") + 1])

    def _materialize_ctes(sql: str) -> str:
        """DuckDB inlines CTEs referenced more than once; in the
        3-round unrolled oracles that inlining compounds per round
        and blows memory at vocab scale (measured: OOM at a 200k-word
        BPE, 77 GB spill on the 250k-vector k-means).  MATERIALIZED
        hints give DuckDB its best formulation for the timing race —
        the sf0.01 correctness gate still runs the plain oracles."""
        import re
        sql = re.sub(r"(?m)^(\w+ AS) \(", r"\1 MATERIALIZED (", sql)
        return re.sub(r"(?m)^WITH (\w+ AS) \(",
                      r"WITH \1 MATERIALIZED (", sql)

    def _duck_race(name, sql, ts):
        sql = _materialize_ctes(sql)
        timer = threading.Timer(duck_timeout, con.interrupt)
        timer.start()
        try:
            td = _timed(lambda: con.execute(sql).arrow())
            print(f"| {name} | {td:.2f} | {ts:.2f} | {ts/td:.2f}× |",
                  flush=True)
        except Exception as exc:
            print(f"| {name} | DNF(>{duck_timeout:.0f}s or spill) "
                  f"| {ts:.2f} | — |  (duckdb: {str(exc)[:140]})",
                  flush=True)
        finally:
            timer.cancel()

    if only is None or "kmeans" in only:
        vec_copies2 = 125
        if "--vec-copies" in sys.argv:
            vec_copies2 = int(sys.argv[sys.argv.index("--vec-copies") + 1])
        epath = build_scaled_emb(spark, vec_copies2)
        sedf = spark.read.parquet(epath)
        try:
            con.execute(f"CREATE VIEW emb_sf1 AS SELECT * "
                        f"FROM read_parquet('{epath}/*.parquet')")
        except Exception:
            pass
        nv = sedf.count()
        print(f"kmeans vectors: {nv:,}", flush=True)
        ts = _timed(lambda: kmeans_assign(sedf).write.format("noop")
                    .mode("overwrite").save())
        print(f"kmeans: spark {ts:.2f}s", flush=True)
        _duck_race("kmeans",
                   _kmeans_oracle(8, 3).replace("FROM embeddings",
                                                "FROM emb_sf1"), ts)

    if only is None or "bpe" in only:
        # synthetic large vocabulary: every scaled event_id as a digit
        # "word" (count 1) — BPE over N-million-word vocabularies,
        # which the 31-word fixture vocab cannot exercise
        words = spark.sql(
            "SELECT CAST(event_id AS STRING) AS word,"
            " CAST(1 AS BIGINT) AS cnt FROM events_sf1")
        nw = words.count()
        print(f"bpe vocab words: {nw:,}", flush=True)
        ts = _timed(lambda: bpe_merges(words).write.format("noop")
                    .mode("overwrite").save())
        print(f"bpe: spark {ts:.2f}s", flush=True)
        bpe_sql = _bpe_oracle(3)
        head, _, tail = bpe_sql.partition("sym0 AS")
        bpe_sql = ("WITH wc AS (SELECT CAST(event_id AS VARCHAR) AS word,"
                   " CAST(1 AS BIGINT) AS cnt FROM events_sf1),\nsym0 AS"
                   + tail)
        _duck_race("bpe", bpe_sql, ts)

    if only is None or "novelty" in only:
        # x93 at scale runs the DECLARED pair verbatim: the engine
        # query on a symlinked fixture dir over the scaled corpus, the
        # registered oracle on a `documents` view of the same files.
        # Identical text per copy multiplies every shingle's document
        # frequency by `doc_copies` — the hot-key join stress the
        # AQE-skew-split claim in the x93 docstring is about.
        from enexory_parquet_export_spark.queries_ext import (
            ORACLE_SQL,
            SPARK_QUERIES,
        )
        dpath2 = build_scaled_docs(spark, doc_copies)
        fixture = os.path.join(SCRATCH, f"fixture_docs_x{doc_copies}")
        os.makedirs(fixture, exist_ok=True)
        link = os.path.join(fixture, "documents.parquet")
        if not os.path.exists(link):
            os.symlink(dpath2, link)
        ndv = spark.read.parquet(dpath2).count()
        print(f"novelty docs: {ndv:,}", flush=True)
        ts = _timed(lambda: SPARK_QUERIES["x93_novelty"](spark, fixture)
                    .write.format("noop").mode("overwrite").save())
        print(f"novelty: spark {ts:.2f}s", flush=True)
        con.execute("DROP VIEW IF EXISTS documents")
        con.execute(f"CREATE VIEW documents AS SELECT * "
                    f"FROM read_parquet('{dpath2}/*.parquet')")
        _duck_race("novelty", ORACLE_SQL["x93_novelty"], ts)

    if only is None or "semdedup" in only:
        # r7: x97's operator core at vector scale under its OWN scale
        # contract (K ~ √N, SemDeDup's recipe) — the declared-fixture
        # K=8 stays on the sf0.01 oracle gate.  DuckDB runs the same
        # cluster-then-compare semantics in the pair-join formulation
        # (the only relational rendering): Σ|cluster|² pair rows each
        # evaluating a 64-term list lambda — the shape whose removal
        # from the engine was the r7 fix.  Expected: Spark's grouped
        # gram-matrix kernel reads minutes of BLAS; the pair join DNFs
        # past 250k vectors.
        import math

        vec_copies3 = 125
        if "--vec-copies" in sys.argv:
            vec_copies3 = int(sys.argv[sys.argv.index("--vec-copies") + 1])
        from pyspark.sql import functions as F

        from enexory_parquet_export_spark.operators.similarity import (
            semantic_dedup,
        )
        epath = build_scaled_emb(spark, vec_copies3)
        sedf = spark.read.parquet(epath)
        try:
            con.execute(f"CREATE VIEW emb_sf1 AS SELECT * "
                        f"FROM read_parquet('{epath}/*.parquet')")
        except Exception:
            pass
        nv = sedf.count()
        kc = max(8, int(math.sqrt(nv)))
        print(f"semdedup vectors: {nv:,}; k_clusters={kc}", flush=True)
        qdf = (sedf.select(
                   "vec_id",
                   F.transform(F.col("embedding").cast("array<double>"),
                               lambda x: F.floor(x * 1000).cast("bigint"))
                    .alias("qv"))
               .withColumn("nv", F.aggregate(
                   "qv", F.lit(0).cast("bigint"), lambda a, x: a + x * x)))
        ts = _timed(lambda: semantic_dedup(
            qdf, k_clusters=kc, thresh_micro=995_000)
            .write.format("noop").mode("overwrite").save())
        print(f"semdedup: spark {ts:.2f}s", flush=True)
        duck_sd = f"""
            WITH q AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
              FROM emb_sf1),
            n AS (SELECT vec_id, qv,
                   CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                     AS nv FROM q),
            cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                             qv AS cv
                      FROM q ORDER BY vec_id LIMIT {kc}),
            asg AS (SELECT vec_id, qv, nv, cid FROM (
              SELECT n.vec_id, n.qv, n.nv, c.cid,
                     row_number() OVER (PARTITION BY n.vec_id ORDER BY
                         list_sum(list_transform(range(1, len(n.qv) + 1),
                             i -> (n.qv[i] - c.cv[i]) * (n.qv[i] - c.cv[i]))),
                         c.cid) AS rn
              FROM n, cents c) WHERE rn = 1),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(floor(CAST(list_sum(list_transform(
                              range(1, len(a.qv) + 1),
                              i -> a.qv[i] * b.qv[i])) AS BIGINT)
                          * 1000000.0 / (sqrt(a.nv) * sqrt(b.nv)))
                       AS BIGINT) AS cm
              FROM asg a JOIN asg b ON a.cid = b.cid
                                   AND a.vec_id < b.vec_id)
            SELECT count(*) AS n_pairs, min(cm) AS min_cm
            FROM pairs WHERE cm >= 995000"""
        _duck_race("semdedup", duck_sd, ts)

    if only is None or "pq_adc" in only:
        # r7: x101's operator core at vector scale under the PQ
        # standard (n_codes=256 per subspace — the fixture pins 8 for
        # the oracle; the memory story is the same either way: 64
        # quantized bigints → 4 one-byte codes).  Probes decimated to
        # a bounded workload (%500).  DuckDB runs the relational ADC
        # rendering — encode join LUT join sum — whose group-by input
        # is corpus × probes rows; the engine's code-scan kernel
        # touches the same pair space only inside per-partition numpy
        # lookups and ships partitions × P × k rows.
        import math as _math

        vec_copies4 = 125
        if "--vec-copies" in sys.argv:
            vec_copies4 = int(sys.argv[sys.argv.index("--vec-copies") + 1])
        from pyspark.sql import functions as F

        from enexory_parquet_export_spark.operators.similarity import (
            pq_adc_topk,
            pq_codebooks,
        )
        epath = build_scaled_emb(spark, vec_copies4)
        qdf = (spark.read.parquet(epath)
               .select("vec_id",
                       F.transform(F.col("embedding").cast("array<double>"),
                                   lambda x: F.floor(x * 1000)
                                   .cast("bigint")).alias("qv")))
        try:
            con.execute(f"CREATE VIEW emb_pq AS SELECT * "
                        f"FROM read_parquet('{epath}/*.parquet')")
        except Exception:
            pass
        nv = qdf.count()
        ncodes = 256
        cb = pq_codebooks(qdf, n_codes=ncodes, n_sub=4)
        probes = [(r["vec_id"], list(r["qv"]))
                  for r in qdf.filter(F.col("vec_id") % 500 == 0).collect()]
        print(f"pq_adc vectors: {nv:,}; codes={ncodes}; "
              f"probes={len(probes)}", flush=True)
        ts = _timed(lambda: pq_adc_topk(qdf, probes, codebooks=cb, k=5)
                    .write.format("noop").mode("overwrite").save())
        print(f"pq_adc: spark {ts:.2f}s", flush=True)
        d_sub = 16
        duck_pq = f"""
            WITH q AS (SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
              FROM emb_pq),
            cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
                             qv AS cv
                      FROM q ORDER BY vec_id LIMIT {ncodes}),
            sub AS (SELECT unnest(range(0, 4)) AS s),
            enc AS (SELECT vec_id, s, c AS code FROM (
              SELECT q.vec_id, sub.s, cents.c,
                     row_number() OVER (PARTITION BY q.vec_id, sub.s ORDER BY
                       list_sum(list_transform(range(1, {d_sub} + 1),
                         i -> (q.qv[sub.s * {d_sub} + i]
                               - cents.cv[sub.s * {d_sub} + i])
                            * (q.qv[sub.s * {d_sub} + i]
                               - cents.cv[sub.s * {d_sub} + i]))),
                       cents.c) AS rn
              FROM q, sub, cents) WHERE rn = 1),
            lut AS (
              SELECT p.vec_id AS probe_id, sub.s, cents.c,
                     CAST(list_sum(list_transform(range(1, {d_sub} + 1),
                       i -> (p.qv[sub.s * {d_sub} + i]
                             - cents.cv[sub.s * {d_sub} + i])
                          * (p.qv[sub.s * {d_sub} + i]
                             - cents.cv[sub.s * {d_sub} + i])))
                       AS BIGINT) AS pd
              FROM q p, sub, cents WHERE p.vec_id % 500 = 0),
            adc AS (
              SELECT l.probe_id, e.vec_id,
                     CAST(sum(l.pd) AS BIGINT) AS adc_dist
              FROM enc e JOIN lut l ON l.s = e.s AND l.c = e.code
              WHERE e.vec_id <> l.probe_id
              GROUP BY l.probe_id, e.vec_id),
            top AS (SELECT probe_id, vec_id, adc_dist,
                           row_number() OVER (PARTITION BY probe_id
                                              ORDER BY adc_dist, vec_id)
                             AS rnk
                    FROM adc)
            SELECT count(*) AS n, min(adc_dist) AS mn
            FROM top WHERE rnk <= 5"""
        _duck_race("pq_adc", duck_pq, ts)
    return 0


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    # free cyclic DataFrame/py4j refs so earlier reps' localCheckpoint
    # blocks don't accumulate across the suite (the bench.py per-query
    # collect — see BASELINE "host bimodality is partly self-inflicted")
    gc.collect()
    return dt


if __name__ == "__main__":
    raise SystemExit(main())
