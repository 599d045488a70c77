"""Probe-bounded decontamination/containment crossover (r9, VERDICT #2).

The x55/x85 sf1×10 paired ratios measure a 50k-doc corpus where both
engines finish in ~1-3 s — mostly fixed cost.  The scale question the
weak flag actually asks is: with a FIXED query set (a benchmark suite
/ snippet list, bounded by contract) and a GROWING corpus, which
engine's decontamination scan scales?  Copy-scaled fixtures are
disqualified for pair-emitters (×N copies ⇒ ×N² output pairs — both
engines DNF on quadratic output, measured r8), so this experiment
uses a PERTURBED corpus:

- corpus = N copies of the sf0.1 documents table where copy ``i``
  appends ``~i`` to EVERY token (``regexp_replace('(\\S+)', '$1~i')``)
  — token counts and shingle structure preserved, but every shingle
  is copy-unique, so cross-copy sharing is zero and output size stays
  CONSTANT as the corpus grows (the realistic model: contamination
  does not grow 900× when the corpus grows 30×);
- probes = the copy-0 docs with doc_id % 100 == 0 (50 docs — FIXED,
  independent of N); contamination twins (probe text + 3 filler
  tokens) are planted in the corpus at unique ids, so the answer is
  a constant 50 rows at every N;
- snippets = 8-token prefixes of copy-0 docs with doc_id % 7 == 0
  (same _SNIP_MOD/_SNIP_TOKS/threshold as the declared x85).

Both engines run the SAME algorithm (semi-filter the corpus shingle
stream to the bounded query key set BEFORE the heavy distinct, then
df-cap): the comparison is engine throughput, not algorithm choice.
DuckDB must materialize the corpus shingle STRINGS to semi-filter on
them; the Spark operator folds xxhash64 shingle hashes in-row and
never materializes a string — that is the class-collapse/fan-out win
this experiment records.

Results are value-checked against each other (the planted answer is
known), and recorded in BASELINE.md.  Usage::

    python tools/decon_crossover.py [--copies N] [--duck-timeout SEC]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import gc
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")

DF_CAP_MIN, DF_CAP_DIV = 32, 100
DECON_K = 5
SNIP_MOD, SNIP_TOKS, CONT_THRESH_MICRO = 7, 8, 800_000
COPY_STRIDE = 10_000_000
TWIN_BASE = 9_990_000_001


def build_fixture(spark, copies: int) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(SCRATCH, f"fixture_docs_perturb_x{copies}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    docs = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .select("doc_id", "text"))
    cp = spark.range(copies).withColumnRenamed("id", "copy")
    perturbed = (docs.crossJoin(cp)
                 .select((F.col("doc_id")
                          + F.col("copy") * COPY_STRIDE).alias("doc_id"),
                         F.regexp_replace(
                             F.col("text"), r"(\S+)",
                             F.concat(F.lit("$1~"), F.col("copy")))
                          .alias("text")))
    # contamination twins of the copy-0 probes, at ids ≡ 1 (mod 100)
    # so the corpus filter (% 100 != 0) keeps them
    twins = (perturbed.filter((F.col("doc_id") % 100 == 0)
                              & (F.col("doc_id") < COPY_STRIDE))
             .select((F.col("doc_id") + TWIN_BASE).alias("doc_id"),
                     F.concat("text", F.lit(" trailing~x filler~x words~x"))
                      .alias("text")))
    (perturbed.unionByName(twins)
     .repartition(32)
     .write.mode("overwrite").parquet(os.path.join(out,
                                                   "documents.parquet")))
    with open(done, "w") as f:
        f.write("ok")
    return out


_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_SHINGLES = (r"list_transform(range(1, len(t) - 1), "
             r"i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")


def duck_decon_sql(doc_path: str) -> str:
    return f"""
WITH corpus_docs AS (
  SELECT doc_id, text FROM read_parquet('{doc_path}')
  WHERE doc_id % 100 <> 0),
probe_docs AS (
  SELECT doc_id AS probe_id, text FROM read_parquet('{doc_path}')
  WHERE doc_id % 100 = 0 AND doc_id < {COPY_STRIDE}),
shp AS (
  SELECT DISTINCT probe_id, s FROM (
    SELECT probe_id, unnest({_SHINGLES}) AS s
    FROM (SELECT probe_id, {_TOKS} AS t FROM probe_docs)
    WHERE len(t) >= 3)),
pset AS (SELECT DISTINCT s FROM shp),
shc AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest({_SHINGLES}) AS s
    FROM (SELECT doc_id, {_TOKS} AS t FROM corpus_docs)
    WHERE len(t) >= 3)
  WHERE s IN (SELECT s FROM pset)),
nd AS (SELECT count(*) AS ndocs FROM corpus_docs),
hot AS (
  SELECT s FROM shc GROUP BY s
  HAVING count(*) > (SELECT greatest({DF_CAP_MIN},
                                     ndocs // {DF_CAP_DIV}) FROM nd)),
hits AS (
  SELECT c.doc_id, p.probe_id, count(*) AS shared
  FROM shc c JOIN shp p USING (s)
  WHERE c.s NOT IN (SELECT s FROM hot)
  GROUP BY c.doc_id, p.probe_id
  HAVING count(*) >= {DECON_K})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_probes_hit,
       CAST(max(shared) AS BIGINT) AS max_shared
FROM hits GROUP BY doc_id ORDER BY doc_id"""


def duck_cont_sql(doc_path: str) -> str:
    return f"""
WITH corpus_docs AS (
  SELECT doc_id, text FROM read_parquet('{doc_path}')),
snip AS (
  SELECT doc_id + 2000000 AS snip_id,
         array_to_string(({_TOKS})[1:{SNIP_TOKS}], ' ') AS text
  FROM read_parquet('{doc_path}')
  WHERE doc_id % {SNIP_MOD} = 0 AND doc_id < {COPY_STRIDE}),
ss AS (
  SELECT DISTINCT snip_id, s FROM (
    SELECT snip_id, unnest({_SHINGLES}) AS s
    FROM (SELECT snip_id, {_TOKS} AS t FROM snip) WHERE len(t) >= 3)),
sset AS (SELECT DISTINCT s FROM ss),
sn AS (SELECT snip_id, CAST(count(*) AS BIGINT) AS nsh
       FROM ss GROUP BY snip_id),
shc AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest({_SHINGLES}) AS s
    FROM (SELECT doc_id, {_TOKS} AS t FROM corpus_docs)
    WHERE len(t) >= 3)
  WHERE s IN (SELECT s FROM sset)),
nd AS (SELECT count(*) AS ndocs FROM corpus_docs),
hot AS (
  SELECT s FROM shc GROUP BY s
  HAVING count(*) > (SELECT greatest({DF_CAP_MIN},
                                     ndocs // {DF_CAP_DIV}) FROM nd)),
shared AS (
  SELECT ss.snip_id, c.doc_id, CAST(count(*) AS BIGINT) AS shr
  FROM shc c JOIN ss USING (s)
  WHERE c.s NOT IN (SELECT s FROM hot)
  GROUP BY ss.snip_id, c.doc_id)
SELECT s.snip_id, s.doc_id,
       CAST(floor(s.shr * 1000000.0 / n.nsh) AS BIGINT) AS cont_micro
FROM shared s JOIN sn n USING (snip_id)
WHERE s.shr * 1000000.0 / n.nsh >= {CONT_THRESH_MICRO}
ORDER BY snip_id, doc_id"""


def spark_decon(spark, doc_path: str):
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.operators import dedup as D

    docs = spark.read.parquet(doc_path)
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    probes = (docs.filter((F.col("doc_id") % 100 == 0)
                          & (F.col("doc_id") < COPY_STRIDE))
              .select(F.col("doc_id").alias("probe_id"), "text"))
    return (D.decontaminate(corpus, probes, k=DECON_K,
                            df_cap_min=DF_CAP_MIN, df_cap_div=DF_CAP_DIV)
            .orderBy("doc_id"))


def spark_cont(spark, doc_path: str):
    from pyspark.sql import functions as F

    from enexory_parquet_export_spark.operators import dedup as D

    docs = spark.read.parquet(doc_path)
    snip = (docs.filter((F.col("doc_id") % SNIP_MOD == 0)
                        & (F.col("doc_id") < COPY_STRIDE))
            .select((F.col("doc_id") + 2_000_000).alias("snip_id"),
                    F.array_join(F.slice(D.tokens(F.col("text")), 1,
                                         SNIP_TOKS), " ").alias("text")))
    return (D.containment(docs, snip, thresh_micro=CONT_THRESH_MICRO,
                          df_cap_min=DF_CAP_MIN, df_cap_div=DF_CAP_DIV)
            .orderBy("snip_id", "doc_id"))


def main() -> int:
    copies = 300
    duck_timeout = 1200.0
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    if "--duck-timeout" in sys.argv:
        duck_timeout = float(sys.argv[sys.argv.index("--duck-timeout") + 1])

    import duckdb

    from bench import jvm_control
    from enexory_parquet_export_spark.session import get_spark

    spark = get_spark("decon-crossover")
    print(f"jvm control: {jvm_control(spark)}s (fast host ≈ 0.3–0.5 s)",
          flush=True)
    fdir = build_fixture(spark, copies)
    doc_path = os.path.join(fdir, "documents.parquet", "*.parquet")
    # per-BYTE normalization (r12 finding: the ~{copy} suffix grows
    # bytes/doc with N, so per-doc µs overstates the scaling; the
    # honest cross-scale metric is µs per corpus text byte)
    stats = (spark.read.parquet(os.path.join(fdir, "documents.parquet"))
             .selectExpr("count(*) AS n",
                         "sum(octet_length(text)) AS b").collect()[0])
    ndocs, nbytes = stats["n"], stats["b"]
    print(f"fixture: {fdir} ({ndocs} docs, {nbytes/1e9:.2f} GB text, "
          f"{nbytes/ndocs:.1f} B/doc)", flush=True)

    results = {}
    for name, build, duck_sql in (
            ("decontaminate", spark_decon, duck_decon_sql(doc_path)),
            ("containment", spark_cont, duck_cont_sql(doc_path))):
        # Spark: first + steady (plans with eager checkpoints rebuild
        # per rep, so each rep re-times plan build + execution)
        t0 = time.time()
        rows_first = build(spark, doc_path).collect()
        sp_first = time.time() - t0
        t0 = time.time()
        rows = build(spark, doc_path).collect()
        sp_steady = time.time() - t0
        gc.collect()   # free checkpoint refs before the next operator
        spark_rows = [tuple(r) for r in rows]
        assert [tuple(r) for r in rows_first] == spark_rows

        con = duckdb.connect()
        tmp = os.path.join(os.path.dirname(fdir), "..", ".tmp")
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
        dnf = [False]

        def _interrupt():
            dnf[0] = True
            con.interrupt()

        timer = threading.Timer(duck_timeout, _interrupt)
        timer.start()
        t0 = time.time()
        try:
            duck_rows = [tuple(r) for r in con.execute(duck_sql).fetchall()]
            duck_t = time.time() - t0
        except Exception as e:  # interrupted or OOM
            duck_rows, duck_t = None, None
            print(f"  duck DNF: {type(e).__name__}: {str(e)[:120]}",
                  flush=True)
        finally:
            timer.cancel()
            con.close()
            shutil.rmtree(tmp, ignore_errors=True)

        match = (duck_rows is not None and duck_rows == spark_rows)
        results[name] = {
            "spark_first": round(sp_first, 2),
            "spark_steady": round(sp_steady, 2),
            "spark_us_per_byte": round(sp_steady / nbytes * 1e6, 4),
            "duck_us_per_byte": (round(duck_t / nbytes * 1e6, 4)
                                 if duck_t is not None else None),
            "duck": round(duck_t, 2) if duck_t is not None else None,
            "duck_dnf": dnf[0] or duck_rows is None,
            "rows": len(spark_rows),
            "values_match": match if duck_rows is not None else None,
            "jvm_control": jvm_control(spark),
        }
        print(f"{name}: spark {sp_first:.1f}/{sp_steady:.1f}s, "
              f"duck {duck_t if duck_t else 'DNF'}, "
              f"rows {len(spark_rows)}, match={results[name]['values_match']}",
              flush=True)

    print(json.dumps({"metric": "decon_crossover", "copies": copies,
                      "ndocs": ndocs, "text_bytes": nbytes, **results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
