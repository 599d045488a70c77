"""Whole-declared-set paired bench at sf1 (10× sf0.1) — r5 verdict #5.

The per-query crossover suite argues Spark's 0.2-0.5 s dispatch floor
over micro-queries amortizes as data grows.  This experiment turns the
argument into ONE measurement: the full declared inventory (every
``queries()`` entry; DuckDB runs the 93 paired oracles) over a 10×
scale-up of every fact table, identical files for both engines.

Scale model (the standard star-schema growth shape — facts scale,
dims don't):

- ``lineitem``/``orders``: 10 copies, ``*_orderkey`` offset per copy
  (order count × 10, customers/parts/suppliers fixed — fan-in per dim
  key grows 10×);
- ``events``: 10 copies, ``event_id``/``user_id`` offset (key
  cardinality × 10 — the window/CDC family's partition count);
- ``documents``: 10 copies, ``doc_id`` offset by 100k per copy (stays
  below the 1e6 derived-twin offset); texts repeat, so every doc gains
  9 exact near-dup copies — the dedup family's candidate sets GROW
  faster than the corpus, which is the honest at-scale stress;
- ``embeddings``: 10 copies, ``vec_id`` offset (ANN corpus × 10);
- ``region/nation/customer/supplier/part``: copied unchanged.

Timestamps are cast to TIMESTAMP_NTZ before writing so the scaled
parquet matches the fixture's naive (isAdjustedToUTC=false) layout and
both engines read identical wall clocks.

Billing: each Spark query is measured by ``bench.measure_query``,
bench.py's purity-aware first/steady pass.  The first run bills
construction + execution (one-off codegen JIT, checkpoint builds).
The steady run rebuilds from scratch when construction had side
effects (a moved ``session.MATERIALIZE_COUNT``, any job under the
construction job group, a grown CacheManager entry count or RDD
storage-info count) — so checkpoint prefixes re-materialize inside
the timed run — and re-executes the same DataFrame object otherwise
(full re-optimize + re-run; only client-side plan construction is
skipped).  The per-query
table and the headline ratio use STEADY; first-run totals stay in the
JSON.  DuckDB runs each oracle once via ``.arrow()`` with a per-query
interrupt timeout (no build phase to separate; the page cache is warm
from the Spark pass).  x53/x74 are rows-only (no oracle) and appear
Spark-side only; totals are reported for the PAIRED subset on both
engines.

Usage::

    python tools/paired_sf1.py [--copies N] [--duck-timeout SEC]
        [--only name,name,...]
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

#: per-table (offset columns, per-copy stride); absent = dim, copied 1:1
FACT_KEYS: dict[str, tuple[tuple[str, ...], int]] = {
    "lineitem": (("l_orderkey",), 10_000_000),
    "orders": (("o_orderkey",), 10_000_000),
    "events": (("event_id", "user_id"), 10_000_000),
    "documents": (("doc_id",), 100_000),
    "embeddings": (("vec_id",), 10_000_000),
}


def build_sf1(spark, copies: int) -> str:
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from enexory_parquet_export_spark.sources.tables import load_table

    out_dir = os.path.join(SCRATCH, f"sf1_full_x{copies}")
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        df = load_table(spark, SF_DIR, t)
        if t in FACT_KEYS:
            keys, stride = FACT_KEYS[t]
            parts = []
            for m in range(copies):
                p = df
                for k in keys:
                    p = p.withColumn(k, F.col(k) + F.lit(m * stride))
                parts.append(p)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        # fixture layout parity: naive (NTZ) parquet timestamps
        for field in df.schema.fields:
            if isinstance(field.dataType, TimestampType):
                df = df.withColumn(field.name,
                                   F.col(field.name).cast("timestamp_ntz"))
        df.coalesce(max(1, copies // 2)).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet"))
    open(done, "w").close()
    return out_dir


#: --no-settle: A/B switch so the settle protocol itself can be
#: measured against the bare r9 per-query gc (it must never be the
#: thing that inflates a reading)
SETTLE = True

#: only force a JVM GC when the block store actually holds this much
#: (the r11 A/B: an unconditional per-query System.gc costs ~0.1-0.3 s
#: of JIT/codegen re-warm on dispatch-floor queries — 6-query sf0.1
#: boundary race read 6.38× vs 5.89× duck settle-on vs off — while the
#: outlier class it exists to kill only ever formed at sf1×10, where
#: stable_sort checkpoints hold GBs.  Below the threshold the settle
#: is the bare r9 per-query gc.)
SETTLE_BYTES = 1 << 31


def _settle(spark, force: bool = False) -> None:
    """Free transient checkpoint blocks DETERMINISTICALLY between
    queries (r10 VERDICT #2 — the in-race block-store outlier class:
    x85 read 9.45 s in-race vs 2.07 s direct at sf1×10).

    Why the r9 per-query ``gc.collect()`` wasn't enough: Python gc
    only drops the py4j proxies.  The JVM-side Datasets behind
    ``stable_sort``/``materialize`` localCheckpoints then become
    unreachable, but their cached blocks are freed by ContextCleaner
    only after a JVM GC cycles the weak references — and an idle
    48 GiB heap (the session default, BASELINE.md "Session-default
    heap") may not GC for many queries, so blocks pile up until an
    allocation stall distorts whatever heavy query happens to be
    running (the "host bimodality" spikes).  One explicit
    ``System.gc()`` per query cycles the cleaner NOW; session-artifact
    relations (BPE/IVF/PQ/SemDeDup indexes) survive because the
    Python-side cache dicts still hold their proxies.  Polls the
    persisted-RDD set to a fixed point (≤4 GCs, usually 1).

    ``force=True`` skips the SETTLE_BYTES gate (recheck protocol: a
    0.1–0.3 s JIT re-warm is acceptable there, residual distortion is
    not) without mutating the module global (r11 ADVICE)."""
    gc.collect()
    if not SETTLE:
        return
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def _held() -> int:
        return sum(i.memSize() + i.diskSize()
                   for i in jsc.getRDDStorageInfo())

    if not force and _held() < SETTLE_BYTES:
        return
    for _ in range(4):
        before = _held()
        sc._jvm.System.gc()
        time.sleep(0.1)
        if _held() >= before:
            break


def main() -> int:
    copies = 10
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    duck_timeout = 600.0
    if "--duck-timeout" in sys.argv:
        duck_timeout = float(sys.argv[sys.argv.index("--duck-timeout") + 1])
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    # --sf-dir: race an arbitrary fixture dir (e.g. the 1.5M-doc
    # .scratch/fixture_docs_full_x300) with the same purity-aware
    # billing instead of building the default sf1 multiple
    sf_dir_override = None
    if "--sf-dir" in sys.argv:
        sf_dir_override = sys.argv[sys.argv.index("--sf-dir") + 1]
    if "--no-settle" in sys.argv:
        global SETTLE
        SETTLE = False

    import __spark_entry__ as entrymod
    from bench import jvm_control, measure_query
    from enexory_parquet_export_spark.session import get_spark

    spark = get_spark("paired-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    controls = [jvm_control(spark) for _ in range(2)]
    print(f"jvm control: {controls} "
          f"(fast host ≈ 0.3–0.5 s cold / 0.09–0.35 s warm)", flush=True)
    sf1 = sf_dir_override or build_sf1(spark, copies)
    print(f"sf1 dir: {sf1}", flush=True)

    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    for t in TABLES:
        path = os.path.join(sf1, f"{t}.parquet")
        if not os.path.exists(path):
            continue  # partial fixture dirs carry only some tables
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{pat}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = [n for n in sorted(qs) if only is None or n in only]

    # warmups: page cache + JIT on both engines
    qs[names[0]](spark, sf1).write.format("noop").mode("overwrite").save()
    con.execute(oracles[next(n for n in names if n in oracles)]).arrow()

    spark_t: dict[str, float] = {}
    spark_steady: dict[str, float] = {}
    spark_build: dict[str, float] = {}
    rebuilt: list[str] = []
    duck_t: dict[str, float] = {}
    for name in names:
        try:
            m = measure_query(spark, qs[name], sf1, name)
            spark_t[name], spark_steady[name] = m.first, m.steady
            spark_build[name] = m.build
            if m.rebuilt:
                rebuilt.append(name)
            # settle the block store (explicit JVM GC → ContextCleaner
            # unpersists transient localCheckpoint blocks NOW — see
            # _settle)
            _settle(spark)
        except Exception as exc:
            print(f"SPARK ERROR {name}: {str(exc)[:200]}", file=sys.stderr)
            spark_t[name] = -1.0
            spark_steady[name] = -1.0
        if name not in oracles:
            continue
        timer = threading.Timer(duck_timeout, con.interrupt)
        timer.start()
        t0 = time.perf_counter()
        try:
            con.execute(oracles[name]).arrow()
            duck_t[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:
            print(f"DUCK DNF {name}: {str(exc)[:140]}", file=sys.stderr)
            duck_t[name] = -1.0
        finally:
            timer.cancel()
        s, d = spark_steady[name], duck_t[name]
        ratio = f"{s / d:.2f}×" if s > 0 and d > 0 else "—"
        print(f"| {name} | {d if d > 0 else 'DNF'} "
              f"| {spark_t[name] if spark_t[name] > 0 else 'ERR'} "
              f"| {s if s > 0 else 'ERR'} | {ratio} |", flush=True)

    # Automatic outlier recheck (r10 VERDICT #2 protocol, SYMMETRIC
    # since r12 — r11 VERDICT #1/ADVICE): any paired reading with the
    # floor-violation shape (> 1.5 s AND > 2× its pair, on EITHER
    # engine) is re-measured DIRECTLY after a full settle — if the
    # in-race number was block-store distortion (Spark) or a
    # hypervisor-steal burst (either engine) rather than real work,
    # the recheck shows it without a manual re-measure cycle.  The
    # kept reading is the MIN of in-race and direct (both stay in the
    # JSON): the distortion classes this protocol exists for are
    # strictly ADDITIVE noise on a pure re-execution, so whichever
    # reading is lower is closer to the query's true cost, and the
    # recheck itself can land in a bad window just as the race can
    # (measured r11: an end-of-race recheck read x85 at 8.35 s against
    # a clean 2.12 s in-race reading).  The same policy now applies to
    # BOTH engines — the additive-noise rationale never distinguished
    # them — and the headline reports BOTH the raw in-race totals and
    # the min-policy totals so the ratio band is visible under either
    # policy.
    spark_steady_inrace = dict(spark_steady)
    duck_inrace = dict(duck_t)
    spark_recheck: dict[str, float] = {}
    # BOTH suspect sets select against the IN-RACE snapshots (r12
    # ADVICE): selecting the duck leg against spark_steady values
    # already lowered by the spark rechecks made the two legs read
    # different state — the policy is symmetric only if both legs
    # judge the same snapshot
    suspects = sorted(
        (n for n in names
         if spark_steady_inrace.get(n, -1) > 1.5
         and duck_inrace.get(n, -1) > 0
         and spark_steady_inrace[n] > 2.0 * duck_inrace[n]),
        key=lambda n: -spark_steady_inrace[n] / duck_inrace[n])[:16]
    for name in suspects:
        # force the full settle before a recheck regardless of held
        # bytes — a 0.1-0.3 s JIT re-warm is acceptable here, residual
        # distortion is not
        _settle(spark, force=True)
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf1)
            df.write.format("noop").mode("overwrite").save()
            first = time.perf_counter() - t0
            t0 = time.perf_counter()
            df2 = qs[name](spark, sf1)
            df2.write.format("noop").mode("overwrite").save()
            spark_recheck[name] = round(time.perf_counter() - t0, 3)
            print(f"RECHECK {name}: in-race {spark_steady[name]} -> "
                  f"direct first {first:.2f} / steady "
                  f"{spark_recheck[name]}", flush=True)
            spark_steady[name] = min(spark_steady[name],
                                     spark_recheck[name])
            del df, df2
        except Exception as exc:
            print(f"RECHECK ERROR {name}: {str(exc)[:200]}",
                  file=sys.stderr)
        _settle(spark, force=True)

    # duck leg of the symmetric policy: same shape test with the
    # engines swapped (duck > 1.5 s AND > 2× its spark pair), same
    # min-of-two keep, same single-recheck budget
    duck_recheck: dict[str, float] = {}
    duck_suspects = sorted(
        (n for n in names
         if duck_inrace.get(n, -1) > 1.5
         and spark_steady_inrace.get(n, -1) > 0
         and duck_inrace[n] > 2.0 * spark_steady_inrace[n]),
        key=lambda n: -duck_inrace[n] / spark_steady_inrace[n])[:16]
    for name in duck_suspects:
        timer = threading.Timer(duck_timeout, con.interrupt)
        timer.start()
        t0 = time.perf_counter()
        try:
            con.execute(oracles[name]).arrow()
            duck_recheck[name] = round(time.perf_counter() - t0, 3)
            print(f"DUCK RECHECK {name}: in-race {duck_t[name]} -> "
                  f"direct {duck_recheck[name]}", flush=True)
            duck_t[name] = min(duck_t[name], duck_recheck[name])
        except Exception as exc:
            print(f"DUCK RECHECK ERROR {name}: {str(exc)[:140]}",
                  file=sys.stderr)
        finally:
            timer.cancel()

    paired = [n for n in names
              if spark_steady.get(n, -1) > 0 and duck_t.get(n, -1) > 0]
    ts = round(sum(spark_steady[n] for n in paired), 2)
    tf = round(sum(spark_t[n] for n in paired), 2)
    td = round(sum(duck_t[n] for n in paired), 2)
    ts_raw = round(sum(spark_steady_inrace[n] for n in paired), 2)
    td_raw = round(sum(duck_inrace[n] for n in paired), 2)
    dnf = [n for n in names if duck_t.get(n, 0) < 0]
    err = [n for n in names if spark_steady.get(n, 0) < 0]
    print(f"\npaired total ({len(paired)} queries): duck {td}s, "
          f"spark first {tf}s / steady {ts}s "
          f"(build-in-steady {round(sum(spark_build.get(n, 0) for n in paired), 2)}s), "
          f"steady ratio {ts / td:.2f}x")
    print(f"raw in-race (no recheck policy on either side): "
          f"duck {td_raw}s, spark steady {ts_raw}s, "
          f"ratio {ts_raw / td_raw:.2f}x")
    if dnf:
        print(f"duck DNF: {dnf}")
    if err:
        print(f"spark ERR: {err}")
    controls.append(jvm_control(spark))
    print(f"jvm control (end): {controls[-1]}", flush=True)
    print(json.dumps({"metric": "paired_sf1", "copies": copies,
                      "jvm_control": controls,
                      "spark_total_first": tf, "spark_total": ts,
                      "duck_total": td,
                      "spark_total_inrace": ts_raw,
                      "duck_total_inrace": td_raw,
                      "n_paired": len(paired), "duck_dnf": dnf,
                      "spark_err": err, "spark_first": spark_t,
                      "spark_steady": spark_steady,
                      "spark_build": spark_build,
                      "steady_rebuilt": rebuilt,
                      "spark_recheck": spark_recheck,
                      "duck_recheck": duck_recheck,
                      "duck": duck_t}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
