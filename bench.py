"""Benchmark harness — declared query set on Spark, one JSON line out.

Runs every declared query from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) inside ONE
SparkSession on ``local[$SPARK_GRAFT_CPUS]``, amortizing JVM startup
(BASELINE.md: startup must not be billed per-query).  Each query is
fully executed via a ``noop``-format write (materializes every row
through the physical plan, including sorts, without driver collection
— the honest engine-throughput measure at scale).

Output: one COMPACT final JSON line
``{"metric": "declared_set_wall", "value": <total sec>, "unit": "sec",
   "sf": <sf>, "n_queries": N, "queries": {<name>: sec, ...},
   "queries_omitted": M, "value_steady": <sec>, "value_build": <sec>,
   "jvm_control": [cold, warm, end], "dispatch_control": [start, end],
   "window_ok": true|false, "n_errors": 0,
   "detail": "BENCH_DETAIL_c<cpus>.json"}``
The driver's result capture keeps only the final ~2000 characters of
stdout (measured: rounds 2-5 inlined the full maps, ~10 kB, and the
driver recorded ``"parsed": null`` every time; every BENCH_r*.json
tail is exactly 2000 chars).  108 query names alone serialize to
2184 chars, so a COMPLETE inline ``queries`` map can never fit the
capture.  Compromise (r13 verdict item 2): the printed line inlines
the SLOWEST first-run entries greedily until the serialized line
reaches ~1900 chars (~60-70 of 108; ``queries_omitted`` counts the
rest, every one of which is at the sub-second dispatch floor), and
the ``BENCH_DETAIL_c<cpus>.json`` sidecar next to this script (one per
core count, so runs on different hosts do not overwrite each other)
keeps the full ``queries`` / ``queries_steady`` / ``queries_build`` /
``queries_build_first`` / ``queries_build_jobs`` / ``queries_run_jobs``
/ ``steady_rebuilt`` maps plus the same headline fields.  Queries are
NEVER dropped from the run itself — ``n_queries``/``n_errors`` cover
all 108.

``jvm_control`` is a pure-CPU JVM probe (cold/warm/end; fast host
0.3-0.5 cold, 0.09-0.35 warm) and ``dispatch_control`` an empty
32-task scheduler-latency probe (start/end medians; fast host
0.05-0.15 s) — both run OUTSIDE the timed region and stamp the
artifact so a degraded host window is distinguishable from a tree
regression (r12/r13 verdicts).  ``window_ok`` is false when the
end-of-sweep dispatch control exceeds 3x the fast-host floor (0.45 s):
a sweep of hundreds of sub-second jobs is dispatch-bound, so totals
from a flagged window are window artifacts and must not be compared
across rounds (r13 verdict item 7).

``value``/``queries`` bill each query's FIRST run — Python plan
construction plus execution including its one-off whole-stage-codegen
JIT (~0.3-1 s per unique plan), costs that exist once per plan
regardless of data volume.  ``value_steady``/``queries_steady`` bill a
complete SECOND run.  Whether that second run may reuse the built
DataFrame object is decided PER QUERY by observed construction-time
side effects, not by assumption:

- a query whose construction issued a ``localCheckpoint`` (eager or
  lazy — every one routes through ``session.materialize``, counted) or
  ran any driver job (iterative loops, codebook/centroid collects —
  detected via a construction-scoped job group) is REBUILT from
  scratch, because re-executing its object would silently reuse the
  materialized prefix and under-report (measured: x32 reads 1.4 s
  instead of 4.0 s that way);
- a pure-lazy plan is re-executed as the same object: a new action
  re-optimizes, re-plans and re-runs the ENTIRE physical plan — only
  the client-side plan construction (py4j Column chatter, the
  prepared-statement cost every production pipeline amortizes to zero)
  is skipped, exactly the steady-state a resident engine provides.

``queries_build``/``value_build`` decompose the steady run's
construction phase (0 for reused plans; real checkpoint/iterative
execution for rebuilt ones — which is why build stays INSIDE the
steady total).  ``steady_rebuilt`` lists the rebuilt queries.  The
headline metric remains the first-run total.

``queries_build_first`` splits the first run the same way: its
construction time.  ``queries_build_jobs`` / ``queries_run_jobs`` count
the Spark jobs the first construction and the first execution ran;
each job pays the driver's scheduling floor, so they are the dispatch
side of the first-run time.

The per-query loop (:func:`measure_query`) and the host probes
(:func:`jvm_control`, :func:`dispatch_control`) live here only;
``tools/paired_sf1.py`` and ``tools/decon_crossover.py`` import them.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def jvm_control(spark) -> float:
    """Pure-CPU JVM probe: a sum over a fixed range, no IO, no shuffle.
    The host has slow/fast modes from hypervisor steal, so the probe is
    stamped next to every measurement to tell a slow host window from a
    real regression.  Reference band: fast host 0.3-0.5 s on the first
    (JIT-cold) probe, 0.09-0.35 s post-warm; slow host >= 1 s."""
    t0 = time.perf_counter()
    spark.range(400_000_000).selectExpr("sum(id)").collect()
    return round(time.perf_counter() - t0, 3)


def dispatch_control(spark) -> float:
    """Scheduler-latency probe, the complement of :func:`jvm_control`:
    an empty 32-task job whose wall time is ~all task launch/finish
    wakeup chains.  The host has been measured flipping into a mode
    where this floor reads 700-1700 ms (fast band: 50-150 ms) while the
    CPU control stays near its fast band and the machine is ~88% idle;
    the sf0.1 sweep is dispatch-bound (hundreds of sub-second jobs), so
    THIS control, not the CPU one, predicts the sweep total.  Median of
    5 post-warm reps."""
    reps = []
    for _ in range(6):
        t0 = time.perf_counter()
        spark.range(32).repartition(32).count()
        reps.append(time.perf_counter() - t0)
    return round(sorted(reps[1:])[2], 3)


@dataclass
class Measurement:
    """One query's first and steady runs (seconds) and its job counts."""
    first: float        # construction + execution, first time
    steady: float       # the complete second run, construction included
    build: float        # the second run's construction (0.0 when reused)
    rebuilt: bool       # construction had side effects: rebuilt for steady
    build_first: float  # the first run's construction
    build_jobs: int     # jobs the first construction ran
    run_jobs: int       # jobs the first execution ran


def measure_query(spark, build, sf_dir: str, group: str) -> Measurement:
    """Run ``build(spark, sf_dir)`` and a noop write of its result twice
    (see the module docstring for the billing); jobs run under the job
    groups ``bench-build-{group}`` and ``bench-run-{group}``."""
    from enexory_parquet_export_spark import session as _session

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    build_group, run_group = f"bench-build-{group}", f"bench-run-{group}"
    t0 = time.perf_counter()
    # construction side effects decide steady-run reuse: a moved
    # materialize counter OR any job under the build group marks the
    # plan impure (checkpoint / iterative)
    ck0 = _session.MATERIALIZE_COUNT
    # cache snapshot: an operator calling .persist()/.cache() directly
    # would neither move the materialize counter nor run a build job,
    # yet its steady re-execution would read columnar cache and
    # under-report.  CacheManager registers a DataFrame persist at MARK
    # time (before any action — verified on 4.1.2), so an ENTRY-COUNT
    # increase during construction marks impure (an empty→non-empty
    # test degrades as soon as any earlier query left a lingering
    # entry); the RDD storage-info count covers raw rdd.persist() paths.
    _cm = spark._jsparkSession.sharedState().cacheManager()
    cached0 = _cm.cachedData().size()
    rdds0 = len(sc._jsc.sc().getRDDStorageInfo())
    sc.setJobGroup(build_group, group)
    df = build(spark, sf_dir)   # plan construction billed here
    build_first = round(time.perf_counter() - t0, 3)
    impure = (_session.MATERIALIZE_COUNT > ck0
              or bool(tracker.getJobIdsForGroup(build_group))
              or _cm.cachedData().size() > cached0
              or len(sc._jsc.sc().getRDDStorageInfo()) > rdds0)
    sc.setJobGroup(run_group, group)
    df.write.format("noop").mode("overwrite").save()
    first = round(time.perf_counter() - t0, 3)
    # the status tracker is fed by the listener bus: drain it, untimed,
    # before counting; the run group is counted now because a steady
    # rebuild below runs under it too
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    build_jobs = len(tracker.getJobIdsForGroup(build_group))
    run_jobs = len(tracker.getJobIdsForGroup(run_group))
    t0 = time.perf_counter()
    if impure:
        # rebuild FRESH: any localCheckpoint prefix re-materializes
        # inside the timed run; construction is timed into its own
        # informational column but stays in the total
        df2 = build(spark, sf_dir)
        build_steady = round(time.perf_counter() - t0, 3)
    else:
        # pure-lazy plan: the same object re-optimizes and fully
        # re-executes; only client-side plan construction is skipped
        df2 = df
        build_steady = 0.0
    df2.write.format("noop").mode("overwrite").save()
    steady = round(time.perf_counter() - t0, 3)
    # drop the query's DataFrame/py4j refs and run the CYCLE collector
    # NOW: DataFrame graphs sit in reference cycles, so without this the
    # py4j handles (and through them the JVM-side localCheckpoint blocks
    # of every query so far) survive until Python's allocation-threshold
    # GC happens to fire — measured as the "host bimodality" spikes (x32
    # steady 3.5→26 s by rep 8; with per-query collect(): 8/8 reps flat
    # at 3.4–4.1 s, same session style).  The collect itself is sub-ms;
    # the JVM ContextCleaner then frees blocks asynchronously.
    del df, df2
    gc.collect()
    return Measurement(first, steady, build_steady, impure, build_first,
                       build_jobs, run_jobs)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = None
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            sf = float(base[2:])
        except ValueError:
            pass

    import __spark_entry__ as entrymod
    from enexory_parquet_export_spark.session import (
        default_parallelism,
        get_spark,
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    controls = [jvm_control(spark), jvm_control(spark)]
    print(f"jvm control (cold/warm): {controls}", file=sys.stderr)
    dispatch = [dispatch_control(spark)]
    print(f"dispatch control (start): {dispatch}", file=sys.stderr)
    qs = entrymod.queries()

    # warmup: touch every table + JIT the whole pipeline once
    warm = sorted(qs)[0]
    qs[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # prime the Arrow Python worker pool (reused across queries via
    # spark.python.worker.reuse) so the first pandas-UDF query isn't
    # billed the fork/import cost — startup, like JVM startup, is
    # amortized per BASELINE.md's definition
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(s):
        return s * 1.0

    (spark.range(32 * 32).repartition(32)
          .select(_warm(F.col("id").cast("double")))
          .write.format("noop").mode("overwrite").save())

    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    build: dict[str, float] = {}
    build_first: dict[str, float] = {}
    build_jobs: dict[str, int] = {}
    run_jobs: dict[str, int] = {}
    rebuilt: list[str] = []
    for name in sorted(qs):
        try:
            m = measure_query(spark, qs[name], sf_dir, name)
        except Exception as exc:  # record failures as negative sentinel
            print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)
            timings[name] = -1.0
            steady[name] = -1.0
            continue
        timings[name], steady[name], build[name] = m.first, m.steady, m.build
        build_first[name] = m.build_first
        build_jobs[name], run_jobs[name] = m.build_jobs, m.run_jobs
        if m.rebuilt:
            rebuilt.append(name)
    controls.append(jvm_control(spark))
    print(f"jvm control (end): {controls[-1]}", file=sys.stderr)
    dispatch.append(dispatch_control(spark))
    print(f"dispatch control (end): {dispatch[-1]}", file=sys.stderr)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_steady = round(sum(t for t in steady.values() if t >= 0), 3)
    total_build = round(sum(t for t in build.values() if t >= 0), 3)
    n_errors = sum(1 for t in timings.values() if t < 0)
    # window-quality flag: the sweep is hundreds of sub-second jobs, so
    # a degraded scheduler-wakeup mode (end-of-sweep dispatch control >
    # 3x the 0.15 s fast-host floor) makes the totals window artifacts,
    # not tree measurements.  The start probe runs on a fresh JVM and
    # always reads high, so it does not count.
    window_ok = dispatch[-1] <= 0.45
    detail = f"BENCH_DETAIL_c{default_parallelism()}.json"
    headline = {"metric": "declared_set_wall", "value": total,
                "unit": "sec", "sf": sf, "n_queries": len(timings),
                "value_steady": total_steady,
                "value_build": total_build,
                "jvm_control": controls,
                "dispatch_control": dispatch,
                "window_ok": window_ok,
                "n_errors": n_errors, "detail": detail}
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               detail)
    with open(detail_path, "w") as fh:
        json.dump({**headline, "queries": timings,
                   "queries_steady": steady, "queries_build": build,
                   "queries_build_first": build_first,
                   "queries_build_jobs": build_jobs,
                   "queries_run_jobs": run_jobs,
                   "steady_rebuilt": rebuilt}, fh, indent=1)
        fh.write("\n")
    # Inline as many per-query entries as the driver's 2000-char tail
    # capture can hold (see module docstring): slowest first, greedy
    # fill to a 1900-char line budget, remainder counted in
    # queries_omitted and fully recorded in the sidecar.
    inline: dict[str, float] = {}
    headline["queries"] = inline
    headline["queries_omitted"] = len(timings)
    compact = {"separators": (",", ":")}
    by_cost = sorted(timings, key=lambda n: -timings[n])
    for name in by_cost:
        inline[name] = timings[name]
        headline["queries_omitted"] = len(timings) - len(inline)
        if len(json.dumps(headline, **compact)) > 1900:
            del inline[name]
            headline["queries_omitted"] = len(timings) - len(inline)
            break
    # final line stays under the driver's 2000-char tail capture so it
    # parses; the COMPLETE per-query maps live in the sidecar
    print(json.dumps(headline, **compact))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
