from __future__ import annotations

import gc
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from enexory_parquet_export_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    # Test harness only (never the engine): the suite runs on tiny
    # fixtures (sf0.001, 60-row streams) where per-task dispatch and
    # per-partition state-store commits dominate wall time — 32
    # shuffle partitions means 32 state-store instances per stateful
    # operator per micro-batch trigger.  8 partitions keeps every
    # multi-partition code path exercised while cutting the suite wall
    # (measured: 3 slowest streaming tests 103 s → see OPTIMIZATION_
    # r14.md; the driver's pytest gate timed out in r13's degraded
    # window).  Operators read the conf at runtime, so no product
    # behavior is pinned here.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args)`` → (the Spark jobs the call submitted,
    its result), read from the scheduler's job counter around the call.
    Each job is listed by its name, the call site that submitted it, so
    a ceiling assert that prints the list names what ran."""
    sc = spark.sparkContext._jsc.sc()
    sched = sc.dagScheduler()

    def run(fn, *args, **kwargs):
        before = sched.nextJobId()
        out = fn(*args, **kwargs)
        end = sched.nextJobId()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        return [f"{jid}: {store.job(jid).name()}"
                for jid in range(before, end)], out
    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _collect_py4j_cycles():
    """Free each test's DataFrame/py4j handles promptly.

    DataFrame graphs sit in Python reference cycles, so without an
    explicit collect the py4j handles (and through them the JVM-side
    blocks of every test so far — localCheckpoints, cached relations,
    broadcast pieces) survive until the allocation-threshold GC
    happens to fire.  bench.py measured exactly this as its
    "host bimodality" spikes (x32 steady 3.5 -> 26 s by rep 8; flat
    with a per-query collect) — the 234-test suite shares one session
    the same way.  The collect itself is sub-ms; the JVM
    ContextCleaner frees blocks asynchronously."""
    yield
    gc.collect()
