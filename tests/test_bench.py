"""bench.py's per-query measurement: the purity rule that decides steady
reuse, and the first run's build/run job counts."""

from __future__ import annotations

import bench
from enexory_parquet_export_spark.session import materialize


def test_measure_query_reuses_lazy_plan(spark):
    m = bench.measure_query(spark, lambda s, _: s.range(10), "", "test-lazy")
    assert (m.rebuilt, m.build, m.build_jobs, m.run_jobs) == (False, 0.0, 0, 1)
    assert m.first >= m.build_first >= 0 and m.steady > 0


def test_measure_query_rebuilds_eager_materialize_plan(spark):
    def build(s, _):
        return materialize(s.range(10), eager=True)

    m = bench.measure_query(spark, build, "", "test-eager")
    assert (m.rebuilt, m.build_jobs, m.run_jobs) == (True, 1, 1)
    # the steady run rebuilds, so its construction re-runs the checkpoint
    assert m.build > 0 and m.steady >= m.build
