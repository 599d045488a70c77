"""Tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The Spark-backed tests start one benchmark process each (about half a
minute apiece on four cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
from model import NightlyModel  # noqa: E402
from workloads import Check, _corrupted_copy_must_fail, check_nightly  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["info"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    result, info = bench(workload, seed=5, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    names = [c[0] for c in info["checks_failed"]]
    assert "corrupted_mirror_is_detected" not in names
    assert "corrupted_result_is_detected" not in names
    # known program defects are checked on every run and reported by name
    known = {"nightly_sync": "cross_path_binlog_apply_on_sync_mirror",
             "cdc_merge": "binlog_apply_equals_sequential_replay",
             "query_sweep": "oracle_q24_cdc_merge"}[workload]
    assert known in [c[0] for c in info["known_failing"]]


def test_traced_run_prints_every_per_layer_metric():
    result, info = bench("nightly_sync", seed=5, trace=1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.row_integrity_jobs"] > 0 and m["spark.jobs"] > 0
    assert m["cdc.merge_batch_jobs"] == 0          # nightly_sync never merges
    assert 0 <= info["unattributed_share"] < 1
    # the known cross-path defect is reported by name with its error class
    failed = {c[0]: c[2] for c in info["checks_failed"]}
    assert "cross_path_binlog_apply_on_sync_mirror" in failed


COUNTS = ("spark.jobs", "writer.bytes_written", "mirror_bytes_per_row", "files_per_day")


@pytest.mark.parametrize("workload", ["nightly_sync", "cdc_merge"])
def test_count_metrics_repeat_exactly_for_one_seed(workload):
    first, _ = bench(workload, seed=11, trace=1)
    second, _ = bench(workload, seed=11, trace=1)
    for name in COUNTS:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
        assert first["metrics"][name]["value"] > 0, name


def test_per_layer_spec_matches_the_code():
    assert [m["name"] for m in SPEC["per_layer"]] == list(layers.PER_LAYER)
    assert all(m["unit"] == layers.PER_LAYER[m["name"]] for m in SPEC["per_layer"])


def test_different_seed_changes_inputs(tmp_path):
    def nightly(seed):
        src = gen.NightlySource(seed, str(tmp_path / f"n{seed}"), days0=3,
                                rows_per_day=10, zero_dates=2, late_max=3)
        return src.initial() + src.night(1)

    def changes(seed):
        s = gen.ChangeStream(seed, days0=4, keys_per_day=5, events_per_segment=20,
                             hot_days=2, cold_events=1, ops_per_day=2)
        return s.snapshot() + s.segment(1)

    def fixtures(seed):
        out = tmp_path / f"f{seed}"
        gen.write_fixtures(seed, str(out), scale=0.0001)
        return (out / "events.parquet").read_bytes()

    for make in (nightly, changes, fixtures):
        assert make(1) == make(1)
        assert make(1) != make(2)


def test_corrupted_mirror_fails_its_check(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    model = NightlyModel()
    src = gen.NightlySource(3, str(tmp_path / "src"), days0=3, rows_per_day=10,
                            zero_dates=2, late_max=2)
    model.add(src.initial())
    mirror = tmp_path / "mirror"
    for day, rows in model.by_day.items():
        os.makedirs(mirror / f"day={day}")
        cols = list(zip(*rows))
        pq.write_table(pa.table({n: list(c) for n, c in zip(NightlyModel.COLUMNS, cols)}),
                       mirror / f"day={day}" / "part-0.parquet")
    checks = Check()
    assert check_nightly(str(mirror), model, checks, "ok")
    _corrupted_copy_must_fail(str(mirror), str(tmp_path / "copy"),
                              lambda path: check_nightly(path, model, None), checks)
    assert checks.results[-1][:2] == ("corrupted_mirror_is_detected", True)


def test_callsites_resolve_to_enclosing_def():
    import ast

    pkg = os.path.join(ROOT, spans.PKG)
    resolver = spans._SiteResolver(pkg)
    path = os.path.join(pkg, "pipeline.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in ast.walk(tree)
              if isinstance(n, ast.FunctionDef) and n.name == "incremental_sync")
    ret = next(n for n in ast.walk(fn) if isinstance(n, ast.Return))
    rel, name, target = resolver.resolve(path, ret.lineno)
    assert (rel, name, target) == ("pipeline.py", "incremental_sync", "return")
    assert spans.CALLSITES[(rel, name, target)] == "pipeline.touched_days_recompute"
    assert resolver.resolve("/elsewhere/x.py", 1) is None
