"""Per-layer metrics of the traced run.

``op_layers`` turns one traced op's spans and Spark jobs into numbers;
``per_layer`` takes the median of each over the run's ops.  A layer a
workload does not touch reads 0 there (pipeline work on cdc_merge, say).
"""

from __future__ import annotations

import statistics

from model import data_files

QUERIES = (
    "q01_scan_project", "q02_filter_range", "q03_filter_pattern",
    "q04_dt_normalize", "q05_tz_shift", "q06_string_battery", "q07_math_null",
    "q08_agg_max_min", "q09_agg_count_reconcile", "q10_agg_hash_tpch1",
    "q11_agg_count_distinct", "q12_rollup_day_month", "q13_join_inner",
    "q14_join_left", "q15_join_anti", "q16_join_semi", "q17_join_range",
    "q18_join_asof", "q19_window_rank_lastwins", "q20_window_lag_changes",
    "q21_window_frame_movsum", "q22_topk", "q23_setops", "q25_validation",
    "q26_set_containment", "q27_dedup_exact", "q28_text_stats",
    "q29_similarity_topk",
)

#: name → unit, in the order printed
PER_LAYER = {
    "setup.session_s": "s", "setup.generate_s": "s",
    "setup.initial_build_s": "s", "setup.warmup_s": "s",
    "pipeline.find_resume_point_s": "s", "pipeline.find_resume_point_jobs": "count",
    "pipeline.incremental_sync_s": "s", "pipeline.incremental_sync_jobs": "count",
    "pipeline.touched_days_recompute_s": "s",
    "pipeline.row_integrity_s": "s", "pipeline.row_integrity_jobs": "count",
    "pipeline.row_integrity_input_bytes": "B",
    "writer.partition_discovery_s": "s", "writer.partition_discovery_jobs": "count",
    "writer.write_s": "s", "writer.bytes_written": "B",
    "writer.files_written": "count", "writer.days_rewritten": "count",
    "cdc.merge_batch_s": "s", "cdc.merge_batch_jobs": "count",
    "cdc.touched_days_collect_s": "s", "cdc.surviving_days_collect_s": "s",
    "cdc.base_rows_read": "count", "cdc.changes_in": "count",
    "cdc.changes_consolidated": "count", "cdc.days_touched": "count",
    **{f"query.{q}_s": "s" for q in QUERIES},
    "query.build_s": "s", "query.build_jobs": "count", "query.run_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_cores": "cores", "shuffle.write_bytes": "B", "input.bytes": "B",
    "driver_gap_s": "s", "op_p50_s": "s", "op_cpu_s": "s", "op_tail_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
    "mirror_bytes_per_row": "B", "bytes_written_per_change": "B",
    "files_per_day": "count", "ops_failed_ratio": "ratio",
    "checks_failed_ratio": "ratio",
}

#: layer functions timed by their spans: metric prefix → span names
_SPAN_TIMES = {
    "pipeline.find_resume_point": ("find_resume_point",),
    "pipeline.incremental_sync": ("incremental_sync",),
    "pipeline.row_integrity": ("row_integrity",),
    "writer.write": ("write_day_partitioned",),
    "cdc.merge_batch": ("merge_batch",),
    "query.build": ("query.build",),
}
_SPAN_JOBS = ("pipeline.find_resume_point", "pipeline.incremental_sync",
              "pipeline.row_integrity", "cdc.merge_batch", "query.build")
#: counts the workload records for every op, traced or not: key → metric
_OP_COUNTS = {key: f"writer.{key}" for key in
              ("bytes_written", "files_written", "days_rewritten")}
_OP_COUNTS.update({key: f"cdc.{key}" for key in
                   ("base_rows_read", "changes_in", "changes_consolidated",
                    "days_touched")})
_ROOTS = ("op", "main", "query.run")


def _union(intervals) -> float:
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def op_layers(tracer, jobs, rec: dict) -> dict:
    wall = rec["wall"]
    lo, hi = rec["e0"], rec["e1"]
    clip = [(max(j.t0, lo), min(j.t1, hi)) for j in jobs]
    clip = [(a, b) for a, b in clip if b > a]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "exec.run_s": sum(j.run_s for j in jobs),
        "exec.cpu_s": sum(j.cpu_s for j in jobs),
        "exec.gc_s": sum(j.gc_s for j in jobs),
        "shuffle.write_bytes": sum(j.shuffle_write for j in jobs),
        "input.bytes": sum(j.input_bytes for j in jobs),
        "driver_gap_s": max(0.0, wall - _union(clip)),
    }
    out["exec.busy_cores"] = out["exec.cpu_s"] / wall if wall else 0.0
    spans = tracer.spans
    for prefix, names in _SPAN_TIMES.items():
        hit = [s for s in spans if s.name in names]
        out[f"{prefix}_s"] = sum(s.t1 - s.t0 for s in hit)
        if prefix in _SPAN_JOBS:
            inside = set()
            for s in hit:
                inside |= tracer.descendants(s.sid)
            mine = [j for j in jobs if j.span in inside]
            out[f"{prefix}_jobs"] = len(mine)
            if prefix == "pipeline.row_integrity":
                out["pipeline.row_integrity_input_bytes"] = sum(j.input_bytes for j in mine)
    run_spans = {s.sid for s in spans if s.name == "query.run"}
    out["query.run_jobs"] = sum(1 for j in jobs if j.span in run_spans)
    for site in ("pipeline.touched_days_recompute", "cdc.touched_days_collect",
                 "cdc.surviving_days_collect"):
        out[f"{site}_s"] = sum(j.t1 - j.t0 for j in jobs if j.site == site)
    listing = [j for j in jobs if j.owner == "read_day_partitioned"]
    out["writer.partition_discovery_jobs"] = len(listing)
    out["writer.partition_discovery_s"] = sum(j.t1 - j.t0 for j in listing)
    covered = [(s.t0, s.t1) for s in spans if s.name not in _ROOTS and s.t1 > s.t0]
    out["trace.unattributed_share"] = (
        max(0.0, wall - _union(covered + clip)) / wall if wall else 0.0)
    return out


def mirror_counts(wl, ops: list[dict]) -> dict:
    """Mirror size and write volume after the first ops of the run."""
    mirror = getattr(wl, "mirror", None)
    if mirror is None:
        return {}
    files = data_files(mirror)
    rows = (wl.model.n_rows() if hasattr(wl.model, "n_rows") else len(wl.model.state))
    days = {k.split("/")[0] for k in files}
    changed = sum(r.get("changed_rows", 0) for r in ops)
    return {
        "mirror_bytes_per_row": sum(files.values()) / rows,
        "bytes_written_per_change": sum(r.get("bytes_written", 0) for r in ops) / changed,
        "files_per_day": len(files) / len(days),
    }


def tail(walls: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten ops beyond it: the (n-10)-th
    order statistic.  With ten ops or fewer it is the slowest op.
    Returns (value, percentile, samples)."""
    v = sorted(walls)
    if not v:
        return 0.0, 0.0, 0
    if len(v) <= 10:
        return v[-1], 100.0, len(v)
    k = len(v) - 11
    return v[k], round(100.0 * (k + 1) / len(v), 1), len(v)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(ops: list[dict], checks, counts: dict | None, *,
              session_s: float, gens, builds, warmup_s: float) -> dict:
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update({
        "setup.session_s": session_s, "setup.generate_s": _median(gens),
        "setup.initial_build_s": _median(builds), "setup.warmup_s": warmup_s,
    })
    traced = [r for r in ops if r["ok"] and "layers" in r]
    for name in PER_LAYER:
        got = [r["layers"][name] for r in traced if name in r["layers"]]
        if got:
            values[name] = _median(got)
    for key, name in _OP_COUNTS.items():
        got = [r[key] for r in ops if key in r]
        if got:
            values[name] = _median(got)
    for q in QUERIES:
        got = [r["wall"] for r in ops if r.get("query") == q and r["ok"]]
        if got:
            values[f"query.{q}_s"] = _median(got)
    # build and job counts of a whole pass, so that one query's build-time
    # work (q24's checkpoint, say) is not lost in a median over queries
    passes: dict[int, list[dict]] = {}
    for r in traced:
        if "query" in r:
            passes.setdefault(r["round"], []).append(r["layers"])
    for name in ("query.build_s", "query.build_jobs", "query.run_jobs"):
        if passes:
            values[name] = _median(sum(lay[name] for lay in p) for p in passes.values())
    untraced = [r["wall"] for r in ops if r["ok"] and not r["traced"]]
    if traced and untraced:
        values["trace.overhead_s"] = (_median(r["wall"] for r in traced)
                                      - _median(untraced))
    values["op_p50_s"] = _median(untraced)
    values["op_cpu_s"] = _median(r["cpu"] for r in ops if r["ok"] and not r["traced"])
    values["op_tail_s"] = tail(untraced)[0]
    values.update(counts or {})
    values["ops_failed_ratio"] = sum(1 for r in ops if not r["ok"]) / max(1, len(ops))
    values["checks_failed_ratio"] = (sum(1 for c in checks if not c[1])
                                     / max(1, len(checks)))
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
