"""Layer tracing from outside the program.

``Tracer.install`` replaces the program's public layer functions, in every
module that imported them, with wrappers that record a span and run the
call under its own Spark job group.  Nothing in the program changes; the
wrappers call straight through while ``active`` is false.

After an op, ``harvest`` reads Spark's own bookkeeping for the op's jobs:
job intervals from the status store, per-stage run / CPU / GC / shuffle /
input figures, and each job's callsite (``collect at …/pipeline.py:118``),
which is resolved through ``ast`` to the enclosing ``def`` so that metric
names survive line shifts.  Jobs whose callsite is outside the program
(listing jobs, writes, AQE subqueries) belong to the innermost span.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import importlib
import itertools
import os
import re
import sys
import time
from dataclasses import dataclass

PKG = "enexory_parquet_export_spark"

#: (module, function) pairs wrapped in a span; the span name is the key
#: used by the workloads' layer metrics.
TARGETS = {
    f"{PKG}.__main__": ("main",),
    f"{PKG}.pipeline": ("run_sync", "historical_backfill", "find_resume_point",
                        "incremental_sync", "row_integrity"),
    f"{PKG}.sources.writer": ("write_day_partitioned", "read_day_partitioned",
                              "list_days", "remove_empty_days"),
    f"{PKG}.streaming.cdc_stream": ("merge_batch",),
    f"{PKG}.operators.cdc": ("consolidate", "apply_changes"),
}

#: (module file relative to the package, def, statement target) → name of
#: a job-level metric.  The statement target is the assigned name, or
#: ``return`` for a returned expression.
CALLSITES = {
    ("pipeline.py", "incremental_sync", "return"): "pipeline.touched_days_recompute",
    ("streaming/cdc_stream.py", "merge_batch", "touched"): "cdc.touched_days_collect",
    ("streaming/cdc_stream.py", "merge_batch", "surviving"): "cdc.surviving_days_collect",
}

_CALLSITE_RE = re.compile(r"^(\w+) at (.+):(\d+)$")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0


@dataclass
class Job:
    jid: int
    span: int
    t0: float                     # epoch seconds
    t1: float
    owner: str                    # function the job is attributed to
    site: str | None              # CALLSITES metric, if any
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    input_bytes: int = 0


class _SiteResolver:
    """``file:line`` → (package-relative file, enclosing def, statement target)."""

    def __init__(self, pkg_dir: str):
        self.pkg_dir = os.path.realpath(pkg_dir)
        self._trees: dict[str, ast.AST] = {}

    def resolve(self, path: str, line: int):
        real = os.path.realpath(path)
        if not real.startswith(self.pkg_dir + os.sep):
            return None
        rel = os.path.relpath(real, self.pkg_dir).replace(os.sep, "/")
        tree = self._trees.get(real)
        if tree is None:
            with open(real, encoding="utf-8") as fh:
                tree = self._trees[real] = ast.parse(fh.read())
        fn = None
        for node in ast.walk(tree):
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and node.lineno <= line <= node.end_lineno
                    and (fn is None or node.lineno > fn.lineno)):
                fn = node
        if fn is None:
            return rel, None, None
        target = None
        for stmt in ast.walk(fn):
            if (isinstance(stmt, ast.stmt) and stmt is not fn
                    and stmt.lineno <= line <= stmt.end_lineno):
                if isinstance(stmt, ast.Return):
                    target = "return"
                elif (isinstance(stmt, ast.Assign) and len(stmt.targets) == 1
                      and isinstance(stmt.targets[0], ast.Name)):
                    target = stmt.targets[0].id
        return rel, fn.name, target


class Tracer:
    def __init__(self, spark, pkg_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self._by_id: dict[int, Span] = {}
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._resolver = _SiteResolver(pkg_dir)
        self._store = self.sc._jsc.sc().statusStore()
        self._next_job = 0

    # ------------------------------------------------------------ spans
    def _enter(self, name: str) -> int:
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        span = self._by_id[sid] = Span(sid, name, parent, time.time())
        self.spans.append(span)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb-{sid}", name)
        return sid

    def _exit(self, sid: int) -> None:
        self._by_id[sid].t1 = time.time()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(f"pb-{parent}", self.span(parent).name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def span(self, sid: int) -> Span:
        return self._by_id[sid]

    @contextlib.contextmanager
    def region(self, name: str):
        """A span opened by the benchmark itself."""
        if not self.active:
            yield
            return
        sid = self._enter(name)
        try:
            yield
        finally:
            self._exit(sid)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            sid = self._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(sid)
        return traced

    def install(self) -> None:
        for mod_name, funcs in TARGETS.items():
            mod = importlib.import_module(mod_name)
            for fname in funcs:
                orig = getattr(mod, fname)
                wrapped = self._wrap(fname, orig)
                for other in list(sys.modules.values()):
                    oname = getattr(other, "__name__", "") or ""
                    if not (oname.startswith(PKG) or oname == "__spark_entry__"):
                        continue
                    for attr, val in list(vars(other).items()):
                        if val is orig:
                            setattr(other, attr, wrapped)
                            self._patched.append((other, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # ---------------------------------------------------------- harvest
    def mark(self) -> None:
        """Skip every job submitted so far (call right before an op)."""
        self._drain()
        self._next_job = self._job_count()

    def _job_count(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def harvest(self) -> list[Job]:
        """Jobs submitted since the last ``mark``/``harvest``."""
        self._drain()
        end = self._job_count()
        by_group = {f"pb-{s.sid}": s.sid for s in self.spans}
        jobs = []
        for jid in range(self._next_job, end):
            try:
                j = self._store.job(jid)
            except Exception:          # evicted or never registered
                continue
            group = j.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            sub, comp = j.submissionTime(), j.completionTime()
            t0 = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            t1 = comp.get().getTime() / 1e3 if comp.isDefined() else t0
            owner, site = self._attribute(str(j.name()), span)
            job = Job(jid, span or 0, t0, t1, owner, site)
            stage_ids = j.stageIds()
            for sid in (stage_ids.apply(i) for i in range(stage_ids.size())):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:      # skipped stage: no attempt recorded
                    continue
                job.stages += 1
                job.tasks += st.numTasks()
                job.run_s += st.executorRunTime() / 1e3
                job.cpu_s += st.executorCpuTime() / 1e9
                job.gc_s += st.jvmGcTime() / 1e3
                job.shuffle_write += st.shuffleWriteBytes()
                job.input_bytes += st.inputBytes()
            jobs.append(job)
        self._next_job = end
        return jobs

    def _attribute(self, name: str, span: int | None):
        m = _CALLSITE_RE.match(name)
        if m:
            hit = self._resolver.resolve(m.group(2), int(m.group(3)))
            if hit and hit[1]:
                rel, fn, target = hit
                return fn, CALLSITES.get((rel, fn, target))
        return (self.span(span).name if span else "<none>"), None

    def descendants(self, sid: int) -> set[int]:
        out, frontier = {sid}, [sid]
        while frontier:
            cur = frontier.pop()
            kids = [s.sid for s in self.spans if s.parent == cur]
            out.update(kids)
            frontier.extend(kids)
        return out

    def reset(self) -> None:
        self.spans.clear()
        self._by_id.clear()
