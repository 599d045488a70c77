"""Mirror-lifecycle benchmark.

    python3 perfbench/run.py --workload nightly_sync --seed 1 --seconds 5 --trace 0

Runs one workload as a closed loop with one client in this process, on
``local[nproc]``, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See README.md in this directory for the workloads, metrics and protocol.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "enexory_parquet_export_spark")

#: set-up repetitions (the reported set-up is their median) and untimed
#: warm-up rounds after them; measured in README "Steadiness"
SETUP_REPS = 3
WARMUP_ROUNDS = {"nightly_sync": 1, "cdc_merge": 1, "query_sweep": 0}
#: timed ops after which the mirror's count metrics are taken, so they do
#: not depend on how many ops the clock allowed; the loop runs at least these
COUNT_AT_OP = {"full": 3, "tiny": 2}
DRIVER_MEM = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    p.add_argument("--workload", required=True,
                   choices=("nightly_sync", "cdc_merge", "query_sweep"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def host_stamp() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def flush() -> None:
    """Before each round, outside the timed region, on every run alike.
    No JVM ``System.gc()``: it made the following ops slower and noisier
    (README, "Steadiness")."""
    gc.collect()
    os.sync()


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` so far, from /proc."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])      # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PKG_DIR, "__main__.py")):
        print(f"program package not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep the JVM's and Python's temporary files inside the checkout too
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    host_before = host_stamp()
    os.makedirs(tmp)
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    info.update(host_before=host_before, host_after=host_stamp(),
                pins={"SPARK_GRAFT_CPUS": nproc, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                      "flush": "gc.collect + os.sync before each round"})
    print(json.dumps({"info": info}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    from enexory_parquet_export_spark.session import get_spark

    import layers
    from spans import Tracer
    from workloads import KNOWN_FAILING, WORKLOADS

    from pyspark import SparkContext

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_PROCESS
    # this process and the JVM it launched: the CPU an op costs
    pids = [os.getpid(), SparkContext._gateway.proc.pid]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        tracer = Tracer(spark, PKG_DIR) if args.trace else None
        if tracer:
            tracer.install()
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        clock = time.perf_counter

        gens, builds = [], []
        for rep in range(SETUP_REPS):
            g, b = wl.prepare(rep, clock)
            gens.append(g)
            builds.append(b)
        t0 = clock()
        if args.workload == "query_sweep":
            wl.oracle_pass()
        warm = WARMUP_ROUNDS[args.workload] if args.scale == "full" else 0
        for _ in range(warm * wl.round_size):
            wl.before_op()
            wl.op()
            wl.after_op()
        warmup_s = clock() - t0
        setup_s = session_s + statistics.median(g + b for g, b in zip(gens, builds)) + warmup_s

        ops: list[dict] = []
        flush_s = 0.0
        counts_snapshot = None
        t_loop = clock()
        # the whole interval, all set-up repetitions included; setup_s
        # counts one repetition (the median), see README "Protocol"
        first_op_s = t_loop - T_PROCESS
        rnd = 0
        min_ops = COUNT_AT_OP[args.scale]
        # a traced run needs a traced and an untraced round for the overhead
        min_rounds = 2 if tracer else 1
        while (len(ops) < min_ops or rnd < min_rounds
               or clock() - t_loop < args.seconds):
            traced = tracer is not None and rnd % 2 == 0
            f0 = clock()
            flush()
            flush_s += clock() - f0
            for _ in range(wl.round_size):
                rec = wl.before_op()
                if tracer:
                    tracer.active = traced
                    tracer.reset()
                    tracer.mark()
                jobs0, cpu0 = dag.nextJobId(), cpu_seconds(pids)
                e0, t0 = time.time(), clock()
                ok, err = True, None
                try:
                    if traced:
                        with tracer.region("op"):
                            extra = wl.op(tracer)
                    else:
                        extra = wl.op()
                except Exception as exc:   # a failed op is counted, not fatal
                    ok, err, extra = False, f"{type(exc).__name__}: {exc}"[:300], None
                wall = clock() - t0
                e1 = time.time()
                cpu = cpu_seconds(pids) - cpu0
                jobs = dag.nextJobId() - jobs0
                if tracer:
                    tracer.active = False
                rec.update(wl.after_op())
                rec.update(extra or {})
                rec.update(ok=ok, err=err, wall=wall, cpu=cpu, jobs=jobs,
                           traced=traced, round=rnd, e0=e0, e1=e1)
                if traced:
                    rec["layers"] = layers.op_layers(tracer, tracer.harvest(), rec)
                ops.append(rec)
                if len(ops) == min_ops:
                    counts_snapshot = layers.mirror_counts(wl, ops)
            rnd += 1
        measured_s = clock() - t_loop

        wl.final_checks(spark)
    finally:
        if tracer:
            tracer.uninstall()
        stop(spark)

    good = [r for r in ops if r["ok"]]
    walls = [r["wall"] for r in good if not r["traced"]]
    checks = wl.checks.results
    correct = all(ok for name, ok, _ in checks if name not in KNOWN_FAILING)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(ops), "ops_ok": len(good), "measured_s": round(measured_s, 3),
        "flush_s": round(flush_s, 3),
        "op_walls": [round(r["wall"], 3) for r in good],
        "setup": {"session_s": session_s, "generate_s": gens, "initial_build_s": builds,
                  "warmup_s": warmup_s, "warmup_rounds": warm,
                  "process_to_first_op_s": first_op_s},
        "checks_run": len(checks), "checks_failed": [c for c in checks if not c[1]],
        "known_failing": [c for c in checks if c[0] in KNOWN_FAILING],
        "op_errors": sorted({r["err"] for r in ops if r["err"]})[:5],
    }
    if args.trace:
        metrics = layers.per_layer(ops, checks, counts_snapshot,
                                   session_s=session_s, gens=gens, builds=builds,
                                   warmup_s=warmup_s)
        info["unattributed_share"] = metrics["trace.unattributed_share"]["value"]
        info["op_tail_percentile"], info["op_tail_samples"] = layers.tail(walls)[1:]
    else:
        metrics = {
            "op_jobs": {"value": statistics.median([r["jobs"] for r in good] or [0]),
                        "unit": "count"},
            "setup_s": {"value": setup_s, "unit": "s"}}
        info["op_p50_s"] = statistics.median(walls or [0.0])
        info["op_tail_s"], info["op_tail_percentile"], info["op_tail_samples"] = \
            layers.tail(walls)
        info["op_cpu_s"] = statistics.median([r["cpu"] for r in good] or [0.0])
    result = {"correct": bool(correct and good), "attempted": len(ops),
              "failed": len(ops) - len(good), "metrics": metrics}
    return result, info


if __name__ == "__main__":
    sys.exit(main())
