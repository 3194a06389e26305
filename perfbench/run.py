"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rel_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is a ``{"record": ...}`` object with the
details (tail percentile and sample count, set-up samples, errors).
Everything else the process and the JVM print goes to standard error.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run records spans and prints the per-layer metrics,
and writes the whole trace to ``perfbench/out/``.

The timed phase runs whole passes over the workload's operations:
``--seconds`` divided by the workload's nominal pass length, rounded, and
at least one. The count does not depend on how fast the machine is, so
every run of a workload does the same work and its figures compare.
Every time metric is wall time less the share of it the VM's hypervisor
stole (``stats.unstolen``); the record keeps the raw walls. All files
the run writes stay under ``perfbench/.work/`` and are removed when it
ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_LIMIT_S = 170  # the run is killed after this, whatever it is doing


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def isolate_files(work: str) -> None:
    """Point every temporary file of this process, its Python workers
    and the JVM into ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher included: temp files in ``work``, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def kill_tree() -> None:
    from perfbench.procstats import process_tree

    for pid in process_tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def start_watchdog() -> None:
    def expire() -> None:
        print(f"run exceeded {HARD_LIMIT_S} s; killed", file=sys.stderr, flush=True)
        kill_tree()
        os._exit(3)

    timer = threading.Timer(HARD_LIMIT_S, expire)
    timer.daemon = True
    timer.start()


def stop_engine() -> None:
    """Stop the session and the JVM behind it, and wait for every
    process this run started to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.procstats import process_tree

    spark = SparkSession.getActiveSession()
    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    kill_tree()
    for pid in process_tree()[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_op(ctx, op, cleanup) -> tuple[float, float, str | None]:
    """Run one operation, its output check and the cleanup after it.
    Returns (latency, steal share during it, error or None)."""
    from perfbench.procstats import host_clock, steal_share

    error = None
    with ctx.tracer.span("op", op=op.name, group=op.group):
        h0, t0 = host_clock(), time.perf_counter()
        try:
            op.run()
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted
            error = f"{op.name}: {type(exc).__name__}: {exc}"
        latency = time.perf_counter() - t0
        share = steal_share(h0, host_clock())
    if error is None and op.check is not None:
        with ctx.tracer.span("check", op=op.name):
            try:
                op.check()
            except Exception as exc:  # noqa: BLE001 — a wrong output is counted
                error = f"{op.name}: {type(exc).__name__}: {exc}"
    with ctx.tracer.span("cleanup"):
        cleanup()
    return latency, share, error


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    from perfbench import procstats, report, stats, workloads
    from perfbench.tracer import NullTracer, Tracer, job_ids, read_status_store

    session = workloads._engine("session")
    caching = workloads._engine("caching")
    workload = workloads.make(args.workload)
    ctx = workloads.Context(None, NullTracer(), HERE, work, args.seed)

    # -- set-up: session start, warm-up and inputs ----------------------
    # One cold set-up: a second one in the same process would only
    # restart the SparkContext inside an already warm JVM.
    n_passes = max(1, round(args.seconds / workload.PASS_S))
    h0, t0 = procstats.host_clock(), time.perf_counter()
    ctx.spark = spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{workloads.CORES}]",
        extra_conf=session_conf(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    workload.setup(ctx, n_passes)
    setup_s = time.perf_counter() - t0
    setup_steal = procstats.steal_share(h0, procstats.host_clock())

    if args.trace:
        jsc = spark.sparkContext._jsc.sc()
        ctx.tracer = Tracer(next_job_id=lambda: jsc.dagScheduler().nextJobId())
        workload.instrument(ctx.tracer)

    def cleanup() -> None:
        caching.release_all()
        for q in spark.streams.active:
            q.stop()

    # -- timed phase -----------------------------------------------------
    tree0 = procstats.process_tree()
    cpu0 = procstats.cpu_snapshot(tree0)
    latencies, steals, errors, pass_walls, pass_steals, ops_seen = [], [], [], [], [], []
    t_start = time.perf_counter()
    for ops, _ in zip(workload.passes(ctx), range(n_passes)):
        h0, p0 = procstats.host_clock(), time.perf_counter()
        for op in ops:
            latency, share, error = run_op(ctx, op, cleanup)
            latencies.append(latency)
            steals.append(share)
            ops_seen.append(op.name)
            if error is not None:
                errors.append(error[:500])
        pass_walls.append(time.perf_counter() - p0)
        pass_steals.append(procstats.steal_share(h0, procstats.host_clock()))
    wall = time.perf_counter() - t_start
    tree1 = procstats.process_tree()
    cpu = procstats.cpu_between(cpu0, procstats.cpu_snapshot(tree1))
    peak_rss = procstats.peak_rss_mb(tree1)
    ctx.tracer.restore()
    extra = workload.finish(ctx)

    attempted, failed = len(latencies), len(errors)
    passes = len(pass_walls)
    # every time metric is the wall time less the share of it the
    # hypervisor stole (see stats.unstolen); the raw walls are recorded
    op_s = stats.unstolen(latencies, steals)
    tail = stats.tail(op_s)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "passes": passes,
        "ops": attempted,
        "op_order": ops_seen,
        "op_latency_s": [round(x, 4) for x in latencies],
        "op_steal_share": [round(x, 4) for x in steals],
        "op_tail": {"percentile": tail.percentile, "n": tail.n, "beyond": tail.beyond},
        "setup_s": setup_s,
        "setup_steal_share": setup_steal,
        "timed_wall_s": wall,
        "pass_walls_s": pass_walls,
        "pass_steal_share": pass_steals,
        "errors": errors[:5],
        **ctx.record,
    }
    if not args.trace:
        metrics = {
            "setup_s": (stats.unstolen([setup_s], [setup_steal])[0], "s"),
            "wall_s": (stats.median(stats.unstolen(pass_walls, pass_steals)), "s"),
            "op_p50_s": (stats.median(op_s), "s"),
            "op_tail_s": (tail.value, "s"),
            "cpu_s": (cpu / passes, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    else:
        spans = ctx.tracer.spans
        jobs, stages = read_status_store(spark, job_ids(spans))
        extra.update(attempted=attempted, failed=failed)
        printed, named = report.per_layer(spans, jobs, stages, passes, extra)
        metrics = {k: (v, report.PER_LAYER_UNITS[k]) for k, v in printed.items()}
        record["top_span_coverage"] = report.coverage(spans, wall)
        write_trace(args, record, spans, jobs, stages, named, latencies, wall, cpu, peak_rss)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def write_trace(args, record, spans, jobs, stages, named, latencies, wall, cpu, peak_rss) -> None:
    from perfbench import report
    from perfbench.tracer import exec_summary

    t0 = min((sp.start for sp in spans), default=0.0)
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    ops = []
    for sp, latency in zip([s for s in spans if s.name == "op"], latencies):
        split = {}
        for child in kids.get(sp.sid, ()):
            split[child.name] = split.get(child.name, 0.0) + child.duration
        ops.append({
            "op": sp.attrs["op"],
            "group": sp.attrs["group"],
            "latency_s": latency,
            "split_s": split,
            "jobs": sp.job1 - sp.job0,
            "exec": exec_summary(set(range(sp.job0, sp.job1)), jobs, stages),
        })
    doc = {
        "record": record,
        "timed": {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak_rss},
        "layers": named,
        "self_time": report.layer_table(spans),
        "ops": ops,
        "spans": [
            [sp.sid, sp.name, sp.parent, round(sp.start - t0, 6), round(sp.duration, 6),
             sp.job0, sp.job1, sp.attrs]
            for sp in spans
        ],
    }
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # results go to the original stdout; everything else, including
    # output of the JVM and Python workers, to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    start_watchdog()
    sys.path.insert(0, ROOT)
    try:
        import weatherapi_data_engineering_project_spark  # noqa: F401
        from perfbench import workloads
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    isolate_files(work)
    try:
        record, result = run(args, work)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
    result_out.write(json.dumps({"record": record}) + "\n")
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
