#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run:

1. isolates itself: a private working directory, ``TMPDIR`` and
   ``SPARK_LOCAL_DIRS`` under ``.perfbench/runs/``, a driver heap sized
   from ``MemTotal``, and orphaned engine JVMs reaped first;
2. reads the engine's test tables shipped under ``data/`` (the same for
   every seed) and generates its operation stream from ``--seed``
   (``ops.py``);
3. sets up ``SETUP_REPS`` times (session start, table load, workload base
   load) and reports the median as ``setup_s``;
4. runs one untimed warm-up pass, its outputs checked against the
   oracles;
5. runs the whole passes that ``--seconds`` hold at the workload's nominal
   pass time, one operation at a time on ``local[nproc]``;
6. checks the window's outputs, prints a report to stderr and, as the
   last line of stdout, one JSON object with ``correct``, ``attempted``,
   ``failed`` and ``metrics``.

With ``--trace 1`` a traced window and a second untraced one, each half
as long, follow the untraced window. The metrics are the per-layer ones
from the traced window (the txn latencies from the first untraced one),
the tracing overhead is the traced ``ops_per_s`` against the mean of the
two untraced ones, and the spans are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ops import READ_KINDS, WRITE_KINDS  # noqa: E402
from workloads import (  # noqa: E402
    DATA_DIR, WORKLOADS, Context, OpResult, fingerprint, row_counts,
)

SF = "0.01"
# the first set-up launches the JVM, the other three restart the session
# on it, so the median is that of the restarts
SETUP_REPS = 4


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def heap_mb() -> int:
    """Driver heap: a sixteenth of MemTotal, within [1 GiB, 4 GiB], ample
    for the sf0.01 inputs. The session factory's own default (16g)
    exceeds small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 16))


def isolate(run_dir: str, nproc: int) -> dict:
    """Private dirs and env for this run; returns what was chosen."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    heap = f"{heap_mb()}m"
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=heap,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = None
    os.chdir(run_dir)
    return {**dirs, "heap": heap}


def start_session(nproc: int, env: dict):
    from dbms_query_optimizer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(os.getcwd(), "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={env['tmp']}"
            ),
        },
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def live_engine_jvms() -> int:
    """Engine JVMs of other, still-running processes (contention)."""
    me, n = os.getpid(), 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == me:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"SparkSubmit" in cmd and b"spark.dbms_query_optimizer_spark.origin" in cmd:
            n += 1
    return n


def shutdown() -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext
    from spans import descendants

    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    if sc is not None:
        sc.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if _alive(k)]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def run_pass(wl, ctx: Context, timed: bool) -> list[OpResult]:
    out = []
    for op in wl.pass_ops():
        t0 = time.perf_counter()
        value, err = None, None
        try:
            with ctx.tracer.op(op.name):
                value = wl.run(ctx, op, timed)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            first = (str(exc).strip().splitlines() or [""])[0]
            err = f"{type(exc).__name__}: {first[:300]}"
        out.append(OpResult(op, time.perf_counter() - t0, value, err))
    return out


def run_window(wl, ctx: Context, seconds: float) -> list[tuple[list[OpResult], float]]:
    """Whole passes: as many as take ``seconds`` at the workload's nominal
    pass time, so every run measures the same mix and the same amount.
    Returns each pass's results and wall seconds."""
    passes = []
    for _ in range(max(1, round(seconds / wl.pass_seconds))):
        t0 = time.perf_counter()
        results = run_pass(wl, ctx, timed=True)
        passes.append((results, time.perf_counter() - t0))
    return passes


def flat(passes: list[tuple[list[OpResult], float]]) -> list[OpResult]:
    return [r for results, _ in passes for r in results]


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method, as ``statistics.quantiles``)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def latency_metrics(passes: list[tuple[list[OpResult], float]]) -> dict:
    """Throughput as the median over passes of ops ÷ pass seconds, so one
    pass slowed by the host does not move it; latency percentiles over
    every op of the window."""
    results = flat(passes)
    secs = [r.seconds for r in results]
    writes = [r.seconds for r in results if r.op.kind in WRITE_KINDS]
    reads = [r.seconds for r in results if r.op.kind in READ_KINDS]
    out = {
        "ops_per_s": statistics.median(len(rs) / t for rs, t in passes),
        "op_s_p50": pct(secs, 50),
        "op_s_p90": pct(secs, 90),
    }
    if writes:
        out.update(write_s_p50=pct(writes, 50), write_s_p90=pct(writes, 90))
    if reads:
        out.update(read_s_p50=pct(reads, 50), read_s_p90=pct(reads, 90))
    return out


def layer_metrics(tr, results: list[OpResult], released: int, untraced: dict,
                  finish: dict, overhead: float) -> dict:
    """Every per-layer metric, from the traced window's spans."""
    op_wall = sum(r.seconds for r in results)
    construct = tr.total("operators.construct")
    pe = "plans.plan_and_emit"
    pae = [s for s in tr.spans if s.name == pe]
    reads = [s for s in tr.spans if s.name == "sources.read_plan"]
    files_total = sum(s.counters.get("files_total", 0) for s in reads)
    ex = "execution.execute"
    selfs = tr.self_times()

    def layer_self(prefix: str) -> float:
        return sum(v for k, v in selfs.items() if k.startswith(prefix + "."))

    return {
        "operators.construct_s": construct,
        "operators.construct_jobs": tr.total("operators.construct", "jobs"),
        "operators.construct_share": construct / op_wall,
        "plans.plan_and_emit_s": tr.total(pe),
        "plans.stats_s": tr.total(pe, "job_s"),
        "plans.stats_jobs": tr.total(pe, "jobs"),
        "plans.stats_cache_hit_ratio": (
            sum(1 for s in pae if s.counters.get("jobs", 0) == 0) / len(pae) if pae else 0.0
        ),
        "plans.dp_s": tr.total("plans.order_joins"),
        "plans.dp_subsets": tr.total("plans.order_joins", "subsets"),
        "execution.execute_s": tr.total(ex),
        "execution.jobs": tr.total(ex, "jobs"),
        "execution.stages": tr.total(ex, "stages"),
        "execution.tasks": tr.total(ex, "tasks"),
        "execution.executor_run_s": tr.total(ex, "run_s"),
        "execution.executor_cpu_s": tr.total(ex, "cpu_s"),
        "execution.gc_s": tr.total(ex, "gc_s"),
        "execution.shuffle_read_bytes": tr.total(ex, "shuffle_read"),
        "execution.shuffle_write_bytes": tr.total(ex, "shuffle_write"),
        "execution.spill_bytes": tr.total(ex, "spill"),
        "arrow.python_cpu_s": tr.total(ex, "python_cpu_s"),
        "arrow.bytes_to_python": tr.total(ex, "to_python"),
        "arrow.bytes_from_python": tr.total(ex, "from_python"),
        "sources.stage_s": tr.total("sources.stage"),
        "sources.commit_s": tr.total("sources.commit"),
        "sources.read_plan_s": tr.total("sources.read_plan"),
        "sources.files_read_ratio": (
            sum(s.counters.get("files_read", 0) for s in reads) / files_total
            if files_total else 0.0
        ),
        "sources.compact_s": tr.total("sources.compact"),
        "sources.manifest_bytes": finish.get("manifest_bytes", 0),
        "sources.manifest_versions": finish.get("manifest_versions", 0),
        "sources.bytes_per_user_byte": finish.get("bytes_per_user_byte", 0.0),
        "sources.write_s_p50": untraced.get("write_s_p50", 0.0),
        "sources.write_s_p90": untraced.get("write_s_p90", 0.0),
        "sources.read_s_p50": untraced.get("read_s_p50", 0.0),
        "sources.read_s_p90": untraced.get("read_s_p90", 0.0),
        "cache.frames_released": released,
        "operators.self_s": layer_self("operators"),
        "plans.self_s": layer_self("plans"),
        "execution.self_s": layer_self("execution"),
        "sources.self_s": layer_self("sources"),
        "cache.self_s": layer_self("cache"),
        "harness.self_s": selfs.get("harness", 0.0),
        "trace.attributed_share": 1.0 - selfs.get("harness", 0.0) / op_wall,
        "trace.overhead": overhead,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "bench.py"))
        and os.path.isdir(os.path.join(root, "dbms_query_optimizer_spark"))
    ):
        print(
            "perfbench: run from the root of an engine checkout (no "
            "dbms_query_optimizer_spark/ or bench.py here)",
            file=sys.stderr,
        )
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        root, ".perfbench", "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}"
    )
    env = isolate(run_dir, nproc)
    sys.path.insert(0, root)
    try:
        return measure(args, root, nproc, env)
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args: argparse.Namespace, root: str, nproc: int, env: dict) -> int:
    import bench  # the engine's reaper for orphaned JVMs of killed runs

    bench._reap_stray_spark_jvms()
    contention = live_engine_jvms()

    from spans import Tracer, vm_hwm_mb
    from tests.oracle_utils import duckdb_conn

    phases = {"start": time.perf_counter()}
    sf_dir = os.path.join(DATA_DIR, f"sf{SF}")
    counts = row_counts(sf_dir)
    wl = WORKLOADS[args.workload](args.seed, counts)

    try:
        spark, setup_times = None, []
        ctx = Context(spark=None, sf_dir=sf_dir, tracer=Tracer(None, False, None),
                      work_dir=os.getcwd(), counts=counts, duck=duckdb_conn(sf_dir))
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(nproc, env)
            ctx.spark = spark
            wl.setup(ctx)
            setup_times.append(time.perf_counter() - t0)
        pid = jvm_pid()
        phases["setup"] = time.perf_counter()

        warm = run_pass(wl, ctx, timed=False)
        failed = wl.check(ctx, warm, warmup=True)
        attempted = len(warm)

        phases["warmup"] = time.perf_counter()
        steal0 = cpu_steal()
        window = run_window(wl, ctx, args.seconds)
        steal1 = cpu_steal()
        results = flat(window)
        untraced = latency_metrics(window)
        checked = list(results)
        if args.trace:
            # the traced window and the untraced one after it are half
            # length, so a traced run costs 1.5 windows more, not 2
            ctx.tracer = tracer = Tracer(spark, enabled=True, jvm_pid=pid)
            released0 = ctx.released
            twindow = run_window(wl, ctx, args.seconds / 2)
            tresults = flat(twindow)
            traced = latency_metrics(twindow)
            released = ctx.released - released0
            # an untraced window after the traced one too: the overhead is
            # taken against both, so the JIT's warming across the three
            # windows cancels out of it
            ctx.tracer = Tracer(None, False, None)
            after = run_window(wl, ctx, args.seconds / 2)
            baseline = (untraced["ops_per_s"] + latency_metrics(after)["ops_per_s"]) / 2
            checked += tresults + flat(after)
        phases["window"] = time.perf_counter()
        failed += wl.check(ctx, checked, warmup=False)
        attempted += len(checked)
        finish = wl.finish(ctx)
        peak_rss = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(pid) if pid else 0.0)
        spark_version = spark.version
    finally:
        shutdown()
    phases["end"] = time.perf_counter()

    e2e = {
        "setup_s": (statistics.median(setup_times), "s"),
        "ops_per_s": (untraced["ops_per_s"], "1/s"),
        "op_s_p50": (untraced["op_s_p50"], "s"),
        "op_s_p90": (untraced["op_s_p90"], "s"),
        "peak_rss_mb": (peak_rss, "MiB"),
    }
    if args.trace:
        layer = layer_metrics(tracer, tresults, released, untraced, finish,
                              overhead=1.0 - traced["ops_per_s"] / baseline)
        units = {k: _unit(k) for k in layer}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"self_s": tracer.self_times(), "spans": tracer.dump()}, f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "ops_sha256": fingerprint(WORKLOADS[args.workload], args.seed, counts),
        "nproc": nproc,
        "driver_heap": env["heap"],
        "spark": spark_version,
        "sf": SF,
        "other_engine_jvms": contention,
        "setup_s_reps": setup_times,
        "phase_s": {
            b: phases[b] - phases[a]
            for a, b in zip(["start", "setup", "warmup", "window"],
                            ["setup", "warmup", "window", "end"])
        },
        "window_s": sum(t for _, t in window),
        "pass_ops_per_s": [len(rs) / t for rs, t in window],
        "warmup_op_s": [(r.op.name, r.seconds) for r in warm],
        "window_cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "ops": len(results),
        "error_rate": failed / attempted,
        **untraced,
        "bytes_per_user_byte": finish.get("bytes_per_user_byte"),
        "op_s_median_by_name": {
            n: statistics.median(r.seconds for r in results if r.op.name == n)
            for n in sorted({r.op.name for r in results})
        },
        "failures": wl.failures[:20],
    }
    print("perfbench report: " + json.dumps(report, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_bytes") or name.startswith("arrow.bytes"):
        return "B"
    if name.endswith("_s") or name.endswith(("_p50", "_p90")):
        return "s"
    if name.endswith(("_share", "_ratio", "overhead", "per_user_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
