"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload claims_score --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up several times (session,
seeded inputs, staging, training; once with ``--tiny``), runs two untimed
warm-up ops (one with ``--tiny``), fixes the expected output, then
measures ops in a closed loop from this one client for ``--seconds``,
checks every op's output, and prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) as the last line of standard output. Scratch files live in
``.perfbench_scratch/`` under the root and are removed on exit; traced
runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark"
GC_LOG = "gc.log"


def process_start() -> float:
    """Wall-clock start of this process, from ``/proc``."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    """Spark task threads: half the CPUs, at most 4. The other half keeps
    the driver's own threads and this client running when a shared host
    steals CPU time; with every CPU given to tasks, op CPU time rose about
    twice as fast with the host's steal share."""
    return max(1, min(len(os.sched_getaffinity(0)) // 2, 4))


def configure(scratch: str, jvm_opts: str) -> None:
    """Point every temp and spill location of this process, its JVM and
    its Python workers at ``scratch``, and size Spark for a small box."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        # one BLAS thread in the client and the workers: idle BLAS threads
        # spin, which adds CPU time that follows scheduling, not work
        OPENBLAS_NUM_THREADS="1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # a fixed heap and young generation, so the collector's adaptive
        # sizing (which moves with the CPU time a shared host steals) does
        # not move CPU time or memory; the GC log gives the heap in use
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m -XX:-UseDynamicNumberOfCompilerThreads {jvm_opts} "
            f"-Xlog:gc:file={os.path.join(scratch, GC_LOG)}:timemillis' pyspark-shell"
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(scratch)  # spark-warehouse and friends land here


def stop_jvm() -> None:
    """Stop Spark and the gateway JVM this process launched, and wait for
    the JVM and every process under it (the Python workers) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from tracing import descendants, wait_gone

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        under = descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        wait_gone(under)
        SparkContext._gateway = SparkContext._jvm = None


def host_steal(since: tuple[int, int] | None = None):
    """``(steal, total)`` CPU ticks from ``/proc/stat``; with ``since``, the
    share of CPU time the hypervisor took from this machine since then."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def run(args, t_start: float) -> dict:
    import workloads
    from tracing import SparkCounters, Tracer, heap_after_gc_mb, jvm_pids, python_rss_mb, tree_cpu_s, window_stats

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import cache
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.session import get_spark

    ctx = workloads.Ctx(args.scratch, args.seed, args.tiny, Tracer(bool(args.trace)))
    wl = workloads.WORKLOADS[args.workload](ctx)

    def release() -> None:
        ctx.spark.catalog.clearCache()
        cache.release_caches()

    # setup_s is the median CPU time of the identical set-ups after the
    # first: session, seeded inputs, staging and training in a started
    # JVM. The first also pays for starting the process and the JVM, which
    # moves with the host far more than the program's own set-up work does.
    setups, setup_cpu = [], []
    for rep in range(1 if args.tiny else wl.SETUPS):
        if rep:
            release()
            ctx.spark.stop()
        t0 = t_start if rep == 0 else time.time()
        cpu0 = 0.0 if rep == 0 else tree_cpu_s(os.getpid())
        ctx.spark = ctx.timed("session.get_spark.s", get_spark)
        wl.stage(rep)
        setups.append(time.time() - t0)
        setup_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
    # the warm-up ops run before the reference, so the reference runs in a
    # warm JVM; their output is not checked. After one warm-up op the first
    # measured op cost about a fifth more CPU than the next ones, after two
    # about a twelfth more, and a third warm-up op did not change that.
    phases = {"setup": time.time() - t_start}
    ctx.recording = False
    for w in range(1 if args.tiny else 2):
        wl.op(-1 - w)
    ctx.recording = True
    release()
    phases["warmup"] = time.time() - t_start - sum(phases.values())
    wl.reference()
    phases["reference"] = time.time() - t_start - sum(phases.values())

    def full_gc() -> None:
        # every op starts from the same, collected heap: its CPU time and
        # the heap it keeps do not depend on the garbage of the ops before
        ctx.spark._jvm.java.lang.System.gc()

    if args.trace:
        ctx.counters = SparkCounters(ctx.spark)
    times, rows, wall, cpu, attempted, failed = [], 0, 0.0, [], 0, 0
    op_windows, rate = [], []
    full_gc()
    steal0 = host_steal()
    deadline = time.time() + args.seconds
    i = 0
    while i < (2 if args.tiny else 1) or time.time() < deadline:
        ctx.tracer.op = i
        m = ctx.counters.mark() if ctx.counters else None
        gc0 = ctx.counters.gc_s() if ctx.counters else 0.0
        t0 = time.time()
        try:
            res = wl.op(i)
        except Exception:
            traceback.print_exc()
            res = workloads.OpResult([time.time() - t0], 0, time.time() - t0, False, [])
        op_windows.append((t0, time.time()))
        n = len(res.times)
        attempted += n
        failed += 0 if res.ok else n
        times += res.times
        rows += res.rows
        wall += res.wall
        cpu.append(res.cpu_s)  # per op: a stream op is a whole drain
        rate.append(res.rows / res.cpu_s if res.cpu_s > 0 else 0.0)
        if ctx.counters:
            gc = (ctx.counters.gc_s() - gc0) / max(n, 1)
            jobs = ctx.counters.jobs_since(m)
            for w0, w1 in res.windows:
                st = window_stats(jobs, w0, w1)
                ctx.record("spark.jobs_per_op", st.jobs)
                ctx.record("spark.driver_gap_s", (w1 - w0) - st.busy_s)
                ctx.record("spark.executor_run_s", st.executor_run_s)
                ctx.record("spark.shuffle_write_mb", st.shuffle_write_mb)
                ctx.record("spark.spill_mb", st.spill_mb)
                ctx.record("jvm.gc_s", gc)
            if res.ok:
                wl.probes(i)
        ctx.timed("cache.release_caches.s", release)
        full_gc()
        i += 1
    phases["loop"] = time.time() - t_start - sum(phases.values())
    steal = host_steal(steal0)
    if args.trace:
        ctx.tracer.op = i
        ok = wl.finish()
        if ok is not None:
            attempted += 1
            failed += 0 if ok else 1
        phases["finish"] = time.time() - t_start - sum(phases.values())

    heap = statistics.median(heap_after_gc_mb(os.path.join(args.scratch, GC_LOG), op_windows) or [0.0])
    py_rss = python_rss_mb(os.getpid(), jvm_pids(os.getpid()))
    # Wall times move with the CPU time the hypervisor steals from a shared
    # machine (op_p50_s by about 3.5x the steal share), so the bounded
    # metrics count CPU seconds; wall times go to the traced run and the
    # line below.
    metrics = {
        "setup_s": (statistics.median(setup_cpu[1:] or setup_cpu), "s"),
        "op_cpu_s": (statistics.median(cpu), "s"),
        "rows_per_cpu_s": (statistics.median(rate), "rows/cpu_s"),
        "peak_mem_mb": (heap + py_rss, "MB"),
    }
    if args.trace:
        ctx.record("trace.op_p50_s", statistics.median(times))
        ctx.record("trace.rows_per_s", rows / wall)
        layers = {name: statistics.median(xs) for name, xs in ctx.layer.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        ctx.tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace_{args.workload}_{args.seed}.json"), layers)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            layer_units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        # layers a workload never calls read 0
        metrics = {name: (layers.get(name, 0.0), unit) for name, unit in layer_units.items()}
    print(
        f"# {args.workload} seed={args.seed} local[{cpus()}] samples={len(times)} "
        f"attempted={attempted} failed={failed} fail_frac={failed / attempted:.4f} "
        f"op_p50_s={statistics.median(times):.4f} rows_per_s={rows / wall:.1f} "
        f"setups={[round(s, 3) for s in setups]} setup_cpu={[round(s, 3) for s in setup_cpu]} times={[round(t, 3) for t in times]} "
        f"op_cpu={[round(c, 2) for c in cpu]} heap_after_gc_mb={heap:.0f} python_rss_mb={py_rss:.0f} "
        f"phases_s={ {k: round(v, 1) for k, v in phases.items()} } host_steal={steal:.3f}",
        flush=True,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    t_start = process_start()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["claims_score", "dupcharge_stream", "graph_risk"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="smallest inputs, one set-up, two ops: the smoke test")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"run.py: no {PKG} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args.scratch = os.path.join(ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}")
    os.makedirs(args.scratch)
    cwd = os.getcwd()
    from workloads import WORKLOADS

    configure(args.scratch, WORKLOADS[args.workload].JVM_OPTS)
    try:
        result = run(args, t_start)
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(args.scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
