"""sparkcheck benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {suite,resume,dedup} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The run generates the seeded inputs (timed
apart as gen_s), starts Spark at local[<cpus>] through
sparkcheck.session.get_spark, binds the inputs, runs the workload's fixed
warm-up, then runs ops back to back, at least MIN_OPS, until S seconds of
op time have passed.
Every op's outputs are checked; an op that raises or fails its check counts
as failed.

--trace 0 reports the end-to-end metrics. --trace 1 switches Spark's event
log on (from outside the program, via PYSPARK_SUBMIT_ARGS), runs the ops
split into per-layer spans, and reports the per-layer metrics; the full
span table goes to stdout before the JSON line.

Everything the run writes goes under .perfbench_work/ in the current
directory, and is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

MIN_OPS = 2           # timed ops a run makes at least: the time limit of all
                      # runs allows two ops of either workload, and a fixed
                      # count keeps a fast JVM from timing a third, more
                      # warmed op
HEAP = "2g"           # driver heap; get_spark's 16g default overcommits a
                      # 16 GB machine (the kernel OOM-killed it in dedup)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("suite", "resume", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def set_env(work: str, trace: bool) -> str:
    """Keep Spark's and Python's scratch files inside `work`; switch the
    event log on for a traced run. Returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    # Python workers import sparkcheck from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p)
    # passed after get_spark's own --conf flags, so these win
    args = [f"--driver-memory {HEAP}", f"--driver-java-options -Xms{HEAP}",
            "--conf spark.ui.showConsoleProgress=false"]
    logdir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(logdir)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{logdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return logdir


def proc_tree(root: int) -> list[int]:
    """`root` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus its Python
    workers."""
    kb = 0
    for pid in proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def steal_s() -> float:
    """CPU time the host took from the machine's CPUs (all CPUs, from
    /proc/stat): the time other tenants of the host cost a run."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


STEAL0 = steal_s()  # at process start, like T0


def run_ops(w, seconds: float, op, label: str, after=None,
            min_ops: int = MIN_OPS):
    """Closed loop: ops back to back, at least `min_ops`, until `seconds`
    of op time; `after` runs untimed after each op. Returns (op times,
    failed ops)."""
    times, failed = [], 0
    while len(times) < min_ops or sum(times) < seconds:
        w.before_op()
        stolen = steal_s()
        t = time.perf_counter()
        try:
            out = op()
            dt = time.perf_counter() - t
            ok = w.check(out)
        except Exception:
            dt = time.perf_counter() - t
            traceback.print_exc()
            ok = False
        times.append(dt)
        failed += not ok
        log(f"{label} op: {dt:.3f}s, host took "
            f"{steal_s() - stolen:.2f} CPU-s" + ("" if ok else " FAILED"))
        if after:
            after()
    return times, failed


def warm_up(w) -> None:
    """The workload's fixed warm-up: `w.warm_ops` checked ops. The first op
    of a JVM pays class loading, Python worker start-up and code generation,
    2-3x a later op; binding the resume input runs the program once, which
    takes its place. Every run then times the same op of its JVM."""
    for i in range(w.warm_ops):
        w.before_op()
        t = time.perf_counter()
        ok = w.check(w.op())
        log(f"warm-up op {i + 1}: {time.perf_counter() - t:.3f}s"
            + ("" if ok else " FAILED"))


def trace_also(w, spark, tracer, ops: int) -> bool:
    """Layers whose workload is not in BENCHMARK.json: bind `w` in this
    run's JVM, warm it up, then run `ops` traced ops (as many as the run's
    own workload ran, so per-op figures share one divisor). True if every
    output checked."""
    w.generate()
    w.bind(spark)
    warm_up(w)
    ok = True
    for _ in range(ops):
        w.before_op()
        ok &= w.check(w.traced_op(tracer))
        w.isolated(tracer)
    return ok & w.final_check()


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        logdir = set_env(work, bool(args.trace))
        sys.path[:0] = [root, HERE]
        try:
            import spans
            import workloads
            from eventlog import group_totals
            from sparkcheck.session import get_spark
        except ImportError as e:
            log(f"cannot import the program or the benchmark: {e}")
            return 2
        rc = measure(args, work, logdir, spans, workloads, group_totals,
                     get_spark)
    finally:
        shutil.rmtree(os.path.join(root, ".perfbench_work"),
                      ignore_errors=True)
    return rc


def measure(args, work, logdir, spans, workloads, group_totals,
            get_spark) -> int:
    """One run: set-up, timed ops, checks; prints the metrics."""
    w = workloads.WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(cores=len(os.sched_getaffinity(0)),
                      app=f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        w.bind(spark)
        warm_up(w)
        setup_s = time.perf_counter() - T0 - gen_s
        tracer = spans.Tracer(spark.sparkContext) if args.trace else None
        # a traced run times one op: it also binds and traces dedup, and
        # must end within a run's time limit
        if tracer:
            times, failed = run_ops(
                w, 0, lambda: w.traced_op(tracer), "traced",
                after=lambda: w.isolated(tracer), min_ops=1)
        else:
            times, failed = run_ops(w, args.seconds, w.op, "timed")
        steal = steal_s() - STEAL0
        log(f"run: {time.perf_counter() - T0:.3f}s, "
            f"host took {steal:.2f} CPU-s")
        ok = w.final_check()
        if tracer:
            for name in w.traced_with:
                ok &= trace_also(workloads.WORKLOADS[name](
                    os.path.join(work, name), args.seed), spark, tracer,
                    len(times))
        if not ok:
            log("final check failed: every op counts as failed")
            failed = len(times)
        jvm = spark.sparkContext._gateway.proc.pid
        rss = peak_rss_mb(jvm)
    finally:
        stop_spark(spark)

    docs_per_s = w.docs * len(times) / sum(times)
    op_p50 = statistics.median(times)
    print(f"workload {args.workload} seed {args.seed}: {len(times)} ops "
          f"of {w.docs} docs after {w.warm_ops} warm-up ops; "
          f"gen_s {gen_s:.3f} s; get_spark {get_spark_s:.3f} s")
    print(f"op_fail_ratio {failed / len(times):.4f} ratio")
    print(f"host_steal_s {steal:.2f} s")
    if getattr(w, "out_bytes", None):
        print(f"out_bytes_per_doc "
              f"{statistics.median(w.out_bytes) / w.docs:.4f} bytes")
    if tracer:
        totals = group_totals(logdir)
        tracer.wall["session.get_spark"] = get_spark_s
        counts = dict(tracer.counts)
        counts["dedup.cc_jobs"] = totals.get(
            "dedup.connected_components", {}).get("jobs", 0)
        counts["trace.docs_per_s"] = docs_per_s
        counts["trace.op_s_p50"] = op_p50
        counts["trace.ops"] = len(times)
        table = spans.layer_table(tracer, totals, len(times))
        print("span " + " ".join(spans.ALL))
        for span, row in table.items():
            print(span + " " + " ".join(f"{row[f]:.6g}" for f in spans.ALL))
        metrics = spans.per_layer_metrics(table, counts, len(times))
    else:
        metrics = {
            "docs_per_s": {"value": docs_per_s, "unit": "1/s"},
            "op_s_p50": {"value": op_p50, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(times),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
