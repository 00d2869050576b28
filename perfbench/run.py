"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline-schedule --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of this repository. The run pins its
configuration (cores from ``nproc``, a JVM heap that fits the host,
Spark local dirs, temp files and stores under ``.perfbench_work/``),
generates its inputs from ``--seed``, warms up, then runs closed-loop ops
for about ``--seconds`` seconds (as many whole rounds as fit, at least
one) and checks every output. The last stdout line is the result JSON:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones from spans, the streaming progress and Spark's event log.
The line before it is the run's configuration record.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "2g"


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of everything it starts, directly or
    not: a process whose parent exits (PySpark's worker daemon when the
    JVM goes first) is re-parented here rather than to init, so
    ``stop_descendants`` finds it and waits for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The JVM exits on its own when its stdin closes; whatever is still
    running ``grace`` seconds later gets SIGTERM, then SIGKILL 5 s on."""
    import signal

    from perfbench.trace import proc_tree

    context = sys.modules.get("pyspark.core.context")
    gateway = getattr(getattr(context, "SparkContext", None), "_gateway", None)
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        # Disconnect first, so Python objects freed after the JVM is gone
        # send it nothing.
        gateway.shutdown()
    if jvm is not None and jvm.stdin is not None:
        jvm.stdin.close()
    deadline, signals = time.monotonic() + grace, [signal.SIGTERM, signal.SIGKILL]
    while True:
        while True:  # reap every exited child, orphans adopted included
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        pids = list(proc_tree(os.getpid(), include_root=False))
        if not pids:
            return
        if time.monotonic() > deadline:
            if not signals:
                print(f"perfbench: processes {pids} did not end", file=sys.stderr)
                return
            sig = signals.pop(0)
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def process_start_time() -> float:
    """Epoch seconds at which this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores:
    a high value during the window marks a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """sha256 of the engine's and the benchmark's sources: identifies the
    code measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    files = []
    for d in ("etl_neptune_spark", "perfbench"):
        files += glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)
    for p in sorted(files) + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Environment read by the engine's session factory and by Spark."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def session_conf(work: str, env: dict[str, str]) -> dict[str, str]:
    """Spark settings every benchmark session adds to the engine's own."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Keep the JVM's temp files (native libraries it unpacks) inside
        # the run directory, write no /tmp/hsperfdata file, and keep every
        # JIT compiler thread alive so their CPU stays measurable.
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
    }


def saved_record(path: str) -> dict | None:
    """The saved untraced record at ``path`` if it measured the current
    sources, else None."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        record = json.load(f)
    return record if record["config"]["source_digest"] == source_digest() else None


def untraced_wall(args) -> float | None:
    """``wall_s`` of an untraced run of the same sources, workload and
    length: the saved record of the same seed; else the median of the
    saved records of other seeds, whose inputs are the same size; else
    None, and the traced run measures an untraced round itself."""
    path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-s{args.seconds:g}.json")
    walls = {}
    for p in glob.glob(os.path.join(OUT, f"{args.workload}-seed*-s{args.seconds:g}.json")):
        record = saved_record(p)
        if record is not None:
            walls[p] = record["config"]["wall_s"]
    if path in walls:
        return walls[path]
    return statistics.median(walls.values()) if walls else None


def main(argv=None) -> int:
    proc_start = process_start_time()
    sys.path.insert(0, ROOT)
    adopt_orphans()
    try:
        return measure(argv, proc_start)
    finally:
        stop_descendants()


def measure(argv, proc_start: float) -> int:
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "etl_neptune_spark"))):
        print("perfbench: the engine sources (etl_neptune_spark/, __spark_entry__.py) are "
              f"not in {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    args = parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    try:
        env = pin_environment(work)
        record = run(args, work, env, proc_start, untraced_wall(args) if args.trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        tag = f"pbq{args.seed}x{os.getpid()}"
        for d in glob.glob(os.path.join(ROOT, "spark-warehouse", f"*_{tag}")):
            shutil.rmtree(d, ignore_errors=True)

    result = record["result"]
    if args.trace:
        overhead = record["config"]["wall_s"] - record["config"]["untraced_wall_s"]
        result["metrics"]["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    else:
        name = f"{args.workload}-seed{args.seed}-s{args.seconds:g}.json"
        with open(os.path.join(OUT, name), "w") as f:
            json.dump(record, f, indent=1)
    print(json.dumps(record["config"]))
    print(json.dumps(result))
    return 0


def tally(ops, final_ok: bool) -> int:
    """Failed ops: each op whose own check failed, or every op when the
    final-state check fails (the final state carries every op's output)."""
    return len(ops) if not final_ok else sum(not o.ok for o in ops)


def run(args, work: str, env: dict[str, str], proc_start: float,
        untraced: float | None) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, Context

    load_start = os.getloadavg()
    extra = session_conf(work, env)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })

    with tr.RssSampler() as rss:
        t0 = time.time()
        from etl_neptune_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.time() - t0
        try:
            tracer = tr.Tracer() if args.trace else None
            if tracer is not None:
                import __spark_entry__

                __spark_entry__.queries()  # import every plan module first
                tracer.install()
            workload = WORKLOADS[args.workload](Context(spark, work, args.seed, tracer))
            workload.setup()
            if tracer is not None:
                if untraced is None:
                    # No saved untraced run to compare with: time one
                    # round with the wrappers passing straight through.
                    tracer.enabled = False
                    ref = [workload.op() for _ in range(workload.round_size)]
                    untraced = workload.per_round(ref, "latency")
                    tracer.enabled = True
                tracer.spans.clear()
            gc0 = tr.jvm_gc_seconds(spark)
            steal0 = steal_seconds()
            window_start = time.time()
            setup_s = window_start - proc_start
            ops = []
            # Whole rounds, as many as fit in the window (at least one):
            # the next round starts only if a round as long as the last
            # one still ends inside it.
            deadline = window_start + args.seconds
            while True:
                t = time.time()
                for _ in range(workload.round_size):
                    ops.append(workload.op())
                now = time.time()
                if now + (now - t) > deadline:
                    break
            window_end = time.time()
            gc_s = tr.jvm_gc_seconds(spark) - gc0
            steal_s = steal_seconds() - steal0
            final_ok = workload.final_check()
            config = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "commit": commit(), "source_digest": source_digest(),
                "spark": spark.version,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
                "cpus": env["SPARK_GRAFT_CPUS"], "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
                "local_dirs": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
                "load_avg_start": load_start,
            }
        finally:
            if tracer is not None:
                tracer.uninstall()
            spark.stop()
    config["load_avg_end"] = os.getloadavg()
    config["ops"] = len(ops)
    config["window_gc_s"] = gc_s
    config["window_steal_s"] = steal_s
    config["op_samples"] = [[o.key, round(o.latency, 4), round(o.cpu, 2), round(o.jit, 2),
                             o.jobs, o.ok] for o in ops]
    # Latencies and CPU are recorded, not bounded: on a shared host they
    # follow the CPU the hypervisor takes from the run (see README).
    config["op_p50_s"] = statistics.median(o.latency for o in ops)
    config["wall_s"] = workload.per_round(ops, "latency")
    config["cpu_s"] = workload.per_round(ops, "cpu")
    config["jit_s"] = workload.per_round(ops, "jit")
    if args.trace:
        config["untraced_wall_s"] = untraced

    failed = tally(ops, final_ok)
    if args.trace:
        metrics = layer_metrics(tracer, ops, log_dir, (window_start, window_end),
                                session_start_s, gc_s)
        metrics["process.peak_rss_mb"] = (rss.peak / 2**20, "MB")
        tracer.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "spark_jobs": (workload.per_round(ops, "jobs"), "count"),
        }
    config["peak_rss_mb"] = rss.peak / 2**20
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"config": config, "result": result}


def layer_metrics(tracer, ops, log_dir, window, session_start_s, gc_s) -> dict:
    """Per-layer metrics, per timed op unless the unit says otherwise."""
    from perfbench import trace as tr

    n = len(ops)
    totals, jobs = tr.read_event_log(log_dir, window)
    tracer.attribute_jobs(jobs)
    roots = {"op"}
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def outermost(prefix):
        """Spans named ``prefix``/``prefix.*`` with no ancestor of the
        same family."""
        out = []
        for s in spans:
            if not (s.name == prefix or s.name.startswith(prefix + ".")):
                continue
            p = by_id.get(s.parent) if s.parent is not None else None
            while p is not None and not (p.name == prefix or p.name.startswith(prefix + ".")):
                p = by_id.get(p.parent) if p.parent is not None else None
            if p is None:
                out.append(s)
        return out

    def dur(ss):
        return sum(s.end - s.start for s in ss)

    m = {"session.start_s": (session_start_s, "s")}
    src = outermost("sources")
    m["sources.calls"] = (len(src) / n, "count/op")
    m["sources.load_s"] = (dur(src) / n, "s/op")
    build = [s for s in spans if s.name == "plans.build"]
    runs = [s for s in spans if s.name == "plans.run"]
    bj, rj = tracer.jobs_under("plans.build", roots), tracer.jobs_under("plans.run", roots)
    m["plans.build_s"] = (dur(build) / n, "s/op")
    m["plans.build_jobs"] = (bj / n, "count/op")
    m["plans.run_s"] = (dur(runs) / n, "s/op")
    m["plans.run_jobs"] = (rj / n, "count/op")
    m["plans.build_job_share"] = (bj / (bj + rj) if bj + rj else 0.0, "ratio")
    opers = outermost("operators")
    m["operators.calls"] = (len(opers) / n, "count/op")
    m["operators.build_s"] = (dur(opers) / n, "s/op")
    m["operators.build_jobs"] = (tracer.jobs_under("operators", roots) / n, "count/op")

    aws = [s for s in spans if s.name == "pipelines.aws"]
    kids = tracer.children()
    write_s = stats_s = 0.0
    for s in aws:
        writes = [c for c in kids.get(s.id, []) if c.name == "streaming.store.write"]
        write_s += dur(writes)
        if writes:
            stats_s += s.end - max(c.end for c in writes)
    m["pipelines.aws.jobs"] = (tracer.jobs_under("pipelines.aws", roots) / n, "count/op")
    m["pipelines.aws.write_s"] = (write_s / n, "s/op")
    m["pipelines.aws.stats_s"] = (stats_s / n, "s/op")

    progress = [p for o in ops for p in o.progress]
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    m["streaming.batches"] = (len(batches) / n, "count/op")
    m["streaming.input_rows"] = (sum(p["numInputRows"] for p in progress) / n, "count/op")
    for phase in ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning",
                  "getBatch"):
        total = sum(p.get("durationMs", {}).get(phase, 0) for p in progress)
        m[f"streaming.{phase}_ms"] = (total / n, "ms/op")
    trigger = sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in progress) / 1e3
    stream_ops = [o for o in ops if o.progress]
    start_stop = sum(o.latency for o in stream_ops) - trigger if stream_ops else 0.0
    m["streaming.start_stop_s"] = (start_stop / n, "s/op")

    reads = [s for s in spans if s.name == "streaming.store.read"]
    writes = [s for s in spans if s.name in ("streaming.store.write", "streaming.store.append_delta",
                                             "streaming.store.compact")]
    m["streaming.store.read_calls"] = (len(reads) / n, "count/op")
    m["streaming.store.read_s"] = (dur(reads) / n, "s/op")
    m["streaming.store.write_calls"] = (len(writes) / n, "count/op")
    m["streaming.store.write_s"] = (dur(writes) / n, "s/op")
    written = sum(o.bytes_written for o in ops)
    inputs = sum(o.input_bytes for o in ops)
    m["streaming.store.bytes_written"] = (written / n, "B/op")
    m["streaming.store.files_written"] = (sum(o.files_written for o in ops) / n, "count/op")
    m["streaming.store.bytes_written_per_input_byte"] = (written / inputs if inputs else 0.0, "ratio")
    changed = sum(o.rows_changed for o in ops)
    m["streaming.store.rows_written_per_changed_row"] = (
        sum(o.rows_written for o in ops) / changed if changed else 0.0, "ratio")

    for k in ("jobs", "stages", "tasks", "failed_tasks", "retried_stages"):
        m[f"spark.{k}"] = (totals[k] / n, "count/op")
    for k in ("task_wait_s", "executor_run_s", "executor_cpu_s", "python_total_s",
              "python_boot_s", "python_init_s"):
        m[f"spark.{k}"] = (totals[k] / n, "s/op")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
              "python_bytes_sent", "python_bytes_received"):
        m[f"spark.{k}"] = (totals[k] / n, "B/op")
    m["spark.jvm_gc_s"] = (gc_s / n, "s/op")
    m["spark.jvm_jit_cpu_s"] = (sum(o.jit for o in ops) / n, "s/op")

    self_s = tracer.self_times(roots)
    for layer, v in self_s.items():
        m[f"self.{layer}_s"] = (v / n, "s/op")
    op_wall = dur([s for s in spans if s.name in roots])
    m["trace.op_wall_s"] = (op_wall / n, "s/op")
    m["trace.reconcile_gap_s"] = (abs(op_wall - sum(self_s.values())) / n, "s/op")
    return m


if __name__ == "__main__":
    raise SystemExit(main())
