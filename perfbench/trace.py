"""Spans around the engine's public calls, Spark event-log totals, and
a process-tree RSS sampler.

The tracer patches names from the benchmark's side only: every module
attribute under ``etl_neptune_spark`` that is bound to one of the traced
functions is replaced by a wrapper (so ``pipelines.aws.merge_keyed`` and
``streaming.pipeline.merge_keyed`` are both covered), and the
``GraphStore`` methods are wrapped on the class. Nothing in the engine
changes. Spans stay in memory and are written once at exit.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# Public entry points per layer: (module, attribute) -> span name.
TRACED_FUNCTIONS = {
    ("etl_neptune_spark.sources.tables", "load_table"): "sources.load_table",
    ("etl_neptune_spark.sources.tables", "load_events_lookback"): "sources.load_events_lookback",
    ("etl_neptune_spark.sources.tables", "max_ts_micros"): "sources.max_ts_micros",
    ("etl_neptune_spark.operators.merge", "merge_keyed"): "operators.merge_keyed",
    ("etl_neptune_spark.operators.gc", "gc_keep"): "operators.gc_keep",
    ("etl_neptune_spark.operators.degrees", "degree_metrics"): "operators.degree_metrics",
    ("etl_neptune_spark.operators.components", "connected_components"): "operators.connected_components",
    ("etl_neptune_spark.operators.dedup", "minhash_lsh_pairs"): "operators.minhash_lsh_pairs",
    ("etl_neptune_spark.operators.dedup", "jaccard_prefix_pairs"): "operators.jaccard_prefix_pairs",
    **{
        ("etl_neptune_spark.operators.similarity", f): f"operators.{f}"
        for f in (
            "cosine_neardup_pairs", "semantic_dedup", "brute_force_topk", "lsh_topk",
            "ivf_topk", "ivf_build", "ivf_append", "ivf_query_persisted", "ivfpq_topk",
            "mmr_rerank",
        )
    },
    ("etl_neptune_spark.pipelines.aws", "run_aws_snapshot_etl"): "pipelines.aws",
    ("etl_neptune_spark.streaming.pipeline", "run_deepflow_stream"): "streaming.run",
}
STORE_METHODS = ("read", "write", "append_delta", "compact")

# Layer of a span: the longest matching prefix of its name.
LAYERS = ("plans", "sources", "operators", "pipelines", "streaming.store", "streaming")


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "root"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int
    end: float = 0.0
    depth: int = 0
    jobs: list = field(default_factory=list)


class Tracer:
    """Nested spans per thread. A thread with no open span of its own
    (for example the py4j thread that runs ``foreachBatch`` while the
    main thread waits in ``run_deepflow_stream``) parents its spans to
    the most recently opened span that is still open."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = True

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            s = Span(len(self.spans), name, time.time(),
                     None if parent is None else parent.id,
                     len(self.spans) if parent is None else parent.op,
                     depth=0 if parent is None else parent.depth + 1)
            self.spans.append(s)
            self._open.append(s)
        stack.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        with self._lock:
            self._open.remove(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            s = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        return traced

    def install(self) -> None:
        """Patch every binding of the traced functions and the
        ``GraphStore`` methods. Call after the plan modules are imported."""
        import importlib

        targets = {}
        for (mod, attr), name in TRACED_FUNCTIONS.items():
            fn = getattr(importlib.import_module(mod), attr)
            targets[id(fn)] = (fn, self.wrap(name, fn))
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("etl_neptune_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, hit[1])
        from etl_neptune_spark.streaming.store import GraphStore

        for meth in STORE_METHODS:
            fn = getattr(GraphStore, meth)
            self._patched.append((GraphStore, meth, fn))
            setattr(GraphStore, meth, self.wrap(f"streaming.store.{meth}", fn))

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._patched):
            setattr(obj, attr, val)
        self._patched.clear()

    # ------------------------------------------------------------ analysis

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self, op_names: set[str]) -> dict[str, float]:
        """Self time per layer over the spans of timed ops; ``root`` is
        the part of each op's wall no child span covers. By construction
        the values sum to the summed wall of the ops."""
        kids = self.children()
        out = {layer: 0.0 for layer in ("root", *LAYERS)}

        def visit(s: Span) -> None:
            covered = _union_len([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
            out[layer_of(s.name)] += (s.end - s.start) - covered
            for c in kids.get(s.id, []):
                visit(c)

        for s in self.spans:
            if s.parent is None and s.name in op_names:
                visit(s)
        return out

    def attribute_jobs(self, jobs: list[tuple[int, float]]) -> None:
        """Attach each (job id, submit time) to the deepest span open at
        its submission; a job counts toward that span's ancestors too."""
        ordered = sorted(self.spans, key=lambda s: s.start)
        for jid, t in jobs:
            best = None
            for s in ordered:
                if s.start > t:
                    break
                if s.end >= t and (best is None or s.depth >= best.depth):
                    best = s
            if best is not None:
                best.jobs.append(jid)

    def jobs_under(self, prefix: str, op_names: set[str]) -> int:
        """Jobs submitted inside any span whose name starts with
        ``prefix`` (each job counted once), within timed ops."""
        by_id = {s.id: s for s in self.spans}
        n = 0
        for s in self.spans:
            for _ in s.jobs:
                chain, cur = [], s
                while cur is not None:
                    chain.append(cur)
                    cur = by_id.get(cur.parent) if cur.parent is not None else None
                if chain[-1].name not in op_names:
                    continue
                if any(c.name == prefix or c.name.startswith(prefix + ".") for c in chain):
                    n += 1
        return n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "jobs": s.jobs,
                }) + "\n")


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- event log

_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def read_event_log(log_dir: str, window: tuple[float, float]) -> tuple[dict, list]:
    """Totals of the jobs submitted inside ``window`` (epoch seconds),
    and the (job id, submit time) list for span attribution."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>,
    # read in order of <n> so every job start precedes its tasks.
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    tot = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "task_wait_s", "executor_run_s", "executor_cpu_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
        "failed_tasks", "retried_stages", *_PY_METRICS.values(),
    )}
    jobs: list[tuple[int, float]] = []
    in_window: set[int] = set()
    lo, hi = window
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    if lo <= t <= hi:
                        jobs.append((ev["Job ID"], t))
                        tot["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            in_window.add(sid)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in in_window and info.get("Stage Attempt ID", 0) > 0:
                        tot["retried_stages"] += 1
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in in_window:
                        tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] not in in_window:
                        continue
                    _task_totals(ev, tot)
    return tot, jobs


def _task_totals(ev: dict, tot: dict) -> None:
    tot["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        tot["failed_tasks"] += 1
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    tot["executor_run_s"] += run_ms / 1e3
    tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (run_ms + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0))
    getting = info.get("Getting Result Time", 0) or 0
    if getting:
        getting = info.get("Finish Time", 0) - getting
    tot["task_wait_s"] += max(0, duration_ms - overhead - getting) / 1e3
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    tot["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables", []):
        key = _PY_METRICS.get(acc.get("Name"))
        if key is None:
            continue
        v = float(acc.get("Update") or 0)
        # The Python timing metrics are recorded in milliseconds.
        tot[key] += v / 1e3 if key.endswith("_s") else v


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1e3


# ------------------------------------------------------------------- RSS


def proc_tree(root_pid: int, include_root: bool) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name), by pid, of
    every descendant of ``root_pid``, and of ``root_pid`` itself if asked."""
    stats: dict[int, list[str]] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(d)] = fields
        kids.setdefault(int(fields[1]), []).append(int(d))
    out = {root_pid: stats[root_pid]} if include_root and root_pid in stats else {}
    frontier = [root_pid]
    while frontier:
        for child in kids.get(frontier.pop(), []):
            if child in stats:
                out[child] = stats[child]
            frontier.append(child)
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of every descendant of ``root_pid`` (not itself)."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in proc_tree(root_pid, include_root=False).values())


# The JVM's JIT compiler and code-cache sweeper threads (names as the
# kernel truncates them). The session runs with a fixed set of compiler
# threads (-XX:-UseDynamicNumberOfCompilerThreads), so none exits and
# takes its CPU out of the per-thread view.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


class TreeCpu:
    """CPU seconds (user + system) used so far by this process and its
    descendants, and the JIT share of them.

    Each CPU second is counted once: in a live process, in its parent's
    children totals once reaped, or, for a process that exits unreaped
    into any parent's totals (PySpark's worker daemon ignores SIGCHLD, so
    the CPU of the idle workers it retires would vanish), at its last
    sampled value. ``sample()`` returns ``(total, jit)``; ``jit`` is the
    CPU of the JIT threads, background work that lands in whichever op
    happens to be running."""

    def __init__(self) -> None:
        self.exited = 0.0
        self.last: dict[int, tuple[int, str, float, float]] = {}

    def sample(self) -> tuple[float, float]:
        tick = os.sysconf("SC_CLK_TCK")
        now = {
            pid: (int(f[1]), f[19], (int(f[11]) + int(f[12])) / tick,
                  (int(f[13]) + int(f[14])) / tick)
            for pid, f in proc_tree(os.getpid(), include_root=True).items()
        }
        for pid, (ppid, start, own, _) in self.last.items():
            if pid in now and now[pid][1] == start:
                continue
            parent, before = now.get(ppid), self.last.get(ppid)
            if not (parent and before and parent[3] - before[3] >= own - 1 / tick):
                self.exited += own
        self.last = now
        total = self.exited + sum(own + kids for _, _, own, kids in now.values())
        jit = 0
        for pid in now:
            for path in glob.glob(f"/proc/{pid}/task/*/stat"):
                try:
                    with open(path) as f:
                        stat = f.read()
                except OSError:
                    continue
                if stat[stat.index("(") + 1:stat.rfind(")")] in JIT_THREADS:
                    fields = stat[stat.rfind(")") + 2:].split()
                    jit += int(fields[11]) + int(fields[12])
        return total, jit / tick


cpu_clock = TreeCpu()


class RssSampler:
    """Background thread recording the peak RSS of the JVM and its
    Python workers (every descendant of this process)."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
