"""The closed-loop workloads: one client, the next op starts when the
previous one returns.

Each workload exposes ``setup()`` (warm-up ops, untimed), ``op()`` (one
timed op plus its output check, timed around the engine call only),
``round_size`` (ops per complete result) and ``final_check()``. Ops drive the engine only through its public entry
points: ``run_deepflow_stream``, ``run_aws_snapshot_etl`` and the plan
registry in ``__spark_entry__``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import gen
from .trace import cpu_clock


@dataclass
class Op:
    latency: float
    ok: bool
    cpu: float = 0.0
    key: str = ""
    kind: str = ""
    input_bytes: int = 0
    bytes_written: int = 0
    files_written: int = 0
    rows_written: int = 0
    rows_changed: int = 0
    progress: list = field(default_factory=list)
    jit: float = 0.0
    jobs: int = 0


class Context:
    """What a workload needs from the runner: the session, a scratch
    directory inside the checkout, the seed, and the tracer (or None)."""

    def __init__(self, spark, work: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return _SpanCtx(self.tracer, name)


def spark_jobs(spark) -> int:
    """Spark jobs submitted so far in the session, by any thread (the
    scheduler's job id counter; reading it submits nothing)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


class Timer:
    """Wall seconds, Spark jobs and process-tree CPU seconds of the
    block: ``cpu`` without and ``jit`` with only the JVM's JIT threads.
    The samples sit outside the wall clock, so sampling is not timed."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def __enter__(self) -> Timer:
        self.jobs = spark_jobs(self.spark)
        self.cpu, self.jit = cpu_clock.sample()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.latency = time.perf_counter() - self.t0
        total, jit = cpu_clock.sample()
        self.jit = jit - self.jit
        self.cpu = total - self.cpu - self.jit
        self.jobs = spark_jobs(self.spark) - self.jobs


class _SpanCtx:
    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.s = self.tracer.begin(self.name)

    def __exit__(self, *exc):
        self.tracer.end(self.s)


def _dir_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _snapshot(store, table: str) -> str | None:
    v = store.latest_version(table)
    return None if v is None else os.path.join(store.root, table, f"v={v}")


def _read_dir(path: str | None) -> pd.DataFrame:
    files = _dir_files(path) if path else []
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _micros(s: pd.Series) -> np.ndarray:
    """Timestamps (any unit, naive or UTC) as epoch microseconds."""
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64").to_numpy()


def _written(store, tables: tuple[str, ...]) -> tuple[int, int]:
    files = [f for t in tables for f in _dir_files(_snapshot(store, t) or "")]
    return sum(os.path.getsize(f) for f in files), len(files)


def _changed_rows(store, table: str) -> tuple[int, int]:
    """(rows in the latest version, rows not present verbatim in the
    previous one) — the useful share of a full-snapshot rewrite."""
    versions = store.versions(table)
    new = _read_dir(_snapshot(store, table))
    if len(versions) < 2 or new.empty:
        return len(new), len(new)
    old = _read_dir(os.path.join(store.root, table, f"v={versions[-2]}"))
    cols = sorted(new.columns)
    a = new[cols].astype(str).agg("|".join, axis=1)
    b = set(old.reindex(columns=cols).astype(str).agg("|".join, axis=1)) if not old.empty else set()
    return len(new), int((~a.isin(b)).sum())


class Workload:
    """Shared shape: ``round_size`` ops make one complete result. A
    per-round figure sums, over the kinds of op in a round, each kind's
    median times its ops per round, so one slow op does not move it."""

    round_size = 1

    def per_round(self, ops: list[Op], attr: str) -> float:
        """``attr`` (``latency``, ``cpu``, ``jit`` or ``jobs``) of one round."""
        rounds = len(ops) / self.round_size
        by_kind: dict[str, list[float]] = {}
        for o in ops:
            by_kind.setdefault(o.kind, []).append(getattr(o, attr))
        return sum(statistics.median(v) * len(v) / rounds for v in by_kind.values())


# ---------------------------------------------------------- deepflow ticks


class DeepflowTicks:
    """Scheduled deepflow runs: each op drops the next 5-minute tick file
    into the watched directory and runs ``run_deepflow_stream`` with
    ``availableNow`` (one micro-batch: merge nodes and edges, TTL GC,
    degree metrics, snapshot publish)."""

    def __init__(self, ctx: Context) -> None:
        from etl_neptune_spark.streaming import pipeline
        from etl_neptune_spark.streaming.store import GraphStore

        self.ctx = ctx
        self.pipeline = pipeline
        self.store = GraphStore(os.path.join(ctx.work, "df_store"))
        self.events = os.path.join(ctx.work, "df_events")
        self.staging = os.path.join(ctx.work, "df_staging")
        self.tick = 0
        self.inputs: list[str] = []
        os.makedirs(self.events)

    def op(self) -> Op:
        name = f"tick-{self.tick:05d}.parquet"
        staged = os.path.join(self.staging, name)
        nbytes = gen.write_tick(self.ctx.seed, self.tick, staged)
        placed = os.path.join(self.events, name)
        q = None
        with self.ctx.span("op"), Timer(self.ctx.spark) as t:
            os.rename(staged, placed)
            try:
                q = self.pipeline.run_deepflow_stream(self.ctx.spark, self.events, self.store)
            except Exception:  # noqa: BLE001 - a raising op is a failed op
                pass
        self.inputs.append(placed)
        progress = list(q.recentProgress) if q is not None else []
        ok = (
            q is not None
            and not q.isActive
            and q.exception() is None
            and [p["batchId"] for p in progress] == [self.tick]
            and self.store.latest_version("nodes") == self.tick
            and self.store.latest_version("edges") == self.tick
        )
        written, files = _written(self.store, ("nodes", "edges"))
        op = Op(t.latency, ok, t.cpu, name, "tick", nbytes, written, files, progress=progress,
                jit=t.jit, jobs=t.jobs)
        if self.ctx.tracer is not None:
            for table in ("nodes", "edges"):
                rows, changed = _changed_rows(self.store, table)
                op.rows_written += rows
                op.rows_changed += changed
        self.tick += 1
        return op

    def final_check(self) -> bool:
        """The final store equals a pandas recompute from the tick files."""
        exp_nodes, exp_edges = deepflow_expected(self.inputs)
        nodes = _read_dir(_snapshot(self.store, "nodes"))
        edges = _read_dir(_snapshot(self.store, "edges"))
        return _frames_equal(nodes, exp_nodes, ["name"]) and _frames_equal(
            edges, exp_edges, ["src", "dst", "protocol"]
        )


def deepflow_expected(files: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Independent recompute of the deepflow store after one batch per
    file: last-write-wins edge metrics, node first/last seen, degree
    metrics over the merged edges."""
    from etl_neptune_spark.plans.flow import DST_MOD, SRC_MOD
    from etl_neptune_spark.streaming.pipeline import ERROR_THRESHOLD

    edges: dict[tuple, dict] = {}
    nodes: dict[str, dict] = {}
    for f in files:
        ev = pq.read_table(f).to_pandas()
        ev = ev[ev["value"] > 0]
        df = pd.DataFrame(
            {
                "src": ev["user_id"].to_numpy() % SRC_MOD,
                "dst": ev["props"].str.extract(r'"k": ([0-9]+)')[0].astype("int64").to_numpy() % DST_MOD,
                "protocol": ev["event_type"].to_numpy(),
                "cents": np.round(ev["value"].to_numpy() * 100).astype("int64"),
                "err": (ev["value"] >= ERROR_THRESHOLD).to_numpy(),
                "ts": _micros(ev["ts"]),
            }
        )
        df = df[df["src"] != df["dst"]]
        for key, g in df.groupby(["src", "dst", "protocol"]):
            n, total = len(g), int(g["cents"].sum())
            edges[key] = {
                "calls": n,
                # dec_avg: half-up mean to 4 decimals in exact integers.
                "avg_duration_ms": ((total * 200 + n) // (2 * n)) / 10_000.0,
                "error_count": int(g["err"].sum()),
                "last_seen": int(g["ts"].max()),
                "active": True,
            }
        seen = pd.concat([df[["src", "ts"]].rename(columns={"src": "n"}),
                          df[["dst", "ts"]].rename(columns={"dst": "n"})])
        for n, ts in seen.groupby("n")["ts"].max().items():
            node = nodes.setdefault(str(n), {"created_at": int(ts)})
            node["last_seen"] = int(ts)
    e = pd.DataFrame([{"src": k[0], "dst": k[1], "protocol": k[2], **v} for k, v in edges.items()])
    out_deg = e.groupby("src").agg(out_degree=("calls", "size"), out_weight=("calls", "sum"))
    in_deg = e.groupby("dst").size().rename("in_degree")
    rows = []
    for name, v in nodes.items():
        k = int(name)
        o = out_deg.loc[k] if k in out_deg.index else None
        i = int(in_deg.get(k, 0))
        rows.append({
            "label": "Microservice", "name": name, "last_seen": v["last_seen"],
            "created_at": v["created_at"],
            "out_degree": 0 if o is None else int(o["out_degree"]),
            "in_degree": i,
            "out_weight": 0 if o is None else int(o["out_weight"]),
            "is_entry_point": i == 0,
        })
    return pd.DataFrame(rows), e


def _frames_equal(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]) -> bool:
    """Same columns and the same rows, timestamps compared as micros."""
    if got.empty or sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
        return False
    got = got.copy()
    for c in got.columns:
        if pd.api.types.is_datetime64_any_dtype(got[c]):
            got[c] = _micros(got[c])
    cols = sorted(exp.columns)
    a = got[cols].sort_values(keys, ignore_index=True).astype(str)
    b = exp[cols].sort_values(keys, ignore_index=True).astype(str)
    return a.equals(b)


# -------------------------------------------------------------- aws runs


class AwsSnapshot:
    """Batch snapshot runs: each op runs ``run_aws_snapshot_etl`` over a
    freshly generated, churned resource snapshot into one store."""

    def __init__(self, ctx: Context) -> None:
        from etl_neptune_spark.pipelines.aws import run_aws_snapshot_etl
        from etl_neptune_spark.streaming.store import GraphStore

        self.ctx = ctx
        self.run_etl = run_aws_snapshot_etl
        self.store = GraphStore(os.path.join(ctx.work, "aws_store"))
        self.snaps = gen.AwsSnapshots(ctx.seed)
        self.version = 0
        self.last_dir = ""

    def op(self) -> Op:
        sf_dir = os.path.join(self.ctx.work, f"aws_snap_{self.version:05d}")
        nbytes = self.snaps.write_next(sf_dir)
        stats = None
        with self.ctx.span("op"), Timer(self.ctx.spark) as t:
            try:
                stats = self.run_etl(self.ctx.spark, sf_dir, self.store, version=self.version)
            except Exception:  # noqa: BLE001 - a raising op is a failed op
                pass
        ok = stats == self.expected_stats() and self.nodes_match_live()
        written, files = _written(self.store, ("nodes", "infra_edges"))
        op = Op(t.latency, ok, t.cpu, sf_dir, "aws", nbytes, written, files, jit=t.jit,
                jobs=t.jobs)
        if self.ctx.tracer is not None:
            for table in ("nodes", "infra_edges"):
                rows, changed = _changed_rows(self.store, table)
                op.rows_written += rows
                op.rows_changed += changed
        self.version += 1
        self.last_dir = sf_dir
        return op

    def expected_stats(self) -> dict[str, int]:
        c, s = self.snaps.cust, self.snaps.supp
        orders = pq.read_table(os.path.join(self.ctx.work, f"aws_snap_{self.version:05d}", "orders.parquet")).to_pandas()
        urgent = orders[(orders["o_orderpriority"] == "1-URGENT") & (orders["o_orderstatus"] == "O")]
        return {
            "nodes": 5 + 25 + len(c["c_custkey"]) + len(s["s_suppkey"]),
            "edges": 25 + len(c["c_custkey"]),
            "degraded": int(urgent["o_custkey"].nunique()),
            "with_metrics": int(orders["o_custkey"].nunique()),
        }

    def nodes_match_live(self) -> bool:
        """Every live resource is a node and no ghost survives."""
        nodes = _read_dir(_snapshot(self.store, "nodes"))
        ec2 = set(nodes.loc[nodes["label"] == "EC2Instance", "name"])
        return ec2 == set(self.snaps.cust["c_name"])

    def final_check(self) -> bool:
        """The final snapshot equals a DuckDB recompute of the last input."""
        import duckdb

        d = self.last_dir
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "orders"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            exp = con.execute(AWS_NODES_SQL).fetchdf()
            exp_edges = con.execute(AWS_EDGES_SQL).fetchdf()
        finally:
            con.close()
        got = _read_dir(_snapshot(self.store, "nodes"))
        got_edges = _read_dir(_snapshot(self.store, "infra_edges"))
        if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
            return False
        keys = ["label", "name"]
        m = got.merge(exp, on=keys, suffixes=("", "_x"))
        if len(m) != len(exp):
            return False
        for c in ("tier", "segment", "health_status", "order_count"):
            if not (m[c].astype(str) == m[c + "_x"].astype(str)).all():
                return False
        spend = (m["total_spend"].fillna(-1) - m["total_spend_x"].fillna(-1)).abs()
        if not (spend <= 0.011).all():
            return False
        cols = ["src_id", "dst_id", "edge_label"]
        return _frames_equal(got_edges[cols], exp_edges[cols], cols)


AWS_NODES_SQL = """
WITH m AS (
  SELECT c_name AS name, count(*) AS order_count, round(sum(o_totalprice), 2) AS total_spend
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_name),
a AS (
  SELECT DISTINCT c_name AS name FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'),
n AS (
  SELECT 'EC2Instance' AS label, c_name AS name,
         CASE WHEN c_custkey % 3 = 0 THEN 'tier' || CAST(c_custkey % 4 AS VARCHAR)
              ELSE 'unknown' END AS tier,
         c_mktsegment AS segment FROM customer
  UNION ALL SELECT 'Region', r_name, NULL, NULL FROM region
  UNION ALL SELECT 'AvailabilityZone', n_name, NULL, NULL FROM nation
  UNION ALL SELECT 'Microservice', s_name, NULL, NULL FROM supplier)
SELECT n.label, n.name, n.tier, n.segment,
       CASE WHEN n.label = 'EC2Instance' THEN m.order_count END AS order_count,
       CASE WHEN n.label = 'EC2Instance' THEN m.total_spend END AS total_spend,
       CASE WHEN n.label = 'EC2Instance' AND a.name IS NOT NULL THEN 'degraded'
            ELSE 'healthy' END AS health_status
FROM n LEFT JOIN m ON n.name = m.name LEFT JOIN a ON n.name = a.name
"""

AWS_EDGES_SQL = """
SELECT 'Region|' || r_name AS src_id, 'AvailabilityZone|' || n_name AS dst_id,
       'Contains' AS edge_label
FROM nation JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT 'EC2Instance|' || c_name, 'AvailabilityZone|' || n_name, 'LocatedIn'
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


class PipelineSchedule(Workload):
    """Fifteen minutes of the reference's schedule per round: a deepflow
    tick every 5 minutes, then the aws snapshot run that comes every 15
    minutes, each pipeline into its own store. Per-run fixed cost
    dominates the ticks (a graph of at most 33 nodes); the snapshot run
    is the large-graph write path."""

    name = "pipeline-schedule"
    round_size = 4

    def __init__(self, ctx: Context) -> None:
        self.deepflow = DeepflowTicks(ctx)
        self.aws = AwsSnapshot(ctx)
        self.step = 0

    def setup(self) -> None:
        """One snapshot run: the pipeline's first run compiles most of
        what its later runs reuse. The ticks are not warmed here: the
        first timed tick is the slowest of its round, and the per-kind
        median of a round's three ticks leaves it out."""
        self.aws.op()

    def op(self) -> Op:
        step, self.step = self.step, (self.step + 1) % self.round_size
        return self.aws.op() if step == self.round_size - 1 else self.deepflow.op()

    def final_check(self) -> bool:
        return self.deepflow.final_check() and self.aws.final_check()


# --------------------------------------------------------------- query-mix

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.1")

# Both cfn-family queries, the roadmap targets that fit a run (the
# flagship flow aggregate and the TPC-H spine's Q1/Q9), and one query
# from each other plan module, as many as a run may take. Left out for
# that time: IVF search (q_ann_ivf, 8 s cold plus warm at sf0.1 on a
# 4-core host; q_lang_id stands for its module at 1.5 s) and the graph,
# timeseries, corpus and metrics modules, whose queries (q_degrees,
# q_sessionize, q_vocab, q_metric_batch) cost 2.6-4.0 s each.
# Executed streaming certificates are left out: their run-to-run spread
# is too wide for a bound.
QUERY_MIX = (
    "q_flow_edges",                                 # flow
    "q_json_refs_udtf",                             # relational (cfn)
    "q_gc_anti",                                    # joins
    "q_lang_id",                                    # llm
    "q_stream_window",                              # streaming
    "q_tpch_q1", "q_tpch_q9",                       # tpch
    "q_entity_match",                               # linkage
    "q_semdedup",                                   # curation
    "q_template_scan",                              # formats (cfn)
    "q_url_parse",                                  # web
    "q_geofence",                                   # geo
)


class QueryMix(Workload):
    """Registry queries over the repository's sf0.1 fixture tables. One
    round is every query once, in a seed-shuffled order; each op builds
    the plan (``queries()[name](spark, sf)``) and forces it with
    ``count()``."""

    name = "query-mix"

    round_size = len(QUERY_MIX)

    def __init__(self, ctx: Context) -> None:
        import __spark_entry__

        self.ctx = ctx
        self.queries = __spark_entry__.queries()
        self.oracle = __spark_entry__.oracle_sql()
        self.names = list(QUERY_MIX)
        # The engine caches per-dataset state under spark-warehouse by
        # the basename of the data directory: a copy of the fixture under
        # a name unique to the run keeps that cache cold at every start.
        self.tag = f"pbq{ctx.seed}x{os.getpid()}"
        self.sf = os.path.join(ctx.work, self.tag)
        shutil.copytree(FIXTURE, self.sf)
        self.rows: dict[str, int] = {}
        self.bad: set[str] = set()
        self.rng = random.Random(ctx.seed)
        self.pending: list[str] = []

    def setup(self) -> None:
        """Warm-up pass doubling as the output check: every query runs
        once and its rows are compared with its DuckDB oracle by the
        repository's strict comparison; its row count is kept for the timed ops. The oracles run on a
        thread beside the Spark pass (DuckDB releases the GIL)."""
        from tools.check_oracle import compare, duckdb_conn

        expected: dict[str, pd.DataFrame] = {}

        def run_oracles() -> None:
            con = duckdb_conn(self.sf)
            # One thread: the oracles share the cores with the Spark pass.
            con.execute("SET threads TO 1")
            try:
                for name in self.names:
                    if name in self.oracle:
                        expected[name] = con.execute(self.oracle[name]).fetchdf()
            finally:
                con.close()

        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(run_oracles)
            got: dict[str, pd.DataFrame] = {}
            for name in self.names:
                try:
                    got[name] = self.queries[name](self.ctx.spark, self.sf).toPandas()
                except Exception:  # noqa: BLE001 - a failing query is a failed op
                    self.bad.add(name)
            oracles.result()
        for name, pdf in got.items():
            self.rows[name] = len(pdf)
            if name not in expected or compare(name, pdf, expected[name], strict=True):
                self.bad.add(name)

    def op(self) -> Op:
        if not self.pending:
            self.pending = self.names[:]
            self.rng.shuffle(self.pending)
        name = self.pending.pop()
        n = -1
        with self.ctx.span("op"), Timer(self.ctx.spark) as t:
            try:
                with self.ctx.span("plans.build"):
                    df = self.queries[name](self.ctx.spark, self.sf)
                with self.ctx.span("plans.run"):
                    n = df.count()
            except Exception:  # noqa: BLE001 - a failing query is a failed op
                n = -1
        ok = name not in self.bad and n == self.rows.get(name)
        return Op(t.latency, ok, t.cpu, name, name, jit=t.jit, jobs=t.jobs)

    def final_check(self) -> bool:
        return not self.bad


WORKLOADS = {w.name: w for w in (PipelineSchedule, QueryMix)}
