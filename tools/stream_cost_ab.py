"""Streaming-certificate fixed-vs-data cost A/B (VERDICT r7 task 4).

The bench's streaming block is ~30% of total wall, and on a loaded
host its run-to-run ratio hit 5.5× on identical code — because each
cert's wall is mostly FIXED machinery (checkpoint init, availableNow
lifecycle, state-store spinup) that load noise inflates freely. The
certs now clock their phases (plans/streaming.py CERT_TIMINGS); this
tool proves the split is real by multiplying the stream volume
(VOLUME_MULT×): the amplified input must move the stream-phase data
cost while setup_sec stays flat. That separation is what lets
regression gating read rows/sec instead of wall.

Mechanics: builds a VOLUME_MULT× events fixture (same day layout —
the staged file COUNT and hence micro-batch count is unchanged; only
rows per file multiply), runs a representative cert subset at 1× and
VOLUME_MULT× (best-of-2), and rewrites the "## Streaming cost split"
section of SCALING.md.

Usage: python tools/stream_cost_ab.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, ".")

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CERTS = ["q_stream_e2e", "q_stream_stateful", "q_stream_dedup"]

VOLUME_MULT = 8  # 2x barely moves the data term at sf0.1; 8x makes it visible

SECTION_HEADER = "## Streaming cost split (volume A/B)"


def build_doubled(spark, sf_dir: str, out_dir: str) -> str:
    """events ×VOLUME_MULT (disjoint event_ids, same timestamps → same
    day-hashed file layout), every other table symlinked."""
    from pyspark.sql import functions as F

    from etl_neptune_spark.sources import load_table

    os.makedirs(out_dir, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0] or 0
    amped = ev
    for i in range(1, VOLUME_MULT):
        amped = amped.unionByName(
            ev.withColumn("event_id", F.col("event_id") + (mx + 1) * i)
        )
    amped.write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    for t in os.listdir(sf_dir):
        if t.endswith(".parquet") and t != "events.parquet":
            dst = os.path.join(out_dir, t)
            if not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, t), dst)
    return out_dir


def run_cert(qs, timings, name: str, spark, sf_dir: str) -> dict:
    # The cert harness only publishes a run that BEATS the stored stream_sec
    # (best-of-N semantics for bench). The 1× and 8× datasets share one
    # cert name here, so without clearing, the slower 8× leg would keep
    # reading the stale 1× record and the data-cost term collapses to
    # ~0 (ADVICE r9; the pattern stream_volume_probe.py already uses).
    timings.pop(name, None)
    best: dict | None = None
    for _ in range(2):
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        wall = time.time() - t0
        rec = dict(timings.get(name, {}))
        rec["wall_sec"] = round(wall, 3)
        if best is None or wall < best["wall_sec"]:
            best = rec
    return best


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from etl_neptune_spark.plans.streaming import CERT_TIMINGS

    qs = entry.queries()
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    dbl_dir = os.path.join(_REPO, "spark-warehouse", f"{tag}x{VOLUME_MULT}")
    build_doubled(spark, sf_dir, dbl_dir)

    rows = []
    for name in CERTS:
        one = run_cert(qs, CERT_TIMINGS, name, spark, sf_dir)
        two = run_cert(qs, CERT_TIMINGS, name, spark, dbl_dir)
        rows.append((name, one, two))
        print(name, "1x", one, f"{VOLUME_MULT}x", two, flush=True)

    lines = [
        SECTION_HEADER,
        "",
        "Each executed cert clocks setup (staging links + store init) vs",
        "the writeStream lifecycle (`CERT_TIMINGS`); bench.json's",
        "streaming_block carries the split per run. Proof the split is",
        "real: MULTIPLYING the stream volume (8× rows, identical file/batch",
        "count) moves only the stream phase — setup stays flat — so",
        "regression gating reads `data_rows_per_sec`, which load noise",
        "cannot fake. Best-of-2, `tools/stream_cost_ab.py`. Each record",
        "also carries `batches` (the micro-batches of every query the cert",
        "starts) and `durationMs`, per-phase sums over their",
        "`recentProgress` (addBatch, walCommit, commitOffsets,",
        "latestOffset, queryPlanning, getBatch, triggerExecution): the",
        "terms the stream phase's seconds break into.",
        "",
        "| cert | setup 1× | setup 8× | stream 1× | stream 8× |"
        " data µs/row | fixed share of 1× wall |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, a, b in rows:
        s1, s8 = a.get("stream_sec", 0.0), b.get("stream_sec", 0.0)
        r1 = a.get("stream_rows", 0)
        # Linear model: stream_sec = fixed + us_per_row * rows. The
        # 1x->8x delta isolates the data term; the remainder of the 1x
        # wall (setup + stream + verify) is machinery.
        us_row = max(0.0, (s8 - s1) / max(1, 7 * r1) * 1e6)
        data_1x = us_row * r1 / 1e6
        fixed_share = max(0.0, 1.0 - data_1x / max(1e-9, a.get("wall_sec", 0.0)))
        lines.append(
            f"| {name} | {a.get('setup_sec', 0):.2f}s"
            f" | {b.get('setup_sec', 0):.2f}s"
            f" | {s1:.2f}s | {s8:.2f}s"
            f" | {us_row:.2f} | {fixed_share:.0%} |"
        )
    section = "\n".join(lines) + "\n"

    path = os.path.join(_REPO, "SCALING.md")
    existing = open(path).read() if os.path.exists(path) else ""
    if SECTION_HEADER in existing:
        head, _, tail = existing.partition(SECTION_HEADER)
        nxt = tail.find("\n## ")
        existing = head + (tail[nxt + 1 :] if nxt >= 0 else "")
        with open(path, "w") as f:
            f.write(existing.rstrip("\n") + "\n\n" + section)
    else:
        with open(path, "a") as f:
            f.write("\n" + section)
    shutil.rmtree(dbl_dir, ignore_errors=True)
    print("wrote SCALING.md section")


if __name__ == "__main__":
    main()
