"""Self-test of the benchmark's own machinery.

    python3 perfbench/selftest.py

1. The pipeline input generators are deterministic: the same seed gives
   the same input digest, another seed a different one.
2. A corrupted output is counted as failed: a real deepflow store whose
   snapshot is altered after the run fails the final recompute check
   (and the tally then fails every op), an aws store with a planted
   ghost fails the per-op invariant, and a query result with one value
   changed fails the repository's strict oracle comparison.

Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(label: str, ok: bool, failures: list[str]) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {label}")
    if not ok:
        failures.append(label)


def inputs_digest(seed: int, out: str) -> str:
    from perfbench import gen

    paths = []
    for tick in range(3):
        p = os.path.join(out, "ticks", f"{tick}.parquet")
        gen.write_tick(seed, tick, p)
        paths.append(p)
    snaps = gen.AwsSnapshots(seed)
    for i in range(3):
        d = os.path.join(out, f"aws{i}")
        snaps.write_next(d)
        paths += sorted(os.path.join(d, f) for f in os.listdir(d))
    return gen.digest(paths)


def corrupt_first_file(snapshot_dir: str, column: str, change) -> None:
    """Rewrite ``column`` of the snapshot's first file as ``change(values)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.workloads import _dir_files

    path = _dir_files(snapshot_dir)[0]
    t = pq.read_table(path)
    values = change(t.column(column).to_pylist())
    t = t.set_column(t.schema.get_field_index(column), column, pa.array(values, t.schema.field(column).type))
    pq.write_table(t, path)


def plant_ghost(names: list[str]) -> list[str]:
    """Rename the first resource to one absent from the live snapshot."""
    i = next(i for i, n in enumerate(names) if n.startswith("Customer#"))
    return [*names[:i], "Customer#ghost", *names[i + 1:]]


def main() -> int:
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench.run import (WORK, adopt_orphans, pin_environment, session_conf,
                               stop_descendants, tally)

    adopt_orphans()
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=WORK)
    failures: list[str] = []
    try:
        a = inputs_digest(7, os.path.join(work, "a"))
        b = inputs_digest(7, os.path.join(work, "b"))
        c = inputs_digest(8, os.path.join(work, "c"))
        print(f"     seed 7 digest {a[:16]} / {b[:16]}, seed 8 digest {c[:16]}")
        check("same seed gives the same input digest", a == b, failures)
        check("another seed gives another input digest", a != c, failures)

        env = pin_environment(work)
        import pandas as pd

        from etl_neptune_spark.session import get_spark
        from perfbench import workloads as W
        from tools.check_oracle import compare

        spark = get_spark("perfbench-selftest", extra_conf=session_conf(work, env))
        spark.sparkContext.setLogLevel("ERROR")
        try:
            ctx = W.Context(spark, work, 7)
            df = W.DeepflowTicks(ctx)
            ops = [df.op(), df.op()]
            check("deepflow ops pass their checks", all(o.ok for o in ops), failures)
            check("deepflow store equals the recompute", df.final_check(), failures)
            corrupt_first_file(W._snapshot(df.store, "nodes"), "out_degree",
                               lambda vs: [vs[0] + 1, *vs[1:]])
            final_ok = df.final_check()
            check("corrupted deepflow store fails the recompute", not final_ok, failures)
            check("a failed final check fails every op", tally(ops, final_ok) == len(ops), failures)

            aws = W.AwsSnapshot(ctx)
            op = aws.op()
            check("aws op passes its checks", op.ok, failures)
            corrupt_first_file(W._snapshot(aws.store, "nodes"), "name", plant_ghost)
            check("aws store with a ghost fails the live-set check", not aws.nodes_match_live(), failures)
        finally:
            spark.stop()

        got = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
        bad = got.assign(v=[0.5, 1.2500001])
        check("identical query result passes the strict oracle",
              not compare("q", got, got.copy(), strict=True), failures)
        check("changed query result fails the strict oracle",
              bool(compare("q", got, bad, strict=True)), failures)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
