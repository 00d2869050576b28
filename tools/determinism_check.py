"""Engine-side determinism gate: run each query TWICE in one session
and compare order-insensitive value hashes of the results.

This is the oracle-free half of the sf1 verification story: the
intentionally-quadratic-oracle queries (n-gram ground truths, pairwise
ANN, component closures) can't be DuckDB-checked at the 10× fixture,
but they CAN be checked against themselves — any nondeterminism
(fold-order floats, partition-id dependence like the prefix_sums pid
bug, unstable tie-breaks) shows as a hash mismatch between two runs of
the same plan on the same data.

The hash is ``tools/sf10_probe.dist_hash``: computed engine-side,
with an O(1) result, so no run ships its rows to the driver.

Usage: python tools/determinism_check.py [sf_dir] [q ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from tools.sf10_probe import dist_hash  # noqa: E402


def main() -> None:
    import __spark_entry__ as entry
    from etl_neptune_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or sorted(entry.queries())
    spark = get_spark("determinism_check")
    qs = entry.queries()
    failed = 0
    for name in names:
        try:
            n1, h1 = dist_hash(qs[name](spark, sf_dir))
            n2, h2 = dist_hash(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {type(exc).__name__}: {exc}"[:300])
            failed += 1
            continue
        if (n1, h1) == (n2, h2):
            print(f"PASS {name}: {n1} rows, stable hash")
        else:
            print(f"FAIL {name}: run1 ({n1}, {h1}) != run2 ({n2}, {h2})")
            failed += 1
    print(f"{failed} failed / {len(names)} checked (two-run determinism)")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
