"""Local replica of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB (same parquet tables as views), then compares
row-count, schema (column names), and an order-insensitive value
comparison (columns sorted by name, rows sorted). Use while iterating so
CORRECTNESS_r{N}.json holds no surprises.

Usage: python tools/check_oracle.py [--strict] [--no-broadcast] [sf_dir] [query ...]

``--strict`` replicates the driver's exact-hash semantics: every column is
compared ``astype(str)`` with NO float tolerance, so a DuckDB HUGEINT that
materializes as ``8300.0`` against Spark's ``8300`` is a failure even though
the values are numerically equal. Run strict before every commit — the
driver's CORRECTNESS gate hashes rendered values, not numbers.

``--no-broadcast`` sets ``spark.sql.autoBroadcastJoinThreshold=-1`` (and the
AQE variant) for the whole run, forcing sort-merge for every join Catalyst
would otherwise broadcast — the join-strategy-invariance gate (VERDICT r5
task 7, same philosophy as the 7-partition gate): results must not depend on
the physical join strategy, and any plan that only avoids a CartesianProduct
because broadcast kicked in surfaces here. Explicit ``broadcast()`` hints
still broadcast — those are deliberate plan design, not threshold luck.

Each DuckDB oracle runs for at most ``ORACLE_TIMEOUT_S``; one still
running then is interrupted, printed as ``TIMEOUT name`` and counted as
failed, so a sweep over the all-pairs oracles at sf0.1 and above ends.
"""

from __future__ import annotations

import sys
import threading

sys.path.insert(0, ".")

import duckdb
import pandas as pd


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written fixtures (e.g. the sf1 amplification) are
        # DIRECTORIES of part files — glob them for DuckDB.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


# Longest one DuckDB oracle may run. The all-pairs oracles (q_jaccard_prefix,
# q_leakage_split) ran past 20 minutes at sf0.1 on a 4-core host; every
# oracle at sf0.01 finishes in seconds.
ORACLE_TIMEOUT_S = 300


def run_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> pd.DataFrame | None:
    """``sql``'s result, or None when it was still running after
    ``ORACLE_TIMEOUT_S`` and was interrupted."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(
    name: str,
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
    strict: bool = False,
) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duckdb={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns: spark={s_cols} duckdb={d_cols}")
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if len(s) == len(d):
        for c in s.columns:
            sv, dv = s[c], d[c]
            if strict:
                bad = sv.astype(str) != dv.astype(str)
            elif pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
                sv = pd.to_numeric(sv, errors="coerce")
                dv = pd.to_numeric(dv, errors="coerce")
                bad = ~(
                    (sv.isna() & dv.isna())
                    | ((sv - dv).abs() <= 1e-9 + 1e-9 * dv.abs())
                )
            elif pd.api.types.is_datetime64_any_dtype(sv) or pd.api.types.is_datetime64_any_dtype(dv):
                sv, dv = pd.to_datetime(sv), pd.to_datetime(dv)
                bad = ~((sv.isna() & dv.isna()) | (sv == dv))
            else:
                bad = sv.astype(str) != dv.astype(str)
            n_bad = int(bad.sum())
            if n_bad:
                i = bad.idxmax()
                problems.append(
                    f"col {c}: {n_bad} mismatched values "
                    f"(first at row {i}: spark={s[c][i]!r} duckdb={d[c][i]!r})"
                )
    return problems


# Queries whose registered DuckDB oracle is intentionally quadratic
# (all-pairs ground truths, closure recomputation) or rows-only.
# Under --heavy-value these route to tools/sf1_value_check's class
# checkers (sampled-subgraph brute force / independent union-find /
# recall-vs-numpy contracts) so ONE command yields strict value
# evidence for the FULL registry at 10×+ scales (VERDICT r6 task 2).
HEAVY_PAIRWISE = {
    "q_ngram_jaccard",
    "q_containment",
    "q_jaccard_prefix",
    "q_embed_neardup",
}
HEAVY_CLOSURE = {"q_dup_clusters", "q_cluster_survivors", "q_leakage_split"}
HEAVY_CONTRACT_ANN = {"q_ann_ivf", "q_ann_pq"}
HEAVY_CONTRACT_BPE = {"q_bpe_tokens"}
HEAVY_ALL = (
    HEAVY_PAIRWISE | HEAVY_CLOSURE | HEAVY_CONTRACT_ANN | HEAVY_CONTRACT_BPE
)


def _run_heavy_value(spark, sf_dir, queries, oracles, names) -> list[str]:
    """Delegate the heavy set to sf1_value_check's class checkers.
    Returns the list of FAILED query names (group checks attribute the
    failure to every member they cover)."""
    from tools import sf1_value_check as sv

    failed: list[str] = []
    for name in sorted(names & HEAVY_PAIRWISE):
        if not sv.check_pairwise(name, spark, sf_dir, queries, oracles):
            failed.append(name)
    if names & HEAVY_CLOSURE:
        if not sv.check_closures(spark, sf_dir, queries):
            failed.extend(sorted(names & HEAVY_CLOSURE))
    if names & {"q_jaccard_prefix"}:
        if not sv.check_pair_crosschecks(spark, sf_dir, queries):
            failed.append("q_jaccard_prefix(crosscheck)")
    if names & HEAVY_CONTRACT_ANN:
        if not sv.check_ann_contracts(spark, sf_dir, queries):
            failed.extend(sorted(names & HEAVY_CONTRACT_ANN))
    if names & HEAVY_CONTRACT_BPE:
        if not sv.check_bpe(spark, sf_dir, queries):
            failed.append("q_bpe_tokens")
    return failed


def main() -> int:
    flags = {"--strict", "--no-broadcast", "--heavy-value"}
    argv = [a for a in sys.argv[1:] if a not in flags]
    strict = "--strict" in sys.argv[1:]
    no_broadcast = "--no-broadcast" in sys.argv[1:]
    heavy_value = "--heavy-value" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from etl_neptune_spark.session import get_spark

    spark = get_spark("check_oracle")
    if no_broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    con = duckdb_conn(sf_dir)
    queries, oracles = e.queries(), e.oracle_sql()

    failed = []
    delegated: set = set()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if heavy_value and name in HEAVY_ALL:
            delegated.add(name)
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows-only check, {len(spark_pdf)} rows (no oracle)")
            continue
        try:
            duck_pdf = run_oracle(con, sql)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        if duck_pdf is None:
            print(f"TIMEOUT {name}")
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf, strict=strict)
        if problems:
            print(f"FAIL {name}:")
            for p in problems:
                print(f"     {p}")
            failed.append(name)
        else:
            print(f"PASS {name}: {len(spark_pdf)} rows")

    if delegated:
        print(f"-- heavy-value checks for {len(delegated)} queries --")
        failed.extend(
            _run_heavy_value(spark, sf_dir, queries, oracles, delegated)
        )

    extra_oracles = set(oracles) - set(queries)
    if extra_oracles:
        print(f"WARN oracle_sql keys without queries(): {sorted(extra_oracles)}")
    print(f"\n{len(failed)} failed / {len(queries if not only else only)} checked")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
