"""The oracle checker's time bound: an oracle still running at the
limit is interrupted and reported, and the connection stays usable."""

from __future__ import annotations

import time

import duckdb

from tools import check_oracle


def test_oracle_past_its_limit_is_interrupted(monkeypatch):
    monkeypatch.setattr(check_oracle, "ORACLE_TIMEOUT_S", 0.5)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    start = time.monotonic()
    got = check_oracle.run_oracle(
        con,
        "SELECT count(*) FROM range(100000000) a, range(100000) b "
        "WHERE a.range % 7 = b.range",
    )
    assert got is None
    assert time.monotonic() - start < 30
    assert check_oracle.run_oracle(con, "SELECT 42 AS x").x.tolist() == [42]
