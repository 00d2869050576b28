"""``operators.degree_metrics`` against a pandas model.

Random edge lists with null weights, self-loops, nodes that only send
and nodes that only receive, and label-filtered counts, some of whose
predicates are null on a row. The result must equal the model in
values, column names, column order and types.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_neptune_spark.operators import degree_metrics


def _edges(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 120))
    # src in 0..11, dst in 6..17: 0..5 only send, 12..17 only receive,
    # 6..11 both, and src == dst gives self-loops there.
    src = rng.integers(0, 12, n)
    dst = rng.integers(6, 18, n)
    w = pd.array(rng.integers(0, 10, n), dtype="Int64")
    w[rng.random(n) < 0.25] = pd.NA
    return pd.DataFrame({"src": src, "dst": dst, "w": w})


def _model(e: pd.DataFrame, weight: bool, filters: bool) -> pd.DataFrame:
    nodes = sorted(set(e["src"]) | set(e["dst"]))
    out = pd.DataFrame({"node": nodes})
    g = e.groupby("src")
    out["out_degree"] = out["node"].map(g.size()).fillna(0).astype("int64")
    if weight:
        total = g["w"].sum(min_count=1)
        out["out_weight"] = out["node"].map(total).fillna(0).astype("int64")
    if filters:
        db = e.assign(p=e["dst"].isin([6, 7])).groupby("src")["p"].sum()
        heavy = e.assign(p=(e["w"] > 5).fillna(False)).groupby("src")["p"].sum()
        out["db_count"] = out["node"].map(db).fillna(0).astype("int64")
        out["heavy_count"] = out["node"].map(heavy).fillna(0).astype("int64")
    out["in_degree"] = out["node"].map(e.groupby("dst").size()).fillna(0).astype("int64")
    out["is_entry_point"] = out["in_degree"] == 0
    if filters:
        out["has_db_dependency"] = out["db_count"] > 0
        out["has_heavy_dependency"] = out["heavy_count"] > 0
    return out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("weight,filters", [(True, True), (False, False), (True, False)])
def test_degree_metrics_matches_pandas_model(spark, seed, weight, filters):
    e = _edges(seed)
    edges = spark.createDataFrame(
        [(int(s), int(d), None if pd.isna(w) else int(w)) for s, d, w in e.itertuples(index=False)],
        "src bigint, dst bigint, w bigint",
    )
    got = degree_metrics(
        edges,
        weight="w" if weight else None,
        dst_label_filters=(
            {"db": F.col("dst").isin(6, 7), "heavy": F.col("w") > 5} if filters else None
        ),
    )
    exp = _model(e, weight, filters)
    types = {"is_entry_point": "boolean", "has_db_dependency": "boolean",
             "has_heavy_dependency": "boolean"}
    assert got.dtypes == [(c, types.get(c, "bigint")) for c in exp.columns]
    pdf = got.toPandas().sort_values("node", ignore_index=True)
    assert list(pdf.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(pdf, exp, check_dtype=True)
