"""Recursive JSON reference extraction — the one transform in the
reference that genuinely needs a UDF.

The reference walks arbitrarily nested CloudFormation/StepFunction JSON
trees collecting reference tokens: ``extract_ref_or_getatt`` /
``deep_find_lambda_refs`` (lambda/etl_cfn/neptune_etl_cfn.py:200-242)
and ``extract_sfn_lambda_refs`` (lambda/etl_aws/neptune_etl_aws.py:
1117-1147). Fixed-depth paths go to ``get_json_object``; unbounded
recursion does not, so this is an Arrow UDF (``F.arrow_udf``)
returning ``array<string>`` — UDTF-shaped once exploded.

Scale note: the UDF is per-row O(tree size) and embarrassingly
parallel; Arrow batching keeps the Python crossing amortized. This is
the documented "slow path" exception of the engine.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _walk(node, out: list[str]) -> None:
    """Depth-first collection of reference-like leaves: every int leaf
    and every string value of a key named 'Ref' / ending in 'Arn'."""
    if isinstance(node, dict):
        for k, v in node.items():
            if isinstance(v, str) and (k == "Ref" or k.endswith("Arn")):
                out.append(v)
            else:
                _walk(v, out)
    elif isinstance(node, list):
        for v in node:
            _walk(v, out)
    elif isinstance(node, bool):
        pass
    elif isinstance(node, int):
        out.append(str(node))


def _refs(payload: str | None) -> list[str]:
    """All reference tokens in one JSON document, in tree order; none
    for a null or unparseable payload."""
    if payload is None:
        return []
    try:
        tree = json.loads(payload)
    except (ValueError, TypeError):
        return []
    out: list[str] = []
    _walk(tree, out)
    return out


@F.arrow_udf(T.ArrayType(T.StringType()))
def extract_json_refs(payloads: pa.Array) -> pa.Array:
    """All reference tokens in a JSON document, in tree order."""
    return pa.array(
        [_refs(p) for p in payloads.to_pylist()], type=pa.list_(pa.string())
    )


def json_refs_joined(col: Column | str, sep: str = ",") -> Column:
    """Refs rendered as a separator-joined string (order-stable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(extract_json_refs(c), sep)


def json_refs_udtf():
    """The same recursive walk as a Spark 4 Python UDTF — true
    table-function semantics (one (ref, pos) ROW per reference,
    LATERAL-joinable from SQL) instead of array-return + explode.
    Returned lazily from a factory so importing this module never
    requires an active session. Registered per-session by the caller:

        spark.udtf.register("json_refs_udtf", json_refs_udtf())
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="ref: string, pos: int")
    class JsonRefs:
        def eval(self, payload: str):
            for i, r in enumerate(_refs(payload)):
                yield r, i

    return JsonRefs
