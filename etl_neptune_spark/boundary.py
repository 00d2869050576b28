"""The engine's Python boundary: Arrow batch in, typed Arrow batch out.

Every Python row kernel in the package crosses the JVM boundary the
same way. ``mapInArrow`` hands it Arrow record batches; it reads the
columns as Python values (``pylists``: nulls arrive as ``None``, binary
as ``bytes``); it yields its output as per-column values, which
``map_batches`` builds into a record batch typed by the DECLARED Spark
schema. The output types therefore come from the schema, never from
what a batch's values happen to look like: a batch whose every row was
dropped is still a typed empty batch, and a NaN in a double column is
null, as the pandas crossing this replaced rendered it.

``map_rows`` is the stateless per-row form. Kernels that carry state
across rows (a per-batch digest table, a per-partition memo or sketch,
a recurrence carry) use ``map_batches`` directly. The two pandas
crossings left in the package certify the pandas API itself (SCALE.md
§Python boundary policy).

``spread`` widens a narrow input before CPU-heavy per-row work.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame


def _arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema ``mapInArrow`` expects for a Spark DDL schema
    (parsed driver-side: the DDL parser needs the active session)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(schema))


def pylists(batch: pa.RecordBatch) -> list[list]:
    """A record batch's columns as Python value lists."""
    return [c.to_pylist() for c in batch.columns]


def map_batches(
    df: DataFrame,
    kernel: Callable[[Iterator[pa.RecordBatch]], Iterable[Sequence]],
    schema: str,
) -> DataFrame:
    """``df.mapInArrow`` over a batch kernel: ``kernel(batches)`` gets
    one partition's record batches and yields output batches, each a
    sequence of per-column values (Python sequences or numpy arrays) in
    ``schema`` order, each column typed by its ``schema`` field."""
    out = _arrow_schema(schema)

    def run(batches):
        for cols in kernel(batches):
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type, from_pandas=True) for c, f in zip(cols, out)],
                schema=out,
            )

    return df.mapInArrow(run, schema)


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """``map_batches`` over a per-row kernel: ``fn(*row)`` receives one
    input row as Python values (``df``'s column order) and yields zero
    or more output rows as tuples in ``schema`` order."""
    width = len(_arrow_schema(schema))

    def kernel(batches):
        for batch in batches:
            rows = [r for row in zip(*pylists(batch)) for r in fn(*row)]
            yield list(zip(*rows)) if rows else [[]] * width

    return map_batches(df, kernel, schema)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism before
    CPU-heavy per-row work. A small local parquet arrives as one or a
    few splits, which would serialize the work onto that many cores.
    Gated on the input's partition count: when the scan's own splits
    already cover the cluster (any real cluster-scale input), the
    repartition would be a pure extra shuffle and is skipped. Callers
    project first, so only the kernel's input columns move."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
