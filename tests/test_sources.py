"""Source-format tests — SURVEY §2.1 SRC2–SRC6."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_neptune_spark.sources import (
    broadcast_dim,
    explode_nested,
    parse_template_text,
    read_json,
    read_tsv,
)


def test_read_tsv_schema_and_pushdown(spark, tmp_path):
    p = tmp_path / "flows.tsv"
    p.write_text("10\t20\t443\tHTTPS\t12.5\n11\t21\t80\tHTTP\t3.0\n")
    df = read_tsv(
        spark, str(p), "src long, dst long, port int, proto string, dur double"
    )
    rows = df.filter(F.col("port") == 443).collect()
    assert len(rows) == 1 and rows[0].proto == "HTTPS"
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "bigint", "int", "string", "double",
    ]


def test_read_json_nested_and_explode(spark, tmp_path):
    pods = [
        {
            "metadata": {"labels": {"app": "checkout"}},
            "status": {"podIP": "10.0.0.1"},
            "spec": {
                "containers": [
                    {"image": "repo/checkout:1", "name": "main"},
                    {"image": "repo/sidecar:2", "name": "sidecar"},
                ]
            },
        },
        {
            "metadata": {"labels": {"app": "cart"}},
            "status": {"podIP": "10.0.0.2"},
            "spec": {"containers": [{"image": "repo/cart:3", "name": "main"}]},
        },
    ]
    p = tmp_path / "pods.json"
    p.write_text("\n".join(json.dumps(x) for x in pods))
    schema = (
        "metadata struct<labels: map<string,string>>, "
        "status struct<podIP: string>, "
        "spec struct<containers: array<struct<image: string, name: string>>>"
    )
    df = read_json(spark, str(p), schema)
    # nested-field projection (P2)
    ips = {r[0] for r in df.select("status.podIP").collect()}
    assert ips == {"10.0.0.1", "10.0.0.2"}
    # one row per container (SRC4 explode)
    flat = explode_nested(
        df.withColumn("ip", F.col("status.podIP")),
        "spec.containers",
        ["image", "name"],
        keep=["ip"],
    )
    assert flat.count() == 3
    imgs = {r.image for r in flat.filter(F.col("ip") == "10.0.0.1").collect()}
    assert imgs == {"repo/checkout:1", "repo/sidecar:2"}


def test_parse_template_json_and_yaml_fallback():
    tpl = {"Resources": {"Fn": {"Type": "AWS::Lambda::Function"}}}
    assert parse_template_text(json.dumps(tpl)) == tpl
    yaml_text = "Resources:\n  Fn:\n    Type: AWS::Lambda::Function\n"
    try:
        import yaml  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(ValueError):
            parse_template_text(yaml_text)
    else:
        assert parse_template_text(yaml_text) == tpl


def test_broadcast_dim_join_is_broadcast(spark):
    dim = broadcast_dim(
        spark, [("EC2Instance", "az"), ("LambdaFunction", "region")],
        "label string, fault_boundary string",
    )
    facts = spark.createDataFrame(
        [("EC2Instance", "i-1"), ("LambdaFunction", "fn-1"), ("S3Bucket", "b-1")],
        "label string, name string",
    )
    out = facts.join(dim, "label", "left")
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    got = {r.name: r.fault_boundary for r in out.collect()}
    assert got == {"i-1": "az", "fn-1": "region", "b-1": None}


def test_sql_function_registry(spark):
    """The scalar library is SQL-callable via expression-bodied SQL UDFs
    (no Python at runtime)."""
    from etl_neptune_spark.functions import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        "SELECT ipv4_to_string(3232235777L) AS ip,"
        "       sanitize_str(\"it's\", 10) AS s,"
        "       safe_div(1.0, 0.0) AS d,"
        "       split_part_at('a:b:c', ':', -1) AS p"
    ).first()
    assert row.ip == "192.168.1.1"
    assert row.s == "it\\'s"
    assert row.d == 0.0
    assert row.p == "c"


def test_timestamp_encoding_drift(spark, tmp_path):
    """Regression (VERDICT r2): the driver regenerates testdata with
    different parquet timestamp physical types — TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ when isAdjustedToUTC=false), TIMESTAMP(UTC)
    (TimestampType), and TIMESTAMP(NANOS) (nanos-as-bigint under
    nanosAsLong). load_table must normalize ALL of them to plain
    TimestampType with identical values, and the timeseries queries
    must analyze against each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_neptune_spark.sources.tables import load_table

    base = {
        "event_id": [1, 2, 3, 4],
        "user_id": [10, 10, 11, 11],
        "event_type": ["view", "purchase", "view", "purchase"],
        "value": [1.0, 2.0, 3.0, 4.0],
    }
    ts_us = [1_700_000_000_000_000 + i * 60_000_000 for i in range(4)]

    encodings = {
        "micros_ntz": pa.array(ts_us, type=pa.timestamp("us")),
        "micros_utc": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        "nanos": pa.array([u * 1000 for u in ts_us], type=pa.timestamp("ns")),
    }
    for name, ts_arr in encodings.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({**{k: pa.array(v) for k, v in base.items()}, "ts": ts_arr})
        pq.write_table(tbl, str(d / "events.parquet"), version="2.6",
                       coerce_timestamps=None)
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        got = sorted(
            r.us for r in df.select(F.unix_micros("ts").alias("us")).collect()
        )
        assert got == ts_us, name

        from etl_neptune_spark.plans.timeseries import q_asof_join, q_sessionize

        assert q_asof_join(spark, str(d)).count() == 2
        assert q_sessionize(spark, str(d)).count() > 0


def test_metric_query_plan_batches_and_conditional_catalog(spark):
    """SRC7 adapter: contiguous batches never exceed the service cap,
    and conditional specs produce the per-entity catalog the reference
    builds (EKS nodes get the ContainerInsights rows, others CWAgent)."""
    from pyspark.sql import functions as F

    from etl_neptune_spark.sources.metrics import metric_query_plan

    ents = spark.range(0, 400).select(F.col("id").alias("ent"))
    is_even = F.col("ent") % 2 == 0
    specs = [
        ("cpu", "ns", "CPUUtilization", "Average", 300, None),
        ("mem_a", "ci", "node_memory_utilization", "Average", 300, is_even),
        ("mem_b", "cw", "mem_used_percent", "Average", 300, ~is_even),
    ]
    plan = metric_query_plan(ents, "ent", specs, batch_size=100)
    sizes = {r.batch_id: r.n for r in plan.groupBy("batch_id").agg(
        F.count("*").alias("n")).collect()}
    assert max(sizes.values()) <= 100
    assert sorted(sizes) == list(range(len(sizes)))  # contiguous ids
    assert sum(sizes.values()) == 400 * 2  # cpu + exactly one mem row each
    per_ent = plan.groupBy("entity_id").count().collect()
    assert all(r["count"] == 2 for r in per_ent)


def test_paginated_datasource_partitioning_and_bounds(spark):
    """The page space shards into partition ranges; rows respect the
    total bound; re-registration is idempotent."""
    from etl_neptune_spark.sources.paginated import register_paginated_source

    register_paginated_source(spark)
    register_paginated_source(spark)  # idempotent
    df = (
        spark.read.format("paginated_scan")
        .option("total_rows", 1234)
        .option("page_size", 100)
        .option("pages_per_partition", 3)
        .load()
    )
    assert df.count() == 1234
    # 13 pages / 3 per partition -> 5 partitions
    assert df.rdd.getNumPartitions() == 5
    ids = df.agg(
        F.min("instance_id").alias("lo"), F.max("instance_id").alias("hi")
    ).first()
    assert (ids.lo, ids.hi) == (0, 1233)
    # last page is partial
    last = df.filter(F.col("page") == 12).count()
    assert last == 34
    # empty source plans one empty partition, not an error
    empty = (
        spark.read.format("paginated_scan")
        .option("total_rows", 0)
        .load()
    )
    assert empty.count() == 0


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _write(path, **cols) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({k: pa.array(v) for k, v in cols.items()}), str(path))
    return str(path)


def test_read_parquet_infers_once_per_layout(spark, tmp_path):
    """A second read of a file, and a read of another file with the same
    footer layout, take the schema of the first read: no job. The rows
    equal an inferred read's."""
    from etl_neptune_spark.sources import read_parquet

    first = _write(tmp_path / "a.parquet", rp_once_id=[1, 2], rp_once_name=["x", "y"])
    read_parquet(spark, first)
    start = _next_job(spark)
    df = read_parquet(spark, first)
    assert _next_job(spark) - start == 0
    assert df.schema == spark.read.parquet(first).schema

    other = _write(tmp_path / "b.parquet", rp_once_id=[3, 4, 5], rp_once_name=["z", None, "w"])
    start = _next_job(spark)
    df = read_parquet(spark, other)
    assert _next_job(spark) - start == 0
    assert sorted(df.collect()) == sorted(spark.read.parquet(other).collect())


def test_read_parquet_rewritten_path_gets_its_new_schema(spark, tmp_path):
    from etl_neptune_spark.sources import read_parquet

    p = _write(tmp_path / "t.parquet", rp_rewrite_a=[1])
    assert read_parquet(spark, p).columns == ["rp_rewrite_a"]
    _write(p, rp_rewrite_b=["s"], rp_rewrite_c=[2.0])
    df = read_parquet(spark, p)
    assert df.dtypes == [("rp_rewrite_b", "string"), ("rp_rewrite_c", "double")]
    assert df.collect()[0].rp_rewrite_b == "s"


def test_read_parquet_keys_on_the_inference_settings(spark, tmp_path):
    """A setting that changes the inferred type gives its own cache
    entry. Spark 4.1 rejects TIMESTAMP(NANOS) without nanosAsLong, so
    under that setting the nanos file is inferred again and fails as an
    inferred read does; the micros file reads as timestamp_ntz or
    timestamp under inferTimestampNTZ."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from etl_neptune_spark.sources import read_parquet
    from etl_neptune_spark.sources import tables

    us = 1_700_000_000_000_000
    nanos = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"rp_key_ts": pa.array([us * 1000], type=pa.timestamp("ns"))}), nanos)
    micros = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"rp_key_ts": pa.array([us], type=pa.timestamp("us"))}), micros)

    keys = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")
    saved = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set(keys[0], "true")
        assert dict(read_parquet(spark, nanos).dtypes)["rp_key_ts"] == "bigint"
        spark.conf.set(keys[0], "false")
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, nanos)

        before = len(tables._SCHEMAS)
        got = []
        for ntz in ("true", "false"):
            spark.conf.set(keys[1], ntz)
            got.append(dict(read_parquet(spark, micros).dtypes)["rp_key_ts"])
            assert read_parquet(spark, micros).schema == spark.read.parquet(micros).schema
        assert got == ["timestamp_ntz", "timestamp"]
        assert len(tables._SCHEMAS) == before + 2
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def test_read_parquet_directory_still_infers(spark, tmp_path):
    from etl_neptune_spark.sources import read_parquet

    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    read_parquet(spark, d)
    start = _next_job(spark)
    assert read_parquet(spark, d).count() == 3
    assert _next_job(spark) - start > 1  # the inference job and the count


def test_read_parquet_schema_equals_inferred(spark, sf_dir, tmp_path):
    """Every fixture table and every timestamp encoding of
    ``test_timestamp_encoding_drift``: the schema ``read_parquet`` gives,
    inferred or cached, is the one Spark infers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_neptune_spark.sources import TABLES, read_parquet

    paths = [f"{sf_dir}/{t}.parquet" for t in TABLES]
    ts_us = [1_700_000_000_000_000 + i * 60_000_000 for i in range(4)]
    for name, arr in {
        "micros_ntz": pa.array(ts_us, type=pa.timestamp("us")),
        "micros_utc": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        "nanos": pa.array([u * 1000 for u in ts_us], type=pa.timestamp("ns")),
    }.items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"event_id": pa.array([1, 2, 3, 4]), "ts": arr}), p,
                       version="2.6", coerce_timestamps=None)
        paths.append(p)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for p in paths:
        for _ in range(2):
            assert read_parquet(spark, p).schema == spark.read.parquet(p).schema, p


def test_ts_anchor_follows_a_rewritten_file(spark, tmp_path):
    """Regression: the anchor of a table rewritten at the same path is
    resolved again, not served from the first file's cache entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_neptune_spark.sources import max_ts_micros

    us = 1_700_000_000_000_000

    def write(ts):
        pq.write_table(
            pa.table({"event_id": pa.array(range(len(ts))),
                      "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC"))}),
            str(tmp_path / "events.parquet"),
        )

    write([us, us + 1])
    assert max_ts_micros(spark, str(tmp_path)) == us + 1
    write([us, us + 1, us + 86_400_000_000])
    assert max_ts_micros(spark, str(tmp_path)) == us + 86_400_000_000
