"""assets_df: Arrow-built LocalRelation with the same contents as the
pickled createDataFrame path, and the recipe job count it buys."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from meteor_spark.model.schema import ASSET_SCHEMA
from meteor_spark.processors.enrich import merge_attributes
from meteor_spark.recipe.loader import parse_recipe
from meteor_spark.runner import Agent
from meteor_spark.sources.base import assets_df, is_local

_UTC5 = dt.timezone(dt.timedelta(hours=5))


def _reference_lines(spark, rows):
    return spark.createDataFrame(rows, ASSET_SCHEMA).toJSON().collect()


def _res(urn):
    return {"urn": urn, "name": urn, "service": "s", "type": "table"}


PARITY_ROWS = [
    # labels: small, colliding ("Aa" and "BB" share a Java hash) and
    # large enough to grow the JVM map past its first table
    {"resource": _res("a"), "properties": {"labels": {"k": "v", "a": "b"}, "tags": ["t1", None]}},
    {"resource": _res("b"), "properties": {"labels": {"BB": "1", "Aa": "2", "x": "3"}}},
    {"resource": _res("c"), "properties": {"labels": {f"key{i}": str(i) for i in range(40)}}},
    {"resource": _res("d"), "properties": {"labels": {}}},
    # naive (local time) and tz-aware timestamps, top level and nested
    {
        "resource": _res("e"),
        "timestamps": {
            "create_time": dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
            "update_time": dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=_UTC5),
        },
        "event": {"timestamp": dt.datetime(1999, 12, 31, 23, 59, 59), "action": "x"},
        "blobs": [{"urn": "b1", "size": 7, "delete_time": dt.datetime(2020, 2, 29, tzinfo=dt.timezone.utc)}],
    },
    # nested arrays of structs, structs given as dicts and as tuples
    {
        "resource": _res("f"),
        "schema": [
            {"name": "c1", "data_type": "bigint", "is_nullable": True, "length": 0,
             "profile": {"min": "1", "avg": 1.5, "med": float("nan"), "count": 3}},
            {"name": "c2"},
        ],
        "profile": {"total_rows": 3, "joins": [{"urn": "j", "count": 2, "conditions": ["a = b"]}]},
        "lineage": {"upstreams": [_res("u1"), _res("u2")], "downstreams": []},
        "ownership": [("o1", "owner", "admin", "o@x")],
        "memberships": [{"group_urn": "g", "role": ["r1", "r2"]}],
    },
    # every facet None
    {f.name: None for f in ASSET_SCHEMA.fields},
    {},
]


def test_assets_df_matches_create_dataframe(spark):
    assert assets_df(spark, PARITY_ROWS).toJSON().collect() == _reference_lines(spark, PARITY_ROWS)


def test_assets_df_map_order_matches_jvm(spark):
    # 1500 entries: the JVM unpickles them as two SETITEMS batches
    rows = [
        {"properties": {"labels": {f"k{i}": "v" for i in range(n)} | {"Aa": "1", "BB": "2"}}}
        for n in (0, 3, 11, 30, 1500)
    ]
    got = assets_df(spark, rows).selectExpr("map_keys(properties.labels)").collect()
    want = spark.createDataFrame(rows, ASSET_SCHEMA).selectExpr("map_keys(properties.labels)").collect()
    assert got == want


def test_assets_df_zero_rows(spark):
    df = assets_df(spark, [])
    assert df.schema == ASSET_SCHEMA
    assert df.toJSON().collect() == _reference_lines(spark, []) == []


def test_filter_and_enrich_fold_into_local_relation(spark):
    df = assets_df(spark, [{"resource": _res("t1")}, {"resource": _res("tmp_x")}])
    out = merge_attributes(df.filter("NOT startswith(resource.name, 'tmp_')"), {"team": "x"})
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation", plan.toString()
    assert [r.resource.name for r in out.collect()] == ["t1"]


def test_is_local(spark, tmp_path):
    local = merge_attributes(assets_df(spark, [{"resource": _res("t1")}]).filter("resource.name = 't1'"), {"a": "b"})
    assert is_local(local)
    # Catalyst folds rand() into the relation too, but afresh per action
    assert not is_local(local.withColumn("r", F.rand()))
    spark.range(3).write.parquet(str(tmp_path / "p"))
    assert not is_local(spark.read.parquet(str(tmp_path / "p")))


# jobs of one run of the recipe below on this commit, all of them the
# extractor's: 3 tables x (schema read, the two stages of the profile
# aggregate with its row count, preview). The runner and the sinks run
# none: the filtered, enriched asset frame is still a LocalRelation, so
# the record count and both file sinks read it on the driver.
RECIPE_JOB_BUDGET = 12


def test_catalog_recipe_job_budget(spark, tmp_path):
    data = tmp_path / "db"
    data.mkdir()
    for name, n in (("t_small", 120), ("t_wide", 900), ("tmp_scratch", 50)):
        pq.write_table(
            pa.table({
                "id": pa.array(range(n), pa.int64()),
                "score": pa.array([i * 0.5 for i in range(n)], pa.float64()),
                "label": pa.array([f"l{i % 7}" for i in range(n)]),
            }),
            data / f"{name}.parquet",
        )
    recipe = parse_recipe(
        f"""
name: budget
version: v1beta1
source:
  name: parquet_catalog
  config:
    path: {data}
    include_row_count: true
    include_preview: true
    include_column_profile: true
processors:
  - name: filter
    config:
      where: "NOT startswith(resource.name, 'tmp_')"
  - name: enrich
    config:
      team: data-platform
sinks:
  - name: file
    config:
      path: {tmp_path}/out/assets.ndjson
      format: ndjson
  - name: file
    config:
      path: {tmp_path}/out/assets.yaml
      format: yaml
""",
        default_name="budget",
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    agent = Agent(spark)
    assert agent.run(recipe).success  # warm: first-use jobs are not per-run cost
    first = dag.nextJobId()
    run = agent.run(recipe)
    jobs = dag.nextJobId() - first
    assert run.success, run.error
    assert run.record_count == 2 and run.sink_records == {"file": 2}
    assert jobs <= RECIPE_JOB_BUDGET, f"{jobs} jobs for one run, budget {RECIPE_JOB_BUDGET}"
