"""Sinks: file formats, console, stencil type maps, validation."""

from __future__ import annotations

import json

import pytest
import yaml

from meteor_spark import registry
from meteor_spark.functions import typemap
from meteor_spark.plugins_base import InvalidConfigError


def test_file_sink_ndjson(spark, tmp_path):
    sink = registry.sinks.get("file")
    out = tmp_path / "o.ndjson"
    sink.init({"path": str(out)})
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert sink.sink(df) == 2
    lines = [json.loads(line) for line in out.read_text().splitlines()]
    assert sorted(lines, key=lambda r: r["id"]) == [{"id": 1, "s": "a"}, {"id": 2, "s": "b"}]


def test_file_sink_yaml(spark, tmp_path):
    sink = registry.sinks.get("file")
    out = tmp_path / "o.yaml"
    sink.init({"path": str(out), "format": "yaml"})
    df = spark.createDataFrame([(1,)], "id long")
    sink.sink(df)
    docs = list(yaml.safe_load_all(out.read_text()))
    assert docs == [{"id": 1}]


def test_file_sink_append(spark, tmp_path):
    sink = registry.sinks.get("file")
    out = tmp_path / "o.json"
    df = spark.createDataFrame([(1,)], "id long")
    sink.init({"path": str(out), "overwrite": False})
    sink.sink(df)
    sink.sink(df)
    assert len(out.read_text().splitlines()) == 2


def test_file_sink_path_validation(tmp_path):
    # reference: file.go:128-136 — path must look like name.ext
    sink = registry.sinks.get("file")
    with pytest.raises(InvalidConfigError):
        sink.init({"path": str(tmp_path / "noext")})


def test_console_sink(spark, capsys):
    sink = registry.sinks.get("console")
    sink.init({})
    df = spark.createDataFrame([(7,)], "id long")
    assert sink.sink(df) == 1
    assert json.loads(capsys.readouterr().out.strip()) == {"id": 7}


# stencil type maps (reference: stencil.go:223-257,289-325)

def test_json_schema_types_bigquery():
    assert typemap.json_schema_type("bigquery", "STRING") == "string"
    assert typemap.json_schema_type("bigquery", "INT64") == "number"
    assert typemap.json_schema_type("bigquery", "BYTES") == "array"
    assert typemap.json_schema_type("bigquery", "RECORD") == "object"
    assert typemap.json_schema_type("bigquery", "BOOLEAN") == "boolean"
    assert typemap.json_schema_type("bigquery", "UNKNOWNTYPE") == "string"


def test_avro_types_postgres():
    assert typemap.avro_type("postgres", "bigint") == "int"
    assert typemap.avro_type("postgres", "text") == "string"
    assert typemap.avro_type("postgres", "boolean") == "boolean"
    assert typemap.avro_type("postgres", "bytea") == "array"
    assert typemap.avro_type("postgres", "weird") == "string"


def test_json_schema_properties_nullable():
    cols = [{"name": "c1", "data_type": "INT64", "is_nullable": True, "description": "d"}]
    props = typemap.json_schema_properties(cols, "bigquery")
    assert props == {"c1": {"type": ["number", "null"], "description": "d"}}


def test_avro_fields_nullable():
    cols = [{"name": "c1", "data_type": "varchar", "is_nullable": True}]
    assert typemap.avro_fields(cols, "postgres") == [{"name": "c1", "type": ["string", "null"]}]


def test_http_sink_retries_transient_5xx_executor_side(spark):
    """regression: RetryError raised inside foreachPartition surfaces on
    the driver as an opaque Py4J failure, so the driver-side retrier
    never saw it — the backoff retry must run executor-local. A real
    local server 503s the first request per path, then 200s."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    hits = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            with lock:
                hits.append(1)
                code = 503 if len(hits) == 1 else 200
            self.send_response(code)
            self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        sink = registry.sinks.get("http")
        sink.init(
            {
                "url": f"http://127.0.0.1:{srv.server_port}/",
                "batch_size": 10,
                "retry_interval_s": 0.01,
            }
        )
        df = spark.createDataFrame([(1,), (2,)], "id long").coalesce(1)
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        first = dag.nextJobId()
        assert sink.sink(df) == 2  # does NOT raise: the 503 was retried
        assert len(hits) == 2  # one failure + one successful retry
        assert dag.nextJobId() - first == 1  # the count rides in the send job
    finally:
        srv.shutdown()


def test_json_lines_match_tojson(spark):
    import datetime as dt

    from meteor_spark.sinks.file import json_lines
    from meteor_spark.sources.base import assets_df

    rows = [
        {"resource": {"urn": "a", "name": "a"}, "properties": {"labels": {"k": "v", "a": "b"}, "tags": ["t", None]},
         "timestamps": {"create_time": dt.datetime(2024, 1, 2, 3, 4, 5, 678901)},
         "schema": [{"name": "c", "profile": {"avg": 1.5, "med": float("nan")}}]},
        {"asset_type": "Topic", "properties": {"labels": {}}},
        {},
    ]
    df = assets_df(spark, rows)
    assert list(json_lines(df)) == df.toJSON().collect()
    # maps over four entries: same document, keys in the map's own order
    wide = assets_df(spark, [{"properties": {"labels": {f"k{i}": str(i) for i in range(9)}}}])
    (line,) = json_lines(wide)
    assert json.loads(line) == json.loads(wide.toJSON().first())
    assert list(json.loads(line)["properties"]["labels"]) == [
        k for (k,) in wide.selectExpr("explode(map_keys(properties.labels))").collect()
    ]


def test_json_lines_job_count_by_frame_kind(spark):
    from meteor_spark.sinks.file import json_lines
    from meteor_spark.sources.base import assets_df

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    local = assets_df(spark, [{"asset_type": "Table"}, {"asset_type": "Topic"}])
    first = dag.nextJobId()
    assert [json.loads(line) for line in json_lines(local)] == [{"asset_type": "Table"}, {"asset_type": "Topic"}]
    assert dag.nextJobId() == first  # LocalTableScanExec: collect() on the driver
    spread = spark.range(0, 6, numPartitions=3)
    assert [json.loads(line)["id"] for line in json_lines(spread)] == list(range(6))
    assert dag.nextJobId() - first == 3  # toLocalIterator: one job per partition


def test_console_sink_local_frame_runs_no_job(spark, capsys):
    from meteor_spark.sources.base import assets_df

    sink = registry.sinks.get("console")
    sink.init({"max_rows": 2})
    df = assets_df(spark, [{"asset_type": t} for t in ("Table", "Topic", "Job")])
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    assert sink.sink(df) == 2  # capped at max_rows
    assert dag.nextJobId() == first
    lines = capsys.readouterr().out.splitlines()
    assert [json.loads(line) for line in lines] == [{"asset_type": "Table"}, {"asset_type": "Topic"}]
