"""Stencil sink — convert Table schema facets to JSON-schema or Avro and
POST to a schema registry.

Reference (plugins/sinks/stencil/stencil.go): format json -> JSON-schema
document (:120-133, properties :193-220); format avro -> Avro record
schema (:136-148, fields :260-287); per-service type-mapping tables live
in meteor_spark.functions.typemap (stencil.go:223-257, :289-325);
POST /v1beta1/namespaces/{ns}/schemas/{name}, 5xx -> RetryError
(:151-190).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from meteor_spark.functions.typemap import avro_fields, json_schema_properties
from meteor_spark.plugins_base import Field, Sink
from meteor_spark.registry import register_sink
from meteor_spark.sinks.file import json_lines
from meteor_spark.sinks.http import post_json


def build_json_schema(record: dict) -> dict:
    """Table asset -> JSON-schema document (stencil.go:120-133)."""
    res = record.get("resource") or {}
    cols = record.get("schema") or []
    return {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$id": f"{res.get('urn')}.json",
        "title": res.get("name"),
        "type": "object",
        "properties": json_schema_properties(cols, res.get("service") or ""),
    }


def build_avro_schema(record: dict) -> dict:
    """Table asset -> Avro record schema (stencil.go:136-148)."""
    res = record.get("resource") or {}
    cols = record.get("schema") or []
    return {
        "type": "record",
        "namespace": res.get("service"),
        "name": res.get("name"),
        "fields": avro_fields(cols, res.get("service") or ""),
    }


@register_sink("stencil", "Publish table schemas to a Stencil registry")
class StencilSink(Sink):
    CONFIG = {
        "host": Field(required=True, type=str),
        "namespace_id": Field(required=True, type=str),
        "format": Field(default="json", oneof=("json", "avro")),
    }

    def sink(self, df: DataFrame) -> int:
        host = self.config["host"].rstrip("/")
        ns = self.config["namespace_id"]
        build = build_json_schema if self.config["format"] == "json" else build_avro_schema
        n = 0
        for line in json_lines(df):
            record = json.loads(line)
            if record.get("asset_type") != "Table":
                continue  # stencil only handles Table schema facets
            schema = build(record)
            name = (record.get("resource") or {}).get("name")
            post_json(f"{host}/v1beta1/namespaces/{ns}/schemas/{name}", schema)
            n += 1
        return n
