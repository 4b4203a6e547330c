"""HTTP sink — JSON per record to a URL.

Reference (plugins/sinks/http/http.go:74-128): per-record request with
configurable method/headers/success-code; 5xx responses wrap into
RetryError so the runner's backoff retrier re-drives them
(http.go:123-128).

Spark translation: records POST from inside foreachPartition so the
fan-out is distributed (one connection per partition, batched payloads
optional) — at 1000 executors the sink throughput scales with the
cluster, not the driver. urllib only (stdlib); transient (5xx/URLError)
failures raise RetryError.

The backoff retry runs EXECUTOR-LOCAL (runner.retrier.retry around each
flush): a RetryError raised inside foreachPartition reaches the driver
as an opaque Py4J task failure, so the runner's driver-side retrier
could never classify it — retrying next to the connection is the only
placement that preserves the reference's 5x/5s/backoff contract, and it
re-sends one failed flush rather than re-driving the whole job.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from pyspark.sql import DataFrame

from meteor_spark.plugins_base import Field, RetryError, Sink
from meteor_spark.registry import register_sink


def _post(url: str, method: str, headers: dict, payload: str, success_code: int, timeout: float = 10.0) -> None:
    req = urllib.request.Request(url, data=payload.encode(), method=method, headers={"Content-Type": "application/json", **headers})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            if resp.status != success_code:
                if resp.status >= 500:
                    raise RetryError(f"HTTP {resp.status}")
                raise RuntimeError(f"HTTP {resp.status} != expected {success_code}")
    except urllib.error.HTTPError as e:
        if e.code >= 500:
            raise RetryError(f"HTTP {e.code}") from e
        raise
    except urllib.error.URLError as e:
        raise RetryError(str(e)) from e


@register_sink("http", "Send records to an HTTP endpoint")
class HttpSink(Sink):
    CONFIG = {
        "url": Field(required=True, type=str),
        "method": Field(default="POST", oneof=("POST", "PUT", "PATCH")),
        "headers": Field(default=None),
        "success_code": Field(default=200, type=int),
        "batch_size": Field(default=1, type=int),  # reference default batch = 1 (agent.go:17)
        "max_retries": Field(default=5, type=int),  # retrier.go:11-14 defaults
        "retry_interval_s": Field(default=5.0, type=float),
    }

    def sink(self, df: DataFrame) -> int:
        url = self.config["url"]
        method = self.config["method"]
        headers = dict(self.config["headers"] or {})
        success = self.config["success_code"]
        batch = max(1, int(self.config["batch_size"]))
        max_retries = int(self.config["max_retries"])
        interval = float(self.config["retry_interval_s"])
        sent = df.sparkSession.sparkContext.accumulator(0)

        def send_partition(rows):
            from meteor_spark.runner.retrier import retry

            def flush(buf):
                payload = buf[0] if batch == 1 else "[" + ",".join(buf) + "]"
                retry(
                    lambda: _post(url, method, headers, payload, success),
                    max_retries=max_retries,
                    initial_interval_s=interval,
                )

            buf = []
            n = 0
            for line in rows:
                buf.append(line)
                n += 1
                if len(buf) >= batch:
                    flush(buf)
                    buf.clear()
            if buf:
                flush(buf)
            sent.add(n)

        # one job: the record count rides along as an accumulator,
        # added only once a partition has flushed every record
        df.toJSON().foreachPartition(send_partition)
        return sent.value


def post_json(url: str, payload: dict, method: str = "POST", headers: dict | None = None, success_code: int = 200) -> None:
    """Driver-side JSON call with the same retry classification —
    shared by compass/stencil sinks."""
    _post(url, method, dict(headers or {}), json.dumps(payload), success_code)
