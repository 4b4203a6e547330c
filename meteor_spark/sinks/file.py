"""File sink — ndjson or YAML, append or overwrite.

Reference (plugins/sinks/file/file.go:57-146): path must look like
`name.ext`; format json => newline-delimited JSON; yaml => YAML docs;
`overwrite` config selects truncate vs append.

Spark translation: ndjson is exactly Spark's json lines format. To honor
the reference's single-file contract the rows go to the target path
through json_lines: one to_json(struct(*)) projection evaluated in the
JVM, collected with no job when local, else streamed one partition at a
time. For cluster-scale output use distributed=true, which maps to
df.write.json — the distributed path.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Iterator

import yaml

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.plugins_base import Field, InvalidConfigError, ConfigError, Sink
from meteor_spark.registry import register_sink
from meteor_spark.sources.base import is_local


def json_lines(df: DataFrame) -> Iterator[str]:
    """One JSON document per row — the shared record feed of the
    driver-side sinks (file, console, compass, stencil). A local frame
    (sources.base.is_local) is collect()ed on the driver with no Spark
    job; any other streams through toLocalIterator, one partition at a
    time, so a big frame never lands on the driver all at once.

    Same text as df.toJSON() (nulls omitted, session time zone) except
    for maps of more than four entries: toJSON round-trips rows through
    Scala maps and so prints those keys in Scala hash order, where
    to_json keeps the order the map holds. toJSON also goes through the
    Python RDD path; this projection stays in the JVM until the string."""
    lines = df.select(F.to_json(F.struct("*")))
    for row in lines.collect() if is_local(lines) else lines.toLocalIterator():
        yield row[0]


@register_sink("file", "Save output to a file (ndjson/yaml)")
class FileSink(Sink):
    CONFIG = {
        "path": Field(required=True, type=str),
        "format": Field(default="json", oneof=("json", "yaml", "ndjson", "parquet")),
        "overwrite": Field(default=True),
        "distributed": Field(default=False),  # True => df.write directory output
    }

    def init(self, config):
        super().init(config)
        p = Path(self.config["path"])
        # parquet is always the distributed df.write path (directory output)
        distributed = self.config["distributed"] or self.config["format"] == "parquet"
        if not distributed and "." not in p.name:
            # reference: file.go:128-136 requires name.ext
            raise InvalidConfigError([ConfigError("path", "path must be a file name like name.ext")])

    def sink(self, df: DataFrame) -> int:
        path = Path(self.config["path"])
        fmt = self.config["format"]
        if self.config["distributed"] or fmt == "parquet":
            mode = "overwrite" if self.config["overwrite"] else "append"
            if fmt == "parquet":
                df.write.mode(mode).parquet(str(path))
            else:
                df.write.mode(mode).json(str(path))
            return df.count()
        path.parent.mkdir(parents=True, exist_ok=True)
        mode = "w" if self.config["overwrite"] else "a"
        n = 0
        with open(path, mode) as f:
            for line in json_lines(df):
                if fmt in ("json", "ndjson"):
                    f.write(line + "\n")
                else:
                    yaml.safe_dump(json.loads(line), f, explicit_start=True, sort_keys=False)
                n += 1
        return n
