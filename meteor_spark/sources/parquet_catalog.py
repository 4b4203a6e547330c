"""Parquet-catalog extractor — walks a directory of parquet tables as if it
were a database, emitting one Table asset per file with columns, row
counts, preview, and (optionally) full column profiles.

This is the Spark-native generalization of the reference's
information-schema walkers (mysql.go:95-192, postgres.go:107-251, ...):
the traversal loop databases -> tables -> columns becomes
directory -> parquet footers -> StructType fields. Columns are sorted by
name ascending, matching the reference's `ORDER BY COLUMN_NAME ASC`
(mysql.go:163-167); TotalRows mirrors oracle.go:145-146 `count(*)`;
preview mirrors bigquery.go:280-337 first-N rows; column profiles mirror
bigquery.go:386-411 (see meteor_spark.operators.profile — computed in ONE
aggregation pass over the table instead of one SQL query per column).

At 100 TB scale the count/profile path reads each table once with only
the needed columns (parquet column pruning); the schema walk itself reads
only footers.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from meteor_spark.io import read_parquet_table
from meteor_spark.model.urn import table_urn
from meteor_spark.operators.profile import profile_columns
from meteor_spark.plugins_base import Extractor, Field
from meteor_spark.registry import register_extractor
from meteor_spark.sources.base import assets_df, column_dict


@register_extractor("parquet_catalog", "Directory of parquet tables as a database")
class ParquetCatalogExtractor(Extractor):
    # format seam: the ORC sibling below overrides these three and
    # nothing else — the walk, asset shape, preview, and profile path
    # are format-independent once the per-table DataFrame exists
    SERVICE = "parquet"
    GLOB = "*.parquet"

    CONFIG = {
        "path": Field(required=True, type=str),
        "database": Field(default=None, type=str),
        "exclude": Field(default=()),  # table names to skip (reference: postgres.go:36 user exclude list)
        "include_row_count": Field(default=True),
        "include_preview": Field(default=False),
        "max_preview_rows": Field(default=30, type=int),  # reference default (bigquery.go:37)
        "include_column_profile": Field(default=False),  # reference gate (bigquery.go:36)
    }

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        return read_parquet_table(spark, path)

    def extract(self, spark: SparkSession) -> DataFrame:
        root = Path(self.config["path"])
        database = self.config["database"] or root.name
        exclude = set(self.config["exclude"] or ())
        tables = sorted(p for p in root.glob(self.GLOB) if p.stem not in exclude)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, min(len(tables), 16))) as pool:
            rows = list(pool.map(lambda t: self._table_asset(spark, root, database, t), tables))
        return assets_df(spark, rows)

    def _table_asset(self, spark: SparkSession, root: Path, database: str, t: Path) -> dict:
        df = self._read(spark, str(t))
        name = t.stem
        profiles: dict[str, dict] = {}
        total_rows = None
        if self.config["include_column_profile"]:
            profiles, total_rows = profile_columns(df)
        columns = [
            column_dict(
                name=f.name,
                data_type=f.dataType.simpleString(),
                is_nullable=f.nullable,
                length=0,
                profile=profiles.get(f.name),
            )
            for f in sorted(df.schema.fields, key=lambda f: f.name)
        ]
        profile = None
        if self.config["include_row_count"]:
            profile = {"total_rows": df.count() if total_rows is None else total_rows}
        preview = None
        if self.config["include_preview"]:
            n = self.config["max_preview_rows"]
            sample = df.limit(n).collect()
            preview = {
                "fields": df.columns,
                "rows": json.dumps([[_js(v) for v in r] for r in sample]),
            }
        return {
            "resource": {
                "urn": table_urn(self.SERVICE, str(root), database, name),
                "name": name,
                "service": self.SERVICE,
                "type": "table",
                "url": None,
                "description": None,
            },
            "asset_type": "Table",
            "schema": columns,
            "profile": profile,
            "preview": preview,
        }


@register_extractor("orc_catalog", "Directory of ORC tables as a database")
class OrcCatalogExtractor(ParquetCatalogExtractor):
    """ORC sibling of parquet_catalog: Spark reads ORC natively, so the
    walk is identical — directory of .orc files/dirs, one Table asset
    each, footer-only schema, optional count/preview/profile. Extends
    the lakehouse source family (parquet / delta / iceberg / orc) to
    the other columnar format a warehouse migration actually hits."""

    SERVICE = "orc"
    GLOB = "*.orc"

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.orc(path)


@register_extractor("json_catalog", "Directory of JSON-lines tables as a database")
class JsonCatalogExtractor(ParquetCatalogExtractor):
    """JSON-lines sibling of parquet_catalog — the fifth lakehouse
    format (parquet / delta / iceberg / orc / jsonl), covering the
    raw-landing-zone layout every warehouse migration starts from:
    directories of newline-delimited JSON dumps. Same walk / asset /
    profile path through the format seam; the one semantic difference
    is that JSON has no footer, so schema comes from Spark's sampling
    inference (columns that are null on EVERY row are invisible to
    inference — a real property of schemaless landing data, not a
    defect of the walk)."""

    SERVICE = "json"
    GLOB = "*.jsonl"

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.json(path)


@register_extractor("csv_catalog", "Directory of CSV tables as a database")
class CsvCatalogExtractor(ParquetCatalogExtractor):
    """CSV sibling — sixth lakehouse format through the seam (parquet /
    delta / iceberg / orc / jsonl / csv), the flat-file export layout.
    Header + sampling type inference (the richer cousin of the
    header-only `csv` row source, which mirrors the reference's
    csv.go:85-144 column extractor; THIS one walks a directory of CSV
    tables as one database asset set)."""

    SERVICE = "csv"
    GLOB = "*.csv"

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.csv(path, header=True, inferSchema=True)


@register_extractor("avro_catalog", "Directory of Avro tables as a database")
class AvroCatalogExtractor(ParquetCatalogExtractor):
    """Avro sibling — same walk through the seam. Spark ships Avro as
    an EXTERNAL module (spark-avro must be on the classpath); init()
    probes for it at plan time and raises a clear error instead of a
    deep scan-time stack. Covered by a skip-not-fail test, the
    protobuf-interop pattern: green wherever spark-avro is deployed,
    skipped cleanly where it is not."""

    SERVICE = "avro"
    GLOB = "*.avro"

    @staticmethod
    def avro_available(spark: SparkSession) -> bool:
        # resolve through Spark's own data-source registry — merely
        # finding an avro CLASS on the classpath is not enough (the
        # distribution ships some avro classes without registering the
        # source, and read.format("avro") still fails)
        try:
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jvm.org.apache.spark.sql.internal.SQLConf.get()
            )
            return True
        except Exception:  # noqa: BLE001
            return False

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        if not self.avro_available(spark):
            raise RuntimeError(
                "avro_catalog needs the spark-avro module on the classpath "
                "(external since Spark 2.4); deploy it or use the parquet/"
                "orc/json/csv catalog sources"
            )
        return spark.read.format("avro").load(path)


def _js(v):
    """JSON-safe scalar: timestamps -> isoformat, \x00 -> "null" string
    (the reference sanitizes unicode nulls, bigquery.go:315-318)."""
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, str):
        return v.replace("\x00", "null")
    if isinstance(v, (list, tuple)):
        return [_js(x) for x in v]
    return v
