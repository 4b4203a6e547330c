"""Shared helpers for sources that build asset DataFrames."""

from __future__ import annotations

from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from meteor_spark.model.schema import ASSET_SCHEMA

_ARROW_ASSET_SCHEMA = to_arrow_schema(ASSET_SCHEMA)


def assets_df(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    """Build an asset DataFrame from plain dicts; absent fields are null.

    Sources constructing small asset sets driver-side (catalog walks, API
    scans) go through here; the result always conforms to ASSET_SCHEMA so
    every downstream processor/sink sees one contract.

    The rows travel as one Arrow table, which Spark keeps as a
    LocalRelation: no pickled RDD split into defaultParallelism slices,
    and row-local processors (filter, enrich) fold into the relation at
    optimization. Values are converted the way createDataFrame(rows,
    ASSET_SCHEMA) converts them, so the frame holds the same data.
    """
    convert = _converter(ASSET_SCHEMA)
    table = pa.Table.from_pylist([convert(r) for r in rows], schema=_ARROW_ASSET_SCHEMA)
    return spark.createDataFrame(table, ASSET_SCHEMA)


def is_local(df: DataFrame) -> bool:
    """True when df's optimized plan is a LocalRelation (assets_df and what
    folds into it), which collect() serves on the driver with no job. A
    nondeterministic plan is not: Catalyst folds rand() in afresh at each
    action, and only a cache pins one draw for the count and the sinks."""
    qe = df._jdf.queryExecution()
    return qe.analyzed().deterministic() and qe.optimizedPlan().nodeName() == "LocalRelation"


def _converter(dt: T.DataType) -> Callable[[Any], Any] | None:
    """Python value -> Arrow-ready value for dt, or None when pyarrow
    takes the value as it is.

    Structs become dicts (pyarrow fixes dict-vs-tuple input per column
    from its first value; createDataFrame takes both), timestamps become
    epoch microseconds through TimestampType.toInternal (naive = local
    time, as in createDataFrame), and maps take the JVM's entry order."""
    if isinstance(dt, T.StructType):
        fields = [(f.name, _converter(f.dataType)) for f in dt.fields]

        def struct(v):
            if v is None:
                return None
            if not isinstance(v, dict):
                v = dict(zip(dt.names, v))
            return {n: (c(v.get(n)) if c else v.get(n)) for n, c in fields}

        return struct
    if isinstance(dt, T.ArrayType):
        elem = _converter(dt.elementType)
        return (lambda v: None if v is None else [elem(x) for x in v]) if elem else None
    if isinstance(dt, T.MapType):
        key, val = _converter(dt.keyType), _converter(dt.valueType)

        def mapping(v):
            if v is None:
                return None
            items = [(key(k) if key else k, val(x) if val else x) for k, x in v.items()]
            return _jvm_map_order(items) if isinstance(dt.keyType, T.StringType) else items

        return mapping
    if isinstance(dt, T.TimestampType):
        return dt.toInternal
    return None


def _jvm_map_order(items: list[tuple[str, Any]]) -> list[tuple[str, Any]]:
    """String-keyed map entries in the order createDataFrame stores them.

    That path pickles the dict to the JVM, whose unpickler puts each
    SETITEMS batch (1000 entries) into a java.util.HashMap in reverse,
    then putAll()s it into a HashMap(0). Iteration order is bucket order
    of the final table, then insertion order within a bucket. Emulated
    here so a map reads back the same from either construction path."""
    n = len(items)
    if n < 2:
        return items

    def capacity(size: int, cap: int) -> int:
        while size > cap * 3 // 4:
            cap *= 2
        return cap

    final = capacity(n, 1 << (int(min(n, 1000) / 0.75 + 1) - 1).bit_length())
    keyed = []
    for start in range(0, n, 1000):
        batch = items[start : start + 1000][::-1]
        batch_cap = capacity(len(batch), 16)
        for i, kv in enumerate(batch):
            h = _java_hash(kv[0])
            h ^= h >> 16
            keyed.append((h & (final - 1), start, h & (batch_cap - 1), i, kv))
    keyed.sort(key=lambda k: k[:4])
    return [k[-1] for k in keyed]


def _java_hash(s: str) -> int:
    """java.lang.String.hashCode as an unsigned 32-bit int."""
    h = 0
    data = s.encode("utf-16-le")
    for i in range(0, len(data), 2):
        h = (31 * h + data[i] + (data[i + 1] << 8)) & 0xFFFFFFFF
    return h


def column_dict(
    name: str,
    data_type: str | None = None,
    description: str | None = None,
    is_nullable: bool | None = None,
    length: int | None = None,
    profile: dict | None = None,
    properties: str | None = None,
) -> dict:
    return {
        "name": name,
        "description": description,
        "data_type": data_type,
        "is_nullable": is_nullable,
        "length": length,
        "profile": profile,
        "properties": properties,
    }
