"""Structured Streaming surface.

The reference has NO true streaming (its 'stream' is an in-process
channel, agent/stream.go — see SURVEY.md §2.8), so this module is the
forward-looking translation: the same pipeline algebra
(source -> transforms -> fan-out sinks) over unbounded input.

Components:
- stream_events: file-based streaming read of the events table (the
  fixture stand-in for a Kafka topic; swap `format("parquet")` for
  `format("kafka")` + from_json in production).
- windowed_rollup: watermarked tumbling-window aggregation.
- run_stream_to_batch: drives a streaming query to completion with the
  availableNow trigger into an in-memory sink and returns the result as
  a plain DataFrame — this is how the oracle checks streaming semantics
  against batch SQL (they must agree on bounded input).
- streaming dedup: dropDuplicates within the watermark horizon.

Scale notes: watermark + window state lives in the state store keyed by
(window, event_type) — bounded cardinality; shuffle partitions sized by
spark.sql.shuffle.partitions as usual. availableNow processes a bounded
backlog in rate-limited batches without keeping the driver loop alive.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def normalize_ts(raw: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize whatever timestamp flavor the fixture shipped with —
    nanos-as-long (r1), timestamp[us]/TIMESTAMP_NTZ (r2), or a true
    TIMESTAMP — to TIMESTAMP under the pinned-UTC session TZ, so
    watermarks/windows behave identically regardless of fixture vintage."""
    ts_type = raw.schema[col].dataType
    if isinstance(ts_type, T.LongType):
        # legacy nanos-as-long: truncate to micros (DuckDB does the same)
        return raw.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return raw.withColumn(col, F.col(col).cast("timestamp"))


_SCHEMA_MEMO: dict = {}


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events fixture with the schema taken from
    the file footer itself (a batch read of the same path), so the
    driver regenerating the fixture with a different timestamp physical
    type can never desynchronize this reader from reality.

    The footer sniff lists the whole fixture directory and decodes a
    parquet footer on the DRIVER — ~0.2-0.4s of serial stall per call,
    and every one of the ~13 streaming gates pays it. Memoized on
    (session, path, mtime, size) of events.parquet: schema METADATA only
    (never data or results); a new session or a rewritten file re-sniffs."""
    path = os.path.join(sf_dir, "events.parquet")
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
        _SCHEMA_MEMO[key] = schema
    # the streaming file source wants a directory; glob-filter to the table
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(raw)


def windowed_rollup(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("string").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event stream by event_id within the watermark horizon
    (the streaming twin of dedup_exact)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_stream_to_batch(
    stream_df: DataFrame, output_mode: str = "complete", state_partitions: int | None = 4
) -> DataFrame:
    """Drive a (bounded) streaming query to completion; return results.

    Uses trigger(availableNow) + the in-memory sink. Complete mode emits
    every window, so on bounded input the result must equal the batch
    aggregation — the property the oracle asserts.
    """
    spark = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    # state-store partition count is frozen at query start from
    # spark.sql.shuffle.partitions; windowed-agg state cardinality is tiny
    # (windows x event_type), so 32 partitions means 32 state-store commits
    # per microbatch for mostly-empty stores. Pin the stream to a few
    # partitions and restore the session default after.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.table(name)
    return out


def stream_static_enrich(stream_df: DataFrame, dim_df: DataFrame, on: list) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension.

    Spark plans this as a broadcast of the static side into every
    microbatch (no state store involvement) — the standard pattern for
    joining events to a slowly-changing dimension at 100 TB/day stream
    volume. The dim is re-read per batch, so an updated dim table is
    picked up without restarting the query.
    """
    return stream_df.join(dim_df, on)


def stream_stream_attribution(
    events: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval self-join: attribute each purchase to every
    click by the same user within the trailing `horizon`.

    Both sides carry watermarks and the join condition bounds event time
    (click_ts in [purchase_ts - horizon, purchase_ts]), so Spark's
    symmetric hash join can EVICT state older than watermark + horizon —
    bounded memory on an unbounded stream, the property a batch range
    join can't give you. Append mode; on bounded input the result equals
    the batch interval join (the oracle's assertion).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"user_id = c_user AND click_ts >= purchase_ts - INTERVAL {horizon}"
            " AND click_ts <= purchase_ts"
        ),
    ).select("purchase_id", "click_id", "user_id", F.round("value", 2).alias("purchase_value"))


def stream_stream_attribution_salted(
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    salt: int = 16,
) -> DataFrame:
    """Skew-safe twin of stream_stream_attribution — same rows, same
    oracle, different state layout.

    The symmetric hash join keys its state by the equality columns, so
    one mega-hot user (Zipf keys: the hottest user draws ~15% of all
    events) funnels through ONE state-store partition — measured 555s
    vs 3.1s uniform on the 10x Zipf fixture. Salting the state key
    spreads it: clicks (the stored side) get a deterministic row-hash
    salt in [0, salt); purchases (the probing side) explode x salt so
    every (user, salt) shard is probed. Each click lands in exactly one
    shard, so the joined row set is IDENTICAL — the total comparison
    work is unchanged, but the hot user's state and probe work run on
    `salt` tasks instead of one. Same eviction contract: both sides
    watermarked, time-bound join, append mode. The cost is replicating
    the purchase stream x salt — worth it exactly when one key's state
    partition exceeds its task budget; the plain twin stays the default
    (docs/SCALING.md SKEW: salting below that regime is overhead)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(salt)).cast("int").alias("c_salt"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
            F.explode(F.array(*[F.lit(i) for i in range(salt)])).alias("salt"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"user_id = c_user AND salt = c_salt"
            f" AND click_ts >= purchase_ts - INTERVAL {horizon}"
            " AND click_ts <= purchase_ts"
        ),
    ).select("purchase_id", "click_id", "user_id", F.round("value", 2).alias("purchase_value"))


def incremental_dedup_stream(
    spark,
    watch_dir: str,
    corpus: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shuffle_partitions: int | None = None,
    seed: bool = True,
) -> DataFrame:
    """Streaming incremental exact-dedup: foreachBatch + a fingerprint
    store table — the streaming twin of operators.dedup.dedup_incremental.
    seed=False continues on an existing store (e.g. one rewritten by
    compact_fingerprint_store) instead of overwriting it.

    The store is seeded with the corpus's distinct content fingerprints;
    each microbatch anti-joins its fingerprints against the store, keeps
    min-id survivors within the batch, and appends the new fingerprints
    back to the store. This is the production shape for deduping a crawl
    stream against a 100 TB historical corpus: the store is a table of
    32-char keys (here parquet-append; Delta/Iceberg MERGE in a real
    deployment), the stream never holds dedup state in the state store,
    and each batch's anti-join is a broadcast when the batch is small.

    Returns the surviving (id_col) rows across the whole bounded stream.
    """
    from meteor_spark.operators.text import normalize_text

    fp = F.md5(normalize_text(F.col(text_col)))
    if seed:
        (
            corpus.select(fp.alias("fp"))
            .distinct()
            .withColumn(id_col, F.lit(None).cast("long"))
            .write.mode("overwrite")
            .parquet(store_dir)
        )

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        raw = batch_df.sparkSession.read.parquet(store_dir)
        store_pcol = _store_pfx_col(raw.columns)
        bf = batch_df.select(F.col(id_col), fp.alias("fp"))
        # compacted stores prune the anti-join scan to the batch's own
        # fp-prefix partitions
        seen = pruned_store(raw, bf, "fp").select("fp")
        fresh = bf.join(seen, "fp", "left_anti")
        survivors = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
        out = survivors.select("fp", id_col)
        if store_pcol is not None:
            _partitioned_append(out, store_pcol, "fp", store_dir)
        else:
            out.write.mode("append").parquet(store_dir)

    stream = (
        spark.readStream.schema(f"{id_col} long, {text_col} string")
        .option("maxFilesPerTrigger", "1")
        .parquet(watch_dir)
    )
    _run_foreach_batch(stream, _merge, checkpoint_dir, shuffle_partitions)
    return spark.read.parquet(store_dir).filter(F.col(id_col).isNotNull()).select(id_col)


def _run_foreach_batch(stream, merge_fn, checkpoint_dir: str, shuffle_partitions: int | None) -> None:
    """Drive a foreachBatch availableNow stream to completion, optionally
    pinning spark.sql.shuffle.partitions for its duration.

    foreachBatch has no state store, but every join/groupBy INSIDE the
    batch function plans with the session's shuffle-partition count at
    that moment. Microbatches are typically orders of magnitude smaller
    than the historical corpus, so the session default (sized for batch
    analytics over the full fixture) buys pure task-scheduling overhead
    here — measured 11.6s -> 6.3s on the near-dup gate at 32 -> 4.
    Callers that stream production-sized batches leave this None and
    size the session conf (with AQE coalescing) for their batch volume.
    """
    spark = stream.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream.writeStream.foreachBatch(merge_fn)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _store_pfx_col(columns: list[str]) -> str | None:
    """The compacted store's partition column, or None. The prefix
    LENGTH is encoded in the column name (pfx1/pfx2/...), so readers
    recover it from the schema alone — no extra job, and the writer and
    reader can never disagree."""
    for c in columns:
        if c.startswith("pfx") and c[3:].isdigit():
            return c
    return None


def pruned_store(store_df: DataFrame, batch_df: DataFrame, key: str) -> DataFrame:
    """Partition-pruned view of a COMPACTED hex-keyed store for one
    batch's join: keep only the hive partitions (key-prefix buckets)
    the batch's own keys fall in — IO proportional to the batch's key
    spread, not the whole store. On an uncompacted store (no pfx
    column) this is the identity. The prefix set is collected
    driver-side: it is bounded by min(16^len, batch keys) — the small
    side, collected like a broadcast."""
    pcol = _store_pfx_col(store_df.columns)
    if pcol is None:
        return store_df
    plen = int(pcol[3:])
    pfxs = [
        r[0]
        for r in batch_df.select(F.substring(key, 1, plen).alias("p"))
        .distinct()
        .collect()
    ]
    return store_df.filter(F.col(pcol).isin(pfxs)).drop(pcol)


def pruned_store_bands(store_bands: DataFrame, batch_bands: DataFrame) -> DataFrame:
    """pruned_store over the band store's band_key."""
    return pruned_store(store_bands, batch_bands, "band_key")


def _partitioned_append(df: DataFrame, pcol: str, key: str, path: str) -> None:
    """Append rows to a compacted store in its own partitioned layout
    (plain files at the root of a hive-partitioned dir break partition
    discovery)."""
    (
        df.withColumn(pcol, F.substring(key, 1, int(pcol[3:])))
        .write.partitionBy(pcol)
        .mode("append")
        .parquet(path)
    )


# Amortization stats from the latest store-lifecycle run in this
# process (bench.py reads these to publish per-microbatch / per-MB
# line items alongside the raw gate timings — the raw numbers measure
# a whole multi-microbatch pipeline as one figure, which hides whether
# growth is per-batch fixed cost or state-size cost).
LAST_STATS: dict[str, float] = {}


def _compact_dataset(
    spark,
    live: str,
    key_cols: list[str],
    prefix_col: str | None = None,
    range_col: str | None = None,
) -> dict:
    """Dedup + relayout one parquet-append dataset, verify
    losslessness, atomically swap. prefix_col: hex key to
    hive-partition by (1-char buckets for small sets, 2 past ~100k
    rows, length encoded in the partition column name); range_col:
    range-partition instead (point-lookup-by-id access path)."""
    import os
    import shutil

    from meteor_spark.io import list_data_files

    n = max(spark.sparkContext.defaultParallelism, 1)

    def _footer_rows(files: list[tuple[str, int]]) -> int | None:
        """Exact row count from parquet FOOTER metadata — zero data
        pages, zero Spark jobs (the footer_stats stance): the
        before/after row counts here are whole-file counts with no
        filter, which footers carry exactly. Local paths only; on a
        non-local filesystem return None and let the caller fall back
        to a count() job."""
        import pyarrow.parquet as pq

        total = 0
        for p, _ in files:
            if p.startswith("file:"):
                p = p[len("file:"):]
            elif "://" in p:
                return None
            total += pq.read_metadata(p).num_rows
        return total

    tmp = f"{live.rstrip('/')}__compacting"
    old = f"{live.rstrip('/')}__pre_compact"
    shutil.rmtree(tmp, ignore_errors=True)
    # crash recovery: the swap below is two renames, and a crash
    # between them leaves the data only at __pre_compact. Restore it
    # before touching anything. (Compaction is an OFFLINE maintenance
    # op — stop the stream first; a reader racing the swap can see a
    # missing or half-swapped directory.)
    if not os.path.isdir(live) and os.path.isdir(old):
        shutil.move(old, live)
    df = spark.read.parquet(live)
    # a re-compaction drops the old partition column; the key column
    # carries the full information
    df = df.drop(*[c for c in df.columns if _store_pfx_col([c])])
    # tolerate ONLY the optional __corpus origin marker going missing
    # (stores written before it existed): any other absent key column
    # means this directory is not the store we were pointed at, and
    # dropDuplicates([]) would collapse it to one row — refuse instead
    # of destroying it (the losslessness gate below can't catch this:
    # `expect` derives from the same deduped frame).
    missing = [c for c in key_cols if c not in df.columns and c != "__corpus"]
    key_cols = [c for c in key_cols if c in df.columns]
    if missing or not key_cols:
        raise RuntimeError(
            f"compaction of {live} refused: key column(s) {missing or key_cols!r} "
            f"absent from store schema {df.columns}; live store untouched"
        )
    in_files = list_data_files(spark, live)
    files_before, bytes_before = len(in_files), sum(sz for _, sz in in_files)
    rows_before = _footer_rows(in_files)
    if rows_before is None:
        rows_before = df.count()
    deduped = df.dropDuplicates(key_cols).persist()
    expect = deduped.count()
    if prefix_col is not None:
        plen = 2 if expect > 100_000 else 1
        pcol = f"pfx{plen}"
        (
            deduped.withColumn(pcol, F.substring(prefix_col, 1, plen))
            .repartition(pcol)
            .write.partitionBy(pcol)
            .mode("overwrite")
            .parquet(tmp)
        )
    else:
        deduped.repartitionByRange(n, range_col).write.mode("overwrite").parquet(tmp)
    deduped.unpersist()
    # losslessness gate before the swap: the compacted dir must hold
    # exactly the distinct rows of the live dir (row count from the
    # just-written footers — no extra scan job)
    rows_after = _footer_rows(list_data_files(spark, tmp))
    if rows_after is None:
        rows_after = spark.read.parquet(tmp).count()
    if rows_after != expect:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction of {live} lost rows ({rows_after} != {expect}); "
            "live store untouched"
        )
    shutil.rmtree(old, ignore_errors=True)
    shutil.move(live, old)
    shutil.move(tmp, live)
    shutil.rmtree(old, ignore_errors=True)
    out_files = list_data_files(spark, live)
    return {
        "files": (files_before, len(out_files)),
        "bytes": (bytes_before, sum(sz for _, sz in out_files)),
        "rows": (rows_before, rows_after),
    }


def compact_fingerprint_store(spark, store_dir: str, id_col: str = "doc_id") -> dict:
    """Maintenance compaction for the exact-dedup fingerprint store
    (incremental_dedup_stream's parquet-append table of (fp, id)):
    drop at-least-once duplicate appends and rewrite hive-partitioned
    by an fp hex prefix, so each batch's anti-join prunes to the
    partitions its own fingerprints fall in. Same lifecycle contract
    as compact_neardup_store (losslessness check, atomic swap)."""
    return {"fingerprints": _compact_dataset(spark, store_dir, ["fp", id_col], prefix_col="fp")}


def compact_neardup_store(spark, store_dir: str, id_col: str = "doc_id") -> dict:
    """Maintenance compaction for the incremental near-dup store
    (incremental_neardup_stream's parquet-append layout).

    Why: every microbatch appends one small file to bands/ and
    shingles/, and an at-least-once retry (foreachBatch replay after a
    checkpoint rollback) can append the same survivors twice.
    Duplicate rows never change candidate SEMANTICS (the candidate
    join distinct-s), but they inflate every future batch's scan and
    verify work, and the file count grows without bound.

    One pass each:
      1. bands/: drop duplicate (id, band, band_key) rows, rewrite
         hive-partitioned by a band_key hex prefix — 1 char (16
         buckets) for small stores, 2 (256) past ~100k rows, the
         length encoded in the partition column name —
         incremental_neardup_stream then prunes each batch's
         candidate join to the partitions its own keys hash into
         (pruned_store_bands);
      2. shingles/: drop duplicate (id, __corpus) rows — NOT bare ids:
         the corpus and stream doc_id spaces are independent (that's
         why the __corpus origin marker exists), so a collision holds
         two legitimate rows per id and a bare-id dedup would silently
         drop one of them, either erasing a stream survivor from the
         final readout or verifying later candidates against the wrong
         shingle set. At-least-once duplicate appends are FULL-ROW
         duplicates, so the (id, __corpus) key still removes them all.
         Range-partition by id (the verify join's access path);
      3. verify losslessness (distinct contents unchanged) BEFORE
         atomically swapping the live directories.

    Returns per-dataset (files_before, files_after, rows_before,
    rows_after). Run it like any table-maintenance job — off the hot
    path, whenever file count or duplicate ratio crosses a threshold,
    and with the stream STOPPED: the directory swap is two renames,
    not atomic to a concurrent reader. A compaction that crashes
    mid-swap is self-repairing — the next call restores the live dir
    from __pre_compact before doing anything else.
    """
    import time

    t0 = time.time()
    # bands/ and shingles/ are independent datasets in disjoint dirs;
    # compacting them concurrently overlaps the two rewrite jobs
    # (guide §2.6) instead of leaving the cluster idle during each
    # one's dedup/write/verify sequence.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(
            _compact_dataset,
            spark, f"{store_dir}/bands", [id_col, "band", "band_key"],
            prefix_col="band_key",
        )
        fs = pool.submit(
            _compact_dataset,
            spark, f"{store_dir}/shingles", [id_col, "__corpus"],
            range_col=id_col,
        )
        rep = {"bands": fb.result(), "shingles": fs.result()}
    LAST_STATS["compact_sec"] = time.time() - t0
    LAST_STATS["compact_bytes_in"] = (
        rep["bands"]["bytes"][0] + rep["shingles"]["bytes"][0]
    )
    return rep


def incremental_neardup_stream(
    spark,
    watch_dir: str,
    corpus: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    shuffle_partitions: int | None = None,
    seed: bool = True,
) -> DataFrame:
    """Streaming incremental NEAR-dup dedup: each microbatch is checked
    against a persistent LSH band store by shingle-Jaccard SIMILARITY,
    not just exact fingerprints — the production shape for "drop crawl
    pages that are 90% boilerplate-identical to something we already
    have".

    Store layout (parquet-append; Delta/Iceberg MERGE in a real
    deployment): `bands/` holds (doc_id, band, band_key) — a few dozen
    bytes per historical doc — and `shingles/` holds (doc_id, sh) for
    exact verification of the FEW band-collision candidates. Per batch:

      1. shingle + minhash-band the batch (the same sketch family as
         operators.dedup, so batch vs store collisions mean the same
         thing as batch-mode LSH);
      2. candidates = batch bands ⋈ store bands on (band, band_key) —
         an equi-join that touches only colliding keys, never the
         corpus;
      3. exact Jaccard verify against the stored shingle sets; matches
         >= threshold are dropped;
      4. batch-internal near-dups collapse to the min-id survivor;
      5. survivors append their bands + shingles to the store (matching
         the store's layout — partitioned appends on a compacted store).

    Returns the surviving id rows across the whole bounded stream.
    seed=False skips the corpus seeding and continues on an existing
    store — the production continuation path after a restart or a
    compact_neardup_store rewrite.
    """
    from meteor_spark.operators.dedup import minhash_signature, shingle_frame

    rows = num_hashes // bands

    def _bands_of(sh_df: DataFrame) -> DataFrame:
        base = sh_df.select(F.col(id_col), minhash_signature(F.col("sh"), num_hashes).alias("sig"))
        structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.element_at(F.col("sig"), b * rows + r + 1).cast("string") for r in range(rows)],
                        )
                    ).alias("band_key"),
                )
                for b in range(bands)
            ]
        )
        return base.select(F.col(id_col), F.explode(structs).alias("bk")).select(
            F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
        )

    # origin marker travels WITH the store rows (the exact-dedup twin's
    # NULL-id trick): identifying stream survivors by anti-joining ids
    # against the corpus would silently drop any stream doc whose id
    # collides with a corpus id — the two id spaces are independent.
    # seed=False continues ingestion on an EXISTING store (e.g. one
    # rewritten by compact_neardup_store) instead of overwriting it.
    if seed:
        corpus_sh = shingle_frame(corpus, text_col, id_col, k).persist()
        # the two seed writes are independent jobs over the persisted
        # shingle frame; overlapping them (guide §2.6) hides the
        # cheaper write inside the band-hash one. Concurrent first
        # actions race the cache fill, which at worst computes a
        # partition twice on otherwise-idle cores.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            w1 = pool.submit(
                lambda: corpus_sh.withColumn("__corpus", F.lit(True))
                .write.mode("overwrite")
                .parquet(f"{store_dir}/shingles")
            )
            w2 = pool.submit(
                lambda: _bands_of(corpus_sh)
                .write.mode("overwrite")
                .parquet(f"{store_dir}/bands")
            )
            w1.result(); w2.result()
        corpus_sh.unpersist()

    n_batches = 0

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        s = batch_df.sparkSession
        sh_b = shingle_frame(batch_df, text_col, id_col, k).persist()
        b_b = _bands_of(sh_b).persist()

        # compacted stores are hive-partitioned by band_key prefix:
        # prune the candidate scan to the batch's own prefixes, and
        # remember the layout — appends must match it (plain files at
        # the root of a partitioned dir break partition discovery)
        raw_bands = s.read.parquet(f"{store_dir}/bands")
        store_pcol = _store_pfx_col(raw_bands.columns)
        store_bands = pruned_store_bands(raw_bands, b_b)
        store_sh = s.read.parquet(f"{store_dir}/shingles")

        # batch vs store: band collision -> exact verify
        cand = (
            b_b.join(store_bands.withColumnRenamed(id_col, "__old"), ["band", "band_key"])
            .select(F.col(id_col), "__old")
            .distinct()
        )
        osh = store_sh.select(F.col(id_col).alias("__old"), F.col("sh").alias("osh"))
        si = F.size(F.array_intersect("sh", "osh"))
        jac = si.cast("double") / (F.size("sh") + F.size("osh") - si)
        dup_of_store = (
            cand.join(sh_b, id_col)
            .join(osh, "__old")
            .filter(jac >= threshold)
            .select(id_col)
            .distinct()
        )

        # batch-internal: min-id survivor among near-dup pairs
        l, r = b_b.alias("l"), b_b.alias("r")
        pairs = (
            l.join(r, ["band", "band_key"])
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
            .distinct()
        )
        sa = sh_b.select(F.col(id_col).alias("a"), F.col("sh").alias("ash"))
        sb = sh_b.select(F.col(id_col).alias("b"), F.col("sh").alias("bsh"))
        si2 = F.size(F.array_intersect("ash", "bsh"))
        jac2 = si2.cast("double") / (F.size("ash") + F.size("bsh") - si2)
        dup_in_batch = (
            pairs.join(sa, "a").join(sb, "b").filter(jac2 >= threshold)
            .select(F.col("b").alias(id_col))
            .distinct()
        )

        dropped = dup_of_store.unionByName(dup_in_batch).distinct()
        survivors_sh = sh_b.join(dropped, id_col, "left_anti").persist()

        # the two survivor appends touch disjoint store dirs and both
        # read the persisted survivor frame — overlap them (§2.6, the
        # same move as the seed writes)
        def _append_shingles() -> None:
            survivors_sh.withColumn("__corpus", F.lit(False)).write.mode(
                "append"
            ).parquet(f"{store_dir}/shingles")

        def _append_bands() -> None:
            nb = _bands_of(survivors_sh)
            if store_pcol is not None:
                _partitioned_append(nb, store_pcol, "band_key", f"{store_dir}/bands")
            else:
                nb.write.mode("append").parquet(f"{store_dir}/bands")

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            a1 = pool.submit(_append_shingles)
            a2 = pool.submit(_append_bands)
            a1.result(); a2.result()
        sh_b.unpersist(); b_b.unpersist(); survivors_sh.unpersist()

    stream = (
        spark.readStream.schema(f"{id_col} long, {text_col} string")
        .option("maxFilesPerTrigger", "1")
        .parquet(watch_dir)
    )
    import time

    t0 = time.time()
    _run_foreach_batch(stream, _merge, checkpoint_dir, shuffle_partitions)
    LAST_STATS["neardup_stream_sec"] = time.time() - t0
    LAST_STATS["neardup_stream_batches"] = n_batches
    return (
        spark.read.parquet(f"{store_dir}/shingles")
        .filter(~F.col("__corpus"))
        .select(id_col)
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the documents fixture (schema from the file
    footer, like stream_events — regeneration-proof)."""
    schema = spark.read.option("pathGlobFilter", "documents.parquet").parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def ttl_dedup_stream(
    spark: SparkSession,
    watch_dir: str,
    key_col: str = "k",
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with a TTL (dropDuplicatesWithinWatermark):
    the first event per key is emitted and opens a state entry that
    expires `delay` after ITS OWN event time; re-occurrences are
    dropped while that state is live and RE-ADMITTED once the
    watermark has evicted it — the retransmission-dedup semantics a
    plain dropDuplicates (state never expires, memory grows with keys
    forever) cannot give at stream scale. State size is bounded by
    keys-live-within-delay, not by history.

    File-per-microbatch source (maxFilesPerTrigger=1, mtime order —
    the incremental-dedup gates' construction), append mode. The
    eviction rule is: state expiry = first_ts + delay, evicted when
    the watermark (max event time of PRIOR batches - delay) passes
    it; rows themselves must sit above the watermark (the gate's
    fixture keeps wide margins on both boundaries so an off-by-one
    in either engine's comparator cannot flip a row)."""
    s = (
        spark.readStream.schema(f"{key_col} long, {ts_col} timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch_dir)
    )
    out = s.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark([key_col])
    return run_stream_to_batch(out, output_mode="append")
