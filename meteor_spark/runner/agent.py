"""The pipeline runner — the Spark translation of the reference agent.

Reference behavior being mirrored (agent/agent.go):
  - Run(recipe): build source -> processor chain -> fan-out to sinks,
    produce a Run report {recipe, error, duration_ms, record_count,
    success} (agent/agent.go:116-192, agent/run.go:18-24).
  - Validate(recipe): every named plugin must exist and its config must
    validate; errors are collected, not fail-fast (agent/agent.go:60-91).
  - RunMultiple: recipes run concurrently, one failure does not affect
    others, results keep input order (agent/agent.go:94-113).
  - stop_on_sink_error: a sink failure aborts the run only when the flag
    is set; otherwise it is logged and the run continues
    (agent/agent.go:270-275, config/config.go:18).
  - sink retries with exponential backoff on RetryError only
    (agent/retrier.go).
  - record-count middleware counts every extracted record
    (agent/agent.go:153-157).

Spark-first divergences (SURVEY.md §4 — deliberate):
  - The record stream is a DataFrame; the middleware chain is a
    .transform() chain fused by whole-stage codegen, not a per-record
    loop.
  - Driver-built asset sets (sources.base.assets_df) arrive as an Arrow
    LocalRelation, into which row-local processors (filter, enrich) fold
    at optimization. While the frame is local (sources.base.is_local)
    the record count and the driver-side sinks' shared to_json pass
    (sinks.file.json_lines) read the rows in place: no cache, no job.
  - Any other frame is persisted before fan-out, so each sink re-reads
    the cache instead of re-running the extractor — the analogue of the
    reference's per-subscriber channels fed by one extraction pass
    (agent/stream.go:51-103). Its record count is df.count() on the
    cache, and json_lines streams it one job per partition.
"""

from __future__ import annotations

import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from meteor_spark import registry
from meteor_spark.plugins_base import InvalidConfigError
from meteor_spark.recipe import Recipe
from meteor_spark.runner import retrier
from meteor_spark.sources.base import is_local

log = logging.getLogger(__name__)


@dataclass
class Run:
    """Per-recipe run report (reference: agent/run.go:18-24)."""

    recipe: Recipe
    error: str | None = None
    duration_ms: int = 0
    record_count: int = 0
    success: bool = False
    sink_records: dict[str, int] = field(default_factory=dict)


@dataclass
class Agent:
    spark: SparkSession
    stop_on_sink_error: bool = False
    max_retries: int = retrier.DEFAULT_MAX_RETRIES
    retry_initial_interval_s: float = retrier.DEFAULT_INITIAL_INTERVAL_S
    monitors: list = field(default_factory=list)  # objects with record_run(Run)
    _cancelled: bool = field(default=False, init=False, repr=False)

    def validate(self, recipe: Recipe) -> list[Exception]:
        """Collect every plugin-not-found / invalid-config error
        (reference: agent/agent.go:60-91)."""
        return [e for _, e in self.validate_located(recipe)]

    def validate_located(self, recipe: Recipe):
        """(plugin, error) pairs so callers (lint) can report the YAML
        key path and line of each failing entry (reference keeps the
        yaml.Node per section for this — cmd/lint.go:144-177)."""
        errors: list = []
        specs = [(registry.extractors, recipe.source)]
        specs += [(registry.sinks, s) for s in recipe.sinks]
        specs += [(registry.processors, p) for p in recipe.processors]
        for reg, plug in specs:
            try:
                instance = reg.get(plug.name)
                instance.validate(plug.config)
            except (registry.NotFoundError, InvalidConfigError) as e:
                errors.append((plug, e))
        return errors

    def run(self, recipe: Recipe) -> Run:
        report = Run(recipe=recipe)
        if self._cancelled:  # cancelled agent: fail fast, never submit
            report.error = "cancelled"
            report.success = False
            for m in self.monitors:  # cancelled runs still hit telemetry
                try:
                    m.record_run(report)
                except Exception:  # noqa: BLE001
                    log.exception("monitor failed")
            return report
        started = time.monotonic()
        df: DataFrame | None = None
        try:
            extractor = registry.extractors.get(recipe.source.name)
            extractor.init(recipe.source.config)
            procs = []
            for p in recipe.processors:
                proc = registry.processors.get(p.name)
                proc.init(p.config)
                procs.append(proc)
            sink_instances = []
            for s in recipe.sinks:
                sink = registry.sinks.get(s.name)
                sink.init(s.config)
                sink_instances.append((s.name, sink))

            df = extractor.extract(self.spark)
            for proc in procs:
                df = proc.process(df)

            # record-count middleware (agent.go:153-157), then one action
            # per sink (agent/stream.go:92-103). A frame not already on the
            # driver is cached first, or each action re-runs the pipeline
            if is_local(df):
                report.record_count = len(df.select().collect())
            else:
                df = df.persist()
                report.record_count = df.count()

            sink_errors: list[str] = []
            for name, sink in sink_instances:
                try:
                    written = retrier.retry(
                        lambda s=sink: s.sink(df),
                        max_retries=self.max_retries,
                        initial_interval_s=self.retry_initial_interval_s,
                    )
                    report.sink_records[name] = written if written is not None else report.record_count
                except Exception as e:  # noqa: BLE001 — sink failure policy below
                    if self.stop_on_sink_error:
                        raise
                    log.error("sink %s failed (continuing): %s", name, e)
                    sink_errors.append(f"{name}: {e}")
                finally:
                    sink.close()
            report.success = True
            if sink_errors:
                report.error = "; ".join(sink_errors)
        except Exception as e:  # noqa: BLE001 — report-shaped error handling
            report.error = str(e)
            report.success = False
        finally:
            # a cancel() that raced this run ALWAYS fails the report,
            # even when the aborted job was a sink action that the
            # continue-on-sink-error policy would otherwise swallow —
            # the reference's ctx.Done() ends the run as failed
            # regardless of which stage it interrupted (agent.go:160-164)
            if self._cancelled:
                report.success = False
                report.error = report.error or "cancelled"
            if df is not None and df.is_cached:
                df.unpersist()
            report.duration_ms = int((time.monotonic() - started) * 1000)
            for m in self.monitors:
                try:
                    m.record_run(report)
                except Exception:  # noqa: BLE001
                    log.exception("monitor failed")
        return report

    def cancel(self) -> None:
        """Graceful cancel: abort every in-flight Spark job (the analogue
        of the reference's ctx.Done() closing the stream,
        agent/agent.go:160-164). Wire to SIGINT/SIGTERM in the CLI.

        Like a cancelled Go context, the agent stays cancelled: runs in
        flight report failed even if their current action completed, and
        later runs on this instance fail fast — build a fresh Agent (the
        SparkSession itself remains usable; this never stops it)."""
        self._cancelled = True
        if self.spark is not None:
            self.spark.sparkContext.cancelAllJobs()

    def run_multiple(self, recipes: list[Recipe], max_workers: int = 8) -> list[Run]:
        """Concurrent recipe execution, input order preserved
        (reference: agent/agent.go:94-113)."""
        if not recipes:
            return []
        with ThreadPoolExecutor(max_workers=min(max_workers, len(recipes))) as pool:
            return list(pool.map(self.run, recipes))


class LoggingMonitor:
    """Minimal Monitor (reference: agent/monitor.go:8-11; statsd metric
    names runDuration/run/runRecordCount at metrics/statsd.go:37-64)."""

    def __init__(self) -> None:
        self.runs: list[dict[str, Any]] = []

    def record_run(self, run: Run) -> None:
        rec = {
            "runDuration": run.duration_ms,
            "run": 1,
            "runRecordCount": run.record_count,
            "recipe": run.recipe.name,
            "extractor": run.recipe.source.name,
            "success": run.success,
        }
        self.runs.append(rec)
        log.info("run report: %s", rec)


class RunHistoryMonitor:
    """Monitor that lands run telemetry in a QUERYABLE parquet table —
    the Spark-native evolution of the reference's fire-and-forget statsd
    counters (metrics/statsd.go:37-64): same fields (runDuration, run,
    runRecordCount + success/recipe/extractor tags), but appended to a
    table you can aggregate over ("which recipes regressed this week?",
    "records/day per extractor") with the engine itself.

    Appends one small file per run; compact periodically with
    io.compact_files like any other high-frequency append table.
    """

    SCHEMA = (
        "ts timestamp, recipe string, extractor string, success boolean, "
        "duration_ms long, record_count long, error string"
    )

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def record_run(self, run: Run) -> None:
        import datetime

        row = [
            (
                datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None),
                run.recipe.name,
                run.recipe.source.name,
                run.success,
                run.duration_ms,
                run.record_count,
                run.error,
            )
        ]
        self.spark.createDataFrame(row, self.SCHEMA).write.mode("append").parquet(self.path)

    def history(self) -> DataFrame:
        return self.spark.read.parquet(self.path)
