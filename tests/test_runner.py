"""Agent runner: validate, run, multi-sink fan-out, sink error policy,
retry classification — mirrors reference agent/agent_test.go behaviors
with mock plugins (SURVEY.md §5 layer 1)."""

from __future__ import annotations

import json

import pytest

from meteor_spark import registry
from meteor_spark.plugins_base import Extractor, Field, InvalidConfigError, RetryError, Sink, build_config
from meteor_spark.recipe.loader import PluginRecipe, Recipe
from meteor_spark.runner import Agent
from meteor_spark.runner.agent import LoggingMonitor
from meteor_spark.runner.retrier import retry
from meteor_spark.sources.base import assets_df


@pytest.fixture(scope="module", autouse=True)
def mock_plugins(request):
    calls = {"fail_once": 0, "cache_seen": []}

    class MockExtractor(Extractor):
        CONFIG = {"n": Field(default=3, type=int)}

        def extract(self, spark):
            return spark.range(self.config["n"]).withColumnRenamed("id", "v")

    class DocsExtractor(Extractor):
        def extract(self, spark):
            from pyspark.sql import functions as F

            i = F.col("id")
            return spark.range(8).select(
                i.alias("doc_id"),
                F.when(i % 2 == 0, "en").otherwise("fr").alias("lang"),
                F.concat(F.lit("the quick doc "), i.cast("string")).alias("text"),
            )

    class LocalExtractor(Extractor):
        def extract(self, spark):
            return assets_df(spark, [{"asset_type": "Table"}, {"asset_type": "Topic"}])

    class CacheProbeSink(Sink):
        def sink(self, df):
            calls["cache_seen"].append((df.is_cached, _persistent_rdds(df.sparkSession)))

    class CollectSink(Sink):
        rows: list = []

        def sink(self, df):
            rows = [json.loads(s) for s in df.toJSON().collect()]
            CollectSink.rows.extend(rows)
            return len(rows)

    class FailingSink(Sink):
        def sink(self, df):
            raise RuntimeError("permanent boom")

    class FlakySink(Sink):
        def sink(self, df):
            calls["fail_once"] += 1
            if calls["fail_once"] == 1:
                raise RetryError("503")
            return df.count()

    for name, cls, reg in [
        ("mock", MockExtractor, registry.extractors),
        ("mock_local", LocalExtractor, registry.extractors),
        ("mock_docs", DocsExtractor, registry.extractors),
        ("cache_probe", CacheProbeSink, registry.sinks),
        ("collect", CollectSink, registry.sinks),
        ("failing", FailingSink, registry.sinks),
        ("flaky", FlakySink, registry.sinks),
    ]:
        if not reg.has(name):
            reg.register(name, cls)
    return calls


def _recipe(sinks, source_cfg=None, source="mock"):
    return Recipe(
        name="r1",
        version="v1beta1",
        source=PluginRecipe(source, source_cfg or {}),
        sinks=[PluginRecipe(s) for s in sinks],
    )


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_validate_collects_errors():
    # reference: agent/agent.go:60-91 — all errors collected, not fail-fast
    r = Recipe(
        name="bad",
        version="v1beta1",
        source=PluginRecipe("nope", {}),
        sinks=[PluginRecipe("also-nope")],
    )
    agent = Agent(spark=None)
    errs = agent.validate(r)
    assert len(errs) == 2
    assert all(isinstance(e, registry.NotFoundError) for e in errs)


def test_run_happy_path(spark):
    agent = Agent(spark)
    run = agent.run(_recipe(["collect"], {"n": 5}))
    assert run.success and run.error is None
    assert run.record_count == 5
    assert run.sink_records["collect"] == 5
    assert run.duration_ms >= 0


def test_local_source_runs_without_cache(spark, mock_plugins):
    # a LocalRelation frame is counted and sunk in place: never persisted
    before = _persistent_rdds(spark)
    mock_plugins["cache_seen"].clear()
    run = Agent(spark).run(_recipe(["cache_probe", "collect"], source="mock_local"))
    assert run.success and run.error is None
    assert run.record_count == 2 and run.sink_records["collect"] == 2
    assert mock_plugins["cache_seen"] == [(False, before)]
    assert _persistent_rdds(spark) == before


def test_non_local_source_persists_for_sinks_then_releases(spark, mock_plugins):
    # any other frame is cached before fan-out and released after the run
    before = _persistent_rdds(spark)
    mock_plugins["cache_seen"].clear()
    run = Agent(spark).run(_recipe(["cache_probe", "collect"], {"n": 4}))
    assert run.success and run.error is None
    assert run.record_count == 4 and run.sink_records["collect"] == 4
    assert mock_plugins["cache_seen"] == [(True, before + 1)]
    assert _persistent_rdds(spark) == before


def test_processor_caches_released_with_run(spark):
    # reweight's dsir_log_weights caches a per-(doc, bucket) frame; the
    # run's cache scope releases it with the fanned-out frame
    spark.catalog.clearCache()
    recipe = _recipe(["collect"], source="mock_docs")
    recipe.processors = [PluginRecipe("reweight", {"target_col": "lang", "target_value": "en"})]
    run = Agent(spark).run(recipe)
    assert run.success and run.error is None
    assert run.record_count == 8
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_sink_failure_logged_not_fatal(spark):
    # reference: agent/agent.go:270-275 — default log-and-continue
    agent = Agent(spark)
    run = agent.run(_recipe(["failing", "collect"]))
    assert run.success
    assert "permanent boom" in (run.error or "")
    assert run.sink_records.get("collect") == 3


def test_stop_on_sink_error(spark):
    # reference: config/config.go:18 STOP_ON_SINK_ERROR=true aborts
    agent = Agent(spark, stop_on_sink_error=True)
    run = agent.run(_recipe(["failing"]))
    assert not run.success
    assert "permanent boom" in run.error


def test_retry_only_retry_errors(spark, mock_plugins):
    # reference: agent/retrier.go:36-59 — RetryError retried w/ backoff
    agent = Agent(spark, retry_initial_interval_s=0.01)
    run = agent.run(_recipe(["flaky"]))
    assert run.success and run.error is None
    assert mock_plugins["fail_once"] == 2  # one failure + one retry


def test_retrier_gives_up():
    attempts = []

    def boom():
        attempts.append(1)
        raise RetryError("always")

    with pytest.raises(RetryError):
        retry(boom, max_retries=3, initial_interval_s=0, sleep=lambda s: None)
    assert len(attempts) == 4  # initial + 3 retries


def test_run_multiple_isolated(spark):
    # reference: agent/agent.go:94-113 — one failure doesn't affect others
    agent = Agent(spark)
    bad = Recipe(name="bad", version="v1beta1", source=PluginRecipe("nope"), sinks=[PluginRecipe("collect")])
    runs = agent.run_multiple([_recipe(["collect"]), bad])
    assert [r.success for r in runs] == [True, False]
    assert runs[0].recipe.name == "r1" and runs[1].recipe.name == "bad"


def test_monitor_records(spark):
    mon = LoggingMonitor()
    agent = Agent(spark, monitors=[mon])
    agent.run(_recipe(["collect"]))
    assert mon.runs and mon.runs[-1]["runRecordCount"] == 3
    assert mon.runs[-1]["extractor"] == "mock"


def test_build_config_validation():
    # reference: utils/config.go:29-55 semantics
    spec = {"path": Field(required=True), "fmt": Field(default="json", oneof=("json", "yaml"))}
    cfg = build_config({"path": "x"}, spec)
    assert cfg == {"path": "x", "fmt": "json"}
    with pytest.raises(InvalidConfigError) as ei:
        build_config({"fmt": "xml"}, spec)
    keys = {e.key for e in ei.value.errors}
    assert keys == {"path", "fmt"}


def test_curate_processor_cuts(spark):
    """Each curation knob removes exactly the rows it should."""
    from meteor_spark.registry import processors as proc_registry

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house with a friend"),  # keeps
            (2, "the cat and the dog sat in the house with a friend"),  # exact dup of 1
            (3, "tiny"),                                                # < min_tokens
            (4, "xq zzz !!! ### @@@ %% ^^ && ** (( ))"),                # low quality
            (5, "mail me at john.doe@example.com for the cat and the dog details ok"),  # pii -> scrubbed, kept
        ],
        "doc_id long, text string",
    )
    p = proc_registry.get("curate")
    p.init({"min_tokens": 3, "min_quality": 0.3, "scrub_pii": True, "dedup": True})
    out = p.process(docs).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 5]
    scrubbed = next(r["text"] for r in out if r["doc_id"] == 5)
    assert "john.doe@example.com" not in scrubbed


def test_parquet_table_extractor_projects_and_filters(spark, sf_dir):
    from meteor_spark.registry import extractors as ex_registry

    ex = ex_registry.get("parquet_table")
    ex.init({"path": f"{sf_dir}/documents.parquet", "columns": ["doc_id", "lang"], "where": "lang = 'en'"})
    df = ex.extract(spark)
    assert df.columns == ["doc_id", "lang"]
    assert df.count() > 0
    assert df.filter("lang <> 'en'").count() == 0
    # projection + predicate must reach the scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_run_history_monitor_is_queryable(spark, tmp_path):
    """Run telemetry lands in a parquet table aggregable by the engine
    itself - the queryable evolution of the reference's statsd counters."""
    from meteor_spark.recipe.loader import PluginRecipe, Recipe
    from meteor_spark.runner.agent import Agent, RunHistoryMonitor

    csv = tmp_path / "h.csv"
    csv.write_text("a,b\n1,2\n")
    hist_path = str(tmp_path / "run_history")
    mon = RunHistoryMonitor(spark, hist_path)
    agent = Agent(spark, monitors=[mon])
    recipe = Recipe(
        name="hist_demo",
        version="v1beta1",
        source=PluginRecipe(name="csv", config={"path": str(csv)}),
        sinks=[PluginRecipe(name="console")],
    )
    for _ in range(2):
        r = agent.run(recipe)
        assert r.success

    h = mon.history()
    assert h.count() == 2
    from pyspark.sql import functions as F

    agg = h.groupBy("recipe", "extractor").agg(
        F.count("*").alias("n_runs"),
        F.sum("record_count").alias("total_records"),
        F.max("success").alias("any_success"),
    ).first()
    assert agg["n_runs"] == 2 and agg["extractor"] == "csv" and agg["any_success"] is True


def test_curate_entropy_and_novelty_gates(spark):
    from meteor_spark.registry import processors as proc_registry

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog daily"),  # keeps
            (2, "aaaa aaaa aaaa aaaa aaaa aaaa aaaa"),                 # low entropy
            (3, "the quick brown fox jumps over the lazy dog daily plus"),  # recombination of 1
        ],
        "doc_id long, text string",
    )
    p = proc_registry.get("curate")
    p.init({"min_char_entropy": 2.0})
    assert sorted(r["doc_id"] for r in p.process(docs).collect()) == [1, 3]
    p2 = proc_registry.get("curate")
    p2.init({"min_novelty": 0.5})
    # docs 1 and 3 share most 3-grams -> both fall below the novelty
    # floor; the low-entropy doc 2 is fully self-unique
    assert sorted(r["doc_id"] for r in p2.process(docs).collect()) == [2]


def test_cancel_aborts_inflight_run(spark):
    # reference agent/agent.go:160-164: ctx cancellation closes the
    # stream and the run reports failure. Here: a genuinely in-flight
    # Spark action (slow per-row UDF) cancelled from another thread via
    # Agent.cancel() -> sparkContext.cancelAllJobs(); run() must catch
    # the job abort and mark the report failed, never hang or succeed.
    import os
    import tempfile
    import threading
    import time as _time
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # touched by the FIRST udf invocation (local mode shares the fs):
    # the test cancels only after this exists, so the job is provably
    # mid-task — polling getActiveJobsIds alone flaked when a lingering
    # job from an earlier test in the shared session matched the poll
    # and cancel fired before this job's tasks ever started
    marker = os.path.join(tempfile.gettempdir(), f"cancel_marker_{uuid.uuid4().hex}")

    class SlowExtractor(Extractor):
        CONFIG = {}

        def extract(self, sp):
            @F.udf(LongType())
            def crawl(v):
                open(marker, "a").close()
                _time.sleep(2.0)
                return v

            # 128 rows x 2s across <=32 cores = 4+ task waves (~8s of
            # wall clock): wide enough that cancel lands while tasks
            # are genuinely running even on a loaded box (0.5s x 1 wave
            # flaked under a full-suite run — the job finished in the
            # gap between the active-job poll and the cancel call)
            return sp.range(128).repartition(32).select(crawl("id").alias("v"))

    if not registry.extractors.has("slow"):
        registry.extractors.register("slow", SlowExtractor)

    agent = Agent(spark)
    recipe = Recipe(
        name="cancelme",
        version="v1beta1",
        source=PluginRecipe("slow", {}),
        sinks=[PluginRecipe("collect")],
    )
    result: dict = {}

    def go():
        result["run"] = agent.run(recipe)

    t = threading.Thread(target=go)
    t.start()
    # cancelAllJobs only aborts ACTIVE jobs — wait for the udf's own
    # started-signal, which can only appear while a task is running
    deadline = _time.time() + 60
    while not os.path.exists(marker) and _time.time() < deadline:
        _time.sleep(0.05)
    assert os.path.exists(marker), "no task ever started"
    agent.cancel()
    t.join(timeout=60)
    assert not t.is_alive(), "run did not terminate after cancel"
    run = result["run"]
    assert run.success is False
    assert run.error  # the cancellation surfaced in the report
    # the session must remain usable for the next run (cancel, not stop)
    assert spark.range(3).count() == 3


def test_cancelled_agent_fails_fast_and_still_hits_monitors(spark):
    # a cancelled agent behaves like a closed context: later runs fail
    # fast — but telemetry must still see them (reference: the statsd
    # monitor records every run, success or not)
    recorded = []

    class Probe:
        def record_run(self, run):
            recorded.append(run)

    agent = Agent(spark, monitors=[Probe()])
    agent.cancel()
    recipe = Recipe(
        name="late",
        version="v1beta1",
        source=PluginRecipe("csv", {"path": "/nonexistent"}),
        sinks=[PluginRecipe("console")],
    )
    run = agent.run(recipe)
    assert run.success is False
    assert run.error == "cancelled"
    assert recorded and recorded[0] is run


def test_registry_get_does_not_mask_constructor_keyerror():
    # regression: the factory CALL sat inside the except KeyError block,
    # so a KeyError from a plugin's own __init__ was misreported as
    # "could not find plugin" with the real traceback suppressed
    import pytest

    from meteor_spark.registry import Registry

    r = Registry("test")

    class Boom:
        def __init__(self):
            raise KeyError("oops-internal")

    r.register("boom", Boom)
    with pytest.raises(KeyError, match="oops-internal"):
        r.get("boom")
    with pytest.raises(registry.NotFoundError):
        r.get("missing")
