"""The workloads: their inputs, their operations and their checks.

An operation is one recipe run (load, validate, Agent.run) or one gate
(build, collect). A pass is the workload's fixed list of operations.
Each check returns a list of problems; an empty list means the output
is correct.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# The gates behind the open performance items: the prefix-filter
# regression, containment candidates, pagerank's jobs, store compaction,
# streaming fixed cost, approximate versus exact profiling, bm25's persist.
GATES = (
    "prefix_filter_jaccard_pairs",
    "doc_containment_pairs",
    "workload_table_pagerank",
    "neardup_store_compaction",
    "streaming_hourly_rollup",
    "streaming_click_attribution",
    "profile_lineitem",
    "profile_lineitem_approx",
    "bm25_search_topk",
)
PROCESSORS = ("filter", "enrich")
SINKS = ("file_ndjson", "file_yaml")
PREVIEW_ROWS = 30  # parquet_catalog's max_preview_rows default


@dataclass
class Op:
    name: str
    run: object  # (ctx) -> output
    check: object  # (output) -> list[str]
    after: object = None  # (ctx) -> None, run untimed after the check


@dataclass
class Ctx:
    spark: object
    agent: object
    tracer: object
    leaks: dict = field(default_factory=dict)  # op name -> persistent RDDs it left behind


def persistent_rdds(ctx: Ctx) -> set[int]:
    """Ids of the RDDs the JVM holds persisted, read only while tracing.

    clearCache() does not release RDDs persisted outside the catalog, and
    Spark's cleaner drops unreferenced ones at any time, so an operation's
    leak is the ids persisted after it that were not persisted before it."""
    return set(ctx.spark.sparkContext._jsc.getPersistentRDDs().keySet()) if ctx.tracer.enabled else set()


# ------------------------------------------------------------- recipes


def recipe_op(name: str, template: str, variables: dict, check) -> Op:
    path = os.path.join(HERE, "recipes", template)

    def run(ctx: Ctx):
        from meteor_spark.recipe import load_recipe

        with ctx.tracer.span("recipe.load"):
            recipe = load_recipe(path, variables)
        with ctx.tracer.span("runner.validate"):
            errors = ctx.agent.validate(recipe)
        if errors:
            raise ValueError(f"recipe {name} invalid: {errors}")
        base = persistent_rdds(ctx)
        report = ctx.agent.run(recipe)
        if ctx.tracer.enabled:
            ctx.leaks[name] = len(persistent_rdds(ctx) - base)
        return report

    def checked(report) -> list[str]:
        if not report.success or report.error:
            return [f"{name}: run failed: {report.error}"]
        return check(report)

    return Op(name, run, checked)


def _same(kind: str, got: str | None, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if kind in ("int", "double"):
        return float(got) == float(want)
    if kind == "timestamp":
        return datetime.datetime.fromisoformat(got) == datetime.datetime.fromisoformat(want)
    if kind == "bool":
        return got == str(want).lower()
    return got == want


_SPARK_TYPES = {
    "int": ("bigint",),
    "double": ("double",),
    "string": ("string",),
    "timestamp": ("timestamp", "timestamp_ntz"),
    "bool": ("boolean",),
}


def check_catalog(tables: dict, out_dir: str) -> list[str]:
    """ndjson assets against the generator's pyarrow facts; yaml sink agrees."""
    want = {t: f for t, f in tables.items() if not t.startswith(gen.CATALOG_EXCLUDED_PREFIX)}
    with open(os.path.join(out_dir, "assets.ndjson")) as f:
        assets = [json.loads(line) for line in f]
    problems = []
    if len(assets) != len(want):
        problems.append(f"{out_dir}: {len(assets)} assets, want {len(want)}")
    with open(os.path.join(out_dir, "assets.yaml")) as f:
        n_yaml = sum(1 for line in f if line.startswith("---"))
    if n_yaml != len(assets):
        problems.append(f"{out_dir}: yaml sink has {n_yaml} records, ndjson {len(assets)}")
    for a in assets:
        name = a["resource"]["name"]
        facts = want.get(name)
        if facts is None:
            problems.append(f"unexpected asset {name}")
            continue
        if a["profile"]["total_rows"] != facts["rows"]:
            problems.append(f"{name}: total_rows {a['profile']['total_rows']} != {facts['rows']}")
        if len(json.loads(a["preview"]["rows"])) != min(PREVIEW_ROWS, facts["rows"]):
            problems.append(f"{name}: preview row count")
        if json.loads(a["properties"]["attributes"]).get("tier") != "gold":
            problems.append(f"{name}: enrich attributes missing")
        cols = a["schema"]
        if [c["name"] for c in cols] != sorted(facts["columns"]):
            problems.append(f"{name}: columns {[c['name'] for c in cols]}")
            continue
        for c in cols:
            cf, p = facts["columns"][c["name"]], c["profile"]
            if c["data_type"] not in _SPARK_TYPES[cf["kind"]]:
                problems.append(f"{name}.{c['name']}: type {c['data_type']}")
            if facts["rows"] - int(p["count"]) != cf["nulls"]:
                problems.append(f"{name}.{c['name']}: nulls {facts['rows'] - int(p['count'])} != {cf['nulls']}")
            for k in ("min", "max"):
                if not _same(cf["kind"], p[k], cf[k]):
                    problems.append(f"{name}.{c['name']}: {k} {p[k]!r} != {cf[k]!r}")
    return problems


def catalog_profile(seed: int, work: str) -> list[Op]:
    root = os.path.join(work, "inputs", gen.source_digest(), f"catalog_seed{seed}")
    facts = gen.cached(root, lambda r: gen.make_catalog(r, seed))
    ops = []
    for db, tables in sorted(facts.items()):
        out_dir = os.path.join(work, "out", "catalog_profile", db)
        variables = {"name": f"catalog_{db}", "data_dir": os.path.join(root, db), "out_dir": out_dir}
        ops.append(
            recipe_op(
                f"catalog_{db}",
                "catalog_profile.yaml",
                variables,
                lambda report, t=tables, o=out_dir: check_catalog(t, o),
            )
        )
    return ops


# ---------------------------------------------------------------- gates


def normalize_cell(v) -> str:
    """Full-precision, engine-neutral rendering of one result cell."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "-0.0" if math.copysign(1.0, v) < 0 else "0"
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(columns: list[str], rows: list) -> str:
    """Order-insensitive hash of a result: cells in sorted-column order,
    rows sorted, md5 over the joined lines."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(normalize_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def load_expected() -> dict:
    with open(os.path.join(HERE, "gates_expected.json")) as f:
        return json.load(f)["gates"]


def gate_op(gate: str, fixture: str, expected: dict) -> Op:
    def run(ctx: Ctx):
        from meteor_spark import queries

        base = persistent_rdds(ctx)
        with ctx.tracer.span(f"gates.{gate}.build", count=True):
            df = queries.QUERIES[gate](ctx.spark, fixture)
        with ctx.tracer.span(f"gates.{gate}.collect", count=True):
            rows = df.collect()
        if ctx.tracer.enabled:
            ctx.leaks[gate] = len(persistent_rdds(ctx) - base)
        return df.columns, rows

    def check(out) -> list[str]:
        cols, rows = out
        got = {"rows": len(rows), "hash": frame_hash(cols, rows)}
        want = {k: expected[k] for k in ("rows", "hash")}
        return [] if got == want else [f"{gate}: got {got}, want {want}"]

    def after(ctx: Ctx) -> None:
        """Clear cached state for the next gate."""
        from meteor_spark import queries

        ctx.spark.catalog.clearCache()
        queries._SHARED.clear()

    return Op(gate, run, check, after)


def gate_fixture(work: str) -> str:
    root = os.path.join(work, "inputs", gen.source_digest(), "gate_fixture")
    gen.cached(root, gen.make_gate_fixture)
    return root


def gate_sweep(seed: int, work: str) -> list[Op]:
    fixture = gate_fixture(work)
    expected = load_expected()
    order = list(GATES)
    random.Random(seed).shuffle(order)
    return [gate_op(g, fixture, expected[g]) for g in order]


WORKLOADS = {
    "catalog_profile": catalog_profile,
    "gate_sweep": gate_sweep,
}
