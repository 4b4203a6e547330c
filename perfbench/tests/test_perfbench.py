"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


# ------------------------------------------------------------ generators


def test_same_seed_same_catalog_bytes(tmp_path):
    a = gen.make_catalog(str(tmp_path / "a"), seed=7)
    b = gen.make_catalog(str(tmp_path / "b"), seed=7)
    assert a == b
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    c = gen.make_catalog(str(tmp_path / "c"), seed=8)
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_same_seed_same_corpus_bytes(tmp_path):
    gen.make_corpus(str(tmp_path / "a.parquet"), seed=3, n_docs=400)
    gen.make_corpus(str(tmp_path / "b.parquet"), seed=3, n_docs=400)
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    texts = pq.read_table(tmp_path / "a.parquet").column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # the stated share of exact duplicates


def test_gate_fixture_is_fixed(tmp_path):
    gen.make_gate_fixture(str(tmp_path / "a"))
    gen.make_gate_fixture(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_cached_builds_once(tmp_path):
    calls = []

    def build(root):
        calls.append(root)
        return {"n": 1}

    assert gen.cached(str(tmp_path / "x"), build) == {"n": 1}
    assert gen.cached(str(tmp_path / "x"), build) == {"n": 1}
    assert len(calls) == 1


# ------------------------------------------------------------ spans


def _span(sid, start, end, parent=None, name="s", marks=None):
    return spans.Span(sid, name, parent, "r", start, end, marks)


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert spans.self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlap_once_and_clips():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 9.0, 12.0, 0)]
    # union inside the parent: [1, 5] and [9, 10]
    assert spans.self_time(parent, kids) == pytest.approx(5.0)
    assert spans.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_parents_and_busy_time():
    tracer = spans.Tracer("run-1")
    tracer.enabled = True
    with tracer.span("outer"):
        with tracer.span("outer"):
            pass
        with tracer.span("inner"):
            pass
    outer, nested, inner = tracer.spans
    assert nested.parent == outer.sid and inner.parent == outer.sid
    assert all(s.run_id == "run-1" for s in tracer.spans)
    assert tracer.busy("outer", tracer.spans) == pytest.approx(outer.duration)


def test_disabled_tracer_records_nothing():
    tracer = spans.Tracer("r")
    with tracer.span("x") as sp:
        assert sp is None
    assert tracer.spans == []


def test_patch_function_is_undone():
    import meteor_spark.operators.profile as profile

    orig = profile.profile_columns
    tracer = spans.Tracer("r")
    tracer.patch_function(orig, "operators.profile")
    assert profile.profile_columns is not orig
    tracer.uninstall()
    assert profile.profile_columns is orig


# ------------------------------------------------------------ checks


def test_gate_check_rejects_corrupted_rows():
    cols = ["a", "b", "score"]
    rows = [(1, 2, 0.5), (1, 3, 0.75)]
    expected = {"rows": 2, "hash": wl.frame_hash(cols, rows)}
    op = wl.gate_op("bm25_search_topk", "unused", expected)
    assert op.check((cols, list(reversed(rows)))) == []  # order-insensitive
    assert op.check((cols, [(1, 2, 0.5), (1, 3, 0.7500001)]))
    assert op.check((cols, rows[:1]))


def _asset(name: str, facts: dict) -> dict:
    """The asset a correct parquet_catalog run emits for one table."""

    def render(f, k):
        v = f[k]
        if v is None:
            return None
        return str(v).lower() if f["kind"] == "bool" else str(v)

    types = {k: v[0] for k, v in wl._SPARK_TYPES.items()}
    return {
        "resource": {"name": name},
        "profile": {"total_rows": facts["rows"]},
        "preview": {"rows": json.dumps([[0]] * min(wl.PREVIEW_ROWS, facts["rows"]))},
        "properties": {"attributes": json.dumps({"team": "data-platform", "tier": "gold"})},
        "schema": [
            {
                "name": c,
                "data_type": types[f["kind"]],
                "profile": {"min": render(f, "min"), "max": render(f, "max"), "count": facts["rows"] - f["nulls"]},
            }
            for c, f in sorted(facts["columns"].items())
        ],
    }


def _write_catalog_out(out, tables):
    assets = [_asset(n, f) for n, f in tables.items() if not n.startswith(gen.CATALOG_EXCLUDED_PREFIX)]
    out.mkdir(parents=True, exist_ok=True)
    (out / "assets.ndjson").write_text("".join(json.dumps(a) + "\n" for a in assets))
    (out / "assets.yaml").write_text("".join("---\nx: 1\n" for _ in assets))
    return assets


def test_catalog_check_rejects_corrupted_profile(tmp_path):
    facts = gen.make_catalog(str(tmp_path / "in"), seed=5)
    tables = facts["db0"]
    out = tmp_path / "out"
    assets = _write_catalog_out(out, tables)
    assert wl.check_catalog(tables, str(out)) == []
    col = next(c for c in assets[0]["schema"] if c["profile"]["max"] is not None)
    col["profile"]["max"] = "zzzz" if col["data_type"] == "string" else "-1e300"
    (out / "assets.ndjson").write_text("".join(json.dumps(a) + "\n" for a in assets))
    assert any("max" in p for p in wl.check_catalog(tables, str(out)))
    (out / "assets.ndjson").write_text("".join(json.dumps(a) + "\n" for a in assets[1:]))
    assert wl.check_catalog(tables, str(out))


# ------------------------------------------------------------ metric names


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == list(run.per_layer_units())
    for name in e2e + layer + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert [w["name"] for w in bench["workloads"]] == list(wl.WORKLOADS)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert units == {**run.END_TO_END, **run.per_layer_units()}
