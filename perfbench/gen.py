"""Seeded input generators for the benchmark workloads.

Everything here uses numpy and pyarrow only, so inputs exist before the
program under test is imported. The same seed always writes
byte-identical files. Each generator also returns the facts the output
checks need, computed from the generated arrow tables, never from the
program.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Sizes of every generated input. BENCHMARK.json and README.md quote them.
CATALOG_DATABASES = 3  # one parquet_catalog recipe each
# Column count of each table in a database: a fixed shape, so every seed
# asks for the same profiling work; the seed varies kinds, rows and nulls.
CATALOG_WIDTHS = (5, 8)
CATALOG_EXCLUDED_WIDTH = 3  # the tmp_ table the recipe's filter drops
CATALOG_LOG10_ROWS = (2.0, 4.5)  # rows per table: 10**U(lo, hi), 100 to ~30k
CATALOG_EXCLUDED_PREFIX = "tmp_"
GATE_DOCS = 600
GATE_EVENTS = 2_000
GATE_LINEITEMS = 6_000
GATE_FIXTURE_SEED = 1  # the fixture is fixed; gate_sweep's seed only permutes gate order

_TS0 = datetime.datetime(2024, 1, 1)
_KINDS = ("int", "double", "string", "timestamp", "bool")

# Head of the Zipf vocabulary: the words the gate catalog's fixed
# parameters query (bm25 terms, minhash shingles) must be frequent.
_HEAD_WORDS = (
    "data spark window hash join scan sort merge table query stream batch "
    "column filter group order vector value part line row key agg fast slow "
    "big small customer"
).split()
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "para", "en", "que"),
    "und": (),
}
_LANG_SHARE = {"en": 0.45, "de": 0.15, "fr": 0.15, "es": 0.15, "und": 0.10}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


# ------------------------------------------------------------ catalog_profile


def _catalog_column(rng: np.random.Generator, kind: str, n: int, null_share: float) -> pa.Array:
    if kind == "int":
        vals = rng.integers(-(10**6), 10**9, n)
    elif kind == "double":
        vals = np.round(rng.lognormal(3.0, 2.0, n) * rng.choice([-1, 1], n), 4)
    elif kind == "string":
        alphabet = np.array(list(string.ascii_lowercase))
        lens = rng.integers(1, 12, n)
        vals = ["".join(rng.choice(alphabet, k)) for k in lens]
    elif kind == "timestamp":
        vals = np.datetime64(_TS0, "us") + rng.integers(0, 365 * 86_400 * 10**6, n).astype("timedelta64[us]")
    else:
        vals = rng.random(n) < 0.5
    mask = rng.random(n) < null_share
    if kind == "string":
        return pa.array(vals, type=pa.string(), mask=mask)
    typ = {"int": pa.int64(), "double": pa.float64(), "timestamp": pa.timestamp("us"), "bool": pa.bool_()}[kind]
    return pa.array(vals, type=typ, mask=mask)


def _column_facts(arr: pa.ChunkedArray, kind: str) -> dict:
    mm = pc.min_max(arr)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if kind == "timestamp" and lo is not None:
        lo, hi = lo.isoformat(sep=" "), hi.isoformat(sep=" ")
    return {"kind": kind, "min": lo, "max": hi, "nulls": arr.null_count}


def make_catalog(root: str, seed: int) -> dict:
    """Write CATALOG_DATABASES directories of parquet tables under root.

    Returns {db_name: {table_name: {"rows": n, "columns": {col: facts}}}},
    facts being kind, min, max and null count. Each database also holds
    one table named with CATALOG_EXCLUDED_PREFIX, which the workload's
    filter processor must drop."""
    rng = np.random.default_rng([seed, 1])
    out: dict = {}
    for d in range(CATALOG_DATABASES):
        db = f"db{d}"
        tables: dict = {}
        shapes = [(f"t{i:02d}", w) for i, w in enumerate(CATALOG_WIDTHS)]
        for name, width in shapes + [(f"{CATALOG_EXCLUDED_PREFIX}{d}", CATALOG_EXCLUDED_WIDTH)]:
            n_rows = int(10 ** rng.uniform(*CATALOG_LOG10_ROWS))
            kinds = [_KINDS[i % len(_KINDS)] for i in range(width)]
            rng.shuffle(kinds)
            null_share = float(rng.choice([0.0, 0.05, 0.3]))
            cols = {f"c{i:02d}_{k}": _catalog_column(rng, k, n_rows, null_share) for i, k in enumerate(kinds)}
            table = pa.table(cols)
            _write(table, os.path.join(root, db, f"{name}.parquet"))
            tables[name] = {
                "rows": n_rows,
                "columns": {c: _column_facts(table[c], k) for c, k in zip(cols, kinds)},
            }
        out[db] = tables
    return out


# ------------------------------------------------------------- corpus


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words = list(_HEAD_WORDS)
    seen = set(words) | {w for ws in STOPWORDS.values() for w in ws}
    while len(words) < size:
        w = "".join(rng.choice(letters, int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _pii(rng: np.random.Generator) -> str:
    k = int(rng.integers(4))
    n = rng.integers(0, 256, 4)
    if k == 0:
        return f"user{n[0]}.{n[1]}@mail{n[2]}.example.com"
    if k == 1:
        return f"{n[0]}.{n[1]}.{n[2]}.{n[3]}"
    if k == 2:
        return f"+1 555-{100 + n[0]:03d}-{1000 + n[1] * 31:04d}"
    return f"https://site{n[0]}.example.org/page/{n[1]}"


def make_corpus(path: str, seed: int, n_docs: int) -> None:
    """Write a documents table (doc_id, text, lang, source, n_chars).

    Zipf(1.1) vocabulary over 20k words, four stopword languages plus an
    undetectable share, log-normal lengths (median ~67 tokens), and stated shares of exact
    duplicates (8%), near duplicates (8%, ~5% of tokens replaced), PII
    strings (10%), low-entropy junk (3%) and punctuation-heavy noise (3%)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocabulary(rng, 20_000))
    ranks = np.arange(1, len(vocab) + 1)
    probs = 1.0 / ranks**1.1
    probs /= probs.sum()
    langs = list(_LANG_SHARE)
    lang_p = np.array(list(_LANG_SHARE.values()))
    texts: list[str] = []
    doc_langs: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:  # exact duplicate of an earlier doc
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            doc_langs.append(doc_langs[j])
            continue
        if i > 10 and r < 0.16:  # near duplicate: replace ~5% of tokens
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for p in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                toks[p] = str(rng.choice(vocab, p=probs))
            texts.append(" ".join(toks))
            doc_langs.append(doc_langs[j])
            continue
        lang = str(rng.choice(langs, p=lang_p))
        n_tok = int(np.clip(rng.lognormal(4.2, 0.6), 5, 1000))
        if r > 0.97:  # low-entropy junk
            unit = "".join(rng.choice(list("ab"), 4))
            toks = [unit] * n_tok
        else:
            toks = list(rng.choice(vocab, n_tok, p=probs))
            sw = STOPWORDS[lang]
            if sw:
                for p in np.nonzero(rng.random(n_tok) < 0.3)[0]:
                    toks[p] = sw[int(rng.integers(len(sw)))]
            if r > 0.94:  # punctuation-heavy noise
                toks = [t + "!?;" if k % 2 else t for k, t in enumerate(toks)]
            if rng.random() < 0.10:
                toks.insert(int(rng.integers(n_tok)), _pii(rng))
        texts.append(" ".join(toks))
        doc_langs.append(lang)
    sources = rng.integers(0, 12, n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(doc_langs, pa.string()),
            "source": pa.array([f"src{s}" for s in sources], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(table, path)


# ------------------------------------------------------------ gate fixture


def make_gate_fixture(root: str) -> None:
    """Write documents, events and lineitem tables shaped like the
    repository's TPC-H-style fixture: the tables the sweep gates
    read. Fixed data seed (GATE_FIXTURE_SEED)."""
    make_corpus(os.path.join(root, "documents.parquet"), GATE_FIXTURE_SEED, GATE_DOCS)
    rng = np.random.default_rng([GATE_FIXTURE_SEED, 3])
    n = GATE_EVENTS
    ts = np.sort(rng.integers(0, 3 * 86_400 * 10**6, n))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64(_TS0, "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 200, n), pa.int64()),
            "event_type": pa.array(
                rng.choice(["click", "view", "purchase", "signup", "error"], n), pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)], pa.string()),
        }
    )
    _write(events, os.path.join(root, "events.parquet"))
    n = GATE_LINEITEMS
    qty = rng.integers(1, 51, n).astype(float)
    ship = np.datetime64("1995-01-01", "us") + (rng.integers(0, 2500, n) * 86_400 * 10**6).astype("timedelta64[us]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    _write(lineitem, os.path.join(root, "lineitem.parquet"))


def source_digest() -> str:
    """Short digest of this file, so a changed generator never reuses stale inputs."""
    with open(__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:8]


def cached(root: str, build) -> dict:
    """Run build(root) once per root; later calls reload its facts.

    A finished build leaves root/facts.json, written last, so an
    interrupted build is redone rather than trusted."""
    facts = os.path.join(root, "facts.json")
    if not os.path.exists(facts):
        os.makedirs(root, exist_ok=True)
        result = build(root) or {}
        with open(facts + ".tmp", "w") as f:
            json.dump(result, f, sort_keys=True)
        os.replace(facts + ".tmp", facts)
    with open(facts) as f:
        return json.load(f)
