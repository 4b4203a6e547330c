"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB at the given sf dir, then compares
row count, sorted column names, and an order-insensitive value hash.

Usage: python tools/check_parity.py [sf_dir] [query ...]
       [--cache PATH] [--record PATH] [--skip name,name,...]

--cache PATH   Slow-oracle tier: JSON file of cached DuckDB oracle
               results (cols, rowcount, value hash) keyed by
               (fixture digest, md5 of the oracle SQL). The ~1000s
               recursive-CC oracles (leakage_free_split,
               dedup_rate_by_source) and the pair-exploding family
               run ONCE per (fixture, SQL) and are replayed from the
               cache on every later sweep; ANY edit to the oracle SQL
               or the fixture files invalidates the entry. The Spark
               side is never cached — it is the thing under test.
--record PATH  Strict-certification registry (e.g. docs/CERT10X.json):
               every PASS upserts {gate: {fixture, fixture_digest,
               oracle_md5, rows, spark_sec, oracle_sec|"cached"}};
               every FAIL of a recorded gate REMOVES its entry, so a
               regression (or an oracle-SQL edit) cannot coast on a
               stale certified row. This is the machine-readable
               ledger behind COVERAGE.md's "N gates 10x-certified".
--skip a,b     Gate names to leave out of this sweep (documented
               exclusions; they stay absent from --record).
--scale-oracles  Overlay tools/scale_oracles.py: the five gates whose
               canonical oracles are deliberately brute-force
               (all-pairs O(N^2)) run against the lossless equi-join
               restatement instead, so they can certify at 10x. The
               registry marks them "oracle": "scale-tier".
--digest a,b   Digest tier: for the named gates, compare an engine-side
               row-hash digest (16 bucket rows per engine) instead of
               collecting full outputs through Python — the only way to
               value-certify the pair-output gates (26M-1B rows) at
               100x. See the DIGEST_SPEC block below for the canonical
               rendering and its validation contract; --record rows
               carry "check": "digest-v1" so the ledger distinguishes
               them from full strict rows.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def normalize_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # IEEE -0.0 == 0 but repr/pandas render it "-0.0" — keep it
            # visible here too (caught the parquet-footer-min case)
            return "-0.0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # FULL precision, deliberately stricter than the driver's hash:
        # a %.6g fallback hid r3's one red row (last-ulp PSI); the whole
        # catalog passes bit-exact (round-4 strict sweeps, both SFs), so
        # keep it locked in — any future sum-order float leak fails here
        # first
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(normalize_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


# ---------------------------------------------------------------------------
# Digest tier (r11): O(1)-transfer value certification for gates whose
# PUBLISHED OUTPUT is a huge pair set (26M-1B rows). The full comparison
# collects both engines' complete outputs through Python rows — measured
# kernel-kill at 88 GB at 100x — so instead each engine computes, INSIDE
# itself, a canonical per-row 60-bit hash and publishes only 16 bucket
# rows (bucket, count, sum-of-hash). The harness transfers ~17 rows per
# engine and compares them exactly.
#
# Canonical row rendering (must be bit-identical across engines — every
# primitive below was cross-checked empirically, see
# tests/test_digest_parity.py):
#   * cells ordered by SORTED column name, joined with '|'
#   * NULL -> literal 'NULL' (explicit coalesce; concat_ws would skip)
#   * integer types -> decimal string (Spark CAST(STRING) == DuckDB
#     ::VARCHAR, negatives included)
#   * DOUBLE -> CAST(round(x * 1e8) AS BIGINT) rendered as string. Both
#     engines round half-away-from-zero on the exact binary value
#     (Spark Round/HALF_UP over BigDecimal(double), DuckDB std::round),
#     and the catalog's pair gates publish round(metric, 4) doubles in
#     [-1, 1], so the x1e8 scaling is injective on them with ~1e4
#     headroom below the rounding boundary. NOT bit-exact for raw
#     doubles beyond 1e-8 relative precision and collapses -0.0 == 0.0:
#     this tier is only for gates validated digest-vs-full at sf0.01
#     AND 10x first (the same discipline the callable-oracle tier
#     used), where the full repr comparison still runs.
#     |x| >= 9e9 would overflow the BIGINT cast silently in Spark's
#     non-ANSI mode -> guarded by a max(abs) term in the digest itself.
#   * row hash h = first 15 hex chars of md5(line) as an unsigned int
#     (60 bits; Spark conv(substr(md5,1,15),16,10) == DuckDB
#     ('0x'||substr(md5,1,15))::BIGINT, verified equal).
#   * digest = sorted rows of GROUP BY h % 16: (bucket, count, sum(h))
#     with exact integer sums (Spark DECIMAL(38,0) — 1e9 rows x 2^60
#     ~ 1.2e27 << 1e38; DuckDB HUGEINT).
# Why %.17e printf was rejected: Java's Formatter pads the SHORTEST
# repr with zeros instead of correctly rounding (0.1 -> '1.000...0e-01'
# vs DuckDB/C '1.00000000000000006e-01'), so printf-rendered doubles
# diverge cross-engine on almost every non-terminating value.
# ---------------------------------------------------------------------------

DIGEST_SPEC = "digest-v1"
_DIGEST_SCALE = 100_000_000.0  # doubles -> round(x * 1e8) as int
_DIGEST_BUCKETS = 16

_DIGEST_INT_SPARK = {"bigint", "int", "smallint", "tinyint"}
_DIGEST_INT_DUCK = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"}


def spark_digest(sdf) -> tuple[list[str], int, list[tuple[int, int, int]], float]:
    """(sorted cols, total rows, sorted bucket rows, max |double|).

    All hashing/aggregation happens JVM-side (md5/conv/round are
    codegen'd built-ins); only the <=16 bucket rows are collected."""
    from pyspark.sql import functions as F

    cells = []
    abs_terms = []
    for f in sorted(sdf.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        t = f.dataType.simpleString()
        if t in _DIGEST_INT_SPARK:
            r = c.cast("string")
        elif t == "double":
            r = F.round(c * F.lit(_DIGEST_SCALE)).cast("long").cast("string")
            abs_terms.append(F.abs(c))
        elif t == "string":
            r = c
        elif t == "boolean":
            r = F.when(c, F.lit("true")).otherwise(F.lit("false"))
        else:
            raise ValueError(f"digest tier: unsupported Spark column type {t} ({f.name})")
        cells.append(F.coalesce(r, F.lit("NULL")))
    line = F.concat_ws("|", *cells)
    h = F.conv(F.substring(F.md5(line), 1, 15), 16, 10).cast("decimal(38,0)")
    mx = F.greatest(*abs_terms) if len(abs_terms) > 1 else (
        abs_terms[0] if abs_terms else F.lit(0.0))
    agg = (
        sdf.select(h.alias("h"), mx.alias("mx"))
        .groupBy(F.pmod(F.col("h"), F.lit(_DIGEST_BUCKETS)).cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"),
             F.max("mx").alias("mx"))
        .collect()
    )
    rows = sorted((int(r["bucket"]), int(r["n"]), int(r["s"])) for r in agg)
    max_abs = max((float(r["mx"]) for r in agg), default=0.0)
    return sorted(sdf.columns), sum(r[1] for r in rows), rows, max_abs


def duck_digest(rel) -> tuple[list[str], int, list[tuple[int, int, int]], float]:
    """Same digest computed inside DuckDB over a relation (string oracle
    or callable scale-tier oracle alike)."""
    cells = []
    abs_terms = []
    for c, t in sorted(zip(rel.columns, rel.types), key=lambda x: x[0]):
        ts = str(t)
        q = f'"{c}"'
        if ts in _DIGEST_INT_DUCK:
            r = f"{q}::VARCHAR"
        elif ts == "DOUBLE":
            r = f"CAST(round({q} * {_DIGEST_SCALE!r}) AS BIGINT)::VARCHAR"
            abs_terms.append(f"abs({q})")
        elif ts == "VARCHAR":
            r = q
        elif ts == "BOOLEAN":
            r = f"CASE WHEN {q} THEN 'true' ELSE 'false' END"
        else:
            raise ValueError(f"digest tier: unsupported DuckDB column type {ts} ({c})")
        cells.append(f"coalesce({r}, 'NULL')")
    mx = ("greatest(" + ", ".join(abs_terms) + ")" if len(abs_terms) > 1
          else (abs_terms[0] if abs_terms else "0.0"))
    agg = rel.query(
        "__digq",
        f"""
        SELECT h % {_DIGEST_BUCKETS} AS bucket, count(*) AS n, sum(h) AS s,
               max(mx) AS mx
        FROM (SELECT ('0x' || substr(md5(concat_ws('|', {', '.join(cells)})), 1, 15))::BIGINT AS h,
                     {mx} AS mx
              FROM __digq)
        GROUP BY 1
        """,
    ).fetchall()
    rows = sorted((int(b), int(n), int(s)) for b, n, s, _ in agg)
    max_abs = max((float(m) for *_, m in agg), default=0.0)
    return sorted(rel.columns), sum(r[1] for r in rows), rows, max_abs


# DuckDB result types that round-trip identically through every fetch
# path (fetchall, .df(), .arrow()).  Anything else — HUGEINT (int128 ->
# float64 via pandas), DECIMAL, FLOAT (float32 repr drift), UHUGEINT —
# renders differently depending on how the harness fetches, producing
# hash-only mismatches that fetchall-based checks cannot see.  The six
# r04 driver-red rows were exactly the six oracles with HUGEINT output
# columns; every sampled-green oracle used only types from this set.
_SAFE_DUCK_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "VARCHAR",
    "DATE", "TIMESTAMP", "BOOLEAN",
}


def unsafe_oracle_types(rel) -> dict[str, str]:
    return {
        c: str(t)
        for c, t in zip(rel.columns, rel.types)
        if str(t) not in _SAFE_DUCK_TYPES
    }


def fixture_digest(sf_dir: str) -> str:
    """Digest of the fixture's table files by (name, size, head+tail
    content hash). The 4KB head+tail covers the parquet footer (row
    counts, column stats, offsets) so a rebuild that changes CONTENT
    without changing any file size still invalidates cache entries;
    mtime stays out, so a byte-identical rebuild of /tmp/scale10 keeps
    them. Same-size-same-footer-different-middle is not a failure mode
    parquet can produce without moving the footer offsets."""
    parts = []
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            parts.append(f"{t}:-1")
            continue
        size = os.path.getsize(p)
        h = hashlib.md5()
        with open(p, "rb") as f:
            h.update(f.read(4096))
            if size > 4096:
                f.seek(max(size - 4096, 4096))
                h.update(f.read(4096))
        parts.append(f"{t}:{size}:{h.hexdigest()}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def fixture_digest_legacy(sf_dir: str) -> str:
    """The pre-r8 size-only digest — kept ONLY to migrate existing
    slow-oracle cache entries (the ~1000s recursive-CC oracles) to the
    content-aware key without re-running them. Never used for new
    writes."""
    parts = []
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        parts.append(f"{t}:{os.path.getsize(p) if os.path.exists(p) else -1}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _load_json(path: str) -> dict:
    import json

    if path and os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def _dump_json(path: str, obj: dict, drop: set[str] | None = None) -> None:
    """Merge-on-write under an exclusive flock: reload the file,
    overlay this process's entries, drop any keys in `drop`, and
    atomically replace. The lock lives on a sidecar (.lock) because
    os.replace swaps the data file's inode out from under a lock held
    on it; with the sidecar serialized, two concurrent sweeps genuinely
    append to each other (last writer wins per key, not per file)."""
    import fcntl
    import json

    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        merged = {**_load_json(path), **obj}
        for k in drop or ():
            merged.pop(k, None)
        obj.clear()
        obj.update(merged)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        os.replace(tmp, path)


def main() -> int:
    argv = list(sys.argv[1:])
    cache_path = record_path = None
    skip: set[str] = set()
    digest_gates: set[str] = set()
    use_scale = "--scale-oracles" in argv
    if use_scale:
        argv.remove("--scale-oracles")
    for flag in ("--cache", "--record", "--skip", "--digest"):
        if flag in argv:
            i = argv.index(flag)
            val = argv[i + 1]
            del argv[i : i + 2]
            if flag == "--cache":
                cache_path = val
            elif flag == "--record":
                record_path = val
            elif flag == "--digest":
                digest_gates = set(val.split(","))
            else:
                skip = set(val.split(","))
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.001"
    only = set(a for a in argv if not os.path.isdir(a))

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # path-embedding oracles (zorder_footer_skipping) key their written
    # layout by fixture label; export it BEFORE the oracle strings are
    # built at import time so both engines resolve the same dir
    os.environ["SPARK_GRAFT_FIXTURE"] = os.path.basename(sf_dir.rstrip("/"))
    from meteor_spark.io import cache_scope
    from meteor_spark.session import get_spark

    import __spark_entry__ as entrymod
    from meteor_spark.queries import _ZREAL_BASE

    spark = get_spark("parity")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # bound the oracle engine and let it spill: an unbounded DuckDB sort
    # (weighted median at the 600M-row rung) reached 78 GB anon RSS and
    # was OOM-killed alongside a concurrent Spark JVM; out-of-core is
    # the point of scale certification, so make it the default
    con.execute("SET memory_limit='40GB'")
    # uid+pid-keyed spill dir (a fixed world-shared path breaks on a
    # multi-user host; a shared per-uid dir accumulates STALE temp from
    # killed/crashed sweeps — measured 35 GB of leftovers starving a
    # later run's Spark spill). Reap sibling dirs whose owning pid is
    # gone; concurrent live sweeps keep their own dirs untouched.
    import shutil
    import tempfile

    base = f"{tempfile.gettempdir()}/msk_duck_spill_u{os.getuid()}"
    os.makedirs(base, mode=0o700, exist_ok=True)
    for d in os.listdir(base):
        pid_s = d.rsplit("_", 1)[-1]
        if pid_s.isdigit() and not os.path.exists(f"/proc/{pid_s}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    spill = f"{base}/p_{os.getpid()}"
    os.makedirs(spill, mode=0o700, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    scale_gates: set[str] = set()
    scale_fns: dict = {}
    scale_fns_md5 = ""
    if use_scale:
        import inspect

        import tools.scale_oracles as so
        from tools.scale_oracles import SCALE_ORACLE_FNS, SCALE_ORACLES

        oracles = {**oracles, **SCALE_ORACLES}
        scale_fns = SCALE_ORACLE_FNS
        scale_gates = set(SCALE_ORACLES) | set(scale_fns)
        # callable oracles are keyed by the md5 of the WHOLE module
        # source + gate name: shared helpers (the materialized pair/CC
        # state) mean any edit must invalidate every callable's cache
        # entry, the same edit-detection contract string oracles get
        scale_fns_md5 = hashlib.md5(inspect.getsource(so).encode()).hexdigest()
    fdig = fixture_digest(sf_dir)
    fdig_legacy = fixture_digest_legacy(sf_dir)
    cache = _load_json(cache_path) if cache_path else None
    record = _load_json(record_path) if record_path else None
    fixture_label = os.path.basename(sf_dir.rstrip("/"))

    def _decertify(name: str) -> None:
        # A recorded sweep that FAILS a gate must also un-certify it:
        # an upsert-on-PASS-only ledger would keep the stale row and
        # overstate strict certification after a regression.
        if record is not None and name in record:
            _dump_json(record_path, record, drop={name})
            print(f"     (removed stale certification entry for {name})")

    failures = []
    n_skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"skip {name} (--skip)")
            n_skipped += 1
            continue
        t0 = time.time()
        if name in digest_gates:
            # O(1)-transfer tier: neither engine's pair set ever leaves
            # the engine; only the 16 bucket rows are compared. Guarded
            # by the digest-vs-full validation at sf0.01/10x (see
            # DIGEST_SPEC block above and tests/test_digest_parity.py).
            if name not in oracles and name not in scale_fns:
                print(f"FAIL {name}: --digest requires an oracle")
                failures.append(name)
                continue
            try:
                with cache_scope():
                    scols, stotal, sdig, smax = spark_digest(fn(spark, sf_dir))
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: spark error: {e}")
                failures.append(name)
                _decertify(name)
                continue
            t_spark = time.time() - t0
            if name in scale_fns:
                sql_md5 = hashlib.md5(f"{scale_fns_md5}:{name}".encode()).hexdigest()
            else:
                sql_md5 = hashlib.md5(oracles[name].encode()).hexdigest()
            ckey = f"{fdig}:{sql_md5}:{DIGEST_SPEC}"
            hit = cache.get(ckey) if cache is not None else None
            t_oracle: float | str
            if hit is not None:
                dcols, dtotal, dmax = hit["cols"], hit["nrows"], hit["max_abs"]
                ddig = [tuple(r) for r in hit["digest"]]
                t_oracle = "cached"
            else:
                t1 = time.time()
                try:
                    rel = scale_fns[name](con) if name in scale_fns else con.sql(oracles[name])
                    dcols, dtotal, ddig, dmax = duck_digest(rel)
                except Exception as e:  # noqa: BLE001
                    print(f"FAIL {name}: duckdb error: {e}")
                    failures.append(name)
                    _decertify(name)
                    continue
                t_oracle = round(time.time() - t1, 1)
                if cache is not None:
                    cache[ckey] = {
                        "gate": name, "fixture": fixture_label, "cols": dcols,
                        "nrows": dtotal, "digest": [list(r) for r in ddig],
                        "max_abs": dmax,
                    }
                    _dump_json(cache_path, cache)
            ok = True
            if max(smax, dmax) >= 9e9:
                print(f"FAIL {name}: digest double magnitude {max(smax, dmax)} "
                      f"overflows the x1e8 BIGINT render — use the full tier")
                ok = False
            if stotal != dtotal:
                print(f"FAIL {name}: rowcount spark={stotal} duckdb={dtotal}")
                ok = False
            if scols != dcols:
                print(f"FAIL {name}: columns spark={scols} duckdb={dcols}")
                ok = False
            if ok and sdig != ddig:
                print(f"FAIL {name}: digest mismatch ({stotal} rows)")
                for a, b in zip(sdig, ddig):
                    if a != b:
                        print(f"  spark : {a}\n  duckdb: {b}")
                        break
                ok = False
            if ok:
                print(f"PASS {name} [{DIGEST_SPEC}] ({stotal} rows, spark "
                      f"{t_spark:.1f}s, oracle {t_oracle}"
                      f"{'' if t_oracle == 'cached' else 's'})")
                if record is not None:
                    record[name] = {
                        "fixture": fixture_label,
                        "fixture_digest": fdig,
                        "oracle_md5": sql_md5,
                        "rows": stotal,
                        "spark_sec": round(t_spark, 1),
                        "oracle_sec": t_oracle,
                        "check": DIGEST_SPEC,
                    }
                    if name in scale_fns or name in scale_gates:
                        record[name]["oracle"] = "scale-tier"
                    _dump_json(record_path, record)
            else:
                failures.append(name)
                _decertify(name)
            continue
        try:
            with cache_scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            _decertify(name)
            continue
        if name not in oracles and name not in scale_fns:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"     WARNING: {name} returned 0 rows")
            continue
        t_spark = time.time() - t0
        if name in scale_fns:
            sql_md5 = hashlib.md5(f"{scale_fns_md5}:{name}".encode()).hexdigest()
        else:
            sql_md5 = hashlib.md5(oracles[name].encode()).hexdigest()
        ckey = f"{fdig}:{sql_md5}"
        hit = cache.get(ckey) if cache is not None else None
        if hit is None and cache is not None:
            # migrate pre-r8 size-only-digest entries to the
            # content-aware key (same fixture bytes, same SQL) so the
            # ~1000s slow oracles don't re-run on a tooling upgrade
            legacy = cache.get(f"{fdig_legacy}:{sql_md5}")
            if legacy is not None:
                cache[ckey] = legacy
                _dump_json(cache_path, cache,
                           drop={f"{fdig_legacy}:{sql_md5}"})
                hit = legacy
        t_oracle: float | str
        if hit is not None:
            dcols, n_drows, dh, unsafe = (
                hit["cols"], hit["nrows"], hit["hash"], hit.get("unsafe", {})
            )
            drows = None
            t_oracle = "cached"
        else:
            t1 = time.time()
            try:
                rel = scale_fns[name](con) if name in scale_fns else con.sql(oracles[name])
                dcols = [c for c in rel.columns]
                unsafe = unsafe_oracle_types(rel)
                drows = rel.fetchall()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error: {e}")
                failures.append(name)
                _decertify(name)
                continue
            n_drows = len(drows)
            dh = frame_hash(dcols, drows)
            t_oracle = round(time.time() - t1, 1)
            if cache is not None:
                cache[ckey] = {
                    "gate": name, "fixture": fixture_label, "cols": dcols,
                    "nrows": n_drows, "hash": dh, "unsafe": unsafe,
                }
                _dump_json(cache_path, cache)
        ok = True
        if unsafe:
            print(f"FAIL {name}: fetch-path-unsafe oracle types {unsafe} "
                  f"(CAST to BIGINT/DOUBLE — HUGEINT et al. hash differently via pandas)")
            ok = False
        if len(srows) != n_drows:
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={n_drows}")
            ok = False
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            ok = False
        if ok:
            sh = frame_hash(scols, srows)
            if sh != dh:
                print(f"FAIL {name}: value hash mismatch ({len(srows)} rows)")
                if drows is None:
                    print("  (oracle side from cache — rerun without --cache "
                          "or delete the entry to see row diffs)")
                else:
                    # show first differing rows for debugging
                    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                    order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                    aset = sorted("|".join(normalize_cell(r[i]) for i in order_s) for r in srows)
                    bset = sorted("|".join(normalize_cell(r[i]) for i in order_d) for r in drows)
                    for a, b in zip(aset, bset):
                        if a != b:
                            print(f"  spark : {a[:200]}\n  duckdb: {b[:200]}")
                            break
                    only_a = set(aset) - set(bset)
                    only_b = set(bset) - set(aset)
                    for x in list(only_a)[:2]:
                        print(f"  only-spark : {x[:200]}")
                    for x in list(only_b)[:2]:
                        print(f"  only-duckdb: {x[:200]}")
                ok = False
        if ok:
            print(
                f"PASS {name} ({len(srows)} rows, spark {t_spark:.1f}s, "
                f"oracle {t_oracle}{'' if t_oracle == 'cached' else 's'})"
            )
            if len(srows) == 0:
                print(f"     WARNING: {name} returned 0 rows")
            if record is not None:
                # fixture_digest + oracle_md5 make staleness DETECTABLE:
                # a later fixture rebuild or oracle-SQL edit no longer
                # silently inherits this row's "certified" status — any
                # auditor can recompute both and compare
                record[name] = {
                    "fixture": fixture_label,
                    "fixture_digest": fdig,
                    "oracle_md5": sql_md5,
                    "rows": len(srows),
                    "spark_sec": round(t_spark, 1),
                    "oracle_sec": t_oracle,
                }
                if name in scale_fns or name in scale_gates:
                    record[name]["oracle"] = "scale-tier"
                elif _ZREAL_BASE in oracles[name]:
                    # fixture-keyed path-embedding oracle: its SQL text
                    # (hence md5) differs per fixture — mark it so the
                    # ledger staleness audit knows not to recompute the
                    # md5 from the default-env oracle text
                    record[name]["oracle"] = "path-embedded"
                _dump_json(record_path, record)
        else:
            failures.append(name)
            _decertify(name)

    n_run = len([n for n in qs if (not only or n in only) and n not in skip])
    print(f"\n{n_run - len(failures)}/{n_run} ok ({len(qs)} registered, "
          f"{n_skipped} skipped); failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
