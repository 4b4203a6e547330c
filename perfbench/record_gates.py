"""Record gate_sweep's expected results in gates_expected.json.

    python3 perfbench/record_gates.py

Generates the gate fixture, runs each sweep gate's DuckDB oracle SQL
(from __spark_entry__.oracle_sql()) over it and records the row count
and order-insensitive value hash. It also runs each gate on Spark and
reports any disagreement; a gate without an oracle, or whose oracle
disagrees, is recorded from Spark and marked "source": "spark". So is a
gate whose oracle is a brute-force all-pairs query that does not finish
within ORACLE_TIMEOUT_S on the fixture ("oracle": "timeout").
"""

from __future__ import annotations

import json
import os
import sys
import threading

import run  # sets up sys.path and the Spark environment helpers
import workloads as wl

ORACLE_TIMEOUT_S = 240


def run_oracle(con, sql: str):
    """(columns, rows) of the oracle, or None if it outlives ORACLE_TIMEOUT_S."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        return rel.columns, rel.fetchall()
    except Exception as e:  # noqa: BLE001 — duckdb raises its own InterruptException
        if "INTERRUPT" in str(e).upper():
            return None
        raise
    finally:
        timer.cancel()


def main() -> int:
    import duckdb

    run.configure_environment()
    fixture = wl.gate_fixture(run.WORK)
    import __spark_entry__
    from meteor_spark import queries
    from meteor_spark.session import get_spark

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for table in ("documents", "events", "lineitem"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{fixture}/{table}.parquet'")
    spark = get_spark("record-gates")
    spark.sparkContext.setLogLevel("ERROR")
    gates = {}
    try:
        for gate in wl.GATES:
            df = queries.QUERIES[gate](spark, fixture)
            rows = df.collect()
            got = {"rows": len(rows), "hash": wl.frame_hash(df.columns, rows)}
            entry = {**got, "source": "spark"}
            result = run_oracle(con, oracles[gate]) if isinstance(oracles.get(gate), str) else None
            if result is None:
                entry["oracle"] = "timeout" if gate in oracles else "none"
            else:
                want = {"rows": len(result[1]), "hash": wl.frame_hash(*result)}
                if want == got:
                    entry = {**want, "source": "duckdb-oracle"}
                else:
                    entry["oracle"] = "disagrees"
                    print(f"{gate}: spark {got} != oracle {want}", file=sys.stderr)
            gates[gate] = entry
            print(gate, entry, flush=True)
            spark.catalog.clearCache()
            queries._SHARED.clear()
    finally:
        run.stop_spark(spark)
    path = os.path.join(wl.HERE, "gates_expected.json")
    with open(path, "w") as f:
        json.dump({"fixture_seed": wl.gen.GATE_FIXTURE_SEED, "gates": gates}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
