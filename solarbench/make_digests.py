"""Regenerate ``digests.json``, the batch workload's expected results.

    python3 solarbench/make_digests.py [--cross-check]

Run from the repository root. Writes the batch tables with the generator,
records each table's sha256, runs every query's DuckDB oracle from
``registry.ORACLES`` over them and stores an order-insensitive digest of
each result (``reference.rows_digest``), so a benchmark run checks query
output without rerunning DuckDB; every ``run.py --workload batch_queries``
run compares the program's results with them. ``--cross-check`` compares the Spark-free stream reference with the
repository's ``solar_anomalies`` DuckDB oracle on a generated sample.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402
import reference  # noqa: E402
from workloads import BATCH_QUERIES, DIGESTS  # noqa: E402

TABLES = ("events", "documents", "embeddings", "customer", "orders", "lineitem")


def duck(tables: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables, t + '.parquet')}')")
    return con


def oracle_rows(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def cross_check(work: str) -> int:
    """Stream reference vs the solar_anomalies oracle on one sample: the
    generator's records as an events table (panel pN -> user_id N)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_example_spark.registry import ORACLES

    recs = [r[:4] for r in gen.solar_records(7, 300, 120, 6)]
    expected, _, _ = reference.expected_alerts(recs)
    os.makedirs(work, exist_ok=True)
    path = os.path.join(work, "events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(recs)), pa.int64()),
        "ts": pa.array([r[0] * 1000 for r in recs], pa.timestamp("us")),
        "user_id": pa.array([int(r[1][1:]) for r in recs], pa.int64()),
        "event_type": [r[2] for r in recs],
        "value": pa.array([r[3] for r in recs], pa.float64()),
        "props": [None] * len(recs),
    }), path)
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    cols, rows = oracle_rows(con, ORACLES["solar_anomalies"])
    got = sorted(
        (r["w_end"] * 1000, f"p{r['panel']}", r["module"], r["cnt"], r["sum_power"], r["avg_power"],
         r["panel_cnt"], r["panel_sum"], r["panel_avg"], r["squares_sum"], r["variance"], r["deviance"])
        for r in (dict(zip(cols, row)) for row in rows)
        if r["w_end"] * 1000 in {w for w, _ in expected}
    )
    want = sorted(
        (w, row[0], row[1], *row[3:6], *row[7:])
        for (w, _), rows_ in expected.items() for row in rows_.elements()
    )
    diff = set(got) ^ set(want)
    print(f"cross-check: reference {len(want)} alert rows, oracle {len(got)}, differing {len(diff)}")
    for d in sorted(diff)[:10]:
        print("  ", d, "oracle" if d in set(got) else "reference")
    return 1 if diff or len(got) != len(want) else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cross-check", action="store_true")
    a = ap.parse_args()
    os.environ["TZ"] = "UTC"  # as run.py: collected timestamps read as UTC
    time.tzset()
    work = os.path.join(os.getcwd(), ".bench_build", "solarbench", "digests")
    if a.cross_check:
        return cross_check(os.path.join(work, "cross"))

    from kafka_streams_example_spark.registry import ORACLES

    tables = os.path.join(work, "tables")
    gen.write_tables(tables)
    inputs = {}
    for t in TABLES:
        with open(os.path.join(tables, f"{t}.parquet"), "rb") as f:
            inputs[t] = hashlib.sha256(f.read()).hexdigest()
    con = duck(tables)
    queries = {}
    for q in sorted(q for qs in BATCH_QUERIES.values() for q in qs):
        cols, rows = oracle_rows(con, ORACLES[q])
        queries[q] = reference.rows_digest(cols, rows)
        print(f"{q}: {len(rows)} rows", flush=True)
    tmp = DIGESTS + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"inputs": inputs, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, DIGESTS)
    return 0


if __name__ == "__main__":
    sys.exit(main())
