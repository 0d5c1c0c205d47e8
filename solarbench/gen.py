"""Load generator: the only source of the program's input.

Runs as its own process and writes files the program reads; nothing else
reaches the program. Usage (from the repository root):

    python3 solarbench/gen.py backlog --seed N --out DIR
    python3 solarbench/gen.py live --seed N --out DIR --seconds S --log FILE
    python3 solarbench/gen.py tables --out DIR

``backlog`` writes a finished backlog of Kafka-shaped JSON records
``{timestamp, key, value}``. ``live`` is an open loop: it prints ``ready``,
waits for a line on stdin, then publishes one file per tick on a fixed
schedule that does not slow when the consumer does, with event time
running ``LIVE["speedup"]`` times faster than wall time; at exit it writes a
log of scheduled and actual publish times. ``tables`` writes the fixed
parquet tables of the batch workload (its content does not depend on the
seed). Every file is published atomically: written under a dot-prefixed
name in the same directory, then renamed.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reference  # noqa: E402

EPOCH0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, a window boundary
JITTER_MS = 2_000  # publish order differs from event order by up to this

# Backlog: a consumer restarts on this many full windows over tens of
# thousands of (panel, module) keys (about 27k per window, 360k records),
# plus two sparse windows whose records move the watermark past the last
# full one. Written as ``files`` equal files.
BACKLOG = {"windows": 4, "panels": 20000, "active": 6000, "files": 8}
# Live: a few hundred panels, ``active`` of them reporting in each window;
# event time runs ``speedup`` x wall time, so a 30 s window closes every
# 0.05 s of wall time (about 6k records/s).
LIVE = {"panels": 400, "active": 20, "speedup": 600, "tick_s": 0.1}


def publish(path: str, text: str, mtime: float | None = None) -> None:
    """Write ``path`` so a reader never sees it partially written."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


# --------------------------------------------------------------------------
# Solar telemetry
# --------------------------------------------------------------------------

def _split(rng: random.Random, quarters: int, cnt: int) -> list[float]:
    """``cnt`` non-negative multiples of 1/4 summing to quarters/4."""
    cuts = sorted(rng.randint(0, quarters) for _ in range(cnt - 1))
    bounds = [0, *cuts, quarters]
    return [(b - a) / 4 for a, b in zip(bounds, bounds[1:])]


def _panel_window(rng: random.Random, n: int, kind: str) -> list[list[float]]:
    """Power readings per module for one (window, panel).

    Kinds keep the pipeline's edge rules in the data: ``flat`` gives equal
    module sums (zero sigma, no alert); ``sigma_tie`` gives module sums
    a -/+ x with x in {0.25, 0.75, 1.25}, so sigma sits exactly on a
    rounding tie; ``mean_tie`` puts the panel mean on a tie (x.25 / x.75);
    ``random`` draws counts and powers freely, with some modules whose
    average is a tie."""
    if kind == "flat":
        same = [rng.randint(0, 1600) / 4 for _ in range(rng.randint(1, 4))]
        return [list(same) for _ in range(n)]
    if kind == "sigma_tie" and n % 2 == 0:
        a, x = rng.randint(40, 300), rng.choice((0.25, 0.75, 1.25))
        sums = [a - x, a + x] * (n // 2)
    else:
        sums = [rng.randint(0, 4 * 400) / 4 for _ in range(n)]
        if kind == "mean_tie":
            target = n * (2 * rng.randint(100, 800) + 1) / 4  # mean = odd/4
            sums[-1] += target - sum(sums)
            if sums[-1] < 0:
                return _panel_window(rng, n, "random")
    out = []
    for s in sums:
        if kind == "random" and rng.random() < 0.15:
            p = rng.randint(0, 400) / 2
            out.append([p, p + 0.5])  # average p + 0.25: a HALF_UP tie
        else:
            out.append(_split(rng, round(s * 4), rng.randint(1, 6)))
    return out


def solar_records(seed: int, n_panels: int, active: int, windows: int) -> list[tuple]:
    """Records (ts_ms, panel, module, power, publish_key_ms) in publish
    order: ``windows`` full windows of ``active`` panels each, then two
    sparse windows that close them. Panels whose outcome would depend on
    float summation order are redrawn (reference.panel_outcome)."""
    rng = random.Random(seed)
    modules = [rng.randint(2, 7) for _ in range(n_panels)]
    recs = []
    for w in range(windows + 2):
        start = EPOCH0_MS + w * reference.WINDOW_MS
        count = active if w < windows else max(1, active // 20)
        for p in rng.sample(range(n_panels), count):
            n, panel = modules[p], f"p{p}"
            for _ in range(20):
                kind = rng.choices(("random", "flat", "sigma_tie", "mean_tie"), (84, 4, 6, 6))[0]
                powers = _panel_window(rng, n, kind)
                mods = {f"m{j}": (len(v), sum(v)) for j, v in enumerate(powers)}
                if not reference.panel_outcome(panel, mods).ambiguous:
                    break
            else:
                raise RuntimeError("could not draw an unambiguous panel window")
            for j, values in enumerate(powers):
                for v in values:
                    ts = start + rng.randrange(reference.WINDOW_MS)
                    recs.append((ts, panel, f"m{j}", v, ts + rng.randrange(JITTER_MS)))
    recs.sort(key=lambda r: r[4])
    return recs


@functools.lru_cache(maxsize=4096)
def _stamp(sec: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec))


def kafka_line(ts: int, panel: str, module: str, power: float) -> str:
    """One record as ``json.dumps`` would write it (panel and module names
    need no escaping), built by hand because the backlog has 360k of them."""
    sec, ms = divmod(ts, 1000)
    value = f'{{\\"panel\\": \\"{panel}\\", \\"name\\": \\"{module}\\", \\"power\\": {power!r}}}'
    return f'{{"timestamp": "{_stamp(sec)}.{ms:03d}Z", "key": "{panel}/{module}", "value": "{value}"}}\n'


def write_backlog(seed: int, out: str) -> None:
    recs = solar_records(seed, BACKLOG["panels"], BACKLOG["active"], BACKLOG["windows"])
    os.makedirs(out, exist_ok=True)
    per = -(-len(recs) // BACKLOG["files"])
    base = time.time() - 3600
    for i in range(BACKLOG["files"]):
        chunk = recs[i * per:(i + 1) * per]
        # distinct mtimes: the file source admits files oldest first
        publish(os.path.join(out, f"part-{i:05d}.json"),
                "".join(kafka_line(*r[:4]) for r in chunk), mtime=base + i)


def run_live(seed: int, out: str, seconds: float, log: str) -> None:
    """Open loop: file j holds the records due in [j, j+1) ticks after
    start and is published at the end of that tick."""
    speed, tick = LIVE["speedup"], LIVE["tick_s"]
    windows = int(seconds * speed * 1000 / reference.WINDOW_MS)
    recs = solar_records(seed, LIVE["panels"], LIVE["active"], windows)
    key0 = recs[0][4]
    due = [(r[4] - key0) / speed / 1000 for r in recs]
    files: list[list[str]] = []
    for r, d in zip(recs, due):
        j = int(d / tick)
        while len(files) <= j:
            files.append([])
        files[j].append(kafka_line(*r[:4]))
    # due offset of the first record (in publish order) that moves the
    # watermark past each window's end
    close_due: dict[int, float] = {}
    closed = EPOCH0_MS
    for r, d in zip(recs, due):
        reach = (r[0] - reference.WATERMARK_MS) // reference.WINDOW_MS * reference.WINDOW_MS
        while closed < reach:
            closed += reference.WINDOW_MS
            close_due[closed] = d
    os.makedirs(out, exist_ok=True)
    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.time()
    sched = []
    for j, lines in enumerate(files):
        at = t0 + (j + 1) * tick
        delay = at - time.time()
        if delay > 0:
            time.sleep(delay)
        publish(os.path.join(out, f"tick-{j:06d}.json"), "".join(lines))
        sched.append((at, time.time(), len(lines)))
    publish(log, json.dumps({
        "t0": t0,
        "files": sched,
        "close_due": {str(w): t0 + d for w, d in close_due.items()},
    }))


# --------------------------------------------------------------------------
# Batch tables (fixed content; the seed only orders the queries)
# --------------------------------------------------------------------------

TABLES_SEED = 20240101
# Row counts of the repository's sf0.01 test tier (TESTDATA.md): lineitem
# comes to about 4 rows per order, as in TPC-H.
ROWS = {"events": 10_000, "documents": 500, "embeddings": 500, "customer": 1_500, "orders": 15_000}
_WORDS = (
    "the a fast slow big small key value row column table scan merge join sort "
    "hash filter group order part line data query stream batch window spark agg "
    "vector customer index shard cache plan node edge token"
).split()


def _tables(rng: random.Random) -> dict:
    import datetime as dt

    day0 = dt.datetime(2024, 1, 1)
    events = []
    for i in range(ROWS["events"]):
        ts = day0 + dt.timedelta(microseconds=rng.randrange(2 * 3600 * 10**6))
        events.append((i, ts, rng.randrange(15), rng.choice(("click", "view", "purchase", "signup", "error")),
                       rng.randint(0, 1200) / 4, json.dumps({"k": rng.randrange(100)})))
    docs = []
    for i in range(ROWS["documents"]):
        if i >= 40 and rng.random() < 0.15:  # near or exact duplicate of an earlier doc
            _, text, lang, src, _ = docs[rng.randrange(len(docs))]
            toks = text.split()
            if rng.random() < 0.7:
                for _ in range(max(1, len(toks) // 10)):
                    toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
            text = " ".join(toks)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 90)))
            lang, src = rng.choice(("en", "de", "es", "fr", "zh")), f"src{rng.randrange(4)}"
        docs.append((i, text, lang, src, len(text)))
    embs = []
    for i in range(ROWS["embeddings"]):
        if i >= 20 and rng.random() < 0.08:
            base = embs[rng.randrange(len(embs))][1]
            vec = [x + rng.gauss(0, 0.01) for x in base]
        else:
            vec = [rng.gauss(0, 1) for _ in range(64)]
        embs.append((i, vec, rng.randrange(10)))
    customer = [(c, f"Customer#{c:09d}", rng.randrange(25), rng.randint(-99999, 999999) / 100,
                 rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
                for c in range(1, ROWS["customer"] + 1)]
    orders, lineitem = [], []
    for o in range(1, ROWS["orders"] + 1):
        odate = dt.datetime(1992, 1, 1) + dt.timedelta(days=rng.randrange(2400))
        lines = []
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.randint(90000, 200000) / 100, 2)
            ship = odate + dt.timedelta(days=rng.randint(1, 120))
            lines.append((o, rng.randint(1, 200), rng.randint(1, 10), ln, qty, price,
                          rng.randint(0, 10) / 100, rng.randint(0, 8) / 100,
                          rng.choice("RAN"), "F" if ship < dt.datetime(1995, 6, 17) else "O", ship))
        lineitem += lines
        orders.append((o, rng.randint(1, ROWS["customer"]), rng.choice("FOP"), round(sum(x[5] for x in lines), 2),
                       odate, rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    return {
        "events": (events, "event_id int64, ts timestamp, user_id int64, event_type string, value double, props string"),
        "documents": (docs, "doc_id int64, text string, lang string, source string, n_chars int64"),
        "embeddings": (embs, "vec_id int64, embedding list<float>, label int32"),
        "customer": (customer, "c_custkey int64, c_name string, c_nationkey int32, c_acctbal double, c_mktsegment string"),
        "orders": (orders, "o_orderkey int64, o_custkey int64, o_orderstatus string, o_totalprice double, "
                           "o_orderdate timestamp, o_orderpriority string"),
        "lineitem": (lineitem, "l_orderkey int64, l_partkey int64, l_suppkey int64, l_linenumber int32, "
                               "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                               "l_returnflag string, l_linestatus string, l_shipdate timestamp"),
    }


def write_tables(out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int64": pa.int64(), "int32": pa.int32(), "double": pa.float64(), "string": pa.string(),
             "timestamp": pa.timestamp("us"), "list<float>": pa.list_(pa.float32())}
    os.makedirs(out, exist_ok=True)
    for name, (rows, ddl) in _tables(random.Random(TABLES_SEED)).items():
        fields = [f.strip().split(" ", 1) for f in ddl.split(",")]
        schema = pa.schema([(n, types[t]) for n, t in fields])
        cols = list(zip(*rows))
        table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
        path = os.path.join(out, f"{name}.parquet")
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=("backlog", "live", "tables"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--log")
    a = ap.parse_args()
    if a.kind == "backlog":
        write_backlog(a.seed, a.out)
    elif a.kind == "live":
        run_live(a.seed, a.out, a.seconds, a.log)
    else:
        write_tables(a.out)


if __name__ == "__main__":
    main()
