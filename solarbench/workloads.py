"""The workloads. Each returns (attempted, failed, problems, end-to-end
metrics, per-layer metrics); run.py picks which set to print."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import harness
import reference
from harness import median, pct

HERE = os.path.dirname(os.path.abspath(__file__))
GEN = os.path.join(HERE, "gen.py")
SETUPS = 3  # cold set-ups per run; setup_s is their median
# Backlog admission per trigger: all 8 files, so a drain is one trigger
# that reads and aggregates 360k records and one that closes the windows.
MAX_FILES_PER_TRIGGER = 8
WARM_IN_DRAINS = 2  # untimed drains after set-up
TIMED_DRAINS = 3  # throughput_per_s is their median
LIVE_WARM_S = 3  # open-loop seconds before latency samples are taken

# The batch workload's query set, by family (names from registry.QUERIES).
BATCH_QUERIES = {
    "solar": ["solar_anomalies", "solar_panel_stats", "solar_wire_reference_format"],
    "dedup": ["minhash_jaccard_estimate", "semdedup_prune", "corpus_curation_pipeline",
              "neardup_simhash_pairs", "substring_exact_spans"],
    "text": ["bpe_train_merges", "tfidf_top_terms"],
    "retrieval": ["similarity_ivf_topk", "similarity_cosine_topk"],
    "relational": ["q1_pricing_summary", "q18_large_orders"],
    "events": ["events_json_stats"],
}
DIGESTS = os.path.join(HERE, "digests.json")


def generate(kind: str, *args: str) -> None:
    subprocess.run([sys.executable, GEN, kind, *args], check=True, timeout=300)


# --------------------------------------------------------------------------
# Shared pieces
# --------------------------------------------------------------------------

class Run:
    """State of one benchmark run: work dir, spans, memory sampler and
    the session kept after set-up."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.spans = harness.Spans(trace)
        self.rss = harness.RssSampler()
        self.rss.start()
        self.spark = None
        self.listener = None
        self.layer: dict[str, float] = {}

    def setup(self) -> None:
        """Start the session and warm it up, SETUPS times; keep the last.
        Each set-up is a cold start: the JVM of the one before is shut
        down, so JVM launch and class loading are timed every time. The
        warm-up is one small job, so no measured query pays for the
        session's first job."""
        get_s, warm_s, total = [], [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                harness.shutdown_jvm(self.spark)
                self.spark = None
            t0 = time.perf_counter()
            with self.spans.span("session.get_spark"):
                self.spark = harness.start_spark(self.work)
            self.rss.root = harness.jvm_pid(self.spark)
            t1 = time.perf_counter()
            with self.spans.span("session.warmup"):
                self.spark.range(100_000).selectExpr("sum(id) AS s").collect()
            t2 = time.perf_counter()
            get_s.append(t1 - t0)
            warm_s.append(t2 - t1)
            total.append(t2 - t0)
        self.setup_s = median(total)
        self.layer["session.get_spark_s"] = median(get_s)
        self.layer["session.warmup_s"] = median(warm_s)

    def listen(self) -> None:
        self.listener = harness.make_listener()
        self.spark.streams.addListener(self.listener)

    def close(self) -> float:
        if self.spark is not None:
            harness.shutdown_jvm(self.spark)
        self.spans.write(os.path.join(self.work, "spans.json"), self.listener.events if self.listener else [])
        return self.rss.stop()


def kafka_stream(spark, path: str, max_files: int | None = None):
    """The JSON file stream standing in for the Kafka topic, parsed by the
    program's own Kafka record parser."""
    from pyspark.sql import types as T

    from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA_WIRE
    from kafka_streams_example_spark.sources.kafka import parse_kafka_records

    raw = T.StructType([
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
    ])
    reader = spark.readStream.schema(raw)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return parse_kafka_records(reader.json(path), SOLAR_MODULE_DATA_WIRE)


def read_records(path: str) -> list[tuple[int, str, str, float]]:
    """The generated records as the program received them, read without
    Spark: (event time ms, panel, module, power)."""
    import calendar

    lines = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("."):
            with open(os.path.join(path, name)) as f:
                lines += f.read().splitlines()
    # One decoder call per level of nesting, not one per line.
    recs = json.loads("[" + ",".join(lines) + "]")
    values = json.loads("[" + ",".join(r["value"] for r in recs) + "]")
    secs: dict[str, int] = {}
    out = []
    for r, v in zip(recs, values):
        stamp = r["timestamp"]
        s = secs.get(stamp[:19])
        if s is None:
            s = secs[stamp[:19]] = calendar.timegm(time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S"))
        out.append((s * 1000 + int(stamp[20:23]), v["panel"], v["name"], v["power"]))
    return out


def start_query(run: Run, path: str, name: str, sink, max_files: int | None = None):
    from kafka_streams_example_spark.streaming.solar_stream import stream_anomalies

    return stream_anomalies(
        kafka_stream(run.spark, path, max_files), sink,
        checkpoint=os.path.join(run.work, "ck", name), query_name=name,
    )


def stream_layers(drain_events: list[dict], live_events: list[dict], drain_sinks: list, live_sink) -> dict:
    """Per-layer stream metrics. Per-record work (input, addBatch, state)
    comes from the backlog drains and per-trigger work (listing, planning,
    commits, trigger time) from the open loop; counts are per drain."""
    ms = lambda evs, k: [e["ms"].get(k, 0) for e in evs]  # noqa: E731
    drains = len(drain_sinks)
    return {
        "sources.records_in": sum(e["rows"] for e in drain_events) / drains,
        "sources.list_ms_p50": median(ms(live_events, "latestOffset")),
        "streaming.triggers": len(live_events),
        "streaming.trigger_ms_p50": median(ms(live_events, "triggerExecution")),
        "streaming.planning_ms_p50": median(ms(live_events, "queryPlanning")),
        "streaming.commit_ms_p50": median([e["ms"].get("walCommit", 0) + e["ms"].get("commitOffsets", 0)
                                           for e in live_events]),
        "streaming.add_batch_ms_p50": median(ms(drain_events, "addBatch")),
        "streaming.state_rows_max": max(e["state_rows"] for e in drain_events),
        "streaming.state_bytes_max": max(e["state_bytes"] for e in drain_events),
        "streaming.state_commit_ms_p50": median([e["state_commit_ms"] for e in drain_events]),
        "streaming.rows_dropped_late": sum(e["dropped"] for e in drain_events + live_events),
        "sink.ms_p50": median([m for s in drain_sinks for m in s.ms] + live_sink.ms),
        "sink.rows": sum(s.rows for s in drain_sinks) / drains,
    }


def stage_probe(run: Run, solar_input, parse: bool) -> dict:
    """Batch calls of the solar plan layers over a workload's input, one
    layer at a time: each stage is cached and counted, and reads its
    predecessor's cached output. ``solar_input`` is the parsed input
    DataFrame; with ``parse`` its parse is the first timed stage."""
    from kafka_streams_example_spark.plans import solar

    out = {}

    def stage(name: str, df):
        t = time.perf_counter()
        with run.spans.span(name):
            df = df.cache()
            df.count()
        out[name + "_s"] = time.perf_counter() - t
        return df

    parsed = stage("sources.kafka.parse", solar_input) if parse else solar_input
    mod = stage("plans.solar.module_aggregates", solar.module_aggregates(parsed))
    alerts = stage("plans.solar.anomalies_from_modules", solar.anomalies_from_modules(mod))
    stage("plans.solar.wire_format", solar.anomalies_wire_format(alerts))
    run.spark.catalog.clearCache()
    return out


def kafka_files(run: Run, path: str):
    """The workload's generated Kafka-shaped files as a batch DataFrame,
    parsed by the program's Kafka record parser."""
    from kafka_streams_example_spark.schemas import SOLAR_MODULE_DATA_WIRE
    from kafka_streams_example_spark.sources.kafka import parse_kafka_records

    raw = run.spark.read.schema("timestamp timestamp, key string, value string").json(path)
    return parse_kafka_records(raw, SOLAR_MODULE_DATA_WIRE)


# --------------------------------------------------------------------------
# solar_stream: a consumer restarts on a backlog, then follows live traffic
# --------------------------------------------------------------------------

def drain(run: Run, src: str, name: str, expected, final_wm: int, n_records: int):
    """Restart a consumer on the whole backlog; return the check, the
    drain's throughput and the progress events of its query."""
    sink = harness.WireSink(run.spans)
    t0 = time.time()
    with run.spans.span("streaming.query", query=name):
        q = start_query(run, src, name, sink, MAX_FILES_PER_TRIGGER)
        done = run.listener.wait_watermark(str(q.runId), final_wm, timeout=60)
        q.stop()
    if not done:  # a stalled consumer would run the benchmark past its time limit
        raise RuntimeError(f"{name}: final watermark not reached within 60 s")
    events = run.listener.of_run(str(q.runId))
    check = reference.check_stream(expected, sink.batches, {e["batch"]: e["watermark"] for e in events})
    last = max(check.emitted_at.values(), default=time.time())
    return check, n_records / (last - t0), events, sink


def live(run: Run, tag: str):
    """The open loop: start the consumer on an empty topic, let the
    generator publish for LIVE_WARM_S + run.seconds, wait for the last
    closed window's alerts. Latency samples are the windows the generator
    closed after the warm-in."""
    src = os.path.join(run.work, f"live_{tag}")
    log = os.path.join(run.work, f"live_{tag}.json")
    os.makedirs(src, exist_ok=True)
    gen = subprocess.Popen(
        [sys.executable, GEN, "live", "--seed", str(run.seed), "--out", src,
         "--seconds", str(run.seconds + LIVE_WARM_S), "--log", log],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed to start")
        sink = harness.WireSink(run.spans)
        with run.spans.span("streaming.query", query=tag):
            q = start_query(run, src, f"live_{tag}", sink)
            gen.stdin.write("go\n")
            gen.stdin.flush()
            gen.wait(run.seconds + LIVE_WARM_S + 30)
            records = read_records(src)
            expected, final_wm, _ = reference.expected_alerts(records)
            done = run.listener.wait_watermark(str(q.runId), final_wm, timeout=30)
            q.stop()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait(10)
    with open(log) as f:
        glog = json.load(f)
    if not done:
        raise RuntimeError(f"live_{tag}: final watermark not reached within 30 s")
    events = run.listener.of_run(str(q.runId))
    check = reference.check_stream(expected, sink.batches, {e["batch"]: e["watermark"] for e in events})
    due = {w: glog["close_due"][str(w)] for w in check.emitted_at}
    lat = [(at - due[w]) * 1000 for w, at in check.emitted_at.items() if due[w] >= glog["t0"] + LIVE_WARM_S]
    return check, lat, events, sink, glog


def solar_stream(run: Run) -> tuple:
    src = os.path.join(run.work, "backlog")
    generate("backlog", "--seed", str(run.seed), "--out", src)
    records = read_records(src)
    expected, final_wm, _ = reference.expected_alerts(records)
    alert_rows = sum(sum(c.values()) for c in expected.values())
    run.setup()
    run.listen()
    counts = {"attempted": 0, "failed": 0}
    problems: list[str] = []

    def record(check, events):
        counts["attempted"] += check.attempted
        counts["failed"] += check.failed + sum(e["dropped"] for e in events)
        problems.extend(check.problems)

    def drains(tag: str, n: int):
        rates, evs, sinks = [], [], []
        for k in range(n):
            check, rate, events, sink = drain(run, src, f"{tag}_{k}", expected, final_wm, len(records))
            record(check, events)
            rates.append(rate)
            evs += events
            sinks.append(sink)
        return rates, evs, sinks

    def measure(tag: str):
        """The open loop for run.seconds, then the timed drains: the JIT
        is still speeding drains up for several drains after set-up, and
        the open loop gives it that time."""
        check, lat, l_events, l_sink, glog = live(run, tag)
        record(check, l_events)
        rates, evs, sinks = drains(tag, TIMED_DRAINS)
        return rates, evs, sinks, lat, (l_events, l_sink, glog)

    # The drains right after set-up load the streaming classes and leave
    # the JIT compiling the hot paths; they are checked but not timed.
    run.spans.enabled = False
    drains("warmin", WARM_IN_DRAINS)
    rates, _, _, lat, _ = measure("open")
    e2e = {"throughput_per_s": median(rates), "latency_p50_ms": pct(lat, 50), "latency_p90_ms": pct(lat, 90)}
    layer = {}
    if run.trace:
        run.spans.enabled = True
        rates, evs, sinks, lat, (l_events, l_sink, glog) = measure("traced")
        layer.update(stream_layers(evs, l_events, sinks, l_sink))
        layer["plans.solar.alert_rows"] = alert_rows
        layer["sources.lag_records_p90"] = lag_p90(l_events, glog["files"])
        layer["gen.late_ms_max"] = max((at - s) * 1000 for s, at, _ in glog["files"])
        layer["trace.overhead_pct"] = 100 * (e2e["throughput_per_s"] / median(rates) - 1)
        layer.update(stage_probe(run, kafka_files(run, src), parse=True))
        layer["baseline.local1_records_per_s"] = local1_baseline(run, src, expected, final_wm, len(records), record)
    return counts["attempted"], counts["failed"], problems, e2e, layer


def lag_p90(events: list[dict], published: list) -> float:
    """Records published but not yet read when each trigger starts;
    ``published``: (scheduled, actual publish time, records) per file."""
    lags, consumed = [], 0
    for e in sorted(events, key=lambda e: e["batch"]):
        lags.append(max(sum(n for _, at, n in published if at <= e["at"]) - consumed, 0))
        consumed += e["rows"]
    return pct(lags, 90)


def local1_baseline(run: Run, src, expected, final_wm, n_records, record) -> float:
    """Drains of the same backlog on a single core (information only): the
    second one's rate. Their outputs are checked like any other."""
    run.spark.stop()
    run.spark = harness.start_spark(run.work, master="local[1]")
    run.spark.streams.addListener(run.listener)
    for k in range(2):
        check, rate, events, _ = drain(run, src, f"local1_{k}", expected, final_wm, n_records)
        record(check, events)
    return rate


# --------------------------------------------------------------------------
# batch_queries
# --------------------------------------------------------------------------

def file_sha256(path: str) -> str:
    import hashlib

    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def batch_tables(root: str, want: dict[str, str]) -> tuple[str, list[str]]:
    """The batch tables (fixed content), generated once per checkout and
    again when they differ from the ones the digests were made on.
    Returns the directory and the tables that still differ."""
    out = os.path.join(root, "tables")

    def differing():
        return [t for t, h in want.items()
                if not os.path.exists(os.path.join(out, f"{t}.parquet"))
                or file_sha256(os.path.join(out, f"{t}.parquet")) != h]

    if differing():
        generate("tables", "--out", out)
    return out, differing()


def sweep(run: Run, tables: str, order: list[str], want: dict[str, str], family: dict[str, str], tag: str):
    """One cache-cleared pass over the query set: per-query seconds and
    the names of queries whose output differs from the reference. When
    tracing, each query runs in job group ``tag:query``."""
    from kafka_streams_example_spark.registry import QUERIES

    sc = run.spark.sparkContext
    run.spark.catalog.clearCache()
    times, build, counts, failed, problems = {}, {}, {}, [], []
    for q in order:
        if run.spans.enabled:
            sc.setJobGroup(f"{tag}:{q}", q)
        t0 = time.perf_counter()
        try:
            with run.spans.span("queries.run", query=q, family=family[q]):
                df = QUERIES[q](run.spark, tables)
                t1 = time.perf_counter()
                rows = df.collect()
            t2 = time.perf_counter()
            counts[q] = len(rows)
            got = reference.rows_digest(df.columns, rows)
            if got != want.get(q):
                failed.append(q)
                problems.append(f"{q}: digest {got[:12]} != {str(want.get(q))[:12]}")
        except Exception as e:  # a failing query is a counted failure, not a crash
            t1 = t2 = time.perf_counter()
            failed.append(q)
            problems.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
        build[q], times[q] = t1 - t0, t2 - t0
    return times, build, counts, failed, problems


def job_counts(run: Run, tag: str, order: list[str]) -> tuple[int, int]:
    """Spark jobs and tasks of one traced sweep."""
    st = run.spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for q in order:
        for j in st.getJobIdsForGroup(f"{tag}:{q}"):
            jobs += 1
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
    return jobs, tasks


def batch_queries(run: Run) -> tuple:
    with open(DIGESTS) as f:
        ref = json.load(f)
    tables, bad_inputs = batch_tables(os.path.dirname(run.work), ref["inputs"])
    family = {q: fam for fam, qs in BATCH_QUERIES.items() for q in qs}
    order = sorted(family)
    random.Random(run.seed).shuffle(order)

    run.setup()
    att = fail = 0
    problems = [f"input table {t} differs from the one the digests were made on" for t in bad_inputs]
    want = ref["queries"] if not bad_inputs else {}

    def record(times, failed, probs):
        nonlocal att, fail
        att += len(times)
        fail += len(failed)
        problems.extend(probs)

    run.spans.enabled = False
    times, _, counts, failed, probs = sweep(run, tables, order, want, family, "first")
    first_sweep_s = sum(times.values())
    record(times, failed, probs)
    alert_rows = counts.get("solar_anomalies", 0)

    def measure():
        """Cache-cleared sweeps for run.seconds, at least one."""
        sweeps, builds, counts = [], [], []
        fams = {f: [] for f in BATCH_QUERIES}
        t_end = time.perf_counter() + run.seconds
        while not sweeps or time.perf_counter() < t_end:
            tag = f"s{len(sweeps)}"
            times, build, _, failed, probs = sweep(run, tables, order, want, family, tag)
            sweeps.append(sum(times.values()))
            if run.spans.enabled:
                counts.append(job_counts(run, tag, order))
            record(times, failed, probs)
            builds.append(build)
            for f, qs in BATCH_QUERIES.items():
                fams[f].append(sum(times[q] for q in qs))
        return sweeps, builds, fams, counts

    # The gated operation is the first sweep in the fresh session: what a
    # client that starts, runs the set once and exits waits for. (The
    # median of 15 unlike per-query times jumps between neighbouring
    # queries as the seed reorders them; the sweep total does not.) Sweeps
    # in a warm session take half as long; they run in the traced run.
    e2e = {"throughput_per_s": len(order) / first_sweep_s, "latency_p50_ms": first_sweep_s * 1000,
           "latency_p90_ms": pct([v * 1000 for v in times.values()], 90)}
    layer = {}
    if run.trace:
        base = median(measure()[0])
        run.spans.enabled = True
        sweeps, builds, fams, counts = measure()
        layer.update({f"queries.{f}.s": median(v) for f, v in fams.items()})
        layer["queries.build_ms"] = median([sum(b.values()) * 1000 for b in builds])
        layer["queries.exec_s"] = median(sweeps) - layer["queries.build_ms"] / 1000
        layer["queries.jobs"] = median([c[0] for c in counts])
        layer["queries.tasks"] = median([c[1] for c in counts])
        layer["queries.sweep_s"] = base
        layer["trace.overhead_pct"] = 100 * (median(sweeps) - base) / base
        layer["plans.solar.alert_rows"] = alert_rows
        from kafka_streams_example_spark.plans import solar
        from kafka_streams_example_spark.sources.files import load_table

        events = solar.events_as_solar(load_table(run.spark, tables, "events"))
        layer.update(stage_probe(run, events, parse=False))
    return att, fail, problems, e2e, layer
