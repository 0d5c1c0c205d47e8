"""Tests for the benchmark's output checks and generator.

    python3 -m pytest solarbench/test_checker.py -q

The stream checker must flag a missing, duplicated, extra or wrong-valued
alert and an alert emitted in the wrong micro-batch; the batch digest must
flag a changed result and ignore row and column order. The last test needs
Spark and shows why progress is collected through a listener.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import reference  # noqa: E402


def wire(row: tuple) -> tuple[str, str]:
    """A canonical reference row rendered as the program's sink row."""
    panel, module, _, cnt, s, avg, _, n, ps, pa, sq, var, dev = row
    value = {"moduleName": module, "panelName": panel, "count": cnt, "sumPower": s, "avgPower": avg,
             "solarPanelAggregator": {"panelName": panel, "count": n, "sumPower": ps, "avgPower": pa,
                                      "squaresSum": sq, "variance": var, "deviance": dev}}
    return panel, json.dumps(value)


@pytest.fixture(scope="module")
def stream():
    recs = [r[:4] for r in gen.solar_records(11, 60, 30, 3)]
    expected, final_wm, ambiguous = reference.expected_alerts(recs)
    assert not ambiguous
    windows = sorted({w for w, _ in expected})
    # one batch per window, watermark exactly at the window end
    batches, wms = [], {}
    for i, w in enumerate(windows):
        rows = [wire(r) for (w2, _), c in expected.items() if w2 == w for r in c.elements()]
        batches.append((i, rows, 1000.0 + i))
        wms[i] = w
    return expected, final_wm, batches, wms


def check(stream, batches=None, wms=None):
    expected, final_wm, b, w = stream
    return reference.check_stream(expected, b if batches is None else batches, w if wms is None else wms)


def alert_batch(batches):
    return next(i for i, (_, rows, _) in enumerate(batches) if rows)


def test_clean_output_passes(stream):
    res = check(stream)
    assert res.failed == 0 and not res.problems
    assert res.attempted == len(stream[0])
    assert sorted(res.emitted_at) == sorted({w for w, _ in stream[0]})


@pytest.mark.parametrize("plant", ["missing", "duplicated", "extra", "wrong_value", "foreign_panel"])
def test_planted_error_is_flagged(stream, plant):
    batches = [(i, list(rows), t) for i, rows, t in stream[2]]
    k = alert_batch(batches)
    i, rows, t = batches[k]
    key, value = rows[0]
    v = json.loads(value)
    if plant == "missing":
        rows.pop(0)
    elif plant == "duplicated":
        rows.append(rows[0])
    elif plant == "extra":  # another module of an alerting panel, not itself anomalous
        v["moduleName"] = "m_not_alerting"
        rows.append((key, json.dumps(v)))
    elif plant == "wrong_value":
        v["solarPanelAggregator"]["squaresSum"] += 0.01
        rows[0] = (key, json.dumps(v))
    else:  # an alert for a panel that had no data in the window
        rows.append(("p_absent", value))
    res = check(stream, batches)
    assert res.failed >= 1 and res.problems


def test_alert_in_wrong_batch_is_flagged(stream):
    batches = [(i, list(rows), t) for i, rows, t in stream[2]]
    k = alert_batch(batches)
    moved = batches[k][1].pop()
    batches[(k + 1) % len(batches)][1].append(moved)
    assert check(stream, batches).failed >= 2


def test_window_never_emitted_fails_all_its_panels(stream):
    expected = stream[0]
    last = max(w for w, _ in expected)
    res = check(stream, batches=stream[2][:-1])
    assert res.failed == sum(1 for w, _ in expected if w == last)


def test_malformed_row_is_flagged(stream):
    batches = [(i, list(rows), t) for i, rows, t in stream[2]]
    batches[0][1].append(("p1", "{not json"))
    assert check(stream, batches).failed >= 1


def test_edge_rules_are_in_the_data():
    recs = [r[:4] for r in gen.solar_records(5, 400, 200, 3)]
    agg = reference.aggregate(recs)
    flat = ties_avg = ties_mean = ties_sigma = 0
    for panels in agg.values():
        for mods in panels.values():
            sums = [s for _, s in mods.values()]
            flat += len(set(sums)) == 1
            ties_avg += sum((s / c * 20) % 2 == 1 for c, s in mods.values())
            mean = sum(sums) / len(sums)
            ties_mean += (mean * 20) % 2 == 1
            sq = sum((s - reference.half_up1(mean)) ** 2 for s in sums) / len(sums)
            ties_sigma += (sq**0.5 * 20) % 2 == 1
    assert flat and ties_avg and ties_mean and ties_sigma


def test_half_up_on_shortest_repr():
    assert reference.half_up1(0.25) == 0.3
    assert reference.half_up1(12.35) == 12.4  # binary value is below the tie
    assert reference.half_up1(0.05) == 0.1
    assert reference.half_up1(0.04999) == 0.0


def test_query_digest_flags_changes_and_ignores_order():
    cols, rows = ["b", "a"], [(1, "x"), (2.5, "y"), (None, "z")]
    base = reference.rows_digest(cols, rows)
    assert reference.rows_digest(["a", "b"], [(r[1], r[0]) for r in reversed(rows)]) == base
    assert reference.rows_digest(cols, [(1.0, "x"), (2.5, "y"), (None, "z")]) == base
    assert reference.rows_digest(cols, [(1, "x"), (2.5000000000000004, "y"), (None, "z")]) != base
    assert reference.rows_digest(cols, rows[:2]) != base
    assert reference.rows_digest(cols, rows + [rows[0]]) != base


def test_publish_is_atomic(tmp_path):
    path = tmp_path / "f.json"
    gen.publish(str(path), "a\n" * 1000)
    assert path.read_text() == "a\n" * 1000
    assert os.listdir(tmp_path) == ["f.json"]


def test_listener_keeps_more_than_recent_progress(tmp_path):
    """recentProgress keeps the last 100 triggers; the listener keeps all."""
    import harness

    harness.configure_env(str(tmp_path))
    spark = harness.start_spark(str(tmp_path), master="local[2]")
    try:
        log = harness.make_listener()
        spark.streams.addListener(log)
        q = (spark.readStream.format("rate").option("rowsPerSecond", 1000).load()
             .writeStream.format("noop").trigger(processingTime="10 milliseconds").start())
        deadline = time.time() + 120
        while len(log.of_run(str(q.runId))) < 110 and time.time() < deadline:
            time.sleep(0.2)
        q.stop()
        assert len(log.of_run(str(q.runId))) >= 110
        assert len(q.recentProgress) <= 100
    finally:
        harness.shutdown_jvm(spark)
