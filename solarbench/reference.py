"""Spark-free reference for the solar anomaly pipeline, and the canonical
forms the benchmark compares program output against.

The rules are the repository's (see ``plans/solar.py``):

- 30 s tumbling windows aligned to the epoch, per (panel, module) count and
  sum; ``avgPower = round(sum / count, 1)``;
- per (window, panel): module count, sum of module sums, ``avgPower =
  round(mean of module sums, 1)``, ``squaresSum = sum((s - avgPower)^2)``
  against the ROUNDED mean, ``variance = squaresSum / count``,
  ``deviance = round(sqrt(variance), 1)``;
- a module alerts when ``|s - panelAvg| > Z * deviance``;
- ``round(x, 1)`` is Spark's: HALF_UP on the shortest decimal repr of x.

Power values are multiples of 1/4, so counts, sums and means are exact and
do not depend on summation order. ``squaresSum`` is the one order-dependent
quantity (its terms are inexact); the reference therefore compares it, and
``variance``, after rounding to 4 and 6 decimals as the repository's
oracles do, and ``panel_outcome`` reports a (window, panel) as ambiguous
when some summation order could change any compared value or alert. The
generator redraws ambiguous panels, so every checked output is unique.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

WINDOW_MS = 30_000
WATERMARK_MS = 30_000
Z = 1.0
_TENTH = Decimal("0.1")
_U = 2.0**-53


def half_up1(x: float) -> float:
    """Spark's ``round(x, 1)`` for a double."""
    return float(Decimal(repr(x)).quantize(_TENTH, rounding=ROUND_HALF_UP))


def window_end(ts_ms: int) -> int:
    return ts_ms - ts_ms % WINDOW_MS + WINDOW_MS


@dataclass(frozen=True)
class PanelOutcome:
    """Everything the program publishes for one (window, panel)."""

    rows: tuple  # canonical alert rows, sorted
    ambiguous: bool


def _stats(ss: float, n: int, diffs: dict[str, float]):
    variance = ss / n
    deviance = half_up1(math.sqrt(variance))
    alerts = tuple(sorted(m for m, d in diffs.items() if abs(d) > Z * deviance))
    return round(ss, 4), round(variance, 6), deviance, alerts


def panel_outcome(panel: str, mods: dict[str, tuple[int, float]]) -> PanelOutcome:
    """Expected alert rows of one (window, panel); ``mods`` maps module ->
    (record count, power sum)."""
    n = len(mods)
    panel_sum = math.fsum(s for _, s in mods.values())
    panel_avg = half_up1(panel_sum / n)
    diffs = {m: s - panel_avg for m, (_, s) in mods.items()}
    terms = [d * d for d in diffs.values()]
    ss = math.fsum(terms)
    # When every term is a multiple of 1/den and the total stays below
    # 2**53/den, every partial sum is exact and all orders agree. Otherwise
    # any left-to-right order lies within gamma_(n-1) * sum|t| of the exact
    # sum, and fsum within half an ulp of it; widen a little more so the
    # endpoints are safely outside every reachable value.
    den = max(t.as_integer_ratio()[1] for t in terms)
    if ss * den < 2.0**53:
        slack = 0.0
    else:
        slack = 1.01 * ((n - 1) * _U / (1 - n * _U) * ss + math.ulp(ss))
    lo = _stats(max(ss - slack, 0.0), n, diffs)
    hi = _stats(ss + slack, n, diffs)
    sq, var, dev, alerts = _stats(ss, n, diffs)
    rows = tuple(
        sorted(
            (panel, m, panel, mods[m][0], mods[m][1], half_up1(mods[m][1] / mods[m][0]),
             panel, n, panel_sum, panel_avg, sq, var, dev)
            for m in alerts
        )
    )
    return PanelOutcome(rows, lo != hi)


def aggregate(records) -> dict[int, dict[str, dict[str, tuple[int, float]]]]:
    """records: iterable of (ts_ms, panel, module, power) ->
    {window_end: {panel: {module: (count, sum)}}}."""
    acc: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for ts, panel, module, power in records:
        acc[window_end(ts)][panel][module].append(power)
    return {
        w: {p: {m: (len(v), math.fsum(v)) for m, v in mods.items()} for p, mods in panels.items()}
        for w, panels in acc.items()
    }


def expected_alerts(records) -> tuple[dict[tuple[int, str], Counter], int, list[tuple[int, str]]]:
    """Expected alert rows per checked (window_end, panel).

    Checked windows are those the program must have closed once it has
    seen every record: ``end <= max(ts) - watermark``. Returns the
    expected rows, the final watermark and the (window, panel) pairs that
    are ambiguous (the generator never emits any)."""
    records = list(records)
    final_wm = max(r[0] for r in records) - WATERMARK_MS
    expected: dict[tuple[int, str], Counter] = {}
    ambiguous = []
    for w, panels in aggregate(records).items():
        if w > final_wm:
            continue
        for panel, mods in panels.items():
            out = panel_outcome(panel, mods)
            if out.ambiguous:
                ambiguous.append((w, panel))
            expected[(w, panel)] = Counter(out.rows)
    return expected, final_wm, ambiguous


def canonical_wire_row(key: str, value: str) -> tuple:
    """A sink row (Kafka key, reference JSON value) in the reference's
    canonical form. Raises ValueError on a malformed row."""
    try:
        v = json.loads(value)
        p = v["solarPanelAggregator"]
        return (
            key, v["moduleName"], v["panelName"], v["count"], v["sumPower"], v["avgPower"],
            p["panelName"], p["count"], p["sumPower"], p["avgPower"],
            round(p["squaresSum"], 4), round(p["variance"], 6), p["deviance"],
        )
    except (KeyError, TypeError, json.JSONDecodeError) as e:
        raise ValueError(f"malformed wire row {key!r}: {value!r}") from e


@dataclass
class StreamCheck:
    attempted: int = 0
    failed: int = 0
    emitted_at: dict = field(default_factory=dict)  # window_end -> sink end time of its batch
    problems: list = field(default_factory=list)


def check_stream(expected: dict, batches, watermarks: dict[int, int]) -> StreamCheck:
    """Compare a stream's sink output with the reference.

    ``expected``: expected_alerts' rows per checked (window, panel).
    ``batches``: (batch_id, rows as (key, value), sink end time) per sink
    call. ``watermarks``: batch_id -> event-time watermark (ms) the batch
    ran with; a batch emits exactly the windows whose end lies in
    (previous batch's watermark, its watermark]. One operation is one
    checked (window, panel): it passes when its alert rows arrive in that
    batch exactly once each and nothing else arrives for it."""
    windows = sorted({w for w, _ in expected})
    panels_of = defaultdict(set)
    for w, p in expected:
        panels_of[w].add(p)
    res = StreamCheck()
    failed_ops: set = set()
    prev_wm = -(2**62)
    for batch_id, rows, sink_end in sorted(batches, key=lambda b: b[0]):
        wm = watermarks.get(batch_id)
        if wm is None:
            res.problems.append(f"batch {batch_id}: no progress event")
            wm = prev_wm
        closing = [w for w in windows if prev_wm < w <= wm]
        prev_wm = max(prev_wm, wm)
        for w in closing:
            res.emitted_at[w] = sink_end
        got: dict[str, Counter] = defaultdict(Counter)
        for key, value in rows:
            try:
                got[key][canonical_wire_row(key, value)] += 1
            except ValueError as e:
                res.problems.append(str(e))
                got[key][("malformed", value)] += 1
        for panel in set(got) | {p for w in closing for p in panels_of[w]}:
            want = Counter()
            for w in closing:
                want.update(expected.get((w, panel), Counter()))
            if got.get(panel, Counter()) == want:
                continue
            ops = [(w, panel) for w in closing if (w, panel) in expected]
            if not ops:  # output for a panel with no data in these windows
                ops = [(None, panel, batch_id)]
                res.attempted += 1
            res.problems.append(f"batch {batch_id} panel {panel}: expected {sorted(want.elements())[:3]}, got {sorted(got.get(panel, Counter()).elements())[:3]}")
            failed_ops.update(ops)
    for w in windows:
        if w not in res.emitted_at:
            res.problems.append(f"window ending {w} never emitted")
            failed_ops.update((w, p) for p in panels_of[w])
    res.attempted += len(expected)
    res.failed = len(failed_ops)
    return res


# --------------------------------------------------------------------------
# Batch queries: order-insensitive exact digests of collected rows.
# --------------------------------------------------------------------------

def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return [_canon_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon_value(x) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon_value(v.item())
    return v


def rows_digest(columns: list[str], rows) -> str:
    """Digest of a result table that ignores row order and column order,
    with the exact-equality rules of tests/parity.py: doubles compare by
    value (repr), NaN equals NaN, ints equal to floats by value."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
                v = int(v)  # DuckDB BIGINT vs Spark double counts
            vals.append(_canon_value(v))
        canon.append(json.dumps(vals, sort_keys=True, default=str))
    canon.sort()
    h = hashlib.sha256()
    h.update(json.dumps(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
