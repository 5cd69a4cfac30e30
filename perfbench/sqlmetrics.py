"""Per-operation Spark SQL metrics read from the session's status store.

Every SQL execution the session runs is kept in
``sharedState().statusStore()``, with or without the web UI.  After the
timed loop, each execution is assigned to the operation whose wall-clock
window holds its submission time, and the plan-graph metrics of its
nodes are summed per operation.  Reading happens after timing, so the
collector adds nothing to the measured walls.
"""

from __future__ import annotations

import re

# plan-graph metric display name -> (our key, scale to our unit)
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "arrow_sent_mb",
    "data returned from Python workers": "arrow_recv_mb",
    "shuffle bytes written": "shuffle_write_mb",
}
ARROW_ROWS_NODE = "FlatMapGroupsInArrow"
KEYS = ("spark_jobs", "python_s", "python_boot_s", "arrow_sent_mb",
        "arrow_recv_mb", "shuffle_write_mb", "arrow_rows_out")

_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_value(text: str) -> tuple[float, str | None]:
    """A formatted SQL metric -> (number in seconds / bytes / count, kind).

    Values read "16.9 s", "35.5 MiB", "1.1 m", "3,005", or, when several
    tasks reported, a "total (min, med, max ...)" header line followed by
    "<total> (<min>, ...)"; the total is the figure taken.
    """
    lines = text.strip().splitlines()
    line = lines[-1] if lines and lines[0].startswith("total (") else (lines[0] if lines else "")
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return number, "count"
    if unit in _TIME:
        return number * _TIME[unit], "time"
    if unit in _SIZE:
        return number * _SIZE[unit], "size"
    raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")


def _convert(key: str, value: float) -> float:
    return value / 2**20 if key.endswith("_mb") else value


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def drain(spark) -> None:
    """Wait until the listener bus has delivered every pending event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def collect(
    spark, windows: list[tuple[str, int, int]], ops: tuple[str, ...] | None = None
) -> dict[str, dict[str, float]]:
    """Sum metrics per op over executions submitted in its window.

    ``windows`` holds (op, start_ms, end_ms) in epoch milliseconds; ops
    repeat (one window per call) and their sums accumulate.  Jobs are
    counted for every op; ``ops`` limits the slow plan-graph walk (one
    JVM call per metric) to those ops.
    """
    drain(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict[str, float]] = {}
    for op, _lo, _hi in windows:
        out.setdefault(op, dict.fromkeys(KEYS, 0.0))
    for ex in _iter(store.executionsList()):
        t = ex.submissionTime()
        op = next((o for o, lo, hi in windows if lo <= t <= hi), None)
        if op is None:
            continue
        acc = out[op]
        acc["spark_jobs"] += ex.jobs().size()
        if ops is not None and op not in ops:
            continue
        values = store.executionMetrics(ex.executionId())
        for node in _iter(store.planGraph(ex.executionId()).allNodes()):
            for metric in _iter(node.metrics()):
                name = metric.name()
                rows = name == "number of output rows" and node.name() == ARROW_ROWS_NODE
                if name not in METRICS and not rows:
                    continue
                text = values.get(metric.accumulatorId())
                if text.isEmpty():
                    continue
                number, _kind = parse_value(text.get())
                key = "arrow_rows_out" if rows else METRICS[name]
                acc[key] += _convert(key, number)
    return out
