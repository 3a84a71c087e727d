"""Readings from Structured Streaming progress events for the
``vote_stream`` workload.  A progress event is the JSON Spark posts after
each trigger; only triggers that read input ("data batches") are
summarised.
"""

from __future__ import annotations

import json

import numpy as np

from harness import job_span, median, progress_ts


def as_dict(p) -> dict:
    """A progress event as a plain dict, whichever form PySpark returns."""
    if isinstance(p, dict):
        return p
    return json.loads(p.json)


def data_batches(progress) -> list[dict]:
    """Input-carrying progress events of one query, in batch order."""
    ev = [as_dict(p) for p in progress]
    seen: dict[int, dict] = {}
    for p in ev:
        if p.get("numInputRows", 0) > 0:
            seen[p["batchId"]] = p
    return [seen[b] for b in sorted(seen)]


def commit_times(batches: list[dict]) -> np.ndarray:
    """Wall-clock end of each trigger (epoch seconds): trigger start plus
    its triggerExecution time, which includes the offset commit."""
    return np.array(
        [progress_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
    )


def reflected_at(batches: list[dict], n: int) -> np.ndarray:
    """Commit time of the batch that carried input row ``i`` for
    ``i < n`` (NaN when no batch carried it).  Valid because the file
    source hands files over in the order they appeared and each batch
    takes every file listed at its start."""
    if not batches:
        return np.full(n, np.nan)
    cum = np.cumsum([p["numInputRows"] for p in batches])
    commits = commit_times(batches)
    b = np.searchsorted(cum, np.arange(n), side="right")
    out = np.full(n, np.nan)
    ok = b < len(batches)
    out[ok] = commits[b[ok]]
    return out


def committed_rate(batches: list[dict], t0: float, win1: float) -> float:
    """Rows one query committed per second over the measured window.

    The span runs from the commit of the first data batch that started
    at or after ``t0`` (the open-loop start) to the commit of the last
    one that started before ``win1``; the rows are those the batches
    after the first carried, all of them from the steady schedule.  A
    query that keeps up reads the offered rate; one that reads less fell
    behind during the window.  A window too short for a second batch
    counts the first batch's rows from ``t0``."""
    steady = [p for p in batches if progress_ts(p["timestamp"]) >= t0]
    inside = [p for p in steady[1:] if progress_ts(p["timestamp"]) < win1] or steady[1:2]
    if not inside:
        return steady[0]["numInputRows"] / (commit_times(steady)[0] - t0) if steady else 0.0
    c = commit_times([steady[0], inside[-1]])
    return sum(p["numInputRows"] for p in inside) / (c[1] - c[0])


def pipeline_metrics(queries: list[list[dict]]) -> dict[str, float]:
    """Per-batch medians for the pipelines and state-store layers, pooled
    over the data batches of every query given; state sizes are summed
    over the queries' last batches."""
    batches = [p for q in queries for p in q]
    if not batches:
        return {}
    dur = [p["durationMs"] for p in batches]
    ops = [p.get("stateOperators", []) for p in batches]
    last = [o for q in queries if q for o in q[-1].get("stateOperators", [])]
    return {
        "pipelines.batches": float(len(batches)),
        "pipelines.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "pipelines.rows_per_batch": median([p["numInputRows"] for p in batches]),
        "pipelines.query_planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "pipelines.trigger_overhead_ms": median(
            [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]
        ),
        "pipelines.rows_dropped_by_watermark": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for op in ops for o in op)
        ),
        "state.commit_ms": median([sum(o.get("commitTimeMs", 0) for o in op) for op in ops]),
        "state.update_ms": median([sum(o.get("allUpdatesTimeMs", 0) for o in op) for op in ops]),
        "state.rows_total": float(sum(o.get("numRowsTotal", 0) for o in last)),
        "state.mem_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in last)),
        "state.partitions": float(sum(o.get("numShufflePartitions", 0) for o in last)),
    }


class Collector:
    """Python ``StreamingQueryListener`` that keeps every progress event
    (traced runs only).  Registered on construction."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        store: list[str] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                store.append(event.progress.json)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._store = store
        self._listener = _L()
        spark.streams.addListener(self._listener)

    def events(self, spark) -> list[dict]:
        """Every progress event so far; unregisters the listener."""
        spark.streams.removeListener(self._listener)
        return [json.loads(e) for e in self._store]


def attach_stream_spans(r, query_spans: dict, events: list[dict], sink_calls: dict) -> None:
    """Turn each data batch's progress event into a child span of its
    query's span; hang the sink spans and the Spark jobs under it."""
    by_run: dict[str, int] = {}
    batch_span: dict[tuple, int] = {}
    names = {}
    for e in events:
        names[e["runId"]] = e.get("name")
    for name, sid in query_spans.items():
        for run_id, n in names.items():
            if n == name:
                by_run[run_id] = sid
    for e in events:
        if e.get("numInputRows", 0) <= 0 or e["runId"] not in by_run:
            continue
        start = progress_ts(e["timestamp"])
        end = start + e["durationMs"]["triggerExecution"] / 1000.0
        batch_span[(e.get("name"), e["batchId"])] = r.add_span(
            f"batch {e['batchId']}", "pipelines", start, end, parent=by_run[e["runId"]],
            rows=e["numInputRows"], durations=e["durationMs"],
            state=[{k: o.get(k) for k in ("numRowsTotal", "commitTimeMs", "allUpdatesTimeMs",
                                          "memoryUsedBytes", "numShufflePartitions")}
                   for o in e.get("stateOperators", [])],
        )
    for name, calls in sink_calls.items():
        for c in calls:
            if "span" in c and (name, c["batch"]) in batch_span:
                r.spans[c["span"]]["parent"] = batch_span[(name, c["batch"])]
    jobs, stages = r.spark_jobs()

    def parent_of(j):
        g = j.get("jobGroup") or ""
        if job_span(j) is not None:
            return job_span(j)
        if g in by_run:
            desc = j.get("description") or ""
            for line in desc.splitlines():
                if line.startswith("batch = "):
                    return batch_span.get((names[g], int(line[8:])), by_run[g])
            return by_run[g]
        return None

    r.attach_jobs(jobs, stages, parent_of)
