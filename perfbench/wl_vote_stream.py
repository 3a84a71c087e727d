"""vote_stream: the live election-night dashboard.

Open loop.  One generator thread writes ``RATE`` votes/s as JSON files,
one every ``INTERVAL`` s, into a file-stream source.  Both reference
aggregations run as live update-mode queries over
``watermark_votes(parse_vote_stream(...))``, each into a
latest-aggregate-wins ``foreach_batch_upsert`` sink.  A vote's latency
(freshness) runs from its scheduled creation time to the commit of the
batch after which BOTH live tallies reflect it, so time spent queued
behind a slow batch counts.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import checks
import streamstats as ss
from gen import CANDIDATES, LiveFeed
from harness import Run, median, pct

RATE = 2000          # votes per second
INTERVAL = 0.5       # seconds between files (the source's arrival unit)
LATE_SHARE = 0.02    # share of votes stamped 1-30 s in the past
SETTLE_S = 0.5       # feed runs this long before the measured window opens
WARM_TIMEOUT_S = 120.0
DRAIN_TIMEOUT_S = 40.0
SF = "sf0.1"

QUERIES = {
    # name: (key column, order column of the upsert)
    "votes_per_candidate": ("candidate_id", "total_votes"),
    "turnout_by_location": ("location", "total_turnout_votes"),
}


def run(r: Run):
    import pyarrow.parquet as pq

    cust = pq.read_table(os.path.join(r.data(SF), "customer.parquet"),
                         columns=["c_custkey", "c_nationkey"])
    nat = pq.read_table(os.path.join(r.data(SF), "nation.parquet"),
                        columns=["n_nationkey", "n_name"])
    voter_keys = cust.column("c_custkey").to_numpy()
    nation_name = dict(zip(nat.column("n_nationkey").to_pylist(), nat.column("n_name").to_pylist()))
    nation_of = dict(zip(cust.column("c_custkey").to_pylist(),
                         (nation_name[k] for k in cust.column("c_nationkey").to_pylist())))

    spark = r.start_session("perfbench-vote-stream")
    t_warm0 = time.perf_counter()
    from de_realtime_voting_spark.sources import load_table
    from de_realtime_voting_spark.streaming import pipelines as P
    from de_realtime_voting_spark.streaming.sinks import foreach_batch_upsert

    src = r.path("src")
    os.makedirs(src)
    run_span = r.add_span("vote_stream", "bench", time.time(), None)
    with r.span("load_table", "sources", parent=run_span):
        voters = load_table(spark, r.data(SF), "customer")
        nations = load_table(spark, r.data(SF), "nation")
    with r.span("build_pipelines", "pipelines", parent=run_span):
        votes = P.watermark_votes(P.parse_vote_stream(spark.readStream.text(src), "value"))
        frames = {
            "votes_per_candidate": P.stream_votes_per_candidate(votes),
            "turnout_by_location": P.stream_turnout_by_location(votes, voters, nations),
        }

    sink_calls: dict[str, list] = {q: [] for q in QUERIES}
    query_spans = {}
    streams = {}
    listener = ss.Collector(spark) if r.trace else None
    for name, (key, order) in QUERIES.items():
        target = r.path("out", name)
        upsert = foreach_batch_upsert(target, [key], order, descending=True)
        query_spans[name] = r.add_span(name, "pipelines", time.time(), None, parent=run_span)
        streams[name] = (
            frames[name].writeStream.outputMode("update")
            .foreachBatch(_timed_sink(r, name, upsert, target, sink_calls[name]))
            .option("checkpointLocation", r.path("ckpt", name))
            .queryName(name)
            .start()
        )

    feed = LiveFeed(src, r.seed, voter_keys, RATE, INTERVAL, LATE_SHARE)
    # warm-up: one file through both queries (the first batch compiles
    # and opens the state stores), then the open-loop schedule starts
    feed.write_file(0)
    _await_rows(streams.values(), feed.n_votes, WARM_TIMEOUT_S)
    t0 = time.time()
    feed.start(t0)
    win0, win1 = t0 + SETTLE_S, t0 + SETTLE_S + r.seconds
    feed.stop_after(win1)
    warmup_s = time.perf_counter() - t_warm0 + SETTLE_S
    feed.join(timeout=win1 - time.time() + 30)
    n_total = feed.n_votes
    _await_rows(streams.values(), n_total, DRAIN_TIMEOUT_S)
    t_end = time.time()
    raw = {n: [ss.as_dict(p) for p in q.recentProgress] for n, q in streams.items()}
    progress = {n: ss.data_batches(raw[n]) for n in QUERIES}
    for name, q in streams.items():
        q.stop()
        r.spans[query_spans[name]]["end"] = time.time()
    r.spans[run_span]["end"] = time.time()

    # ---- freshness of the votes due inside the measured window
    due = feed.due(np.arange(n_total))
    # a vote is visible once BOTH tallies carry it (NaN: one never did)
    seen = np.maximum.reduce([ss.reflected_at(progress[n], n_total) for n in QUERIES])
    in_win = (due >= win0) & (due < win1)
    seen, due = seen[in_win], due[in_win]
    attempted = int(in_win.sum())
    failed = int(np.isnan(seen).sum())
    # a vote never seen counts as seen when the run gave up waiting
    fresh_ms = (np.where(np.isnan(seen), t_end, seen) - due) * 1000.0

    # ---- correctness: final tallies against the generator's own counts
    users = np.concatenate(feed.users)
    cands = np.concatenate(feed.cands)
    want_cand = {c: int(n) for c, n in zip(CANDIDATES, np.bincount(cands, minlength=len(CANDIDATES))) if n}
    want_nat: dict[str, int] = {}
    for u in users.tolist():
        want_nat[nation_of[u]] = want_nat.get(nation_of[u], 0) + 1
    got_cand = _read_tally(os.path.realpath(r.path("out", "votes_per_candidate")),
                           "candidate_id", "total_votes")
    got_nat = _read_tally(os.path.realpath(r.path("out", "turnout_by_location")),
                          "location", "total_turnout_votes")
    problems = checks.check_tallies(got_cand, want_cand, got_nat, want_nat)
    correct = not problems
    if problems:
        print("vote_stream check failed:", "; ".join(problems[:5]), file=sys.stderr)
        failed = attempted

    e2e = {
        "setup_s": (r.layer["session.start_s"] + warmup_s, "s"),
        "latency_p50_ms": (median(fresh_ms), "ms"),
        "latency_tail_ms": (pct(fresh_ms, 90), "ms"),
    }
    r.layer["session.warmup_s"] = warmup_s
    r.layer["gen.late_ms_max"] = max(feed.late_ms) if feed.late_ms else 0.0
    # per-batch readings over the batches that committed after the window opened
    measured = [[p for p in progress[n] if ss.commit_times([p])[0] >= win0] for n in QUERIES]
    r.layer.update(ss.pipeline_metrics(measured))
    # keeping up: the dashboard is as current as its slower tally
    r.layer["pipelines.committed_per_s"] = min(ss.committed_rate(progress[n], t0, win1) for n in QUERIES)
    # each sink call against its own batch, data-less watermark batches included
    trig = {(n, p["batchId"]): p["durationMs"]["triggerExecution"] for n in QUERIES for p in raw[n]}
    calls = [(n, c) for n in QUERIES for c in sink_calls[n]
             if c["end"] >= win0 and (n, c["batch"]) in trig]
    sink_ms = [(c["end"] - c["start"]) * 1000.0 for _n, c in calls]
    batch_ms = [trig[n, c["batch"]] for n, c in calls]
    r.layer["sinks.upsert_ms_p50"] = median(sink_ms)
    r.layer["sinks.upsert_share"] = sum(sink_ms) / sum(batch_ms) if batch_ms else 0.0
    r.layer["sinks.rows_rewritten_per_batch"] = median([c["rows"] for _n, c in calls]) if r.trace else 0.0
    for n in QUERIES:
        print(f"{n}: batches " + " ".join(
            f"{p['batchId']}:{p['numInputRows']}r/{p['durationMs']['triggerExecution']}ms"
            for p in progress[n]), file=sys.stderr)
    print("sink ms: " + " ".join(f"{c['batch']}:{(c['end'] - c['start']) * 1000:.0f}"
                                 for n in QUERIES for c in sink_calls[n]), file=sys.stderr)
    if r.trace:
        ss.attach_stream_spans(r, query_spans, listener.events(spark), sink_calls)
    return correct, attempted, failed, e2e


def _await_rows(streams, n: int, timeout: float) -> bool:
    """Wait until every query has read ``n`` input rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if all(sum(p["numInputRows"] for p in ss.data_batches(q.recentProgress)) >= n
               for q in streams):
            return True
        time.sleep(0.2)
    return False


def _timed_sink(r: Run, name: str, upsert, target: str, calls: list):
    """Wrap the upsert sink: time each call; under tracing also span it
    (its Spark jobs tagged with the span id) and count the rows the
    merged snapshot rewrote."""

    def write(batch_df, batch_id):
        if r.trace:
            with r.span(f"foreachBatch {name}", "sinks", query=name, batch=batch_id) as sp:
                upsert(batch_df, batch_id)
            rows = _row_count(os.path.realpath(target))
            calls.append({"batch": batch_id, "start": sp["start"], "end": sp["end"],
                          "rows": rows, "span": sp["id"]})
        else:
            t = time.time()
            upsert(batch_df, batch_id)
            calls.append({"batch": batch_id, "start": t, "end": time.time()})

    return write


def _row_count(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _read_tally(path: str, key: str, value: str) -> dict:
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=[key, value])
    return dict(zip(t.column(key).to_pylist(), t.column(value).to_pylist()))
