"""corpus_curation: one curation job, the way it ships.

``curate_corpus(documents, fuzzy_gate=True, excise_spans=True,
pack=True)`` into partitioned parquet.  It is the only workload that
runs the dedup, text, similarity and pipeline operators, the pandas-UDF
workers and the partitioned write path.  Runs repeat until the window
closes (at least one; a cold run outlasts a 10 s window); the manifest
of each is checked against the rows read back.  The session is cold:
see the comment in ``run``.
"""

from __future__ import annotations

import shutil
import sys
import time

import checks
from harness import Run, job_span, median

SF = "sf0.01"  # 500 documents, the smallest documents table


def run(r: Run):
    spark = r.start_session("perfbench-curation")
    from de_realtime_voting_spark.curate import curate_corpus
    from de_realtime_voting_spark.sources import load_table

    # No warm-up: a curation job runs once per session in production, so
    # its first run, compile and UDF-worker start included, is what the
    # user waits for.
    warmup_s = 0.0

    runs = []  # (seconds, manifest, rows read back, span id)
    run_span = r.add_span("corpus_curation", "bench", time.time(), None)
    t_start = time.perf_counter()
    while not runs or time.perf_counter() - t_start < r.seconds:
        out = r.path(f"corpus{len(runs)}")
        with r.span("curate_corpus", "curate", parent=run_span) as sp:
            a = time.perf_counter()
            with r.span("load_table", "sources"):
                docs = load_table(spark, r.data(SF), "documents")
            manifest = curate_corpus(docs, out, fuzzy_gate=True, excise_spans=True, pack=True)
            took = time.perf_counter() - a
        spark.catalog.clearCache()
        back = spark.read.parquet(out).count()  # untimed: the check's read-back
        runs.append((took, manifest, back, sp["id"]))
        shutil.rmtree(out, ignore_errors=True)
    r.spans[run_span]["end"] = time.time()

    failed = 0
    for _t, manifest, back, _s in runs:
        problems = checks.check_manifest(manifest, back)
        if problems:
            failed += 1
            print(f"corpus_curation check failed: {problems[0]}", file=sys.stderr)
    secs = [t for t, *_ in runs]
    e2e = {
        "setup_s": (r.layer["session.start_s"] + warmup_s, "s"),
        "latency_p50_ms": (median(secs) * 1000.0, "ms"),
        "latency_tail_ms": (max(secs) * 1000.0, "ms"),
    }
    r.layer["session.warmup_s"] = warmup_s
    print(f"corpus_curation: {len(runs)} runs: " + " ".join(f"{t:.2f}s" for t in secs)
          + f"; written {[m.get('n_written_docs') for _t, m, _b, _s in runs]}", file=sys.stderr)
    if r.trace:
        jobs, stages = r.spark_jobs()
        r.attach_jobs(jobs, stages, job_span)
        runs_ids = {sid for *_x, sid in runs}
        tot = {"jobs": 0, "tasks": 0, "shuffle": 0, "spill": 0, "cpu": 0, "out": 0}
        for s in r.spans:
            if s["layer"] != "spark" or _run_of(r, s) not in runs_ids:
                continue
            if s["name"].startswith("job "):
                tot["jobs"] += 1
            else:
                a = s["attrs"]
                tot["tasks"] += a["tasks"]
                tot["shuffle"] += a["shuffle_bytes"]
                tot["spill"] += a["spill_bytes"]
                tot["cpu"] += a["cpu_ns"]
                tot["out"] += a["output_bytes"]
        n = len(runs)
        r.layer["curate.jobs"] = tot["jobs"] / n
        r.layer["curate.tasks"] = tot["tasks"] / n
        r.layer["curate.shuffle_bytes"] = tot["shuffle"] / n
        r.layer["curate.spill_bytes"] = tot["spill"] / n
        r.layer["curate.executor_cpu_s"] = tot["cpu"] / 1e9 / n
        r.layer["curate.bytes_written"] = tot["out"] / n
    return failed == 0, len(runs), failed, e2e


def _run_of(r: Run, span: dict):
    """Id of the ``curate_corpus`` span a Spark span hangs under."""
    s = span
    while s["parent"] is not None:
        s = r.spans[s["parent"]]
        if s["layer"] == "curate":
            return s["id"]
    return None
