"""Run context shared by every workload: environment pinning, the
timed session start, spans, Spark REST/JVM readings and the result line.

Nothing here imports pyspark at module import time; ``Run.start_session``
does, after the environment the JVM and the Python workers inherit is set.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Run:
    """One benchmark invocation: its scratch directory, its session and
    its spans.  Create with ``Run(workload, seed, seconds, trace)``, use
    as a context manager; the scratch directory and the session are
    released on exit."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(os.getcwd(), ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()
        self.spark = None
        self.layer: dict[str, float] = {}  # per-layer readings, filled by the workload

    # ----------------------------------------------------------- lifetime
    def __enter__(self) -> Run:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        # The Python workers behind pandas UDFs import the package by
        # name; they do not inherit this process's sys.path.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
        )
        # get_spark defaults to local[32]; pin it to the cores we have.
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
                f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedJobs=20000",
                "--conf spark.ui.retainedStages=20000",
                "--conf spark.sql.streaming.numRecentProgressUpdates=1000",
                "pyspark-shell",
            ]
        )
        import tempfile

        tempfile.tempdir = tmp
        return self

    def __exit__(self, *exc) -> None:
        try:
            if self.spark is not None:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
                from pyspark import SparkContext

                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    proc = getattr(gw, "proc", None)
                    if proc is not None:
                        proc.stdin.close()
                        proc.wait(timeout=60)
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def data(self, sf: str) -> str:
        """Directory of the fixed tables at scale ``sf``: a sibling of the
        program's own default table directory."""
        from de_realtime_voting_spark.sources.tables import DEFAULT_SF_DIR

        return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), sf)

    # ------------------------------------------------------------ session
    def start_session(self, app: str):
        """Time ``session.get_spark`` (JVM launch included) and switch on
        the RocksDB state store, as the production streaming path does."""
        t0 = time.perf_counter()
        with self.span("get_spark", "session"):
            from de_realtime_voting_spark.session import (
                enable_rocksdb_state_store,
                get_spark,
            )

            spark = get_spark(app)
            spark.sparkContext.setLogLevel("ERROR")
            enable_rocksdb_state_store(spark)
        self.spark = spark
        self.layer["session.start_s"] = time.perf_counter() - t0
        return spark

    def config(self) -> dict:
        """The settings every result depends on."""
        conf = self.spark.conf
        return {
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "heap": self.spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
            "state_store": conf.get("spark.sql.streaming.stateStore.providerClass"),
        }

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """High-water resident set of the JVM child (``VmHWM``)."""
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the JVM")

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    # -------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        """Record a span around a benchmark-side call.  Under tracing the
        Spark jobs the call launches from this thread carry the span id as
        their job group, so the REST pull can hang them under it."""
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        sid = self.add_span(name, layer, time.time(), None, parent=parent, **attrs)
        rec = self.spans[sid]
        stack.append(sid)
        sc = self.spark.sparkContext if (self.trace and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(f"span-{sid}", f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                if stack:
                    up = self.spans[stack[-1]]
                    sc.setJobGroup(f"span-{up['id']}", f"{up['layer']}:{up['name']}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def add_span(self, name: str, layer: str, start: float, end: float | None,
                 parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "layer": layer,
                 "start": start, "end": end, "attrs": attrs}
            )
        return sid

    # ------------------------------------------------------------ REST API
    def rest(self, what: str) -> list:
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def spark_jobs(self) -> tuple[list, dict]:
        """Jobs and stages (keyed by stage id) from the REST API."""
        jobs = self.rest("jobs")
        stages = {}
        for s in self.rest("stages"):
            if s.get("status") != "SKIPPED":
                stages[s["stageId"]] = s
        return jobs, stages

    def attach_jobs(self, jobs: list, stages: dict, by_group) -> None:
        """Add each job, and each of its stages, as child spans.  ``by_group``
        maps a job (dict) to the parent span id, or None to skip it."""
        for j in jobs:
            parent = by_group(j)
            if parent is None or "completionTime" not in j:
                continue
            jid = self.add_span(
                f"job {j['jobId']}", "spark", _ts(j["submissionTime"]), _ts(j["completionTime"]),
                parent=parent, tasks=j.get("numTasks", 0),
            )
            for st in j.get("stageIds", []):
                s = stages.get(st)
                if s is None or "completionTime" not in s or "submissionTime" not in s:
                    continue
                self.add_span(
                    f"stage {st}", "spark", _ts(s["submissionTime"]), _ts(s["completionTime"]),
                    parent=jid, tasks=s["numTasks"], shuffle_bytes=s["shuffleWriteBytes"],
                    spill_bytes=s["memoryBytesSpilled"] + s["diskBytesSpilled"],
                    cpu_ns=s["executorCpuTime"], output_bytes=s["outputBytes"],
                )

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        its children cover, summed by layer (milliseconds)."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], []) if c["end"] is not None]
            )
            s["self_ms"] = max(0.0, s["end"] - s["start"] - covered) * 1000
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["self_ms"]
        return out

    def write_trace(self, extra: dict) -> str:
        d = os.path.join(os.getcwd(), ".bench_work", "traces")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{self.workload}-seed{self.seed}.json")
        with open(p, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed, "spans": self.spans, **extra}, f)
        return p


def job_span(job: dict) -> int | None:
    """Id of the span whose ``setJobGroup`` tag a REST job carries."""
    g = job.get("jobGroup") or ""
    return int(g[5:]) if g.startswith("span-") else None


def _ts(s: str) -> float:
    """Spark REST time string ('2026-01-01T00:00:00.123GMT') -> epoch s."""
    from datetime import datetime, timezone

    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


def progress_ts(s: str) -> float:
    """Streaming progress timestamp ('...T00:00:00.123Z') -> epoch s."""
    return _ts(s.rstrip("Z"))


def _union(iv: list[tuple[float, float]]) -> float:
    """Length covered by a set of intervals."""
    total, end = 0.0, None
    for a, b in sorted(i for i in iv if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )
