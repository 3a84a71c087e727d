"""SparkSession factory tuned for the target workload.

Used by tests and bench; the driver supplies its own session to
``__spark_entry__`` callables, so operators never create sessions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.shuffle.partitions is not here: it follows the session's
# cores (get_spark: the N of local[N]; apply_session_tuning: the
# session's defaultParallelism).  Streaming micro-batches run with AQE
# off, so nothing coalesces the width: every batch opens and commits
# one state store per partition per stateful operator, and partitions
# beyond the core count only queue.  A running query keeps the width
# recorded in its checkpoint's offset log.
SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"

TUNED_CONF = {
    # AQE re-plans at runtime: coalesces shuffle partitions, converts
    # sort-merge joins to broadcast when a side turns out small, and
    # splits skewed partitions -- all essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # 128 MiB input splits: big enough to amortize task overhead,
    # small enough that a partition's hash tables fit executor memory.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
}

# JVM-launch conf (getOrCreate ignores it on a live session).
# cleaner.periodicGC: ContextCleaner frees shuffle files and
# localCheckpoint blocks only after a JVM GC surfaces their weak
# references -- at the 30-MINUTE default, a session running many
# HEAVY queries back-to-back accumulates every finished query's
# checkpoint blocks (the r12 sf100 catch: bpe_fertility_stats
# task-OOMed right after bpe_train_merges in the same session, then
# passed alone at 838 s -- the trainer's 7 per-step lineage cuts were
# still resident).  But a forced full GC every minute is NOT noise on
# the sf0.1 bench: the 186-query sweep measured 377.3 s with
# interval=60s vs 261.6 s at Spark's default (r12 A/B) -- each System.gc()
# stops all 32 executor threads, and short queries eat a pause per
# minute for memory they never needed freed.  So the tightened
# interval is OPT-IN for long single-session scale runs
# (SPARK_GRAFT_PERIODIC_GC=60s; tools/scale_probe.py sets it), and the
# bench keeps Spark's default so the driver's measurement is clean.
LAUNCH_CONF: dict[str, str] = {}
if os.environ.get("SPARK_GRAFT_PERIODIC_GC"):
    LAUNCH_CONF["spark.cleaner.periodicGC.interval"] = os.environ["SPARK_GRAFT_PERIODIC_GC"]


def get_spark(app_name: str = "de-realtime-voting-spark") -> SparkSession:
    # default: the cores this process may run on, not the host's count
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    # JVM-launch conf (ignored by getOrCreate on a live session): the
    # single local JVM is driver AND every executor thread, so the
    # 1g default heap starves broadcast builds at the sf1 probe
    # point.  8g measured BEST for the bench sweep -- a 24g heap let
    # G1 accumulate GC debt across the 156-query sequence and several
    # untouched queries regressed 2-3x (A/B'd at r5: 147.5s @24g vs
    # 141.6s @8g, all regressions gone).  The sf1 scale probe raises
    # this via SPARK_GRAFT_DRIVER_MEM for its broadcast headroom.  On
    # a real cluster this is spark-submit's --driver/--executor-memory.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    for k, v in LAUNCH_CONF.items():
        builder = builder.config(k, v)
    for k, v in TUNED_CONF.items():
        builder = builder.config(k, v)
    return builder.config(SHUFFLE_WIDTH, cpus).getOrCreate()


ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark: SparkSession) -> SparkSession:
    """Switch stateful streaming to the RocksDB state store.

    The default HDFSBackedStateStoreProvider keeps every key's state
    in executor HEAP: at 10^9 voters the per-voter state maps
    (running_tally, funnel_tracker, one_vote_per_voter's dedup set)
    become the streaming half's scale-killer -- GC pressure first,
    OOM second.  RocksDB spills state to local disk with an in-memory
    block cache, keeping heap bounded regardless of key cardinality;
    changelog checkpointing ships only per-batch deltas to the
    checkpoint location.  Runtime-settable: it takes effect for
    queries STARTED after the change (each query pins its provider at
    start from the session conf).  Pinned by
    tests/test_streaming.py::test_stateful_pipelines_under_rocksdb --
    same results under both providers.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_STORE)
    # ship per-batch deltas instead of full snapshots (cuts checkpoint
    # write volume for large state; no-op for the in-memory provider)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    return spark


def apply_session_tuning(spark: SparkSession) -> SparkSession:
    """Best-effort runtime tuning for an externally-created session
    (e.g. the driver's); only touches runtime-settable confs.  The
    shuffle width becomes the session's defaultParallelism."""
    conf = {**TUNED_CONF, SHUFFLE_WIDTH: str(spark.sparkContext.defaultParallelism)}
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session -- keep the session's value
    return spark
