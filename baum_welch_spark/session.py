"""SparkSession factory with the engine's scale-posture defaults.

Defaults chosen for correctness-vs-oracle and 100 TB readiness:
  * AQE on (runtime partition coalescing, skew-join splitting)
  * session timezone pinned UTC (oracle comparison: DuckDB is UTC-naive)
  * Arrow enabled for pandas UDF exchange
  * shuffle partitions sized to the local core count (on a real cluster this
    is overridden by AQE's coalescing from a higher initial value)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local-mode core count: ``$SPARK_GRAFT_CPUS`` when set, else the cores
    this process may run on. A fixed larger count oversubscribes small
    machines: 32 partitions of tiny tasks on 4 cores made a small fit
    5-6x slower."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "baum-welch-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata is written with nanosecond timestamps; read them as
        # long and convert in sources.io.load_table (micros truncation, matching
        # DuckDB's nanos->micros behavior)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # push MIN/MAX/COUNT down to parquet footer stats (zorder's range
        # pass, count-only probes) — scan-free when the footer answers
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Long-session hygiene (VERDICT-r13 #1: faces ran 2-4x hot late in a
        # 181-face board). Three accumulation channels in one long-lived
        # local-mode session, each bounded here:
        #  * ContextCleaner purges shuffle files/broadcasts only when the
        #    driver JVM GCs; the periodic-GC fallback defaults to 30 MIN, so
        #    a ~400 s board never gets one and shuffle dirs/driver heap grow
        #    monotonically. 2 min keeps cleanup inside the board.
        #  * HDFSBackedStateStoreProvider retains up to minBatchesToRetain
        #    (default 100) version maps IN EXECUTOR MEMORY per state
        #    partition; 8 streaming faces x up to 32 partitions x 4 stores
        #    (stream-stream join) leaves hundreds of retained maps behind.
        #    Finite-replay faces need only the last committed batch.
        #  * Providers for STOPPED queries unload only on the maintenance
        #    tick (default 60 s) — faster tick, faster release between
        #    back-to-back streaming faces.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
        # temp checkpoint dirs (memory-sink faces) are deleted on stop even
        # if the query errored — no /tmp residue across a long board
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        .getOrCreate()
    )


_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup: driver-contract faces that persist
    an index/snapshot (ivfpq_serve_face, cdc_apply_batch_face) need the dir
    alive through the caller's LAZY collect, so they cannot remove it
    themselves — without a registry, repeated bench/test invocations
    accumulate unbounded /tmp usage (ADVICE r7). atexit fires after every
    collect is done."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.append(path)
    return path


def drain_scratch() -> int:
    """Eagerly remove every scratch dir registered so far and forget them.

    Board-level hygiene (VERDICT-r13 #1): atexit-only cleanup lets a
    181-face bench board accumulate every face's index/snapshot scratch in
    /tmp for the whole run. A sequential harness can call this BETWEEN
    faces — by the time a face's timing returns, its lazy actions have run,
    so nothing still reads the scratch. Returns the number of dirs removed.
    Safe to call with none registered."""
    import shutil

    n = len(_SCRATCH_DIRS)
    for p in _SCRATCH_DIRS:
        shutil.rmtree(p, ignore_errors=True)
    _SCRATCH_DIRS.clear()
    return n
