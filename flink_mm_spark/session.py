"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the driver harness (local[32], 128 GiB) but expressed so
the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — the knob that makes one logical plan survive a
  100x scale-up.
- Arrow on for all pandas-UDF exchange (the linalg kernels are
  Arrow-batched; row-at-a-time Python UDFs are never used).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_TMP_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """Per-invocation temp dir under ONE process-lifetime root that is
    removed at interpreter exit (ADVICE r4: per-invocation ``mkdtemp``
    sink destinations / stream checkpoints accumulated in /tmp across
    repeated bench/driver/pytest runs — lazy plans re-read the dir at
    collect time, so in-builder cleanup is impossible; process-exit
    cleanup is the correct lifetime)."""
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="flink_mm_spark_scratch_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# State-store partitions for the engine's stateful streams. A stateful
# streaming stage loads/commits a state store for EVERY shuffle partition
# EVERY micro-batch — even empty ones — so partitions beyond what the
# stream can use are pure constant overhead. Two r13 measurements set the
# policy:
# - partitions ≫ CORES is always waste: the plain local[8] grading
#   session inherited 32-partition streams and paid 4-8× (band store
#   62.8→8.0 s, ingest gate 31.8→9.9 s once cores-matched);
# - partitions ≪ cores hurts streams with REAL per-key work: the band
#   stores at sf0.1 on local[32] lost 1.5-2× when forced to 8 (thousands
#   of live buckets want the parallelism), while small-key streams
#   (16-cell ANN index, sketch cells, the ingest gates) measured FASTER
#   at 8 even with 32 cores.
# Default therefore: min(cores, 32) — cores-matched; streams with a
# known-small key space pass an explicit ``n``. Per-STREAM (pinned into
# the checkpoint at stream start), not session state; a cluster
# deployment sizes it to keys × executors instead.
STREAM_STATE_PARTS_SMALL = 8  # explicit n for known-small key spaces


def stream_state_parts(spark: SparkSession, n: int | None = None):
    """Context manager: run a stream (start → awaitTermination) under
    ``n`` shuffle partitions (default: cores-matched, capped at 32),
    restoring the session conf afterwards. foreachBatch inner jobs
    launched while the stream runs inherit the same setting — intended:
    per-batch jobs in these streams are state-/batch-sized, not
    corpus-sized. ``SPARK_GRAFT_STATE_PARTS`` overrides the default."""
    import contextlib

    @contextlib.contextmanager
    def _ctx():
        parts = (
            n
            or int(os.environ.get("SPARK_GRAFT_STATE_PARTS", "0"))
            or min(spark.sparkContext.defaultParallelism, 32)
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _ctx()


# Session-scoped resources: frames a builder's returned lazy plan still
# reads, memory-sink views, and staged arrival dirs. Entries belong to the
# live SparkContext: after ``spark.stop()`` the next context starts from an
# empty registry, so nothing ever calls into the stopped one (its frames
# and views died with it). Keyed on the applicationId, not the session —
# held frames reference their session, so weak session keys never die.
_LIVE: dict[str, dict] = {}


def _live(spark: SparkSession) -> dict:
    app = spark.sparkContext.applicationId
    if app not in _LIVE:
        _LIVE.clear()
        _LIVE[app] = {}
    return _LIVE[app]


def hold(spark: SparkSession, slot: str, *items: DataFrame | str) -> None:
    """Release what ``slot`` held, then hold ``items`` until the next
    ``hold`` on the same slot. A builder cannot unpersist a frame its
    returned plan still reads, so the next call releases it instead —
    repeated calls keep one generation alive, never an unbounded pile.
    DataFrames are unpersisted and, when ``localCheckpoint``'ed, their RDD
    blocks freed (``free_local_checkpoint`` skips other plans); strings are
    temp-view names and are dropped.

    Call with no items BEFORE re-persisting: a new frame whose plan equals
    the held one shares its cache entry, so releasing the old frame after
    the new ``persist()`` would uncache both."""
    from flink_mm_spark.algos.damds import free_local_checkpoint

    res = _live(spark)
    for item in res.pop(("hold", slot), ()):
        if isinstance(item, str):
            spark.catalog.dropTempView(item)
        else:
            item.unpersist()
            free_local_checkpoint(item)
    if items:
        res[("hold", slot)] = items


def staged(
    spark: SparkSession, key, prefix: str, write: Callable[[str], object]
) -> str:
    """A ``scratch_dir(prefix)`` that ``write`` fills once per (context,
    prefix, key); later calls return the same dir untouched. Arrival
    splits are staged this way so repeated invocations (bench medians,
    grading after tests) stream the identical files instead of
    re-writing them."""
    res = _live(spark)
    path = res.get(("staged", prefix, key))
    if path is None:
        path = scratch_dir(prefix)
        write(path)
        res[("staged", prefix, key)] = path
    return path


def drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    slot: str,
    mode: str,
    parts: int | None = None,
    ckpt: str | None = None,
) -> DataFrame:
    """Run the streaming ``df`` to completion into a memory sink
    (``availableNow``, output ``mode``, under ``stream_state_parts(parts)``)
    and return the sink table. The sink view ``{slot}_<hex>`` is held in
    ``slot``, so each call drops the previous call's view instead of
    pinning every drained result in driver memory for the session."""
    name = f"{slot}_{uuid.uuid4().hex[:8]}"
    hold(spark, slot, name)
    with stream_state_parts(spark, parts):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt or scratch_dir(f"{slot}_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def get_spark(
    app_name: str = "flink-mm-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver harness passes us its own SparkSession; only runtime-mutable
    confs may be set here (anything requiring JVM restart is left alone).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # skew-join splitting must ride along wherever AQE does: the naive
    # Jaccard posting self-join (and any hot-key equi-join) relies on it
    # at scale (scripts/skew_experiment.py measures the effect)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # the binmatrix connector implements pushFilters; Spark refuses to plan
    # a pushdown-capable Python data source while this is false
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark
