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
import functools
import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

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


def write_arrivals(frames: list[DataFrame], src: str, start: int = 0) -> int:
    """Stage ``frames`` as ordered arrival files under ``src``: frame i
    becomes ``arrival{start + i}.parquet`` with mtime ``t0 + 10 (start +
    i)`` (anchored an hour in the past), so a file source with
    ``maxFilesPerTrigger=1`` delivers them one per micro-batch in list
    order. ONE job: the frames are unioned under an ``arrival`` tag,
    repartitioned by it (each frame collapses into one task, hence one
    file) and written with ``partitionBy``; the files then move into
    place. Row order inside a file is not preserved — every consumer
    sorts or keys within a batch. Empty frames write no file and are
    skipped (the rest keep their order); a frame that writes more than
    one file raises ``ValueError``. Returns the number of files written;
    a second life staged into the same ``src`` passes ``start`` past the
    first life's frames."""
    os.makedirs(src, exist_ok=True)
    t0 = int(os.path.getmtime(src)) - 3600
    tagged = [df.withColumn("arrival", F.lit(i)) for i, df in enumerate(frames)]
    tmp = scratch_dir("arrivals_tmp_")
    u = functools.reduce(DataFrame.unionByName, tagged).repartition("arrival")
    u.write.partitionBy("arrival").mode("overwrite").parquet(tmp)
    n = 0
    for i in range(len(frames)):
        parts = glob.glob(f"{tmp}/arrival={i}/part-*.parquet")
        if not parts:
            continue
        if len(parts) > 1:
            raise ValueError(f"arrival frame {i} wrote {len(parts)} files: {parts}")
        k = start + i
        dst = f"{src}/arrival{k}.parquet"
        shutil.move(parts[0], dst)
        os.utime(dst, (t0 + 10 * k, t0 + 10 * k))
        n += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return n


def drain_with_timers(
    q,
    poll_s: float = 0.25,
    min_elapsed_s: float = 0.0,
    max_wall_s: float = 300.0,
    expected_batches: int | None = None,
) -> None:
    """Drain an availableNow stream whose stateful operator arms
    ProcessingTimeTimeout timers. With such timers pending, availableNow
    NEVER self-terminates: after the data batches it keeps scheduling
    empty timer-check batches ~2 s apart until every timer has fired
    (measured r10 — 28 empty batches and counting on a 4-file source).
    Drained-ness is detected from source OFFSETS, not row counts (review
    r10): a batch whose source endOffset equals its startOffset consumed
    no file — whereas a zero-ROW batch can also be an EMPTY arrival file,
    and stopping there would silently truncate the stream. One no-file
    batch is still not proof: a checkpoint RESTART first replays the last
    planned timer batch (no-file) even when new files are pending. Two
    CONSECUTIVE no-file batches are — if a file were available, the batch
    after a no-file batch would consume it. ``min_elapsed_s`` keeps the
    timer batches running past a TTL deadline before stopping (the
    eviction test's life 1 passes its TTL here so the sweep commits
    deterministically in-life). ``max_wall_s`` is the overall deadline
    (ADVICE r10 #3): a query that stalls without ever producing two
    consecutive no-file progress entries is stopped and raised on loudly
    instead of hanging the bench/driver run forever.

    ``expected_batches`` (r14, VERDICT r13 #1): when the caller KNOWS how
    many file-consuming batches the run must commit (a FRESH checkpoint
    over a staged arrival dir with ``maxFilesPerTrigger=1`` commits
    exactly one per file), the stream is provably drained as soon as that
    many consuming batches have committed — a progress entry is posted
    only after its batch commits, so stopping there cannot truncate data,
    and the pending TTL timers are safety machinery with nothing left to
    evict inside the run. This skips the ~2 s × 2 empty timer-check
    batches the conservative offset rule waits out (~4-5 s of
    ``minhash_dedup_streamed_capped``'s wall was that wait). The offset
    rule stays as fallback — and is the ONLY rule when
    ``expected_batches`` is None, which every checkpoint-RESUMING caller
    must keep using (a restart replays the last planned timer batch
    first, so the consumed count under-runs there; the two-life
    restart/eviction tests all use the default).

    Both rules tally batches across polls by ``batchId`` (ADVICE r14):
    ``recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries, so
    recounting it would silently lose the fast path on long runs. Only a
    poll that falls more batches behind than that buffer holds loses
    entries; it is warned about, and the missed batches count as
    non-consuming (the safe side — never an early stop)."""
    import time
    import warnings

    def no_file(p) -> bool:
        srcs = p.get("sources", [])
        return bool(srcs) and all(s["startOffset"] == s["endOffset"] for s in srcs)

    t0 = time.monotonic()
    last_bid, consumed, idle = -1, 0, 0  # idle: trailing no-file batches
    while q.isActive:
        new = [p for p in q.recentProgress if p["batchId"] > last_bid]
        if new and 0 <= last_bid < new[0]["batchId"] - 1:
            warnings.warn(
                f"drain_with_timers: progress for batches {last_bid + 1}.."
                f"{new[0]['batchId'] - 1} rolled out of recentProgress unseen"
            )
        for p in new:
            last_bid = p["batchId"]
            if no_file(p):
                idle += 1
            else:
                idle = 0
                consumed += bool(p.get("sources"))
        drained = idle >= 2 or (
            expected_batches is not None and consumed >= expected_batches
        )
        if drained and time.monotonic() - t0 >= min_elapsed_s:
            q.stop()
            break
        if time.monotonic() - t0 > max_wall_s:
            q.stop()
            q.awaitTermination()
            raise TimeoutError(
                f"drain_with_timers: no drained state after {max_wall_s:.0f}s "
                f"({len(q.recentProgress)} progress entries)"
            )
        time.sleep(poll_s)
    q.awaitTermination()


def _drain(w: DataStreamWriter, ckpt: str, expected_batches: int | None = None) -> None:
    """Start ``w`` from ``ckpt`` under ``availableNow`` and block until it
    has drained: ``awaitTermination``, or ``drain_with_timers`` for a
    fresh-checkpoint run whose timers block self-termination."""
    q = w.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    if expected_batches is None:
        q.awaitTermination()
    else:
        drain_with_timers(q, expected_batches=expected_batches)


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
        _drain(
            df.writeStream.format("memory").queryName(name).outputMode(mode),
            ckpt or scratch_dir(f"{slot}_ckpt_"),
        )
    return spark.table(name)


def drain_to_parquet(
    df: DataFrame,
    write: Callable[[DataFrame, str], None],
    dst: str | None = None,
    ckpt: str | None = None,
    expected_batches: int | None = None,
) -> str:
    """Run the streaming ``df`` to completion (``availableNow``), handing
    micro-batch ``b`` to ``write(batch, f"{dst}/ingest={b}")``, and return
    ``dst`` (default: a fresh ``scratch_dir``). EXACTLY-ONCE layout:
    ``write`` must OVERWRITE its path, so a batch replayed after a failure
    between its write and the checkpoint commit replaces its own output
    instead of duplicating it (a replayable source plus an idempotent
    sink); the committed tree is a pure function of the logged offsets,
    and crash debris is ``_``-prefixed, invisible to readers. Readers
    drop the ``ingest`` partition column. ``expected_batches`` drains a
    fresh checkpoint through ``drain_with_timers`` (stateful operators
    with pending timers never self-terminate). Jobs run under the
    caller's shuffle-partition setting."""
    dst = dst or scratch_dir("drain_dst_")

    def batch(bdf: DataFrame, bid: int) -> None:
        write(bdf, f"{dst}/ingest={bid}")

    _drain(
        df.writeStream.foreachBatch(batch),
        ckpt or scratch_dir("drain_ckpt_"),
        expected_batches,
    )
    return dst


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
