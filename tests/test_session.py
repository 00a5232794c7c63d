"""The session-scoped resource registry (``session.hold`` / ``staged`` /
``drain_to_memory``): one mechanism for held frames, memory-sink views and
staged arrival dirs, scoped to the live SparkContext; and the arrival
stager ``session.write_arrivals``."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One entry per registry call shape: a persisted-frame hold, a
# localCheckpoint hold, a memory-sink drain, and a staged arrival split.
RESTART_ENTRIES = [
    "events_minutely_gapfill",
    "dedup_components_exact",
    "events_hourly_streamed",
    "corpus_ingest_streamed",
]

_RESTART_SCRIPT = textwrap.dedent(
    """
    import json, sys

    from flink_mm_spark import registry
    from flink_mm_spark.session import get_spark

    sf_dir, names = sys.argv[1], sys.argv[2:]
    registry.load_all()

    def run():
        spark = get_spark("registry-restart", shuffle_partitions=2)
        out = {
            n: sorted(repr(tuple(r)) for r in registry.QUERIES[n].fn(spark, sf_dir).collect())
            for n in names
        }
        spark.stop()
        return out

    first = run()
    second = run()  # a new SparkContext in the same process
    print(json.dumps({n: first[n] == second[n] for n in names}))
    """
)


def test_entries_survive_session_restart():
    """Each registry call shape runs twice in one process with
    ``spark.stop()`` + ``get_spark()`` in between and returns the same rows:
    the second context must never release (call into) the first one's
    frames or views. A fresh ``local[2]`` subprocess keeps the shared
    ``spark`` fixture untouched."""
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER="local[2]",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
    )
    res = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, SF_DIR, *RESTART_ENTRIES],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    equal = json.loads(res.stdout.strip().splitlines()[-1])
    assert equal == {n: True for n in RESTART_ENTRIES}


def test_memory_sink_view_is_swapped(spark):
    """Two calls of a memory-sink entry leave exactly ONE sink view: each
    drain drops the previous call's view instead of pinning every drained
    table in driver memory for the session."""
    from flink_mm_spark import registry

    registry.load_all()
    fn = registry.QUERIES["events_hourly_streamed"].fn
    fn(spark, SF_DIR).collect()
    fn(spark, SF_DIR).collect()
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("events_hourly_streamed_")
    ]
    assert len(views) == 1, views


def test_hold_releases_previous_frames(spark):
    """``hold`` releases what a slot held before — persisted frames are
    uncached, checkpointed frames lose their RDD blocks — and a call with
    no frames only releases."""
    from flink_mm_spark.session import hold

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persistent()
    a = spark.range(10).selectExpr("id * 3 AS x").persist()
    a.count()
    c = spark.range(10).selectExpr("id * 5 AS x").localCheckpoint(eager=True)
    hold(spark, "test_hold", a, c)
    assert n_persistent() == base + 2
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    hold(spark, "test_hold")
    assert n_persistent() == base
    assert not a.storageLevel.useMemory and not a.storageLevel.useDisk


def test_one_resource_mechanism_in_engine():
    """Guard: the engine keeps ONE mechanism for session resources and
    streams — no module-level ``_*_CACHE`` globals, streams only through
    ``session`` (``drain_to_memory`` / ``drain_to_parquet``, plus the
    binmatrix stream's timed-trigger loop in ``sources/datasource.py``),
    and arrival mtimes only through ``session.write_arrivals``."""
    pkg = os.path.join(REPO, "flink_mm_spark")
    cache_global = re.compile(r"^_\w*CACHE\b\s*(:[^=\n]*)?=", re.M)
    stream_sink = re.compile(r"\.writeStream\b")
    allowed_sinks = {"session.py", os.path.join("sources", "datasource.py")}
    bad = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            bad += [f"{rel}: {m.group(0)}" for m in cache_global.finditer(src)]
            if rel not in allowed_sinks and stream_sink.search(src):
                bad.append(f"{rel}: writeStream outside session's drains")
            if rel != "session.py" and "os.utime" in src:
                bad.append(f"{rel}: os.utime outside session.write_arrivals")
    assert not bad, bad


def test_write_arrivals_skips_empty_frames_in_order(spark, tmp_path):
    """An empty frame writes no file and the rest keep their order:
    [non-empty, empty, non-empty] stages 2 files with strictly
    increasing mtimes, holding the first and third frames' rows."""
    import glob

    from flink_mm_spark.session import write_arrivals

    frames = [
        spark.range(3).selectExpr("id AS x"),
        spark.range(0).selectExpr("id AS x"),
        spark.range(10, 12).selectExpr("id AS x"),
    ]
    src = str(tmp_path / "arrivals")
    assert write_arrivals(frames, src) == 2
    files = sorted(glob.glob(f"{src}/*.parquet"), key=os.path.getmtime)
    assert len(files) == 2
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes[0] < mtimes[1]
    rows = [sorted(r["x"] for r in spark.read.parquet(f).collect()) for f in files]
    assert rows == [[0, 1, 2], [10, 11]]


def test_write_arrivals_rejects_multi_file_frame(spark, tmp_path):
    """A frame that writes more than one file would split one arrival
    across micro-batches: the stager raises instead (``ValueError``, not
    an ``assert`` that ``python -O`` strips)."""
    from flink_mm_spark.session import write_arrivals

    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        with pytest.raises(ValueError, match="arrival frame 0 wrote 3 files"):
            write_arrivals([spark.range(3)], str(tmp_path / "arrivals"))
    finally:
        spark.conf.set(key, prev)
