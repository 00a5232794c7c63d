"""Traced mode: per-layer metrics read from outside the engine.

Three sources, none of which needs a change to the engine:

- Spark's status store (``sc._jsc.sc().statusStore()``), serialised to JSON
  in the JVM with Jackson: jobs, stages and tasks of each op. It is filled
  with the UI disabled.
- A Python ``StreamingQueryListener``: each micro-batch's ``durationMs``
  phases, input rows and ``stateOperators``.
- Timing wrappers installed on engine module attributes for the duration
  of a traced op. Each is looked up as a module global (or imported inside
  a function body) by its caller, so replacing the attribute times every
  call without editing the engine.

Spans nest per thread; a span opened on another thread (``foreachBatch``
callbacks run on the py4j callback thread) is parented to the innermost
span open on the op's own thread. A span's self time is its duration minus
the part its children cover. ``trace.residual_s`` is the op wall minus the
sum of every span's self time; it is 0 when spans nest properly.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import threading
import time

# (module, attribute, span name). Only attributes that callers resolve at
# call time are listed; the span name is the layer-qualified metric stem.
WRAPPED = [
    ("flink_mm_spark.algos.kmeans", "kmeans", "algos.kmeans.kmeans"),
    ("flink_mm_spark.algos.kmeans", "_lloyd_step_columnar", "algos.kmeans.lloyd_pass"),
    ("flink_mm_spark.algos.damds", "damds_blocks_from_files", "sources.damds_blocks_from_files"),
    ("flink_mm_spark.algos.damds", "damds", "algos.damds.damds"),
    ("flink_mm_spark.algos.damds", "matrix_stats", "algos.damds.matrix_stats"),
    ("flink_mm_spark.algos.damds", "v_array", "algos.damds.v_array"),
    ("flink_mm_spark.algos.damds", "stress_bofz", "algos.damds.stress_bofz"),
    ("flink_mm_spark.algos.damds", "bofz_bc", "algos.damds.bofz_bc"),
    ("flink_mm_spark.algos.damds", "cg_solve", "algos.damds.cg_solve"),
    ("flink_mm_spark.algos.damds", "v_multiply", "algos.damds.v_multiply"),
    ("flink_mm_spark.linalg.gemm", "matrix_multiply_file", "linalg.matrix_multiply_file"),
    ("flink_mm_spark.linalg.gemm", "gemm_broadcast", "linalg.gemm_broadcast"),
    ("flink_mm_spark.linalg.block_matrix", "blocks_to_numpy", "linalg.blocks_to_numpy"),
    ("flink_mm_spark.sources.binary_matrix", "read_matrix_blocks", "sources.read_matrix_blocks"),
    ("flink_mm_spark.streaming.documents", "corpus_to_shards_streamed",
     "streaming.corpus_to_shards_streamed"),
    ("flink_mm_spark.streaming.documents", "deterministic_arrival_split",
     "streaming.deterministic_arrival_split"),
    ("flink_mm_spark.operators.llm_prep", "idempotent_shard_append",
     "llm_prep.idempotent_shard_append"),
    ("flink_mm_spark.operators.llm_prep", "read_back_shards", "llm_prep.read_back_shards"),
]

DAMDS_KERNELS = ("matrix_stats", "v_array", "stress_bofz", "bofz_bc", "cg_solve", "v_multiply")
STREAM_PHASES = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
    "latest_offset": "latestOffset",
    "get_batch": "getBatch",
}
_CELL_BYTES = {"float64": 8, "int16": 2}


class Spans:
    """In-memory span recorder; ``wrap`` returns a timing wrapper."""

    def __init__(self):
        self.records: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.main_thread = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self.main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            rec = {"id": len(self.records), "name": name, "parent": parent,
                   "thread": threading.get_ident(), "start": time.time(), "end": None}
            self.records.append(rec)
        stack.append(rec["id"])
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack().pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            rec = self.open(name)
            try:
                out = fn(*args, **kwargs)
                _annotate(rec, name, args, kwargs, out)
                return out
            finally:
                self.close(rec)

        return timed


def _annotate(rec: dict, name: str, args, kwargs, out) -> None:
    """Counts computed from a call's arguments and result."""
    if name == "sources.read_matrix_blocks":
        _, _, n_rows, n_cols, *rest = args
        cell = kwargs.get("cell", rest[0] if rest else "float64")
        rec["bytes_read"] = int(n_rows) * int(n_cols) * _CELL_BYTES[cell]
    elif name == "sources.damds_blocks_from_files":
        n = int(args[2])
        weight = kwargs.get("weight_path", args[3] if len(args) > 3 else None)
        rec["bytes_read"] = n * n * 2 * (2 if weight else 1)
    elif name == "linalg.matrix_multiply_file":
        _, _, n_rows, n_cols, b = args[:5]
        rec["flops"] = 2 * int(n_rows) * int(n_cols) * int(b.shape[1])
        rec["bytes_out"] = int(out.nbytes)
    elif name == "algos.damds.cg_solve":
        rec["cg_iters"] = int(out[1])
    elif name == "algos.damds.damds":
        rec["stress_iters"] = int(out.stress_iters)


def self_times(spans: list[dict]) -> None:
    """Set ``self_s`` on every span: duration minus its children's union."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered = union_s([(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        s["self_s"] = (s["end"] - s["start"]) - covered


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class _Events:
    """Streaming listener sink, filled from the py4j callback thread."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.terminated: dict[str, float] = {}
        self.progress: list[dict] = []


def _make_listener(events: _Events):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.started[str(event.runId)] = time.time()

        def onQueryProgress(self, event):
            events.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            events.terminated[str(event.runId)] = time.time()

    return Listener()


class Tracer:
    """Collects one record per traced op and summarises them."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.wl = workload
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        self.ops: list[dict] = []
        self._patched: list[tuple] = []

    def _read(self, jobj) -> list | dict:
        return json.loads(self._json.writeValueAsString(jobj))

    def begin_op(self) -> None:
        self.spans = Spans()
        self.events = _Events()
        self.listener = _make_listener(self.events)
        self.spark.streams.addListener(self.listener)
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self.spans.wrap(orig, name))
        self.root = self.spans.open(f"op.{self.wl.name}")

    def end_op(self, t0: float, t1: float, wall: float) -> None:
        self.spans.close(self.root)
        self.root["start"], self.root["end"] = t0, t1
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)
        # listener and status-store events arrive asynchronously
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline and (
            set(self.events.started) - set(self.events.terminated)
        ):
            time.sleep(0.02)
        self.spark.streams.removeListener(self.listener)
        jobs = self._jobs_between(t0, t1)
        spans = [s for s in self.spans.records if s["end"] is not None]
        self_times(spans)
        rec = {"wall_s": wall, "start": t0, "end": t1, "spans": spans, "jobs": jobs,
               "stream_progress": self.events.progress,
               "stream_queries": [[self.events.started[k], self.events.terminated.get(k, t1)]
                                  for k in self.events.started]}
        rec["metrics"] = self._op_metrics(rec)
        self.ops.append(rec)

    def _jobs_between(self, t0: float, t1: float) -> list[dict]:
        lo, hi = t0 * 1000.0 - 1.0, t1 * 1000.0 + 1.0
        deadline = time.monotonic() + 10.0
        while True:
            jobs = [j for j in self._read(self._store.jobsList(None))
                    if lo <= (j.get("submissionTime") or 0) <= hi]
            if all(j.get("completionTime") for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._read(self._store.stageList(
            None, False, False, self._no_quantiles, self._empty))
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
        by_id = {}
        for s in stages:
            tasks = self._read(self._store.taskList(s["stageId"], s["attemptId"], 100000))
            s["task_durations_ms"] = [t.get("duration") or 0 for t in tasks]
            s["sched_delay_ms"] = sum(t.get("schedulerDelay") or 0 for t in tasks)
            by_id.setdefault(s["stageId"], []).append(s)
        out = []
        for j in jobs:
            out.append({
                "id": j["jobId"], "name": j["name"],
                "start": j["submissionTime"] / 1000.0,
                "end": (j.get("completionTime") or hi) / 1000.0,
                "stages": [_stage_summary(s) for sid in j["stageIds"] for s in by_id.pop(sid, [])],
            })
        return out

    def _op_metrics(self, rec: dict) -> dict[str, float]:
        t0, t1, wall = rec["start"], rec["end"], rec["wall_s"]
        jobs, spans = rec["jobs"], rec["spans"]
        stages = [s for j in jobs for s in j["stages"]]
        job_iv = [(j["start"], j["end"]) for j in jobs]

        def ssum(key):
            return float(sum(s[key] for s in stages))

        def named(name):
            return [s for s in spans if s["name"] == name]

        def dur(name):
            return float(sum(s["end"] - s["start"] for s in named(name)))

        def attr(name, key):
            return float(sum(s.get(key, 0) for s in named(name)))

        slow = max(stages, key=lambda s: s["wall_s"], default=None)
        m = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": ssum("tasks"),
            "spark.sched_delay_s": ssum("sched_delay_ms") / 1e3,
            "spark.driver_only_s": wall - union_s(job_iv, t0, t1),
            "spark.task_run_s": ssum("run_ms") / 1e3,
            "spark.task_cpu_s": ssum("cpu_ns") / 1e9,
            "spark.task_gc_s": ssum("gc_ms") / 1e3,
            "spark.task_skew": slow["skew"] if slow else 0.0,
            "spark.result_bytes": ssum("result_bytes"),
            "spark.input_bytes": ssum("input_bytes"),
            "spark.shuffle_read_bytes": ssum("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": ssum("shuffle_write_bytes"),
            "spark.spill_bytes": ssum("spill_bytes"),
            "spark.failed_tasks": ssum("failed_tasks"),
        }
        # algos.kmeans: pass = the jobs inside one Lloyd-pass span
        passes = named("algos.kmeans.lloyd_pass")
        km = named("algos.kmeans.kmeans")
        m["algos.kmeans.iter_s"] = (
            statistics.median(union_s(job_iv, p["start"], p["end"]) for p in passes)
            if passes else 0.0
        )
        m["algos.kmeans.cache_s"] = float(sum(
            min((p["start"] for p in passes if p["start"] >= k["start"]), default=k["end"])
            - k["start"] for k in km
        ))
        if km:
            s = self.wl.sizes
            m["algos.kmeans.dist_evals"] = float(len(passes) * s.km_points * s.km_k)
        else:
            m["algos.kmeans.dist_evals"] = 0.0
        for k in DAMDS_KERNELS:
            m[f"algos.damds.{k}_s"] = dur(f"algos.damds.{k}")
            m[f"algos.damds.{k}_calls"] = float(len(named(f"algos.damds.{k}")))
        m["algos.damds.stress_iters"] = attr("algos.damds.damds", "stress_iters")
        m["algos.damds.cg_iters"] = attr("algos.damds.cg_solve", "cg_iters")
        m["sources.bytes_read"] = attr("sources.read_matrix_blocks", "bytes_read") + attr(
            "sources.damds_blocks_from_files", "bytes_read")
        gathers = named("linalg.blocks_to_numpy")
        m["linalg.blocks_to_numpy_s"] = dur("linalg.blocks_to_numpy")
        m["linalg.gather_driver_s"] = float(sum(
            (g["end"] - g["start"]) - union_s(job_iv, g["start"], g["end"]) for g in gathers))
        m["linalg.flops"] = attr("linalg.matrix_multiply_file", "flops")
        m["linalg.bytes_out"] = attr("linalg.matrix_multiply_file", "bytes_out")
        # streaming + state, from the listener
        prog = rec["stream_progress"]
        m["streaming.batches"] = float(len(prog))
        for key, phase in STREAM_PHASES.items():
            m[f"streaming.{key}_s"] = sum(p["durationMs"].get(phase, 0) for p in prog) / 1e3
        m["streaming.input_rows"] = float(sum(p.get("numInputRows", 0) for p in prog))
        live = union_s(rec["stream_queries"], t0, t1)
        m["streaming.drain_idle_s"] = max(0.0, live - m["streaming.trigger_s"]) if prog else 0.0
        ops = [o for p in prog for o in p.get("stateOperators", [])]
        m["state.commit_ms"] = float(sum(o.get("commitTimeMs", 0) for o in ops))
        m["state.rows_total"] = float(max((o.get("numRowsTotal", 0) for o in ops), default=0))
        m["state.rows_updated"] = float(sum(o.get("numRowsUpdated", 0) for o in ops))
        m["state.memory_bytes"] = float(max((o.get("memoryUsedBytes", 0) for o in ops), default=0))
        m["llm_prep.manifest_s"] = (wall - live) if named("streaming.corpus_to_shards_streamed") else 0.0
        m["trace.residual_s"] = (t1 - t0) - sum(s["self_s"] for s in spans)
        return m

    def summary(self, get_spark_s: float, worker_warm_s: float, overhead: float) -> dict:
        """Per-layer metrics: the median over traced ops of each per-op value."""
        names = self.ops[0]["metrics"].keys() if self.ops else []
        out = {k: (statistics.median(o["metrics"][k] for o in self.ops), UNITS[k]) for k in names}
        out["session.get_spark_s"] = (get_spark_s, "s")
        out["session.worker_warm_s"] = (worker_warm_s, "s")
        out["ref.numpy_s"] = (self.wl.ref_numpy_s, "s")
        out["trace.overhead"] = (overhead, "ratio")
        self.summary_metrics = {k: v for k, (v, _) in out.items()}
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.wl.name, "summary": self.summary_metrics,
                       "ops": self.ops}, f)


def _stage_summary(s: dict) -> dict:
    durs = sorted(s["task_durations_ms"])
    med = statistics.median(durs) if durs else 0
    return {
        "id": s["stageId"], "name": s["name"], "tasks": s["numTasks"],
        "wall_s": ((s.get("completionTime") or 0) - (s.get("firstTaskLaunchedTime") or 0)) / 1e3,
        "skew": (durs[-1] / med) if med else 1.0,
        "sched_delay_ms": s["sched_delay_ms"],
        "run_ms": s["executorRunTime"], "cpu_ns": s["executorCpuTime"], "gc_ms": s["jvmGcTime"],
        "result_bytes": s["resultSize"], "input_bytes": s["inputBytes"],
        "shuffle_read_bytes": s["shuffleReadBytes"], "shuffle_write_bytes": s["shuffleWriteBytes"],
        "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
        "failed_tasks": s["numFailedTasks"],
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name in ("sources.bytes_read", "linalg.bytes_out"):
        return "bytes"
    if name == "linalg.flops":
        return "flop"
    if name in ("spark.task_skew", "trace.overhead"):
        return "ratio"
    return "count"


PER_OP = (
    ["spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s", "spark.driver_only_s",
     "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s", "spark.task_skew",
     "spark.result_bytes", "spark.input_bytes", "spark.shuffle_read_bytes",
     "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.failed_tasks",
     "algos.kmeans.iter_s", "algos.kmeans.cache_s", "algos.kmeans.dist_evals"]
    + [f"algos.damds.{k}_{x}" for k in DAMDS_KERNELS for x in ("s", "calls")]
    + ["algos.damds.stress_iters", "algos.damds.cg_iters", "sources.bytes_read",
       "linalg.blocks_to_numpy_s", "linalg.gather_driver_s", "linalg.flops", "linalg.bytes_out",
       "streaming.batches"]
    + [f"streaming.{k}_s" for k in STREAM_PHASES]
    + ["streaming.input_rows", "streaming.drain_idle_s", "state.commit_ms", "state.rows_total",
       "state.rows_updated", "state.memory_bytes", "llm_prep.manifest_s", "trace.residual_s"]
)
PER_RUN = ["session.get_spark_s", "session.worker_warm_s", "ref.numpy_s", "trace.overhead"]
UNITS = {n: _unit(n) for n in PER_RUN + PER_OP}
