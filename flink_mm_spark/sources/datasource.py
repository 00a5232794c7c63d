"""``spark.read.format("binmatrix")`` — the binary matrix scan as a
first-class Spark connector (Python Data Source API, Spark 4).

The same headerless S1–S3 semantics as ``binary_matrix.read_matrix_blocks``
(reference mm/MatrixInputFormat.java:25-62 family), packaged behind the
standard reader interface so the scan composes with the whole
``spark.read`` surface: one ``InputPartition`` per row block, each task
reading ONLY its byte range at ``offset = start·cols·itemsize`` — the
planner sees an ordinary v2 scan and schedules blocks like parquet splits.

Usage::

    register_binmatrix(spark)          # idempotent
    df = (spark.read.format("binmatrix")
          .option("rows", 500).option("cols", 96)
          .option("cell", "float64").option("byteorder", "big")
          .option("blocks", 16)
          .load("/path/to/matrix.bin"))

Missing int16 cells (negative shorts, damds/DAMDSUtils.java:8-9) are
emitted as explicit SQL NULLs — the connector does not rely on any
NaN-folding behavior of a particular serializer.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

BINMATRIX_SCHEMA = (
    "block_id int, start bigint, block_rows int, "
    "matrix_rows bigint, matrix_cols int, data array<double>"
)


class _BlockPartition(InputPartition):
    def __init__(self, block_id: int, start: int, block_rows: int):
        self.block_id = block_id
        self.start = start
        self.block_rows = block_rows


class BinMatrixReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("binmatrix: .load(path) is required")
        self.rows = int(options["rows"])
        self.cols = int(options["cols"])
        self.cell = options.get("cell", "float64")
        self.byteorder = options.get("byteorder", "big")
        self.blocks = int(options.get("blocks", "32"))
        if self.cell not in ("float64", "int16"):
            raise ValueError(f"binmatrix: unsupported cell type {self.cell!r}")
        self.pushed: list = []

    def pushFilters(self, filters):
        """Consume block_id predicates as PARTITION pruning: a pruned block's
        bytes are never read (the connector-native analogue of parquet's
        partition filters — at 100 TB a `block_id` range predicate turns a
        full-matrix scan into a handful of byte-range reads). block_id
        pruning is exact, so consumed filters are not re-evaluated by Spark;
        Inclusive bounds matter: Spark emits GreaterThanOrEqual for the
        common ``block_id >= k`` range form, so consuming only the strict
        comparators would silently forfeit pruning on half of real range
        predicates (ADVICE r3)."""
        consumable = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            In,
        )
        for f in filters:
            if isinstance(f, consumable) and f.attribute == ("block_id",):
                self.pushed.append(f)
            else:
                yield f

    def _keep(self, bid: int) -> bool:
        for f in self.pushed:
            if isinstance(f, EqualTo) and bid != f.value:
                return False
            if isinstance(f, GreaterThan) and not bid > f.value:
                return False
            if isinstance(f, GreaterThanOrEqual) and not bid >= f.value:
                return False
            if isinstance(f, LessThan) and not bid < f.value:
                return False
            if isinstance(f, LessThanOrEqual) and not bid <= f.value:
                return False
            # pyspark's In dataclass carries the tuple in .value (not .values)
            if isinstance(f, In) and bid not in f.value:
                return False
        return True

    def partitions(self):
        from flink_mm_spark.linalg.block_matrix import split_rows

        return [
            _BlockPartition(bid, start, nrows)
            for bid, start, nrows in split_rows(self.rows, self.blocks)
            if self._keep(bid)
        ]

    def read(self, part: _BlockPartition):
        # worker-side: touch only this block's byte range
        import numpy as np

        from flink_mm_spark.sources.binary_matrix import INV_SHORT_MAX, _np_dtype

        dt = _np_dtype(self.cell, self.byteorder)
        raw = np.fromfile(
            self.path,
            dtype=dt,
            count=part.block_rows * self.cols,
            offset=part.start * self.cols * dt.itemsize,
        )
        if raw.size != part.block_rows * self.cols:
            raise ValueError(
                f"{self.path}: block {part.block_id} got {raw.size} cells, "
                f"expected {part.block_rows * self.cols}"
            )
        if self.cell == "int16":
            data = [
                None if v < 0 else float(v) * INV_SHORT_MAX for v in raw.tolist()
            ]
        else:
            data = raw.astype(np.float64).tolist()
        yield (
            part.block_id,
            part.start,
            part.block_rows,
            self.rows,
            self.cols,
            data,
        )


class BinMatrixDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "binmatrix"

    def schema(self) -> str:
        return BINMATRIX_SCHEMA

    def reader(self, schema) -> BinMatrixReader:
        return BinMatrixReader(self.options)

    def writer(self, schema, overwrite: bool):
        return BinMatrixWriter(self.options, overwrite)

    def simpleStreamReader(self, schema):
        return BinMatrixStreamReader(self.options)


def register_binmatrix(spark: SparkSession) -> None:
    """Register the connector on this session (idempotent)."""
    spark.dataSource.register(BinMatrixDataSource)


# --- registry twin: the S1 scan through the connector ----------------------

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from flink_mm_spark.registry import register  # noqa: E402
from flink_mm_spark.sources.binary_matrix import (  # noqa: E402
    _C,
    _R,
    F64_ROLLUP_ORACLE,
    ensure_fixture,
    rollup_f64_cells,
)


@register(
    "binmatrix_source_scan",
    oracle=F64_ROLLUP_ORACLE,
)
def binmatrix_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 float64 scan via ``spark.read.format("binmatrix")`` — the
    connector twin of ``binary_f64_scan`` (same fixture, same oracle).

    Grades the whole Data Source path: partition planning (one
    InputPartition per row block), per-task offset reads, schema mapping,
    and the block→cell explosion downstream — a wrong byte order, offset,
    or partition split breaks the hash. As a v2 source the scan composes
    with ordinary DataFrame pruning/filter pushdown (``pushFilters``) and
    schedules like any file-based source at cluster scale.
    """
    path = ensure_fixture(_R, _C, "float64", "big")
    register_binmatrix(spark)
    blocks = (
        spark.read.format("binmatrix")
        .option("rows", _R)
        .option("cols", _C)
        .option("cell", "float64")
        .option("byteorder", "big")
        .option("blocks", 16)
        .load(path)
    )
    return rollup_f64_cells(blocks)


# --- distributed sink: df.write.format("binmatrix") ------------------------

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage  # noqa: E402


class _BlocksWritten(WriterCommitMessage):
    def __init__(self, blocks: list):
        self.blocks = blocks  # [(block_id, start, block_rows)]


class BinMatrixWriter(DataSourceWriter):
    """Distributed writer for the headerless binary matrix format: the
    driver preallocates a TEMP file to the exact size, every task
    ``pwrite``s its blocks' bytes at ``start·cols·itemsize`` — disjoint
    ranges, no coordinator, idempotent under task retries (same bytes at
    the same offsets) — and ``commit`` verifies full row coverage then
    atomically renames the temp over the destination, so a failed job
    never clobbers a pre-existing file (``abort`` removes the temp; the
    same temp-then-commit protocol as Spark's file sinks). Gaps/overlaps
    fail the commit (S10 sink parity for the matrix format —
    mm/MatrixFileGenerator.java writes these files single-threaded on the
    reference; on object storage the same shape maps to multipart-upload
    parts). int16 cells re-quantize by 32767 with NULL → −1 (missing),
    the inverse of the reader's dequantization."""

    def __init__(self, options: dict, overwrite: bool):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("binmatrix: .save(path) is required")
        if not overwrite:
            raise ValueError("binmatrix sink supports mode('overwrite') only")
        self.rows = int(options["rows"])
        self.cols = int(options["cols"])
        self.cell = options.get("cell", "float64")
        self.byteorder = options.get("byteorder", "big")
        # one temp path chosen on the driver, shared by all tasks via pickle
        self.tmp_path = f"{self.path}.inprogress.{uuid.uuid4().hex[:12]}"
        from flink_mm_spark.sources.binary_matrix import _np_dtype

        itemsize = _np_dtype(self.cell, self.byteorder).itemsize
        self.total_bytes = self.rows * self.cols * itemsize
        # driver-side preallocation is an optimization, not a requirement:
        # write() below creates/extends the temp file itself (O_CREAT +
        # ftruncate), so tasks on nodes that did not see this preallocation
        # still succeed — the sink requires a SHARED filesystem (NFS/Lustre/
        # fuse-mounted object store) but not driver-first visibility
        # (ADVICE r3). On object storage the same block layout maps to
        # multipart-upload parts instead of pwrite ranges.
        with open(self.tmp_path, "wb") as f:
            f.truncate(self.total_bytes)

    def write(self, iterator):
        import os

        import numpy as np

        from flink_mm_spark.sources.binary_matrix import _np_dtype

        dt = _np_dtype(self.cell, self.byteorder)
        done = []
        # O_CREAT + ftruncate-to-full-size: any task on any node can create
        # or extend the shared temp file; pwrite at disjoint offsets below
        # stays idempotent under retries either way.
        fd = os.open(self.tmp_path, os.O_WRONLY | os.O_CREAT, 0o644)
        try:
            if os.fstat(fd).st_size < self.total_bytes:
                os.ftruncate(fd, self.total_bytes)
            for row in iterator:
                vals = row["data"]
                if self.cell == "int16":
                    arr = np.array(
                        [-1 if v is None else round(v * 32767.0) for v in vals],
                        dtype=np.int16,
                    )
                else:
                    arr = np.asarray(vals, dtype=np.float64)
                if arr.size != row["block_rows"] * self.cols:
                    raise ValueError(
                        f"block {row['block_id']}: {arr.size} cells != "
                        f"{row['block_rows']}x{self.cols}"
                    )
                os.pwrite(fd, arr.astype(dt).tobytes(), row["start"] * self.cols * dt.itemsize)
                done.append((int(row["block_id"]), int(row["start"]), int(row["block_rows"])))
        finally:
            os.close(fd)
        return _BlocksWritten(done)

    def commit(self, messages):
        import os

        spans = sorted((s, s + n) for m in messages for (_, s, n) in m.blocks)
        covered = 0
        for lo, hi in spans:
            if lo != covered:
                raise ValueError(
                    f"binmatrix sink: row coverage gap/overlap at {covered} (next block at {lo})"
                )
            covered = hi
        if covered != self.rows:
            raise ValueError(f"binmatrix sink: wrote {covered} rows, expected {self.rows}")
        os.replace(self.tmp_path, self.path)

    def abort(self, messages):
        import contextlib
        import os

        with contextlib.suppress(FileNotFoundError):
            os.remove(self.tmp_path)


@register(
    "binmatrix_sink_roundtrip",
    oracle=F64_ROLLUP_ORACLE,
)
def binmatrix_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector WRITE → READ round-trip, graded: the fixture matrix is
    read through the connector, written back through the DISTRIBUTED sink
    (per-task ``pwrite`` at block offsets, coverage-verified commit), and
    re-read for the same integer rollup oracle — so byte layout survives a
    full distributed write/read cycle or the hash breaks. This is the S10
    matrix-file sink the reference writes single-threaded
    (mm/MatrixFileGenerator.java), here scaling with executors.

    The destination is a per-invocation temp dir (not a shared fixture
    path): bench/driver/pytest sessions run concurrently on this box, and a
    shared destination would race them (ADVICE r3 — benign today only
    because every writer produces identical bytes).
    """
    from flink_mm_spark.session import scratch_dir

    src = ensure_fixture(_R, _C, "float64", "big")
    register_binmatrix(spark)

    def conn(reader_or_writer):
        return (
            reader_or_writer.option("rows", _R)
            .option("cols", _C)
            .option("cell", "float64")
            .option("byteorder", "big")
        )

    blocks = conn(spark.read.format("binmatrix").option("blocks", 16)).load(src)
    dst = f"{scratch_dir('binmatrix_rt_')}/roundtrip_{_R}x{_C}.f64.big.bin"
    conn(blocks.write.format("binmatrix").mode("overwrite")).save(dst)
    reread = conn(spark.read.format("binmatrix").option("blocks", 8)).load(dst)
    return rollup_f64_cells(reread)


# --- streaming source: spark.readStream.format("binmatrix") ----------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class BinMatrixStreamReader(SimpleDataSourceStreamReader):
    """Micro-batched block stream over a binary matrix file: the offset is
    the number of row blocks already emitted, so every batch is a
    deterministic, replayable block range — ``readBetweenOffsets`` re-reads
    the same byte ranges on recovery (exactly-once under a checkpoint).
    ``stream_batch`` blocks arrive per micro-batch; an availableNow query
    drains the matrix and stops."""

    def __init__(self, options: dict):
        self.inner = BinMatrixReader(options)
        self.batch = int(options.get("stream_batch", "4"))
        self.parts = self.inner.partitions()

    def initialOffset(self) -> dict:
        return {"block": 0}

    def read(self, start: dict):
        lo = int(start["block"])
        hi = min(lo + self.batch, len(self.parts))
        return self._emit(lo, hi), {"block": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._emit(int(start["block"]), int(end["block"]))

    def _emit(self, lo: int, hi: int):
        # a LIST iterator, not a generator: the simple-stream wrapper both
        # iterates the batch (needs an iterator) and pickles it for
        # replay-on-recovery (generators can't pickle; list_iterator can)
        out = []
        for p in self.parts[lo:hi]:
            out.extend(self.inner.read(p))
        return iter(out)

    def commit(self, end: dict) -> None:
        pass


@register(
    "binmatrix_stream_scan",
    oracle=F64_ROLLUP_ORACLE,
)
def binmatrix_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 scan as a REAL STREAMING execution of the custom connector:
    ``spark.readStream.format("binmatrix")`` delivers the matrix 4 blocks
    per micro-batch through ``BinMatrixStreamReader``, the raw blocks land
    append-mode in a memory sink, and the same integer rollup grades the
    result — every block must arrive exactly once, in replayable offset
    ranges, or the hash breaks. Completes the connector surface: batch
    read (pushdown-pruned), distributed write, and now an offset-tracked
    stream (the shape a continuously-appended matrix feed takes at scale).
    """
    import uuid

    from flink_mm_spark.session import hold, scratch_dir

    path = ensure_fixture(_R, _C, "float64", "big")
    register_binmatrix(spark)
    stream = (
        spark.readStream.format("binmatrix")
        .option("rows", _R)
        .option("cols", _C)
        .option("cell", "float64")
        .option("byteorder", "big")
        .option("blocks", 16)
        .option("stream_batch", 4)
        .load(path)
    )
    name = f"binmatrix_stream_{uuid.uuid4().hex[:8]}"
    hold(spark, "binmatrix_stream", name)  # drops the previous call's sink view
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", scratch_dir("bms_ckpt_"))
        .start()
    )
    # default micro-batch trigger: the source advances its block offset 4
    # blocks per batch (simple stream readers fall back to a single batch
    # under availableNow, which would not exercise offset progression);
    # drain until every matrix row has arrived, then stop.
    import time

    def rows_arrived() -> int:
        agg = spark.table(name).agg(F.sum("block_rows")).collect()[0][0]
        return int(agg or 0)

    deadline = time.time() + 120
    while rows_arrived() < _R and time.time() < deadline:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(60)
    if rows_arrived() < _R:
        raise TimeoutError("binmatrix stream did not drain within 120s")
    return rollup_f64_cells(spark.table(name))
