"""The four reference workloads: one op each, its expected answer and check.

Each workload calls the engine only through its public functions. The
expected answer is computed by the benchmark from the generated files,
before the session starts, and every op's output is checked against it.

- ``kmeans``: one ``algos.kmeans.kmeans`` solve (the KMeansBlock loop),
  checked against ``kmeans_numpy_oracle``, which runs the same float32
  assignment kernel, so centroids agree to summation rounding.
- ``damds``: ``damds_blocks_from_files`` + a weighted ``damds`` anneal +
  unpersist (DAMDSProgram). Thresholds are 0 so every op runs the same
  fixed number of SMACOF and CG iterations whatever the seed.
- ``gemm``: one ``linalg.gemm.matrix_multiply_file`` (file → blocks →
  broadcast-B GEMM → C on the driver), checked against numpy ``A @ B``.
- ``corpus_shards``: one forced ``corpus_to_shards_streamed``, checked
  against the registry's oracle SQL replayed in DuckDB over the same
  ``documents.parquet``.
"""

from __future__ import annotations

import math
import time

import numpy as np

from perfbench.inputs import Sizes

# gemm: C from distributed blocks vs one numpy product — block-wise BLAS
# may sum in another order, so compare at float64 rounding, not bitwise.
GEMM_RTOL = 1e-10
GEMM_ATOL = 1e-10
# kmeans: equal assignments; centroid means differ only in summation order.
KMEANS_RTOL = 1e-9
# damds: bound on the normalised stress σ ∈ [0, 1]. The generated distances
# are exact 3-d distances, so the anneal ends near 0 (about 1e-5 on the full
# inputs, 3e-4 on the smoke inputs); a broken kernel lands far above this.
DAMDS_STRESS_MAX = 0.01
# damds anneal schedule: the smallest one that calls every kernel (bofz_bc
# runs only from the second temperature on), with thresholds 0 so every op
# runs the same number of SMACOF and CG iterations whatever the seed.
DAMDS_ARGS = dict(
    dim=3, alpha=0.95, max_temp_loops=2, max_stress_loops=1,
    stress_threshold=0.0, cg_iters=1, cg_threshold=0.0, seed=42,
)


class Workload:
    """One closed-loop client: ``stage`` once, then ``op`` back to back."""

    name = ""

    def __init__(self, inputs: dict, sizes: Sizes, cores: int):
        self.inputs = inputs
        self.sizes = sizes
        self.cores = cores
        self.ref_numpy_s = 0.0  # single-threaded numpy solve, where one exists

    def expect(self) -> None:
        """Compute the expected answer (benchmark-side, no Spark)."""

    def stage(self, spark) -> None:
        """Program-side staging that a user pays once per session."""

    def op(self, spark):
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def work_per_op(self) -> float:
        raise NotImplementedError


class KMeans(Workload):
    name = "kmeans"

    def expect(self) -> None:
        import pyarrow.parquet as pq

        from flink_mm_spark.algos.kmeans import kmeans_numpy_oracle

        col = pq.read_table(self.inputs["points"]).column("features").combine_chunks()
        self.points = col.flatten().to_numpy().reshape(-1, 2)
        self.init = np.load(self.inputs["init"])
        t0 = time.perf_counter()
        self.want = kmeans_numpy_oracle(self.points, self.init, self.sizes.km_iters)
        self.ref_numpy_s = time.perf_counter() - t0

    def stage(self, spark) -> None:
        self.df = spark.read.parquet(self.inputs["points"])

    def op(self, spark):
        from flink_mm_spark.algos.kmeans import kmeans

        return kmeans(self.df, self.init, self.sizes.km_iters)

    def check(self, result) -> bool:
        got = np.asarray(result)
        return got.shape == self.want.shape and bool(
            np.allclose(got, self.want, rtol=KMEANS_RTOL, atol=0.0)
        )

    def work_per_op(self) -> float:
        s = self.sizes
        return float(s.km_points) * s.km_k * s.km_iters


class Damds(Workload):
    name = "damds"

    def __init__(self, inputs: dict, sizes: Sizes, cores: int):
        super().__init__(inputs, sizes, cores)
        self.stresses: list[float] = []

    def op(self, spark):
        from flink_mm_spark.algos.damds import damds, damds_blocks_from_files

        n = self.inputs["n"]
        blocks = damds_blocks_from_files(
            spark, self.inputs["dist"], n, self.inputs["weight"], "big", n_blocks=self.cores
        )
        try:
            return damds(blocks, n, **DAMDS_ARGS)
        finally:
            blocks.unpersist()

    def check(self, result) -> bool:
        s = float(result.stress)
        iters = DAMDS_ARGS["max_temp_loops"] * DAMDS_ARGS["max_stress_loops"]
        ok = (
            math.isfinite(s)
            and 0.0 <= s < DAMDS_STRESS_MAX
            and result.stress_iters == iters
            and result.points.shape == (self.inputs["n"], DAMDS_ARGS["dim"])
            and bool(np.isfinite(result.points).all())
        )
        # every op of a run solves the same problem from the same start
        if ok and self.stresses:
            ok = s == self.stresses[0]
        if ok:
            self.stresses.append(s)
        return ok

    def work_per_op(self) -> float:
        iters = DAMDS_ARGS["max_temp_loops"] * DAMDS_ARGS["max_stress_loops"]
        return float(self.inputs["n"]) ** 2 * iters


class Gemm(Workload):
    name = "gemm"

    def expect(self) -> None:
        s = self.sizes
        t0 = time.perf_counter()
        a = np.fromfile(self.inputs["a"], dtype=">f8").reshape(s.mm_rows, s.mm_inner)
        self.b = np.load(self.inputs["b"])
        self.want = a.astype(np.float64) @ self.b
        self.ref_numpy_s = time.perf_counter() - t0

    def op(self, spark):
        from flink_mm_spark.linalg.gemm import matrix_multiply_file

        s = self.sizes
        return matrix_multiply_file(
            spark, self.inputs["a"], s.mm_rows, s.mm_inner, self.b, "big", n_blocks=self.cores
        )

    def check(self, result) -> bool:
        got = np.asarray(result)
        return got.shape == self.want.shape and bool(
            np.allclose(got, self.want, rtol=GEMM_RTOL, atol=GEMM_ATOL)
        )

    def work_per_op(self) -> float:
        s = self.sizes
        return 2.0 * s.mm_rows * s.mm_inner * s.mm_cols


class CorpusShards(Workload):
    name = "corpus_shards"

    def expect(self) -> None:
        import duckdb

        from flink_mm_spark.registry import QUERIES
        from flink_mm_spark.streaming import documents  # noqa: F401  (registers)

        con = duckdb.connect()
        try:
            path = self.inputs["documents"].replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            res = con.execute(QUERIES["corpus_to_shards_streamed"].oracle)
            cols = [d[0] for d in res.description]
            self.want = _canon(cols, res.fetchall())
        finally:
            con.close()
        # planted near-dups must reach the store, or the workload degenerates
        n_kept = sum(row[cols.index("n_docs")] for row in self.want[1])
        if n_kept >= self.inputs["n_docs"]:
            raise ValueError("generated corpus has no near-duplicate drops")

    def op(self, spark):
        from flink_mm_spark.streaming.documents import corpus_to_shards_streamed

        df = corpus_to_shards_streamed(spark, self.inputs["dir"])
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, result) -> bool:
        cols, rows = result
        return _canon(cols, rows) == self.want

    def work_per_op(self) -> float:
        return float(self.inputs["n_docs"])


def _canon(cols, rows):
    """Column-name-ordered, row-sorted manifest with plain Python ints."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(int(r[i]) for i in order) for r in rows),
    )


WORKLOADS = {w.name: w for w in (KMeans, Damds, Gemm, CorpusShards)}
