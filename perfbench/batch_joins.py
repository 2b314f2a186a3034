"""Closed-loop batch workloads over the persisted doc table.

- ``range_join``: seeded rect-query batches through ``point_range_join``
  (broadcast regime, bits=9).  Route, probe and merge run in whole-stage
  codegen; no row reaches Python, so a refine/Arrow change must not move
  this workload.
- ``pip_join``: seeded batches of 3-24-vertex polygons through ``pip_join``
  with its default ``unroll_arity="auto"``; the vertex-count mix sends them
  down the general path, where boundary candidates cross Arrow into the
  NumPy ray-cast refine.

A closed loop: the next batch is submitted when the previous result is in.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark import StorageLevel

from distributed_spatial_index_spark.functions.cells import cell_id_col
from distributed_spatial_index_spark.operators.pip_join import (
    pip_join,
    ray_cast_np,
)
from distributed_spatial_index_spark.operators.range_join import (
    explode_query_cells,
    point_range_join,
)
from pyspark.sql import functions as F

import harness
import inputs
import oracle

BITS = 9
POLY_SCHEMA = "query_id long, vertices array<struct<x:double, y:double>>"


class DocTable:
    """The persisted doc table both batch workloads probe."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.df = None

    def setup(self) -> dict:
        ctx = self.ctx
        self.release()
        t0 = time.perf_counter()
        self.df = (
            ctx.spark.read.parquet(ctx.points_path)
            .persist(StorageLevel.MEMORY_ONLY)
        )
        n = self.df.count()
        if n != len(ctx.points):
            raise RuntimeError(f"ingest read {n} docs, wrote {len(ctx.points)}")
        return {"ingest_s": time.perf_counter() - t0}

    def release(self) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
            self.df = None


class BatchJoin(harness.ClosedLoop):
    """One op: ``submit`` builds the op's input frame, ``plan`` calls the
    engine, ``execute`` collects the result."""

    rng_stream: int

    def __init__(self, ctx):
        super().__init__(ctx)
        self.docs = DocTable(ctx)
        self.sorted_pts = None

    def setup(self) -> dict:
        return self.docs.setup()

    def release(self) -> None:
        self.docs.release()

    def _run_op(self, op: int) -> dict:
        ctx = self.ctx
        tr = ctx.tracer
        batch = self.make_batch(inputs.rng(ctx.seed, self.rng_stream, op + 1000), op)
        tr.op_id = op
        with ctx.jobs.group() as gid:
            t0 = time.perf_counter()
            with tr.span("op"):
                with tr.span("submit"):
                    qdf = self.submit(batch)
                with tr.span("plan"):
                    df = self.plan(qdf)
                with tr.span("execute"):
                    res = df.toPandas()
            dt = time.perf_counter() - t0
        rec = {"op": op, "t0": t0, "s": dt, "docs": len(ctx.points), "batch": batch,
               "pairs": oracle.pair_codes(res["query_id"], res["doc_id"])}
        if ctx.trace:
            rec["layers"] = harness.plan_layers(harness.executed_plan(df))
            rec["jobs"], rec["stages"] = ctx.jobs.count(gid)
            with tr.span("diag.candidates"):
                rec["layers"]["probe.candidates"] = self.candidates(qdf)
        return rec


class RangeJoin(BatchJoin):
    name = "range_join"
    # ops keep getting faster for ~20 ops after a cold start (JIT, heap
    # sizing); past 12 the remaining drift is below the host's own noise
    warm_ops = 12
    rng_stream = inputs.RANGE

    def make_batch(self, r, op) -> pd.DataFrame:
        return inputs.rect_batch(self.ctx.points, r, self.ctx.size["batch"],
                                 first_qid=(op + 10_000) * 10_000)

    def submit(self, batch):
        return self.ctx.spark.createDataFrame(batch)

    def plan(self, qdf):
        return point_range_join(self.docs.df, qdf, bits=BITS)

    def candidates(self, qdf) -> int:
        """Rows out of the cell equi-join before the epsilon refine."""
        pts = self.docs.df.withColumn(
            "cell", cell_id_col(F.col("x"), F.col("y"), BITS)
        )
        return pts.join(F.broadcast(explode_query_cells(qdf, BITS)), "cell").count()

    def check(self, ops: list[dict]) -> None:
        """One DuckDB join over every batch of the run, split per op."""
        good = [o for o in ops if "pairs" in o]
        if not good:
            return
        rects = pd.concat([o["batch"] for o in good], ignore_index=True)
        want = oracle.rect_join_pairs(self.ctx.points.frame(), rects)
        qop = (want >> 32) // 10_000
        for o in good:
            mine = want[qop == (o["op"] + 10_000)]
            o["ok"] = np.array_equal(mine, o["pairs"])


class PipJoin(BatchJoin):
    name = "pip_join"
    warm_ops = 2
    rng_stream = inputs.POLY

    def make_batch(self, r, op):
        return inputs.polygon_batch(self.ctx.points, r, self.ctx.size["batch"],
                                    first_qid=(op + 10_000) * 10_000)

    def submit(self, batch):
        rows = [(qid, [(float(x), float(y)) for x, y in v]) for qid, v in batch]
        return self.ctx.spark.createDataFrame(rows, POLY_SCHEMA)

    def plan(self, qdf):
        return pip_join(self.docs.df, qdf, bits=BITS)

    def candidates(self, qdf) -> int:
        """Rows out of the cell equi-join on the polygons' bbox cells."""
        bbox = qdf.select(
            "query_id",
            F.array_min("vertices.x").alias("xmin"),
            F.array_min("vertices.y").alias("ymin"),
            F.array_max("vertices.x").alias("xmax"),
            F.array_max("vertices.y").alias("ymax"),
        )
        pts = self.docs.df.withColumn(
            "cell", cell_id_col(F.col("x"), F.col("y"), BITS)
        )
        return pts.join(
            F.broadcast(explode_query_cells(bbox, BITS, eps=0.0)), "cell"
        ).count()

    def check(self, ops: list[dict]) -> None:
        if self.sorted_pts is None:
            p = self.ctx.points
            self.sorted_pts = oracle.SortedPoints(p.id, p.x, p.y)
        for o in ops:
            if "pairs" in o:
                want = oracle.polygon_pairs(self.sorted_pts, o["batch"])
                o["ok"] = np.array_equal(want, o["pairs"])

    def extra_layers(self, ops: list[dict]) -> dict:
        return {"refine.kernel_ms_per_mrow": self.kernel_ms_per_mrow()}

    @staticmethod
    def kernel_ms_per_mrow(seed_rows: int = 1_000_000, reps: int = 5) -> float:
        """``ray_cast_np`` on one fixed seeded batch (not the run seed, so
        the figure compares across runs): median ms per million points."""
        r = inputs.rng(0, inputs.KERNEL)
        px = r.uniform(-50, 50, seed_rows)
        py = r.uniform(-50, 50, seed_rows)
        ang = np.sort(r.uniform(0, 2 * np.pi, 12))
        verts = np.column_stack((40 * np.cos(ang), 40 * np.sin(ang)))
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            ray_cast_np(px, py, verts)
            times.append(time.perf_counter() - t0)
        return harness.median(times) * 1e3 * 1e6 / seed_rows
