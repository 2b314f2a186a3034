"""Closed-loop writes beside reads on the landed (unified bucketed) layout.

Set-up lands the doc table with ``write_bucketed_points`` (bucketed on the
routing cell and hive-partitioned by the coarse cell), commits its manifest
and density summary with ``write_bucketed_manifest``, and lands a few
query-cell tables with ``write_bucketed_query_cells``.

Each op then
1. upserts one seeded batch of moved objects (existing ids, positions
   shifted by up to ``SHIFT``) with ``upsert_into_bucketed_table``, so the
   table keeps its size and only the files holding those ids are
   rewritten; the batch comes from one coarse cell, the way moving objects
   cluster;
2. answers a landed query batch over the same area with
   ``bucketed_point_range_join`` (the pruned variant spends ~3 s of
   driver-side pruning per op at this table size, more than the scan it
   saves, so the recurring-serving plan is the one timed).

Answers are checked against the generator's own record of every object's
current position.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from distributed_spatial_index_spark.config import X_HI, Y_HI
from distributed_spatial_index_spark.plans.bucketing import (
    bucketed_point_range_join,
    count_exchanges,
    write_bucketed_manifest,
    write_bucketed_points,
    write_bucketed_query_cells,
)
from distributed_spatial_index_spark.plans.upsert import (
    upsert_into_bucketed_table,
)

import harness
import inputs
import oracle

N_BUCKETS = 4
COARSE_BITS = 2
N_AREAS = 2  # landed query tables, one per focus area
SHIFT = 30.0


class LandedUpsert(harness.ClosedLoop):
    name = "landed_upsert"
    warm_ops = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        tag = os.getpid()
        self.table = f"perfbench_pts_{tag}"
        self.qtables = [f"perfbench_qc_{tag}_{k}" for k in range(N_AREAS)]
        self.root = os.path.join(ctx.work, "landed")
        p = ctx.points
        # the focus areas: seeded coarse cells; moved objects and queries
        # are drawn from the docs that start there
        r = inputs.rng(ctx.seed, inputs.LANDQ)
        side = 1 << COARSE_BITS
        w, h = X_HI / side, Y_HI / side
        self.pools, self.rects = [], []
        for k, (cx, cy) in enumerate(r.integers(0, side, (N_AREAS, 2))):
            pool = np.nonzero(
                (p.x >= cx * w) & (p.x < (cx + 1) * w)
                & (p.y >= cy * h) & (p.y < (cy + 1) * h)
            )[0]
            self.pools.append(pool)
            self.rects.append(inputs.rect_batch(
                p, r, ctx.size["batch"], first_qid=k * 10_000, pool=pool))
        self.x = self.y = None
        self.landed = False

    # --- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        self.release()
        ctx, spark = self.ctx, self.ctx.spark
        self.x, self.y = ctx.points.x.copy(), ctx.points.y.copy()
        t0 = time.perf_counter()
        docs = spark.read.parquet(ctx.points_path).select("id", "x", "y")
        write_bucketed_points(docs, self.table, f"{self.root}/pts",
                              n_buckets=N_BUCKETS, coarse_bits=COARSE_BITS)
        t1 = time.perf_counter()
        write_bucketed_manifest(spark, self.table)
        for k, qt in enumerate(self.qtables):
            write_bucketed_query_cells(
                spark.createDataFrame(self.rects[k]), qt, f"{self.root}/qc{k}",
                n_buckets=N_BUCKETS)
        self.landed = True
        return {"ingest_s": t1 - t0, "land_s": time.perf_counter() - t1}

    def release(self) -> None:
        if self.landed:
            for t in [self.table, *self.qtables]:
                self.ctx.spark.sql(f"DROP TABLE IF EXISTS {t}")
            self.landed = False
        shutil.rmtree(self.root, ignore_errors=True)

    # --- ops -----------------------------------------------------------------

    def _run_op(self, op: int) -> dict:
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        area = op % N_AREAS
        batch = inputs.moved_batch(
            self.x, self.y, inputs.rng(ctx.seed, inputs.MOVE, op + 1000),
            self.pools[area], ctx.size["moved"], SHIFT)
        tr.op_id = op
        with ctx.jobs.group() as gid:
            t0 = time.perf_counter()
            with tr.span("op"):
                with tr.span("submit"):
                    bdf = spark.createDataFrame(batch)
                with tr.span("upsert"):
                    stats = upsert_into_bucketed_table(spark, self.table, bdf)
                with tr.span("landed_join"):
                    with tr.span("plan"):
                        df = bucketed_point_range_join(
                            spark, self.table, self.qtables[area])
                    with tr.span("execute"):
                        res = df.toPandas()
            dt = time.perf_counter() - t0
        # the generator's record moves with the committed upsert
        self.x[batch["id"].to_numpy()] = batch["x"].to_numpy()
        self.y[batch["id"].to_numpy()] = batch["y"].to_numpy()
        rec = {"op": op, "t0": t0, "s": dt, "docs": len(batch), "area": area,
               "pairs": oracle.pair_codes(res["query_id"], res["doc_id"]),
               "upsert": stats}
        rec["ok"] = self._answer_ok(rec)
        if ctx.trace:
            lay = harness.plan_layers(harness.executed_plan(df),
                                     scan_table=self.table)
            t = stats.get("timings", {})
            lay.update({
                "upsert.files_rewritten": stats["files_rewritten"],
                "upsert.rows_replaced": stats["rows_replaced"],
                "upsert.plan_scan_s": t.get("plan_scan", 0.0),
                "upsert.insert_s": t.get("insert", 0.0),
                "upsert.remove_s": t.get("remove", 0.0),
                "upsert.repair_s": sum(v for k, v in t.items() if k.startswith("repair")),
                "landed.files_total": len(self._data_files()),
                "landed.exchanges": count_exchanges(df),
            })
            rec["layers"] = lay
            rec["jobs"], rec["stages"] = ctx.jobs.count(gid)
        return rec

    def _answer_ok(self, rec: dict) -> bool:
        """The join's answer against the generator's current positions."""
        pts = oracle.SortedPoints(self.ctx.points.id, self.x, self.y)
        want = pts.rect_pairs(self.rects[rec["area"]])
        return bool(np.array_equal(want, rec["pairs"]))

    def _data_files(self) -> list[str]:
        out = []
        for d, dirs, files in os.walk(f"{self.root}/pts"):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            out += [f for f in files if f.endswith(".parquet")]
        return out

    def check(self, ops: list[dict]) -> None:
        """Answers are checked per op (positions move between ops); at the
        end the table must hold every object once, where it last moved."""
        rows = self.ctx.spark.table(self.table).select("id", "x", "y").toPandas()
        rows = rows.sort_values("id")
        intact = (
            len(rows) == len(self.x)
            and np.array_equal(rows["id"].to_numpy(), self.ctx.points.id)
            and np.array_equal(rows["x"].to_numpy(), self.x)
            and np.array_equal(rows["y"].to_numpy(), self.y)
        )
        if not intact:
            self.ctx.log("landed table does not match the generator's positions")
            for o in ops:
                o["ok"] = False

    def extra_layers(self, ops: list[dict]) -> dict:
        spans = self.ctx.tracer.self_times()
        n = max(1, len([o for o in ops if "s" in o]))
        return {
            "upsert.s": spans.get("upsert", {}).get("total_s", 0.0) / n,
            "landed.join_s": spans.get("landed_join", {}).get("total_s", 0.0) / n,
        }
