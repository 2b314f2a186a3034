"""Point-in-polygon join vs exact oracles (FIXTURES.md §3)."""

from __future__ import annotations

import numpy as np

from distributed_spatial_index_spark.operators.pip_join import (
    pip_join,
    ray_cast_np,
    triangle_pip_oracle_sql,
    triangle_polygons,
)
from distributed_spatial_index_spark.sources import tables as src
from tests.conftest import SF_DIR, assert_same_rows


def test_ray_cast_unit():
    square = np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])
    px = np.array([5.0, 15.0, -1.0, 9.999, 5.0])
    py = np.array([5.0, 5.0, 5.0, 9.999, 15.0])
    assert ray_cast_np(px, py, square).tolist() == [True, False, False, True, False]


def test_ray_cast_concave():
    # "U" shape: the notch center must be outside
    u = np.array([(0, 0), (10, 0), (10, 10), (7, 10), (7, 3), (3, 3), (3, 10), (0, 10)],
                 dtype=float)
    px = np.array([5.0, 1.5, 8.5, 5.0])
    py = np.array([6.0, 6.0, 6.0, 1.0])
    assert ray_cast_np(px, py, u).tolist() == [False, True, True, True]


def test_triangle_pip_vs_duckdb(spark, ddb):
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qxy = src.knn_queries(spark, SF_DIR, "lineitem")
    got = pip_join(pts, triangle_polygons(qxy))
    rows = ddb.execute(
        triangle_pip_oracle_sql(src.geo_points_sql("lineitem"),
                                src.knn_queries_sql("lineitem"))
    ).fetchall()
    assert_same_rows(got, rows)
    assert got.count() > 0


def test_convex_pip_equals_raycast_and_oracle(spark, ddb):
    from distributed_spatial_index_spark.operators.pip_join import convex_pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    polys = triangle_polygons(src.knn_queries(spark, SF_DIR, "lineitem"))
    a = sorted(map(tuple, convex_pip_join(pts, polys).collect()))
    b = sorted(map(tuple, pip_join(pts, polys).collect()))
    assert a == b and len(a) > 0
    rows = ddb.execute(
        triangle_pip_oracle_sql(src.geo_points_sql("lineitem"),
                                src.knn_queries_sql("lineitem"))
    ).fetchall()
    assert sorted(a) == sorted(tuple(r) for r in rows)


def test_concave_polygon_vs_numpy(spark):
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    u = [(4000.0, 4000.0), (4800.0, 4000.0), (4800.0, 4800.0), (4600.0, 4800.0),
         (4600.0, 4200.0), (4200.0, 4200.0), (4200.0, 4800.0), (4000.0, 4800.0)]
    polys = spark.createDataFrame(
        [(1, [{"x": x, "y": y} for x, y in u])],
        "query_id long, vertices array<struct<x double, y double>>",
    )
    got = sorted(r["doc_id"] for r in pip_join(pts, polys).collect())
    p = np.array([(r["id"], r["x"], r["y"]) for r in pts.collect()])
    inside = ray_cast_np(p[:, 1], p[:, 2], np.array(u))
    expect = sorted(set(int(i) for i in p[inside, 0]))
    assert got == expect and len(expect) > 0


def test_unrolled_raycast_concave_matches_general(spark):
    """The fixed-arity codegen even-odd path must equal the general
    classify+Arrow-refine path on CONCAVE rings (arrowhead quads) — the
    case the convex half-plane path cannot serve."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem")
    # concave arrowhead around each query point: (0,-30),(25,20),(0,5),(-25,20)
    quad = [(0.0, -30.0), (25.0, 20.0), (0.0, 5.0), (-25.0, 20.0)]
    verts = F.array(*[
        F.struct((F.col("x") + F.lit(dx)).alias("x"),
                 (F.col("y") + F.lit(dy)).alias("y"))
        for dx, dy in quad
    ])
    polys = kq.select("query_id", verts.alias("vertices"))
    fast = pip_join(pts, polys)  # auto-detects arity 4 -> unrolled codegen
    slow = pip_join(pts, polys, unroll_arity=None)
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b and len(a) > 0


def test_unrolled_raycast_random_pentagons(spark):
    """Randomized (seeded) pentagons — irregular, some nearly degenerate —
    must agree with both the general Arrow path and the raw NumPy kernel."""
    import numpy as np
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import (
        pip_join,
        ray_cast_np,
    )

    rng = np.random.default_rng(7)
    n_polys, n_pts = 6, 4000
    centers = rng.uniform(1000, 7000, size=(n_polys, 2))
    offsets = rng.uniform(-60, 60, size=(n_polys, 5, 2))
    px = rng.uniform(900, 7100, n_pts)
    py = rng.uniform(900, 7100, n_pts)

    pts = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(n_pts)],
        "id long, x double, y double",
    )
    polys = spark.createDataFrame(
        [
            (
                q,
                [
                    {"x": float(centers[q, 0] + offsets[q, v, 0]),
                     "y": float(centers[q, 1] + offsets[q, v, 1])}
                    for v in range(5)
                ],
            )
            for q in range(n_polys)
        ],
        "query_id long, vertices array<struct<x: double, y: double>>",
    )
    fast = sorted(map(tuple, pip_join(pts, polys).collect()))
    slow = sorted(map(tuple, pip_join(pts, polys, unroll_arity=None).collect()))
    assert fast == slow
    expect = []
    for q in range(n_polys):
        verts = centers[q][None, :] + offsets[q]
        inside = ray_cast_np(px, py, verts)
        expect += [(q, i) for i in np.flatnonzero(inside)]
    assert fast == sorted(expect) and len(fast) > 0


def test_unrolled_raycast_axis_aligned_rectangles(spark):
    """Axis-aligned rings have horizontal edges whose x-intercept division
    is by zero — under ANSI mode this must be guarded, not relied on to
    short-circuit.  Rectangles are the workload the fixed-arity path is
    built for, so this is the regression fence for that guard."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem")
    # CCW axis-aligned rectangle around each query point
    rect = [(-20.0, -20.0), (20.0, -20.0), (20.0, 20.0), (-20.0, 20.0)]
    verts = F.array(*[
        F.struct((F.col("x") + F.lit(dx)).alias("x"),
                 (F.col("y") + F.lit(dy)).alias("y"))
        for dx, dy in rect
    ])
    polys = kq.select("query_id", verts.alias("vertices"))
    fast = sorted(map(tuple, pip_join(pts, polys).collect()))  # unrolled, arity 4
    slow = sorted(map(tuple, pip_join(pts, polys, unroll_arity=None).collect()))
    assert fast == slow and len(fast) > 0


def test_mixed_arity_auto_groups_match_general(spark):
    """A mixed-arity polygon table with few distinct vertex counts routes
    per-arity through the unrolled codegen join ("auto" grouping); results
    must equal the general Arrow-refine path exactly, including a concave
    group."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem")

    def polys_of(shape, rows):
        verts = F.array(*[
            F.struct((F.col("x") + F.lit(dx)).alias("x"),
                     (F.col("y") + F.lit(dy)).alias("y"))
            for dx, dy in shape
        ])
        return rows.select("query_id", verts.alias("vertices"))

    tri = [(0.0, -25.0), (30.0, 20.0), (-28.0, 15.0)]
    concave_quad = [(0.0, -30.0), (25.0, 20.0), (0.0, 5.0), (-25.0, 20.0)]
    # split queries between the two shapes -> one table, arities {3, 4}
    a = polys_of(tri, kq.filter(F.col("query_id") % 2 == 0))
    b = polys_of(concave_quad, kq.filter(F.col("query_id") % 2 == 1))
    polys = a.unionByName(b)

    fast = pip_join(pts, polys)  # auto -> per-arity unrolled group union
    slow = pip_join(pts, polys, unroll_arity=None)
    got = sorted(map(tuple, fast.collect()))
    expect = sorted(map(tuple, slow.collect()))
    assert got == expect and len(got) > 0
    # both arity groups actually contribute
    arities = {len(r) for r in [tri, concave_quad]}
    assert arities == {3, 4}
    assert fast.select("query_id").distinct().count() > 1


def test_general_path_refines_out_of_region_points(spark):
    """The general path's clamped-point routing (r6): a point OUTSIDE the
    region clamps into an edge cell; if that cell is classified interior
    for a polygon overhanging the region edge, the point must still go
    through the exact refine (branch 3), not be emitted directly — and
    out-of-region points genuinely inside the polygon must be found."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.config import DEFAULT_REGION

    x_hi = DEFAULT_REGION.x_hi  # 8626.0
    # polygon overhangs the region's right edge: x in [8000, 9500]
    square = [(8000.3, 4000.7), (9500.3, 4000.7), (9500.3, 5000.7), (8000.3, 5000.7)]
    polys = spark.createDataFrame(
        [(1, [{"x": vx, "y": vy} for vx, vy in square])],
        "query_id long, vertices array<struct<x double, y double>>",
    )
    rows = [
        (1, 8500.1, 4500.1),   # in region, inside polygon
        (2, x_hi + 74.1, 4500.1),   # OUT of region, inside polygon
        (3, x_hi + 874.1, 4500.1),  # out of region, inside polygon (same edge cell)
        (4, x_hi + 974.1, 4500.1),  # out of region, OUTSIDE polygon (x > 9500.3)
        (5, 8500.1, 6000.1),   # in region, outside polygon
    ]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted(
        (r["query_id"], r["doc_id"])
        for r in pip_join(pts, polys, bits=6, unroll_arity=None).collect()
    )
    # exact oracle: NumPy even-odd on the raw coordinates (no clamping)
    verts = np.array(square)
    px = np.array([r[1] for r in rows])
    py = np.array([r[2] for r in rows])
    inside = ray_cast_np(px, py, verts)
    expect = sorted((1, rows[i][0]) for i in range(len(rows)) if inside[i])
    assert got == expect
    # the interesting rows really are the clamped ones
    assert (1, 2) in got and (1, 3) in got and (1, 4) not in got


def _final_plan(df) -> str:
    """The executed (final adaptive) plan of the last action on ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_driver_covering_cells_equal_covering_cells_col(spark):
    """The general path explodes polygon bboxes to covering cells on the
    driver; its cell ids must equal covering_cells_col (the point side's
    formula) exactly, including bboxes on cell borders, straddling the
    region edge and lying wholly outside it."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.config import DEFAULT_REGION as R
    from distributed_spatial_index_spark.functions.cells import (
        covering_cells_col,
        morton_np,
    )
    from distributed_spatial_index_spark.operators.pip_join import (
        _covering_cells_np,
    )

    rng = np.random.default_rng(11)
    lo = rng.uniform([R.x_lo - 500, R.y_lo - 500], [R.x_hi + 200, R.y_hi + 200],
                     size=(200, 2))
    hi = lo + rng.uniform(0, 700, size=(200, 2))
    for bits in (6, 9):
        w = R.width / (1 << bits)
        border = np.array([[R.x_lo + 3 * w, R.y_lo], [R.x_lo + 7 * w, R.y_lo + 2 * w]])
        rects = np.vstack([np.hstack([lo, hi]), border.reshape(1, 4),
                           [[R.x_hi - 1, R.y_hi - 1, R.x_hi + 50, R.y_hi + 50]],
                           [[R.x_lo - 90, R.y_lo - 90, R.x_lo - 10, R.y_lo - 10]]])
        row, cx, cy = _covering_cells_np(
            rects[:, 0], rects[:, 1], rects[:, 2], rects[:, 3], bits, R
        )
        got = sorted(zip(row.tolist(), morton_np(cx, cy, bits).tolist()))
        df = spark.createDataFrame(
            [(i, *map(float, r)) for i, r in enumerate(rects)],
            "i long, xmin double, ymin double, xmax double, ymax double",
        )
        want = sorted(
            (r["i"], r["cell"])
            for r in df.select("i", F.explode(covering_cells_col(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
                bits=bits, region=R,
            )).alias("cell")).collect()
        )
        assert got == want and len(got) > len(rects)


def test_auto_past_polygon_guard_still_unrolls(spark, monkeypatch):
    """Past MAX_DRIVER_POLYGONS the guard collect cannot decide the route:
    "auto" falls back to the distinct-sizes query, so a single-arity table
    still takes the unrolled codegen path, and the general path raises."""
    import pytest

    from distributed_spatial_index_spark.operators import pip_join as pj

    rng = np.random.default_rng(5)
    n_pts = 2000
    px = rng.uniform(1000, 3000, n_pts)
    py = rng.uniform(1000, 3000, n_pts)
    pts = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(n_pts)],
        "id long, x double, y double",
    )
    tri = np.array([(0.0, -250.0), (300.0, 200.0), (-280.0, 150.0)])
    centers = rng.uniform(1400, 2600, size=(4, 2))
    polys = spark.createDataFrame(
        [(q, [{"x": float(x), "y": float(y)} for x, y in centers[q] + tri])
         for q in range(4)],
        "query_id long, vertices array<struct<x double, y double>>",
    )
    monkeypatch.setattr(pj, "MAX_DRIVER_POLYGONS", 2)
    out = pj.pip_join(pts, polys, bits=6)
    got = sorted(map(tuple, out.collect()))
    assert "MapInPandas" not in _final_plan(out)  # unrolled codegen path
    expect = sorted(
        (q, i) for q in range(4)
        for i in np.flatnonzero(ray_cast_np(px, py, centers[q] + tri))
    )
    assert got == expect and len(got) > 0
    with pytest.raises(ValueError, match="MAX_DRIVER_POLYGONS"):
        pj.pip_join(pts, polys, bits=6, unroll_arity=None)


def test_general_path_plan_shape(spark):
    """The general path reads the polygon frame once per call (the guard
    collect feeds the driver-side classification), and with no interior
    cell on the grid's edge it builds no clamped-point branch: the final
    plan holds exactly one MapInPandas (the refine) over two broadcast
    joins (direct + boundary).  A polygon with an interior edge cell gets
    the third, clamped-point join; a sliver with no interior cell at all
    still joins correctly."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.config import DEFAULT_REGION as R

    rng = np.random.default_rng(3)
    n_pts = 3000
    px = rng.uniform(R.x_lo, R.x_hi, n_pts)
    py = rng.uniform(R.y_lo, R.y_hi, n_pts)
    pts = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(n_pts)],
        "id long, x double, y double",
    )
    ang = np.sort(rng.uniform(0, 2 * np.pi, (3, 14)), axis=1)
    rings = [np.column_stack((4000 + 900 * q + 700 * np.cos(a),
                              4000 + 700 * np.sin(a))) for q, a in enumerate(ang)]
    rings.append(np.array([(8000.3, 4000.7), (9500.3, 4000.7),
                           (9500.3, 5000.7), (8000.3, 5000.7)]))
    # a sliver thinner than a cell: no interior cell, empty direct side
    rings.append(np.array([(500.3, 500.7), (7500.3, 700.7), (500.3, 620.7)]))
    polys = spark.createDataFrame(
        [(q, [{"x": float(x), "y": float(y)} for x, y in ring])
         for q, ring in enumerate(rings)],
        "query_id long, vertices array<struct<x double, y double>>",
    )
    reads = spark.sparkContext.accumulator(0)

    def count_read(q):
        reads.add(1)
        return True

    def run(qids):
        counted = polys.filter(F.col("query_id").isin(qids)).filter(
            F.udf(count_read, "boolean")("query_id")
        )
        out = pip_join(pts, counted, bits=6, unroll_arity=None)
        got = sorted(map(tuple, out.collect()))
        expect = sorted(
            (q, i) for q in qids
            for i in np.flatnonzero(ray_cast_np(px, py, rings[q]))
        )
        assert got == expect and len(got) > 0
        return _final_plan(out)

    plan = run([0, 1, 2])
    assert reads.value == 3
    assert plan.count("MapInPandas") == 1
    assert plan.count("BroadcastHashJoin") == 2
    plan = run([3])  # overhangs the right edge: interior cells in column n-1
    assert plan.count("MapInPandas") == 1
    assert plan.count("BroadcastHashJoin") == 3
    run([4])
