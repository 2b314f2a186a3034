"""Point-in-polygon join: cell prefilter + exact ray-casting refine.

North-star upgrade of the reference's MBR-only matching (its exact
rect-segment intersection code is dead, Rectangle.java:311-327; production
matching stops at epsilon-MBR — SURVEY.md §2.6).  Classic filter-refine:

  filter  = covering cells of the polygon bbox, equi-joined on the Morton
            cell (same routing as the range join, GlobalTreePF.java:51-72);
  refine  = even-odd ray casting, vectorized in NumPy over Arrow batches
            (mapInPandas) — one pass per polygon over the batch's candidate
            points, no per-row Python.

Polygons are query-side metadata (small): one bounded collect brings them
to the driver, which pads them into a (query_ids, n_vertices, vertices)
tensor, explodes each bbox to its covering cells and classifies every cell
interior/boundary in NumPy.  The classified cells return to Spark through
Arrow as the broadcast build side, and the tensor travels to executors as a
Spark broadcast variable, so candidate rows stay narrow
(cell, doc_id, x, y, query_id).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_spatial_index_spark.config import DEFAULT_REGION, JOIN_BITS, Region
from distributed_spatial_index_spark.functions.cells import (
    cell_coord_np,
    cell_id_col,
    covering_cells_col,
    morton_np,
)

# Polygons are query-side metadata collected to the driver (broadcast to
# executors).  Guard so a polygon-scale input fails loudly instead of
# OOMing the driver — route such workloads through convex_pip_join (fully
# distributed) or shred polygons to cells yourself.
MAX_DRIVER_POLYGONS = 200_000


def ray_cast_np(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Even-odd rule point-in-polygon, vectorized over points.

    ``verts``: (n, 2) closed-or-open ring (closing edge added implicitly).
    Boundary points are not guaranteed either way (measure-zero for the
    derived double workloads; exact oracles avoid edge-incident points).
    """
    inside = np.zeros(len(px), dtype=bool)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        crosses = (y1 > py) != (y2 > py)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


def _polygon_tensor(rows: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collected (query_id, vertices) rows -> (qids sorted, nv[Q],
    verts[Q,maxV,2]), each ring zero-padded past its nv vertices."""
    rows = sorted(rows, key=lambda r: r[0])
    rings = [r[1] or () for r in rows]
    nv = np.array([len(ring) for ring in rings], dtype=np.int64)
    verts = np.zeros((len(rows), int(nv.max()) if len(nv) else 0, 2))
    verts[np.arange(verts.shape[1]) < nv[:, None]] = np.array(
        [(v[0], v[1]) for ring in rings for v in ring], dtype=float
    ).reshape(-1, 2)
    return np.array([r[0] for r in rows], dtype=np.int64), nv, verts


def _poly_index_np(qids_sorted: np.ndarray, qcol: np.ndarray) -> np.ndarray:
    """Vectorized query_id -> polygon-tensor row index: binary search over
    the sorted id array instead of a per-row Python dict lookup (the dict
    comprehension was ~1 us/row of pure Python on the refine's multi-
    million-row candidate stream; searchsorted is ~ns/row).  Every id in
    ``qcol`` comes from joining against these same polygons, so membership
    is guaranteed."""
    qid_arr = np.asarray(qids_sorted, dtype=np.int64)
    return np.searchsorted(qid_arr, qcol)


def _batched_even_odd(
    px: np.ndarray, py: np.ndarray, qi: np.ndarray,
    nv: np.ndarray, verts: np.ndarray,
) -> np.ndarray:
    """Even-odd PIP vectorized across a batch of (point, polygon-index)
    rows: maxV NumPy passes over the whole batch, rows gathering their
    polygon's edge by query index — no per-row Python."""
    n_edges = nv[qi]
    maxv = verts.shape[1]
    inside = np.zeros(len(px), dtype=bool)
    for i in range(maxv):
        active = i < n_edges
        j = np.where(i + 1 < n_edges, i + 1, 0)  # wrap per-row
        x1 = verts[qi, i, 0]
        y1 = verts[qi, i, 1]
        x2 = verts[qi, j, 0]
        y2 = verts[qi, j, 1]
        crosses = active & ((y1 > py) != (y2 > py))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


def _segs_intersect_rects(
    x1: np.ndarray, y1: np.ndarray, x2: np.ndarray, y2: np.ndarray,
    rx0: np.ndarray, ry0: np.ndarray, rx1: np.ndarray, ry1: np.ndarray,
) -> np.ndarray:
    """Liang-Barsky segment-vs-AABB test, vectorized over rows."""
    dx = x2 - x1
    dy = y2 - y1
    t0 = np.zeros(len(x1))
    t1 = np.ones(len(x1))
    ok = np.ones(len(x1), dtype=bool)
    for p, q in ((-dx, x1 - rx0), (dx, rx1 - x1), (-dy, y1 - ry0), (dy, ry1 - y1)):
        zero = p == 0
        ok &= ~(zero & (q < 0))
        r = q / np.where(zero, 1.0, p)
        t0 = np.where(~zero & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(~zero & (p > 0), np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def _classify_cells_np(
    qi: np.ndarray, cx: np.ndarray, cy: np.ndarray,
    nv: np.ndarray, verts: np.ndarray, bits: int, region: Region,
) -> np.ndarray:
    """interior flag per (polygon-index, cell-coord) row.

    A cell is *interior* when it lies fully inside its polygon: all four
    corners strictly inside and no polygon edge intersects the cell rect
    (conservative — edge-touching cells stay boundary).  This is the
    reference's dir-node containment short-circuit (RCDirNode.java:130-132)
    recast for the filter-refine PIP join: interior-cell points skip the
    Arrow refine entirely.
    """
    n = 1 << bits
    cw = region.width / n
    ch = region.height / n
    rx0 = region.x_lo + cx * cw
    ry0 = region.y_lo + cy * ch
    rx1 = rx0 + cw
    ry1 = ry0 + ch

    corners_in = np.ones(len(qi), dtype=bool)
    for px, py in ((rx0, ry0), (rx0, ry1), (rx1, ry0), (rx1, ry1)):
        corners_in &= _batched_even_odd(px, py, qi, nv, verts)
    edge_hits = np.zeros(len(qi), dtype=bool)
    maxv = verts.shape[1]
    n_edges = nv[qi]
    for i in range(maxv):
        active = i < n_edges
        j = np.where(i + 1 < n_edges, i + 1, 0)
        edge_hits |= active & _segs_intersect_rects(
            verts[qi, i, 0], verts[qi, i, 1],
            verts[qi, j, 0], verts[qi, j, 1],
            rx0, ry0, rx1, ry1,
        )
    return corners_in & ~edge_hits


def _covering_cells_np(
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray,
    bits: int, region: Region,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """NumPy twin of covering_cells_col: (rect index, cx, cy) for every grid
    cell each rect covers, in the same cx-major order.  cell_coord_np is the
    IEEE formula of cell_coord_col, so the Morton ids of these cells match
    the point side's cell_id_col bit for bit."""
    cx0 = cell_coord_np(xmin, region.x_lo, region.width, bits)
    cx1 = cell_coord_np(xmax, region.x_lo, region.width, bits)
    cy0 = cell_coord_np(ymin, region.y_lo, region.height, bits)
    cy1 = cell_coord_np(ymax, region.y_lo, region.height, bits)
    ny = cy1 - cy0 + 1
    cnt = (cx1 - cx0 + 1) * ny
    row = np.repeat(np.arange(len(cnt)), cnt)
    k = np.arange(len(row)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return row, cx0[row] + k // ny[row], cy0[row] + k % ny[row]


def _fixed_arity_query_cells(
    polygons: DataFrame, arity: int, bits: int, region: Region
) -> DataFrame:
    """Broadcast-side builder shared by the fixed-arity codegen PIP paths
    (unrolled even-odd and convex half-plane): bbox from the vertex array,
    each vertex materialized as scalar _v{i}x/_v{i}y columns, exploded to
    the bbox's covering cells."""
    vx = F.transform(F.col("vertices"), lambda v: v["x"])
    vy = F.transform(F.col("vertices"), lambda v: v["y"])
    qside = polygons.select(
        "query_id", "vertices",
        F.array_min(vx).alias("xmin"), F.array_min(vy).alias("ymin"),
        F.array_max(vx).alias("xmax"), F.array_max(vy).alias("ymax"),
    )
    for i in range(arity):
        v = F.element_at("vertices", i + 1)  # 1-based
        qside = qside.withColumn(f"_v{i}x", v["x"]).withColumn(f"_v{i}y", v["y"])
    keep = ["query_id", "cell", "xmin", "ymin", "xmax", "ymax"] + [
        f"_v{i}{a}" for i in range(arity) for a in ("x", "y")
    ]
    return qside.withColumn(
        "cell",
        F.explode(covering_cells_col(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            bits=bits, region=region,
        )),
    ).select(*keep)


def unrolled_raycast_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    arity: int,
    bits: int = JOIN_BITS,
    region: Region = DEFAULT_REGION,
) -> DataFrame:
    """Even-odd ray casting for FIXED-ARITY rings (concave allowed),
    entirely in whole-stage codegen: each edge's crossing test and x-
    intercept comparison is a plain column expression on vertex scalars
    precomputed on the (tiny, broadcast) query side, XOR-folded across the
    ``arity`` edges — the same formula the NumPy refine evaluates, in the
    same IEEE op order, with zero Arrow transfer.  Profiling the general
    path at sf0.1 showed the refine's 7.4M-row Arrow hop dominating
    (~x/y/ids for every bbox candidate); this path removes it whenever the
    polygon table has one vertex count (the common tile/stencil workload).

    Horizontal edges (y1 == y2) can never satisfy the crossing test, but
    their x-intercept division MUST still be guarded: under ANSI mode
    double division by zero THROWS, and under non-ANSI mode (the session
    default since r6) it yields NULL — which would poison the XOR fold —
    rather than IEEE inf; relying on And short-circuiting would break
    under conjunct reordering either way.  The guard is on the DENOMINATOR
    (``CASE WHEN y2 != y1 THEN y2 - y1 ELSE 1.0``): whenever the crossing
    conjunct is true the denominator is untouched, so the arithmetic stays
    bit-identical to the NumPy refine, and the horizontal-edge division is
    by 1.0 instead of 0.0 (its result is discarded by the false crossing
    term).  Same-session A/B at sf0.1: unguarded 2.38s, this guard 2.76s
    (~15%, the price of ANSI safety); prefer this over a try_divide
    wrapper, whose TryEval try/catch sits inside the codegen hot loop.
    """
    qcells = _fixed_arity_query_cells(polygons, arity, bits, region)
    pts = points.withColumn("cell", cell_id_col(F.col("x"), F.col("y"), bits, region))
    cand = pts.join(F.broadcast(qcells), "cell").filter(
        (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))
    )

    inside = None
    for i in range(arity):
        x1, y1 = F.col(f"_v{i}x"), F.col(f"_v{i}y")
        j = (i + 1) % arity
        x2, y2 = F.col(f"_v{j}x"), F.col(f"_v{j}y")
        crosses = (y1 > F.col("y")) != (y2 > F.col("y"))
        denom = F.when(y2 != y1, y2 - y1).otherwise(F.lit(1.0))
        xint = (x2 - x1) * (F.col("y") - y1) / denom + x1
        term = crosses & (F.col("x") < xint)
        inside = term if inside is None else (inside != term)  # boolean XOR
    return (
        cand.filter(inside)
        .select("query_id", F.col("id").alias("doc_id"))
        .dropDuplicates(["query_id", "doc_id"])
    )


# "auto" unrolls a mixed-arity polygon table into per-arity codegen joins
# as long as the table holds at most this many distinct vertex counts and
# none exceeds MAX_UNROLL_ARITY (past that the XOR-folded predicate chain
# itself strains Janino and the general path's Arrow refine wins).
MAX_UNROLL_GROUPS = 4
MAX_UNROLL_ARITY = 12


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    bits: int = JOIN_BITS,
    region: Region = DEFAULT_REGION,
    unroll_arity: int | str | None = "auto",
) -> DataFrame:
    """points(id, x, y) ⋈ polygons(query_id, vertices array<struct<x,y>>)
    → (query_id, doc_id) for points strictly inside each polygon.

    ``unroll_arity="auto"`` inspects the vertex counts on the (tiny)
    polygon table: a single arity routes to unrolled_raycast_pip_join —
    the full even-odd test in whole-stage codegen, no Arrow — and a
    MIXED-arity table with at most MAX_UNROLL_GROUPS distinct counts (each
    <= MAX_UNROLL_ARITY) routes each arity GROUP through its own unrolled
    join and unions the results (queries partition by arity, so no cross-
    group dedup is needed).  Pass ``None`` to force the general path, or
    an int to skip the detection query.

    The general path and "auto" read the polygon frame ONCE, through the
    bounded guard collect; its rows decide the arity route.  Only a table
    past MAX_DRIVER_POLYGONS falls back to a distinct-sizes query, since
    there the unrolled path can still serve it and the general path raises.

    General path (arity too varied/large to unroll): broadcast (query,
    covering-cell) equi-join, with the cells exploded and classified
    interior/boundary on the driver in NumPy from the collected polygons
    (the broadcast gathers this table on the driver anyway).  Points in
    interior cells are emitted directly inside whole-stage codegen; only
    boundary-cell candidates cross Arrow into the NumPy ray-cast refine.
    """
    rows = None
    if not unroll_arity or unroll_arity == "auto":
        # one bounded collect serves the guard, the arity detection and the
        # routing table: the limit caps what can reach the driver, and
        # overflow past the cap raises (general path) before anything is
        # broadcast
        rows = (
            polygons.select("query_id", "vertices")
            .limit(MAX_DRIVER_POLYGONS + 1)
            .collect()
        )
    fits = rows is not None and len(rows) <= MAX_DRIVER_POLYGONS
    if unroll_arity == "auto":
        if fits:
            sizes = sorted({len(r["vertices"] or ()) for r in rows})
        else:
            sizes = sorted(
                r["n"]
                for r in polygons.select(
                    F.size("vertices").alias("n")
                ).distinct().collect()
            )
        if (
            1 < len(sizes) <= MAX_UNROLL_GROUPS
            and sizes[-1] <= MAX_UNROLL_ARITY
        ):
            out = None
            for a in sizes:
                part = unrolled_raycast_pip_join(
                    points,
                    polygons.filter(F.size("vertices") == a),
                    int(a), bits, region,
                )
                out = part if out is None else out.unionByName(part)
            return out
        # single-arity tables obey the SAME arity cap as the mixed-arity
        # group path: a 100-vertex polygon's XOR-folded predicate chain
        # strains Janino just as much alone as in a group, so past
        # MAX_UNROLL_ARITY it takes the general Arrow path too
        unroll_arity = (
            sizes[0]
            if len(sizes) == 1 and sizes[0] <= MAX_UNROLL_ARITY
            else None
        )
    if unroll_arity:
        return unrolled_raycast_pip_join(
            points, polygons, int(unroll_arity), bits, region
        )
    if not fits:
        raise ValueError(
            f"pip_join collects polygons to the driver as query metadata; "
            f"got > MAX_DRIVER_POLYGONS={MAX_DRIVER_POLYGONS}. "
            "Use convex_pip_join (fully distributed) or raise the guard."
        )

    spark = points.sparkSession
    qids, nv, verts = _polygon_tensor(rows)
    # driver-side routing table: bbox -> covering cells -> interior flag.
    # Rings without vertices have no bbox and cover no cell.
    has = np.flatnonzero(nv > 0)
    valid = np.arange(verts.shape[1]) < nv[has, None]
    lo = np.where(valid[..., None], verts[has], np.inf).min(axis=1)
    hi = np.where(valid[..., None], verts[has], -np.inf).max(axis=1)
    row, cx, cy = _covering_cells_np(
        lo[:, 0], lo[:, 1], hi[:, 0], hi[:, 1], bits, region
    )
    qi = has[row]
    interior = _classify_cells_np(qi, cx, cy, nv, verts, bits, region)
    cells = pd.DataFrame({
        "query_id": qids[qi], "cell": morton_np(cx, cy, bits),
        "xmin": lo[row, 0], "ymin": lo[row, 1],
        "xmax": hi[row, 0], "ymax": hi[row, 1],
    })
    schema = "query_id long, cell long, xmin double, ymin double, xmax double, ymax double"
    qc_int = spark.createDataFrame(cells[interior], schema)
    qc_bnd = spark.createDataFrame(cells[~interior], schema)
    bc = spark.sparkContext.broadcast((qids, nv, verts))

    pts = points.withColumn("cell", cell_id_col(F.col("x"), F.col("y"), bits, region))
    # The interior/boundary routing is applied to the (tiny, broadcast)
    # query-cell table BEFORE the join, not as a post-join filter: a filter
    # ABOVE the join means every union branch's hash join emits the full
    # candidate stream and then drops most of it — measured at sf0.1 the
    # two branches emitted 13M joined rows EACH (26M emissions for 13M
    # candidates).  Joining each branch against only its own slice of the
    # classified cells emits each candidate exactly once across branches.
    # in-region guard: cell ids clamp out-of-region points into edge cells,
    # so "point is in an interior cell" only implies "inside the polygon"
    # for points geometrically inside their cell (the refine path re-checks
    # exactly, the direct path must not).
    in_region = (
        (F.col("x") >= F.lit(region.x_lo)) & (F.col("x") <= F.lit(region.x_hi))
        & (F.col("y") >= F.lit(region.y_lo)) & (F.col("y") <= F.lit(region.y_hi))
    )
    bbox = (
        (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))
    )
    direct = (
        pts.join(F.broadcast(qc_int), "cell")
        .filter(in_region)
        .select("query_id", F.col("id").alias("doc_id"))
    )
    # JVM-side bbox prefilter cuts the Arrow transfer into the Python
    # refine to points that can possibly be inside the polygon.
    refine_cols = ["query_id", F.col("id").alias("doc_id"), "x", "y"]
    boundary = pts.join(F.broadcast(qc_bnd), "cell").filter(bbox).select(*refine_cols)
    # Clamped out-of-region points landing in interior cells must be
    # refined exactly, not emitted directly.  They can only land in the
    # grid's edge row or column, so the branch exists only when some
    # interior cell lies there (the broadcast of qc_int is reused from the
    # direct branch); otherwise it is provably empty and would only double
    # the refine's Python tasks.
    n = 1 << bits
    if (interior & ((cx == 0) | (cx == n - 1) | (cy == 0) | (cy == n - 1))).any():
        boundary = boundary.unionByName(
            pts.join(F.broadcast(qc_int), "cell")
            .filter(~in_region & bbox)
            .select(*refine_cols)
        )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized across the WHOLE batch, not per query: rows gather
        # their polygon from the broadcast [Q, maxV, 2] tensor by query
        # index, and the even-odd rule runs as maxV (<= a dozen) NumPy
        # passes over the full batch.
        qids_sorted, nv, verts = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            px = pdf["x"].to_numpy()
            py = pdf["y"].to_numpy()
            qi = _poly_index_np(qids_sorted, pdf["query_id"].to_numpy())
            inside = _batched_even_odd(px, py, qi, nv, verts)
            yield pdf.loc[inside, ["query_id", "doc_id"]]

    refined = boundary.mapInPandas(refine, schema="query_id long, doc_id long")
    return direct.unionByName(refined).dropDuplicates(["query_id", "doc_id"])


def convex_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    bits: int = JOIN_BITS,
    region: Region = DEFAULT_REGION,
    arity: int | None = None,
) -> DataFrame:
    """PIP join for CONVEX polygons with CCW vertices — entirely JVM-side:
    strict interior <=> every edge's cross product with the point is
    positive.  Use pip_join (ray casting) for concave rings.

    Fixed-arity rings (``arity`` given, or auto-detected from the — tiny,
    query-side — polygon table) take the fast path: each edge's endpoints
    are precomputed as scalar double columns on the broadcast query side, so
    the per-candidate interior test is an unrolled conjunction of plain
    column arithmetic that stays inside whole-stage codegen — no vertex
    array access, no higher-order functions (Spark evaluates array-lambda
    HOFs like F.forall interpreted, per row: measured 2.6x SLOWER than the
    Arrow ray-cast refine in round 1).  Variable-arity inputs fall back to
    the HOF form, which is still JVM-side but interpreted.
    """
    if arity is None:
        sizes = [
            r["n"]
            for r in polygons.select(
                F.size("vertices").alias("n")
            ).distinct().collect()
        ]
        arity = sizes[0] if len(sizes) == 1 else None

    if arity is not None:
        # edge endpoints materialized once per QUERY row (tiny side) —
        # shared builder with the unrolled ray-cast path
        qcells = _fixed_arity_query_cells(polygons, arity, bits, region)
    else:
        vx = F.transform(F.col("vertices"), lambda v: v["x"])
        vy = F.transform(F.col("vertices"), lambda v: v["y"])
        qside = polygons.select(
            "query_id", "vertices",
            F.array_min(vx).alias("xmin"), F.array_min(vy).alias("ymin"),
            F.array_max(vx).alias("xmax"), F.array_max(vy).alias("ymax"),
        )
        qcells = qside.withColumn(
            "cell",
            F.explode(covering_cells_col(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
                bits=bits, region=region,
            )),
        ).select("query_id", "cell", "xmin", "ymin", "xmax", "ymax", "vertices")

    pts = points.withColumn("cell", cell_id_col(F.col("x"), F.col("y"), bits, region))
    cand = pts.join(F.broadcast(qcells), "cell").filter(
        (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))
    )

    if arity is not None:
        def edge_positive_scalar(i: int):
            x1, y1 = F.col(f"_v{i}x"), F.col(f"_v{i}y")
            j = (i + 1) % arity
            x2, y2 = F.col(f"_v{j}x"), F.col(f"_v{j}y")
            return (x2 - x1) * (F.col("y") - y1) - (y2 - y1) * (
                F.col("x") - x1
            ) > 0

        inside = edge_positive_scalar(0)
        for i in range(1, arity):
            inside = inside & edge_positive_scalar(i)
    else:
        n = F.size("vertices")
        idx = F.sequence(F.lit(0), n - 1)

        def edge_positive(i):
            v1 = F.element_at("vertices", i + 1)               # 1-based
            v2 = F.element_at("vertices", F.pmod(i + 1, n) + 1)  # wrap
            cross = (v2["x"] - v1["x"]) * (F.col("y") - v1["y"]) - (
                v2["y"] - v1["y"]
            ) * (F.col("x") - v1["x"])
            return cross > 0

        inside = F.forall(idx, edge_positive)

    # dedup is semantic (per-query set-union, SURVEY A3): doc ids are not
    # unique in the point table, so distinct points can emit the same
    # (query_id, doc_id) pair.  Only result rows shuffle here.
    return (
        cand.filter(inside)
        .select("query_id", F.col("id").alias("doc_id"))
        .dropDuplicates(["query_id", "doc_id"])
    )


# --- deterministic triangle workload (oracle-expressible) -------------------

# triangle around a point (x, y): CCW vertices
TRI = [(0.0, -25.0), (30.0, 20.0), (-28.0, 15.0)]


def triangle_polygons(queries_xy: DataFrame) -> DataFrame:
    """(query_id, x, y) -> (query_id, vertices) CCW triangles."""
    verts = F.array(
        *[
            F.struct((F.col("x") + F.lit(dx)).alias("x"),
                     (F.col("y") + F.lit(dy)).alias("y"))
            for dx, dy in TRI
        ]
    )
    return queries_xy.select("query_id", verts.alias("vertices"))


def triangle_pip_oracle_sql(points_sql: str, queries_xy_sql: str) -> str:
    """Strict-interior half-plane test for the CCW triangle (valid because
    triangles are convex); matches ray casting except on edges (measure
    zero for derived-double workloads)."""

    def vert(i: int) -> tuple[str, str]:
        dx, dy = TRI[i]
        return (f"(q.x + {dx!r})", f"(q.y + {dy!r})")

    conds = []
    for i in range(3):
        ux, uy = vert(i)
        vx2, vy2 = vert((i + 1) % 3)
        conds.append(
            f"(({vx2} - {ux}) * (p.y - {uy}) - ({vy2} - {uy}) * (p.x - {ux})) > 0"
        )
    cond = " AND ".join(conds)
    return f"""
        SELECT DISTINCT q.query_id, p.id AS doc_id
        FROM ({points_sql}) p, ({queries_xy_sql}) q
        WHERE {cond}
    """
