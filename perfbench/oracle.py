"""Independent answers for every op, sharing none of the engine's cell
routing: DuckDB range predicates for the rect joins and the window counts,
a brute-force NumPy even-odd test for the polygons, and the generator's
own record of where each moved object is for the landed table.

Oracles run outside the timed ops and outside set-up."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from distributed_spatial_index_spark.config import EPSILON, WINDOW_MS

import inputs


def pair_codes(qid, doc) -> np.ndarray:
    """(query_id, doc_id) pairs as one sorted, duplicate-free int64 array."""
    q = np.asarray(qid, dtype=np.int64)
    d = np.asarray(doc, dtype=np.int64)
    return np.unique((q << 32) | d)


def rect_join_pairs(points: pd.DataFrame, rects: pd.DataFrame) -> np.ndarray:
    """DuckDB answer of the epsilon-padded point-in-rect join; ``rects``
    may hold many batches at once (query ids are unique across them)."""
    con = duckdb.connect()
    try:
        con.register("p", points[["id", "x", "y"]])
        con.register("q", rects[["query_id", "xmin", "ymin", "xmax", "ymax"]])
        e = repr(EPSILON)
        res = con.execute(
            f"""SELECT DISTINCT q.query_id, p.id FROM p JOIN q
                ON p.x >= q.xmin - {e} AND p.x <= q.xmax + {e}
               AND p.y >= q.ymin - {e} AND p.y <= q.ymax + {e}"""
        ).fetchnumpy()
    finally:
        con.close()
    return pair_codes(res["query_id"], res["id"])


def window_counts(events: pd.DataFrame, rects: pd.DataFrame) -> pd.DataFrame:
    """DuckDB answer of the windowed match count: per (window start, query)
    the number of events inside the epsilon-padded rect."""
    con = duckdb.connect()
    try:
        ev = events.assign(ts_ms=inputs.epoch_ms(events["ts"]))
        con.register("ev", ev[["id", "x", "y", "ts_ms"]])
        con.register("q", rects)
        e = repr(EPSILON)
        return con.execute(
            f"""SELECT (ev.ts_ms // {WINDOW_MS}) * {WINDOW_MS} AS win_ms,
                       q.query_id, count(*) AS n_matches
                FROM ev JOIN q
                  ON ev.x >= q.xmin - {e} AND ev.x <= q.xmax + {e}
                 AND ev.y >= q.ymin - {e} AND ev.y <= q.ymax + {e}
                GROUP BY 1, 2 ORDER BY 1, 2"""
        ).fetchdf()
    finally:
        con.close()


class SortedPoints:
    """Points sorted by x, so the docs in a rect are a binary-search slice
    plus a y test: brute force per rect, no grid."""

    def __init__(self, ids: np.ndarray, x: np.ndarray, y: np.ndarray):
        order = np.argsort(x, kind="stable")
        self.ids, self.x, self.y = ids[order], x[order], y[order]

    def in_rect(self, xmin, ymin, xmax, ymax, eps=EPSILON) -> np.ndarray:
        """Indexes (into the sorted arrays) of points in the padded rect."""
        lo = np.searchsorted(self.x, xmin - eps, side="left")
        hi = np.searchsorted(self.x, xmax + eps, side="right")
        ys = self.y[lo:hi]
        return lo + np.nonzero((ys >= ymin - eps) & (ys <= ymax + eps))[0]

    def rect_pairs(self, rects: pd.DataFrame) -> np.ndarray:
        qids, docs = [], []
        for r in rects.itertuples(index=False):
            hit = self.in_rect(r.xmin, r.ymin, r.xmax, r.ymax)
            qids.append(np.full(len(hit), r.query_id, dtype=np.int64))
            docs.append(self.ids[hit])
        if not qids:
            return pair_codes([], [])
        return pair_codes(np.concatenate(qids), np.concatenate(docs))


def even_odd(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Even-odd rule, one edge at a time over all points."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


def polygon_pairs(pts: SortedPoints, polys) -> np.ndarray:
    """Brute-force point-in-polygon: every point in the polygon's bbox
    through the even-odd test (no padding: strict interior)."""
    qids, docs = [], []
    for qid, verts in polys:
        (xmin, ymin), (xmax, ymax) = verts.min(axis=0), verts.max(axis=0)
        cand = pts.in_rect(xmin, ymin, xmax, ymax, eps=0.0)
        hit = cand[even_odd(pts.x[cand], pts.y[cand], verts)]
        qids.append(np.full(len(hit), qid, dtype=np.int64))
        docs.append(pts.ids[hit])
    return pair_codes(np.concatenate(qids), np.concatenate(docs))
