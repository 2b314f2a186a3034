"""kNN via expanding cell-ring search (north-star op; absent in the
reference — SURVEY.md §2.5 A6 — so semantics are defined by the exact
oracle: k nearest by L2 distance, ties broken by doc id).

Algorithm (SURVEY.md §7.2 step 7):
  round i: candidates = points within the cell cover of the query box
  ±r_i, kept if euclid_dist <= r_i.  A query SETTLES when it has >= k such
  candidates: every point with dist <= r_i is in the candidate set (the cell
  cover is a superset of the disk), so the true kNN are all candidates —
  the ring expansion terminates provably correctly (SURVEY.md §7.3 risk
  "kNN correctness at partition edges").  Unsettled queries retry with
  r *= growth.  The driver loop is data-dependent iteration Catalyst cannot
  express; each round is pure DataFrame ops.

Ranking per settled query runs on the small candidate set (a Window over
(dist2, doc_id)), never on the full doc table — the brute-force alternative
would shuffle |docs| x |queries| rows.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# Snapshot of the MOST RECENT knn() call's stats (rounds_run, stragglers,
# fallback_used).  REBOUND to a fresh dict per call — never mutated in
# place — so a reader always sees one call's consistent counters, not an
# interleaving.  For an unambiguous per-call channel use the ``knn_stats``
# attribute on the returned DataFrame (or ``.knn_stats`` on the raised
# RuntimeError); this global is a convenience for REPL/pipeline use where
# calls are sequential.
last_stats: dict[str, int | bool] = {}

from distributed_spatial_index_spark.config import (
    DEFAULT_REGION,
    Region,
)
from distributed_spatial_index_spark.functions.cells import (
    cell_id_col,
    covering_cells_col,
)
from distributed_spatial_index_spark.functions.geometry import dist2


def knn(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    r0: float | None = None,
    growth: float = 4.0,
    max_rounds: int = 8,
    bits: int = 7,
    region: Region = DEFAULT_REGION,
    safety: float = 3.0,
    fallback_cap: int = 1024,
) -> DataFrame:
    """points(id, x, y) ⋈ queries(query_id, x, y) → k nearest points.

    Routing uses a coarser grid than the range join on purpose: the ring
    boxes are ~2 cells wide at bits=7, so the per-round broadcast stays
    small and the extra candidates are cheap JVM predicate evals.

    ``r0=None`` (default) picks the initial radius PER QUERY from the cell
    density grid: r = sqrt(safety*k / (pi*lambda)) with lambda the local
    docs-per-unit-area, so the first ring is expected to hold >= safety*k
    candidates and nearly every query settles in round 1 (one extra
    <=4^bits-row aggregation, once).  Pass a float to force a fixed radius.

    The driver loop runs ONE action per round (the settled-count
    materialization doubles as the convergence check — settled queries emit
    exactly k rows, so remaining-query accounting is pure driver
    arithmetic, no isEmpty job).

    Queries still unsettled after ``max_rounds`` fall back to a brute-force
    ranking, BOUNDED by ``fallback_cap`` stragglers (the fallback shuffles
    |docs| x |stragglers| rows); beyond the cap the call raises loudly
    instead of submitting a quadratic join.  Per-call counters
    (rounds_run, stragglers, fallback_used) are attached to the returned
    DataFrame as ``.knn_stats`` (and to the raised error as
    ``.knn_stats``); the module global ``knn.last_stats`` is rebound to
    the same snapshot for sequential-call convenience.

    Returns (query_id, rank, doc_id, d2); rank 1..k ordered by squared L2
    distance then doc_id.  ``points`` must be unique by id (dedupe upstream
    if the source has id collisions).  The result is returned persisted
    (per-round frames are unpersisted after the union materializes);
    callers may ``unpersist()`` it when done.
    """
    pts = points.select(
        F.col("id"), F.col("x").alias("px"), F.col("y").alias("py")
    ).withColumn("cell", cell_id_col(F.col("px"), F.col("py"), bits, region))
    return _knn_core(
        pts, queries, counts=None, k=k, r0=r0, growth=growth,
        max_rounds=max_rounds, bits=bits, region=region, safety=safety,
        fallback_cap=fallback_cap,
    )


def knn_landed(
    spark,
    points_table: str,
    queries: DataFrame,
    k: int = 5,
    growth: float = 4.0,
    max_rounds: int = 8,
    bits: int = 7,
    region: Region = DEFAULT_REGION,
    safety: float = 3.0,
    fallback_cap: int = 1024,
) -> DataFrame:
    """knn() served FROM the landed bucketed layout (plans/bucketing.py):
    identical results and loop, but the two full-table stages knn() pays
    before its first ring join disappear —

    * the routing cell is the exact Morton PREFIX of the table's persisted
      ``cell`` column (``shiftright(cell, 2*(dsi.bits - bits))``; integer
      op, no float re-derivation — exact because the coordinate is scaled
      once and multiplied by a power of two, so floor/clamp/interleave all
      commute with the shift), and
    * the round-1 radius comes from the COMMITTED per-cell density summary
      (the ``density`` artifact, committed by write_bucketed_manifest in the
      same pass as the manifest), rolled up from dsi.bits to ``bits`` by
      the same prefix — a <= 4^dsi.bits-row metadata read instead of a
      full-table aggregation.

    At 100 TB that turns kNN's startup from "scan + shuffle everything,
    then join" into "read a KB-scale summary, then join".  Loud contracts
    match the other landed readers: region fingerprint, table kind, bits
    vs dsi.bits, and the manifest-vs-listing freshness check (the density
    summary is only trusted while the manifest is fresh, since one write
    pass produces both).
    """
    from distributed_spatial_index_spark.plans.bucketing import (
        _get_spec,
        _region_fingerprint,
        assert_manifest_fresh,
    )

    spec = _get_spec(spark, points_table)
    if spec.get("dsi.kind") != "points":
        raise ValueError(
            f"knn_landed needs a points table; {points_table} records "
            f"dsi.kind={spec.get('dsi.kind')!r}"
        )
    if spec["dsi.region"] != _region_fingerprint(region):
        raise ValueError(
            f"region mismatch: {points_table} was landed with region "
            f"fingerprint {spec['dsi.region']}, call passes "
            f"{_region_fingerprint(region)} — results would be silently "
            "wrong; pass the region the table was written with"
        )
    tbits = int(spec["dsi.bits"])
    if bits > tbits:
        raise ValueError(
            f"knn routing bits={bits} exceeds the landed table's "
            f"dsi.bits={tbits}; the persisted cell cannot be refined — "
            "land the table at finer bits or lower the routing bits"
        )
    path = spec["dsi.path"]
    from distributed_spatial_index_spark.sources.metastore import (
        meta_read,
        meta_version,
    )

    try:
        # one pointer resolution serves both artifacts, so they come from
        # the SAME committed version even mid-ingest (metastore.py)
        v = meta_version(path)
        dens = meta_read(spark, path, "density", version=v)
    except ValueError as exc:
        raise ValueError(
            f"{points_table} has no committed manifest/density summary "
            "(write_bucketed_manifest) — knn_landed's whole point is the "
            "committed metadata; run knn() for derive-per-call"
        ) from exc
    assert_manifest_fresh(spark, points_table, spec, version=v)

    shift = 2 * (tbits - bits)
    cell = F.shiftright(F.col("cell"), shift) if shift else F.col("cell")
    counts = (
        dens.groupBy(cell.alias("cell"))
        .agg(F.sum("n").alias("n_in_cell"))
    )
    pts = spark.table(points_table).select(
        F.col("id"), F.col("x").alias("px"), F.col("y").alias("py"),
        cell.alias("cell"),
    )
    return _knn_core(
        pts, queries, counts=counts, k=k, r0=None, growth=growth,
        max_rounds=max_rounds, bits=bits, region=region, safety=safety,
        fallback_cap=fallback_cap,
    )


def _knn_core(
    pts: DataFrame,
    queries: DataFrame,
    *,
    counts: DataFrame | None,
    k: int,
    r0: float | None,
    growth: float,
    max_rounds: int,
    bits: int,
    region: Region,
    safety: float,
    fallback_cap: int,
) -> DataFrame:
    """The ring-search loop shared by knn() (derives cell + density per
    call) and knn_landed() (reads both from the landed layout).  ``pts``
    is (id, px, py, cell at ``bits``); ``counts`` (cell, n_in_cell at
    ``bits``) overrides the density aggregation when supplied."""
    global last_stats
    spark = pts.sparkSession
    pts = pts.persist()

    # Dedupe by query_id: sources may repeat a query row (lineitem-derived
    # ids collide), and duplicate rows would double-count candidates in the
    # settle test AND rank the same doc twice.  Duplicate ids must carry
    # identical coordinates (ours do: x, y are functions of the id) — the
    # oracle applies the same DISTINCT.
    q0 = queries.select(
        "query_id", F.col("x").alias("qx"), F.col("y").alias("qy")
    ).dropDuplicates(["query_id"])
    if r0 is None:
        cw = region.width / (1 << bits)
        ch = region.height / (1 << bits)
        if counts is None:
            counts = pts.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_in_cell")
            )
        lam = F.col("n_in_cell") / F.lit(cw * ch)
        want = F.sqrt(F.lit(safety * k) / (F.lit(math.pi) * lam))
        # No geometric floor: the cell cover is a superset of the r-disk at
        # ANY r, so a tiny radius in a dense cell is still correct — it just
        # keeps the ring (and the equi-join fan-out) minimal.
        half_diag = 0.5 * math.hypot(cw, ch)
        # Empty-cell queries (left-join miss -> n_in_cell NULL) start at a
        # small ring of a few cells.  NB: F.least SKIPS nulls (returns the
        # non-null cap), so the empty-cell branch must be an explicit
        # F.when — a coalesce around least() would be dead code.
        rcol = F.when(
            F.col("n_in_cell").isNull(), F.lit(4.0 * half_diag)
        ).otherwise(
            F.least(want, F.lit(min(region.width, region.height) / 4.0))
        )
        remaining = (
            q0.withColumn("cell", cell_id_col(F.col("qx"), F.col("qy"), bits, region))
            .join(F.broadcast(counts), "cell", "left")
            .select("query_id", "qx", "qy", rcol.alias("r"))
            .persist()
        )
    else:
        remaining = q0.withColumn("r", F.lit(float(r0))).persist()
    # n_remaining (the total distinct-query count) is taken lazily AFTER
    # round 1's action: that action materializes the ``remaining`` cache
    # as a side effect (qcells derives from it), so the count becomes a
    # trivial cached read instead of its own materialization chain — one
    # fewer full action per call (the value is deterministic either way).
    n_remaining: int | None = None
    rem_frames: list[DataFrame] = [remaining]  # final idempotent sweep

    rounds: list[DataFrame] = []
    d2 = dist2(F.col("px"), F.col("py"), F.col("qx"), F.col("qy"))
    w = Window.partitionBy("query_id").orderBy("d2", "doc_id")
    wc = Window.partitionBy("query_id")
    prev_remaining: DataFrame | None = None
    rounds_run = 0

    for _round in range(max_rounds):
        rounds_run = _round + 1
        qcells = remaining.withColumn(
            "cell",
            F.explode(
                covering_cells_col(
                    F.col("qx") - F.col("r"), F.col("qy") - F.col("r"),
                    F.col("qx") + F.col("r"), F.col("qy") + F.col("r"),
                    bits=bits, region=region,
                )
            ),
        )
        cand = (
            pts.join(F.broadcast(qcells), "cell")
            .withColumn("d2", d2)
            .filter(F.col("d2") <= F.col("r") * F.col("r"))
            .select("query_id", F.col("id").alias("doc_id"), "d2")
        )
        # one shuffle: the count-over-partition and the rank share the
        # query_id partitioning; settled queries emit their top-k directly
        scored = (
            cand.withColumn("cnt", F.count(F.lit(1)).over(wc))
            .filter(F.col("cnt") >= k)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "d2")
            .persist()
        )
        settled = scored.count() // k  # the round's main action
        if n_remaining is None:
            n_remaining = remaining.count()  # cached by the action above
        n_remaining -= settled
        rounds.append(scored)
        if prev_remaining is not None:
            prev_remaining.unpersist()
        if n_remaining <= 0:
            break
        nxt = (
            remaining.join(
                scored.select("query_id").distinct(), "query_id", "left_anti"
            )
            .withColumn("r", F.col("r") * F.lit(growth))
            .persist()
        )
        prev_remaining = remaining
        remaining = nxt
        rem_frames.append(remaining)
    else:
        # max_rounds exhausted.  The brute-force fallback shuffles
        # |docs| x |stragglers| rows, so it is BOUNDED by fallback_cap: a
        # pathological region at scale fails loudly with the knobs named
        # instead of silently submitting a quadratic join.
        if n_remaining is None:  # max_rounds == 0: no round ever counted
            n_remaining = remaining.count()
        if n_remaining > fallback_cap:
            pts.unpersist()
            for rdf in rounds + rem_frames:
                rdf.unpersist()
            last_stats = {
                "rounds_run": max_rounds, "stragglers": n_remaining,
                "fallback_used": False,
            }
            err = RuntimeError(
                f"knn: {n_remaining} queries unsettled after {max_rounds} "
                f"rounds exceeds fallback_cap={fallback_cap}; the brute-force "
                f"fallback would shuffle |docs| x {n_remaining} rows. Raise "
                "max_rounds/growth (ring search) or fallback_cap (accept the "
                "bounded brute-force) explicitly."
            )
            err.knn_stats = last_stats
            raise err
        if n_remaining > 0:
            _log.warning(
                "knn: %d straggler queries after %d rounds; running the "
                "bounded brute-force fallback (<= fallback_cap=%d)",
                n_remaining, max_rounds, fallback_cap,
            )
            rounds.append(
                pts.crossJoin(
                    F.broadcast(remaining.select("query_id", "qx", "qy"))
                )
                .withColumn("d2", d2)
                .select("query_id", F.col("id").alias("doc_id"), "d2")
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "d2")
            )

    last_stats = {
        "rounds_run": rounds_run,
        "stragglers": max(n_remaining, 0),
        "fallback_used": rounds_run >= max_rounds and n_remaining > 0,
    }

    if len(rounds) == 1:
        # Single settled round (the density-derived r0 common case): the
        # round frame IS the answer and is already persisted + counted —
        # unioning it into a second cached copy would cost one more action
        # and a duplicate cache for identical rows.  Sweep the inputs and
        # return it directly.
        out = rounds[0]
        pts.unpersist()
        for rdf in rem_frames:
            rdf.unpersist()
        out.knn_stats = last_stats
        return out

    out: DataFrame | None = None
    for rdf in rounds:
        out = rdf if out is None else out.unionByName(rdf)

    if out is None:
        pts.unpersist()
        for rdf in rem_frames:
            rdf.unpersist()
        empty = spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, d2 double"
        )
        empty.knn_stats = last_stats
        return empty
    out = out.persist()
    out.count()  # queries*k rows — tiny; lets every input cache go
    for rdf in rounds:
        rdf.unpersist()
    for rdf in rem_frames:
        rdf.unpersist()  # unpersist is idempotent; sweep covers all paths
    pts.unpersist()
    out.knn_stats = last_stats
    return out


def knn_oracle_sql(points_sql: str, queries_sql: str, k: int = 5) -> str:
    """Brute-force DuckDB oracle: rank by (d2, doc_id) per query.  The d2
    expression mirrors the Spark column op-for-op so doubles are
    bit-identical.  Queries are DISTINCT-ed exactly like knn() dedupes."""
    return f"""
        SELECT query_id, rank, doc_id, d2 FROM (
            SELECT q.query_id AS query_id,
                   p.id AS doc_id,
                   ((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)) AS d2,
                   CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)),
                                p.id
                   ) AS INTEGER) AS rank
            FROM ({points_sql}) p, (SELECT DISTINCT * FROM ({queries_sql})) q
        ) WHERE rank <= {k}
    """
