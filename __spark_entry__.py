"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

Spatial workloads derive (x, y, ts) deterministically from integer ids with
arithmetic that is bit-identical between Spark and DuckDB (see
distributed_spatial_index_spark/functions/geo_derive.py), so the DuckDB
oracle verifies the spatial joins exactly — the same oracle-diff strategy the
reference uses (SingleNodeIndexPF.java / ResultCompare.java:11-41).
"""

from __future__ import annotations

import glob
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_spatial_index_spark.config import EPSILON
from distributed_spatial_index_spark.operators.density import (
    density_grid,
    density_grid_sql,
)
from distributed_spatial_index_spark.operators.knn import knn, knn_oracle_sql
from distributed_spatial_index_spark.operators.pip_join import (
    convex_pip_join,
    pip_join,
    triangle_pip_oracle_sql,
    triangle_polygons,
)
from distributed_spatial_index_spark.operators.range_join import (
    horizon_range_join_sql,
    point_range_join,
)
from distributed_spatial_index_spark.operators.tiles import (
    assign_tiles,
    assign_tiles_sql,
    tile_pyramid,
    tile_pyramid_sql,
)
from distributed_spatial_index_spark.operators.range_join import mbr_range_join
from distributed_spatial_index_spark.operators.segments import (
    form_segments,
    segments_sql,
)
from distributed_spatial_index_spark.functions.geometry import rects_intersect_sql
from distributed_spatial_index_spark.sources import tables as src
from distributed_spatial_index_spark.sources.spans import extract_geo
from distributed_spatial_index_spark.sources.synthetic import (
    interleaved_documents,
    media_spans_sql,
)

from distributed_spatial_index_spark.operators import dedup as _dd
from distributed_spatial_index_spark.sources import latlon as _latlon
from distributed_spatial_index_spark.operators import relational as _rel
from distributed_spatial_index_spark.operators import windows as _win
from distributed_spatial_index_spark.operators import textstats as _ts
from distributed_spatial_index_spark.operators.simsearch import (
    cosine_topk,
    cosine_topk_sql,
    embedding_dup_pairs,
    embedding_dup_pairs_sql,
    ivf_recall_contract,
    ivf_recall_contract_sql,
    ivf_topk,
)

_GEO_TABLE = "lineitem"  # biggest id-carrying table -> most meaningful checks
_DOC_RATIO = 15  # documents table is small; denser query sampling
_MAX_DF = 20  # shingle document-frequency cap for the graded dedup paths
_MAX_BUCKET = 100  # hot-bucket cap for the graded LSH/simhash candidate gen
_LSH_THRESHOLD = 0.2  # jaccard threshold for the graded near-dup paths
_MAX_HAMMING = 4  # simhash hamming radius for the graded path
# multimodal gate parameters (scripts/gen_expected.py mirrors these)
_RESIZE_W, _RESIZE_H = 8, 8
_FRAME_EVERY = 2


def _expected_parquet_sql(name: str, cols: str) -> str:
    """Oracle over precomputed expected parquet (scripts/gen_expected.py: an
    independent pure-Python pipeline whose xxhash64 kernel is JVM-parity-
    tested).  DuckDB has no xxhash64, so MinHash/SimHash cannot have a SQL
    twin; this dispatches on the registered lineitem view's row count to
    pick the file generated for the scale factor the gate is running at.

    Expected files are committed for sf0.001 and sf0.01 (the driver gate's
    sf); running the oracle at any OTHER sf filters every branch out -> a
    loud 0-row mismatch.  A missing/deleted expected directory produces an
    explicit DuckDB error() call instead of an empty (syntax-error) oracle.
    """
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "expected"
    )
    branches = []
    for p in sorted(glob.glob(os.path.join(base, f"{name}_li*.parquet"))):
        n_li = int(re.search(r"_li(\d+)\.parquet$", p).group(1))
        branches.append(
            f"SELECT {cols} FROM read_parquet('{p}') "
            f"WHERE (SELECT count(*) FROM lineitem) = {n_li}"
        )
    if not branches:
        return (
            f"SELECT error('no expected parquet for {name}; "
            f"run scripts/gen_expected.py')"
        )
    return " UNION ALL ".join(branches)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001: the interleaved-document pipeline
    (input_hint) — build spans table, extract media-span MBRs, distributed
    spatial range join (cell route -> epsilon refine -> merge)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = interleaved_documents(spark, sf_dir)
    mbrs = extract_geo(docs).select(
        F.col("doc_id").cast("long").alias("id"), "xmin", "ymin", "xmax", "ymax"
    )
    qs = src.range_queries(spark, sf_dir, "documents", ratio=_DOC_RATIO)
    return mbr_range_join(mbrs, qs)


# --- queries ---------------------------------------------------------------


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return point_range_join(
        src.geo_points(spark, sf_dir, _GEO_TABLE),
        src.range_queries(spark, sf_dir, _GEO_TABLE),
    )


def _q_query_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return src.range_queries(spark, sf_dir, _GEO_TABLE)


def _q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign_tiles(src.geo_points(spark, sf_dir, _GEO_TABLE))


def _q_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return density_grid(src.geo_points(spark, sf_dir, _GEO_TABLE))


def _q_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_geo(interleaved_documents(spark, sf_dir))


def _q_interleaved_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = interleaved_documents(spark, sf_dir)
    mbrs = extract_geo(docs).select(
        F.col("doc_id").cast("long").alias("id"), "xmin", "ymin", "xmax", "ymax"
    )
    qs = src.range_queries(spark, sf_dir, "documents", ratio=_DOC_RATIO)
    return mbr_range_join(mbrs, qs)


def _q_segment_former(spark: SparkSession, sf_dir: str) -> DataFrame:
    return form_segments(src.trajectory_points(spark, sf_dir))


def _q_horizon_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the 8-window logical-horizon join; the streaming twin
    (streaming_horizon_range_join) is proven identical in
    tests/test_streaming.py."""
    from distributed_spatial_index_spark.operators.range_join import (
        horizon_range_join,
    )

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE).withColumn(
        "ts", F.timestamp_millis(F.col("ts"))
    )
    return horizon_range_join(pts, src.range_queries(spark, sf_dir, _GEO_TABLE))


def _q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant at the gate: doc_ids of surviving documents whose
    span sequence (kind, text, media_ref, order) differs from the input —
    MUST be empty after the spatial pipeline (BASELINE.json input_hint)."""
    from distributed_spatial_index_spark.sources.spans import span_signature

    docs = interleaved_documents(spark, sf_dir)
    mbrs = extract_geo(docs).select(
        F.col("doc_id").cast("long").alias("id"), "xmin", "ymin", "xmax", "ymax"
    )
    qs = src.range_queries(spark, sf_dir, "documents", ratio=_DOC_RATIO)
    surviving = docs.join(
        mbr_range_join(mbrs, qs)
        .select(F.col("doc_id").cast("string").alias("doc_id")).distinct(),
        "doc_id",
    )
    a = span_signature(surviving).alias("a")
    b = span_signature(docs).alias("b")
    return (
        a.join(b, "doc_id", "left")
        .filter(F.col("b.span_sig").isNull()
                | (F.col("a.span_sig") != F.col("b.span_sig")))
        .select("doc_id")
    )


def _q_multires_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_spatial_index_spark.operators.range_join import (
        multires_range_join,
    )

    return multires_range_join(
        src.geo_points(spark, sf_dir, _GEO_TABLE),
        src.mixed_range_queries(spark, sf_dir, _GEO_TABLE),
    )


def _q_local_index_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_spatial_index_spark.operators.density import (
        density_grid,
        density_matrix,
    )
    from distributed_spatial_index_spark.operators.local_index import (
        local_index_range_join,
    )
    from distributed_spatial_index_spark.plans.grid import build_grid_index

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE)
    grid = build_grid_index(
        density_matrix(density_grid(pts, bits=6), bits=6), 8, bits=6
    )
    return local_index_range_join(
        pts, src.range_queries(spark, sf_dir, _GEO_TABLE), grid
    )


def _q_str_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join routed through the STR (Sort-Tile-Recursive) frame end to
    end: driver-side coordinate sample -> STR packing -> sorted-cell-range
    map -> co-located per-partition index probe (XieGlobalPF.java:28-39 /
    XieLocalPF.java:49-54 architecture).  Same semantics as range_join, so
    the same oracle verifies the whole STR path."""
    import numpy as np

    from distributed_spatial_index_spark.config import DEFAULT_REGION
    from distributed_spatial_index_spark.operators.local_index import (
        local_index_range_join,
    )
    from distributed_spatial_index_spark.plans.grid import build_str_index

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE)
    sample = np.array(
        [(r["x"], r["y"])
         for r in pts.filter((F.col("id") % 37) == 1).limit(5000).collect()]
    )
    grid = build_str_index(
        sample, num_partitions=8, bits=6,
        region_width=DEFAULT_REGION.width, region_height=DEFAULT_REGION.height,
        x_lo=DEFAULT_REGION.x_lo, y_lo=DEFAULT_REGION.y_lo,
    )
    return local_index_range_join(
        pts, src.range_queries(spark, sf_dir, _GEO_TABLE), grid
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn(
        src.unique_geo_points(spark, sf_dir, _GEO_TABLE),
        src.knn_queries(spark, sf_dir, _GEO_TABLE),
        k=5,
    )


def _q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General (mixed-arity) path forced: driver-side cell classification +
    Arrow ray-cast refine."""
    return pip_join(
        src.geo_points(spark, sf_dir, _GEO_TABLE),
        triangle_polygons(src.knn_queries(spark, sf_dir, _GEO_TABLE)),
        unroll_arity=None,
    )


def _q_pip_join_raycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-arity codegen even-odd path (auto-detected arity): same
    result set, zero Arrow."""
    return pip_join(
        src.geo_points(spark, sf_dir, _GEO_TABLE),
        triangle_polygons(src.knn_queries(spark, sf_dir, _GEO_TABLE)),
    )


def _q_stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming==batch witnessed AT THE GATE, not just in pytest: replay
    the sf point table through the streaming 8-window logical-horizon join
    (watermark eviction = the reference's index eviction,
    LocalTreePF.java:69,93-103) and diff it against the batch twin.  The
    oracle is the empty set — any divergence between Spark's state-store
    path and the batch plan surfaces as rows here."""
    from distributed_spatial_index_spark.operators.compare import result_diff
    from distributed_spatial_index_spark.operators.range_join import (
        horizon_range_join,
    )
    from distributed_spatial_index_spark.streaming.replay import replay_stream
    from distributed_spatial_index_spark.streaming.stream_join import (
        streaming_horizon_range_join,
    )

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE).withColumn(
        "ts", F.timestamp_millis(F.col("ts"))
    )
    qs = src.range_queries(spark, sf_dir, _GEO_TABLE)
    stream_out = replay_stream(
        spark, pts, lambda s: streaming_horizon_range_join(s, qs)
    )
    return result_diff(horizon_range_join(pts, qs), stream_out)


def _q_segment_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-state streaming parity at the gate: the applyInPandasWithState
    segment former (state = last point per tid, ToInputItemFlatMap.java:38)
    replayed over the trajectory table must equal the batch lag-window
    former exactly.  No watermark flush needed — keyed state emits per
    micro-batch."""
    from distributed_spatial_index_spark.operators.compare import result_diff
    from distributed_spatial_index_spark.streaming.replay import replay_stream
    from distributed_spatial_index_spark.streaming.stream_join import (
        streaming_segment_former,
    )

    traj = src.trajectory_points(spark, sf_dir)
    stream_out = replay_stream(
        spark, traj, streaming_segment_former,
        sort_cols=("ts", "seq"), flush=False,
    )
    return result_diff(form_segments(traj), stream_out)


def _q_pruned_layout_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout surface: write the point table hive-partitioned by
    coarse Morton cell (fine-cell-clustered within partitions), then run
    the range join with directory-level partition pruning by the queries'
    coarse cells.  Same semantics as range_join -> same oracle; what the
    gate adds is the write->prune->join path over the layout."""
    import shutil
    import tempfile

    from distributed_spatial_index_spark.sources.layout import (
        pruned_point_range_join,
        read_cell_layout,
        write_cell_layout,
    )

    d = tempfile.mkdtemp(prefix="dsi_layout_")
    try:
        write_cell_layout(src.geo_points(spark, sf_dir, _GEO_TABLE), d)
        out = pruned_point_range_join(
            read_cell_layout(spark, d),
            src.range_queries(spark, sf_dir, _GEO_TABLE),
        )
        # fully collect BEFORE deleting the layout dir: a persist()-only
        # materialization could be evicted and recompute from the deleted
        # path at the harness's later collect
        rows = out.collect()
        result = spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


def _q_latency_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-stream latency surface (QueryResultPF.java:44-51) as a gate
    contract: replay the point table through the latency-stamped windowed
    join and emit one row (n_rows, latency_nonneg, counts_match) where
    n_rows is DuckDB-checkable (count of matched (window, query) groups),
    latencies must be non-negative, and the stamped stream's counts must
    equal the batch twin's exactly."""
    from distributed_spatial_index_spark.operators.compare import result_diff
    from distributed_spatial_index_spark.streaming.replay import replay_stream
    from distributed_spatial_index_spark.streaming.stream_join import (
        batch_windowed_match_counts,
        streaming_range_join_with_latency,
    )

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE).withColumn(
        "ts", F.timestamp_millis(F.col("ts"))
    )
    qs = src.range_queries(spark, sf_dir, _GEO_TABLE)
    stream_out = replay_stream(
        spark, pts, lambda s: streaming_range_join_with_latency(s, qs)
    )
    agg = stream_out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # vacuously true on an empty match set (min over 0 rows is NULL)
        F.coalesce(
            F.min(F.col("latency_ms")) >= 0, F.lit(True)
        ).alias("latency_nonneg"),
    ).collect()[0]
    diff = result_diff(
        stream_out.select("win_start", "query_id", "n_matches"),
        batch_windowed_match_counts(pts, qs),
    )
    return spark.createDataFrame(
        [(agg["n_rows"], bool(agg["latency_nonneg"]), diff.count() == 0)],
        "n_rows long, latency_nonneg boolean, counts_match boolean",
    )


def _latency_contract_oracle_sql() -> str:
    from distributed_spatial_index_spark.config import WINDOW_MS

    pts = src.geo_points_sql(_GEO_TABLE)
    qs = src.range_queries_sql(_GEO_TABLE)
    return f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               true AS latency_nonneg, true AS counts_match
        FROM (
            SELECT p.ts - (p.ts % {WINDOW_MS}) AS win, q.query_id
            FROM ({pts}) p, ({qs}) q
            WHERE p.x >= q.xmin - {EPSILON!r} AND p.x <= q.xmax + {EPSILON!r}
              AND p.y >= q.ymin - {EPSILON!r} AND p.y <= q.ymax + {EPSILON!r}
            GROUP BY 1, 2
        )
    """


def _stream_stream_oracle_sql() -> str:
    from distributed_spatial_index_spark.streaming.stream_join import (
        stream_stream_join_oracle_sql,
    )

    return stream_stream_join_oracle_sql(
        src.geo_points_sql(_GEO_TABLE), src.range_queries_sql(_GEO_TABLE)
    )


def _q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH sides in motion — the reference's actual replay topology
    (points AND queries arrive as streams): two-source replay through the
    stream-stream window-aligned horizon join, deduped to set semantics,
    against a direct DuckDB twin."""
    from distributed_spatial_index_spark.streaming.replay import (
        replay_two_streams,
    )
    from distributed_spatial_index_spark.streaming.stream_join import (
        streaming_stream_stream_range_join,
    )

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE).withColumn(
        "ts", F.timestamp_millis(F.col("ts"))
    )
    qs = src.range_queries(spark, sf_dir, _GEO_TABLE).withColumn(
        "qts", F.timestamp_millis(F.col("qts"))
    )
    out = replay_two_streams(
        spark, pts, qs, lambda d, q: streaming_stream_stream_range_join(d, q)
    )
    return out.select("query_id", "doc_id").dropDuplicates(
        ["query_id", "doc_id"]
    )


def _q_salted_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffled-regime join (query side NOT broadcast) with hot-cell
    salting — same semantics as range_join, so the same oracle verifies the
    whole salt fan-out + shuffle path (plans/partitioning.py)."""
    from distributed_spatial_index_spark.operators.density import density_grid
    from distributed_spatial_index_spark.plans.partitioning import (
        hot_cells_from_density,
        salted_point_range_join,
    )

    pts = src.geo_points(spark, sf_dir, _GEO_TABLE)
    hot = hot_cells_from_density(density_grid(pts, bits=9), threshold=20)
    return salted_point_range_join(
        pts, src.range_queries(spark, sf_dir, _GEO_TABLE), hot, n_salt=4, bits=9
    )


def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear canonical-id output over the simhash near-dup graph; the
    oracle recomputes connected components with a recursive CTE over the
    independent expected-parquet edge list."""
    docs = src.load(spark, sf_dir, "documents")
    pairs = _dd.simhash_pairs(
        docs, max_hamming=_MAX_HAMMING, max_bucket=_MAX_BUCKET
    )
    return _dd.near_dup_components(docs, pairs)


def _near_dup_clusters_oracle_sql() -> str:
    edges = _expected_parquet_sql("simhash_dedup", "a, b")
    return f"""
        WITH RECURSIVE und AS (
            SELECT a AS u, b AS v FROM ({edges})
            UNION ALL
            SELECT b AS u, a AS v FROM ({edges})
        ), reach(id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT u.v, r.comp FROM reach r JOIN und u ON u.u = r.id
        )
        SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component_id
        FROM reach GROUP BY id
    """


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_features over the doc-derived media table, histogram flattened
    to scalar doubles (h0..h3) so the oracle hash compares flat columns."""
    from distributed_spatial_index_spark.operators.multimodal import (
        decode_features,
        media_from_documents,
    )

    feats = decode_features(media_from_documents(spark, sf_dir))
    return feats.select(
        "media_id", "mean", "std",
        *[F.element_at("histo4", i + 1).alias(f"h{i}") for i in range(4)],
    )


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize_media; output bytes hex-encoded (lowercase, = bytes.hex()) so
    the full blob is value-compared as a flat string column."""
    from distributed_spatial_index_spark.operators.multimodal import (
        media_from_documents,
        resize_media,
    )

    out = resize_media(media_from_documents(spark, sf_dir), _RESIZE_W, _RESIZE_H)
    return out.select("media_id", F.lower(F.hex("blob")).alias("blob_hex"))


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_spatial_index_spark.operators.multimodal import (
        media_from_documents,
        sample_frames,
    )

    out = sample_frames(media_from_documents(spark, sf_dir), every_nth=_FRAME_EVERY)
    return out.select(
        "media_id", "frame_no", F.lower(F.hex("frame")).alias("frame_hex")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # NOTE: the driver records at most 50 CORRECTNESS rows (r3 had 53
        # queries -> exactly the first 50 in dict order landed in the
        # artifact).  Keep this dict at <= 50 entries;
        # tests/test_entry_oracle.py::test_driver_row_cap pins the cap.
        # tile_counts' gate row was folded into tile_pyramid (its zoom-4
        # level is the identical aggregation; the operator keeps its pytest,
        # tests/test_tiles.py), customers_with/without_orders into customer_order_flag,
        # approx_distinct_parts + approx_quantiles into approx_sketch_contracts.
        "range_join": _q_range_join,
        "query_gen": _q_query_gen,
        "tile_assignment": _q_tile_assignment,
        "tile_pyramid": lambda s, d: tile_pyramid(src.geo_points(s, d, _GEO_TABLE)),
        "density_grid": _q_density_grid,
        "local_index_range_join": _q_local_index_range_join,
        "str_range_join": _q_str_range_join,
        "multires_range_join": _q_multires_range_join,
        "knn": _q_knn,
        "pip_join": _q_pip_join,
        "pip_join_raycast": _q_pip_join_raycast,
        "pip_join_convex": lambda s, d: convex_pip_join(
            src.geo_points(s, d, _GEO_TABLE),
            triangle_polygons(src.knn_queries(s, d, _GEO_TABLE)),
            bits=9,
        ),
        "span_extract": _q_span_extract,
        "interleaved_range_join": _q_interleaved_range_join,
        "segment_former": _q_segment_former,
        "horizon_range_join": _q_horizon_range_join,
        "span_invariant": _q_span_invariant,
        "stream_batch_parity": _q_stream_batch_parity,
        "segment_stream_parity": _q_segment_stream_parity,
        "latency_contract": _q_latency_contract,
        "stream_stream_join": _q_stream_stream_join,
        "salted_range_join": _q_salted_range_join,
        "pruned_layout_join": _q_pruned_layout_join,
        # lon/lat replay-line ingestion: parse (both line shapes) +
        # ellipsoidal Mercator + drop policy, against a true DuckDB twin
        "trackpoint_parse": _latlon.parse_trackpoints_gate,
        # training-data pipeline ops (documents / embeddings tables)
        "token_count": lambda s, d: _ts.token_count(src.load(s, d, "documents")),
        "lang_id": lambda s, d: _ts.lang_id(src.load(s, d, "documents")),
        "quality_score": lambda s, d: _ts.quality_score(src.load(s, d, "documents")),
        "fingerprint": lambda s, d: _ts.fingerprint(src.load(s, d, "documents")),
        "dedup_exact": lambda s, d: _dd.dedup_exact(src.load(s, d, "documents")),
        # per-language vocabulary statistics (corpus analysis)
        "top_terms": lambda s, d: _ts.top_terms(src.load(s, d, "documents"), k=10),
        # composed corpus-prep pipeline: lang filter + quality + dedup
        "clean_corpus": lambda s, d: _ts.clean_corpus(src.load(s, d, "documents")),
        # max_df on: the scale guard the ops ship with is the one graded
        "ngram_jaccard": lambda s, d: _dd.ngram_jaccard_pairs(
            src.load(s, d, "documents"), threshold=_LSH_THRESHOLD, max_df=_MAX_DF
        ),
        "minhash_lsh": lambda s, d: _dd.minhash_lsh_pairs(
            src.load(s, d, "documents"), threshold=_LSH_THRESHOLD,
            max_df=_MAX_DF, max_bucket=_MAX_BUCKET,
        ),
        "simhash_dedup": lambda s, d: _dd.simhash_pairs(
            src.load(s, d, "documents"), max_hamming=_MAX_HAMMING,
            max_bucket=_MAX_BUCKET,
        ),
        # cluster-sized duplication as LINEAR canonical ids (min-label
        # propagation over the simhash pair graph)
        "near_dup_clusters": _q_near_dup_clusters,
        # multimodal binary columns (Arrow-batched mapInPandas over
        # deterministic fake blobs; features/bytes flattened to hash-stable
        # scalar columns, verified against the independent expected-parquet
        # oracle from scripts/gen_expected.py)
        "media_decode": _q_media_decode,
        "media_resize": _q_media_resize,
        "media_frames": _q_media_frames,
        "cosine_topk": lambda s, d: cosine_topk(
            src.load(s, d, "embeddings"), n_queries=16, k=10
        ),
        # exhaustive probing (nprobe = n_clusters) so the IVF machinery is
        # value-exact against the brute-force oracle; partial-probe recall
        # is covered by tests/test_simsearch.py::test_ivf_recall
        "ivf_topk": lambda s, d: ivf_topk(
            src.load(s, d, "embeddings"), n_queries=16, k=10,
            n_clusters=16, nprobe=16
        ),
        # the APPROXIMATE path (nprobe < n_clusters) as a recall contract:
        # a probe-selection regression flips the booleans at the gate
        "ivf_recall": lambda s, d: ivf_recall_contract(
            src.load(s, d, "embeddings"), n_queries=16, k=10,
            n_clusters=16, nprobe=4
        ),
        # exact near-dup by cosine (ball-bound bucket-pair blocking)
        "embedding_dup_pairs": lambda s, d: embedding_dup_pairs(
            src.load(s, d, "embeddings"), threshold=0.3
        ),
        # general relational surface (SURVEY.md §2.9, north-rule additions)
        "pricing_rollup": lambda s, d: _rel.pricing_rollup(
            src.load(s, d, "lineitem")
        ),
        # semi + anti join in one slot (50-row driver cap)
        "customer_order_flag": lambda s, d: _rel.customer_order_flag(
            src.load(s, d, "customer"), src.load(s, d, "orders")
        ),
        "events_json_extract": lambda s, d: _rel.events_json_extract(
            src.load(s, d, "events")
        ),
        "orders_monthly": lambda s, d: _rel.orders_monthly(
            src.load(s, d, "orders")
        ),
        # HLL-distinct + quantile sketch contracts in one slot
        "approx_sketch_contracts": lambda s, d: _rel.approx_sketch_contracts(
            src.load(s, d, "lineitem")
        ),
        # windowed / relational aggregation shapes (SURVEY.md A1/A2)
        "windowed_type_counts": lambda s, d: _win.windowed_type_counts(
            src.load(s, d, "events")
        ),
        "sessionize": lambda s, d: _win.sessionize(src.load(s, d, "events")),
        "lineitem_pricing_summary": lambda s, d: _win.lineitem_pricing_summary(
            src.load(s, d, "lineitem")
        ),
    }


def oracle_sql() -> dict[str, str]:
    pts = src.geo_points_sql(_GEO_TABLE)
    qs = src.range_queries_sql(_GEO_TABLE)
    # ONE range-join oracle reused by every physical strategy over the same
    # logical join (broadcast, local-index, STR, salted-shuffle, pruned
    # layout) — a predicate tweak must not be repeatable-by-hand four times
    range_join_oracle = f"""
            SELECT DISTINCT q.query_id, p.id AS doc_id
            FROM ({pts}) p, ({qs}) q
            WHERE p.x >= q.xmin - {EPSILON!r} AND p.x <= q.xmax + {EPSILON!r}
              AND p.y >= q.ymin - {EPSILON!r} AND p.y <= q.ymax + {EPSILON!r}
        """
    return {
        "range_join": range_join_oracle,
        "multires_range_join": f"""
            SELECT DISTINCT q.query_id, p.id AS doc_id
            FROM ({pts}) p,
                 ({src.mixed_range_queries_sql(_GEO_TABLE)}) q
            WHERE p.x >= q.xmin - {EPSILON!r} AND p.x <= q.xmax + {EPSILON!r}
              AND p.y >= q.ymin - {EPSILON!r} AND p.y <= q.ymax + {EPSILON!r}
        """,
        # alternative physical strategies over the same logical join ->
        # the same oracle verifies each whole path
        "local_index_range_join": range_join_oracle,
        "pruned_layout_join": range_join_oracle,
        "salted_range_join": range_join_oracle,
        "str_range_join": range_join_oracle,
        "query_gen": qs,
        "tile_assignment": assign_tiles_sql(pts),
        "tile_pyramid": tile_pyramid_sql(pts),
        "density_grid": density_grid_sql(pts),
        "knn": knn_oracle_sql(
            src.unique_geo_points_sql(_GEO_TABLE), src.knn_queries_sql(_GEO_TABLE), k=5
        ),
        "pip_join": triangle_pip_oracle_sql(pts, src.knn_queries_sql(_GEO_TABLE)),
        "pip_join_raycast": triangle_pip_oracle_sql(
            pts, src.knn_queries_sql(_GEO_TABLE)
        ),
        "pip_join_convex": triangle_pip_oracle_sql(
            pts, src.knn_queries_sql(_GEO_TABLE)
        ),
        "span_extract": media_spans_sql("documents"),
        "interleaved_range_join": f"""
            SELECT DISTINCT q.query_id, CAST(m.doc_id AS BIGINT) AS doc_id
            FROM ({media_spans_sql('documents')}) m,
                 ({src.range_queries_sql('documents', ratio=_DOC_RATIO)}) q
            WHERE {rects_intersect_sql(
                ('m.xmin', 'm.ymin', 'm.xmax', 'm.ymax'),
                ('q.xmin', 'q.ymin', 'q.xmax', 'q.ymax'))}
        """,
        "segment_former": segments_sql(src.trajectory_points_sql()),
        "horizon_range_join": horizon_range_join_sql(pts, qs),
        # invariant holds <=> both sides are empty with the same schema
        "span_invariant": "SELECT CAST(doc_id AS VARCHAR) AS doc_id "
                          "FROM documents WHERE 1 = 0",
        "stream_batch_parity": """
            SELECT CAST(NULL AS TIMESTAMP) AS win_start,
                   CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BOOLEAN) AS in_a,
                   CAST(NULL AS BOOLEAN) AS in_b
            WHERE 1 = 0
        """,
        "trackpoint_parse": _latlon.parse_trackpoints_oracle_sql(),
        "segment_stream_parity": """
            SELECT CAST(NULL AS BIGINT) AS tid, CAST(NULL AS BIGINT) AS ts,
                   CAST(NULL AS DOUBLE) AS x1, CAST(NULL AS DOUBLE) AS y1,
                   CAST(NULL AS DOUBLE) AS x2, CAST(NULL AS DOUBLE) AS y2,
                   CAST(NULL AS BOOLEAN) AS in_a, CAST(NULL AS BOOLEAN) AS in_b
            WHERE 1 = 0
        """,
        "near_dup_clusters": _near_dup_clusters_oracle_sql(),
        "latency_contract": _latency_contract_oracle_sql(),
        "stream_stream_join": _stream_stream_oracle_sql(),
        "token_count": _ts.token_count_sql("documents"),
        "lang_id": _ts.lang_id_sql("documents"),
        "quality_score": _ts.quality_score_sql("documents"),
        "fingerprint": _ts.fingerprint_sql("documents"),
        "dedup_exact": _dd.dedup_exact_sql("documents"),
        "top_terms": _ts.top_terms_sql("documents", k=10),
        "clean_corpus": _ts.clean_corpus_sql("documents"),
        "ngram_jaccard": _dd.ngram_jaccard_pairs_sql(
            "documents", threshold=_LSH_THRESHOLD, max_df=_MAX_DF
        ),
        "minhash_lsh": _expected_parquet_sql("minhash_lsh", "a, b, jaccard"),
        "simhash_dedup": _expected_parquet_sql("simhash_dedup", "a, b, hamming"),
        "media_decode": _expected_parquet_sql(
            "media_decode", "media_id, mean, std, h0, h1, h2, h3"
        ),
        "media_resize": _expected_parquet_sql("media_resize", "media_id, blob_hex"),
        "media_frames": _expected_parquet_sql(
            "media_frames", "media_id, frame_no, frame_hex"
        ),
        "cosine_topk": cosine_topk_sql("embeddings", 16, 10),
        "ivf_topk": cosine_topk_sql("embeddings", 16, 10),
        "ivf_recall": ivf_recall_contract_sql("embeddings", 16),
        "embedding_dup_pairs": embedding_dup_pairs_sql(
            "embeddings", threshold=0.3
        ),
        "pricing_rollup": _rel.pricing_rollup_sql(),
        "customer_order_flag": _rel.customer_order_flag_sql(),
        "events_json_extract": _rel.events_json_extract_sql(),
        "orders_monthly": _rel.orders_monthly_sql(),
        "approx_sketch_contracts": _rel.approx_sketch_contracts_sql(),
        "windowed_type_counts": _win.windowed_type_counts_sql(),
        "sessionize": _win.sessionize_sql(),
        "lineitem_pricing_summary": _win.lineitem_pricing_summary_sql(),
    }
