"""Streaming ingest into the landed layout: after a chunked replay lands
through foreachBatch (INSERT INTO + incremental manifest per batch), the
table must serve every landed reader — bucketed join, pruned join,
knn_landed — with NO staleness error and batch-exact results."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from distributed_spatial_index_spark.operators.range_join import point_range_join
from distributed_spatial_index_spark.plans.bucketing import (
    bucketed_point_range_join,
    count_exchanges,
    pruned_bucketed_point_range_join,
    write_bucketed_query_cells,
)
from distributed_spatial_index_spark.sources import tables as src
from distributed_spatial_index_spark.streaming.land import stream_land_points
from tests.conftest import SF_DIR


def _chunked_stream(spark, pts, d, n_chunks=3):
    pdf = pts.orderBy("id").toPandas()
    size = len(pdf) // n_chunks
    for i in range(n_chunks):
        chunk = pdf.iloc[i * size: None if i == n_chunks - 1 else (i + 1) * size]
        spark.createDataFrame(chunk, schema=pts.schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/in/chunk{i}")
    return spark.readStream.schema(pts.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{d}/in/chunk*/")


def test_stream_landed_table_serves_all_landed_readers(spark):
    from distributed_spatial_index_spark.operators.knn import knn, knn_landed

    pts = src.unique_geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem").limit(10)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with tempfile.TemporaryDirectory() as d:
            q = stream_land_points(
                _chunked_stream(spark, pts, d), "t_land_pts", f"{d}/pts",
                f"{d}/ckpt", n_buckets=4, coarse_bits=2,
            )
            q.awaitTermination(300)
            assert not q.isActive and q.exception() is None

            write_bucketed_query_cells(qs, "t_land_qc", f"{d}/qc", n_buckets=4)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

            # every landed reader serves the stream-landed table, fresh
            out = bucketed_point_range_join(spark, "t_land_pts", "t_land_qc")
            assert count_exchanges(out) == 1
            got = sorted(map(tuple, out.collect()))
            expect = sorted(map(tuple, point_range_join(pts, qs).collect()))
            assert got == expect and len(got) > 0

            sel = pruned_bucketed_point_range_join(
                spark, "t_land_pts", "t_land_qc"
            )
            assert sel.prune_stats["files_total"] > 0  # manifest fresh
            assert sorted(map(tuple, sel.collect())) == got

            a = sorted(map(tuple, knn(pts, kq, k=3).collect()))
            b = sorted(map(tuple, knn_landed(
                spark, "t_land_pts", kq, k=3).collect()))
            assert a == b and len(a) > 0

            # the per-batch incremental repair == a full recompute over
            # the same files (manifest AND density)
            from distributed_spatial_index_spark.plans.bucketing import (
                write_bucketed_manifest,
            )
            from distributed_spatial_index_spark.sources.metastore import (
                meta_read,
            )

            def snap():
                return [sorted(map(tuple, meta_read(
                    spark, f"{d}/pts", name).collect()))
                    for name in ("manifest", "density")]

            inc = snap()
            write_bucketed_manifest(spark, "t_land_pts")
            assert inc == snap()

            # compaction pays down the stream's file-count debt: fewer
            # files, same spec, same answers, fresh manifest — and the
            # landed readers keep working on the swapped table
            from distributed_spatial_index_spark.plans.bucketing import (
                compact_bucketed_table,
            )

            before, after = compact_bucketed_table(
                spark, "t_land_pts", f"{d}/pts_compact"
            )
            assert after < before, (before, after)
            out2 = bucketed_point_range_join(spark, "t_land_pts", "t_land_qc")
            assert count_exchanges(out2) == 1
            assert sorted(map(tuple, out2.collect())) == got
            sel2 = pruned_bucketed_point_range_join(
                spark, "t_land_pts", "t_land_qc"
            )
            assert sel2.prune_stats["files_total"] == after
            assert sorted(map(tuple, knn_landed(
                spark, "t_land_pts", kq, k=3).collect())) == a

            # the idempotent-commit marker follows the table across the
            # swap: a post-compaction crash replay of the last batch
            # (ids 0..2 for 3 chunks) must still be skipped
            import os

            from distributed_spatial_index_spark.streaming.land import (
                make_land_fn,
                read_stream_commit,
            )

            commit = read_stream_commit(f"{d}/pts_compact")
            assert commit == (os.path.abspath(f"{d}/ckpt"), 2)
            fn = make_land_fn(
                "t_land_pts", f"{d}/pts", commit[0],
                n_buckets=4, coarse_bits=2,
            )
            n_rows = spark.table("t_land_pts").count()
            fn(pts.limit(5), 2)  # re-delivered batch: must be a no-op
            assert spark.table("t_land_pts").count() == n_rows

            # restart against a different layout refuses loudly instead
            # of appending wrong cells (message surfaces through the
            # StreamingQueryException chain)
            more = _chunked_stream(spark, pts.limit(10), f"{d}/again", 1)
            q2 = stream_land_points(
                more, "t_land_pts", f"{d}/pts", f"{d}/ckpt2",
                n_buckets=4, coarse_bits=3,
            )
            with pytest.raises(Exception, match="different layout"):
                q2.awaitTermination(120)
                if q2.exception() is not None:
                    raise q2.exception()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_land_pts")
        spark.sql("DROP TABLE IF EXISTS t_land_qc")


def test_stream_land_replayed_batch_is_skipped(spark):
    """foreachBatch is at-least-once: a crash re-delivers the last batch.
    The _stream_commit marker must make that re-delivery a no-op — and
    must NOT suppress batch 0 of a genuinely new stream (new checkpoint
    => new ingest_id => batch ids restart legitimately)."""
    from distributed_spatial_index_spark.streaming.land import (
        make_land_fn,
        read_stream_commit,
    )

    pts = src.unique_geo_points(spark, SF_DIR, "lineitem").orderBy("id")
    first, second, third = (
        pts.limit(100), pts.offset(100).limit(100), pts.offset(200).limit(50)
    )
    try:
        with tempfile.TemporaryDirectory() as d:
            path = f"{d}/pts"
            fn = make_land_fn("t_land_replay", path, "ckptA", n_buckets=4)
            fn(first, 0)
            fn(second, 1)
            n = spark.table("t_land_replay").count()
            assert n == 200
            assert read_stream_commit(path) == ("ckptA", 1)

            # the at-least-once replay: same ingest, same batch id
            fn(second, 1)
            assert spark.table("t_land_replay").count() == n
            assert read_stream_commit(path) == ("ckptA", 1)

            # a NEW stream (new checkpoint) restarts batch ids at 0 and
            # must not be mistaken for a replay
            fn2 = make_land_fn("t_land_replay", path, "ckptB", n_buckets=4)
            fn2(third, 0)
            assert spark.table("t_land_replay").count() == n + 50
            assert read_stream_commit(path) == ("ckptB", 0)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_land_replay")


def test_stream_metadata_debt_is_bounded(spark):
    """Every manifested micro-batch commits one new metadata version;
    without retention a long stream accumulates one version dir per
    batch.  meta_keep bounds it: after a 5-chunk replay at meta_keep=2
    only the newest 2 versions remain, the pointer resolves, and the
    landed readers still serve fresh consistent metadata."""
    import os

    from distributed_spatial_index_spark.sources.metastore import (
        meta_version,
    )

    pts = src.unique_geo_points(spark, SF_DIR, "lineitem").limit(500)
    qs = src.range_queries(spark, SF_DIR, "lineitem").limit(5)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with tempfile.TemporaryDirectory() as d:
            q = stream_land_points(
                _chunked_stream(spark, pts, d, n_chunks=5), "t_debt_pts",
                f"{d}/pts", f"{d}/ckpt", n_buckets=2, meta_keep=2,
            )
            q.awaitTermination(300)
            assert not q.isActive and q.exception() is None

            # 5 batches committed 5 versions; retention kept the last 2
            v = meta_version(f"{d}/pts")
            assert v == 5
            assert sorted(os.listdir(f"{d}/pts/_meta")) == [
                "v000004", "v000005",
            ]

            write_bucketed_query_cells(qs, "t_debt_qc", f"{d}/qc",
                                       n_buckets=2)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            sel = pruned_bucketed_point_range_join(
                spark, "t_debt_pts", "t_debt_qc"
            )
            assert sel.prune_stats["files_total"] > 0  # manifest fresh
            assert sorted(map(tuple, sel.collect())) == sorted(
                map(tuple, point_range_join(pts, qs).collect())
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_debt_pts")
        spark.sql("DROP TABLE IF EXISTS t_debt_qc")
