"""Copy-on-write MERGE/upsert over the landed bucketed layout
(plans/upsert.py): matched rows replaced, unmatched batch rows
inserted, only the files holding matched rows rewritten, the
incremental metadata repair equals a full recompute (including
cell-MOVING updates), and every injected crash window settles through
resume_bucketed_delete with no duplicates and no loss."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from distributed_spatial_index_spark.operators.range_join import point_range_join
from distributed_spatial_index_spark.plans.bucketing import (
    bucketed_point_range_join,
    count_exchanges,
    update_bucketed_manifest,
    write_bucketed_manifest,
    write_bucketed_points,
    write_bucketed_query_cells,
)
from distributed_spatial_index_spark.plans.delete import (
    read_delete_journal,
    resume_bucketed_delete,
)
from distributed_spatial_index_spark.plans.upsert import (
    upsert_into_bucketed_table,
)
from distributed_spatial_index_spark.sources import tables as src
from distributed_spatial_index_spark.sources.layout import list_data_files
from distributed_spatial_index_spark.sources.metastore import meta_read
from tests.conftest import SF_DIR

PTS = "t_ups_pts"
QC = "t_ups_qc"


def _land(spark, d, with_manifest=True):
    pts = src.unique_geo_points(spark, SF_DIR, "lineitem")
    write_bucketed_points(pts, PTS, f"{d}/pts", n_buckets=4, coarse_bits=2)
    if with_manifest:
        write_bucketed_manifest(spark, PTS)
    return pts, f"{d}/pts"


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "x", "y").collect())


def _batch(spark, pts, n_update=40, n_insert=25, dx=3.0):
    """A deterministic merge batch: the n_update lowest-id existing rows
    nudged by dx (same cell — dx is small), plus n_insert brand-new ids
    above the table's max."""
    cols = [c for c in pts.columns]
    upd = (
        pts.orderBy("id").limit(n_update)
        .withColumn("x", F.col("x") + F.lit(dx))
    )
    max_id = pts.agg(F.max("id")).collect()[0][0]
    ins = (
        pts.orderBy(F.desc("id")).limit(n_insert)
        .withColumn("id", F.col("id") + F.lit(int(max_id)))
    )
    return upd.select(*cols).unionByName(ins.select(*cols))


def _expected(pts, batch):
    """Merge semantics in pure DataFrame terms: table rows whose id is
    not in the batch, plus every batch row."""
    keys = batch.select("id")
    return pts.join(keys, "id", "left_anti").select(*pts.columns).unionByName(
        batch.select(*pts.columns)
    )


@pytest.fixture(autouse=True)
def _drop_tables(spark):
    yield
    for t in (PTS, QC):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_upsert_replaces_inserts_and_repairs_metadata(spark):
    """The core MERGE contract: matched rows replaced, new rows
    inserted, only matched files rewritten, landed readers exact and
    Exchange-free, and the INCREMENTAL metadata repair equals a full
    write_bucketed_manifest recompute."""
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with tempfile.TemporaryDirectory() as d:
            pts, path = _land(spark, d)
            batch = _batch(spark, pts)
            expect_rows = _rows(_expected(pts, batch))

            before = set(list_data_files(spark, path))
            stats = upsert_into_bucketed_table(spark, PTS, batch)
            after = set(list_data_files(spark, path))

            assert stats["rows_replaced"] == 40
            assert stats["rows_inserted"] == 65
            assert 0 < stats["files_rewritten"] < len(before)
            removed = before - after
            assert len(removed) == stats["files_rewritten"]
            assert (before - removed) <= after
            assert read_delete_journal(path) is None

            assert _rows(spark.table(PTS)) == expect_rows

            # landed readers: value-exact and still Exchange-free
            exp_df = spark.createDataFrame(
                spark.table(PTS).select(*pts.columns).toPandas()
            )
            write_bucketed_query_cells(qs, QC, f"{d}/qc", n_buckets=4)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = bucketed_point_range_join(spark, PTS, QC)
            assert count_exchanges(out) == 1
            assert sorted(map(tuple, out.collect())) == sorted(
                map(tuple, point_range_join(exp_df, qs).collect())
            )

            # incremental repair == full recompute (manifest AND density)
            man_inc = sorted(
                map(tuple, meta_read(spark, path, "manifest").collect())
            )
            dens_inc = sorted(
                map(tuple, meta_read(spark, path, "density").collect())
            )
            write_bucketed_manifest(spark, PTS)
            assert man_inc == sorted(
                map(tuple, meta_read(spark, path, "manifest").collect())
            )
            assert dens_inc == sorted(
                map(tuple, meta_read(spark, path, "density").collect())
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_upsert_cell_moving_update_recells_density(spark):
    """An update that MOVES points far enough to change their routing
    cell must decrement the old cells and increment the new ones — the
    incremental density repair is compared against a full recompute,
    and knn_landed (which trusts the committed density) stays exact."""
    from distributed_spatial_index_spark.operators.knn import knn, knn_landed

    kq = src.knn_queries(spark, SF_DIR, "lineitem").limit(8)
    with tempfile.TemporaryDirectory() as d:
        pts, path = _land(spark, d)
        # dx large enough to cross cells at the default bits
        batch = _batch(spark, pts, n_update=60, n_insert=0, dx=400.0)
        stats = upsert_into_bucketed_table(spark, PTS, batch)
        assert stats["rows_replaced"] == 60

        dens_inc = sorted(
            map(tuple, meta_read(spark, path, "density").collect())
        )
        exp_pdf = spark.table(PTS).select(*pts.columns).toPandas()
        write_bucketed_manifest(spark, PTS)
        assert dens_inc == sorted(
            map(tuple, meta_read(spark, path, "density").collect())
        )

        exp_df = spark.createDataFrame(exp_pdf)
        a = sorted(map(tuple, knn(exp_df, kq, k=3).collect()))
        b = sorted(map(tuple, knn_landed(spark, PTS, kq, k=3).collect()))
        assert a == b and len(a) > 0


def test_upsert_pure_insert_acts_as_append(spark):
    """A batch with no matching keys rewrites nothing and lands as an
    append with fresh metadata."""
    with tempfile.TemporaryDirectory() as d:
        pts, path = _land(spark, d)
        batch = _batch(spark, pts, n_update=0, n_insert=30)
        before = set(list_data_files(spark, path))
        stats = upsert_into_bucketed_table(spark, PTS, batch)
        assert stats["files_rewritten"] == 0
        assert stats["rows_replaced"] == 0
        assert stats["rows_inserted"] == 30
        assert before <= set(list_data_files(spark, path))
        assert _rows(spark.table(PTS)) == _rows(_expected(pts, batch))
        # metadata stayed exactly fresh: a follow-up incremental repair
        # sees nothing to do
        assert update_bucketed_manifest(spark, PTS) == 0


def test_upsert_empty_batch_is_a_noop(spark):
    with tempfile.TemporaryDirectory() as d:
        pts, path = _land(spark, d)
        v0 = meta_read(spark, path, "manifest").count()
        stats = upsert_into_bucketed_table(
            spark, PTS, src.unique_geo_points(spark, SF_DIR, "lineitem").limit(0)
        )
        assert stats == {
            "files_rewritten": 0, "files_new": 0, "rows_replaced": 0,
            "rows_inserted": 0, "meta_version": stats["meta_version"],
        }
        assert meta_read(spark, path, "manifest").count() == v0


def test_upsert_refusals_are_loud(spark):
    """Duplicate batch keys, NULL keys, schema drift, and a stale
    manifest all refuse before any data is touched."""
    with tempfile.TemporaryDirectory() as d:
        pts, path = _land(spark, d)
        rows0 = _rows(spark.table(PTS))

        dup = _batch(spark, pts, n_update=2, n_insert=0)
        dup = dup.unionByName(dup)
        with pytest.raises(ValueError, match="duplicate"):
            upsert_into_bucketed_table(spark, PTS, dup)

        nullk = _batch(spark, pts, n_update=2, n_insert=0).withColumn(
            "id", F.lit(None).cast("long")
        )
        with pytest.raises(ValueError, match="NULL"):
            upsert_into_bucketed_table(spark, PTS, nullk)

        with pytest.raises(ValueError, match="data columns"):
            upsert_into_bucketed_table(
                spark, PTS, _batch(spark, pts).drop("x")
            )

        with pytest.raises(ValueError, match="not a data column"):
            upsert_into_bucketed_table(
                spark, PTS, _batch(spark, pts), key="nope"
            )

        assert _rows(spark.table(PTS)) == rows0


def test_upsert_region_and_kind_guards(spark):
    from distributed_spatial_index_spark.config import Region

    qs = src.range_queries(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        pts, _ = _land(spark, d)
        with pytest.raises(ValueError, match="region mismatch"):
            upsert_into_bucketed_table(
                spark, PTS, _batch(spark, pts),
                region=Region(0.0, 0.0, 1.0, 1.0),
            )
        write_bucketed_query_cells(qs, QC, f"{d}/qc", n_buckets=4)
        with pytest.raises(ValueError, match="points tables"):
            upsert_into_bucketed_table(spark, QC, _batch(spark, pts))
        # salted layouts refuse: the spec records only the hot-list
        # fingerprint, so batch rows' salt cannot be re-derived
        hot = [
            r["cell"]
            for r in spark.table(PTS).groupBy("cell").count()
            .orderBy(F.desc("count")).limit(2).collect()
        ]
        spark.sql(f"DROP TABLE IF EXISTS {PTS}")
        write_bucketed_points(
            pts, PTS, f"{d}/pts_salted", n_buckets=4, hot=hot, n_salt=2
        )
        with pytest.raises(ValueError, match="salted"):
            upsert_into_bucketed_table(spark, PTS, _batch(spark, pts))


@pytest.mark.parametrize("window", ["journal1", "insert", "journal2", "remove"])
def test_upsert_crash_windows_settle(spark, window):
    """Every injected crash window settles through
    resume_bucketed_delete: either the table is bit-for-bit untouched
    (re-run the upsert) or the upsert completed — in both terminal
    states the rows are duplicate-free, loss-free, and the metadata is
    exactly fresh."""
    with tempfile.TemporaryDirectory() as d:
        pts, path = _land(spark, d)
        batch = _batch(spark, pts)
        expect_rows = _rows(_expected(pts, batch))
        orig_rows = _rows(pts)

        with pytest.raises(RuntimeError, match=window):
            upsert_into_bucketed_table(
                spark, PTS, batch, _fail_after=window
            )
        assert read_delete_journal(path) is not None
        # the journal blocks every metadata writer until settlement
        with pytest.raises(ValueError, match="unsettled copy-on-write"):
            write_bucketed_manifest(spark, PTS)

        res = resume_bucketed_delete(spark, PTS)
        assert res["resumed"]
        assert read_delete_journal(path) is None

        got = _rows(spark.table(PTS))
        if res["action"] == "aborted":
            # pre-insert crash: table untouched; re-run lands the merge
            assert got == orig_rows
            upsert_into_bucketed_table(spark, PTS, batch)
            got = _rows(spark.table(PTS))
        assert got == expect_rows
        # metadata exactly fresh after settlement: nothing to repair, and
        # the settled density equals a full recompute
        assert update_bucketed_manifest(spark, PTS) == 0
        dens = sorted(map(tuple, meta_read(spark, path, "density").collect()))
        write_bucketed_manifest(spark, PTS)
        assert dens == sorted(
            map(tuple, meta_read(spark, path, "density").collect())
        )


def _count_jobs(spark, fn, gid):
    """(fn(), number of Spark jobs fn started), counted under job group
    ``gid``; the caller's job group is restored afterwards."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


# Spark jobs one upsert into a manifested table runs here (measured at
# this shape: 8, down from 31 while the metadata repair ran on Spark):
# 3 for the batch's key hygiene and per-cell increments, 2 for the plan
# scan, 3 for the bucketed insert.  Recount when changing the protocol.
MAX_UPSERT_JOBS = 8


def test_upsert_job_count_pin(spark, monkeypatch):
    """The metadata repair runs on the driver and starts no Spark job, and
    one upsert on a manifested table stays within MAX_UPSERT_JOBS."""
    import distributed_spatial_index_spark.plans.upsert as ups

    real = ups.repair_bucketed_metadata
    repair_jobs = []

    def counted(*args, **kwargs):
        out, n = _count_jobs(
            spark, lambda: real(*args, **kwargs), "ups-pin-repair"
        )
        repair_jobs.append(n)
        return out

    monkeypatch.setattr(ups, "repair_bucketed_metadata", counted)
    with tempfile.TemporaryDirectory() as d:
        pts, path = _land(spark, d)
        # a local batch, so its own lineage starts no job inside the count
        batch = spark.createDataFrame(_batch(spark, pts).toPandas())
        stats, n_jobs = _count_jobs(
            spark, lambda: upsert_into_bucketed_table(spark, PTS, batch),
            "ups-pin",
        )
        assert stats["rows_replaced"] == 40
        assert repair_jobs == [0]
        assert n_jobs <= MAX_UPSERT_JOBS, (n_jobs, stats["timings"])
