"""Bucketed co-located join: identical results + the shuffle actually gone.

The claim under test is physical, not just semantic: with both tables
bucketed on the routing cell, the ONLY Exchange left in the plan is the
one shuffling the (small) result set for dropDuplicates — the doc-side
shuffle the salted plan pays per query batch is eliminated by the layout.
"""

from __future__ import annotations

import re
import tempfile

from distributed_spatial_index_spark.operators.range_join import point_range_join
from distributed_spatial_index_spark.plans.bucketing import (
    bucketed_point_range_join,
    count_exchanges,
    physical_plan_str,
    write_bucketed_points,
    write_bucketed_query_cells,
)
from distributed_spatial_index_spark.sources import tables as src
from tests.conftest import SF_DIR


def _no_broadcast(spark):
    """Force the shuffled-regime planner (the regime bucketing serves):
    in production the query side is too big to broadcast; at sf0.001 it
    isn't, so disable auto-broadcast while planning these joins."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return old


def test_bucketed_join_matches_and_drops_the_shuffle(spark):
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    old = _no_broadcast(spark)
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(pts, "t_bkt_pts", f"{d}/pts", n_buckets=4)
            write_bucketed_query_cells(qs, "t_bkt_qc", f"{d}/qc", n_buckets=4)

            out = bucketed_point_range_join(spark, "t_bkt_pts", "t_bkt_qc")

            # plan shape: both scans bucketed, exactly ONE Exchange (the
            # result dedup) — vs >= 3 for the same join on unbucketed
            # inputs (both join sides + dedup)
            plan = physical_plan_str(out)
            assert plan.count("Bucketed: true") == 2, plan
            assert count_exchanges(out) == 1, plan
            unbucketed = point_range_join(pts, qs, broadcast_queries=False)
            assert count_exchanges(unbucketed) >= 3

            got = sorted(map(tuple, out.collect()))
            expect = sorted(map(tuple, point_range_join(pts, qs).collect()))
            assert got == expect and len(got) > 0
            # still exactly one shuffle AFTER execution: the walk reads the
            # final adaptive plan, not the string that prints the final
            # and the initial plan together
            assert count_exchanges(out) == 1
            assert physical_plan_str(out).count("isFinalPlan=true") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_pts")
        spark.sql("DROP TABLE IF EXISTS t_bkt_qc")


def test_bucketed_scan_prunes_buckets_on_cell_filter(spark):
    """Bucket pruning: an equality filter on the bucket column reads only
    the matching bucket (SelectedBucketsCount in the scan) — the
    bucket-level analog of the layout module's directory/manifest skips."""
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    # autoBucketedScan off: the planner DISABLES bucketed reads for plans
    # with no join/agg to serve ("Bucketed: false (disabled by query
    # planner)"), which also skips bucket pruning for a bare filter
    abs_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old_abs = spark.conf.get(abs_key)
    spark.conf.set(abs_key, "false")
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(pts, "t_bkt_prune", f"{d}/pts", n_buckets=4)
            t = spark.table("t_bkt_prune")
            some_cell = t.select("cell").first()["cell"]
            plan = physical_plan_str(t.filter(t.cell == some_cell))
            assert "SelectedBucketsCount: 1 out of 4" in plan, plan
    finally:
        spark.conf.set(abs_key, old_abs)
        spark.sql("DROP TABLE IF EXISTS t_bkt_prune")


def test_salted_bucketed_join_spreads_hot_cells_and_matches(spark):
    """Skew handling at ingest: with a hot-cell list, the salt becomes part
    of the bucket spec — the join stays Exchange-free on (cell, salt) and a
    hot cell's docs genuinely land under several salt sub-keys."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.density import density_grid
    from distributed_spatial_index_spark.plans.partitioning import (
        hot_cells_from_density,
    )

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    from distributed_spatial_index_spark.config import JOIN_BITS

    # hot cells must be derived at the SAME resolution the layout buckets
    # at (JOIN_BITS) — density_grid's default FINE_BITS ids would match
    # nothing in the bucketed table.  Every multi-doc cell counts as hot
    # (threshold=1): the fan-out assertion below takes the max across ALL
    # hot cells, so the fixture doesn't hinge on one cell's xxhash draws.
    dens = density_grid(pts, bits=JOIN_BITS)
    max_n = dens.agg(F.max("n")).first()[0]
    assert max_n >= 2, "fixture needs a cell with multiple docs"
    hot = hot_cells_from_density(dens, threshold=1)
    assert hot, "fixture must yield at least one hot cell"
    old = _no_broadcast(spark)
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(
                pts, "t_sbkt_pts", f"{d}/pts", n_buckets=4, hot=hot, n_salt=4
            )
            write_bucketed_query_cells(
                qs, "t_sbkt_qc", f"{d}/qc", n_buckets=4, hot=hot, n_salt=4
            )
            out = bucketed_point_range_join(spark, "t_sbkt_pts", "t_sbkt_qc")

            plan = physical_plan_str(out)
            assert plan.count("Bucketed: true") == 2, plan
            assert count_exchanges(out) == 1, plan

            # hot cells' docs really fan out across salt sub-keys (xxhash
            # is deterministic, so check the best fan-out across all hot
            # cells rather than betting on one cell's hash draw)
            n_salts = (
                spark.table("t_sbkt_pts")
                .filter(F.col("cell").isin([int(h) for h in hot]))
                .groupBy("cell")
                .agg(F.countDistinct("salt").alias("ns"))
                .agg(F.max("ns")).first()[0]
            )
            assert n_salts > 1, n_salts

            got = sorted(map(tuple, out.collect()))
            expect = sorted(map(tuple, point_range_join(pts, qs).collect()))
            assert got == expect and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_sbkt_pts")
        spark.sql("DROP TABLE IF EXISTS t_sbkt_qc")


def test_bucketed_join_refuses_mismatched_specs(spark):
    """Every spec mismatch between the two writes (bucket count, salting,
    refine eps beyond the written padding) is a silent wrong answer or a
    silently reinstated shuffle — the join must raise instead."""
    import pytest

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(pts, "t_mm_pts", f"{d}/pts", n_buckets=4)
            write_bucketed_query_cells(qs, "t_mm_qc8", f"{d}/qc8", n_buckets=8)
            with pytest.raises(ValueError, match="spec mismatch"):
                bucketed_point_range_join(spark, "t_mm_pts", "t_mm_qc8")

            write_bucketed_query_cells(
                qs, "t_mm_qc_salted", f"{d}/qcs", n_buckets=4, hot=[0], n_salt=4
            )
            with pytest.raises(ValueError, match="dsi.salted"):
                bucketed_point_range_join(spark, "t_mm_pts", "t_mm_qc_salted")

            write_bucketed_query_cells(qs, "t_mm_qc", f"{d}/qc", n_buckets=4)
            with pytest.raises(ValueError, match="eps"):
                bucketed_point_range_join(
                    spark, "t_mm_pts", "t_mm_qc", eps=1.0
                )
            # matching specs still work
            assert bucketed_point_range_join(
                spark, "t_mm_pts", "t_mm_qc"
            ).count() > 0
    finally:
        for t in ("t_mm_pts", "t_mm_qc8", "t_mm_qc_salted", "t_mm_qc"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_refuses_region_and_kind_mismatch(spark):
    """Two more silent-wrong-answer classes the spec check must catch:
    (a) tables written under different REGIONS carry incomparable cell ids
    (same (x, y), different cell) — every other spec key matches, so only
    a recorded region property can refuse the join; (b) swapped arguments
    (or a query table written with the points writer) must name the actual
    mistake, not die on a downstream KeyError."""
    import pytest

    from distributed_spatial_index_spark.config import Region

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(pts, "t_rm_pts", f"{d}/pts", n_buckets=4)
            # TAXI-BJ-shaped region: every bound differs from DIDI-CD's
            write_bucketed_query_cells(
                qs, "t_rm_qc_bj", f"{d}/qc_bj", n_buckets=4,
                region=Region(-100.0, -100.0, 10000.0, 10000.0),
            )
            with pytest.raises(ValueError, match="dsi.region"):
                bucketed_point_range_join(spark, "t_rm_pts", "t_rm_qc_bj")

            write_bucketed_query_cells(qs, "t_rm_qc", f"{d}/qc", n_buckets=4)
            # swapped arguments: caught by the kind check, loudly
            with pytest.raises(ValueError, match="dsi.kind"):
                bucketed_point_range_join(spark, "t_rm_qc", "t_rm_pts")
            # a "queries" table written with the POINTS writer: same check
            with pytest.raises(ValueError, match="dsi.kind"):
                bucketed_point_range_join(spark, "t_rm_pts", "t_rm_pts")
    finally:
        for t in ("t_rm_pts", "t_rm_qc_bj", "t_rm_qc"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_unified_layout_zero_exchange_and_file_skipping(spark):
    """The unified landed layout (r4 verdict #3): ONE table carries BOTH
    the bucket spec (Exchange-free co-located join) and metadata file
    skipping (hive pcell directories + bucket pruning, witnessed by the
    manifest).  Asserts the co-located plan survives the pruning filters
    (exactly one Exchange = result dedup), the scan shows partition AND
    bucket pruning, the manifest reports 0 < files_scanned < files_total,
    and results stay exactly equal to the broadcast join."""
    from distributed_spatial_index_spark.plans.bucketing import (
        pruned_bucketed_point_range_join,
        write_bucketed_manifest,
    )

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    # a SELECTIVE standing query batch — the regime file skipping serves
    qs = src.range_queries(spark, SF_DIR, "lineitem").limit(3)
    old = _no_broadcast(spark)
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(
                pts, "t_uni_pts", f"{d}/pts", n_buckets=4, coarse_bits=2
            )
            write_bucketed_query_cells(qs, "t_uni_qc", f"{d}/qc", n_buckets=4)
            write_bucketed_manifest(spark, "t_uni_pts")

            out = pruned_bucketed_point_range_join(
                spark, "t_uni_pts", "t_uni_qc"
            )

            plan = physical_plan_str(out)
            assert plan.count("Bucketed: true") == 2, plan
            assert count_exchanges(out) == 1, plan
            assert "SelectedBucketsCount" in plan, plan
            # directory pruning engaged: the POINTS scan carries a
            # non-empty pcell partition filter (the unpartitioned query
            # scan legitimately shows PartitionFilters: [])
            assert re.search(
                r"PartitionFilters: \[[^\]]*pcell[^\]]*\]", plan
            ), plan

            stats = out.prune_stats
            assert 0 < stats["files_scanned"] < stats["files_total"], stats
            assert stats["fine_pruned"] and stats["coarse_pruned"], stats

            got = sorted(map(tuple, out.collect()))
            expect = sorted(map(tuple, point_range_join(pts, qs).collect()))
            assert got == expect and len(got) > 0
            # the plain bucketed join also works on the unified table and
            # agrees (pruning changed the scan, never the answer)
            unpruned = sorted(
                map(
                    tuple,
                    bucketed_point_range_join(
                        spark, "t_uni_pts", "t_uni_qc"
                    ).collect(),
                )
            )
            assert unpruned == got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_uni_pts")
        spark.sql("DROP TABLE IF EXISTS t_uni_qc")


def test_bucketed_manifest_staleness_raises(spark):
    """Freshness contract for the bucketed manifest, mirroring the hive
    layout's: data files appended after write_bucketed_manifest make the
    prune stats unreliable — the pruned join must refuse loudly.  Two
    append classes: a LEGITIMATE one (INSERT INTO the catalog table,
    which writes real bucket files) is cured by re-running
    write_bucketed_manifest; an ILLEGITIMATE one (plain parquet dropped
    into the table path — which breaks the bucketed-scan contract itself)
    makes the manifest WRITE refuse too, so the pollution can't be
    papered over."""
    import pyspark.sql.functions as F
    import pytest

    from distributed_spatial_index_spark.plans.bucketing import (
        pruned_bucketed_point_range_join,
        write_bucketed_manifest,
    )

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem").limit(3)
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(
                pts, "t_stale_pts", f"{d}/pts", n_buckets=4, coarse_bits=2
            )
            write_bucketed_query_cells(
                qs, "t_stale_qc", f"{d}/qc", n_buckets=4
            )
            write_bucketed_manifest(spark, "t_stale_pts")
            pruned_bucketed_point_range_join(
                spark, "t_stale_pts", "t_stale_qc"
            )  # fresh: fine

            # legitimate append: INSERT INTO writes proper bucket files
            # (materialized rows — Spark refuses insert-from-self)
            two = spark.createDataFrame(
                spark.table("t_stale_pts").limit(2).collect(),
                spark.table("t_stale_pts").schema,
            )
            two.write.insertInto("t_stale_pts")
            with pytest.raises(ValueError, match="stale"):
                pruned_bucketed_point_range_join(
                    spark, "t_stale_pts", "t_stale_qc"
                )
            # re-running the manifest write restores the pruned join
            write_bucketed_manifest(spark, "t_stale_pts")
            pruned_bucketed_point_range_join(
                spark, "t_stale_pts", "t_stale_qc"
            )

            # illegitimate append: plain parquet with no bucket id in the
            # file name — the pruned join refuses (stale) and so does the
            # manifest rebuild (naming check)
            spark.createDataFrame(
                spark.table("t_stale_pts").limit(2).collect(),
                spark.table("t_stale_pts").schema,
            ).write.mode("append").partitionBy("pcell").parquet(f"{d}/pts")
            with pytest.raises(ValueError, match="stale"):
                pruned_bucketed_point_range_join(
                    spark, "t_stale_pts", "t_stale_qc"
                )
            with pytest.raises(ValueError, match="bucket-file naming"):
                write_bucketed_manifest(spark, "t_stale_pts")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stale_pts")
        spark.sql("DROP TABLE IF EXISTS t_stale_qc")


def test_iceberg_bucket_transform_if_available(spark):
    """Executable form of the table-format claim (SURVEY §7.2 step 9,
    r4 verdict residual #1): on a cluster with Iceberg jars, the landed
    layout's write IS `writeTo(...).partitionedBy(bucket(n, cell))` plus
    a coarse-cell transform, and the manifest/density artifacts this repo
    writes by hand are the table format's own metadata.  The sandbox
    ships no Iceberg jars, so this SKIPS here — but the claim stays
    testable verbatim on any real deployment instead of living as prose.
    """
    import pytest
    from py4j.protocol import Py4JError
    from pyspark.sql import functions as F

    try:
        has_iceberg = (
            spark._jvm.org.apache.spark.util.Utils.classIsLoadable(
                "org.apache.iceberg.spark.SparkCatalog"
            )
        )
    except (Py4JError, AttributeError):
        has_iceberg = False
    if not has_iceberg:
        pytest.skip("Iceberg runtime jars not on the classpath")

    pts = src.geo_points(spark, SF_DIR, "lineitem").limit(1000)
    from distributed_spatial_index_spark.config import JOIN_BITS
    from distributed_spatial_index_spark.functions.cells import cell_id_col

    df = pts.withColumn(
        "cell", cell_id_col(F.col("x"), F.col("y"), JOIN_BITS)
    ).withColumn("pcell", F.shiftright(F.col("cell"), 2 * (JOIN_BITS - 2)))
    spark.sql("DROP TABLE IF EXISTS iceberg_cat.db.t_ice_pts")
    try:
        (
            df.writeTo("iceberg_cat.db.t_ice_pts")
            .partitionedBy(F.col("pcell"), F.bucket(8, F.col("cell")))
            .using("iceberg")
            .create()
        )
        back = spark.table("iceberg_cat.db.t_ice_pts")
        assert back.count() == df.count()
        # the format's own per-file stats replace write_bucketed_manifest
        files = spark.table("iceberg_cat.db.t_ice_pts.files")
        assert files.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS iceberg_cat.db.t_ice_pts")


def test_incremental_manifest_update_equals_full_rewrite(spark):
    """update_bucketed_manifest (r5): an INSERT INTO append is repaired by
    scanning ONLY the new files — and the merged manifest + density must
    be VALUE-IDENTICAL to a from-scratch write_bucketed_manifest, so the
    incremental path can never drift from the full one.  Also pins: no-op
    update returns 0, the repaired metadata serves the pruned join again,
    and a manifested file deleted from disk refuses the incremental path
    (removals need the full rewrite)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.plans.bucketing import (
        pruned_bucketed_point_range_join,
        update_bucketed_manifest,
        write_bucketed_manifest,
    )

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem").limit(3)

    from distributed_spatial_index_spark.sources.metastore import meta_read

    def snap(path):
        man = sorted(
            map(tuple, meta_read(spark, path, "manifest")
                .drop("file_path").collect())
        )
        dens = sorted(
            map(tuple, meta_read(spark, path, "density").collect())
        )
        return man, dens

    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(
                pts, "t_inc_pts", f"{d}/pts", n_buckets=4, coarse_bits=2
            )
            write_bucketed_query_cells(qs, "t_inc_qc", f"{d}/qc", n_buckets=4)
            write_bucketed_manifest(spark, "t_inc_pts")
            assert update_bucketed_manifest(spark, "t_inc_pts") == 0

            rows = spark.createDataFrame(
                spark.table("t_inc_pts").limit(5).collect(),
                spark.table("t_inc_pts").schema,
            )
            rows.write.insertInto("t_inc_pts")
            n_new = update_bucketed_manifest(spark, "t_inc_pts")
            assert n_new > 0
            inc = snap(f"{d}/pts")
            # the repaired metadata serves the pruned join (fresh again)
            out = pruned_bucketed_point_range_join(
                spark, "t_inc_pts", "t_inc_qc"
            )
            assert out.prune_stats["files_total"] > 0

            # ground truth: full rewrite over the same table
            write_bucketed_manifest(spark, "t_inc_pts")
            full = snap(f"{d}/pts")
            assert inc == full

            # removals are not incremental: delete one manifested file
            from distributed_spatial_index_spark.sources.layout import (
                _norm_file_path,
            )

            victim = meta_read(spark, f"{d}/pts", "manifest").select(
                "file_path").first()["file_path"]
            os.remove("/" + _norm_file_path(victim))
            with pytest.raises(ValueError, match="no longer exist"):
                update_bucketed_manifest(spark, "t_inc_pts")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_inc_pts")
        spark.sql("DROP TABLE IF EXISTS t_inc_qc")


def test_incremental_manifest_refuses_pollution(spark):
    """update_bucketed_manifest runs the full write's pollution checks on
    the files it merges: each of a plain parquet file with no bucket
    suffix, a file whose ``_NNNNN`` name disagrees with its rows' bucket,
    and a file spanning two ``pcell`` values, dropped into the table
    path, makes the incremental repair refuse — and once it is removed,
    the manifest is fresh again."""
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from distributed_spatial_index_spark.plans.bucketing import (
        update_bucketed_manifest,
        write_bucketed_manifest,
    )
    from distributed_spatial_index_spark.sources.layout import list_data_files

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(
                pts, "t_pol_pts", f"{d}/pts", n_buckets=4, coarse_bits=2
            )
            write_bucketed_manifest(spark, "t_pol_pts")
            files = ["/" + f for f in list_data_files(spark, f"{d}/pts")]

            def bucket(f):
                return int(re.search(r"_(\d{5})\.", f).group(1))

            first = files[0]
            b, pdir = bucket(first), os.path.dirname(first)
            rows = pq.ParquetFile(first).read()
            # a same-bucket file from another hive partition: together
            # the two hold one bucket id but two pcell values
            other = next(
                f for f in files
                if bucket(f) == b and os.path.dirname(f) != pdir
            )
            span = pa.concat_tables([rows, pq.ParquetFile(other).read()])
            cases = [
                ("plain.parquet", rows, "bucket-file naming"),
                (f"part-x_{(b + 1) % 4:05d}.c000.parquet", rows,
                 "bucket-file naming"),
                (f"part-y_{b:05d}.c000.parquet", span,
                 "span hive partitions"),
            ]
            for name, tbl, msg in cases:
                polluted = os.path.join(pdir, name)
                pq.write_table(tbl, polluted)
                try:
                    with pytest.raises(ValueError, match=msg):
                        update_bucketed_manifest(spark, "t_pol_pts")
                finally:
                    os.remove(polluted)
            assert update_bucketed_manifest(spark, "t_pol_pts") == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pol_pts")


def test_attach_bucketed_table_after_catalog_loss(spark):
    """The catalog is a cache; the layout's own _spec file is the source
    of truth.  After the session catalog entry is gone (new session /
    DROP), attach_bucketed_table re-registers the table from disk and
    EVERY landed reader and writer serves it again with the exact
    ingest-time spec — zero-Exchange join, pruned stats, knn_landed,
    streaming append — with no re-ingest."""
    import os

    import pytest

    from distributed_spatial_index_spark.operators.knn import knn, knn_landed
    from distributed_spatial_index_spark.plans.bucketing import (
        attach_bucketed_table,
        pruned_bucketed_point_range_join,
        write_bucketed_manifest,
    )
    from distributed_spatial_index_spark.streaming.land import make_land_fn

    pts = src.unique_geo_points(spark, SF_DIR, "lineitem")
    qs = src.range_queries(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem").limit(5)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with tempfile.TemporaryDirectory() as d:
            write_bucketed_points(
                pts, "t_att_pts", f"{d}/pts", n_buckets=4, coarse_bits=2
            )
            write_bucketed_manifest(spark, "t_att_pts")
            write_bucketed_query_cells(qs, "t_att_qc", f"{d}/qc", n_buckets=4)
            expect = sorted(map(tuple, point_range_join(pts, qs).collect()))

            # attach refuses an existing catalog name (registration, not
            # replacement)
            with pytest.raises(ValueError, match="already exists"):
                attach_bucketed_table(spark, "t_att_pts", f"{d}/pts")

            # catalog loss: entries dropped, data + metadata stay on disk
            spark.sql("DROP TABLE t_att_pts")
            spark.sql("DROP TABLE t_att_qc")
            assert os.path.exists(f"{d}/pts/_spec")

            attach_bucketed_table(spark, "t_att_pts", f"{d}/pts")
            attach_bucketed_table(spark, "t_att_qc", f"{d}/qc")

            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = bucketed_point_range_join(spark, "t_att_pts", "t_att_qc")
            assert count_exchanges(out) == 1  # result dedup only
            assert sorted(map(tuple, out.collect())) == expect

            sel = pruned_bucketed_point_range_join(
                spark, "t_att_pts", "t_att_qc"
            )
            assert sel.prune_stats["files_total"] > 0
            assert sorted(map(tuple, sel.collect())) == expect

            a = sorted(map(tuple, knn_landed(
                spark, "t_att_pts", kq, k=3).collect()))
            assert a == sorted(map(tuple, knn(pts, kq, k=3).collect()))

            # the streaming writer also serves the attached table: an
            # append through make_land_fn lands, repairs the manifest
            # incrementally, and commits the marker
            n0 = spark.table("t_att_pts").count()
            fn = make_land_fn(
                "t_att_pts", f"{d}/pts", "att-ingest",
                n_buckets=4, coarse_bits=2,
            )
            fn(pts.limit(7), 0)
            assert spark.table("t_att_pts").count() == n0 + 7
            sel2 = pruned_bucketed_point_range_join(
                spark, "t_att_pts", "t_att_qc"
            )
            assert sel2.prune_stats["files_total"] > sel.prune_stats[
                "files_total"
            ]  # manifest repaired incrementally, still fresh

            # a path with no _spec refuses loudly
            with pytest.raises(ValueError, match="no _spec"):
                attach_bucketed_table(spark, "t_att_none", f"{d}/empty")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_att_pts")
        spark.sql("DROP TABLE IF EXISTS t_att_qc")
