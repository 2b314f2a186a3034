"""Round-6 supplementary benchmarks (bench.py is FROZEN for measurement;
extra evidence lives here, cited by OPTIMIZATION_r06.md).

Rows:
- dispatch_auto_df / dispatch_auto_landed — the engine's public join entry
  (plans/dispatch.point_range_join_auto) timed on the DataFrame pair and on
  the landed pair, next to the direct regime rows it should approximate
  (VERDICT r5 ask #4).
- streaming_1x / streaming_10x — the windowed replay at two volumes so the
  per-micro-batch fixed cost visibly amortizes (docs/s must rise with
  volume; VERDICT r5 ask #6).

Methodology matches bench.py: noop sink, warm run, best-of-N, one JSON
line at the end.  Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS (default:
the host's os.cpu_count()).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from distributed_spatial_index_spark.session import get_spark


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark(app_name="dsi-bench-extra", cores=cpus,
                      shuffle_partitions=cpus)

    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.density import density_grid
    from distributed_spatial_index_spark.operators.range_join import (
        point_range_join,
    )
    from distributed_spatial_index_spark.plans.bucketing import (
        write_bucketed_points,
        write_bucketed_query_cells,
    )
    from distributed_spatial_index_spark.plans.dispatch import (
        point_range_join_auto,
    )
    from distributed_spatial_index_spark.plans.partitioning import (
        hot_cells_from_density,
        salted_point_range_join,
    )
    from distributed_spatial_index_spark.sources import tables as src

    pts = src.geo_points(spark, sf_dir, "lineitem", parallelism=cpus * 2).persist()
    qs = src.range_queries(spark, sf_dir, "lineitem").persist()
    pts.count(), qs.count()
    _materialize(pts.mapInPandas(lambda it: it, schema=pts.schema))

    timings: dict[str, float] = {}

    def timed(name, thunk):
        _materialize(thunk())  # warm
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            _materialize(thunk())
            samples.append(round(time.perf_counter() - t0, 4))
        timings[name] = min(samples)

    # direct regimes for comparison (same workload as bench.py rows)
    timed("range_join_direct", lambda: point_range_join(pts, qs, bits=9))
    hot = hot_cells_from_density(density_grid(pts, bits=9), threshold=170)
    timed("salted_direct", lambda: salted_point_range_join(
        pts, qs, hot, n_salt=8, bits=9))

    # dispatch on the DataFrame pair: evidence = one query-side count
    timed("dispatch_auto_df", lambda: point_range_join_auto(
        spark, pts, qs, bits=9))

    # dispatch on the landed pair: evidence = catalog metadata only
    bkt_dir = tempfile.mkdtemp(prefix="dsi_extra_bkt_")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_points(pts, "extra_bkt_pts", f"{bkt_dir}/pts",
                              n_buckets=cpus)
        write_bucketed_query_cells(qs, "extra_bkt_qc", f"{bkt_dir}/qc",
                                   n_buckets=cpus)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        timed("dispatch_auto_landed", lambda: point_range_join_auto(
            spark, "extra_bkt_pts", "extra_bkt_qc"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS extra_bkt_pts")
        spark.sql("DROP TABLE IF EXISTS extra_bkt_qc")
        shutil.rmtree(bkt_dir, ignore_errors=True)

    # streaming replay at two volumes (same transform as bench.py's row:
    # windowed stream-batch range join over deterministic slices)
    from distributed_spatial_index_spark.streaming.replay import replay_stream
    from distributed_spatial_index_spark.streaming.stream_join import (
        streaming_point_range_join,
    )

    streaming = {}
    batch_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    for label, mod in (("streaming_1x", 10), ("streaming_10x", 1)):
        sliced = pts.filter(
            F.pmod(F.xxhash64(F.col("id")), F.lit(mod)) == 0
        ).withColumn("ts", F.timestamp_millis(F.col("ts")))
        sliced_qs = qs.filter(
            F.pmod(F.xxhash64(F.col("query_id")), F.lit(10)) == 0
        ).persist()
        sliced_qs.count()
        n_docs = sliced.count()
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        t0 = time.perf_counter()
        try:
            replay_stream(
                spark, sliced,
                lambda s: streaming_point_range_join(s, sliced_qs),
                n_chunks=4,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", batch_shuffle)
        sec = round(time.perf_counter() - t0, 4)
        sliced_qs.unpersist()
        streaming[label] = {
            "sec": sec, "docs": n_docs,
            "docs_per_sec": round(n_docs / sec, 1),
        }

    print(json.dumps({
        "metric": "r6_supplementary",
        "queries": timings,
        "streaming": streaming,
        "cpus": cpus,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
