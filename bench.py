"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the host's os.cpu_count()); prints ONE
JSON line.

Metric (BASELINE.json): spatial-join + tile-assignment throughput in
docs/sec over the lineitem-derived point table.  "value" is total wall
seconds across all headline queries (driver contract); the BASELINE metric
appears as "docs_per_sec" (docs / (range_join + tile_assignment seconds),
measured after a warmup run so codegen/broadcast JIT doesn't pollute the
steady-state number).

Scaling-rule protocol (BASELINE.md): run with SPARK_GRAFT_CPUS=8 and =32 on
the same input; efficiency = (t8/t32)/4.

Self-certification (r4 verdict #1): every timed row carries a host-
contention probe (fixed single-thread NumPy spin vs the committed
PROBE_REF_SEC, plus loadavg), best-of-N auto-escalates 2->4 when the probe
or the sample spread says the host is contended, and the payload records
per-row {best, n_runs, runs, probe} plus run-bracketing probes — a
contended artifact is adjudicable from the JSON alone, no prose needed.
"""

from __future__ import annotations

import json
import os
import time

from distributed_spatial_index_spark.session import get_spark


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Committed single-thread reference for the host-contention probe below,
# measured as the min over repeated quiet-phase samples on this host.
# Override with SPARK_GRAFT_PROBE_REF after a hardware change.
PROBE_REF_SEC = float(os.environ.get("SPARK_GRAFT_PROBE_REF", "0.105"))
# The probe's exact expected sum (the workload is deterministic); a
# mismatch means the probe itself is broken, not the host.
_PROBE_EXPECT = 11329171.055186


def host_probe() -> dict:
    """Fixed SINGLE-THREAD workload (elementwise NumPy — no BLAS thread
    pool) timed against the committed PROBE_REF_SEC, plus the 1/5-minute
    load averages.  This is the self-certification channel for the bench
    artifact: the sandbox is a shared microVM whose available CPU swings
    several-x on a minutes timescale (r3/r4 both committed contended
    artifacts that needed out-of-band prose to adjudicate), so every timed
    row now carries the probe state under which it was measured.  ratio
    ~1.0 = quiet host; ratio >1.5 = contended (and best-of-N escalates)."""
    import numpy as np

    x = np.arange(2_000_000, dtype=np.float64) * 1e-6
    float(np.sin(x).sum())  # warm the buffer + ufunc dispatch
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(8):
        acc += float(np.sin(x).sum())
    sec = time.perf_counter() - t0
    assert abs(acc - _PROBE_EXPECT) < 1e-3, acc
    load1, load5, _ = os.getloadavg()
    return {
        "sec": round(sec, 4),
        "ratio": round(sec / PROBE_REF_SEC, 3),
        "load1": round(load1, 2),
        "load5": round(load5, 2),
    }


def scaling_mode() -> None:
    """Two-cluster-size protocol (BASELINE.md): the same spatial-join +
    tile-assignment job on the same input at N and 4N cores (default 4/16 so
    the 4N run keeps headroom below the host's 32 shared vCPUs), best-of-3,
    efficiency = (tN/t4N)/4.  Input: the deterministic x8 fan-out of the
    sf table (4.8M docs at sf0.1) so the parallel fraction dominates."""
    import time as _time

    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.range_join import (
        point_range_join,
    )
    from distributed_spatial_index_spark.operators.tiles import assign_tiles
    from distributed_spatial_index_spark.sources import tables as src

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_small = int(os.environ.get("SPARK_GRAFT_SCALING_N", "4"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "3"))
    # x32 (19.2M docs at sf0.1): large enough that the ~1.5s fixed
    # driver-side constant (job submit + broadcast build) stops dominating
    # the 4N level — measured efficiency 0.73 @ x8, 0.75 @ x16, 0.93 @ x32,
    # exactly the Amdahl fixed-cost curve; the 10^12-doc design point is
    # further down the same curve.
    scale = int(os.environ.get("SPARK_GRAFT_SCALING_SCALE", "32"))
    out = {n_small: float("inf"), n_small * 4: float("inf")}
    bkt = {n_small: float("inf"), n_small * 4: float("inf")}
    n_docs = 0
    # Interleave the two levels across rounds and keep each level's MINIMUM:
    # this sandbox is a shared microVM whose available CPU swings several-x
    # on a minutes timescale, so the min is the only estimator that
    # approaches the machine's actual capability at each parallelism.
    for _round in range(rounds):
        for cpus in (n_small, n_small * 4):
            # AQE off here: its per-stage driver re-planning is pure serial
            # time in a measurement designed to expose the parallel fraction
            spark = get_spark(app_name="dsi-scaling", cores=cpus,
                              shuffle_partitions=cpus,
                              extra_conf={"spark.sql.adaptive.enabled": "false"})
            pts = src.scaled_geo_points(
                spark, sf_dir, "lineitem", scale=scale, parallelism=cpus * 2
            ).persist()
            qs = pts.filter((F.col("id") % (150 * scale)) == 123).select(
                F.col("id").alias("query_id"),
                (F.col("x") - 20.0).alias("xmin"), (F.col("y") - 20.0).alias("ymin"),
                (F.col("x") + 20.0).alias("xmax"), (F.col("y") + 20.0).alias("ymax"),
            ).persist()
            n_docs = pts.count()
            qs.count()
            # bits=9 routing: ~3x smaller query-cell broadcast (serial
            # driver time) for ~1.4x more candidates (parallel work)
            _materialize(point_range_join(pts, qs, bits=9))  # warm
            for _ in range(2):
                t0 = _time.perf_counter()
                _materialize(point_range_join(pts, qs, bits=9))
                _materialize(assign_tiles(pts))
                out[cpus] = min(out[cpus], _time.perf_counter() - t0)
            # The bucketed regime at both cluster sizes (r4 verdict #5):
            # the 100-TB recurring-join argument rests on the co-located
            # SMJ, so IT is what must scale, not just the broadcast join.
            # The table layout is FIXED across levels (n_buckets=16, the
            # larger level's parallelism) — a real deployment sizes
            # buckets by data, then reads the same table from any cluster
            # size — so only compute varies between t_N and t_4N.  Ingest
            # is untimed (amortized), rewritten per session because the
            # bucket spec lives in the session catalog.
            import shutil as _shutil
            import tempfile as _tempfile

            from distributed_spatial_index_spark.plans.bucketing import (
                bucketed_point_range_join,
                write_bucketed_points,
                write_bucketed_query_cells,
            )

            bkt_dir = _tempfile.mkdtemp(prefix="dsi_scal_bkt_")
            old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            try:
                write_bucketed_points(
                    pts, "scal_bkt_pts", f"{bkt_dir}/pts", n_buckets=16
                )
                write_bucketed_query_cells(
                    qs, "scal_bkt_qc", f"{bkt_dir}/qc", n_buckets=16
                )
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                _materialize(bucketed_point_range_join(
                    spark, "scal_bkt_pts", "scal_bkt_qc"))  # warm
                for _ in range(2):
                    t0 = _time.perf_counter()
                    _materialize(bucketed_point_range_join(
                        spark, "scal_bkt_pts", "scal_bkt_qc"))
                    bkt[cpus] = min(
                        bkt[cpus], _time.perf_counter() - t0)
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", old_bc)
                spark.sql("DROP TABLE IF EXISTS scal_bkt_pts")
                spark.sql("DROP TABLE IF EXISTS scal_bkt_qc")
                _shutil.rmtree(bkt_dir, ignore_errors=True)
            spark.stop()
    t_n, t_4n = out[n_small], out[n_small * 4]
    bt_n, bt_4n = bkt[n_small], bkt[n_small * 4]
    payload = {
        "metric": "scaling_efficiency",
        "value": round((t_n / t_4n) / 4, 4),
        "unit": "ratio",
        "queries": {f"core_t{n_small}": round(t_n, 3),
                    f"core_t{n_small * 4}": round(t_4n, 3),
                    f"bucketed_t{n_small}": round(bt_n, 3),
                    f"bucketed_t{n_small * 4}": round(bt_4n, 3)},
        "bucketed_efficiency": round((bt_n / bt_4n) / 4, 4),
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "n_docs": n_docs,
        "docs_per_sec_n": round(n_docs / t_n, 1),
        "docs_per_sec_4n": round(n_docs / t_4n, 1),
    }
    print(json.dumps(payload))
    # committed artifact (round-2 verdict ask #10): the scaling evidence
    # lives as JSON next to the headline BENCH file, not only in prose
    out_path = os.environ.get("SPARK_GRAFT_SCALING_OUT", "BENCH_scaling_r5.json")
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)


def main() -> None:
    if os.environ.get("SPARK_GRAFT_SCALING"):
        scaling_mode()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = get_spark(app_name="dsi-bench", cores=cpus, shuffle_partitions=cpus)

    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.density import density_grid
    from distributed_spatial_index_spark.operators.dedup import minhash_lsh_pairs
    from distributed_spatial_index_spark.operators.knn import knn
    from distributed_spatial_index_spark.operators.pip_join import (
        convex_pip_join,
        pip_join,
        triangle_polygons,
    )
    from distributed_spatial_index_spark.operators.range_join import (
        mbr_range_join,
        point_range_join,
    )
    from distributed_spatial_index_spark.operators.simsearch import cosine_topk
    from distributed_spatial_index_spark.operators.tiles import assign_tiles
    from distributed_spatial_index_spark.sources import tables as src
    from distributed_spatial_index_spark.sources.spans import extract_geo
    from distributed_spatial_index_spark.sources.synthetic import (
        interleaved_documents,
    )

    table = "lineitem"
    # Repartition the narrow id column before deriving: the testdata parquet
    # is a single row group, so without this every per-doc expression runs on
    # one core (at real scale files split naturally; see geo_points docstring).
    # Ingest once, query many: the derived geo tables are persisted, exactly
    # as a real pipeline would land them in storage before serving queries.
    # (The derivation expressions are large; leaving them inline would also
    # re-pay their codegen on every single query.)
    pts = src.geo_points(spark, sf_dir, table, parallelism=cpus * 2).persist()
    qs = src.range_queries(spark, sf_dir, table).persist()
    upts = src.unique_geo_points(spark, sf_dir, table, parallelism=cpus * 2).persist()
    kq = src.knn_queries(spark, sf_dir, table).persist()
    n_docs = pts.count()
    qs.count(), upts.count(), kq.count()

    # warm the Python worker pool (first pandas-UDF op otherwise pays ~cpus
    # worker spawns + Arrow imports inside someone's timing)
    _materialize(pts.mapInPandas(lambda it: it, schema=pts.schema))

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}

    # best-of-2 by default so the recorded artifact reflects steady state
    # rather than whatever the shared host was doing during a single run
    # (round-1's artifact caught a degraded phase at >2x typical; best-of-3
    # would be more stable still, but under the worst observed host phases
    # it risks outrunning a caller's time budget — 2 is the compromise).
    # When the per-row probe says the host is contended (>1.5x the
    # committed single-thread reference), the row auto-escalates to
    # best-of-4: more chances to catch a quiet slice, and the escalation
    # itself is recorded so a slow row in the artifact is adjudicable
    # from the JSON alone (r4 verdict's top ask).
    default_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    escalated_runs = max(4, default_runs * 2)
    probe_start = host_probe()

    def timed(name, thunk, runs=None):
        runs = runs or default_runs
        probe = host_probe()
        if probe["ratio"] > 1.5:
            runs = max(runs, escalated_runs)
        # best-of-N: this sandbox host is heavily shared (>50% system time
        # under load); the minimum is the least-contended estimate
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            _materialize(thunk())
            samples.append(round(time.perf_counter() - t0, 4))
        # contention also arrives MID-row (pre-probe quiet, then the runs
        # split several-x): keep sampling up to the escalation cap until
        # the two best samples agree within 1.8x, so the recorded best is
        # corroborated by a second quiet slice, not a lone lucky run
        def _spread():
            s = sorted(samples)
            return s[1] / s[0] if s[0] > 0 else 1.0
        while len(samples) < escalated_runs and _spread() > 1.8:
            t0 = time.perf_counter()
            _materialize(thunk())
            samples.append(round(time.perf_counter() - t0, 4))
        timings[name] = min(samples)
        detail[name] = {
            "best": min(samples),
            "n_runs": len(samples),
            "runs": samples,
            "probe": probe,
        }
        if len(samples) > runs or probe["ratio"] > 1.3:
            # the row ran under (or into) contention — bracket it with a
            # closing probe so the artifact shows the host state on BOTH
            # sides of the suspect measurement
            detail[name]["probe_after"] = host_probe()

    # headline metric components (extra warmed run for JIT); bits=9 routing
    # measured fastest at this density (smaller broadcast build than 10,
    # tighter pruning than 8)
    _materialize(point_range_join(pts, qs, bits=9))
    timed("range_join", lambda: point_range_join(pts, qs, bits=9), runs=2)
    timed("tile_assignment", lambda: assign_tiles(pts), runs=2)

    # the shuffled+salted regime (query side too big to broadcast at real
    # scale): same semantics as range_join, doc side shuffles on (cell,
    # salt), hot cells split across n_salt tasks — the 100-TB fallback plan
    # measured, not just correctness-tested
    from distributed_spatial_index_spark.plans.partitioning import (
        hot_cells_from_density,
        salted_point_range_join,
    )

    # the derived point workload is near-uniform (max 200 docs/cell at
    # bits=9, sf0.1), so the threshold targets the top ~0.1% cells (~230):
    # the mechanism under measurement is the salt fan-out itself
    hot = hot_cells_from_density(density_grid(pts, bits=9), threshold=170)
    timed("salted_range_join", lambda: salted_point_range_join(
        pts, qs, hot, n_salt=8, bits=9))

    # the LANDED-table regime: both sides pre-bucketed on the routing cell
    # at ingest (untimed, once — the shuffle bucketing amortizes), so the
    # recurring per-batch join plans with ZERO Exchange on either scan;
    # auto-broadcast is pinned off while timing so the row measures the
    # co-located SortMergeJoin (same shuffled regime salted_range_join
    # pays per batch), not a broadcast fallback this sf permits
    import shutil
    import tempfile

    from distributed_spatial_index_spark.plans.bucketing import (
        bucketed_point_range_join,
        write_bucketed_points,
        write_bucketed_query_cells,
    )

    bkt_dir = tempfile.mkdtemp(prefix="dsi_bkt_")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_points(
            pts, "bench_bkt_pts", f"{bkt_dir}/pts", n_buckets=cpus
        )
        write_bucketed_query_cells(
            qs, "bench_bkt_qc", f"{bkt_dir}/qc", n_buckets=cpus
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # warm once like the other headline rows: the first run pays file
        # listing + codegen for the plan shape, which best-of-2 only half
        # hides
        _materialize(
            bucketed_point_range_join(spark, "bench_bkt_pts", "bench_bkt_qc")
        )
        timed("bucketed_range_join", lambda: bucketed_point_range_join(
            spark, "bench_bkt_pts", "bench_bkt_qc"))
    finally:
        # restore + clean even on failure: a leaked -1 threshold would
        # silently change every remaining row's plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS bench_bkt_pts")
        spark.sql("DROP TABLE IF EXISTS bench_bkt_qc")
        shutil.rmtree(bkt_dir, ignore_errors=True)

    # secondary coverage queries
    timed("density_grid", lambda: density_grid(pts))
    timed("knn", lambda: knn(upts, kq, k=5))
    # knn served FROM the landed layout: persisted-cell prefix routing +
    # committed density summary replace knn()'s derive/aggregate startup
    # (ingest untimed, once — same amortization story as the bucketed
    # join); results are pytest-proven identical to knn()'s
    from distributed_spatial_index_spark.operators.knn import knn_landed
    from distributed_spatial_index_spark.plans.bucketing import (
        write_bucketed_manifest,
    )

    knnl_dir = tempfile.mkdtemp(prefix="dsi_knnl_")
    try:
        # n_buckets sized for file size, not core count: the unified
        # layout lands one file per (pcell, bucket) pair, and 457k points
        # over 32x16 files would be ~900 rows each — pure open/footer
        # overhead.  At 100 TB the same rule picks n_buckets so files land
        # row-group-sized (the write_bucketed_points docstring's sizing
        # note), which is exactly what 8 does at this sf.
        write_bucketed_points(
            upts, "bench_knn_pts", f"{knnl_dir}/pts", n_buckets=8,
            coarse_bits=2,
        )
        write_bucketed_manifest(spark, "bench_knn_pts")
        _materialize(knn_landed(spark, "bench_knn_pts", kq, k=5))
        timed("knn_landed", lambda: knn_landed(
            spark, "bench_knn_pts", kq, k=5))

        # NO pruned-join wall-clock row, deliberately: at sf0.1 the whole
        # table is ~60 MB and page-cached, so the scan the pruning saves
        # costs ~nothing while the pruning itself (wanted-cell collect +
        # IN-list planning) costs 0.3-2.5 s — measured A/B in
        # BENCH/BASELINE.md "File skipping" note.  The skip is witnessed
        # by metadata instead (prune_stats files_scanned/files_total —
        # pytest asserts 0 < scanned < total; measured 16/128 at 4
        # selective queries on the sf0.1 layout).
    finally:
        spark.sql("DROP TABLE IF EXISTS bench_knn_pts")
        shutil.rmtree(knnl_dir, ignore_errors=True)
    # general mixed-arity path (bits=9: interior-cell fast path +
    # driver-side query-cell classification; bits=9 was faster than 10 at
    # this polygon size — A/B best-of-3: 4.5 vs 5.8)
    timed("pip_join", lambda: pip_join(
        pts, triangle_polygons(kq), bits=9, unroll_arity=None))
    # fixed-arity codegen even-odd: the whole ray-cast in codegen, no Arrow
    timed("pip_join_raycast", lambda: pip_join(
        pts, triangle_polygons(kq), bits=9))
    timed("pip_join_convex", lambda: convex_pip_join(
        pts, triangle_polygons(kq), bits=9))
    docs = interleaved_documents(spark, sf_dir)
    timed("interleaved_pipeline", lambda: mbr_range_join(
        extract_geo(docs).select(
            F.col("doc_id").cast("long").alias("id"),
            "xmin", "ymin", "xmax", "ymax"),
        src.range_queries(spark, sf_dir, "documents", ratio=15)))
    timed("minhash_lsh", lambda: minhash_lsh_pairs(
        src.load(spark, sf_dir, "documents"), threshold=0.2, max_df=20))
    timed("cosine_topk", lambda: cosine_topk(
        src.load(spark, sf_dir, "embeddings"), n_queries=16, k=10))

    # streaming surface timed, not just parity-gated: end-to-end replay of
    # the windowed range join (file-source micro-batches with 0-second
    # watermark -> stateful tumbling-window count agg -> memory sink), the
    # reference's QueryResultPF stage shape, on DETERMINISTIC 1/10 slices
    # (xxhash64 mod) of both sides.  Reported under its OWN "streaming"
    # key, NOT inside "queries"/"value": the replay's wall time is
    # dominated by per-micro-batch scheduling fixed costs, which this
    # shared host swings 2-5x between samples (observed 27-146 s for the
    # same workload, BENCH/BASELINE.md) — folding that noise into the
    # round-over-round headline total would drown the batch signal.  The
    # row still moves on real streaming regressions (state growth,
    # watermark stalls, planning bloat); judge it against its own
    # documented band.
    from distributed_spatial_index_spark.streaming.replay import replay_stream
    from distributed_spatial_index_spark.streaming.stream_join import (
        streaming_point_range_join,
    )

    sliced = pts.filter(
        F.pmod(F.xxhash64(F.col("id")), F.lit(10)) == 0
    ).withColumn("ts", F.timestamp_millis(F.col("ts")))
    sliced_qs = qs.filter(
        F.pmod(F.xxhash64(F.col("query_id")), F.lit(10)) == 0
    ).persist()
    sliced_qs.count()
    n_stream_docs = sliced.count()
    stream_probe = host_probe()
    # State partitions are a STREAM-VOLUME knob, not a core-count knob:
    # every micro-batch commits state for all spark.sql.shuffle.partitions
    # state stores, so oversized state partitioning is pure per-batch fixed
    # cost (at 32 it dominated this ~60k-doc replay).  Size to the stream:
    # 8 measured 15.7 s vs 18.6 s at 32 (3-round interleaved minima, same
    # rows) — the same sizing rule a real deployment applies per query via
    # the conf at stream start.  Session value restored for any later rows.
    batch_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = time.perf_counter()
    try:
        replay_stream(
            spark, sliced, lambda s: streaming_point_range_join(s, sliced_qs),
            n_chunks=4,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_shuffle)
    stream_sec = round(time.perf_counter() - t0, 4)
    # release the replay's cached query slice so it doesn't occupy executor
    # storage while the totals (and any later-added rows) are computed
    sliced_qs.unpersist()

    total = round(sum(timings.values()), 4)
    core = timings["range_join"] + timings["tile_assignment"]
    print(
        json.dumps(
            {
                "metric": "spatial_join_tile_assignment",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_docs": n_docs,
                "docs_per_sec": round(n_docs / core, 1) if core > 0 else None,
                "streaming": {
                    "windowed_replay_sec": stream_sec,
                    "stream_docs": n_stream_docs,
                    "stream_docs_per_sec": round(n_stream_docs / stream_sec, 1),
                    "probe": stream_probe,
                },
                "cpus": cpus,
                # self-certification block (r4 verdict ask #1): the host-
                # contention probe reference, the run-bracketing samples,
                # and per-row {best, n_runs, runs, probe} — a contended
                # artifact is now adjudicable from this JSON alone
                "probe_ref_sec": PROBE_REF_SEC,
                "probe_start": probe_start,
                "probe_end": host_probe(),
                "query_detail": detail,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
