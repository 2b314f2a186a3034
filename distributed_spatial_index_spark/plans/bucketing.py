"""Bucketed storage: the shuffle-free co-located spatial join.

The engine has three physical regimes for the cell equi-join:

- query side small  -> broadcast join, doc side never shuffles
  (operators/range_join.py);
- query side large, ad-hoc doc table -> both sides hash-shuffle on
  (cell, salt) with hot-cell salting (plans/partitioning.py) — pays a
  full shuffle of the doc side on EVERY query batch;
- query side large, doc table LANDED bucketed by cell (this module) ->
  SortMergeJoin with ZERO Exchange on the bucketed side(s): Spark reads
  each bucket as one partition, and EnsureRequirements recognizes the
  bucket spec as the join's required hash partitioning.

Skew note: bucketing moves the skew decision to INGEST — a hot cell hashes
to one bucket, buckets map 1:1 to scan partitions, and AQE's skew splitter
cannot break up a bucketed scan.  When a hot-cell list is known, write
with ``hot=``: the salt joins the bucket spec ((cell, salt)), reusing the
salting from plans/partitioning.py, and the hot cell's probe work lands in
n_salt co-located partitions with the join still Exchange-free.

At the 100-TB design point the third regime is the one that matters:
re-shuffling 100 TB per query batch is the dominant cost of the salted
plan, while bucketing pays the shuffle ONCE at ingest and amortizes it
over every subsequent batch (and over joins with OTHER tables bucketed on
the same cell key).  This is the parquet/session-catalog stand-in for an
Iceberg ``bucket(n, cell)`` partition transform — on a deployment the same
write is ``writeTo(t).partitionedBy(bucket(n, cell))`` and the bucket spec
lives in the real catalog; here ``saveAsTable`` records it in the session
catalog, which is exactly the metadata Spark's scan consults
(ref parity: the reference keeps its data co-located by keeping the
RC-trees resident per worker and migrating on map changes,
LocalTreePF.java:108-151; a storage engine gets the same co-location from
the table layout instead of resident state).

Bucket-count choice at scale: buckets are read one-per-partition (no AQE
coalesce/split inside a bucketed scan), so pick
``n_buckets ~ total_bytes / target_partition_bytes`` at ingest time —
e.g. ~100k buckets for 100 TB at 1 GiB — and keep it a multiple of the
executor count so the scan packs evenly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_spatial_index_spark.config import (
    DEFAULT_REGION,
    EPSILON,
    JOIN_BITS,
    Region,
)
from distributed_spatial_index_spark.functions.cells import cell_id_col
from distributed_spatial_index_spark.functions.geometry import rect_contains_point
from distributed_spatial_index_spark.functions.murmur3 import spark_bucket
from distributed_spatial_index_spark.operators.range_join import explode_query_cells
from distributed_spatial_index_spark.sources.metastore import (
    meta_commit,
    meta_read_arrow,
    meta_version,
)


def write_bucketed_points(
    points: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 32,
    bits: int = JOIN_BITS,
    region: Region = DEFAULT_REGION,
    hot: list[int] | None = None,
    n_salt: int = 8,
    coarse_bits: int | None = None,
) -> None:
    """points(id, x, y, ...) -> parquet table bucketed AND sorted by the
    routing cell (sortBy keeps each bucket file cell-clustered, so the SMJ
    sort is cheap and row-group stats stay selective).  ``path`` makes it
    an external table: data lives there, the bucket spec in the catalog.

    ``hot``: skew handling must be decided AT INGEST for a bucketed
    layout — a hot cell hashes to ONE bucket, buckets map 1:1 to scan
    partitions, and AQE cannot split a bucketed scan; so when a hot-cell
    list is known (hot_cells_from_density over a density grid at the SAME
    ``bits`` as this write — ids from another resolution match nothing and
    the salt silently stays 0), the salt becomes part of the
    bucket spec: docs bucket on (cell, salt) and the query side duplicates
    hot rows into all n_salt sub-keys (write_bucketed_query_cells with the
    same hot list).  Results are unchanged; the hot cell's probe work
    lands in n_salt co-located partitions instead of one.

    ``coarse_bits``: the UNIFIED layout (r4 verdict #3) — additionally
    hive-partition the table by the coarse Morton cell ``pcell``, derived
    as ``cell >> 2*(bits - coarse_bits)`` (an EXACT integer prefix of the
    fine Morton code — NOT re-derived from (x, y) at coarse resolution,
    whose float rounding could disagree at cell borders).  One table then
    carries BOTH landed capabilities: the bucket spec (Exchange-free
    recurring joins) and directory+bucket pruning for selective query
    batches (pruned_bucketed_point_range_join).  This is the parquet
    stand-in for an Iceberg table with a truncate/partition transform AND
    a bucket transform on the same schema.  Note each hive partition holds
    up to n_buckets files, so pick coarse_bits so that
    4^coarse_bits * n_buckets files stay row-group-sized at the target
    scale."""
    spark = points.sparkSession
    df = points.withColumn(
        "cell", cell_id_col(F.col("x"), F.col("y"), bits, region)
    )
    bucket_cols = ["cell"]
    if hot is not None:
        from distributed_spatial_index_spark.plans.partitioning import (
            hot_cell_lookup,
            salt_doc_side,
        )

        df = salt_doc_side(df, hot_cell_lookup(spark, hot), n_salt)
        bucket_cols = ["cell", "salt"]
    partition_cols: list[str] = []
    if coarse_bits is not None:
        if not 0 < coarse_bits < bits:
            raise ValueError(
                f"coarse_bits={coarse_bits} must be in (0, bits={bits})"
            )
        df = df.withColumn(
            "pcell", F.shiftright(F.col("cell"), 2 * (bits - coarse_bits))
        )
        partition_cols = ["pcell"]
    _write_bucketed(df, table, path, n_buckets, bucket_cols, partition_cols)
    _set_spec(spark, table, bits=bits, n_buckets=n_buckets,
              hot=hot, n_salt=n_salt, eps=None, region=region,
              kind="points", coarse_bits=coarse_bits, path=path)


def write_bucketed_query_cells(
    queries: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 32,
    bits: int = JOIN_BITS,
    region: Region = DEFAULT_REGION,
    eps: float = EPSILON,
    hot: list[int] | None = None,
    n_salt: int = 8,
) -> None:
    """queries(query_id, xmin..ymax) -> exploded (cell, query, rect) rows
    bucketed by cell with the SAME bucket count as the doc table, so the
    join needs no Exchange on either side.  This is the landed form of a
    large standing query set (the regime where broadcast is impossible).
    Pass the SAME ``hot``/``n_salt`` as the doc table's write to land the
    salted spec (hot rows duplicated into every salt sub-key)."""
    spark = queries.sparkSession
    df = explode_query_cells(queries, bits, region, eps)
    bucket_cols = ["cell"]
    if hot is not None:
        from distributed_spatial_index_spark.plans.partitioning import (
            hot_cell_lookup,
            salt_query_side,
        )

        df = salt_query_side(df, hot_cell_lookup(spark, hot), n_salt)
        bucket_cols = ["cell", "salt"]
    _write_bucketed(df, table, path, n_buckets, bucket_cols)
    _set_spec(spark, table, bits=bits, n_buckets=n_buckets,
              hot=hot, n_salt=n_salt, eps=eps, region=region,
              kind="query_cells", path=path)


def _write_bucketed(
    df: DataFrame, table: str, path: str, n_buckets: int,
    bucket_cols: list[str], partition_cols: list[str] | None = None,
) -> None:
    """The one write pipeline both table kinds share.  The repartition on
    the bucket columns first matters: repartition's hashpartitioning is the
    same Murmur3 pmod n_buckets as the bucket spec, so each write task
    holds exactly one bucket's rows and the table lands as n_buckets files
    instead of tasks x buckets tiny ones (measured: 2049 -> 32 files at 64
    input partitions).  This IS the ingest-time shuffle the layout
    amortizes.  With ``partition_cols`` (the unified layout) each task
    still holds whole buckets, so the table lands as one file per
    non-empty (hive partition, bucket) pair."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    (
        w.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def _hot_fingerprint(hot: list[int] | None) -> str:
    if hot is None:
        return "unsalted"
    import hashlib

    return hashlib.sha256(
        ",".join(str(int(h)) for h in sorted(hot)).encode()
    ).hexdigest()[:16]


# The logically-atomic layout spec (bits / buckets / salting / region /
# padding) is split across two independent write calls; every mismatch
# between them is a SILENT wrong answer (missed pairs) or a silently
# reinstated shuffle.  So each write records its spec as table properties
# and the join refuses mismatched tables loudly.  dsi.region matters as
# much as dsi.bits: the SAME (x, y) lands in a different cell id under a
# different region (TAXI-BJ vs DIDI-CD), so two region-mismatched tables
# would equi-join on incomparable keys and silently return missing/wrong
# matches.  dsi.kind ('points' / 'query_cells') is NOT in the equality set
# — the two sides legitimately differ — but each side is validated below.
_SPEC_KEYS = ("dsi.bits", "dsi.n_buckets", "dsi.salted", "dsi.n_salt",
              "dsi.hot_fp", "dsi.region")


def _region_fingerprint(region: Region) -> str:
    # repr round-trips doubles exactly, so regions differing in any bound
    # — by any ULP — fingerprint differently.
    return (f"{region.x_lo!r},{region.y_lo!r},"
            f"{region.x_hi!r},{region.y_hi!r}")


def _set_spec(spark, table, *, bits, n_buckets, hot, n_salt, eps, region,
              kind, coarse_bits=None, path=None) -> None:
    props = {
        "dsi.bits": str(bits),
        "dsi.n_buckets": str(n_buckets),
        "dsi.salted": "1" if hot is not None else "0",
        "dsi.n_salt": str(n_salt if hot is not None else 1),
        "dsi.hot_fp": _hot_fingerprint(hot),
        "dsi.region": _region_fingerprint(region),
        "dsi.kind": kind,
    }
    if eps is not None:
        props["dsi.eps"] = repr(float(eps))
    if coarse_bits is not None:
        props["dsi.coarse_bits"] = str(coarse_bits)
    if path is not None:
        # recorded so manifest/pruning helpers can find the data files
        # without the caller re-supplying the path (Iceberg: table location)
        props["dsi.path"] = path
    kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    if path is not None:
        _write_spec_file(spark, table, path, props)


def _write_spec_file(spark, table: str, path: str, props: dict) -> None:
    """Persist the serving spec NEXT TO THE DATA (``<path>/_spec``, atomic
    temp + rename): the catalog entry is session-scoped, so without this
    the data and manifest outlive the session but nothing can re-serve
    them — the table-format principle is that the catalog is a cache and
    the table's own metadata is the source of truth.
    attach_bucketed_table rebuilds the catalog entry from this file."""
    import json as _json
    import os as _os

    from distributed_spatial_index_spark.sources.metastore import _root

    cat = spark.table(table)
    bucket_cols = _bucket_cols(props)
    doc = {
        "props": props,
        "columns": [(f.name, f.dataType.simpleString())
                    for f in cat.schema.fields],
        "n_buckets": int(props["dsi.n_buckets"]),
        "bucket_cols": bucket_cols,
        "partition_cols": (["pcell"] if "dsi.coarse_bits" in props else []),
    }
    target = _os.path.join(_root(path), "_spec")
    tmp = f"{target}.tmp"
    with open(tmp, "w") as f:
        _json.dump(doc, f)
    _os.replace(tmp, target)


def attach_bucketed_table(spark: SparkSession, table: str, path: str) -> None:
    """Re-create the catalog entry for a landed bucketed table from the
    ``_spec`` file persisted at its path — the missing half of "the data
    outlives the session": a NEW session (or a session that lost its
    in-memory catalog) points this at the layout and every landed reader
    (bucketed/pruned joins, knn_landed, streaming append) serves it again
    with the exact ingest-time spec; no re-ingest, no re-shuffle.  This
    is the parquet stand-in for a table format's catalog registration
    (the snapshot pointer, not the catalog, is the source of truth).

    Refuses an existing catalog name loudly (attach is registration, not
    replacement — drop first if that is meant).  A RELOCATED layout
    attaches and joins fine (dsi.path is updated to the attach path),
    but its manifest records the ingest-time absolute file paths, so the
    freshness check fails LOUDLY until write_bucketed_manifest re-commits
    — the same rewrite Iceberg needs after a path migration."""
    import json as _json
    import os as _os

    from distributed_spatial_index_spark.sources.metastore import _root

    if spark.catalog.tableExists(table):
        raise ValueError(
            f"table {table} already exists in the catalog; attach "
            "registers a NEW name — drop the existing entry first if "
            "replacement is intended"
        )
    spec_file = _os.path.join(_root(path), "_spec")
    try:
        with open(spec_file) as f:
            doc = _json.load(f)
    except FileNotFoundError as exc:
        raise ValueError(
            f"{path} carries no _spec file — not a landed bucketed "
            "layout (or written before spec persistence); re-land it "
            "with write_bucketed_*"
        ) from exc
    cols = ", ".join(f"{n} {t}" for n, t in doc["columns"])
    bcols = ", ".join(doc["bucket_cols"])
    ddl = (
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"OPTIONS (path '{path}') "
    )
    if doc["partition_cols"]:
        ddl += f"PARTITIONED BY ({', '.join(doc['partition_cols'])}) "
    ddl += (
        f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
        f"INTO {doc['n_buckets']} BUCKETS"
    )
    spark.sql(ddl)
    if doc["partition_cols"]:
        # discover the hive partition directories (Iceberg needs no such
        # step — partitions live in its metadata; this is the parquet
        # stand-in's explicit recovery)
        spark.sql(f"MSCK REPAIR TABLE {table}")
    props = dict(doc["props"])
    # the layout may have been relocated since it was written: the attach
    # path, not the recorded one, is where the data (and the manifest
    # pointer, and the stream-commit marker) now live
    props["dsi.path"] = path
    kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    if props != doc["props"]:
        _write_spec_file(spark, table, path, props)


def _bucket_cols(spec: dict[str, str]) -> list[str]:
    return ["cell", "salt"] if spec["dsi.salted"] == "1" else ["cell"]


def _pcell_shift(spec: dict[str, str]) -> int:
    """Right shift from the fine cell to its coarse hive partition pcell."""
    return 2 * (int(spec["dsi.bits"]) - int(spec["dsi.coarse_bits"]))


def _spec_path(spec: dict[str, str], table: str) -> str:
    """The layout path a table's spec records (raises if it records none)."""
    if "dsi.path" not in spec:
        raise ValueError(
            f"table {table} records no dsi.path; rewrite it with the "
            "current write_bucketed_* functions"
        )
    return spec["dsi.path"]


def _get_spec(spark, table: str) -> dict[str, str]:
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    spec = {r["key"]: r["value"] for r in rows if r["key"].startswith("dsi.")}
    if not all(k in spec for k in _SPEC_KEYS + ("dsi.kind",)):
        raise ValueError(
            f"table {table} carries no (complete) bucket-layout spec; write "
            "it with write_bucketed_points / write_bucketed_query_cells "
            f"(found: {sorted(spec)})"
        )
    return spec


def bucketed_point_range_join(
    spark: SparkSession,
    points_table: str,
    queries_table: str,
    eps: float = EPSILON,
) -> DataFrame:
    """Range join over two tables pre-bucketed on the routing cell: same
    semantics as point_range_join (epsilon-rect refine + result-set dedup),
    but the only Exchange in the plan is the one that shuffles the (small)
    RESULT for dropDuplicates — the doc and query scans feed the join
    co-located.  If both tables carry the salted bucket spec (written with
    ``hot``), the join key is (cell, salt) and hot-cell probe work is
    spread across n_salt co-located partitions.  tests/test_bucketing.py
    asserts both the plan shape (exactly one Exchange, bucketed scans) and
    result equality with the broadcast join.

    The two tables' recorded specs must agree (same bits / bucket count /
    salting / hot list) and the refine ``eps`` must not exceed the padding
    the query cells were exploded with — every such mismatch would be a
    silent wrong answer or a silently reinstated shuffle, so this raises
    instead."""
    ps, qp = _validate_join_tables(spark, points_table, queries_table, eps)
    return _refine_dedup(
        spark.table(points_table), spark.table(queries_table), ps, eps
    )


def _validate_join_tables(spark, points_table, queries_table, eps):
    """Shared loud-failure validation for the bucketed joins: kind check
    first (a swapped/wrongly-written argument would otherwise surface as a
    confusing eps/spec error or a bare KeyError), then spec equality, then
    eps-vs-padding."""
    ps = _get_spec(spark, points_table)
    qp = _get_spec(spark, queries_table)
    for tbl, spec, want in (
        (points_table, ps, "points"),
        (queries_table, qp, "query_cells"),
    ):
        if spec["dsi.kind"] != want:
            raise ValueError(
                f"{tbl} was written as dsi.kind={spec['dsi.kind']!r} but is "
                f"passed as the {want!r} side of bucketed_point_range_join; "
                "arguments are (points_table, queries_table) — write the "
                "table with the matching write_bucketed_* function or swap "
                "the arguments"
            )
    diff = [k for k in _SPEC_KEYS if ps[k] != qp[k]]
    if diff:
        raise ValueError(
            f"bucket-layout spec mismatch between {points_table} and "
            f"{queries_table}: "
            + ", ".join(f"{k}: {ps[k]} != {qp[k]}" for k in diff)
            + " — rewrite one side with matching write_bucketed_* params"
        )
    if float(eps) > float(qp["dsi.eps"]):
        raise ValueError(
            f"join eps={eps} exceeds the eps={qp['dsi.eps']} the query "
            f"cells of {queries_table} were padded with; matches near cell "
            "borders would be silently missed — rewrite the query table "
            "with the larger eps"
        )
    return ps, qp


def _refine_dedup(pts, q, ps, eps):
    """The co-located join body: equi-join on the bucketed key, epsilon
    refine, result-set dedup."""
    joined = pts.join(q, _bucket_cols(ps)).filter(
        rect_contains_point(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            F.col("x"), F.col("y"), eps,
        )
    )
    return (
        joined.select("query_id", F.col("id").alias("doc_id"))
        .dropDuplicates(["query_id", "doc_id"])
    )


# --- Unified layout: manifest + pruned co-located join (r4 verdict #3) ------
#
# With ``coarse_bits`` set at write time, ONE table carries both landed
# capabilities that rounds 1-4 proved separately: the bucket spec
# (Exchange-free recurring joins, this module) and file skipping
# (sources/layout.py's manifest architecture).  The pruned join below keeps
# the scan going THROUGH the catalog table (so the bucket spec — and hence
# the Exchange-free plan — survives) and prunes with literal filters the
# planner turns into directory pruning (PartitionFilters on pcell) and
# bucket pruning (SelectedBucketsCount from the InSet on the bucket
# column).  The manifest is the metadata witness: per-file
# (pcell, bucket, cell range, rows), the same stats an Iceberg manifest
# carries, used here to report files_scanned/files_total without touching
# the data.


def write_bucketed_manifest(spark: SparkSession, table: str) -> None:
    """Per-file manifest for a bucketed table, committed atomically under
    ``<dsi.path>/_meta`` via the versioned metadata pointer
    (sources/metastore.py): (file_path, pcell?, bucket, cell_min,
    cell_max, n_rows).  ``bucket`` is recorded twice-independently — from
    the bucket-hash expression (pmod(hash(bucket_cols), n)) and parsed
    from Spark's bucket-file naming (``..._NNNNN.c000``) — and the write
    FAILS if any file disagrees, so the hash-parity assumption behind
    bucket pruning is verified at ingest, not trusted.  A file with NO
    bucket id in its name is flagged too — it means someone appended
    plain parquet to the table path, which breaks the bucketed-scan
    contract itself, not just the manifest.

    For ``kind='points'`` tables the same single table scan ALSO commits
    the per-cell density summary (committed in the SAME version as the
    manifest, so the pair can never tear) — ``density``: (cell at
    dsi.bits, n) that knn_landed's round-1 radius reads — both metadata
    artifacts come from one pass (one (file, cell)-grained aggregation,
    two tiny rollups), so at ingest scale the table is read once, and
    both share one freshness domain (the manifest-vs-listing check)."""
    spec = _get_spec(spark, table)
    path = _spec_path(spec, table)
    from distributed_spatial_index_spark.plans.delete import (
        assert_no_pending_delete,
    )

    # a crashed copy-on-write delete leaves retained-row copies beside
    # the originals; manifesting that state would double-count — refuse
    # until resume_bucketed_delete settles it
    assert_no_pending_delete(table, path)
    # drop the cached file index: files INSERTed (or illegitimately
    # appended) since the table was last planned must be manifested
    spark.catalog.refreshTable(table)
    from distributed_spatial_index_spark.sources.layout import (
        list_data_files,
    )

    files = list_data_files(spark, path)
    if not files:
        raise ValueError(
            f"table {table} has no data files at {path} — "
            "nothing to manifest"
        )
    # _stats_for_files runs the same pollution checks (bucket parity,
    # naming, partition span) as the incremental repair, so the full and
    # incremental paths cannot drift
    per, man_rows = _stats_for_files(spark, spec, table, files)
    try:
        artifacts = {"manifest": man_rows.coalesce(1)}
        if spec.get("dsi.kind") == "points":
            artifacts["density"] = (
                per.groupBy("cell").agg(F.sum("n").alias("n")).coalesce(1)
            )
        # one atomic commit for BOTH artifacts (sources/metastore.py): a
        # reader can never pair a fresh manifest with a stale density
        meta_commit(path, artifacts)
    finally:
        per.unpersist()


def compact_bucketed_table(
    spark: SparkSession, table: str, new_path: str
) -> tuple[int, int]:
    """Compaction — the parquet stand-in for Iceberg's rewrite_data_files
    + snapshot swap.  Streaming appends (streaming/land.py) add up to
    n_buckets files per touched hive partition per micro-batch; this
    rewrites the table's rows into fresh full-size bucket files at
    ``new_path`` (one file per non-empty (pcell, bucket) pair again),
    swaps the catalog table onto them with the SAME spec (every dsi.*
    property is carried over verbatim, only dsi.path changes — the rows
    already carry cell/salt/pcell, so nothing is re-derived), and
    re-manifests.  Returns (files_before, files_after).

    The OLD path is left on disk — the snapshot-retire analogue: readers
    that resolved the table before the swap keep a consistent view of the
    old files; the caller deletes the old path once they drain.  Cost is
    one table scan plus the ingest shuffle, i.e. the same bill as the
    original landing — paid when file-count debt says so, not per batch.
    """
    from distributed_spatial_index_spark.sources.layout import (
        list_data_files,
    )

    spec = _get_spec(spark, table)
    path = _spec_path(spec, table)
    if path == new_path:
        raise ValueError(
            "compaction writes a NEW path and swaps (read-old-write-new); "
            "in-place rewrite would race its own scan"
        )
    from distributed_spatial_index_spark.plans.delete import (
        assert_no_pending_delete,
    )

    # harder failure class than the manifest writers': compaction reads
    # the path DIRECTLY, so an unsettled delete's retained-row copies
    # would be rewritten into the new layout as permanent duplicate DATA
    # (and the journal would not follow the swap)
    assert_no_pending_delete(table, path)
    files_before = len(list_data_files(spark, path))
    # read the OLD files by path, not through the catalog: _write_bucketed
    # drops the catalog entry before writing, and a catalog-resolved plan
    # would re-resolve against the dropped name at action time.  Path
    # reads also make the read-old-write-new contract explicit.
    df = spark.read.parquet(path)
    partition_cols = ["pcell"] if "dsi.coarse_bits" in spec else []
    _write_bucketed(
        df, table, new_path, int(spec["dsi.n_buckets"]), _bucket_cols(spec),
        partition_cols,
    )
    props = {k: v for k, v in spec.items() if k.startswith("dsi.")}
    props["dsi.path"] = new_path
    kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    # the attach contract follows the table across the swap too: the new
    # path must be self-describing without the (session-scoped) catalog
    _write_spec_file(spark, table, new_path, props)
    write_bucketed_manifest(spark, table)
    # a stream-landed table's idempotent-commit marker must survive the
    # swap, or a post-compaction crash replay would re-insert its batch
    from distributed_spatial_index_spark.streaming.land import (
        read_stream_commit,
        write_stream_commit,
    )

    commit = read_stream_commit(path)
    if commit is not None:
        write_stream_commit(new_path, *commit)
    return files_before, len(list_data_files(spark, new_path))


def update_bucketed_manifest(spark: SparkSession, table: str) -> int:
    """INCREMENTAL manifest/density maintenance — the Iceberg-snapshot
    analogue of write_bucketed_manifest: read ONLY the data files
    appended since the last manifest write (e.g. by ``INSERT INTO``) and
    merge them in with repair_bucketed_metadata (same pollution checks
    as the full write; no Spark job).  Returns the number of files
    merged (0 = already fresh).  At the 100-TB design point an append
    then costs a read of the appended files, not a full-table rescan.

    A manifested file gone from disk raises toward the full rewrite:
    per-cell density cannot be un-summed from per-file ranges."""
    from distributed_spatial_index_spark.sources.layout import list_data_files

    spec = _get_spec(spark, table)
    path = _spec_path(spec, table)
    from distributed_spatial_index_spark.plans.delete import (
        assert_no_pending_delete,
    )

    # same double-count guard as write_bucketed_manifest: a crashed
    # delete's retained-row copies must not be merged while the original
    # files still hold the same rows
    assert_no_pending_delete(table, path)
    try:
        known = manifested(meta_read_arrow(path, "manifest"))
    except ValueError as exc:
        raise ValueError(
            f"{table} has no manifest to update; run "
            "write_bucketed_manifest first"
        ) from exc
    listing = list_data_files(spark, path)
    missing = sorted(known - set(listing))
    if missing:
        raise ValueError(
            f"{len(missing)} manifested file(s) of {table} no longer "
            f"exist (e.g. {missing[0]}): removals cannot be merged "
            "incrementally — re-run write_bucketed_manifest"
        )
    new = [f for f in listing if f not in known]
    if new:
        repair_bucketed_metadata(table, spec, [], new)
    return len(new)


def repair_bucketed_metadata(
    table: str,
    spec: dict[str, str],
    removed: list[str],
    added: list[str],
    dec: pd.Series | None = None,
    inc: pd.Series | None = None,
) -> int:
    """The ONE incremental metadata repair of append (update_bucketed_
    manifest, so streaming land), copy-on-write delete and upsert: drop
    the manifest rows of the ``removed`` files (spelled as the manifest
    spells them), add rows for the ``added`` files (normalized paths),
    apply the per-cell density deltas and commit both as ONE version,
    which it returns.  No Spark job: pyarrow reads the old artifacts and
    the added files' bucket columns (bounded by the affected bytes) and
    the commit writes Arrow tables with the old schema.  ``dec``/``inc``
    count per cell the rows that left/entered the table; ``inc=None``
    means the added files hold exactly the entering rows (an append).
    A decrement the density cannot cover means it was stale: raise."""
    path = spec["dsi.path"]
    v = meta_version(path)
    man = meta_read_arrow(path, "manifest", v)
    drifted = sorted(set(removed) - set(man["file_path"].to_pylist()))
    if drifted:
        raise ValueError(
            f"manifest file_path spelling drifted for {table}: "
            f"{len(drifted)} affected file(s) missing from the manifest "
            f"(e.g. {drifted[0]}) — re-run write_bucketed_manifest "
            "(resume_bucketed_delete settles the journal)"
        )
    if removed:
        man = man.filter(pc.invert(pc.is_in(
            man["file_path"], value_set=pa.array(removed, pa.string())
        )))
    rows, cells = _file_stats(spec, added)
    _check_file_rows(table, spec, rows)
    new = pa.Table.from_pydict(
        {c: rows[c].to_numpy() for c in man.schema.names}, schema=man.schema
    )
    arts = {"manifest": pa.concat_tables([man, new])}
    if spec.get("dsi.kind") == "points":
        dens = meta_read_arrow(path, "density", v)
        old = pd.Series(dens["n"].to_numpy(), index=dens["cell"].to_numpy())
        dec = pd.Series(dtype="int64") if dec is None else dec
        inc = cells if inc is None else inc
        n = pd.concat([old, -dec, inc]).groupby(level=0).sum()
        if (~dec.index.isin(old.index)).any() or (n < 0).any():
            raise ValueError(
                f"density summary of {table} disagrees with the removed "
                "rows (cells missing or over-decremented) — the summary "
                "was stale despite the freshness check; re-run "
                "write_bucketed_manifest"
            )
        n = n[n > 0]
        arts["density"] = pa.Table.from_pydict(
            {"cell": n.index.to_numpy(), "n": n.to_numpy()},
            schema=dens.schema,
        )
    return meta_commit(path, arts)


def _file_stats(
    spec: dict[str, str], files: list[str]
) -> tuple[pd.DataFrame, pd.Series]:
    """Per-file manifest rows and per-cell counts of data files, read with
    pyarrow (bucket columns only); ``bucket``/``_bmax`` are the smallest/
    largest bucket id under the NumPy port of Spark's hash, and
    ``file_path`` is spelled as ``_metadata.file_path`` spells it."""
    n = int(spec["dsi.n_buckets"])
    cols = _bucket_cols(spec)
    recs, cells = [], []
    for f in files:
        t = pq.ParquetFile(f"/{f}").read(columns=cols)
        if not t.num_rows:
            continue
        b = spark_bucket(n, *(t[c] for c in cols))
        c = t["cell"].to_numpy()
        recs.append((f"file:/{f}", b.min(), b.max(), c.min(), c.max(), len(c)))
        cells.append(c)
    rows = pd.DataFrame(recs, columns=[
        "file_path", "bucket", "_bmax", "cell_min", "cell_max", "n_rows"])
    if "dsi.coarse_bits" in spec:
        rows["pcell"] = rows["cell_min"].to_numpy() >> _pcell_shift(spec)
    counts = pd.Series(
        np.concatenate(cells) if cells else np.empty(0, np.int64)
    ).value_counts()
    return rows, counts


def _check_file_rows(table: str, spec: dict[str, str], rows: pd.DataFrame):
    """The pollution checks, in one place, over per-file rows (file_path,
    bucket, _bmax, cell_min, cell_max) from either stats path: a file sits
    in one hive partition (its cells share the coarse prefix pcell IS),
    holds one bucket id, and carries it in Spark's bucket-file name
    (``..._NNNNN.c000``).  No id in the name means plain parquet was
    appended to the table path, breaking the bucketed scan itself."""
    if "dsi.coarse_bits" in spec:
        shift = _pcell_shift(spec)
        span = int(np.sum(
            (rows["cell_min"].to_numpy() >> shift)
            != (rows["cell_max"].to_numpy() >> shift)
        ))
        if span:
            raise ValueError(
                f"{span} file(s) of {table} span hive partitions — "
                "not written by this layout's writers"
            )
    name = pd.to_numeric(
        rows["file_path"].str.extract(r"_(\d{5})\.", expand=False)
    )
    bad = int((
        name.isna()
        | (rows["bucket"] != rows["_bmax"])
        | (rows["bucket"] != name)
    ).sum())
    if bad:
        raise ValueError(
            f"{bad} file(s) of {table} mix bucket ids or disagree with "
            "the bucket-file naming — not written through the table's "
            "bucketed writers (INSERT INTO / write_bucketed_*), or the "
            "bucket-hash parity assumption broke"
        )


def _stats_for_files(
    spark: SparkSession,
    spec: dict[str, str],
    table: str,
    files: list[str],
) -> tuple[DataFrame, DataFrame]:
    """The FULL-scan stats behind write_bucketed_manifest (so compaction
    too), by Spark, since the density needs a table scan.  The per-file
    rows are collected once and go through _check_file_rows; reading by
    path (never a bucketed scan) sidesteps the cryptic INVALID_BUCKET_FILE
    a polluted path would throw first.  Returns ``(per, man_rows)``: the
    persisted (file, cell) counts (the caller unpersists them) and the
    JVM-side manifest frame over them (a createDataFrame relation would
    pull each partition through a Python worker on every action)."""
    n = int(spec["dsi.n_buckets"])
    bucket = F.pmod(F.hash(*_bucket_cols(spec)), F.lit(n))
    df = spark.read.parquet(*[f"/{f}" for f in files])
    per = (
        df.groupBy(
            F.col("_metadata.file_path").alias("file_path"), F.col("cell")
        )
        .agg(
            F.min(bucket).alias("_bmin"),
            F.max(bucket).alias("_bmax"),
            F.count(F.lit(1)).alias("n"),
        )
        .persist()
    )
    man_rows = per.groupBy("file_path").agg(
        F.min("_bmin").alias("bucket"),
        F.max("_bmax").alias("_bmax"),
        F.min("cell").alias("cell_min"),
        F.max("cell").alias("cell_max"),
        F.sum("n").alias("n_rows"),
    )
    try:
        _check_file_rows(table, spec, man_rows.toPandas())
    except ValueError:
        per.unpersist()
        raise
    man_rows = man_rows.drop("_bmax")
    if "dsi.coarse_bits" in spec:
        man_rows = man_rows.withColumn(
            "pcell", F.shiftright(F.col("cell_min"), _pcell_shift(spec))
        )
    return per, man_rows


def manifested(man: pa.Table) -> set[str]:
    """The data files (normalized paths) a manifest records."""
    from distributed_spatial_index_spark.sources.layout import _norm_file_path

    return {_norm_file_path(f) for f in man["file_path"].to_pylist()}


def assert_manifest_fresh(
    spark: SparkSession,
    table: str,
    spec: dict[str, str],
    version: int | None = None,
) -> pa.Table:
    """Raise if the table path holds data files the manifest doesn't know
    about (appended since the last manifest commit) — manifest and
    density are always committed together, so this single check covers
    both.  Pure metadata, no Spark job: a file listing vs the manifest's
    file_path column read with pyarrow.  Returns the manifest (of
    ``version``, default the current one) it checked."""
    from distributed_spatial_index_spark.sources.layout import list_data_files

    man = meta_read_arrow(spec["dsi.path"], "manifest", version)
    known = manifested(man)
    unknown = [
        f for f in list_data_files(spark, spec["dsi.path"]) if f not in known
    ]
    if unknown:
        raise ValueError(
            f"manifest of {table} is stale: {len(unknown)} data "
            f"file(s) missing (e.g. {unknown[0]}); re-run "
            "write_bucketed_manifest"
        )
    return man


def pruned_bucketed_point_range_join(
    spark: SparkSession,
    points_table: str,
    queries_table: str,
    eps: float = EPSILON,
    max_prune_cells: int = 20_000,
    with_stats: bool = True,
) -> DataFrame:
    """bucketed_point_range_join for SELECTIVE query batches over the
    unified layout: same results, same Exchange-free co-located join, but
    the points scan is narrowed with literal filters derived from the
    landed query table — ``pcell IN (coarse cells)`` prunes whole hive
    directories at planning time and ``cell IN (wanted cells)`` prunes
    buckets (SelectedBucketsCount) plus parquet row groups (files are
    sorted by cell).  Both filters only remove rows whose cell no query
    covers, so the equi-join result is unchanged.

    The wanted-cell set is the DISTINCT cells of the landed query table —
    bounded by 4^bits regardless of query count; above ``max_prune_cells``
    the fine filter is skipped (a non-selective batch reads the table
    anyway) and only directory pruning applies.  Fine-cell bucket pruning
    is unavailable for salted specs (the bucket key is (cell, salt));
    directory pruning still applies.

    If the table has a manifest (write_bucketed_manifest), the result
    carries ``.prune_stats`` = {files_scanned, files_total, n_wanted_cells,
    fine_pruned} computed from metadata alone — files_scanned is the
    directory+bucket-level count, exactly the files the pruned scan opens.

    ``with_stats=False`` skips the manifest read, freshness listing, and
    stats counts — pure diagnostics, computed on the driver with no Spark
    job (the scan's correctness never depends on the manifest: it goes
    through the catalog table, and the prune filters derive from the
    query table); keep them on when auditing what a layout is actually
    skipping.
    """
    ps, qp = _validate_join_tables(spark, points_table, queries_table, eps)
    pts = spark.table(points_table)
    q = spark.table(queries_table)

    wanted = [
        r["cell"]
        for r in q.select("cell").distinct().limit(max_prune_cells + 1).collect()
    ]
    fine_ok = len(wanted) <= max_prune_cells and ps["dsi.salted"] != "1"
    coarse: list[int] | None = None
    if "dsi.coarse_bits" in ps:
        shift = _pcell_shift(ps)
        if len(wanted) <= max_prune_cells:
            coarse = sorted({c >> shift for c in wanted})
        else:
            # fine set too big to collect — the coarse distinct is still
            # bounded by 4^coarse_bits, so derive it directly
            coarse = sorted(
                r["pc"]
                for r in q.select(
                    F.shiftright(F.col("cell"), shift).alias("pc")
                ).distinct().collect()
            )
        pts = pts.filter(F.col("pcell").isin(coarse))
    if fine_ok:
        pts = pts.filter(F.col("cell").isin(wanted))
    out = _refine_dedup(pts, q, ps, eps)

    stats = {
        "n_wanted_cells": len(wanted) if fine_ok else None,
        "fine_pruned": fine_ok,
        "coarse_pruned": coarse is not None,
    }
    if (with_stats and "dsi.path" in ps
            and meta_version(ps["dsi.path"]) is not None):
        # same freshness discipline as sources/layout.py: a data file the
        # manifest doesn't know about means the stats below would misreport
        # (the scan itself stays correct — it goes through the catalog)
        man = assert_manifest_fresh(spark, points_table, ps)
        sel = np.ones(man.num_rows, dtype=bool)
        if coarse is not None:
            sel &= np.isin(man["pcell"].to_numpy(), coarse)
        if fine_ok:
            # the landed cell is a bigint, so its bucket is hashLong's
            wb = spark_bucket(
                int(ps["dsi.n_buckets"]), np.asarray(wanted, dtype=np.int64)
            )
            sel &= np.isin(man["bucket"].to_numpy(), wb)
        stats["files_total"] = man.num_rows
        stats["files_scanned"] = int(sel.sum())
    out.prune_stats = stats
    return out


def physical_plan_str(df: DataFrame) -> str:
    """The physical plan as a string (pre-execution; with AQE this is the
    initial plan, which is where Exchange placement is decided — AQE can
    coalesce or replan an Exchange but never removes a bucketed scan's
    exemption)."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffles (``ShuffleExchangeExec`` nodes) in the plan — the
    quantity bucketing exists to minimize.  Walks the adaptive plan's
    CURRENT physical plan: the final one once an action has run (its
    query stages are stepped into), the initial one before.  A plan
    string would count every shuffle twice after execution, since it
    then prints both the final and the initial plan.  BroadcastExchange
    is deliberately NOT counted (a broadcast build is not the per-row
    shuffle this module optimizes away; pin auto-broadcast off if
    asserting the shuffled regime), and a ReusedExchange is a leaf, so a
    reused shuffle is counted once."""
    n, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            n += cls == "ShuffleExchangeExec"
            ch = node.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))
    return n
