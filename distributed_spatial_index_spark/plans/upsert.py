"""Copy-on-write MERGE (upsert) over the landed bucketed layout.

The layout's fifth data-lifecycle verb, completing APPEND
(streaming/land.py), COMPACT (plans/bucketing.compact_bucketed_table),
ATTACH (plans/bucketing.attach_bucketed_table) and DELETE
(plans/delete.py).  A 100-TB training corpus upserts continuously —
re-crawled documents replacing stale versions, dedup winners replacing
losers, corrected geocodes — and the bill is the same copy-on-write one
as the delete's: rewrite ONLY the files that hold matched rows, cost
proportional to the affected bytes, never to the table (Iceberg's
copy-on-write MERGE / Delta's file-replacement MERGE; the merge-on-read
alternative trades write cost for a per-read anti-join this layout does
not stand in for).

Semantics: ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
THEN INSERT *`` — every existing row whose ``key`` appears in the batch
is REPLACED by the batch's (single — duplicates refused) row for that
key; batch rows with unmatched keys are inserted.  A table holding
several rows under one key has ALL of them replaced by the one batch
row, which is the only deterministic reading.

Protocol — the delete's, with the batch folded into the retained
insert (shared journal + shared crash settlement):

1. PLAN — the batch is derived (cell/pcell, exactly as ingest derives
   them) and localCheckpoint-ed, so every later step reads ONE
   materialization of it (a non-deterministic batch source cannot
   re-roll between the match scan and the insert); one grouped collect
   of it gives the key hygiene and the per-cell increments.  One scan
   of the table joined to the batch keys, collected to the driver,
   yields the affected file set and the per-(file, cell) replaced
   counts.
2. JOURNAL phase 1 — the delete's ``_delete_pending`` journal (op:
   "upsert"), so the manifest writers refuse until the upsert settles
   and a crashed upsert settles through the SAME resume_bucketed_delete
   path (journal semantics are identical: affected files must die,
   unjournaled new files are the committed insert).
3. INSERT — the affected files' UNMATCHED rows (read back by path,
   anti-joined on the batch keys) plus the WHOLE batch, in one
   bucketed INSERT INTO.
4. JOURNAL phase 2, 5. REMOVE originals — exactly the delete's.
6. REPAIR — the delete's: plans/bucketing.repair_bucketed_metadata on
   the driver, no Spark job, one atomic metadata commit.  Affected
   manifest rows drop, new files' rows merge in, and the density
   summary takes the replaced rows' per-cell decrements AND the batch's
   per-cell increments — an update that MOVES a point re-cells it
   correctly.

Crash settlement: ``resume_bucketed_delete`` verbatim — phase 1 with no
committed insert means the table is untouched (re-run the upsert); any
later window removes the surviving affected files and re-manifests
fully, leaving retained + batch rows exactly once.

Concurrent-reader visibility: between INSERT and REMOVE a reader sees
both the original affected files and the new ones — i.e. BOTH the old
and the NEW version of a matched key, with CONFLICTING values.  This is
a wider window than the delete's (whose transient duplicates carry
identical values and collapse under result-set dedup).  True snapshot
isolation for concurrent readers is the table-format feature the
versioned ``_meta`` pointer stands in for; until then, run readers
either before the journal opens or after settlement (the journal makes
the in-between state detectable, not invisible).

At the 100-TB design point the match scan broadcasts the batch keys
(a micro-batch against the corpus); a corpus-scale batch falls back to
a shuffled key join, the same plan a table format's MERGE executes.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_spatial_index_spark.functions.cells import cell_id_col
from distributed_spatial_index_spark.plans.bucketing import (
    _get_spec,
    _pcell_shift,
    _region_fingerprint,
    _spec_path,
    repair_bucketed_metadata,
)
from distributed_spatial_index_spark.plans.delete import (
    _clear_journal,
    _write_journal,
    assert_no_pending_delete,
    require_fresh_manifest,
)
from distributed_spatial_index_spark.sources.layout import (
    _local_root,
    _norm_file_path,
    list_data_files,
)
from distributed_spatial_index_spark.sources.metastore import meta_version

from distributed_spatial_index_spark.config import DEFAULT_REGION, Region

# past this many batch keys the match scan stops broadcasting them and
# shuffles the table on the key instead — the same regime switch every
# MERGE implementation makes when the source outgrows a hash side
MAX_BROADCAST_KEYS = 4_000_000

_DERIVED = {"cell", "pcell", "salt"}


def upsert_into_bucketed_table(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
    key: str = "id",
    region: Region = DEFAULT_REGION,
    _fail_after: str | None = None,
) -> dict:
    """MERGE ``batch`` into the landed bucketed points ``table`` by
    ``key``: matched rows are replaced, unmatched batch rows inserted,
    rewriting only the files that hold matched rows.  Returns
    ``{files_rewritten, files_new, rows_replaced, rows_inserted,
    meta_version, timings}`` (rows_inserted counts the whole batch —
    every batch row lands; rows_replaced counts the table rows that
    died for it).  An EMPTY batch is a no-op and returns the zeroed
    counters WITHOUT ``timings`` (nothing ran to time; the shape is
    pinned by test_upsert_empty_batch_is_a_noop).

    Preconditions, all loud: the table carries the bucket-layout spec
    with a local ``dsi.path`` and ``dsi.kind='points'``; it is UNSALTED
    (a salted spec records only the hot-list fingerprint, so new rows'
    salt cannot be re-derived — the same reason streaming ingest
    refuses salted layouts); ``region`` matches the spec's (the batch's
    cells must live in the table's cell space); no unsettled
    delete/upsert is journaled; a manifested table must be EXACTLY
    fresh; the batch's columns are exactly the table's data columns
    (minus the derived cell/pcell); and the batch's keys are unique and
    non-null.

    ``_fail_after`` is a TEST-ONLY crash-injection point ("journal1",
    "insert", "journal2", "remove"); every window settles through
    resume_bucketed_delete."""

    def _chk(step: str) -> None:
        if _fail_after == step:
            raise RuntimeError(f"injected crash after {step}")

    _t0 = time.perf_counter()
    timings: dict[str, float] = {}

    def _mark(step: str) -> None:
        nonlocal _t0
        now = time.perf_counter()
        timings[step] = round(now - _t0, 3)
        _t0 = now

    spec = _get_spec(spark, table)
    path = _spec_path(spec, table)
    if _local_root(path) is None:
        raise NotImplementedError(
            "the copy-on-write journal is the local-filesystem stand-in "
            "for a table format's atomic snapshot commit; merge into "
            "non-local layouts through Iceberg/Delta"
        )
    if spec.get("dsi.kind") != "points":
        raise ValueError(
            f"upsert_into_bucketed_table targets points tables; {table} "
            f"is dsi.kind={spec.get('dsi.kind')!r}"
        )
    if spec["dsi.salted"] == "1":
        raise ValueError(
            f"table {table} is salted: the spec records only the hot-list "
            "fingerprint, so the batch rows' salt cannot be re-derived — "
            "re-land through write_bucketed_points (same restriction as "
            "streaming ingest)"
        )
    if _region_fingerprint(region) != spec["dsi.region"]:
        raise ValueError(
            f"region mismatch: {table} was landed under "
            f"dsi.region={spec['dsi.region']} but the caller passed "
            f"{_region_fingerprint(region)} — the batch's cells would "
            "land in the wrong cell space"
        )
    assert_no_pending_delete(table, path)
    spark.catalog.refreshTable(table)

    target = spark.table(table)
    table_cols = target.columns
    data_cols = [c for c in table_cols if c not in _DERIVED]
    if set(batch.columns) != set(data_cols):
        raise ValueError(
            f"batch columns {sorted(batch.columns)} must be exactly the "
            f"table's data columns {sorted(data_cols)} (cell/pcell are "
            "derived here, as at ingest)"
        )
    if key not in data_cols:
        raise ValueError(
            f"key {key!r} is not a data column of {table} ({data_cols})"
        )

    listing = list_data_files(spark, path)
    has_manifest = require_fresh_manifest(table, path, listing)
    _mark("preflight")

    # derive + ONE materialization of the batch: every later consumer
    # (key hygiene, match scan, insert) reads the checkpoint, so a
    # non-deterministic batch source cannot re-roll between the match
    # scan and the insert
    bits = int(spec["dsi.bits"])
    newb = batch.withColumn(
        "cell", cell_id_col(F.col("x"), F.col("y"), bits, region)
    )
    if "dsi.coarse_bits" in spec:
        newb = newb.withColumn(
            "pcell", F.shiftright(F.col("cell"), _pcell_shift(spec))
        )
    newb = newb.localCheckpoint(eager=False)
    # ONE action for the key hygiene AND the density increments: the
    # per-cell rows carry the counts, the rollup's grand-total row the
    # batch-wide distinct-key and NULL-key counts
    g = newb.rollup("cell").agg(
        F.grouping("cell").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("n_keys"),
        F.count_if(F.col(key).isNull()).alias("n_null"),
    ).toPandas()
    if g.empty:
        return {
            "files_rewritten": 0, "files_new": 0, "rows_replaced": 0,
            "rows_inserted": 0, "meta_version": meta_version(path),
        }
    hygiene = g[g["total"] == 1].iloc[0]
    batch_n = int(hygiene["n"])
    if hygiene["n_null"]:
        raise ValueError(
            f"batch holds {hygiene['n_null']} NULL {key}(s): a NULL key "
            "matches nothing and cannot be merged deterministically"
        )
    if int(hygiene["n_keys"]) != batch_n:
        raise ValueError(
            f"batch holds duplicate {key}s ({batch_n} rows, "
            f"{hygiene['n_keys']} distinct): WHEN MATCHED THEN UPDATE is "
            "ambiguous under duplicate source keys — dedup the batch first"
        )
    inc = g[g["total"] == 0].set_index("cell")["n"]
    _mark("batch_checkpoint")

    # 1. PLAN: one scan of the matched rows, collected to the driver as
    # per-(file, cell) replaced counts (at most files x cells rows): the
    # affected set, rows_replaced and the density decrements, in a copy
    # that outlives the unlink in step 5
    bkeys = newb.select(key)
    if batch_n <= MAX_BROADCAST_KEYS:
        bkeys = F.broadcast(bkeys)
    per = (
        target.select(
            F.col("_metadata.file_path").alias("file_path"), "cell", key
        )
        .join(bkeys, key)
        .groupBy("file_path", "cell")
        .agg(F.count(F.lit(1)).alias("n_del"))
        .toPandas()
    )
    affected_raw = sorted(per["file_path"].unique())
    affected_norm = [_norm_file_path(f) for f in affected_raw]
    rows_replaced = int(per["n_del"].sum())
    _mark("plan_scan")

    # 2. JOURNAL phase 1 — the manifest writers refuse until settlement
    _write_journal(
        path,
        {"op": "upsert", "phase": 1, "affected": affected_norm,
         "before": listing},
    )
    _chk("journal1")
    _mark("journal1")

    # 3. INSERT: the affected files' unmatched rows + the whole batch,
    # one bucketed insert (job-level commit makes it all-or-nothing)
    ins = newb.select(*table_cols)
    if affected_norm:
        retained = (
            spark.read.schema(target.schema)
            .option("basePath", _local_root(path))
            .parquet(*[f"/{f}" for f in affected_norm])
            .join(bkeys, key, "left_anti")
            .select(*table_cols)
        )
        ins = retained.unionByName(ins)
    (
        ins.repartition(int(spec["dsi.n_buckets"]), F.col("cell"))
        .write.insertInto(table)
    )
    _mark("insert")
    _chk("insert")

    # 4. JOURNAL phase 2: record what the insert produced
    spark.catalog.refreshTable(table)
    new_files = sorted(set(list_data_files(spark, path)) - set(listing))
    _write_journal(
        path,
        {"op": "upsert", "phase": 2, "affected": affected_norm,
         "before": listing, "new": new_files},
    )
    _chk("journal2")
    _mark("journal2")

    # 5. REMOVE the originals
    for f in affected_norm:
        os.remove(f"/{f}")
    spark.catalog.refreshTable(table)
    _mark("remove")
    _chk("remove")

    # 6. REPAIR the metadata incrementally, as ONE atomic commit on the
    # driver: the density loses the replaced rows and gains the batch
    if has_manifest:
        repair_bucketed_metadata(
            table, spec, affected_raw, new_files,
            dec=per.groupby("cell")["n_del"].sum(), inc=inc,
        )
        _mark("repair")
    _clear_journal(path)
    _mark("settle")
    return {
        "files_rewritten": len(affected_raw),
        "files_new": len(new_files),
        "rows_replaced": rows_replaced,
        "rows_inserted": batch_n,
        "meta_version": meta_version(path),
        "timings": timings,
    }
