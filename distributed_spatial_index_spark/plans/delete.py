"""Copy-on-write DELETE over the landed bucketed layout.

A table format gives a table data-lifecycle verbs this layout stands
in for: APPEND (streaming/land.py), COMPACT
(plans/bucketing.compact_bucketed_table), MERGE/upsert
(plans/upsert.py — shares this module's journal and settlement), and
DELETE — this module.  A
100-TB training corpus deletes continuously (opt-outs, retired regions,
dedup losers), and the bill that matters is the classic copy-on-write
one: rewrite ONLY the files that hold matched rows — cost proportional
to the affected bytes, never to the table (Iceberg's copy-on-write
DELETE / Delta's file-replacement DELETE; the full-rewrite alternative
is compact_bucketed_table over a filter, which repays only when most
files are affected).

Protocol (single concurrent writer, like every landed writer here):

1. PLAN — one scan of the matched rows, collected to the driver as
   per-(file, cell) deleted counts, yields the affected file set, the
   deleted-row total and the density decrements.  Step 6 reads that
   driver copy AFTER the matched files are gone, so nothing has to be
   recomputed from them.  Filter pushdown prunes this scan; a
   cell-range predicate prunes directories/buckets exactly like the
   landed joins.
2. JOURNAL phase 1 — ``_delete_pending`` at the table path (temp file +
   atomic rename, the stream-commit pattern) records the affected files
   and the pre-insert listing.  Until the journal clears, the manifest
   writers refuse (assert_no_pending_delete), so a crashed delete can
   never be double-counted into the metadata.
3. INSERT retained — the affected files' NON-matching rows are read
   back BY PATH (``basePath`` recovers the hive ``pcell``) and INSERT
   INTO the table: the same bucketed append streaming ingest uses, so
   the new files keep the bucket-file contract; the job-level commit
   makes the insert all-or-nothing.
4. JOURNAL phase 2 — adds the inserted file names.
5. REMOVE — the affected files are unlinked; the retained copies are
   now those rows' only instance.
6. REPAIR — plans/bucketing.repair_bucketed_metadata, the incremental
   repair every landed writer shares, on the driver with no Spark job:
   the affected files' manifest rows drop, rows for the inserted files
   (read with pyarrow, bucket columns only, through the same pollution
   checks as ingest) merge in, the density summary decrements by the
   deleted per-cell counts, and both commit as ONE metadata version
   (sources/metastore.py).  Then the journal clears.

Crash settlement — resume_bucketed_delete handles every window:

* before phase 1: nothing happened.
* after phase 1, insert not committed: resume sees zero unjournaled
  files, clears the journal; the table is untouched (re-run the
  delete).
* any later window: resume removes whichever affected files still
  exist and re-manifests FULLY — rows whose originals died live
  exactly once in the retained copies; no duplicates, no loss.  The
  insert's own atomicity is the file-committer's job-level commit,
  the same residual every Hive-style write carries.

Readers DURING the insert->remove window can see retained copies
beside their originals: the joins' result-set dedup masks that, and
the metadata readers (knn_landed, pruned-join stats) go LOUD via the
manifest freshness check rather than serving drifted numbers.  A real
table format's atomic snapshot commit removes even that window — which
is precisely what this layout is the parquet stand-in for.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from distributed_spatial_index_spark.plans.bucketing import (
    _bucket_cols,
    _get_spec,
    _spec_path,
    manifested,
    repair_bucketed_metadata,
    write_bucketed_manifest,
)
from distributed_spatial_index_spark.sources.layout import (
    _local_root,
    _norm_file_path,
    list_data_files,
)
from distributed_spatial_index_spark.sources.metastore import (
    meta_read_arrow,
    meta_version,
)

_JOURNAL = "_delete_pending"


def _journal_file(path: str) -> str | None:
    root = _local_root(path)
    return None if root is None else os.path.join(root, _JOURNAL)


def read_delete_journal(path: str) -> dict | None:
    """The pending-delete journal at the layout path, or None.  Non-local
    paths report None: a delete can never have journaled there (it
    refuses them up front, like the other local-stand-in markers)."""
    jf = _journal_file(path)
    if jf is None:
        return None
    try:
        with open(jf) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_journal(path: str, doc: dict) -> None:
    jf = _journal_file(path)
    tmp = f"{jf}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, jf)


def _clear_journal(path: str) -> None:
    jf = _journal_file(path)
    if jf is not None and os.path.exists(jf):
        os.remove(jf)


def assert_no_pending_delete(table: str, path: str) -> None:
    """Raise if a copy-on-write delete journaled against this layout and
    never settled — between its journal and its metadata commit the data
    files and the manifest legitimately disagree, and any metadata write
    in that state would double-count the retained-row copies."""
    j = read_delete_journal(path)
    if j is not None:
        raise ValueError(
            f"table {table} has an unsettled copy-on-write "
            f"{j.get('op', 'delete')} ({_JOURNAL} at {path}); run "
            "resume_bucketed_delete first"
        )


def require_fresh_manifest(table: str, path: str, listing: list[str]) -> bool:
    """Whether the layout at ``path`` is manifested — and if it is, raise
    unless the manifest is EXACTLY fresh against ``listing`` (no unknown
    and no missing files): the copy-on-write writers' incremental repair
    assumes the manifest and the data agree.  Reads on the driver."""
    if meta_version(path) is None:
        return False
    known = manifested(meta_read_arrow(path, "manifest"))
    if known != set(listing):
        raise ValueError(
            f"manifest of {table} is not exactly fresh "
            f"({len(set(listing) - known)} unknown / "
            f"{len(known - set(listing))} missing file(s)); settle it "
            "(update_bucketed_manifest / write_bucketed_manifest) first — "
            "the incremental repair assumes the manifest and the data agree"
        )
    return True


def delete_from_bucketed_table(
    spark: SparkSession,
    table: str,
    predicate: Column,
    _fail_after: str | None = None,
) -> dict:
    """Delete every row of the landed bucketed ``table`` where
    ``predicate`` is TRUE (rows where it is false OR NULL are retained —
    SQL DELETE semantics), rewriting only the files that hold matched
    rows.  Returns ``{files_rewritten, files_new, rows_deleted,
    meta_version}``.

    Preconditions, all loud: the table carries the bucket-layout spec
    with a local ``dsi.path``; no unsettled delete is journaled; and if
    the table is manifested, the manifest must be EXACTLY fresh (no
    unknown and no missing files) — an un-manifested append would make
    the incremental repair silently wrong, so settle it first
    (update_bucketed_manifest).  Un-manifested tables are deleted from
    without the metadata repair.

    ``predicate`` is a Column over the table's data columns (including
    the stored ``cell``/``pcell``, so spatial deletes prune the planning
    scan the same way the landed joins do).

    ``_fail_after`` is a TEST-ONLY crash-injection point ("journal1",
    "insert", "journal2", "remove") so the resume contract is driven
    through the real code path rather than simulated."""

    def _chk(step: str) -> None:
        if _fail_after == step:
            raise RuntimeError(f"injected crash after {step}")

    import time as _time

    _t0 = _time.perf_counter()
    timings: dict[str, float] = {}

    def _mark(step: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        timings[step] = round(now - _t0, 3)
        _t0 = now

    spec = _get_spec(spark, table)
    path = _spec_path(spec, table)
    if _local_root(path) is None:
        raise NotImplementedError(
            "the copy-on-write delete journal is the local-filesystem "
            "stand-in for a table format's atomic snapshot commit; "
            "delete from non-local layouts through Iceberg/Delta"
        )
    assert_no_pending_delete(table, path)
    spark.catalog.refreshTable(table)
    # the predicate is evaluated in TWO independent scans (plan, retained
    # read); a non-deterministic one would re-roll between them and
    # silently corrupt the table — the one failure mode this module
    # cannot make loud after the fact, so refuse it up front via the
    # analyzed filter plan (the table scan itself is deterministic, so
    # the predicate decides).  A UDF over mutable external state that
    # CLAIMS determinism is on the caller, exactly as it is for a table
    # format's copy-on-write DELETE.
    df = spark.table(table)
    matched = df.filter(predicate)
    if not matched._jdf.queryExecution().analyzed().deterministic():
        raise ValueError(
            "delete predicate is non-deterministic (rand(), shuffle(), a "
            "UDF marked nondeterministic, ...): the copy-on-write delete "
            "evaluates it twice, and differing draws would silently "
            "corrupt the table"
        )

    listing = list_data_files(spark, path)
    has_manifest = require_fresh_manifest(table, path, listing)
    _mark("preflight")
    # 1. PLAN: one scan of the matched rows, collected to the driver as
    # per-(file, cell) counts (at most files x cells rows — the density
    # summary's own scale).  This one action yields the affected set, the
    # deleted-row total and the density decrements, and the driver's
    # copy outlives the unlink in step 5.
    per = (
        matched.groupBy(
            F.col("_metadata.file_path").alias("file_path"), F.col("cell")
        )
        .agg(F.count(F.lit(1)).alias("n_del"))
        .toPandas()
    )
    if per.empty:
        return {
            "files_rewritten": 0,
            "files_new": 0,
            "rows_deleted": 0,
            "meta_version": meta_version(path),
        }
    affected_raw = sorted(per["file_path"].unique())
    affected_norm = [_norm_file_path(f) for f in affected_raw]
    rows_deleted = int(per["n_del"].sum())

    _mark("plan_scan")
    # 2. JOURNAL phase 1: from here on the manifest writers refuse until
    # the delete settles (normally step 6; after a crash, resume).
    _write_journal(
        path, {"phase": 1, "affected": affected_norm, "before": listing}
    )
    _chk("journal1")

    _mark("journal1")
    # 3. INSERT retained.  Read the affected files BY PATH — not through
    # the catalog table, whose relation the insert target would alias —
    # with basePath so partition discovery recovers pcell, and with the
    # table's schema, which spares the schema-inference job.  Repartition
    # on the bucket columns mirrors ingest: one file per touched bucket
    # instead of tasks x buckets.
    retained = (
        # _local_root (non-None, checked up front) abspaths dsi.path, so
        # a RELATIVE layout path still yields a basePath that prefixes
        # the absolute file paths below
        spark.read.schema(df.schema)
        .option("basePath", _local_root(path))
        .parquet(*[f"/{f}" for f in affected_norm])
        .filter(~F.coalesce(predicate, F.lit(False)))
    )
    (
        retained.repartition(
            int(spec["dsi.n_buckets"]), *map(F.col, _bucket_cols(spec))
        )
        .select(*df.columns)
        .write.insertInto(table)
    )
    _mark("insert_retained")
    _chk("insert")

    # 4. JOURNAL phase 2: record what the insert produced.
    spark.catalog.refreshTable(table)
    new_files = sorted(set(list_data_files(spark, path)) - set(listing))
    _write_journal(
        path,
        {
            "phase": 2,
            "affected": affected_norm,
            "before": listing,
            "new": new_files,
        },
    )
    _chk("journal2")

    _mark("journal2")
    # 5. REMOVE the originals; the retained copies are now the rows'
    # only instance.
    for f in affected_norm:
        os.remove(f"/{f}")
    spark.catalog.refreshTable(table)
    _mark("remove")
    _chk("remove")

    # 6. REPAIR the metadata incrementally, as ONE atomic commit on the
    # driver: the retained rows were counted already, so the density
    # only loses the deleted rows
    if has_manifest:
        repair_bucketed_metadata(
            table, spec, affected_raw, new_files,
            dec=per.groupby("cell")["n_del"].sum(),
            inc=pd.Series(dtype="int64"),
        )
        _mark("repair")
    _clear_journal(path)
    _mark("settle")
    return {
        "files_rewritten": len(affected_raw),
        "files_new": len(new_files),
        "rows_deleted": rows_deleted,
        "meta_version": meta_version(path),
        "timings": timings,
    }


def resume_bucketed_delete(spark: SparkSession, table: str) -> dict:
    """Settle a crashed copy-on-write delete OR upsert (plans/upsert.py
    — the two verbs share the journal, and their settlement semantics
    are identical) from its journal.  Decides
    from the journal's pre-insert listing whether the retained-row
    insert committed: if not (phase 1, no unjournaled files on disk),
    the table was never changed — the journal clears and the caller
    re-runs the delete; otherwise the remaining affected files are
    removed (idempotent: resume after resume is a no-op) and, if the
    table was manifested, the metadata is rebuilt with a FULL
    write_bucketed_manifest — the incremental repair's inputs may have
    died with the crash, and a full rebuild from the surviving data is
    always correct.  Returns ``{resumed, action, ...}``.

    The journal records ingest-time absolute paths, so settle a crashed
    delete BEFORE relocating the layout — the same ordering the
    manifest already imposes (attach_bucketed_table docstring)."""
    spec = _get_spec(spark, table)
    path = _spec_path(spec, table)
    j = read_delete_journal(path)
    if j is None:
        return {"resumed": False, "action": "none"}
    spark.catalog.refreshTable(table)
    listing = set(list_data_files(spark, path))
    inserted = sorted(listing - set(j["before"]))
    if j["phase"] == 1 and not inserted:
        # the insert never committed: the table is bit-for-bit the
        # pre-delete table (a retained-empty whole-file delete also
        # lands here — equally untouched).  Clear and re-run.
        _clear_journal(path)
        return {"resumed": True, "action": "aborted"}
    removed = 0
    for f in j["affected"]:
        if os.path.exists(f"/{f}"):
            os.remove(f"/{f}")
            removed += 1
    spark.catalog.refreshTable(table)
    _clear_journal(path)  # write_bucketed_manifest refuses under it
    if meta_version(path) is not None:
        write_bucketed_manifest(spark, table)
    return {
        "resumed": True,
        "action": "completed",
        "files_removed": removed,
        "inserted_detected": len(inserted),
    }
