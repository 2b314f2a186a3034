"""Open-loop stream workload: ``streaming_point_range_join`` over a file
source fed on a fixed schedule.

The generator writes one fixed-size, event-time-ordered chunk (one 60 s
window of events) into the watched directory every ``PERIOD_S`` seconds,
whether or not the query has caught up.  The query reads it with
``maxFilesPerTrigger=1``, so each data micro-batch consumes exactly one
chunk; an op's time runs from the chunk's scheduled write time to the
commit of the micro-batch that consumed it, so a stall shows as latency of
every chunk queued behind it.

The query sustains about one chunk per 1.1 s on a 4-vCPU host (a data
micro-batch of about 0.7 s plus the no-data batch that emits its window).
``PERIOD_S`` = 2.0 s leaves it idle about half the time, so a host that
runs it up to ~80% slower adds service time to each op but builds no
backlog; at 1.5 s such a slowdown queued chunks and doubled their latency.

Warm-up pushes its chunks closed-loop (each written once the previous one
has committed), so ``setup_s`` holds the query's start and first batches,
not the generator's idle schedule.  A traced run keeps each micro-batch's
own execution as the batch runs and reads its plan metrics afterwards.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import time

import pandas as pd
from pyspark import StorageLevel

from distributed_spatial_index_spark.config import EPOCH_MS, WINDOW_MS
from distributed_spatial_index_spark.streaming.stream_join import (
    streaming_point_range_join,
)

import harness
import inputs
import oracle

BITS = 9
PERIOD_S = 2.0
COMMIT_TIMEOUT_S = 60.0
POLL_S = 0.02  # how often a traced run looks for a new micro-batch
SCHEMA = "id long, x double, y double, ts timestamp"


def _log_offset(progress: dict) -> int | None:
    """Index of the file a micro-batch read (the file source's log offset
    counts one per file at maxFilesPerTrigger=1)."""
    off = progress["sources"][0]["endOffset"]
    return int(off["logOffset"]) if off else None


def _commit_time(progress: dict) -> float:
    """Wall-clock epoch seconds at which a micro-batch committed."""
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + progress["durationMs"]["triggerExecution"] / 1e3


class StreamWindow:
    name = "stream_window"
    warm_ops = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.rects = inputs.rect_batch(
            ctx.points, inputs.rng(ctx.seed, inputs.STREAM), ctx.size["queries"],
            first_qid=0,
        )
        self.queries = None
        self.query = None
        self.files: list[dict] = []  # every file written, in write order
        self.executions: dict[int, object] = {}  # batch id -> its execution
        self.next_window = 0
        self.src = os.path.join(ctx.work, "stream", "source")
        self.staging = os.path.join(ctx.work, "stream", "staging")
        os.makedirs(self.src, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.sink = f"perfbench_stream_{os.getpid()}"

    # --- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        """Land the static query table (the stream's route side)."""
        self.release()
        t0 = time.perf_counter()
        self.queries = (
            self.ctx.spark.createDataFrame(self.rects)
            .persist(StorageLevel.MEMORY_ONLY)
        )
        self.queries.count()
        return {"ingest_s": time.perf_counter() - t0}

    def release(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.queries is not None:
            self.queries.unpersist(blocking=True)
            self.queries = None

    def warm(self, n_ops: int) -> list[float]:
        """Start the query and push ``n_ops`` chunks through it."""
        spark = self.ctx.spark
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = (
            streaming_point_range_join(stream, self.queries, bits=BITS)
            .writeStream.format("memory").queryName(self.sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.ctx.work, "stream", "ckpt"))
            .start()
        )
        out = []
        for _ in range(n_ops):
            r = inputs.rng(self.ctx.seed, inputs.STREAM, 1 + self.next_window)
            ev = inputs.stream_chunk(self.ctx.points, r, self.next_window,
                                     self.ctx.size["chunk"])
            out += [o["s"] for o in self._await([self._write_chunk(ev, time.time())])]
        return out

    # --- the open loop -----------------------------------------------------

    def _write_chunk(self, events: pd.DataFrame, sched: float) -> dict:
        idx = len(self.files)
        name = f"chunk-{idx:05d}.parquet"
        tmp = os.path.join(self.staging, name)
        self.ctx.tracer.op_id = idx
        with self.ctx.tracer.span("generator.write"):
            t_start = time.time()
            events.to_parquet(tmp, index=False)
            os.rename(tmp, os.path.join(self.src, name))
        rec = {"file": idx, "sched": sched, "late_s": t_start - sched,
               "events": events, "window": self.next_window}
        self.files.append(rec)
        self.next_window += 1
        return rec

    def _feed(self, n: int) -> list[dict]:
        """Write ``n`` chunks on schedule, never waiting for the query, then
        collect their commits."""
        written = []
        # the first chunk is due one period in, so every phase starts on an
        # idle query, as a continuing schedule would
        t0 = time.time()
        for i in range(n):
            sched = t0 + (i + 1) * PERIOD_S
            self._sleep_until(sched)
            r = inputs.rng(self.ctx.seed, inputs.STREAM, 1 + self.next_window)
            ev = inputs.stream_chunk(self.ctx.points, r, self.next_window,
                                     self.ctx.size["chunk"])
            written.append(self._write_chunk(ev, sched))
        return self._await(written)

    def _await(self, recs: list[dict]) -> list[dict]:
        want = {r["file"]: r for r in recs}
        deadline = time.time() + COMMIT_TIMEOUT_S
        done: dict[int, dict] = {}
        while time.time() < deadline and len(done) < len(want):
            if self.query.exception() is not None:
                raise RuntimeError(f"stream query failed: {self.query.exception()}")
            for p in self._progress():
                f = _log_offset(p)
                if f in want and p["numInputRows"] > 0 and f not in done:
                    done[f] = p
            self._sleep_until(time.time() + 0.05)
        ops = []
        for f, r in want.items():
            p = done.get(f)
            if p is None:
                ops.append({"op": f, "error": "chunk not committed in time",
                            "rec": r})
                continue
            ops.append({"op": f, "s": _commit_time(p) - r["sched"], "rec": r,
                        "progress": p, "docs": len(r["events"]),
                        "commit": _commit_time(p)})
        return ops

    def _sleep_until(self, t: float) -> None:
        """Sleep until ``t``; a traced run meanwhile keeps every new
        micro-batch's execution, whose plan metrics are final once the batch
        has committed."""
        while True:
            left = t - time.time()
            if self.ctx.tracer.enabled:
                self._keep_execution()
            if left <= 0:
                return
            time.sleep(min(left, POLL_S) if self.ctx.tracer.enabled else left)

    def _keep_execution(self) -> None:
        ex = self.query._jsq.streamingQuery().lastExecution()
        if ex is not None:
            self.executions.setdefault(int(ex.currentBatchId()), ex)

    def _progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def measure(self, seconds: float) -> list[dict]:
        n = max(1, math.ceil(seconds / PERIOD_S))
        self.executions = {}
        ops = self._feed(n)
        # one off-region event two windows ahead closes every open window,
        # so each measured chunk's window is emitted before the check
        flush = pd.DataFrame({"id": [-1], "x": [-1e6], "y": [-1e6],
                              "ts": inputs.event_time([EPOCH_MS + (self.next_window + 1)
                                                       * WINDOW_MS])})
        self.next_window += 1
        self._await([self._write_chunk(flush, time.time())])
        self._await_watermark(self.files[-1]["window"] * WINDOW_MS + EPOCH_MS)
        self._add_busy_time(ops)
        if self.ctx.tracer.enabled:
            self._add_layers(ops)
        return ops

    def _follow_ups(self, ops: list[dict]) -> dict[int, dict]:
        """Progress of the no-data micro-batch that follows each op's data
        batch (it emits the window the data closed), by the data batch id."""
        by_id = {p["batchId"]: p for p in self._progress()}
        out = {}
        for o in ops:
            if "progress" in o:
                b = o["progress"]["batchId"]
                nxt = by_id.get(b + 1)
                if nxt is not None and nxt["numInputRows"] == 0:
                    out[b] = nxt
        return out

    def _add_busy_time(self, ops: list[dict]) -> None:
        """Each op's processing seconds: its data micro-batch plus the no-data
        batch after it."""
        follow = self._follow_ups(ops)
        for o in ops:
            if "progress" in o:
                b = o["progress"]["batchId"]
                o["busy_s"] = sum(p["durationMs"]["triggerExecution"] / 1e3
                                  for p in (o["progress"], follow.get(b)) if p)

    def _add_layers(self, ops: list[dict]) -> None:
        """Plan metrics and driver jobs of each op's micro-batches."""
        follow = self._follow_ups(ops)
        jobs = self.ctx.jobs.stream_batches(str(self.query.runId))
        for o in ops:
            if "progress" not in o:
                continue
            b = o["progress"]["batchId"]
            batches = [b, b + 1] if b in follow else [b]
            if any(i not in self.executions for i in batches):
                self.ctx.log(f"micro-batch {batches} ran between two polls; "
                             "no plan metrics for it")
                continue
            lay: dict[str, float] = {}
            for i in batches:
                lay = harness.add_layers(lay, harness.plan_layers(
                    self.executions[i].executedPlan()))
            o["layers"] = lay
            o["jobs"] = sum(jobs.get(i, (0, set()))[0] for i in batches)
            o["stages"] = len(set().union(*(jobs.get(i, (0, set()))[1]
                                            for i in batches)))

    def _await_watermark(self, ms: int) -> None:
        deadline = time.time() + COMMIT_TIMEOUT_S
        while time.time() < deadline:
            p = self.query.lastProgress
            wm = p and json.loads(p.json).get("eventTime", {}).get("watermark")
            if wm and dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                    tzinfo=dt.timezone.utc).timestamp() * 1e3 >= ms and \
                    not self.query.status["isTriggerActive"]:
                return
            time.sleep(0.05)

    # --- answers and metrics -----------------------------------------------

    def check(self, ops: list[dict]) -> None:
        good = [o for o in ops if "s" in o]
        if not good:
            return
        events = pd.concat([o["rec"]["events"] for o in good], ignore_index=True)
        want = oracle.window_counts(events, self.rects)
        got = self.ctx.spark.table(self.sink).toPandas()
        got["win_ms"] = inputs.epoch_ms(got["win_start"])
        for o in good:
            w_ms = EPOCH_MS + o["rec"]["window"] * WINDOW_MS
            a = want[want["win_ms"] == w_ms][["query_id", "n_matches"]]
            b = got[got["win_ms"] == w_ms][["query_id", "n_matches"]]
            o["ok"] = a.sort_values("query_id").to_numpy().tolist() == \
                b.sort_values("query_id").to_numpy().tolist()

    @staticmethod
    def docs_per_s(ops: list[dict]) -> float:
        """Events ingested per second the query spent processing them: their
        data micro-batches and the no-data batches that emit their windows
        (the generator's idle time between chunks does not count)."""
        busy = sum(o["busy_s"] for o in ops)
        return sum(o["docs"] for o in ops) / busy if busy else 0.0

    def extra_layers(self, ops: list[dict]) -> dict:
        good = [o for o in ops if "progress" in o]
        prog = [o["progress"] for o in good]

        def dur(k: str) -> list[float]:
            return [p["durationMs"].get(k, 0) / 1e3 for p in prog]

        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        # backlog at each scheduled write: chunks written but not committed
        sched = [o["rec"]["sched"] for o in good]
        commits = [o["commit"] for o in good]
        backlog = [sum(1 for s2, c in zip(sched, commits) if s2 <= s < c) for s in sched]
        out = {
            "stream.trigger_s_p50": harness.median(dur("triggerExecution")),
            "stream.planning_s_p50": harness.median(dur("queryPlanning")),
            "stream.wal_commit_s_p50": harness.median(dur("walCommit")),
            "stream.state_rows": state[-1]["numRowsTotal"] if state else 0.0,
            "stream.state_commit_s": harness.median(
                s.get("commitTimeMs", 0) / 1e3 for s in state),
            "stream.backlog_files_max": max(backlog, default=0),
            "stream.generator_late_s": max((o["rec"]["late_s"] for o in good), default=0.0),
        }
        return out
