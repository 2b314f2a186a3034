"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload range_join --seed 1 --seconds 10 --trace 0

Run from the repository root.  It starts one Spark session with
``get_spark(cores=nproc)`` (no other session setting is overridden), sets
the workload up once, warms it, runs its ops for ``--seconds``,
checks every answer against an independent oracle, and prints:

- a ``{"perfbench": ...}`` line describing the run (host, versions, seed,
  cores, set-up phases, per-op samples, error_rate);
- as the LAST line: ``{"correct", "attempted", "failed", "metrics"}`` with
  the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``).

``--trace 1`` runs the measured window twice, untraced then traced, so the
tracing overhead is the difference of the two ``op_s_p50``; spans go to
``.perfbench_work/trace/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import harness

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "distributed_spatial_index_spark"

# inputs per unit of --scale 0.1 (the sf0.1 derived point table)
SIZES = {
    "range_join": {"docs": 600_000, "batch": 400},
    "pip_join": {"docs": 600_000, "batch": 60},
    "stream_window": {"docs": 600_000, "queries": 400, "chunk": 20_000},
    "landed_upsert": {"docs": 150_000, "moved": 500, "batch": 400},
}


@dataclass
class Ctx:
    """What a workload needs: the session, its seed and sizes, the inputs,
    and the measurement tools."""

    spark: object
    seed: int
    size: dict
    points: object
    points_path: str
    work: str
    trace: bool
    tracer: object
    jobs: object
    phase: int = 0
    notes: list = field(default_factory=list)

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)
        self.notes.append(msg)


def _prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # the checkout root first, so the package under test is the one imported
    sys.path.insert(0, str(ROOT))


def _make_workload(name: str, ctx: Ctx):
    if name in ("range_join", "pip_join"):
        import batch_joins

        return {"range_join": batch_joins.RangeJoin,
                "pip_join": batch_joins.PipJoin}[name](ctx)
    if name == "stream_window":
        import stream_window

        return stream_window.StreamWindow(ctx)
    import landed_upsert

    return landed_upsert.LandedUpsert(ctx)


def _metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, from the benchmark's own BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _summarize_ops(ops: list[dict], wl) -> dict:
    """Ops that raised or disagreed with the oracle are failures; timings
    come from the rest."""
    good = [o for o in ops if o.get("ok")]
    secs = [o["s"] for o in good]
    return {
        "attempted": len(ops),
        "failed": len(ops) - len(good),
        "op_s": secs,
        "op_s_p50": harness.median(secs),
        "docs_per_s": wl.docs_per_s(good),
    }


def _layer_table(ops: list[dict], wl, ctx: Ctx, untraced: dict, traced: dict) -> dict:
    """Per-layer metrics: per-op medians of the plan-derived counts, span
    self times per op, and the tracing overhead.  A metric the workload does
    not measure is left out."""
    layers = [o["layers"] for o in ops if "layers" in o]
    keys = sorted({k for lay in layers for k in lay})
    out = {k: harness.median(lay.get(k, 0.0) for lay in layers) for k in keys}
    if any("jobs" in o for o in ops):
        out["driver.jobs_per_op"] = harness.median(o["jobs"] for o in ops if "jobs" in o)
        out["driver.stages_per_op"] = harness.median(o["stages"] for o in ops if "stages" in o)
    if "probe.candidates" in out:
        # the refine's survivors are the rows the dedup sees, or the joins'
        # own output where the engine fuses the refine into the join condition
        cand = out["probe.candidates"]
        surv = out.get("merge.pre_dedup_rows", 0.0)
        out["refine.survivors"] = surv
        out["refine.yield"] = surv / cand if cand else 0.0
    n_traced = max(1, len([o for o in ops if "s" in o]))
    for name, row in ctx.tracer.self_times().items():
        if not name.startswith("diag."):
            out[f"self.{name}_s"] = row["self_s"] / n_traced
    out["trace.untraced_op_s_p50"] = untraced["op_s_p50"]
    out["trace.op_s_p50"] = traced["op_s_p50"]
    out["trace.overhead_s"] = traced["op_s_p50"] - untraced["op_s_p50"]
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited (the
    PySpark daemon and its workers are its children and end with it)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args) -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _prepare_environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path) -> int:
    import inputs
    from distributed_spatial_index_spark.session import get_spark

    host = harness.HostSampler()
    size = {k: max(1, int(v * args.scale / 0.1)) for k, v in SIZES[args.workload].items()}
    t_in = time.perf_counter()
    points = inputs.derived_points(size["docs"])
    points_path = str(work / "inputs" / "points")
    inputs.write_parquet(points.frame(), points_path, n_files=16)
    inputs_s = time.perf_counter() - t_in

    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_spark(cores=cores)
    session_s = time.perf_counter() - t0
    tracer = harness.Tracer(enabled=False)
    ctx = Ctx(spark=spark, seed=args.seed, size=size, points=points,
              points_path=points_path, work=str(work), trace=bool(args.trace),
              tracer=tracer, jobs=harness.JobCounter(spark))
    try:
        proc = harness.ProcTree(harness.jvm_pid(spark))
        wl = _make_workload(args.workload, ctx)

        t = time.perf_counter()
        phases = wl.setup()
        ingest_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_ops_s = wl.warm(wl.warm_ops)
        warm_s = time.perf_counter() - t
        setup_s = session_s + ingest_s + warm_s

        def window(traced: bool) -> tuple[list[dict], dict, float]:
            tracer.enabled = traced
            cpu0 = proc.cpu_s()
            ops = wl.measure(args.seconds)
            cpu = proc.cpu_s() - cpu0
            tracer.enabled = False
            t = time.perf_counter()
            wl.check(ops)
            check_s.append(time.perf_counter() - t)
            return ops, _summarize_ops(ops, wl), cpu

        check_s: list[float] = []

        ops, summ, cpu = window(traced=False)
        layers = None
        if args.trace:
            ctx.phase = 1
            t_ops, t_summ, _ = window(traced=True)
            layers = _layer_table(t_ops, wl, ctx, summ, t_summ)
            layers.update(wl.extra_layers(t_ops))
            layers["sources.ingest_s"] = phases["ingest_s"]
            summ["attempted"] += t_summ["attempted"]
            summ["failed"] += t_summ["failed"]
            trace_dir = ROOT / ".perfbench_work" / "trace"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.write(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))
        # after the workload drops its own caches, what is left is what the
        # engine and Spark keep
        wl.release()
        heap_reads = harness.live_heap_reads_mb(spark)
        vers = harness.versions(spark)
    finally:
        _stop_spark(spark)

    metrics = {
        "setup_s": setup_s,
        "op_s_p50": summ["op_s_p50"],
        "docs_per_s": summ["docs_per_s"],
        "cpu_s_per_op": cpu / max(1, len(ops)),
        "live_heap_mb": harness.median(heap_reads),
    }
    error_rate = summ["failed"] / max(1, summ["attempted"])
    print(f"perfbench: {args.workload} seed={args.seed} error_rate={error_rate:g} "
          + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()), file=sys.stderr)
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "cores": cores, "sizes": size,
        "host": host.describe(), "versions": vers,
        "setup": {"inputs_s": inputs_s, "session_s": session_s,
                  "ingest_s": ingest_s, "phases": phases, "warm_s": warm_s,
                  "warm_ops_s": warm_ops_s},
        "check_s": check_s, "heap_reads_mb": heap_reads,
        "wall_s": time.perf_counter() - T_START,
        "op_s": summ["op_s"],
        "error_rate": error_rate,
        "end_to_end": metrics, "per_layer": layers, "notes": ctx.notes,
    }}))
    if args.trace:
        # a layer the workload does not run through did no work in it: 0
        out = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
               for k, u in _metric_units("per_layer").items()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u}
               for k, u in _metric_units("end_to_end").items()}
    bad = [k for k, v in out.items() if not math.isfinite(v["value"])]
    if bad:
        raise ValueError(f"non-finite metric values: {bad}")
    print(json.dumps({
        "correct": summ["failed"] == 0 and summ["attempted"] > 0,
        "attempted": summ["attempted"],
        "failed": summ["failed"],
        "metrics": out,
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="input scale factor (0.1 = 600k docs)")
    args = p.parse_args(argv)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
