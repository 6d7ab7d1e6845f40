"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload nc_ingest --seed 1 --seconds 5 --trace 0

Seed 1 is the baseline seed and seed 1001 the held-out confirmation seed;
input sizes are in ``inputs.py`` and in each result's ``sizes``.

Workloads (one closed-loop client: this process, driving Spark
``local[nproc]``):

- ``nc_ingest``: a seeded grid is written by the engine's codec writers as
  NetCDF-3, NetCDF-4 (shuffle+deflate) and a chunk store, aggregated through
  each DataSource and through the native parquet path, then a seeded time
  window is aggregated through the three DataSources.
- ``crawl_stream``: a seeded document feed with near-duplicate rewrites
  runs through ``readStream -> foreachBatch`` into
  ``streaming.queries.make_crawl_loop``, one file per micro-batch.
- ``similarity``: seeded perturbed replicas of an embeddings corpus go
  through the production IVF-PQ recall chain, then exact and LSH
  threshold pairs.

A run sets up five times (session start, input generation, one warm-up
query) and reports the median as ``setup_s``; the first set-up also
launches the JVM (``session.jvm_launch_s`` in the traced run). After the
workload's own warm-up it repeats the timed operation until ``--seconds``
have passed, and runs it at least once. One operation takes longer than the
benchmark's 5 s, so each run is one operation and a gated figure is one
sample per run. Every output is checked; a failed check or an
exception counts as a failed operation.

``py_rss_mb`` is the peak RSS of the driver Python process plus the
largest Python worker; ``peak_rss_mb`` (driver Python plus JVM) is printed
but not gated, because the JVM's peak follows G1's GC timing.

With ``--trace 0`` the run prints the end-to-end metrics and the workload's
own phase metrics (median, quartiles, sample count, cpus), writes them to
``.perfbench_work/results/<workload>-<seed>-e2e.json``, and ends with the
JSON result line. With ``--trace 1`` the run times one traced operation,
derives the per-layer metrics from spans, the Spark status store and
in-process probes of each module, and writes everything (spans included) to
``.perfbench_work/results/<workload>-<seed>-trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import median, quartiles  # noqa: E402

SETUP_REPS = 5
DEADLINE_S = 170  # the run must end within 180 s
NC_PHASES = ("nc.scan.nc3", "nc.scan.nc4", "nc.scan.chunkstore",
             "nc.scan.parquet")
PHASES = (*NC_PHASES, "crawl.batch", "sim.ann", "sim.pairs")
SPARK_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "input_bytes": "B", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "driver_s": "s",
}
SOURCES = ("netcdf3_source", "netcdf4_source", "netcdf_source")
SOURCE_FIELDS = {
    "plan_s": "s", "partitions": "count", "records_total": "count",
    "records_planned": "count", "records_planned_window": "count",
    "partitions_window": "count", "read_py_s": "s", "crossing_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A layer
    the workload does not exercise reports 0."""
    u = {}
    for mod in ("netcdf3", "hdf5lite", "chunkstore"):
        u[f"{mod}.decode_mb_s"] = "MB/s"
        u[f"{mod}.encode_mb_s"] = "MB/s"
    u["hdf5lite.bytes_per_raw_byte"] = "ratio"
    for src in SOURCES:
        for f, unit in SOURCE_FIELDS.items():
            u[f"{src}.{f}"] = unit
    for ph in PHASES:
        for f, unit in SPARK_FIELDS.items():
            u[f"spark.{ph}.{f}"] = unit
    u.update({
        "similarity.exact_pairs.s": "s",
        "similarity.exact_pairs.rows_in": "count",
        "similarity.exact_pairs.pairs_out": "count",
        "similarity.lsh.s": "s",
        "similarity.lsh.candidates": "count",
        "similarity.lsh.useful_ratio": "ratio",
        "stream.state_bytes_written.early": "B",
        "stream.state_bytes_written.late": "B",
        "stream.state_bytes_per_input_byte": "ratio",
        "stream.jobs_per_batch": "count",
        "stream.progress.addBatch_ms": "ms",
        "stream.progress.queryPlanning_ms": "ms",
        "stream.progress.walCommit_ms": "ms",
        "stream.progress.commitOffsets_ms": "ms",
        "stream.dup_ratio": "ratio",
        "mem.jvm_peak_mb": "MB",
        "mem.py_driver_peak_mb": "MB",
        "mem.py_worker_peak_mb": "MB",
        "session.jvm_launch_s": "s",
        "trace.overhead_ratio": "ratio",
    })
    for fmt in ("nc3", "nc4", "chunkstore", "parquet"):
        u[f"nc.speedup.{fmt}"] = "ratio"
    return u


END_TO_END_UNITS = {"setup_s": "s", "op_s": "s", "cpu_s": "s",
                    "py_rss_mb": "MB"}
# printed with the end-to-end metrics but not gated: peak_rss_mb includes
# the JVM's, which under the engine's G1 collector follows GC timing
# (0.3-0.4 IQR/median across seeds, above any usable bound)
WORKLOAD_UNITS = {
    "peak_rss_mb": "MB",
    "write_s": "s", "scan_s.nc3": "s", "scan_s.nc4": "s",
    "scan_s.chunkstore": "s", "scan_s.parquet": "s", "window_s": "s",
    "stream_s": "s", "batch_s.early": "s", "batch_s.late": "s",
    "ann_chain_s": "s", "pairs_s": "s", "recall_at_5": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("nc_ingest", "crawl_stream", "similarity"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def phase_metrics(jobs, stages, spans, cpus) -> dict[str, dict[str, float]]:
    """Status-store totals per traced phase, keyed by the job group each
    phase's jobs carried (the phase name)."""
    stage_by_id = {s["stage"]: s for s in stages if s["status"] == "COMPLETE"}
    out = {}
    for ph in PHASES:
        if ph == "crawl.batch":
            continue
        mine = [j for j in jobs if j["group"] == ph]
        walls = [s["end"] - s["start"] for s in spans if s["name"] == ph]
        if not mine or not walls:
            continue
        out[ph] = _spark_totals(mine, stage_by_id, sum(walls), cpus)
    return out


def _spark_totals(jobs, stage_by_id, wall, cpus, per: int = 1):
    st = [stage_by_id[i] for j in jobs for i in j["stage_ids"]
          if i in stage_by_id]
    tot = {"jobs": len(jobs), "stages": len(st)}
    for f in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        tot[f] = sum(s[f] for s in st)
    tot["driver_s"] = wall - tot["executor_run_s"] / cpus
    return {k: v / per for k, v in tot.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"perfbench: engine package {common.PACKAGE!r} not found next "
              "to perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    def _deadline(_sig, _frm):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    base = os.path.join(common.ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    common.prepare_env(work)
    cpus = common.cpus()

    import workloads as W

    wl = {"nc_ingest": W.NcIngest, "crawl_stream": W.CrawlStream,
          "similarity": W.Similarity}[args.workload]()
    ctx = W.Ctx(None, work, args.seed, common.Tracer(False), cpus)
    result = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "seconds": args.seconds, "sizes": wl.sizes}
    try:
        setups = []
        for _ in range(SETUP_REPS):
            if ctx.spark is not None:
                ctx.spark.stop()
            t = time.perf_counter()
            ctx.spark = common.start_session(work)
            wl.setup(ctx)
            setups.append(time.perf_counter() - t)
        result["setup_runs_s"] = setups
        jvm = common.jvm_pid(ctx.spark)
        t = time.perf_counter()
        wl.warmup(ctx)
        result["warmup_s"] = time.perf_counter() - t
        if args.trace:
            metrics = traced(ctx, wl, args, jvm, setups, result, work)
        else:
            metrics = untraced(ctx, wl, args, jvm, setups, result)
        signal.alarm(0)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(ctx.failures)
    result.update({"run_s": time.perf_counter() - t_start,
                   "attempted": ctx.attempted, "failed": failed,
                   "failures": ctx.failures})
    with open(os.path.join(results_dir, _result_name(args)), "w") as f:
        json.dump(result, f, indent=1, default=str)
    for what in ctx.failures:
        print(f"FAILED: {what}")
    print(f"fail_ratio = {failed / max(1, ctx.attempted):.4f} failed/attempted "
          f"({failed} of {ctx.attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _result_name(args, trace=None) -> str:
    kind = "trace" if (args.trace if trace is None else trace) else "e2e"
    return f"{args.workload}-{args.seed}-{kind}.json"


def _timed_reps(ctx, wl, seconds, jvm):
    reps = []
    cpu0, t0 = common.tree_cpu_s(jvm), time.perf_counter()
    while True:
        reps.append(wl.run(ctx, len(reps) + 1))
        if time.perf_counter() - t0 >= seconds:
            break
    cpu = (common.tree_cpu_s(jvm) - cpu0) / len(reps)
    return reps, cpu


def _print_metric(name, values, unit, cpus):
    q1, q3 = quartiles(values)
    print(f"metric {name} = {median(values):.6g} {unit} "
          f"(median; q1 {q1:.6g}, q3 {q3:.6g}; n={len(values)}; cpus={cpus})")


def untraced(ctx, wl, args, jvm, setups, result):
    reps, cpu = _timed_reps(ctx, wl, args.seconds, jvm)
    mem = common.memory_mb(jvm)
    wl.verify(ctx)
    e2e = {
        "setup_s": setups,
        "op_s": [r["op_s"] for r in reps],
        "cpu_s": [cpu],
        "py_rss_mb": [mem["py_driver"] + mem["py_worker"]],
    }
    own = {"peak_rss_mb": [mem["py_driver"] + mem["jvm"]],
           **wl.workload_metrics(reps)}
    result.update({"reps": reps, "end_to_end": e2e, "workload_metrics": own,
                   "memory_mb": mem})
    for k, vals in e2e.items():
        _print_metric(k, vals, END_TO_END_UNITS[k], ctx.cpus)
    for k, vals in own.items():
        _print_metric(k, vals, WORKLOAD_UNITS[k], ctx.cpus)
    return {k: {"value": median(v), "unit": END_TO_END_UNITS[k]}
            for k, v in e2e.items()}


def traced(ctx, wl, args, jvm, setups, result, work):
    """One traced operation, then the per-layer probes. Tracing inside the
    timed region is the spans and job-group tags; their own cost over the
    operation's time is ``trace.overhead_ratio``."""
    import workloads as W

    ctx.tracer.enabled = True
    with ctx.tracer.span("op", workload=args.workload):
        rep = wl.run(ctx, 1)
    overhead = ctx.tracer.cost / rep["op_s"]
    mem = common.memory_mb(jvm)
    jobs, stages = common.harvest(ctx.spark)
    phases = phase_metrics(jobs, stages, ctx.tracer.spans, ctx.cpus)
    m = {
        "trace.overhead_ratio": overhead,
        "session.jvm_launch_s": setups[0] - median(setups[1:]),
        "mem.jvm_peak_mb": mem["jvm"],
        "mem.py_driver_peak_mb": mem["py_driver"],
        "mem.py_worker_peak_mb": mem["py_worker"],
    }
    with ctx.tracer.span("layers"):
        if isinstance(wl, W.CrawlStream):
            s = wl.streams[-1]
            m.update(wl.layers(ctx, phases, jobs, s))
            stage_by_id = {x["stage"]: x for x in stages
                           if x["status"] == "COMPLETE"}
            mine = [j for j in jobs if j["group"] == s["run_id"]]
            wall = sum(dt for _b, dt in s["batches"])
            phases["crawl.batch"] = _spark_totals(
                mine, stage_by_id, wall, ctx.cpus, per=len(s["batches"]))
        else:
            m.update(wl.layers(ctx, phases))
    for ph, d in phases.items():
        for f, v in d.items():
            m[f"spark.{ph}.{f}"] = v
    wl.verify(ctx, full_oracle=True)
    if isinstance(wl, W.NcIngest):
        # the same scans at nproc and at one core, both after the timed op:
        # does the core count matter on this box?
        many = wl.repeat_scans(ctx)
        ctx.spark.stop()
        ctx.spark = common.start_session(work, n_cpus=1)
        wl.warmup(ctx)
        one = wl.repeat_scans(ctx)
        for fmt in one:
            m[f"nc.speedup.{fmt}"] = one[fmt] / many[fmt]
    units = per_layer_units()
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    result.update({
        "reps": [rep],
        "per_layer": {k: v["value"] for k, v in metrics.items()},
        "counters": getattr(wl, "counters", {}),
        "spans": ctx.tracer.spans,
        "memory_mb": mem,
    })
    # the same seed's untraced run, if one ran in this checkout: the
    # end-to-end traced-vs-untraced comparison
    e2e_path = os.path.join(common.ROOT, ".perfbench_work", "results",
                            _result_name(args, trace=0))
    if os.path.exists(e2e_path):
        with open(e2e_path) as f:
            base = json.load(f)["reps"][0]["op_s"]
        result["traced_vs_untraced_op_s"] = rep["op_s"] / base - 1.0
    for k, v in metrics.items():
        print(f"layer {k} = {v['value']:.6g} {v['unit']}")
    return metrics


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
