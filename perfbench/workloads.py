"""The three closed-loop workloads. Each has one client, this process,
driving Spark ``local[nproc]``; it sends its next operation only after the
previous one finished.

A workload object is built once per run and offers:

- ``setup(ctx)``: generate and materialise the seeded inputs and run one
  small warm-up query on the workload's read path (timed, with the session
  start, as ``setup_s``);
- ``warmup(ctx)``: untimed, once after the set-ups (nc_ingest starts the
  Python workers its sources share; crawl_stream runs a small stream);
- ``run(ctx, rep)``: one timed operation; returns its phase times. The
  nc scans and the similarity chain are measured from their first
  execution in the session, as a batch job would run;
- ``verify(ctx)``: checks that need a reference engine, run after timing;
- ``layers(ctx, ...)``: the in-process per-layer probes of the traced run.

Every operation's output is checked; a mismatch is counted as failed.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time

import numpy as np

import inputs
from common import median

NC_FORMATS = ("nc3", "nc4", "chunkstore", "parquet")
WINDOW_FORMATS = ("nc3", "nc4", "chunkstore")
GRID_VARS = ("temperature", "humidity")


class Ctx:
    """Per-run state shared by the harness and a workload."""

    def __init__(self, spark, work, seed, tracer, cpus):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cpus = tracer, cpus
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def attempt(self, what: str, fn):
        """``fn()``, or None with a failed operation counted if it raises:
        the run goes on and reports the failure instead of crashing."""
        try:
            return fn()
        except Exception as e:
            self.check(False, f"{what}: {e!r}")
            return None

    def tag(self, phase: str) -> None:
        """Tag the Spark jobs that follow with ``phase`` (traced op only)."""
        if self.tracer.enabled:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(phase, phase)
            self.tracer.cost += time.perf_counter() - t

    def untag(self) -> None:
        if self.tracer.enabled:
            t = time.perf_counter()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.cost += time.perf_counter() - t


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(".")
        )
    return total


# ---------------------------------------------------------------------------
# nc_ingest
# ---------------------------------------------------------------------------


def _grid_sums(g: dict[str, np.ndarray], lo: int = 0, hi: int | None = None):
    return (
        int(g["temperature"][lo:hi].shape[0]) * inputs.GRID_Y * inputs.GRID_X,
        inputs.fixed_point_sum(g["temperature"][lo:hi]),
        inputs.fixed_point_sum(g["humidity"][lo:hi]),
    )


def write_grid(fmt: str, path: str, g: dict[str, np.ndarray]) -> None:
    """Write the grid through the engine's own codec writer for ``fmt``."""
    dims = {"time": None, "y": inputs.GRID_Y, "x": inputs.GRID_X}
    variables = {v: ("float32", ("time", "y", "x")) for v in GRID_VARS}
    if fmt == "nc3":
        from netcdf4_variable_streamer_spark.sources.netcdf3 import write_netcdf3

        write_netcdf3(path, dims=dims, variables=variables, data=g)
    elif fmt == "nc4":
        from netcdf4_variable_streamer_spark.sources.hdf5lite import write_netcdf4

        write_netcdf4(
            path, dims=dims, variables=variables, data=g,
            compress=4, shuffle=True, chunk0=inputs.CHUNK_LINES,
        )
    else:
        from netcdf4_variable_streamer_spark.sources.chunkstore import (
            StreamedDataset,
        )

        ds = StreamedDataset(path, "w")
        for d, n in dims.items():
            ds.create_dimension(d, n)
        var = ds.create_streamed_variables(
            {v: "float32" for v in GRID_VARS},
            ("time", "y", "x"),
            # 16 lines per chunk at 32 x 32 float32 x 2 variables
            chunk_size_mb=inputs.CHUNK_LINES * inputs.GRID_Y * inputs.GRID_X
            * 4 * 2 / (1 << 20),
        )
        var.stream_block(g)
        ds.close()


class NcIngest:
    name = "nc_ingest"
    sizes = {
        "grid_lines": inputs.GRID_LINES,
        "cells_per_line": inputs.GRID_Y * inputs.GRID_X,
        "variables": len(GRID_VARS),
        "raw_mb": inputs.GRID_LINES * inputs.GRID_Y * inputs.GRID_X * 4 * 2 / 1e6,
        "window_lines": inputs.WINDOW_LINES,
    }

    def setup(self, ctx: Ctx) -> None:
        self.grid = inputs.grid(ctx.seed)
        self.window = inputs.window(ctx.seed)
        self.full = _grid_sums(self.grid)
        self.win = _grid_sums(self.grid, *self.window)
        self.paths: dict[str, str] = {}
        self.write_s: dict[str, list[float]] = {f: [] for f in WINDOW_FORMATS}
        _register_sources(ctx.spark)
        ctx.check(ctx.spark.range(1000).count() == 1000, "warm-up job")

    def warmup(self, ctx: Ctx) -> None:
        """One Python-DataSource aggregate over a one-chunk store. The first
        such query in a session starts the Python workers that plan and
        read every source (about 6 s here); without this the first timed
        scan would pay for all of them."""
        _register_sources(ctx.spark)
        warm = os.path.join(ctx.work, "nc", "warm")
        tiny = {v: a[: inputs.CHUNK_LINES] for v, a in self.grid.items()}
        shutil.rmtree(warm, ignore_errors=True)
        write_grid("chunkstore", warm, tiny)
        got = self._agg(self._frame(ctx.spark, "chunkstore", warm))
        ctx.check(got == _grid_sums(tiny), f"warm-up scan: {got}")

    def _frame(self, spark, fmt: str, path: str | None = None):
        from netcdf4_variable_streamer_spark.sources.netcdf3_source import FORMAT3_NAME
        from netcdf4_variable_streamer_spark.sources.netcdf4_source import FORMAT4_NAME
        from netcdf4_variable_streamer_spark.sources.netcdf_source import (
            FORMAT_NAME,
            read_native,
        )

        if fmt == "parquet":
            return read_native(spark, path or self.paths["chunkstore"])
        name = {"nc3": FORMAT3_NAME, "nc4": FORMAT4_NAME,
                "chunkstore": FORMAT_NAME}[fmt]
        return spark.read.format(name).option("path", path or self.paths[fmt]).load()

    def _agg(self, df):
        from pyspark.sql import functions as F

        from netcdf4_variable_streamer_spark.registry import dsum

        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("temperature").cast("double")).alias("t"),
            dsum(F.col("humidity").cast("double")).alias("h"),
        ).collect()[0]
        return (r["n"], r["t"], r["h"])

    def _write_all(self, ctx: Ctx, rep_dir: str, timed: bool) -> float:
        os.makedirs(rep_dir, exist_ok=True)
        total = 0.0
        for fmt, fname in (("nc3", "grid.nc"), ("nc4", "grid.nc4"),
                           ("chunkstore", "grid_store")):
            path = os.path.join(rep_dir, fname)
            with ctx.tracer.span(f"sources.write.{fmt}"):
                t = time.perf_counter()
                ok = ctx.attempt(f"write {fmt}",
                                 lambda: write_grid(fmt, path, self.grid) or 1)
                dt = time.perf_counter() - t
            total += dt
            if ok:
                ctx.check(True, f"write {fmt}")
                if timed:
                    self.write_s[fmt].append(dt)
            self.paths[fmt] = path
        return total

    def _window_aggs(self, spark) -> dict[str, tuple]:
        """The seeded window aggregated through the three DataSources in
        one query, one result row per source."""
        from functools import reduce

        from pyspark.sql import functions as F

        from netcdf4_variable_streamer_spark.registry import dsum

        lo, hi = self.window
        parts = [
            self._frame(spark, fmt)
            .filter((F.col("time_idx") >= lo) & (F.col("time_idx") < hi))
            .select(F.lit(fmt).alias("src"), "temperature", "humidity")
            for fmt in WINDOW_FORMATS
        ]
        rows = reduce(lambda a, b: a.unionByName(b), parts).groupBy("src").agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("temperature").cast("double")).alias("t"),
            dsum(F.col("humidity").cast("double")).alias("h"),
        ).collect()
        return {r["src"]: (r["n"], r["t"], r["h"]) for r in rows}

    def run(self, ctx: Ctx, rep: int) -> dict[str, float]:
        spark = ctx.spark
        out: dict[str, float] = {}
        rep_dir = os.path.join(ctx.work, "nc", f"rep{rep}")
        t_op = time.perf_counter()
        with ctx.tracer.span("nc.write"):
            out["write_s"] = self._write_all(ctx, rep_dir, True)
        for fmt in NC_FORMATS:
            with ctx.tracer.span(f"nc.scan.{fmt}"):
                ctx.tag(f"nc.scan.{fmt}")
                t = time.perf_counter()
                got = ctx.attempt(f"scan {fmt}",
                                  lambda: self._agg(self._frame(spark, fmt)))
                out[f"scan_s.{fmt}"] = time.perf_counter() - t
                ctx.untag()
            if got is not None:
                ctx.check(got == self.full, f"scan {fmt}: {got} != {self.full}")
        t_win = time.perf_counter()
        with ctx.tracer.span("nc.window"):
            ctx.tag("nc.window")
            got = ctx.attempt("window", lambda: self._window_aggs(spark))
            ctx.untag()
        out["window_s"] = time.perf_counter() - t_win
        for fmt in WINDOW_FORMATS if got is not None else ():
            ctx.check(got.get(fmt) == self.win,
                      f"window {fmt}: {got.get(fmt)} != {self.win}")
        out["op_s"] = time.perf_counter() - t_op
        return out

    def verify(self, ctx: Ctx, full_oracle: bool = False) -> None:
        pass  # every aggregate was checked against NumPy as it ran

    def workload_metrics(self, reps: list[dict]) -> dict[str, list[float]]:
        keys = ["write_s", *(f"scan_s.{f}" for f in NC_FORMATS), "window_s"]
        return {k: [r[k] for r in reps] for k in keys}

    # -- traced-run probes ----------------------------------------------------

    def layers(self, ctx: Ctx, spark_phases: dict) -> dict[str, float]:
        m: dict[str, float] = {}
        m.update(codec_probe(self.grid, self.paths, self.write_s))
        plan = source_probe(self.paths, self.window)
        for src, d in plan.items():
            for k, v in d.items():
                m[f"{src}.{k}"] = v
        for fmt, src in (("nc3", "netcdf3_source"), ("nc4", "netcdf4_source"),
                         ("chunkstore", "netcdf_source")):
            ph = spark_phases.get(f"nc.scan.{fmt}")
            if ph is not None:
                m[f"{src}.crossing_s"] = (
                    ph["executor_run_s"] - plan[src]["read_py_s"]
                )
        return m

    def repeat_scans(self, ctx: Ctx) -> dict[str, float]:
        """Each format's full aggregate once more on the session in ``ctx``
        (the traced run calls this at nproc and, after ``warmup``, at one
        core)."""
        out = {}
        for fmt in NC_FORMATS:
            t = time.perf_counter()
            got = self._agg(self._frame(ctx.spark, fmt))
            out[fmt] = time.perf_counter() - t
            ctx.check(got == self.full, f"repeat scan {fmt}")
        return out


def _register_sources(spark) -> None:
    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        NetCDF3DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
        NetCDF4DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        NetCDFChunkDataSource,
    )

    for ds in (NetCDF3DataSource, NetCDF4DataSource, NetCDFChunkDataSource):
        spark.dataSource.register(ds)


def _median_time(fn) -> float:
    ts = []
    for _ in range(3):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return median(ts)


def codec_probe(g, paths, write_s) -> dict[str, float]:
    """Codec decode/encode throughput in-process, one thread, on the files
    the timed operation wrote. MB are raw (decoded) grid bytes."""
    from netcdf4_variable_streamer_spark.sources.chunkstore import ChunkStore
    from netcdf4_variable_streamer_spark.sources.hdf5lite import NetCDF4View
    from netcdf4_variable_streamer_spark.sources.netcdf3 import NetCDF3File

    raw_mb = sum(a.nbytes for a in g.values()) / 1e6

    def nc3():
        nc = NetCDF3File(paths["nc3"])
        for v in GRID_VARS:
            np.ascontiguousarray(nc.read_records(v).astype(np.float32))

    def nc4():
        view = NetCDF4View(paths["nc4"])
        for v in GRID_VARS:
            np.ascontiguousarray(view.read_records(v))

    def store():
        cs = ChunkStore.open(paths["chunkstore"])
        for c in cs.list_chunks():
            cs.read_chunk(c, list(GRID_VARS))

    m = {}
    for mod, fn, fmt in (("netcdf3", nc3, "nc3"), ("hdf5lite", nc4, "nc4"),
                         ("chunkstore", store, "chunkstore")):
        m[f"{mod}.decode_mb_s"] = raw_mb / _median_time(fn)
        m[f"{mod}.encode_mb_s"] = raw_mb / median(write_s[fmt])
    m["hdf5lite.bytes_per_raw_byte"] = (
        os.path.getsize(paths["nc4"]) / (raw_mb * 1e6)
    )
    return m


def _partition_records(p) -> int:
    if hasattr(p, "n_lines"):
        return int(p.n_lines)
    return int(p.hi - p.lo)


def _ddl_schema(ddl: str):
    """StructType of a flat ``name type, ...`` DDL of atomic types, built
    without a JVM (pyspark's DDL parser needs one)."""
    from pyspark.sql import types as T

    atomic = {"byte": T.ByteType(), "short": T.ShortType(),
              "int": T.IntegerType(), "long": T.LongType(),
              "bigint": T.LongType(), "float": T.FloatType(),
              "double": T.DoubleType(), "string": T.StringType()}
    fields = []
    for part in ddl.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        fields.append(T.StructField(name.strip("`"), atomic[typ.lower()]))
    return T.StructType(fields)


def _open_reader(src: str, path: str, window=None):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from netcdf4_variable_streamer_spark.sources.netcdf3_source import (
        NetCDF3DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf4_source import (
        NetCDF4DataSource,
    )
    from netcdf4_variable_streamer_spark.sources.netcdf_source import (
        NetCDFChunkDataSource,
    )

    cls = {"netcdf3_source": NetCDF3DataSource,
           "netcdf4_source": NetCDF4DataSource,
           "netcdf_source": NetCDFChunkDataSource}[src]
    ds = cls({"path": path})
    reader = ds.reader(_ddl_schema(ds.schema()))
    if window is not None:
        lo, hi = window
        list(reader.pushFilters([
            GreaterThanOrEqual(("time_idx",), lo),
            LessThan(("time_idx",), hi),
        ]))
    return reader


def source_probe(paths, window) -> dict[str, dict[str, float]]:
    """DataSource planning and Python-side reading, in-process with no JVM:
    plan time, partitions and records planned for the full scan and for the
    window, and the time ``reader.read(p)`` takes over every partition."""
    out = {}
    for src, fmt in (("netcdf3_source", "nc3"), ("netcdf4_source", "nc4"),
                     ("netcdf_source", "chunkstore")):
        reader = _open_reader(src, paths[fmt])
        t = time.perf_counter()
        parts = reader.partitions()
        plan_s = time.perf_counter() - t
        wparts = _open_reader(src, paths[fmt], window).partitions()
        t = time.perf_counter()
        rows = 0
        for p in parts:
            for b in reader.read(p):
                rows += b.num_rows
        read_s = time.perf_counter() - t
        out[src] = {
            "plan_s": plan_s,
            "partitions": len(parts),
            "records_total": inputs.GRID_LINES,
            "records_planned": sum(_partition_records(p) for p in parts),
            "records_planned_window": sum(_partition_records(p) for p in wparts),
            "partitions_window": len(wparts),
            "read_py_s": read_s,
            "rows_read": rows,
        }
    return out


# ---------------------------------------------------------------------------
# crawl_stream
# ---------------------------------------------------------------------------


WARM_DOCS = 40  # documents per batch of the crawl warm-up stream


class CrawlStream:
    name = "crawl_stream"
    sizes = {
        "batches": inputs.FEED_BATCHES,
        "docs_per_batch": inputs.FEED_DOCS_PER_BATCH,
        "dup_share": inputs.DUP_SHARE,
    }

    def setup(self, ctx: Ctx) -> None:
        self.feed = inputs.doc_feed(ctx.seed)
        self.feed_dir = os.path.join(ctx.work, "feed")
        shutil.rmtree(self.feed_dir, ignore_errors=True)
        inputs.write_feed(self.feed, self.feed_dir)
        feed = ctx.spark.read.parquet(self.feed_dir)
        self.schema = feed.schema
        ctx.check(feed.count() == sum(len(b["doc_id"]) for b in self.feed),
                  "warm-up feed count")
        self.streams: list[dict] = []

    def warmup(self, ctx: Ctx) -> None:
        """One untimed stream over a two-batch slice of the feed, so the
        timed stream runs on a JIT-warm driver. A cold first stream's
        time follows the JIT's share of a contended host's CPU (20% apart
        across seeds) more than the crawl loop's own cost."""
        warm_dir = os.path.join(ctx.work, "feed_warm")
        shutil.rmtree(warm_dir, ignore_errors=True)
        inputs.write_feed([{k: v[:WARM_DOCS] for k, v in b.items()}
                           for b in self.feed[:2]], warm_dir)
        batches, _q, _stream_s = self._stream(
            ctx, warm_dir, os.path.join(ctx.work, "crawl_warm"))
        ctx.check([bid for bid, _dt in batches] == [0, 1],
                  f"warm-up stream batches {batches}")

    def _stream(self, ctx: Ctx, feed_dir: str, run_dir: str):
        """A crawl stream over ``feed_dir`` from an empty state directory,
        timed from ``start()`` to the return of the last batch's closure,
        which writes its commit marker last."""
        from netcdf4_variable_streamer_spark.streaming.queries import (
            make_crawl_loop,
        )

        spark = ctx.spark
        os.makedirs(run_dir)
        crawl, _count = make_crawl_loop(spark, run_dir)
        batches: list[tuple[int, float]] = []  # (batch id, seconds)
        last_end = [float("nan")]

        def timed(df, batch_id):
            with ctx.tracer.span("streaming.queries.crawl", batch=batch_id):
                t0 = time.perf_counter()
                crawl(df, batch_id)
                last_end[0] = time.perf_counter()
                batches.append((batch_id, last_end[0] - t0))

        t0 = time.perf_counter()
        q = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
            .writeStream.foreachBatch(timed)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
            .start()
        )
        try:
            ctx.attempt("crawl stream", q.awaitTermination)
        finally:
            if q.isActive:
                q.stop()
        return batches, q, last_end[0] - t0

    def run(self, ctx: Ctx, rep: int) -> dict[str, float]:
        """One stream over the whole feed."""
        run_dir = os.path.join(ctx.work, f"crawl_rep{rep}")
        batches, q, stream_s = self._stream(ctx, self.feed_dir, run_dir)
        self.streams.append({
            "run_dir": run_dir,
            "n": inputs.FEED_BATCHES,
            "batches": batches,
            "run_id": str(q.runId),
            "progress": q.recentProgress,
        })
        times = [dt for bid, dt in batches if bid > 0]
        quarter = -(-len(times) // 4)  # rounded up
        return {
            "op_s": stream_s,
            "stream_s": stream_s,
            "batch_s.early": median(times[:quarter]),
            "batch_s.late": median(times[-quarter:]),
        }

    def workload_metrics(self, reps):
        return {k: [r[k] for r in reps]
                for k in ("stream_s", "batch_s.early", "batch_s.late")}

    def verify(self, ctx: Ctx, full_oracle: bool = False) -> None:
        """Every batch's decisions must equal those of ``twin_decisions``,
        the crawl probe recomputed in Python from the feed (the engine's
        MinHash bands, bucket cap and exact quantised Jaccard), so a missed
        or a spurious duplicate is a failure. With ``full_oracle`` they must
        also equal the registry oracle of the batch twin
        (``q_dedup_minhash_incremental``) run on DuckDB with the index =
        every earlier batch (about 12 s on 4 cores)."""
        expected = twin_decisions(self.feed)
        oracle = (crawl_oracle_decisions(self.feed_dir, len(self.feed))
                  if full_oracle else None)
        for s in self.streams:
            got_batches = [bid for bid, *_ in s["batches"]]
            ctx.check(got_batches == list(range(s["n"])),
                      f"crawl batches {got_batches}")
            for k in range(1, s["n"]):
                path = os.path.join(s["run_dir"], f"dec_v{k}")
                got = ctx.attempt(f"read batch {k}", lambda: read_decisions(path))
                if got is None:
                    continue
                bad = [f"{g} != {e}" for g, e in zip(got, expected[k])
                       if g != e]
                if len(got) != len(expected[k]):
                    bad.append(f"{len(got)} decisions for "
                               f"{len(expected[k])} documents")
                if oracle is not None and got != oracle[k]:
                    bad.append("differs from the batch twin's oracle")
                ctx.check(not bad, f"crawl batch {k}: {bad[:3]}")

    def state_bytes(self, s: dict) -> list[int]:
        return [
            _dir_bytes(os.path.join(s["run_dir"], f"bands_v{k}"))
            + _dir_bytes(os.path.join(s["run_dir"], f"sh_v{k}"))
            for k in range(s["n"])
        ]

    def layers(self, ctx: Ctx, spark_phases: dict, jobs: list[dict],
               s: dict) -> dict[str, float]:
        state = self.state_bytes(s)
        input_bytes = _dir_bytes(self.feed_dir)
        per_batch_jobs = jobs_per_batch(jobs, s)
        probe = state[1:]
        quarter = -(-len(probe) // 4)
        m = {
            "stream.state_bytes_written.early": median(probe[:quarter]),
            "stream.state_bytes_written.late": median(probe[-quarter:]),
            "stream.state_bytes_per_input_byte": sum(state) / input_bytes,
            "stream.jobs_per_batch": float(np.mean(per_batch_jobs[1:])),
        }
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            m[f"stream.progress.{k}_ms"] = median(
                [p["durationMs"].get(k, 0) for p in s["progress"]]
            )
        dups = docs = 0
        for k in range(1, s["n"]):
            d = read_decisions(os.path.join(s["run_dir"], f"dec_v{k}"))
            docs += len(d)
            dups += sum(1 for r in d if r[1])
        m["stream.dup_ratio"] = dups / docs
        self.counters = {"state_bytes_written": state,
                         "jobs_per_batch": per_batch_jobs}
        return m


def jobs_per_batch(jobs: list[dict], s: dict) -> list[int]:
    """Jobs of the stream's run per micro-batch, by the ``batch = N`` line
    Spark puts in the description of every job a batch submits."""
    counts = [0] * len(s["batches"])
    for j in jobs:
        if j["group"] != s["run_id"]:
            continue
        m = re.search(r"^batch = (\d+)$", j["description"], re.M)
        if m and int(m.group(1)) < len(counts):
            counts[int(m.group(1))] += 1
    return counts


def _shingle_set(text: str) -> frozenset:
    """Distinct word 3-grams, the engine's shingle definition."""
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))


def _quantised_jaccard(a: frozenset, b: frozenset) -> float:
    """Jaccard as the engine emits it: round half up of 1e4 * J, / 1e4."""
    from decimal import ROUND_HALF_UP, Decimal

    inter = len(a & b)
    q = Decimal(repr(inter * 10000 / (len(a) + len(b) - inter)))
    return int(q.quantize(Decimal(1), rounding=ROUND_HALF_UP)) / 10000


def _band_sigs(shingles: frozenset) -> list[tuple[int, str]]:
    """A document's (band, sig) LSH keys as the engine computes them:
    28-bit md5 shingle hashes, universal-hash MinHash, md5 per band."""
    from netcdf4_variable_streamer_spark.operators import dedup as D

    if not shingles:
        return []
    h = np.array([int(hashlib.md5(x.encode()).hexdigest()[:7], 16)
                  for x in shingles], dtype=np.int64)
    a = np.array(D.MH_A, dtype=np.int64)[:, None]
    b = np.array(D.MH_B, dtype=np.int64)[:, None]
    mh = ((a * h + b) % D.MINHASH_P).min(axis=1)
    r = D.ROWS_PER_BAND
    return [
        (band, hashlib.md5(",".join(str(v) for v in mh[band * r:(band + 1) * r])
                           .encode()).hexdigest())
        for band in range(D.BANDS)
    ]


def twin_decisions(feed: list[dict[str, list]]) -> dict[int, list[tuple]]:
    """Expected (doc_id, is_dup, best_match, best_jaccard) rows of every
    batch k >= 1, sorted by doc_id. The index is every earlier document;
    index buckets wider than the engine's cap are dropped; a candidate
    sharing a band key is kept at quantised Jaccard >= 0.6, the best
    being the highest Jaccard, then the lowest id. Doc ids are positions
    in the feed."""
    from collections import Counter, defaultdict

    from netcdf4_variable_streamer_spark.operators.dedup import MAX_BUCKET

    shingles = [_shingle_set(t) for b in feed for t in b["text"]]
    keys = [_band_sigs(s) for s in shingles]
    out = {}
    for k in range(1, len(feed)):
        first = min(feed[k]["doc_id"])
        width = Counter(key for d in range(first) for key in keys[d])
        bucket = defaultdict(list)
        for d in range(first):
            for key in keys[d]:
                if width[key] <= MAX_BUCKET:
                    bucket[key].append(d)
        rows = []
        for d in sorted(feed[k]["doc_id"]):
            cands = {e for key in keys[d] for e in bucket.get(key, ())}
            best = max(((_quantised_jaccard(shingles[d], shingles[e]), -e)
                        for e in cands), default=(0.0, 0))
            rows.append((d, True, -best[1], best[0]) if best[0] >= 0.6
                        else (d, False, None, None))
        out[k] = rows
    return out


def read_decisions(path: str) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    return sorted(zip(t["doc_id"], t["is_dup"], t["best_match"],
                      t["best_jaccard"]))


def crawl_oracle_decisions(feed_dir: str, n_batches: int) -> dict[int, list]:
    """Expected decisions per batch from the twin's DuckDB oracle. The
    oracle SQL splits index from batch at a fixed doc id, so each batch's
    ids are shifted to start at that split (order-preserving, undone on
    the result)."""
    import duckdb

    from netcdf4_variable_streamer_spark.operators import dedup
    from netcdf4_variable_streamer_spark.registry import REGISTRY

    sql = REGISTRY["q_dedup_minhash_incremental"].oracle
    split = dedup._INC_SPLIT
    nb = inputs.FEED_DOCS_PER_BATCH
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    out = {}
    try:
        for k in range(1, n_batches):
            shift = k * nb - split
            con.execute(
                "CREATE OR REPLACE VIEW documents AS "
                f"SELECT doc_id - {shift} AS doc_id, text "
                f"FROM read_parquet('{feed_dir}/*.parquet') "
                f"WHERE doc_id < {(k + 1) * nb}"
            )
            rows = con.execute(sql).fetchall()
            out[k] = sorted(
                (d + shift, dup, None if bm is None else bm + shift, bj)
                for d, dup, bm, bj in rows
            )
    finally:
        con.close()
    return out


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

ANN_KEY = "q_sim_ivfpq_production_recall"
PAIR_KEYS = ("q_sim_threshold_pairs", "q_sim_threshold_lsh")


class Similarity:
    name = "similarity"
    sizes = {
        "vectors": inputs.EMB_BASE * inputs.EMB_REPLICAS,
        "base_vectors": inputs.EMB_BASE,
        "replicas": inputs.EMB_REPLICAS,
        "dim": inputs.EMB_DIM,
    }

    def setup(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        import netcdf4_variable_streamer_spark.operators  # noqa: F401  (registers keys)

        self.sf_dir = os.path.join(ctx.work, "emb")
        os.makedirs(self.sf_dir, exist_ok=True)
        emb = inputs.embeddings(ctx.seed)
        pq.write_table(emb, os.path.join(self.sf_dir, "embeddings.parquet"))
        self.results: list[tuple[str, object]] = []
        n = ctx.spark.read.parquet(self.sf_dir + "/embeddings.parquet").count()
        ctx.check(n == emb.num_rows, "warm-up embeddings count")

    def warmup(self, ctx: Ctx) -> None:
        pass  # the chain is measured from its first execution

    def _key(self, ctx: Ctx, key: str):
        from netcdf4_variable_streamer_spark.registry import REGISTRY

        pdf = ctx.attempt(key, lambda: REGISTRY[key].builder(
            ctx.spark, self.sf_dir).toPandas())
        if pdf is not None:
            self.results.append((key, pdf))
        return pdf

    def run(self, ctx: Ctx, rep: int) -> dict[str, float]:
        t_op = time.perf_counter()
        with ctx.tracer.span("sim.ann"):
            ctx.tag("sim.ann")
            t = time.perf_counter()
            recall = self._key(ctx, ANN_KEY)
            ann = time.perf_counter() - t
            ctx.untag()
        with ctx.tracer.span("sim.pairs"):
            ctx.tag("sim.pairs")
            t = time.perf_counter()
            self.n_pairs = [len(p) if (p := self._key(ctx, k)) is not None
                            else 0 for k in PAIR_KEYS]
            pairs = time.perf_counter() - t
            ctx.untag()
        r5 = float("nan") if recall is None else float(
            recall.set_index(["method", "k"]).loc[("ivfpq_refine_prod", 5),
                                                  "recall"])
        return {
            "op_s": time.perf_counter() - t_op,
            "ann_chain_s": ann,
            "pairs_s": pairs,
            "recall_at_5": r5,
        }

    def workload_metrics(self, reps):
        return {k: [r[k] for r in reps]
                for k in ("ann_chain_s", "pairs_s", "recall_at_5")}

    def verify(self, ctx: Ctx, full_oracle: bool = False) -> None:
        """Pair outputs hash-match their registry DuckDB oracles. The recall
        table is checked for its invariants and the refined production
        method must reach its recall floor at k = 1, 3 and 5 (raw ADC is
        only reported); its DuckDB oracle, which takes longer than the chain
        itself, runs only with ``full_oracle``."""
        import duckdb

        from netcdf4_variable_streamer_spark import oracle
        from netcdf4_variable_streamer_spark.registry import REGISTRY

        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.sf_dir, 'embeddings.parquet')}')"
        )
        expected = {}
        try:
            for key, pdf in self.results:
                if key == ANN_KEY:
                    ctx.check(_recall_invariants(pdf), "ann recall invariants")
                    t = pdf.set_index(["method", "k"])
                    for k in (1, 3, 5):
                        r = t.loc[("ivfpq_refine_prod", k)]
                        ctx.check(bool(r["meets_floor"]),
                                  f"ivfpq_refine_prod recall@{k} "
                                  f"{r['recall']} is below its floor")
                    if not full_oracle:
                        continue
                if key not in expected:
                    expected[key] = con.execute(REGISTRY[key].oracle).fetchdf()
                try:
                    oracle.compare_frames(pdf, expected[key], key)
                    ctx.check(True, key)
                except AssertionError as e:
                    ctx.check(False, f"{key}: {e}")
        finally:
            con.close()

    def layers(self, ctx: Ctx, spark_phases: dict) -> dict[str, float]:
        m = kernel_probe(self.sf_dir, ctx.cpus)
        lsh_pairs = self.n_pairs[1]
        m["similarity.lsh.useful_ratio"] = lsh_pairs / m["similarity.lsh.candidates"]
        self.counters = {"pairs_out": m["similarity.exact_pairs.pairs_out"]}
        return m


def _recall_invariants(pdf) -> bool:
    """The recall table's shape and arithmetic: every method at k = 1, 3,
    5; recall = hits / (k * queries); ``meets_floor`` says whether recall
    reaches the method's floor (a reported assessment: raw ADC misses its
    floor on some seeds); refine never recalls less than raw ADC."""
    from netcdf4_variable_streamer_spark.operators import similarity as sim

    floors = {"ivf_exact_prod": sim._PROD_EXACT_FLOOR,
              "ivfpq_adc_prod": sim._PROD_ADC_FLOOR,
              "ivfpq_refine_prod": sim._PROD_RERANK_FLOOR}
    t = pdf.set_index(["method", "k"]).sort_index()
    if set(t.index) != {(m, k) for m in floors for k in (1, 3, 5)}:
        return False
    ok = all(bool(t.loc[(m, k), "meets_floor"])
             == bool(t.loc[(m, k), "recall"] >= floors[m])
             for m, k in t.index)
    ok &= bool(((t["recall"] * t["n_queries"] * t.index.get_level_values("k"))
                .round(6) == t["hits"]).all())
    for k in (1, 3, 5):
        ok &= bool(t.loc[("ivfpq_refine_prod", k), "recall"]
                   >= t.loc[("ivfpq_adc_prod", k), "recall"])
    return ok


def kernel_probe(sf_dir: str, n_parts: int) -> dict[str, float]:
    """The NumPy kernels handed to ``mapInArrow``, called in-process on the
    embeddings split into ``n_parts`` Arrow batches (one per scan task)."""
    import pyarrow.parquet as pq

    from netcdf4_variable_streamer_spark.operators import similarity as sim

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"]).combine_chunks()
    per = -(-tbl.num_rows // n_parts)
    batches = tbl.to_batches(max_chunksize=per)
    m = {}
    kern = sim._exact_pairs_kernel(sf_dir, sim.TAU)
    t = time.perf_counter()
    out = list(kern(iter(batches)))
    m["similarity.exact_pairs.s"] = time.perf_counter() - t
    m["similarity.exact_pairs.rows_in"] = tbl.num_rows
    m["similarity.exact_pairs.pairs_out"] = sum(b.num_rows for b in out)
    t = time.perf_counter()
    buckets = list(sim._plsh_bucketize(iter(batches)))
    m["similarity.lsh.s"] = time.perf_counter() - t
    # candidate pairs the bucket join generates: distinct (v1 < v2) sharing
    # a (table, bucket) whose width is within the skew cap
    import pandas as pd

    b = pd.concat([x.to_pandas() for x in buckets], ignore_index=True)
    w = b.groupby(["tbl", "bucket"])["vec_id"].transform("size")
    b = b[w <= sim._PLSH_MAX_BUCKET]
    j = b.merge(b, on=["tbl", "bucket"])
    j = j[j["vec_id_x"] < j["vec_id_y"]]
    m["similarity.lsh.candidates"] = len(
        j[["vec_id_x", "vec_id_y"]].drop_duplicates()
    )
    return m
