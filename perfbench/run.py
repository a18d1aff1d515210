"""Benchmark of raster2points_spark: GeoTIFF to points (dense and sparse)
and a cold analytics mix, with a separate traced per-layer run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tif2points_dense --seed 1 --seconds 5 --trace 0

Workloads (one client, closed loop, ``local[nproc]``):

* ``tif2points_dense``  two co-registered f4 GeoTIFFs, every tile holds
  output; ``api.raster2df(..., calc_area=True)`` to parquet.
* ``tif2csv_sparse``    u1 mask with 3/4 of its tiles sparse, f4 value
  band with predictor 3; ``cli.main([mask, value, out])`` to CSV.
* ``analytics_mix``     registry keys over seeded TPC-H-like tables, each
  to the noop sink after ``spark.catalog.clearCache()``.

End-to-end metrics (``--trace 0``), one process per run:

* ``setup_s``      process start to a ready session (``session.get_spark``
  plus one trivial job), JVM launch included;
* ``first_run_s``  the first conversion, or first pass over the keys, in
  that fresh process;
* ``wall_s``       median warm conversion (after one untimed warm-up)
  or pass;
* ``query_p50_s``  median latency of one operation: one key on
  ``analytics_mix``; on the raster workloads one conversion, so wall_s;
* ``peak_rss_mb``  peak summed RSS of the process tree (this process,
  the Spark JVM and its Python workers) sampled every 100 ms, median
  over the warm runs; the JVM heap is fixed and pre-touched, so this
  moves with the memory the program uses beside the heap.

``mpx_per_s`` (raster workloads) and ``fail_ratio`` are printed on the
summary lines; failures also show in ``attempted``/``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload untraced, traced and untraced again in one process, then each
layer on its own, and prints the per-layer metrics (see
``layers.json``), writes the spans under ``.perfbench/trace/`` and
prints the self-time table.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import inputs  # noqa: E402
import reference  # noqa: E402
from tracing import (  # noqa: E402
    SPARK_COUNTERS,
    RssSampler,
    StatusStore,
    Tracer,
    add_counters,
    descendants,
)

# pyspark and raster2points_spark are imported inside functions, after
# pin_environment() has put the checkout on sys.path and set the Spark
# environment the session and its workers start with.
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".perfbench")

#: raster edge in pixels (tiles are 256²).  1024² keeps one run, cold
#: start included, near half a minute on 4 cores.
RASTER_SIZE = 1024
#: analytics tables: 0.1 of the corpus's sf0.1 row counts (60k lineitem
#: rows); a fixed table seed, so the seed varies only the key order.
TABLE_SCALE = 0.1
TABLE_SEED = 42
#: a cross-section of the engine's non-raster surface: TPC-H scans and
#: joins, as-of join, windows, LSH dedup (persists an index), vector
#: kNN, text, sessionization, an iterative graph key with eager
#: checkpoints, prefix-sum statistics and a grouped pandas UDF.
MIX_KEYS = (
    "tpch_q1",
    "tpch_q9",
    "tpch_q21",
    "join_asof",
    "win_topk_group",
    "dedup_near",
    "sim_knn",
    "text_tfidf",
    "sessionize_batch",
    "graph_pagerank",
    "stat_ks_test",
    "udf_grouped_map",
)
#: JVM heap (Spark local mode: driver and executors share it)
DRIVER_MEM = "2g"
RASTER_WORKLOADS = ("tif2points_dense", "tif2csv_sparse")
WORKLOADS = (*RASTER_WORKLOADS, "analytics_mix")
#: one run is never shorter than this many timed warm repetitions
#: (two mix passes give the 24 per-key samples behind query_p50_s)
MIN_WARM = {"tif2points_dense": 2, "tif2csv_sparse": 2, "analytics_mix": 2}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment() -> dict[str, str]:
    """Environment for the session and its Python workers, set before
    pyspark is imported; every value is echoed in the output."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # session.py defaults to 32g; stay well under physical RAM
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(SCRATCH, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(SCRATCH, "graft"),
        # temporary files of pyspark and the queries stay in the checkout
        "TMPDIR": os.path.join(SCRATCH, "tmp"),
        # Python workers import the package from the checkout
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        # a fixed, pre-touched heap: peak_rss_mb then follows the memory
        # the program uses beside the heap (Python side, Arrow and other
        # off-heap buffers), not G1's heap resizing, which follows GC pause
        # times and so the load on the host
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' pyspark-shell"
        ),
        # every JVM (the spark-submit launcher and the driver) keeps its
        # temporary files in the checkout; -UsePerfData stops it writing
        # /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(SCRATCH, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["SPARK_GRAFT_SCRATCH"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


class Session:
    """One Spark session in a fresh JVM; ``setup_s`` is the time from
    process start until the session has run one trivial job."""

    def __init__(self):
        from raster2points_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.setup_s = time.perf_counter() - T_PROCESS

    def close(self) -> None:
        """Stop the session and its JVM and wait for every child process
        (JVM, Python workers) to end."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class CheckFailed(Exception):
    """An operation ran but its output is wrong."""


class Tally:
    """Operations attempted and failed; an operation whose output check
    fails is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, *args):
        """``fn(*args)``, or None when it raises."""
        self.attempted += 1
        try:
            return fn(*args)
        except CheckFailed as e:
            self.failed += 1
            log(f"FAILED check {what}: {e}")
        except Exception:
            self.failed += 1
            log(f"FAILED {what}:\n{traceback.format_exc()}")
        return None

    def check(self, what: str, problems: list[str]) -> None:
        """A check that is an operation of its own."""

        def fail():
            if problems:
                raise CheckFailed("; ".join(problems[:5]))

        self.run(what, fail)


# ------------------------------------------------------------ raster side


class RasterWorkload:
    """The conversion one raster workload runs, its inputs and its
    expected output digest."""

    def __init__(self, name: str, seed: int):
        self.name = name
        self.dense = name == "tif2points_dense"
        make = inputs.dense_rasters if self.dense else inputs.sparse_rasters
        self.rs = make(os.path.join(SCRATCH, "inputs"), seed, RASTER_SIZE)
        self.fmt = "parquet" if self.dense else "csv"
        self.calc_area = self.dense
        self.out = os.path.join(SCRATCH, "out", name)
        self.bands = ["b1", "b2"]
        self.expected = reference.digest(
            reference.points(self.rs.arrays, self.rs.nodata, self.rs.transform, self.calc_area),
            self.rs.transform,
            RASTER_SIZE,
        )
        self.mpx = RASTER_SIZE * RASTER_SIZE * len(self.bands) / 1e6
        self.peaks: list[int] = []

    def convert(self, spark) -> None:
        from raster2points_spark import api, cli

        paths = list(self.rs.paths)
        if self.dense:
            df = api.raster2df(spark, paths, self.bands, calc_area=True)
            df.write.mode("overwrite").parquet(self.out)
        elif cli.main([*paths, self.out]) != 0:
            raise RuntimeError("cli.main returned non-zero")

    def check(self) -> list[str]:
        got = reference.digest(
            reference.read_output(self.out, self.fmt), self.rs.transform, RASTER_SIZE
        )
        return reference.compare(self.expected, got)

    def timed(self, spark, tally: Tally, rss=None) -> float | None:
        """One conversion, timed, and its output check (untimed).  With
        ``rss``, the conversion's peak RSS goes to ``self.peaks``."""

        def op():
            shutil.rmtree(self.out, ignore_errors=True)
            if rss is not None:
                rss.take_peak()
            t = time.perf_counter()
            self.convert(spark)
            wall = time.perf_counter() - t
            if rss is not None:
                self.peaks.append(rss.take_peak())
            problems = self.check()
            if problems:
                raise CheckFailed("; ".join(problems))
            return wall

        return tally.run(self.name, op)


def run_raster(name: str, seed: int, seconds: float, tally: Tally, rss) -> dict:
    sess = Session()
    try:
        w = RasterWorkload(name, seed)
        first = w.timed(sess.spark, tally)
        # warm conversions keep getting faster for a few runs (JIT), so
        # one warm-up conversion, checked but untimed, comes first
        w.timed(sess.spark, tally)
        walls: list[float] = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(walls) < MIN_WARM[name]:
            wall = w.timed(sess.spark, tally, rss)
            if wall is None:
                break
            walls.append(wall)
    finally:
        sess.close()
    if first is None or not walls:
        raise RuntimeError(f"{name}: no conversion succeeded")
    wall_s = statistics.median(walls)
    log(f"{name}: first {first:.3f}, warm {['%.3f' % x for x in walls]}")
    return {
        "setup_s": sess.setup_s,
        "wall_s": wall_s,
        "first_run_s": first,
        # one operation is one conversion, so its median is wall_s
        "query_p50_s": wall_s,
        "peak_rss_mb": statistics.median(w.peaks) / 2**20,
        "_mpx_per_s": w.mpx / wall_s,
    }


# --------------------------------------------------------- analytics side


class Mix:
    """The analytics mix: seeded key order over the seeded tables."""

    def __init__(self, seed: int):
        self.sf = inputs.tables_dir(os.path.join(SCRATCH, "inputs"), TABLE_SEED, TABLE_SCALE)
        self.keys = list(MIX_KEYS)
        random.Random(seed).shuffle(self.keys)
        self.registry = None

    def load(self):
        from raster2points_spark.registry import load_all

        self.registry = load_all()
        missing = [k for k in self.keys if k not in self.registry]
        if missing:
            raise KeyError(f"mix keys not registered: {missing}")

    def one(self, spark, key: str, tracer=None) -> None:
        spark.catalog.clearCache()
        if tracer is None:
            self.registry[key].fn(spark, self.sf).write.format("noop").mode("overwrite").save()
            return
        with tracer.span("queries.build"):
            df = self.registry[key].fn(spark, self.sf)
        with tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, tally: Tally, per_key=None, tracer=None, after=None) -> float:
        """One pass over the keys; with ``tracer``, each key is a span
        whose attributes are ``after()`` (read once the key returns)."""
        t0 = time.perf_counter()
        for k in self.keys:
            with tracer.span(f"queries.{k}", after=after) if tracer else contextlib.nullcontext():
                t = time.perf_counter()
                tally.run(k, self.one, spark, k, tracer)
                if per_key is not None:
                    per_key.setdefault(k, []).append(time.perf_counter() - t)
        return time.perf_counter() - t0

    def oracle_check(self, spark, tally: Tally) -> float:
        """Every mix key with oracle SQL against DuckDB, through
        ``tools/diff_oracle.compare``; returns the DuckDB seconds."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from diff_oracle import compare

        from raster2points_spark.io import TABLES

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        duck_s = 0.0
        for k in self.keys:
            spec = self.registry[k]
            if spec.oracle is None:
                continue

            def check_one(spec=spec):
                nonlocal duck_s
                spark.catalog.clearCache()
                got = spec.fn(spark, self.sf).toPandas()
                t = time.perf_counter()
                want = con.execute(spec.oracle).df()
                duck_s += time.perf_counter() - t
                problems = compare(spec.name, got, want)
                if problems:
                    raise CheckFailed("; ".join(problems[:5]))

            tally.run(f"oracle {k}", check_one)
        con.close()
        return duck_s


def run_mix(seed: int, seconds: float, tally: Tally, rss) -> dict:
    sess = Session()
    try:
        mix = Mix(seed)
        t = time.perf_counter()
        mix.load()
        mix.run_pass(sess.spark, tally)
        first = time.perf_counter() - t
        walls: list[float] = []
        peaks: list[int] = []
        per_key: dict[str, list[float]] = {}
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(walls) < MIN_WARM["analytics_mix"]:
            rss.take_peak()
            walls.append(mix.run_pass(sess.spark, tally, per_key))
            peaks.append(rss.take_peak())
        mix.oracle_check(sess.spark, tally)
    finally:
        sess.close()
    log(f"analytics_mix: first {first:.3f}, warm {['%.3f' % x for x in walls]}")
    return {
        "setup_s": sess.setup_s,
        "wall_s": statistics.median(walls),
        "first_run_s": first,
        "query_p50_s": statistics.median(x for v in per_key.values() for x in v),
        "peak_rss_mb": statistics.median(peaks) / 2**20,
    }


# ------------------------------------------------------------ traced run


def _zero_layers() -> dict[str, float]:
    names = [m["name"] for m in layer_specs() if m["name"] != "queries.KEY.s"]
    out = dict.fromkeys(names, 0.0)
    out.update({f"queries.{k}.s": 0.0 for k in MIX_KEYS})
    out.update({f"spark.{c}": 0.0 for c in SPARK_COUNTERS})
    return out


def layer_specs() -> list[dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)["metrics"]


def _install_raster_spans(tracer):
    """Spans around the public functions each raster layer exposes,
    patched where their callers look them up."""
    from pyspark.sql.readwriter import DataFrameWriter

    from raster2points_spark import api, cli
    from raster2points_spark.sources import minitiff

    undo = [
        tracer.wrap(api, "raster2df", "api.raster2df"),
        tracer.wrap(api, "raster2csv", "api.raster2csv"),
        tracer.wrap(cli, "raster2df", "api.raster2df"),
        tracer.wrap(cli, "raster2csv", "api.raster2csv"),
        tracer.wrap(minitiff, "read_header", "minitiff.read_header"),
        tracer.wrap(minitiff, "minitiff_to_tiles", "minitiff.minitiff_to_tiles"),
        tracer.wrap(DataFrameWriter, "parquet", "sink.parquet"),
        tracer.wrap(DataFrameWriter, "csv", "sink.csv"),
    ]
    return lambda: [u() for u in reversed(undo)]


def _decode_replay(w: RasterWorkload) -> dict[str, float]:
    """Decode every window of every band on one thread through the
    reader's public functions, and count blocks from the headers."""
    from raster2points_spark.sources import minitiff
    from raster2points_spark.sources.geotiff import window_grid

    out = dict.fromkeys(
        ("header_s", "decode_s", "blocks_read", "blocks_sparse", "bytes_read"), 0.0
    )
    useful = decoded = 0
    for band, path in enumerate(w.rs.paths):
        t = time.perf_counter()
        hdr = minitiff.read_header(path)
        out["header_s"] += time.perf_counter() - t
        stored = [n for off, n in zip(hdr.offsets, hdr.byte_counts) if off]
        out["blocks_read"] += len(stored)
        out["blocks_sparse"] += len(hdr.offsets) - len(stored)
        out["bytes_read"] += sum(stored)
        for win in window_grid(hdr.width, hdr.height, hdr.block_width, hdr.block_height):
            t = time.perf_counter()
            px = minitiff.read_window(hdr, win["col_off"], win["row_off"], win["width"], win["height"])
            out["decode_s"] += time.perf_counter() - t
            if band == 0:
                decoded += 1
                useful += any(v != hdr.nodata for v in px)
    out["decode_mpx_per_s"] = w.mpx / out["decode_s"]
    out["useful_block_ratio"] = useful / decoded
    return {f"minitiff.{k}": v for k, v in out.items()}


def trace_raster(name: str, seed: int, tally: Tally, tracer) -> dict:
    from pyspark.sql import functions as F

    from raster2points_spark import api
    from raster2points_spark.operators.grid import raster2points
    from raster2points_spark.sources.minitiff import minitiff_to_tiles
    from raster2points_spark.sources.tiles import read_tiles

    m = _zero_layers()
    sess = Session()
    m["session.start_s"] = sess.setup_s
    try:
        spark = sess.spark
        w = RasterWorkload(name, seed)
        paths = list(w.rs.paths)
        w.timed(spark, tally)  # warm-up
        before = w.timed(spark, tally)
        store = StatusStore(spark)

        def after():
            return {"spark": store.delta(), "persisted_rdds": store.persisted_rdds()}

        tracer.enabled = True
        undo = _install_raster_spans(tracer)
        try:
            with tracer.span(f"workload.{name}", after=after):
                t = time.perf_counter()
                tally.run(name, w.convert, spark)
                traced = time.perf_counter() - t
        finally:
            undo()
        (run,) = tracer.attrs(f"workload.{name}")
        m.update({f"spark.{k}": v for k, v in run["spark"].items()})
        m["cache.persisted_rdds_left"] = run["persisted_rdds"]
        tally.check(name, w.check())
        parts = [p for p in os.listdir(w.out) if p.startswith("part-")]
        m["sink.files_written"] = len(parts)
        m["sink.bytes_written"] = sum(os.path.getsize(os.path.join(w.out, p)) for p in parts)
        # untraced runs on both sides of the traced one cancel the
        # warm-up trend that later runs still show
        untraced = (before + w.timed(spark, tally)) / 2
        m["trace.overhead_s"] = traced - untraced
        store.delta()

        # one layer at a time, each from outside, each in its own span
        with tracer.span("layer.api.build", after=after):
            t = time.perf_counter()
            df = api.raster2df(spark, paths, w.bands, calc_area=w.calc_area)
            m["api.build_s"] = time.perf_counter() - t
        m["api.build_jobs"] = tracer.attrs("layer.api.build")[0]["spark"]["jobs"]
        with tracer.span("layer.noop", after=after):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            noop_s = time.perf_counter() - t
        if w.dense:
            m["sink.write_s"] = untraced - (m["api.build_s"] + noop_s)
        else:
            with tracer.span("layer.api.raster2csv", after=after):
                t = time.perf_counter()
                csv_out = w.out + "_api"
                api.raster2csv(spark, paths, w.bands, csv_out)
                csv_s = time.perf_counter() - t
            shutil.rmtree(csv_out, ignore_errors=True)
            m["cli.overhead_s"] = untraced - csv_s
            m["sink.write_s"] = csv_s - (m["api.build_s"] + noop_s)
        with tracer.span("layer.minitiff.decode"):
            m.update(_decode_replay(w))
        tdf = minitiff_to_tiles(spark, paths)
        with tracer.span("layer.tiles", after=after):
            t = time.perf_counter()
            tdf.write.format("noop").mode("overwrite").save()
            m["tiles.exec_s"] = time.perf_counter() - t
        tiles_dir = os.path.join(SCRATCH, "out", f"{name}_tiles")
        tdf.write.mode("overwrite").parquet(tiles_dir)
        m["tiles.rows"] = spark.read.parquet(tiles_dir).count()
        tiles = read_tiles(spark, tiles_dir)
        dtypes = {b: str(a.dtype) for b, a in zip(w.bands, w.rs.arrays)}
        pts = raster2points(tiles, w.bands, calc_area=w.calc_area, dtypes=dtypes)
        store.delta()  # the tile-table write above is not the grid's
        with tracer.span("layer.grid", after=after):
            t = time.perf_counter()
            pts.write.format("noop").mode("overwrite").save()
            m["grid.exec_s"] = time.perf_counter() - t
        m["grid.px_exploded"] = (
            tiles.filter(F.col("band_id") == w.bands[0]).select(F.sum(F.size("data"))).first()[0]
        )
        m["grid.rows_out"] = pts.count()
        m["grid.keep_ratio"] = m["grid.rows_out"] / m["grid.px_exploded"]
        with tracer.span("layer.ref.numpy"):
            t = time.perf_counter()
            _, bands = reference.numpy_raster2df(
                paths, w.rs.nodata, w.rs.transform, w.calc_area
            )
            m["ref.numpy_s"] = time.perf_counter() - t
        tally.check(
            "reference decoder",
            [f"band {i} differs" for i, (a, b) in enumerate(zip(bands, w.rs.arrays), 1)
             if not (a == b).all()],
        )
        tally.check(
            "grid.rows_out", [] if m["grid.rows_out"] == w.expected["rows"] else ["row count"]
        )
    finally:
        sess.close()
    return m


def trace_mix(seed: int, tally: Tally, tracer) -> dict:
    m = _zero_layers()
    sess = Session()
    m["session.start_s"] = sess.setup_s
    try:
        spark = sess.spark
        mix = Mix(seed)
        mix.load()
        mix.run_pass(spark, tally)  # warm-up
        before = mix.run_pass(spark, tally)
        store = StatusStore(spark)

        def after():
            return {"spark": store.delta(), "persisted_rdds": store.persisted_rdds()}

        tracer.enabled = True
        per_key: dict[str, list[float]] = {}
        with tracer.span("workload.analytics_mix"):
            # the pass time includes the store reads: tracing overhead
            traced = mix.run_pass(spark, tally, per_key, tracer, after)
        counters: dict[str, float] = {}
        for k in mix.keys:
            (a,) = tracer.attrs(f"queries.{k}")
            add_counters(counters, a["spark"])
            m["cache.persisted_rdds_left"] += a["persisted_rdds"]
        m.update({f"spark.{k}": v for k, v in counters.items()})
        # untraced passes on both sides cancel the warm-up trend
        m["trace.overhead_s"] = traced - (before + mix.run_pass(spark, tally)) / 2
        m["queries.build_s"] = tracer.total("queries.build")
        m["queries.exec_s"] = tracer.total("queries.exec")
        for k, v in per_key.items():
            m[f"queries.{k}.s"] = v[0]
        with tracer.span("layer.ref.duckdb"):
            m["ref.duckdb_s"] = mix.oracle_check(spark, tally)
    finally:
        sess.close()
    return m


def print_trace_report(workload: str, m: dict, tracer) -> None:
    """Per-layer values with the end-to-end metric each should move and
    where, then the self-time table of the spans."""
    specs = {s["name"]: s for s in layer_specs()}
    print(f"per-layer metrics, workload {workload}:")
    print(f"{'metric':<30} {'value':>14} {'unit':<6} moves / on")
    for name, v in sorted(m.items()):
        spec = specs.get(name, specs["queries.KEY.s"])
        print(f"{name:<30} {v:>14.4f} {spec['unit']:<6} {spec['moves']} / {spec['on']}")
    print(f"tracing overhead: {m['trace.overhead_s']:.3f} s (traced wall_s - untraced wall_s)")
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])
    print(f"{'span':<34} {'calls':>5} {'total_s':>9} {'self_s':>9}")
    for name, r in rows:
        print(f"{name:<34} {r['calls']:>5} {r['total_s']:>9.3f} {r['self_s']:>9.3f}")


# ------------------------------------------------------------------ main


UNITS = {"setup_s": "s", "wall_s": "s", "first_run_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB"}
#: printed on the summary lines only: mpx_per_s has no value on the mix,
#: and fail_ratio is 0 on a healthy run (both are in ``attempted``/``failed``)
SUMMARY_UNITS = {"_mpx_per_s": "Mpx/s", "_fail_ratio": "ratio"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "raster2points_spark", "session.py")):
        log(f"no raster2points_spark package under {ROOT}; run from a checkout root")
        return 2
    env = pin_environment()
    tally = Tally()
    tracer = Tracer(f"{args.workload}-s{args.seed}", enabled=False)
    with RssSampler() as rss:
        if args.trace:
            if args.workload == "analytics_mix":
                m = trace_mix(args.seed, tally, tracer)
            else:
                m = trace_raster(args.workload, args.seed, tally, tracer)
        elif args.workload == "analytics_mix":
            m = run_mix(args.seed, args.seconds, tally, rss)
        else:
            m = run_raster(args.workload, args.seed, args.seconds, tally, rss)
    if args.trace:
        units = {s["name"]: s["unit"] for s in layer_specs()}
        metrics = {
            k: {"value": v, "unit": units.get(k, "s")} for k, v in sorted(m.items())
        }
        path = os.path.join(SCRATCH, "trace", f"{tracer.run_id}.json")
        tracer.dump(path, {"env": env, "metrics": m})
        print_trace_report(args.workload, m, tracer)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in UNITS.items()}
        m["_fail_ratio"] = tally.failed / tally.attempted
        for k, v in m.items():
            print(f"{k.lstrip('_'):<14} {v:>12.4f} {UNITS.get(k) or SUMMARY_UNITS[k]}")
    print("env " + json.dumps(env, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
