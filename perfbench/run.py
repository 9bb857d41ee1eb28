#!/usr/bin/env python3
"""Benchmark of the cube product path: scene search -> dedup -> tile
assignment -> decode+regrid -> take-first mosaic -> partitioned sink ->
commit log, driven through the program's public functions only.

    python3 perfbench/run.py --workload cube_build --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One client, one process, closed loop, Spark
``local[4]``. The seed picks the solar days and the oracle-checked tile; the
program sees only the generated inputs. Everything the run writes lives
under ``.bench_work/`` in the checkout: the synthetic world (generated on the
first run, then reused), and, reset at every run, the plane disk cache, the
Spark local dir, the output stores, the temp dir and the event log.

Workloads (why each exists: ``perfbench/layers.json``):

* ``cube_build``: one op = ``build_cube`` + ``expected_partitions`` ->
  ``lineage.write_cube`` of a one-day window (128-px tiles, 4 bands) into a
  fresh store: the whole grid on the cold first op, all tile rows but the
  southern one on the warm ops. The closing op is a resume of the last
  store over the whole grid; it must write the missing row and nothing else.
* ``cube_daily``: one op = one solar day written by its own ``write_cube``
  call into one store (64-px tiles, 4 bands), the way the per-day job and
  the streaming micro-batch write. The closing op is the single-call resume
  over the first day written; it must write 0 partitions.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` Spark's event log is on, spans are recorded around each call,
warm ops alternate between the fused call and a decomposed one (each stage
materialized with a ``noop`` sink), and the last line carries the per-layer
metrics. The line before it is a report: the metrics under their workload
names (cube_build_s, day_write_s, ...) with unit and sample count, check
verdicts and the machine stamp.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
#: one task slot per vCPU. On a 4-vCPU VM, local[2] and local[3] ran the ops
#: 10-30 % slower, with more CPU steal (idle vCPUs wait to be rescheduled),
#: and were no steadier from run to run
MASTER = "local[4]"
SF = "sf0.1"
#: solar days the sf0.1 world covers (synth.PARAMS["sf0.1"].days from June 1)
WORLD_T0, WORLD_DAYS = dt.date(2025, 6, 1), 16
N_SETUPS = 3

WORKLOADS = {
    # the cold first op writes the whole 12 x 9 grid; the warm ops write
    # every tile row but the southern one, and the closing resume of the
    # last of them writes the whole grid, so it skips the committed rows and
    # writes row 8, as a job restarted after dying part-way does
    "cube_build": {"tile": 128, "window_days": 1, "bbox_tiles": None, "held_out_row": 8},
    # a north-east corner of the 64-px grid (tile_x 16-23, tile_y 0-5): it
    # holds one of the two expected partitions per day that yield no rows
    "cube_daily": {"tile": 64, "max_days": 6, "resume_days": 1, "bbox_tiles": (16, 0, 24, 6),
                   "held_out_row": None},
}

CODEC_METRIC = "codecs.decode_ms_per_mpx."


# --------------------------------------------------------------------------
# environment: isolation, process-tree memory, machine stamp
# --------------------------------------------------------------------------

def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists
    them: the result line reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _reset_dirs() -> dict[str, str]:
    d = {k: os.path.join(WORK, k) for k in ("planes", "spark-local", "stores", "tmp", "eventlog")}
    for p in d.values():
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
    d["data"] = os.path.join(WORK, "data")
    os.makedirs(d["data"], exist_ok=True)
    # must be set before pyspark or the program is imported: workers inherit
    # this environment (local mode), and tempfile caches TMPDIR on first use
    os.environ["XSS_PLANE_CACHE_DIR"] = d["planes"]
    os.environ["SPARK_LOCAL_DIRS"] = d["spark-local"]
    os.environ["TMPDIR"] = d["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # java.io.tmpdir for every JVM of the run; no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={d['tmp']}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    return d


def _descendants_rss_bytes(root_pid: int) -> int:
    """Summed RSS of the descendants of ``root_pid`` (not of itself), from
    /proc. A JVM child that still shares the JVM's image (the instant
    between its vfork and exec, while the JVM spawns Python workers) reports
    the JVM's whole RSS; it is skipped so the JVM is not counted twice."""
    parent, rss, cmd = {}, {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * page
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd[pid] = f.read()
        except OSError:
            rss.pop(pid, None)
            continue
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
    total = 0
    for pid, r in rss.items():
        if b"java" in cmd[pid] and cmd[pid] == cmd.get(parent[pid]):
            continue
        p = parent[pid]
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += r
    return total


class RssSampler(threading.Thread):
    """Peak RSS of the program's processes (the JVM and its Python workers;
    this client is left out), sampled only while an op call is in flight."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._stop_evt = threading.Event()
        self._active = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            if self._active.is_set():
                self.peak = max(self.peak, _descendants_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.period)

    @contextmanager
    def counting(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def _steal_pct(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return round(100.0 * d[7] / tot, 2) if tot and len(d) > 7 else 0.0


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "none (not a git checkout)"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(ref[5:]):
                    return line.split()[0]
    return "unknown"


def _program_digest() -> str:
    """md5 over the program's Python sources, to tell checkouts apart when
    there is no git metadata."""
    h = hashlib.md5()
    pkg = os.path.join(ROOT, "xcube_stac_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return h.hexdigest()


def _stamp(steal: float) -> dict:
    import pyspark

    from xcube_stac_spark import synth

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
        "cpu_steal_pct": steal, "master": MASTER, "sf": SF,
        "python": platform.python_version(), "spark": pyspark.__version__,
        "synth_version": synth.SYNTH_VERSION, "git_commit": _git_commit(),
        "program_md5": _program_digest(),
    }


# --------------------------------------------------------------------------
# set-up
# --------------------------------------------------------------------------

def _spark_conf(dirs: dict, trace: bool) -> dict:
    conf = {
        "spark.local.dir": dirs["spark-local"],
        # a fixed, pre-touched driver heap: its RSS is then the same in every
        # run, so peak_rss_mb moves with what the program allocates elsewhere
        # (Python workers, off-heap) instead of with GC timing
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
        })
    return conf


def check_world(spark, sdir: str) -> None:
    """The catalog tables read through Spark hold the rows their parquet
    footers declare. Every data file is read once first, so the ops find the
    world in the page cache whatever ran on the host before this run."""
    import pyarrow.parquet as pq

    from xcube_stac_spark.sources.catalog import SceneCatalog

    for dirpath, _, files in os.walk(sdir):
        for fn in files:
            with open(os.path.join(dirpath, fn), "rb") as f:
                while f.read(1 << 20):
                    pass

    cat = SceneCatalog(spark, sdir)
    for name, df in (("scenes", cat.scenes()), ("assets", cat.assets()), ("images", cat.images())):
        want = pq.ParquetFile(os.path.join(sdir, f"{name}.parquet")).metadata.num_rows
        got = df.count()
        if got != want or not got:
            raise RuntimeError(f"{sdir}/{name}: {got} rows read, footer says {want}")


def set_up(dirs: dict, trace: bool):
    """N_SETUPS set-ups (session start + data check/generation), each after
    stopping the previous session; returns the last session and timings."""
    from xcube_stac_spark import synth
    from xcube_stac_spark.session import get_spark

    totals, sessions, datas, spark = [], [], [], None
    for _ in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=MASTER, extra_conf=_spark_conf(dirs, trace))
        t1 = time.perf_counter()
        sdir = synth.generate(SF, out_root=dirs["data"])
        check_world(spark, sdir)
        t2 = time.perf_counter()
        sessions.append(t1 - t0)
        datas.append(t2 - t1)
        totals.append(t2 - t0)
    return spark, sdir, {"setup": totals, "session": sessions, "data": datas}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------------------
# store inspection (from outside the program)
# --------------------------------------------------------------------------

def partition_dirs(store: str) -> dict[tuple, tuple]:
    """(solar_day, tile_y, tile_x) -> sorted (file, size, mtime_ns) of every
    partition directory holding at least one data file."""
    out = {}
    if not os.path.isdir(store):
        return out
    for dday in os.listdir(store):
        if not dday.startswith("solar_day="):
            continue
        for dy in os.listdir(os.path.join(store, dday)):
            for dx in os.listdir(os.path.join(store, dday, dy)):
                p = os.path.join(store, dday, dy, dx)
                files = tuple(sorted(
                    (fn, os.stat(os.path.join(p, fn)).st_size, os.stat(os.path.join(p, fn)).st_mtime_ns)
                    for fn in os.listdir(p) if fn.endswith(".parquet")
                ))
                if files:
                    key = (dday.split("=", 1)[1], int(dy.split("=", 1)[1]), int(dx.split("=", 1)[1]))
                    out[key] = files
    return out


def store_tiles(store: str, days: set[str] | None = None):
    """Sorted (solar_day, band, tile_y, tile_x, md5(data), n_scenes, item_ids)
    rows of the store's data files (the commit log is not read)."""
    import pyarrow.dataset as ds

    if not os.path.isdir(store):
        return []
    t = ds.dataset(store, format="parquet", partitioning="hive").to_table(
        columns=["solar_day", "band", "tile_y", "tile_x", "data", "n_scenes", "item_ids"]
    ).to_pydict()
    rows = [
        (str(d), b, int(y), int(x), hashlib.md5(data).hexdigest(), int(n), ids)
        for d, b, y, x, data, n, ids in zip(
            t["solar_day"], t["band"], t["tile_y"], t["tile_x"], t["data"],
            t["n_scenes"], t["item_ids"])
        if days is None or str(d) in days
    ]
    return sorted(rows)


def digest(rows) -> str:
    return hashlib.md5(json.dumps(rows).encode()).hexdigest()


def store_bytes(store: str) -> tuple[int, int]:
    """(data files, data bytes) under the store, commit log excluded."""
    n = b = 0
    for dirpath, dirnames, files in os.walk(store):
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        for fn in files:
            if fn.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, fn))
    return n, b


# --------------------------------------------------------------------------
# the workloads' operations
# --------------------------------------------------------------------------

class Ctx:
    """Per-run state shared by the ops: session, world, grid, tracer."""

    def __init__(self, spark, sdir, workload, seed, tracer, dirs):
        from xcube_stac_spark import synth
        from xcube_stac_spark.sources.catalog import SceneCatalog

        self.spark, self.sdir, self.tracer, self.dirs = spark, sdir, tracer, dirs
        self.workload = workload
        self.cfg = WORKLOADS[workload]
        self.cat = SceneCatalog(spark, sdir)
        self.grid = synth.default_grid(SF, tile=self.cfg["tile"], res_factor=1.1)
        self.bbox = self.grid.bbox()
        if self.cfg["bbox_tiles"]:
            x0, y0, x1, y1 = self.cfg["bbox_tiles"]
            lo, hi = self.grid.tile_bbox(x0, y1 - 1), self.grid.tile_bbox(x1 - 1, y0)
            self.bbox = (lo[0], lo[1], hi[2], hi[3])
        self.bands = list(synth.PARAMS[SF].bands)
        self.rng = random.Random(seed)
        self.ops: list[dict] = []
        self.decomposed_parts: list[dict] = []


def _day(d: dt.date) -> str:
    return d.isoformat()


def _narrow(df, day: str | None, skip_row: int | None):
    """Rows of one solar day (the per-day job's filter) and without one tile
    row (the part a job that died part-way did not write)."""
    from pyspark.sql import functions as F

    if day is not None:
        df = df.where(F.col("solar_day") == F.lit(day).cast("date"))
    if skip_row is not None:
        df = df.where(F.col("tile_y") != F.lit(skip_row))
    return df


def fused_write(ctx: Ctx, op: str, store: str, time_range, day: str | None, resume: bool,
                skip_row: int | None = None):
    """The write the production job makes: lazy plans, then one write_cube."""
    from xcube_stac_spark import lineage
    from xcube_stac_spark.plans import cube as cube_plan

    tr = ctx.tracer
    with tr.span("op", op):
        with tr.span("plans.cube.plan", op):
            cube = cube_plan.build_cube(ctx.cat, ctx.grid, bbox=ctx.bbox, time_range=time_range, bands=ctx.bands)
            exp = cube_plan.expected_partitions(ctx.cat, ctx.grid, bbox=ctx.bbox, time_range=time_range, bands=ctx.bands)
            cube, exp = _narrow(cube, day, skip_row), _narrow(exp, day, skip_row)
        with tr.span("lineage.write_cube", op):
            lineage.write_cube(cube, store, resume=resume, expected_partitions=exp)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def decomposed_write(ctx: Ctx, op: str, store: str, time_range, day: str | None, skip_row: int | None):
    """The same write with each stage materialized on its own, so spans
    measure stages apart. Mirrors plans.cube.build_cube's composition."""
    from xcube_stac_spark import lineage
    from xcube_stac_spark.operators import tiles
    from xcube_stac_spark.plans import cube as cube_plan

    tr, cat, grid, bands = ctx.tracer, ctx.cat, ctx.grid, ctx.bands
    held = []

    def keep(df):
        held.append(df.persist())
        return held[-1]

    try:
        with tr.span("op", op) as s_op:
            with tr.span("plans.cube.plan", op):
                cube_plan.build_cube(cat, grid, bbox=ctx.bbox, time_range=time_range, bands=bands)
                exp = cube_plan.expected_partitions(cat, grid, bbox=ctx.bbox, time_range=time_range, bands=bands)
                exp = _narrow(exp, day, skip_row)
            with tr.span("spatial.search", op):
                scenes = keep(cube_plan.select_scenes(cat, ctx.bbox, time_range))
                _noop(scenes)
            with tr.span("plans.cube.scene_images", op):
                imgs = keep(cube_plan.scene_images(cat, scenes, bands))
                _noop(imgs)
            with tr.span("tiles.assign", op):
                assigned = keep(tiles.assign_grid_tiles(imgs, grid))
                _noop(assigned)
            with tr.span("tiles.decode_regrid", op):
                regridded = keep(tiles.decode_regrid(assigned, grid, repartition=True))
                _noop(regridded)
            with tr.span("tiles.mosaic", op):
                cube = keep(_narrow(tiles.mosaic_take_first(regridded), day, skip_row))
                _noop(cube)
            with tr.span("plans.cube.expected_partitions", op):
                exp = keep(exp)
                _noop(exp)
            with tr.span("lineage.committed_read", op):
                _noop(lineage.committed_partitions(ctx.spark, store))
            with tr.span("lineage.write_cube", op) as s_write:
                lineage.write_cube(cube, store, resume=True, expected_partitions=exp)
        ctx.decomposed_parts.append({
            "op": op, "store": store, "write": s_write,
            "seconds": s_op["end"] - s_op["start"], "n_scenes": scenes.count(),
        })
    finally:
        for df in held:
            df.unpersist()


def run_ops(ctx: Ctx, seconds: float, trace: bool) -> None:
    """Closed loop: the next op starts when the previous one has returned,
    until ``seconds`` have passed (at least two ops; in a traced run at
    least one fused and one decomposed warm op)."""
    stores = ctx.dirs["stores"]
    if ctx.workload == "cube_build":
        start = WORLD_T0 + dt.timedelta(days=ctx.rng.randrange(WORLD_DAYS - ctx.cfg["window_days"] + 1))
        ctx.window = (_day(start), _day(start + dt.timedelta(days=ctx.cfg["window_days"])))
    else:
        start = WORLD_T0 + dt.timedelta(days=ctx.rng.randrange(WORLD_DAYS - ctx.cfg["max_days"] + 1))
        ctx.days = [start + dt.timedelta(days=i) for i in range(ctx.cfg["max_days"])]
        ctx.daily_store = os.path.join(stores, "daily")
    t_begin = time.perf_counter()
    i = 0
    while True:
        elapsed = time.perf_counter() - t_begin
        kinds = [o["kind"] for o in ctx.ops[1:]]
        need = i < 2 or (trace and ("fused" not in kinds or "decomposed" not in kinds))
        if elapsed >= seconds and not need:
            break
        if ctx.workload == "cube_daily" and i >= len(ctx.days):
            break
        kind = "decomposed" if trace and i % 2 == 1 else "fused"
        op = f"op{i}"
        if ctx.workload == "cube_build":
            store, day, time_range = os.path.join(stores, f"build_{i}"), None, ctx.window
        else:
            d = ctx.days[i]
            store, day = ctx.daily_store, _day(d)
            # the per-day job's scan window: [d-1, d+2) clipped to the world
            time_range = (_day(max(WORLD_T0, d - dt.timedelta(days=1))),
                          _day(min(WORLD_T0 + dt.timedelta(days=WORLD_DAYS), d + dt.timedelta(days=2))))
        skip_row = None if i == 0 else ctx.cfg["held_out_row"]
        rec = {"op": op, "kind": kind, "store": store, "day": day, "ok": True}
        t0 = time.perf_counter()
        try:
            with ctx.sampler.counting():
                if kind == "fused":
                    fused_write(ctx, op, store, time_range, day, resume=True, skip_row=skip_row)
                else:
                    decomposed_write(ctx, op, store, time_range, day, skip_row)
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
        rec["seconds"] = time.perf_counter() - t0
        if kind == "decomposed" and rec["ok"]:
            # the op's own span: the row counts taken after it are not timed
            rec["seconds"] = ctx.decomposed_parts[-1]["seconds"]
        ctx.ops.append(rec)
        i += 1


def run_resume(ctx: Ctx) -> dict:
    """The closing op: one single-call resume over a store whose expected
    partitions are committed but for some. On cube_build those are a tile
    row no op wrote, which the resume must write; on cube_daily they are a
    partition that yields no rows, so the resume must write nothing."""
    if ctx.workload == "cube_build":
        store, time_range = ctx.ops[-1]["store"], ctx.window
    else:
        n = ctx.cfg["resume_days"]
        store = ctx.daily_store
        time_range = (_day(ctx.days[0]), _day(ctx.days[n - 1] + dt.timedelta(days=1)))
    rec = {"op": "resume", "kind": "resume", "store": store, "time_range": time_range, "ok": True,
           "before": partition_dirs(store), "rows_before": store_tiles(store),
           "commits_before": _commit_keys(store)}
    t0 = time.perf_counter()
    try:
        with ctx.sampler.counting():
            fused_write(ctx, "resume", store, time_range, None, resume=True)
    except Exception:
        traceback.print_exc()
        rec["ok"] = False
    rec["seconds"] = time.perf_counter() - t0
    rec["after"] = partition_dirs(store)
    rec["partitions_written"] = sum(1 for k, v in rec["after"].items() if rec["before"].get(k) != v)
    return rec


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def _expected_keys(ctx: Ctx, time_range) -> set[tuple]:
    from xcube_stac_spark.plans import cube as cube_plan

    ctx.spark.sparkContext.setJobGroup("check", "check")
    rows = cube_plan.expected_partitions(
        ctx.cat, ctx.grid, bbox=ctx.bbox, time_range=time_range, bands=ctx.bands
    ).collect()
    return {(str(r.solar_day), int(r.tile_y), int(r.tile_x)) for r in rows}


def _commit_keys(store: str) -> set[tuple]:
    from xcube_stac_spark import lineage

    return {(str(r["solar_day"]), int(r["tile_y"]), int(r["tile_x"])) for r in lineage.metrics(store)}


def oracle_slice_ok(ctx: Ctx, store: str, day: str, rows) -> tuple[bool, str]:
    """One seeded (solar day, tile) of the store against the NumPy oracle:
    same band keys, same lineage order, pixels allclose."""
    import numpy as np
    import pyarrow.dataset as ds

    from xcube_stac_spark import oracle
    from xcube_stac_spark.operators import tiles

    # a tile inside the build's bbox: every scene covering it was selected
    # by the build, so a tile-sized oracle query sees the same scenes
    x0, y0, x1, y1 = ctx.cfg["bbox_tiles"] or (0, 0, ctx.grid.n_tiles_x, ctx.grid.n_tiles_y)
    tiles_of_day = sorted({(y, x) for d, _, y, x, *_ in rows
                           if d == day and x0 <= x < x1 and y0 <= y < y1})
    if not tiles_of_day:
        return False, f"no tiles for {day}"
    ty, tx = ctx.rng.choice(tiles_of_day)
    xmin, ymin, xmax, ymax = ctx.grid.tile_bbox(tx, ty)
    m = 0.1
    d0 = dt.date.fromisoformat(day)
    oc = oracle.build_cube_numpy(
        ctx.sdir, ctx.grid, bbox=(xmin - m, ymin - m, xmax + m, ymax + m),
        time_range=(day, _day(d0 + dt.timedelta(days=1))), bands=ctx.bands,
    )
    want = {k: v for k, v in oc.tiles.items() if k[0] == day and k[2] == ty and k[3] == tx}
    got = ds.dataset(
        os.path.join(store, f"solar_day={day}", f"tile_y={ty}", f"tile_x={tx}"), format="parquet"
    ).to_table(columns=["band", "data", "item_ids"]).to_pylist()
    if {(day, r["band"], ty, tx) for r in got} != set(want):
        return False, f"band keys differ at {day}/{ty}/{tx}"
    for r in got:
        key = (day, r["band"], ty, tx)
        exp = want[key]
        arr = tiles.tile_to_array(r["data"], exp.shape[0], exp.shape[1])
        if r["item_ids"].split(",") != oc.lineage[key]:
            return False, f"lineage differs at {key}"
        if not np.allclose(arr, exp, rtol=1e-6, atol=0, equal_nan=True):
            return False, f"pixels differ at {key}"
    return True, f"{day}/{ty}/{tx} x{len(got)} bands"


def check_outputs(ctx: Ctx, resume: dict) -> dict:
    """Mark each op ok/failed by its output; return check verdicts."""
    verdicts = {}
    if ctx.workload == "cube_build":
        expected = _expected_keys(ctx, ctx.window)
        row = ctx.cfg["held_out_row"]
        # tile md5s of the first op's whole-grid store, with and without the
        # held-out row: what every warm op and the resume must reproduce
        full = store_tiles(ctx.ops[0]["store"])
        part = [r for r in full if r[2] != row]
        parts_ok = tiles_ok = True
        for o in ctx.ops:
            # the resume has since added the held-out row to the last store
            resumed = o["store"] == resume["store"]
            rows = resume["rows_before"] if resumed else store_tiles(o["store"])
            parts = set(resume["before"] if resumed else partition_dirs(o["store"]))
            commits = resume["commits_before"] if resumed else _commit_keys(o["store"])
            o["tiles"] = len(rows)
            p_ok = bool(parts) and parts == commits and parts <= expected
            t_ok = rows == (full if o is ctx.ops[0] else part)
            o["ok"] = o["ok"] and p_ok and t_ok
            parts_ok, tiles_ok = parts_ok and p_ok, tiles_ok and t_ok
        verdicts["partitions_match_commit_log_and_expected"] = parts_ok
        verdicts["warm_op_tiles_equal_first_op_without_held_out_row"] = tiles_ok
        day = ctx.rng.choice(sorted({r[0] for r in full}))
        ok, where = oracle_slice_ok(ctx, ctx.ops[0]["store"], day, full)
        ctx.ops[0]["ok"] = ctx.ops[0]["ok"] and ok
        verdicts["oracle_slice"] = {"ok": ok, "slice": where}
        # the resume leaves every committed partition untouched and writes
        # only the held-out row, after which the store equals the first op's
        before, after = resume["before"], resume["after"]
        new = set(after) - set(before)
        kept = all(after.get(k) == v for k, v in before.items())
        filled = (bool(new) and all(k[1] == row for k in new) and set(after) == _commit_keys(resume["store"])
                  and store_tiles(resume["store"]) == full)
        resume["ok"] = resume["ok"] and kept and filled
        verdicts["resume_keeps_committed"] = kept
        verdicts["resume_store_equals_first_op"] = filled
    else:
        store = ctx.daily_store
        last = dt.date.fromisoformat(ctx.ops[-1]["day"]) + dt.timedelta(days=1)
        expected = _expected_keys(ctx, (_day(ctx.days[0]), _day(last)))
        parts = set(partition_dirs(store))
        commits = _commit_keys(store)
        rows = store_tiles(store)
        for o in ctx.ops:
            mine = {k for k in parts if k[0] == o["day"]}
            o["tiles"] = sum(1 for r in rows if r[0] == o["day"])
            ok = bool(mine) and mine == {k for k in commits if k[0] == o["day"]}
            o["ok"] = o["ok"] and ok and mine <= {k for k in expected if k[0] == o["day"]}
        verdicts["day_partitions_match_commit_log_and_expected"] = all(o["ok"] for o in ctx.ops)
        day = ctx.rng.choice([o["day"] for o in ctx.ops])
        ok, where = oracle_slice_ok(ctx, store, day, rows)
        for o in ctx.ops:
            if o["day"] == day:
                o["ok"] = o["ok"] and ok
        verdicts["oracle_slice"] = {"ok": ok, "slice": where}
        unchanged = digest(store_tiles(store)) == digest(resume["rows_before"])
        resume["ok"] = resume["ok"] and resume["partitions_written"] == 0 and unchanged
        verdicts["resume_writes_nothing"] = resume["partitions_written"] == 0
        verdicts["resume_leaves_digest"] = unchanged
    resume["partitions_expected"] = len(_expected_keys(ctx, resume["time_range"]))
    return verdicts


# --------------------------------------------------------------------------
# per-layer metrics from spans + event log (traced runs)
# --------------------------------------------------------------------------

def _med(xs, default=0.0) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def codec_rates(ctx: Ctx, fmts) -> dict:
    """codecs.decode time per megapixel for a seeded sample of each format."""
    import pyarrow.parquet as pq

    from xcube_stac_spark import codecs

    t = pq.read_table(os.path.join(ctx.sdir, "images.parquet"), columns=["fmt", "w", "h", "bytes"]).to_pydict()
    by_fmt: dict[str, list[int]] = {}
    for i, f in enumerate(t["fmt"]):
        by_fmt.setdefault(f, []).append(i)
    out = {}
    for f in fmts:
        idx = by_fmt.get(f, [])
        rates = []
        for i in ctx.rng.sample(idx, min(6, len(idx))):
            w, h, data = int(t["w"][i]), int(t["h"][i]), t["bytes"][i]
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                codecs.decode(data, f, w, h)
                runs.append(time.perf_counter() - t0)
            rates.append(min(runs) * 1000.0 / (w * h / 1e6))
        out[CODEC_METRIC + f] = _med(rates)
    return out


def layer_metrics(ctx: Ctx, tracer, log, setup: dict, resume: dict, names) -> dict:
    from spans import self_times

    spans = tracer.spans
    selft = self_times(spans)
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def groups(op, name=None):
        return {f"{s['op']}/{s['id']}" for s in by_op.get(op, []) if name is None or s["name"] == name}

    def layer_s(op, name):
        return sum(selft[s["id"]] for s in by_op.get(op, []) if s["name"] == name)

    is_py = lambda n: "Python" in n or "InPandas" in n or "InArrow" in n or "EvalPython" in n  # noqa: E731
    decode_node = lambda n, s: is_py(n) and "fmt#" in s  # noqa: E731
    warm_fused = [o["op"] for o in ctx.ops[1:] if o["kind"] == "fused"]
    m: dict[str, float] = {}
    m["session.get_spark_s"] = _med(setup["session"])
    m["synth.generate_s"] = _med(setup["data"])
    per = {k: [] for k in names}
    for part in ctx.decomposed_parts:
        op = part["op"]
        g_search, g_dec, g_mos = groups(op, "spatial.search"), groups(op, "tiles.decode_regrid"), groups(op, "tiles.mosaic")
        g_write = groups(op, "lineage.write_cube")
        per["spatial.search_s"].append(layer_s(op, "spatial.search"))
        per["spatial.scan_bytes"].append(log.totals(g_search)["input_bytes"])
        scan_rows = log.sql_sum(g_search, lambda n, s, k: n.startswith("Scan") and k == "number of output rows")
        per["spatial.candidates_per_hit"].append(scan_rows / part["n_scenes"] if part["n_scenes"] else 0.0)
        per["spatial.jobs_per_query"].append(len(log.jobs_in(g_search)))
        per["plans.cube.plan_s"].append(layer_s(op, "plans.cube.plan"))
        per["plans.cube.expected_partitions_s"].append(layer_s(op, "plans.cube.expected_partitions"))
        per["plans.cube.scene_images_s"].append(layer_s(op, "plans.cube.scene_images"))
        per["tiles.assign_s"].append(layer_s(op, "tiles.assign"))
        per["tiles.decode_regrid_s"].append(layer_s(op, "tiles.decode_regrid"))
        per["tiles.decode_regrid_cpu_s"].append(log.totals(g_dec)["cpu_s"])
        rows_out = log.sql_sum(g_dec, lambda n, s, k: decode_node(n, s) and k == "number of output rows")
        per["tiles.decode_regrid_rows"].append(rows_out)
        per["tiles.arrow_bytes_in"].append(log.sql_sum(g_dec, lambda n, s, k: decode_node(n, s) and k == "data sent to Python workers"))
        per["tiles.arrow_bytes_out"].append(log.sql_sum(g_dec, lambda n, s, k: decode_node(n, s) and k == "data returned from Python workers"))
        per["tiles.mosaic_s"].append(layer_s(op, "tiles.mosaic"))
        tm = log.totals(g_mos)
        per["tiles.mosaic_shuffle_bytes"].append(tm["shuffle_write_bytes"])
        per["tiles.mosaic_spill_bytes"].append(tm["spill_bytes"])
        mos_rows = log.sql_sum(g_mos, lambda n, s, k: is_py(n) and not decode_node(n, s) and k == "number of output rows")
        per["tiles.mosaic_keep_ratio"].append(mos_rows / rows_out if rows_out else 0.0)
        per["tiles.mosaic_task_skew"].append(log.stage_skew(g_mos))
        per["lineage.committed_read_s"].append(layer_s(op, "lineage.committed_read"))
        w = part["write"]
        per["lineage.write_cube_s"].append(layer_s(op, "lineage.write_cube"))
        per["lineage.jobs_per_call"].append(len(log.jobs_in(g_write)))
        per["lineage.driver_gap_s"].append((w["end"] - w["start"]) - log.job_cover(g_write))
        sink = log.sink_write_end(g_write, part["store"])
        per["lineage.sink_write_s"].append(sink[1] - sink[0] if sink else None)
        per["lineage.readback_commit_s"].append(w["end"] - sink[1] if sink else None)
        root = next(s for s in by_op[op] if s["name"] == "op")
        per["trace.wall_s"].append(root["end"] - root["start"])
        per["trace.unattributed_share"].append(selft[root["id"]] / (root["end"] - root["start"]))
    for k, v in per.items():
        if v:
            m[k] = _med(v)
    m["tiles.plane_disk_builds"] = float(sum(len(f) for _, _, f in os.walk(ctx.dirs["planes"])))
    fused_totals = [log.totals(groups(op)) for op in warm_fused]
    for k, key in (("spark.jobs", "jobs"), ("spark.tasks", "tasks"), ("spark.executor_cpu_s", "cpu_s"),
                   ("spark.gc_s", "gc_s"), ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                   ("spark.spill_bytes", "spill_bytes")):
        m[k] = _med([t[key] for t in fused_totals])
    fused_s = [o["seconds"] for o in ctx.ops[1:] if o["kind"] == "fused"]
    dec_s = [o["seconds"] for o in ctx.ops if o["kind"] == "decomposed"]
    m["trace.overhead_s"] = _med(dec_s) - _med(fused_s)
    files, nbytes = [], []
    for o in ctx.ops:
        n, b = store_bytes(o["store"])
        files.append(n)
        px = o.get("tiles", 0) * ctx.grid.tile_w * ctx.grid.tile_h
        nbytes.append(b / px if px else None)
    if ctx.workload == "cube_daily":
        # one shared store: per-op files are the day's own
        files = [sum(len(v) for k, v in partition_dirs(ctx.daily_store).items() if k[0] == o["day"]) for o in ctx.ops]
        n, b = store_bytes(ctx.daily_store)
        px = sum(o.get("tiles", 0) for o in ctx.ops) * ctx.grid.tile_w * ctx.grid.tile_h
        nbytes = [b / px if px else None]
    m["lineage.files_written"] = _med(files)
    m["lineage.store_bytes_per_output_pixel"] = _med(nbytes)
    g_res = groups("resume")
    m["lineage.partitions_expected"] = float(resume["partitions_expected"])
    m["lineage.partitions_written"] = float(resume["partitions_written"])
    m["lineage.resume_decode_rows"] = log.sql_sum(g_res, lambda n, s, k: decode_node(n, s) and k == "number of output rows")
    m["lineage.resume_s"] = resume["seconds"]
    m.update(codec_rates(ctx, [k[len(CODEC_METRIC):] for k in names if k.startswith(CODEC_METRIC)]))
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xcube_stac_spark", "__init__.py")):
        print(f"perfbench: no program (xcube_stac_spark) under {ROOT}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    e2e_units, layer_units = metric_units()
    dirs = _reset_dirs()
    from spans import EventLog, Tracer

    phases = {}
    t_phase = time.perf_counter()
    spark, sdir, setup = set_up(dirs, trace)
    phases["setup"] = time.perf_counter() - t_phase
    try:
        tracer = Tracer(spark, trace)
        ctx = Ctx(spark, sdir, args.workload, args.seed, tracer, dirs)
        sampler = ctx.sampler = RssSampler()
        ticks0 = _cpu_ticks()
        sampler.start()
        t_phase = time.perf_counter()
        run_ops(ctx, args.seconds, trace)
        resume = run_resume(ctx)
        peak = sampler.stop()
        steal = _steal_pct(ticks0, _cpu_ticks())
        phases["measure"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        verdicts = check_outputs(ctx, resume)
        phases["checks"] = time.perf_counter() - t_phase
    except BaseException:
        stop_spark(spark)
        raise
    t_phase = time.perf_counter()
    stop_spark(spark)
    phases["stop"] = time.perf_counter() - t_phase

    ops = ctx.ops + [resume]
    n_calls = len(ctx.ops) + 1
    failed = sum(1 for o in ctx.ops if not o["ok"]) + (0 if resume["ok"] else 1)
    warm = [o for o in ctx.ops[1:] if o["kind"] == "fused"]
    e2e = {
        "setup_s": _med(setup["setup"]),
        "first_op_s": ctx.ops[0]["seconds"],
        "op_p50_s": _med([o["seconds"] for o in warm]),
        "tiles_per_s": _med([o.get("tiles", 0) / o["seconds"] for o in warm]),
        "resume_s": resume["seconds"],
        "peak_rss_mb": peak / 2**20,
    }
    named = {
        "cube_build": {"cube_first_s": "first_op_s", "cube_build_s": "op_p50_s",
                       "cube_tiles_per_s": "tiles_per_s", "resume_fill_s": "resume_s"},
        "cube_daily": {"day_first_s": "first_op_s", "day_write_s": "op_p50_s",
                       "day_tiles_per_s": "tiles_per_s", "resume_s": "resume_s"},
    }[args.workload]
    units = {**e2e_units, "first_op_s": "s", "tiles_per_s": "tiles/s"}
    samples = {"setup_s": len(setup["setup"]), "first_op_s": 1, "op_p50_s": len(warm),
               "tiles_per_s": len(warm), "resume_s": 1, "peak_rss_mb": 1}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": trace,
        "named": {
            **{n: {"value": e2e[g], "unit": units[g], "n": samples[g]} for n, g in named.items()},
            "setup_s": {"value": e2e["setup_s"], "unit": "s", "n": samples["setup_s"]},
            "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB", "n": 1},
            "failed_share": {"value": failed / n_calls, "unit": "ratio", "n": n_calls},
        },
        "ops": [{k: o.get(k) for k in ("op", "kind", "day", "seconds", "tiles", "partitions_written", "ok")}
                for o in ops],
        "checks": verdicts,
        "phases_s": phases,
        "stamp": _stamp(steal),
    }
    if trace:
        metrics = layer_metrics(ctx, tracer, EventLog(dirs["eventlog"]), setup, resume, layer_units)
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        out = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps(report), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": n_calls, "failed": failed, "metrics": out,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
