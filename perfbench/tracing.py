"""Tracing from outside the program, for the ``--trace 1`` run.

* :class:`Tracer` keeps spans in memory (name, start, end, parent, op id)
  around every call into ``operators.*`` (the plan-building call) and the
  action that consumes its output, and runs each step under its own Spark
  job group.
* :func:`group_metrics` reads what Spark already keeps: jobs and stage
  metrics from ``sc._jsc.sc().statusStore()`` (``jobsList`` +
  ``lastStageAttempt``), and the Python-worker boundary metrics (boot,
  init and run time, bytes sent and returned) from the SQL status store
  ``spark._jsparkSession.sharedState().statusStore()``.
* Each step's decode-cache lookups and misses are summed from the count
  files the traced run's Python workers write
  (``probe/pyspark_perfbench_worker.py``).
* :func:`kernel_probes` and :func:`raster_probes` time the ``kernels``,
  ``operators.extract``, ``operators.sinks`` and ``operators.raster_ops``
  layers on the seed's ``raster_batch`` inputs.
"""

from __future__ import annotations

import os
import re
import statistics
import struct
import time

import numpy as np

from rasterkit_spark import kernels as K
from rasterkit_spark.operators import extract as EX

PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
}
_SCALE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0}
_VALUE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: 'total (min, med, max …)' on the
    first line, then '12.3 s (…)' or '795.9 KiB (…)'."""
    m = _VALUE.match((text or "").split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


class Tracer:
    """Spans plus one Spark job group per step."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id = None
        # (group, name, start, end, decode lookups, decode misses)
        self.groups: list[tuple[str, str, float, float, int, int]] = []
        self.counts_dir = os.environ.get("PERFBENCH_DECODE_COUNTS")

    def decode_counts(self) -> tuple[int, int]:
        """(lookups, misses) of the Python workers' decode caches so far."""
        lookups = misses = 0
        if not self.counts_dir:
            return lookups, misses
        for name in os.listdir(self.counts_dir):
            with open(os.path.join(self.counts_dir, name), "rb") as f:
                data = f.read(16)
            if len(data) == 16:  # written by probe/pyspark_perfbench_worker
                a, b = struct.unpack("<qq", data)
                lookups, misses = lookups + a, misses + b
        return lookups, misses

    def span(self, name, start, end, parent=None):
        self.spans.append(dict(name=name, start=start, end=end,
                               parent=parent, op=self.op_id))

    def step(self, name, build, consume):
        if not self.enabled:
            return consume(build())
        group = f"{self.op_id}/{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            before = self.decode_counts()
            t0 = time.time()
            df = build()
            t1 = time.time()
            out = consume(df)
            t2 = time.time()
        finally:
            sc.setJobGroup("", "")
        self.span(f"{name}.plan", t0, t1, parent=group)
        self.span(f"{name}.action", t1, t2, parent=group)
        self.span(group, t0, t2, parent=self.op_id)
        after = self.decode_counts()
        self.groups.append((group, name, t0, t2, after[0] - before[0],
                            after[1] - before[1]))
        return out


def _option(o):
    return o.get() if o.isDefined() else None


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def group_metrics(spark, groups, cores: int) -> dict:
    """Per-group engine metrics for the (group, name, start, end, decode
    lookups, decode misses) list."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    by_group = {g: [] for g, *_ in groups}
    for job in _iterate(store.jobsList(None)):
        g = _option(job.jobGroup())
        if g in by_group:
            by_group[g].append(job)
    job_group = {j.jobId(): g for g, js in by_group.items() for j in js}
    py = {g: dict.fromkeys(PY_METRICS.values(), 0.0) for g in by_group}
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _iterate(sql.executionsList()):
        gs = {job_group.get(j) for j in _iterate(ex.jobs().keys())}
        gs.discard(None)
        if not gs:
            continue
        g = gs.pop()
        values = sql.executionMetrics(ex.executionId())
        graph = sql.planGraph(ex.executionId())
        for node in _iterate(graph.allNodes()):
            for m in _iterate(node.metrics()):
                key = PY_METRICS.get(m.name())
                if key:
                    py[g][key] += parse_metric(
                        _option(values.get(m.accumulatorId())))
    out = {}
    for g, name, t0, t1, lookups, misses in groups:
        jobs = by_group[g]
        run_ms = cpu_ns = shuffle = tasks = 0
        stages = set()
        intervals = []
        for j in jobs:
            sub, done = _option(j.submissionTime()), _option(j.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            for sid in _iterate(j.stageIds()):
                if sid in stages:
                    continue
                stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                tasks += st.numCompleteTasks()
        wall = t1 - t0
        out[g] = dict(
            name=name, wall_s=wall, jobs=len(jobs), stages=len(stages),
            tasks=tasks, executor_run_s=run_ms / 1e3,
            executor_cpu_s=cpu_ns / 1e9,
            core_util=run_ms / 1e3 / (wall * cores),
            shuffle_bytes=shuffle,
            python_bytes=py[g]["py_sent_bytes"] + py[g]["py_returned_bytes"],
            python_time_s=py[g]["py_run_s"],
            python_worker_init_s=py[g]["py_start_s"] + py[g]["py_init_s"],
            python_worker_start_s=py[g]["py_start_s"],
            driver_gap_s=wall - _union(intervals, t0, t1),
            decode_lookups=lookups, decode_misses=misses)
    return out


def _union(intervals, lo, hi) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _rate(fn, work: float, repeats: int = 3) -> float:
    """Median work/s over ``repeats`` timed calls of ``fn``."""
    rates = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return statistics.median(rates)


def kernel_probes(rb, points, rings) -> dict:
    """Single-threaded, in-process kernel rates on the raster_batch
    chunks (and the spatial_join points/polygons for the ray-cast)."""
    from perfbench.workloads import chunk_geometry
    c = rb.corpus
    cat = c.media_catalog.set_index("media_ref", drop=False)
    tiles = c.tiles[c.tiles.level == 0]
    chunks = []
    for r in tiles.itertuples():
        row = cat.loc[r.media_ref]
        _, _, cw, ch = chunk_geometry(row)
        chunks.append((bytes(r.blob), int(row.compression),
                       int(row.predictor), cw, ch))
    decoded = [K.decode_chunk(b, comp, pred, cw, ch, 1).reshape(-1, cw)
               for b, comp, pred, cw, ch in chunks]
    mb = sum(d.nbytes for d in decoded) / 1e6
    out = {"kernels.decode_chunk_mb_s": _rate(
        lambda: [K.decode_chunk(*ck, 1) for ck in chunks], mb)}
    # clip every matched (query, tile) chunk into its query window
    by_key = {(r.media_ref, r.tile_idx): d
              for r, d in zip(tiles.itertuples(), decoded)}
    jobs = []
    for q in rb.want_windows.itertuples():
        row = cat.loc[q.media_ref]
        _, _, cw, ch = chunk_geometry(row)
        across = -(-int(row.width) // cw)
        for t in q.tile_idx:
            jobs.append((by_key[(q.media_ref, t)], cw, ch, (t % across) * cw,
                         (t // across) * ch, q.region_x, q.region_y,
                         q.region_w, q.region_h))
    clip_mb = sum(j[0].nbytes for j in jobs) / 1e6

    def clip():
        for chunk, cw, ch, ox, oy, rx, ry, rw, rh in jobs:
            win = np.zeros((rh, rw), dtype=np.uint8)
            K.clip_chunk_into(win, chunk, cw, ch, ox, oy, rx, ry, rw, rh, 1)
    out["kernels.clip_chunk_into_mb_s"] = _rate(clip, clip_mb)
    raws = [d.tobytes() for d in decoded]
    out["kernels.compress_mb_s"] = _rate(
        lambda: [K.compress(r, K.COMPRESSION_DEFLATE) for r in raws], mb)
    out["kernels.box_reduce_2x2_mb_s"] = _rate(
        lambda: [K.box_reduce_2x2(d) for d in decoded], mb)
    px = points.lon.to_numpy()[:50_000]
    py = points.lat.to_numpy()[:50_000]
    polys = [(np.asarray(xs), np.asarray(ys)) for xs, ys in rings[:20]]
    out["kernels.points_in_polygon_mpts_s"] = _rate(
        lambda: [K.points_in_polygon(px, py, xs, ys) for xs, ys in polys],
        len(px) * len(polys) / 1e6)
    return out


def _consume(df) -> None:
    from pyspark.sql import functions as F
    df.select(F.bit_xor(F.xxhash64(*df.columns))).collect()


def raster_probes(t, out_dir: str) -> dict:
    """Each public phase of ``operators.extract`` timed as one action over
    its output, with the phase's input cached and materialized first; the
    executor-side GeoTIFF sink (``api.extract_to_files``) over the same
    queries; and ``convert_compression`` of the level-0 tiles to deflate."""
    from rasterkit_spark import api

    def timed(df):
        t0 = time.perf_counter()
        _consume(df)
        return time.perf_counter() - t0

    out, cached = {}, []

    def phase(name, df):
        out[f"extract.{name}_s"] = timed(df)
        df = df.cache()
        _consume(df)
        cached.append(df)
        return df

    regions = phase("resolve_regions", EX.resolve_regions(
        t["queries_bbox"], t["media_catalog"]))
    keys = phase("expand_tile_keys", EX.expand_tile_keys(regions))
    joined = phase("join_tiles", EX.join_tiles(keys, t["tiles"],
                                               broadcast_keys=True))
    out["extract.decode_and_clip_s"] = timed(EX.decode_and_clip(joined))
    for df in cached:
        df.unpersist()
    out["sinks.extract_to_files_s"] = timed(api.extract_to_files(
        t["queries_bbox"], t["media_catalog"], t["tiles"], out_dir))
    level0 = t["tiles"].filter("level = 0")
    out["raster_ops.convert_compression_s"] = timed(api.convert_compression(
        level0, t["media_catalog"], K.COMPRESSION_DEFLATE))
    return out
