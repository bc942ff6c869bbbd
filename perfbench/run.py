#!/usr/bin/env python3
"""Repository benchmark: five seeded, oracle-checked, closed-loop workloads.

    python3 perfbench/run.py --workload raster_batch --seed 1 \\
        --seconds 5 --trace 0

One client, one driver process, ``local[N]`` with N = half the CPUs this
process may run on.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(and the spans plus per-op breakdown are written under
``.perfbench_out/``).  Everything the run writes stays under the
checkout (``.perfbench_work/`` is removed at exit).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
PROBE = os.path.join(ROOT, "perfbench", "probe")
WORKLOAD_NAMES = ("raster_batch", "raster_ingest", "tile_requests",
                  "spatial_join", "corpus_dedup")
OP_TIMEOUT_S = 60     # an op running longer is cancelled and fails
RUN_LIMIT_S = 170     # hard stop for the whole run


def host_sizing(run_dir: str, traced: bool) -> int:
    """Size the engine to this host before the JVM starts; returns the
    task slots, half the CPUs this process may run on.  Each slot keeps a
    JVM task thread and a Python worker busy, and the JVM's own threads and
    the driver need CPU besides: with a slot per CPU (4 of 4), ops ran
    10–25% slower than with 2, and used more CPU.
    A traced run also starts Spark's Python workers from
    ``probe/pyspark_perfbench_worker.py``, which counts decode-cache
    lookups and misses per worker."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2 ** 20
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_MASTER": f"local[{cores}]",
        # local mode: the driver heap holds every executor; a quarter of
        # RAM, at most 4g (the 24g library default exceeds small hosts)
        "RASTERKIT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # Python workers start outside the checkout's cwd
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": tmp,
        # no JVM perf-data files under /tmp: everything stays in the run dir
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_SUBMIT_OPTS": " ".join([
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.showConsoleProgress=false"]),
    })
    if traced:
        counts = os.path.join(run_dir, "decode-counts")
        os.makedirs(counts, exist_ok=True)
        os.environ["PERFBENCH_DECODE_COUNTS"] = counts
        os.environ["PYTHONPATH"] += os.pathsep + PROBE
        os.environ["SPARK_SUBMIT_OPTS"] += \
            " -Dspark.python.worker.module=pyspark_perfbench_worker"
    return cores


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss(threading.Thread):
    """Samples the process tree's RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self.done.wait(self.interval)

    def stop(self) -> int:
        self.done.set()
        self.join()
        return self.peak


class Counts:
    """Attempted / failed ops and the first few failure messages."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def record(self, bad: list[str]) -> bool:
        self.attempted += 1
        if bad:
            self.failed += 1
            self.errors.extend(bad[:3])
        return not bad


def run_op(wl, i, step, counts: Counts, spark):
    """One op (timed) then its oracle check (untimed) → (wall, units)."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        out = wl.op(i, step)
    except Exception as e:  # an operator failure is a failed op
        wall = time.perf_counter() - t0
        counts.record([f"op {i}: {type(e).__name__}: {str(e)[:200]}"])
        return wall, 0
    finally:
        timer.cancel()
    wall = time.perf_counter() - t0
    units, bad = wl.check(i, out)
    return wall, (units if counts.record(bad) else 0)


def setup(wl, cores, step_factory, counts: Counts):
    """Session start, input load + cache fill, the warm-up ops.
    Returns (spark, tracer, setup seconds, get_spark seconds)."""
    from rasterkit_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(cores=cores)
    t_session = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = step_factory(spark)
    tracer.op_id = "warmup"
    wl.load(spark)
    warm = wl.warmup(tracer.step)
    elapsed = time.perf_counter() - t0
    for i, out in warm:  # checked outside the set-up time
        counts.record(wl.check(i, out)[1])
    return spark, tracer, elapsed, t_session


def measure(args, wl, cores, counts):
    from perfbench.tracing import Tracer
    spark, tracer, setup_s, _ = setup(wl, cores, lambda sp: Tracer(sp, False),
                                      counts)
    walls, units, spent, i = [], 0, 0.0, 0
    # the phase ends at a whole batch of ops, so every run of a workload
    # measures the same number and mix of ops
    while spent < args.seconds or i % wl.op_batch:
        wall, u = run_op(wl, i, tracer.step, counts, spark)
        walls.append(wall)
        units += u
        spent += wall
        i += 1
    print(f"[perfbench] {wl.name}: setup {setup_s:.3f} s, "
          f"ops {[round(w, 3) for w in walls]} s", file=sys.stderr)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "units_per_s": (units / spent, "1/s"),  # wl.unit per second
    }


ENGINE_UNITS = {"wall_s": "s", "jobs": "count", "stages": "count",
                "tasks": "count", "executor_run_s": "s",
                "executor_cpu_s": "s", "core_util": "ratio",
                "shuffle_bytes": "bytes", "python_bytes": "bytes",
                "python_time_s": "s", "python_worker_init_s": "s",
                "driver_gap_s": "s", "decode_lookups": "count",
                "decode_misses": "count"}
BREAKDOWN = ("wall_s", "jobs", "executor_cpu_s", "core_util", "shuffle_bytes",
             "python_bytes", "python_time_s", "driver_gap_s",
             "decode_lookups", "decode_misses")


def per_op_sums(per_group: dict, cores: int) -> dict:
    """Engine metrics summed over the steps of each traced op."""
    ops: dict[str, dict] = {}
    for g, m in per_group.items():
        acc = ops.setdefault(g.split("/")[0], dict.fromkeys(ENGINE_UNITS, 0))
        for k in ENGINE_UNITS:
            acc[k] += m[k]
    for acc in ops.values():  # Σ executor run time ÷ (Σ step wall × cores)
        acc["core_util"] = acc["executor_run_s"] / (acc["wall_s"] * cores)
    return ops


def miss_frac(m: dict) -> float:
    """Decode-cache misses ÷ lookups (0 where nothing was decoded)."""
    return m["decode_misses"] / max(m["decode_lookups"], 1)


def traced_ops(wl, tracer, counts, spark, seconds):
    """Run each op twice, untraced and traced (alternating which goes
    first), until ``seconds`` of op time and a whole batch of ops →
    (untraced walls, traced walls, plan seconds of each traced op)."""
    plain, traced_walls, plan_s, spent, i = [], [], [], 0.0, 0
    while spent < seconds or not traced_walls or i % wl.op_batch:
        for enabled in ((False, True) if i % 2 == 0 else (True, False)):
            tracer.enabled = enabled
            tracer.op_id = f"op{i}" + ("" if enabled else "-untraced")
            n_spans = len(tracer.spans)
            t0 = time.time()
            wall, _ = run_op(wl, i, tracer.step, counts, spark)
            spent += wall
            if not enabled:
                plain.append(wall)
                continue
            tracer.span(tracer.op_id, t0, t0 + wall)
            traced_walls.append(wall)
            plan_s.append(sum(s["end"] - s["start"]
                              for s in tracer.spans[n_spans:]
                              if s["name"].endswith(".plan")))
        i += 1
    return plain, traced_walls, plan_s


def traced(args, wl, cores, counts, run_dir):
    from perfbench import tracing as T
    from perfbench import workloads as W
    spark, tracer, setup_s, get_spark_s = setup(
        wl, cores, lambda sp: T.Tracer(sp, True), counts)
    warm = T.group_metrics(spark, tracer.groups, cores)
    tracer.groups.clear()
    rss = PeakRss()
    rss.start()
    plain, traced_walls, plan_s = traced_ops(wl, tracer, counts, spark,
                                             args.seconds)
    peak = rss.stop()
    per_group = T.group_metrics(spark, tracer.groups, cores)
    rows = list(per_op_sums(per_group, cores).values())
    metrics = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.python_worker_init_s": (sum(
            m["python_worker_init_s"] for m in warm.values()), "s"),
        "op.plan_s": (statistics.median(plan_s), "s"),
        "tracing_overhead_frac": (statistics.median(
            t / p for t, p in zip(traced_walls, plain)) - 1, "ratio"),
        "peak_rss_mb": (peak / 2 ** 20, "MB"),
    }
    for key, unit in ENGINE_UNITS.items():
        metrics[f"op.{key}"] = (statistics.median(r[key] for r in rows), unit)
    metrics["op.decode_miss_frac"] = (statistics.median(
        miss_frac(r) for r in rows), "ratio")
    # layer probes on the seed's raster_batch inputs
    t0 = time.time()
    rb = wl if isinstance(wl, W.RasterBatch) else W.RasterBatch(
        args.seed, wl.size, os.path.join(run_dir, "probe"))
    if rb is not wl:
        rb.prepare()
        rb.load(spark)
    for k, v in T.raster_probes(rb.t, os.path.join(run_dir, "files")).items():
        metrics[k] = (v, "s")
    tracer.span("probe.raster", t0, time.time())
    t0 = time.time()
    points, _, rings, _, _ = W.spatial_inputs(args.seed, wl.size)
    for k, v in T.kernel_probes(rb, points, rings).items():
        metrics[k] = (v, "Mpts/s" if k.endswith("mpts_s") else "MB/s")
    tracer.span("probe.kernels", t0, time.time())
    # per-op breakdown by the operator each step called, medians over ops
    by_name: dict[str, list] = {}
    for m in per_group.values():
        by_name.setdefault(m["name"], []).append(m)
    breakdown = {f"{n}.{k}": statistics.median(m[k] for m in ms)
                 for n, ms in by_name.items() for k in BREAKDOWN}
    breakdown.update({f"{n}.decode_miss_frac": statistics.median(
        miss_frac(m) for m in ms) for n, ms in by_name.items()})
    breakdown.update(wl.trace_ratios())
    breakdown[f"{wl.name}.tracing_overhead_frac"] = \
        metrics["tracing_overhead_frac"][0]
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-{wl.name}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(dict(workload=wl.name, seed=args.seed, cores=cores,
                       setup_s=setup_s, metrics={k: v for k, (v, _) in
                                                 metrics.items()},
                       per_op=breakdown, spans=tracer.spans), f, indent=1)
    print(f"[perfbench] spans and per-op metrics written to {path}",
          file=sys.stderr)
    return metrics


def stop_engine() -> None:
    """Stop Spark and the JVM it runs in, and wait until the JVM and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    started = descendants(os.getpid())
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while started and time.monotonic() < deadline + 5:
        started = [p for p in started if _alive(p)]
        if time.monotonic() > deadline:  # a worker that ignored shutdown
            for p in started:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test: perturb one expected value")
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-"
                                 f"{os.getpid()}")
    cores = host_sizing(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(RUN_LIMIT_S)
    counts = Counts()
    try:
        from perfbench import workloads as W
        wl = W.WORKLOADS[args.workload](args.seed, W.SIZES[args.size],
                                        os.path.join(run_dir, "inputs"))
        wl.prepare()  # inputs and oracle: not part of any timing
        if args.corrupt_oracle:
            wl.corrupt()
        if args.trace:
            metrics = traced(args, wl, cores, counts, run_dir)
        else:
            metrics = measure(args, wl, cores, counts)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            stop_engine()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(WORK)  # only when no other run is using it
            except OSError:
                pass
    if counts.errors:
        print("[perfbench] failures: " + "; ".join(counts.errors[:10]),
              file=sys.stderr)
    print(f"[perfbench] failed_frac = {counts.failed}/{counts.attempted}",
          file=sys.stderr)
    print(json.dumps({
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
