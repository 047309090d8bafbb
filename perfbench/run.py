#!/usr/bin/env python3
"""Steady-state benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_mix --seed 42 --seconds 10 --trace 0

Run from the repository root.  The process generates (or reuses) the
seeded inputs, starts one Spark session at local[nproc], warms it up,
checks the outputs of its first full pass, times warm passes for
``--seconds`` and prints one JSON object as its last stdout line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (see README.md).  ``--pin``
records the output fingerprints of the default seed in pinned.json; use
it only when a change to the program's output is intended.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
if sys.path[1:2] == [HERE]:
    del sys.path[1]

TMP = os.path.join(ROOT, ".perfbench_tmp")  # emptied at the start of a run
OUT = os.path.join(ROOT, ".perfbench_out")  # trace files of traced runs
# driver heap, fixed and touched at JVM start: the heap then costs the same
# resident memory in every run, however far the collector would have grown
# it.  peak_rss_mb leaves it out and so reports the memory that can move:
# Python driver and workers, JVM off-heap.  (build_spark's default is 16g.)
DRIVER_HEAP_MB = 2048
DRIVER_HEAP = f"{DRIVER_HEAP_MB}m"
MIN_PASSES = 2


def process_age_s() -> float:
    """Seconds since this process started (field 22 of /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def quiet_environment() -> None:
    """Keep every file Spark, the JVM and the workers write in TMP, turn
    off the console progress bar and cap the driver heap."""
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # spark-submit first runs a launcher JVM; keep its perf data out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.enabled=false",
            f"--conf spark.local.dir={TMP}",
            "--driver-java-options",
            f"'-Djava.io.tmpdir={TMP} -XX:-UsePerfData -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch'",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = TMP


def start_spark(nproc: int):
    from contentextractor_spark.plans.pipeline import build_spark
    from perfbench.workloads import BUCKETS

    spark = build_spark(app="perfbench", master=f"local[{nproc}]", shuffle_partitions=BUCKETS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    from perfbench import procstat

    deadline = time.monotonic() + 30
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def ship_benchmark(spark) -> None:
    """Make perfbench importable in the Python workers (traced runs)."""
    path = os.path.join(TMP, f"perfbench-{os.getpid()}.zip")
    with zipfile.ZipFile(path, "w") as zf:
        for fn in sorted(os.listdir(HERE)):
            if fn.endswith(".py"):
                zf.write(os.path.join(HERE, fn), f"perfbench/{fn}")
    spark.sparkContext.addPyFile(path)


def warm_up(wl) -> list[float]:
    """Run the workload's fixed number of warm passes on the timed input.
    A fixed count keeps set-up the same work in every run.  Returns the
    warm pass times."""
    times: list[float] = []
    for _ in range(wl.warm_passes):
        t0 = time.perf_counter()
        wl.run_pass()
        times.append(time.perf_counter() - t0)
    return times


def timed_passes(wl, seconds: float, min_passes: int = MIN_PASSES) -> dict:
    """Warm passes within ``seconds`` (at least ``min_passes``): per-pass
    wall time and process-tree CPU split by role.  A pass starts only if a
    pass of the median length so far would end inside the window, so a
    run's length does not overshoot by up to one pass."""
    from perfbench import procstat

    walls, cpus = [], []
    t_end = time.perf_counter() + seconds
    while len(walls) < min_passes or (
        time.perf_counter() + statistics.median(walls) <= t_end
    ):
        c0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        wl.run_pass()
        walls.append(time.perf_counter() - t0)
        c1 = procstat.cpu_seconds()
        cpus.append({r: c1[r] - c0[r] for r in procstat.ROLES})
    return {"walls": walls, "cpus": cpus, "peak_rss_mb": procstat.peak_rss_mb()}


def end_to_end(wl, run: dict, setup_s: float, ok_share: float) -> dict:
    n = wl.n
    return {
        "docs_per_s": statistics.median(n / w for w in run["walls"]),
        "cpu_ms_per_doc": statistics.median(1000 * sum(c.values()) / n for c in run["cpus"]),
        "peak_rss_mb": sum(run["peak_rss_mb"].values()) - DRIVER_HEAP_MB,
        "ok_share": ok_share,
        "setup_s": setup_s,
    }


def host_speed() -> float:
    """Iterations per second of a fixed pure-Python loop over 0.3 s: a
    record of how fast this host ran, for reading drift between runs."""
    n, t_end = 0, time.perf_counter() + 0.3
    while time.perf_counter() < t_end:
        sum(i * i for i in range(2000))
        n += 1
    return n / 0.3


def per_layer(wl, seconds: float, warm: list[float]) -> tuple[dict, list[dict]]:
    """Untraced passes (overhead base, CPU split) alternating with traced
    passes, so warm-up drift falls on both alike.  Returns the metrics and
    the raw traces."""
    from perfbench import procstat

    base: dict = {"walls": [], "cpus": []}
    traces = []
    t_end = time.perf_counter() + seconds
    while len(traces) < 2 or time.perf_counter() < t_end:
        untraced = timed_passes(wl, 0, min_passes=1)
        base["walls"] += untraced["walls"]
        base["cpus"] += untraced["cpus"]
        traces.append(wl.trace_pass(f"trace-{len(traces)}"))
    walls = [t["pass_s"] for t in traces]
    docs = wl.n * len(traces)
    n = wl.n
    metrics = dict.fromkeys(wl.idle_layers, 0.0)
    metrics.update(wl.layer_metrics(traces, docs))
    for role in procstat.ROLES:
        metrics[f"proc.{role}_cpu_ms_per_doc"] = statistics.median(
            1000 * c[role] / n for c in base["cpus"]
        )
    untraced = statistics.median(n / w for w in base["walls"])
    traced = statistics.median(n / w for w in walls)
    metrics["trace.overhead_ratio"] = untraced / traced
    metrics["setup.warmup_passes"] = float(len(warm))
    return metrics, traces


def write_traces(path: str, traces: list[dict]) -> None:
    """The traced passes' span aggregates and stage metrics, as JSON."""

    def plain(x):
        if isinstance(x, dict):
            return {"|".join(k) if isinstance(k, tuple) else str(k): plain(v) for k, v in x.items()}
        return x

    with open(path, "w") as f:
        json.dump([plain(t) for t in traces], f, indent=1)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _benchmark_json()[key]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--docs", type=int, help="documents per pass (smoke tests)")
    args = ap.parse_args(argv)

    quiet_environment()
    import pyspark

    import contentextractor_spark  # noqa: F401 — fail before any work without it

    from perfbench import checks
    from perfbench.workloads import BUCKETS, WORKLOADS

    if args.pin and args.seed != checks.DEFAULT_SEED:
        ap.error(f"--pin records the default seed {checks.DEFAULT_SEED} only")
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, nproc)
    if args.docs:
        wl.n = args.docs

    t_gen = time.perf_counter()
    wl.make_inputs()
    speed_before = host_speed()
    # input generation and the host-speed loop are not set-up
    gen_s = time.perf_counter() - t_gen

    phases = {"input_gen_s": gen_s}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    spark = start_spark(nproc)
    try:
        if args.trace:
            ship_benchmark(spark)
        wl.load(spark)
        phase("spark_start_s")
        wl.warm_workers()
        phase("warm_workers_s")
        # the first full pass brings its output home for the checks; the
        # checks themselves are the benchmark's work, not set-up
        out = wl.collect()
        phase("collect_s")
        attempted, failed, prints = wl.check(out)
        del out
        phase("check_s")
        warm = warm_up(wl)
        setup_s = process_age_s() - gen_s - phases["check_s"]
        phase("warm_passes_s")
        if args.trace:
            layers, traces = per_layer(wl, args.seconds, warm)
        else:
            run = timed_passes(wl, args.seconds)
        phase("measure_s")
        master = spark.sparkContext.master
    finally:
        stop_spark(spark)
    phase("stop_s")
    speed_after = host_speed()

    if args.pin:
        checks.pin(wl.name, wl.n, args.seed, prints)
    pinned = checks.load_pinned(wl.name, wl.n, args.seed)
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "docs_per_pass": wl.n,
        "nproc": nproc,
        "master": master,
        "buckets": BUCKETS,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "setup_s": round(setup_s, 3),
        "host_loop_per_s": [round(speed_before), round(speed_after)],
        "warmup_passes": len(warm),
        "warmup_pass_s": [round(t, 3) for t in warm],
        "digest": checks.digest(prints),
        "digest_pinned": pinned is not None,
    }
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        trace_file = os.path.join(OUT, f"trace-{wl.name}-s{args.seed}.json")
        write_traces(trace_file, traces)
        info["trace_file"] = os.path.relpath(trace_file, ROOT)
        units, values = _units("per_layer"), layers
    else:
        info["pass_s"] = [round(t, 4) for t in run["walls"]]
        info["peak_rss_mb"] = {k: round(v, 1) for k, v in run["peak_rss_mb"].items()}
        ok_share = (attempted - failed) / attempted
        units, values = _units("end_to_end"), end_to_end(wl, run, setup_s, ok_share)
    if set(values) != set(units):
        raise SystemExit(
            f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}"
        )
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"info": info}), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
