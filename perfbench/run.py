#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload registry_mix --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. It builds its inputs from the seed in
a temporary directory under `.perfbench/`, starts one engine session
(`session.get_spark` on every core the process may use, shuffle
partitions at the session default), warms up untimed (two passes
over the query pool; one small ETL batch), then sends ops one after
another: whole rounds (every query of the pool once; one ETL batch),
as many as take about `--seconds` on a 4-core host, and two at least.
Every op's output is checked. Readable `metric` and `info` lines come
first; the last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`.

Each op is timed and its CPU seconds are read from /proc (this
process, the JVM and the Python workers, user and system). Both are
summarised per query, then combined: `cpu_s_per_op` is the geometric
mean of each query's median CPU seconds, `latency_p50_s` that of each
query's median latency and `latency_tail_s` that of each query's tail,
so a mix of fast and slow queries gives a figure that does not jump
between them. An ETL batch is the one kind of op of etl_ingest.
`setup_s` and `cpu_s_per_op` go into the result line; the latency
figures are printed beside them, because on a shared host they follow
the load of other guests more than the program.

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
the same number of rounds runs, half of them traced, in seed-drawn
order within each pair of rounds, and the run reports per-layer
figures from spans recorded around the calls into the engine during
the traced rounds, plus the tracing overhead (traced minus untraced
`latency_p50_s`). The spans are written to
`.perfbench/trace-<workload>-seed<seed>.jsonl`.

The run fails (correct=false) if any op fails its check, or, in a git
checkout, if `git status` differs after the run from before it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from procfs import alive, descendants, host_steal, peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("registry_mix", "etl_ingest")

# per-layer metrics every workload reports (the rest are printed only)
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "op.build_s": "s",
    "spark.exec_s": "s", "spark.build_jobs": "count",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def process_start() -> float:
    """When this process started, on the `time.perf_counter` clock
    (to the 10 ms of /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (
        uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def git_status() -> str | None:
    """`git status` of the checkout, or None outside a git work tree."""
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain",
             "--untracked-files=all"], capture_output=True, text=True,
            timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout if r.returncode == 0 else None


def tail_latency(latencies: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label. Below 11 samples no percentile qualifies: the maximum
    is reported instead and labelled so."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], f"max of {n} (fewer than 11 samples)"
    pct = math.floor(100 * (n - 10) / n)
    idx = max(0, math.ceil(pct / 100 * n) - 1)
    return xs[idx], f"p{pct} of {n}"


def isolate(workdir: str) -> None:
    """Keep every file Spark and its workers write inside `workdir`."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(workdir, d))
    tmp = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote("spark.sql.warehouse.dir="
                              + os.path.join(workdir, "warehouse")),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell"])
    # the engine reads these; the benchmark pins what they would change
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    for pid in procs:
        while alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def run_phase(workload, spark, rounds: int, names, traced=frozenset()):
    """Closed loop: send the next op when the previous one is checked.
    The phase runs whole rounds of the workload (every query of the
    pool once, in seed order); the rounds numbered in `traced` run
    with tracing on."""
    results, op = [], 0
    for r in range(rounds):
        with workload.tracing(spark) if r in traced else nullcontext():
            for _ in range(workload.round_len):
                res = workload.run_op(spark, next(names), op)
                res.traced = r in traced
                results.append(res)
                op += 1
    return results


def summarize(results) -> dict:
    """The figures of `results`: per op name, the median and tail of
    its latency and the median of its CPU seconds; then the geometric
    mean of each over the names."""
    by_name: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    for r in results:
        by_name.setdefault(r.name, []).append(r.latency)
        cpu.setdefault(r.name, []).append(r.cpu)
    tails = [tail_latency(v) for v in by_name.values()]
    return {"cpu_s_per_op": statistics.geometric_mean(
                statistics.median(v) for v in cpu.values()),
            "latency_p50_s": statistics.geometric_mean(
                statistics.median(v) for v in by_name.values()),
            "latency_tail_s": statistics.geometric_mean(t for t, _ in tails),
            "tail_label": "geometric mean over %d op kinds of: %s" % (
                len(tails), sorted({label for _, label in tails})),
            "throughput_ops_per_s": len(results)
            / sum(r.latency for r in results)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = process_start()

    if not os.path.isdir(os.path.join(ROOT, "covid_weather_etl_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)   # Python workers import the engine from here
    sys.path.insert(0, ROOT)
    git_before = git_status()
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(workdir)
    try:
        metrics, shown, info, ops = measure(args, workdir, base, started)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    tree_ok = git_status() == git_before
    info["tree_unchanged"] = tree_ok if git_before is not None else None
    if not tree_ok:
        print("perfbench: git status changed during the run",
              file=sys.stderr)
    failures = [r for r in ops if not r.ok]
    for r in failures[:5]:
        print(f"perfbench: {r.name} failed: {r.error}", file=sys.stderr)
    for k, (v, u) in shown.items():
        print(f"metric {k} {v:.6g} {u}")
    print("info " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": not failures and tree_ok,
        "attempted": info["ops_attempted"], "failed": info["ops_failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def measure(args, workdir: str, base: str, started: float):
    """Set up, warm, measure; returns (metrics, shown, info, ops) where
    `metrics` go into the result line, `shown` are printed with them,
    and `ops` are every op run, warm-up included."""
    isolate(workdir)
    import workloads as W
    from spans import Tracer

    from covid_weather_etl_spark.session import get_spark

    tracer = Tracer(enabled=False)
    wl = (W.EtlWorkload if args.workload == "etl_ingest"
          else W.RegistryWorkload)(workdir, args.seed, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
    session_start = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        warm = wl.warm(spark)
        session_warm = time.perf_counter() - t0
        setup = time.perf_counter() - started

        rng = random.Random(args.seed)
        names = wl.op_names(rng)
        # the op count follows from `seconds`, not from the speed of the
        # host, so every run reports over the same mix and sample count;
        # two rounds at least, so no median rests on one sample
        rounds = max(2, math.floor(args.seconds / wl.round_s + 0.5))
        if args.trace:
            traced = {p + rng.randrange(2) for p in range(0, rounds - 1, 2)}
        else:
            traced = set()
        steal0 = host_steal()
        timed = run_phase(wl, spark, rounds, names, traced)
        steal1 = host_steal()
        busy = sum(r.latency for r in timed)
        e2e = summarize(timed)
        rss = peak_rss_mb()
        extra = wl.end_to_end_extra()
        if args.trace:
            on = [r for r in timed if r.traced]
            off = [r for r in timed if not r.traced]
            with wl.tracing(spark):
                layer = wl.layer_metrics(spark, on)
            layer["trace.overhead_s"] = (summarize(on)["latency_p50_s"]
                                         - summarize(off)["latency_p50_s"])
            layer["session.start_s"] = session_start
            layer["session.warm_s"] = session_warm
            tracer.write(os.path.join(
                base, f"trace-{args.workload}-seed{args.seed}.jsonl"))
        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        stop_spark(spark)

    failed = sum(not r.ok for r in timed)
    info = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "host_cores": os.cpu_count(),
        "shuffle_partitions": shuffle,
        "prepare_s": prepare_s, "session_start_s": session_start,
        "warmup_s": session_warm,
        "rounds": rounds, "traced_rounds": sorted(traced),
        "ops_timed": len(timed), "op_seconds": busy,
        "host_steal_share": ((steal1[0] - steal0[0])
                             / max(1, steal1[1] - steal0[1])),
        "warmup_latencies_s": [[o.name, o.latency] for o in warm],
        "op_latencies_s": [[o.name, o.latency] for o in timed],
        "op_cpu_s": [[o.name, o.cpu] for o in timed],
        "latency_tail": e2e["tail_label"],
        "ops_attempted": len(timed), "ops_failed": failed,
        "error_ratio": failed / len(timed),
        "warmup_failures": sum(not r.ok for r in warm),
        **wl.describe(),
    }
    if args.trace:
        metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
        shown = {**metrics, **{k: (v, _unit(k)) for k, v in layer.items()
                               if k not in PER_LAYER}}
    else:
        metrics = {"setup_s": (setup, "s"),
                   "cpu_s_per_op": (e2e["cpu_s_per_op"], "s")}
        # printed, not bounded: on a shared 4-core host the latency of
        # the same ops tracked the load of other guests (1.2 s at 0.3%
        # steal, 2.2 s at 18%), while their CPU seconds moved far less;
        # the tail is the maximum of two samples per query, and peak RSS
        # follows the JVM's heap sizing, which ranged from 3.8 to 6.0 GB
        # across five runs on one host
        shown = {**metrics, "latency_p50_s": (e2e["latency_p50_s"], "s"),
                 "throughput_ops_per_s": (e2e["throughput_ops_per_s"],
                                          "1/s"),
                 "latency_tail_s": (e2e["latency_tail_s"], "s"),
                 "peak_rss_mb": (rss, "MB"),
                 "error_ratio": (info["error_ratio"], "ratio"), **extra}
    return metrics, shown, info, warm + timed


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "B" if name.endswith("bytes_written") else "count"


if __name__ == "__main__":
    sys.exit(main())
