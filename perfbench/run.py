#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload elt_medallion --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``,
sets up a Spark session, runs closed-loop passes of the workload until ``--seconds``
have passed (the pass in flight completes), checks every op's output, and
prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
read from Spark's status store around each op. Everything the run writes
goes under ``.perfbench/`` in the repository root; the per-op artifact is
kept in ``.perfbench/results/``, the rest is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineer_development_spark"
WORKLOAD_NAMES = ("elt_medallion", "corpus_curation")
#: the end-to-end metrics of the final JSON line (BENCHMARK.json); the
#: others are printed as text and kept in the artifact
REPORTED = ("setup_s", "wall_s", "rows_per_s")
#: cap on the driver JVM heap; the engine's default (24g) exceeds small hosts
DRIVER_MEM_MB = 4096


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str) -> dict:
    """Process environment for Spark and its Python workers; returns the
    session's extra conf. Everything lands under ``work``."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    mem_mb = min(DRIVER_MEM_MB, total_mb // 3)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-XX:ReservedCodeCacheSize=2g -Djava.io.tmpdir={tmp}",
        # Python workers start from the JVM's environment: without the
        # repository on their path they fail to import the package
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": local,
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _setup(workload, conf: dict):
    """get_spark plus one warm-up op; returns (spark, start_s, warmup_s)."""
    from data_engineer_development_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    workload.warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _make_workload(name: str, data_dir: str, seed: int, work: str):
    from workloads import WORKLOADS, EltMedallion

    cls = WORKLOADS[name]
    if cls is EltMedallion:
        return cls(data_dir, seed, os.path.join(work, "elt"))
    return cls(seed)


def _tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below 11 samples no percentile has
    ten beyond it and the maximum is reported as the 100th."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    from spans import loadavg, peak_rss_mb

    load_start = loadavg()
    conf = _configure_env(work)
    data_dir = os.path.join(work, "data")
    wl = _make_workload(args.workload, data_dir, args.seed, work)
    inputs = wl.generate()

    spark, start_s, warm_s = _setup(wl, conf)
    # one sample per run: a second set-up in a probe process cost 12-20 s
    # a run, which the run budget does not allow (README: run budget)
    setups = [{"start_s": start_s, "warmup_s": warm_s}]

    from workloads import Runner

    runner = Runner(spark, traced=bool(args.trace))
    starts, ends = [], []
    t_run = time.perf_counter()
    while True:
        p = len(starts)
        booked = runner.bookkeeping_s
        starts.append(time.perf_counter())
        wl.run_pass(runner, p)
        ends.append(time.perf_counter() - (runner.bookkeeping_s - booked))
        if time.perf_counter() - t_run >= args.seconds:
            break

    raised = [f"{s.name}: {s.error}" for s in runner.spans if s.error]
    mismatches = wl.verify(spark)
    rss = peak_rss_mb(spark)
    layer = wl.layer_metrics(runner)
    _shutdown(spark)

    walls = [b - a for a, b in zip(starts, ends)]
    tail, tail_pct, n_ops = _tail([s.wall_s for s in runner.spans])
    attempted = len(runner.spans)
    failed = len(raised) + len(mismatches)
    e2e = end_to_end(wl, runner, setups, walls, rss)
    failed_frac = failed / attempted
    for name, (value, unit) in e2e.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"failed_frac = {failed_frac:.6g} ({failed} of {attempted} ops)")
    print(f"op_tail_s is p{tail_pct:.1f} of {n_ops} op samples")
    for msg in raised + mismatches:
        print(f"FAILED {msg}")

    source = _source_digest()
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "source": source,
        "trace": args.trace, "cpus": _cpus(), "inputs": inputs,
        "load_avg_start": load_start, "load_avg_end": loadavg(),
        "setups": setups, "pass_walls_s": walls,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "failed_frac": failed_frac,
        "op_tail": {"percentile": tail_pct, "samples": n_ops},
        "failures": raised + mismatches,
        "ops": [_span_row(s) for s in runner.spans],
    }
    if args.trace:
        from layers import per_layer

        metrics = per_layer(runner, setups, layer, len(walls))
        artifact["per_layer"] = metrics
        overhead = _tracing_overhead(base, args, source, e2e["wall_s"][0])
        if overhead:
            artifact["tracing_overhead"] = overhead
            print(f"tracing overhead: {overhead['wall_s']:+.3f} s wall_s "
                  f"({overhead['share']:+.1%}) against the untraced run of "
                  "this seed, --seconds and source")
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out_metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in REPORTED}

    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(_artifact_path(base, args, args.trace), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def end_to_end(wl, runner, setups: list[dict], walls: list[float],
               rss_mb: float) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics as (value, unit). ``rows_per_s`` is, for
    elt_medallion, landing rows per second of the full-load pipeline op;
    for corpus_curation, the rows a pass reads (each entry's input tables)
    per second of a pass."""
    ops = [s.wall_s for s in runner.spans]
    pipe = [s.wall_s for s in runner.spans if s.name == "pipeline.run"]
    return {
        "setup_s": (statistics.median(s["start_s"] + s["warmup_s"] for s in setups), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (_tail(ops)[0], "s"),
        "rows_per_s": (wl.throughput_rows / statistics.median(pipe or walls), "rows/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def _span_row(s) -> dict:
    row = {"pass": s.pass_no, "name": s.name, "module": s.module,
           "build_s": s.build_s, "action_s": s.action_s, "error": s.error}
    if s.end_job:
        row.update(first_job=s.first_job, end_job=s.end_job,
                   jobs=s.jobs, build_jobs=s.build_jobs)
    row.update(s.counters)
    return row


def _source_digest() -> str:
    """SHA-256 over the benchmark's and the engine's Python sources."""
    h = hashlib.sha256()
    for d in (HERE, os.path.join(ROOT, PACKAGE)):
        for path in sorted(glob.glob(os.path.join(d, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _tracing_overhead(base: str, args, source: str, wall_s: float) -> dict | None:
    """Traced minus untraced ``wall_s``, only against an untraced artifact
    of the same workload, seed, ``--seconds`` and source digest."""
    path = _artifact_path(base, args, trace=0)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        ref = json.load(f)
    if ref.get("source") != source or ref["seconds"] != args.seconds:
        return None
    over = wall_s - ref["end_to_end"]["wall_s"]["value"]
    return {"wall_s": over, "share": over / ref["end_to_end"]["wall_s"]["value"]}


def _artifact_path(base: str, args, trace: int) -> str:
    return os.path.join(base, "results",
                        f"{args.workload}-seed{args.seed}-trace{trace}.json")


if __name__ == "__main__":
    sys.exit(main())
