"""Benchmark harness for the cqi_engine scoring and catalog paths.

    python3 perfbench/run.py --workload urban_dense --seed 1 --seconds 8 \
        --trace 0

Run from the root of a checkout.  One driver process builds a
``local[N]`` session (N = min(4, usable CPUs)) and issues jobs in a closed
loop: each job starts after the previous one finished.  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a separate traced pass with ``--trace 1``.  Inputs,
outputs and Spark scratch space live under ``.perfbench_work/`` in the
checkout and are removed at exit; per-run records and span files go to
``.perfbench_results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name -> unit
    "setup_s": "s", "job_s.p50": "s", "input_rows_per_s": "rows/s",
    "cpu_s_per_job": "s", "peak_rss_mb": "MB", "ok_ratio": "fraction",
}

# span -> its own per-layer counts (besides `<span>.s`)
SPAN_COUNTS = {
    "scan": ("rows_out", "rows_dropped"),
    "points": ("rows_out",),
    "road_cells": ("rows_out",),
    "join": ("candidates", "pairs", "hit_ratio", "task_skew"),
    "agg": ("rows_out",),
    "writeback": (),
    "kernel": ("rows_in", "rows_out", "distinct_ratio", "grouped_share"),
    "sink": ("mb_written",),
    "extract": ("rows_out",),
    "stream": ("trigger_s", "add_batch_s", "planning_s", "wal_commit_s"),
}
CATALOG_SPANS = ("cell_agg", "dwithin_join", "knn_blocked",
                 "point_in_polygon", "raster_tiles")
# spans of microbatch_stream only, a workload BENCHMARK.json does not list
# (no room in the run budget, see README): their metrics go to the run
# record but are not printed
RECORD_ONLY_SPANS = ("extract", "stream")
STAGE_UNITS = {"tasks": "count", "task_s": "s", "cpu_s": "s", "gc_s": "s",
               "fetch_wait_s": "s", "shuffle_write_mb": "MB",
               "shuffle_read_mb": "MB", "spill_mb": "MB"}
COUNT_UNITS = {"rows_out": "rows", "rows_dropped": "rows", "rows_in": "rows",
               "candidates": "rows", "pairs": "rows", "hit_ratio": "fraction",
               "task_skew": "ratio", "distinct_ratio": "fraction",
               "grouped_share": "fraction",
               "mb_written": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for span, counts in SPAN_COUNTS.items():
        if span != "stream":
            out[f"{span}.s"] = "s"
        for c in counts:
            out[f"{span}.{c}"] = COUNT_UNITS.get(c, "s")
    for q in CATALOG_SPANS:
        out[f"catalog.{q}.s"] = "s"
        out[f"catalog.{q}.rows_out"] = "rows"
    # stage counters: one set per span; the five catalog queries share one
    for span in (*SPAN_COUNTS, "catalog"):
        for c in measure.STAGE_COUNTERS:
            out[f"{span}.{c}"] = STAGE_UNITS[c]
    out["trace.job_s"] = "s"
    out["trace.overhead_s"] = "s"
    return out


def reported_units() -> dict[str, str]:
    """The per-layer metrics printed with --trace 1 (BENCHMARK.json's)."""
    return {k: u for k, u in per_layer_units().items()
            if k.split(".")[0] not in RECORD_ONLY_SPANS}


def pin_env(work: str) -> None:
    """Make every run see the same engine settings and keep every file the
    run writes inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        os.environ[k] = "1"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " --conf spark.ui.showConsoleProgress=false pyspark-shell")


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_sha(*pkgs: str) -> str:
    h = hashlib.sha256()
    for pkg in pkgs:
        for d, dirs, files in sorted(os.walk(pkg)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() or None


def stop_spark(spark) -> None:
    """Stop the session (if one was built), then the JVM this process
    launched, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(spans: list[dict], untraced: list[float],
                  traced: list[float]) -> dict[str, float]:
    """Median over traced jobs of every span's time, count and stage
    counters.  A layer that did not run on the workload reads 0."""
    median = measure.median
    by_job: dict[str, list[dict]] = {}
    for sp in spans:
        by_job.setdefault(sp["parent"], []).append(sp)
    samples: dict[str, list[float]] = {}
    for job_spans in by_job.values():
        vals: dict[str, float] = {}
        for sp in job_spans:
            name = sp["name"]
            group = "catalog" if name.startswith("catalog.") else name
            vals[f"{name}.s"] = sp["s"]
            for k, v in sp["counts"].items():
                vals[f"{name}.{k}"] = float(v)
            for k, v in sp["stages"].items():
                key = f"{group}.{k}"
                if k == "task_skew":
                    vals[key] = max(vals.get(key, 0.0), v)
                else:
                    vals[key] = vals.get(key, 0.0) + v
        for k, v in vals.items():
            samples.setdefault(k, []).append(v)
    out = {}
    for name in per_layer_units():
        out[name] = median(samples[name]) if name in samples else 0.0
    if traced:
        out["trace.job_s"] = median(traced)
        out["trace.overhead_s"] = median(traced) - median(untraced)
    return out


TRACE_COST = 4       # a traced job's time over an untraced one (urban_dense)


def job_counts(seconds: float, trace: bool,
               nominal_s: float) -> tuple[int, int]:
    """(untraced, traced) jobs per run, fixed by the window and the
    workload's nominal job time rather than by the clock during the run:
    jobs keep speeding up for several passes after set-up, so a
    clock-driven count would move the median with each run's count.  At
    least three untraced jobs, so that the median drops the first one."""
    if not trace:
        return max(3, round(seconds / nominal_s)), 0
    return (max(3, round(seconds / 2 / nominal_s)),
            max(1, round(seconds / 2 / (TRACE_COST * nominal_s))))


def settle(spark) -> None:
    """Collect the driver's garbage, then the JVM's, between jobs and
    outside their timing: the previous job's dropped DataFrames release
    their checkpoints and shuffle files, and every job starts from the same
    heap, as a job in its own spark-submit would."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def count_failed(wl, handles) -> int:
    """Output checks, run after every timed window closed.  A job that
    raised (handle None), or whose output differs from the oracle or
    cannot be read, is a failure."""
    failed = 0
    for h in handles:
        try:
            ok = h is not None and wl.verify(h)
        except Exception:
            traceback.print_exc()
            ok = False
        failed += not ok
    return failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    pin_env(work)
    if args.trace:
        os.environ["SPARK_GRAFT_UI"] = "true"
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, results: str) -> int:
    import workloads
    from cqi_engine.session import build_session, ship_package

    log = sys.stderr
    wl = workloads.make(args.workload, work)
    t = time.perf_counter()
    props = wl.generate(args.seed)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.build_oracle(os.path.join(
        results, f"oracle-{args.workload}-seed{args.seed}-"
        f"{source_sha(os.path.join(ROOT, 'cqi_engine'), HERE)}.json"))
    oracle_s = time.perf_counter() - t
    print(f"input {json.dumps(props)} gen_s={gen_s:.2f} "
          f"oracle_s={oracle_s:.2f}", file=log, flush=True)

    n_cpu = min(4, usable_cpus())
    handles, times, job_cpu, job_steal, traced_times = [], [], [], [], []
    tracer = measure.Tracer()
    n_jobs, n_traced = job_counts(args.seconds, bool(args.trace),
                                  wl.nominal_job_s)
    steal0 = measure.cpu_times()
    spark = None
    try:
        t = time.perf_counter()
        spark = build_session(f"perfbench-{args.workload}",
                              master=f"local[{n_cpu}]")
        spark.sparkContext.setLogLevel("ERROR")
        ship_package(spark)
        wl.warmup(spark)
        setup_s = time.perf_counter() - t

        settle(spark)
        measure.reset_peak_rss()
        for i in range(n_jobs):
            cpu0, host0 = measure.tree_cpu(), measure.cpu_times()
            t = time.perf_counter()
            try:
                handles.append(wl.job(spark, i))
            except Exception:  # a failed job is counted, the loop goes on
                traceback.print_exc()
                handles.append(None)
            times.append(time.perf_counter() - t)
            job_cpu.append(measure.tree_cpu() - cpu0)
            job_steal.append(measure.steal_share(host0, measure.cpu_times()))
            settle(spark)
        peak_rss = measure.peak_rss()
        for i in range(n_jobs, n_jobs + n_traced):
            tracer.job_id = f"job{i}"
            settle(spark)
            t = time.perf_counter()
            try:
                handles.append(wl.traced_job(spark, tracer, i))
            except Exception:
                traceback.print_exc()
                handles.append(None)
            traced_times.append(time.perf_counter() - t)
        if args.trace:
            counters = tracer.stage_counters(spark)
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_spark(spark)
    steal = measure.steal_share(steal0, measure.cpu_times())

    failed = count_failed(wl, handles)
    attempted = len(handles)

    p50 = measure.median(times)
    tail, tail_pct = measure.tail(times)
    e2e = {
        "setup_s": setup_s,
        "job_s.p50": p50,
        "input_rows_per_s": wl.rows_per_job / p50,
        "cpu_s_per_job": measure.median(job_cpu),
        "peak_rss_mb": peak_rss / float(1 << 20),
        "ok_ratio": (attempted - failed) / attempted,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "input": props, "gen_s": gen_s,
        "oracle_s": oracle_s, "jobs": len(times), "job_s": times,
        "job_cpu_s": job_cpu, "job_s.tail": tail,
        "job_steal": job_steal,
        "tail_percentile": tail_pct, "end_to_end": e2e,
        "local_cpus": n_cpu, "nproc": usable_cpus(), "host_steal": steal,
        "git_sha": git_sha(),
        "source_sha": source_sha(os.path.join(ROOT, "cqi_engine")),
        "spark_conf": {k: v for k, v in conf.items()
                       if not k.startswith(("spark.app.", "spark.driver.host",
                                            "spark.driver.port"))},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        spans = tracer.rows(counters)
        with open(os.path.join(results, f"spans-{tag}.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({"spans": spans, "record": record}, fh, indent=1)
        metrics = layer_metrics(spans, times, traced_times)
        units = reported_units()
        record["per_layer"] = metrics
        expect = getattr(wl, "expect_grouped", None)
        if expect is not None and traced_times:
            share = metrics["kernel.grouped_share"]
            record["design_ok"] = share == (1.0 if expect else 0.0)
            print(f"design check: kernel.grouped_share {share:.3f}, "
                  f"expected {1.0 if expect else 0.0:.0f}: "
                  f"{'ok' if record['design_ok'] else 'MISMATCH'}",
                  file=log, flush=True)
    else:
        metrics, units = e2e, END_TO_END
    with open(os.path.join(results, f"run-{tag}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(f"{args.workload}: {len(times)} jobs, job_s p50 "
          f"{p50:.3f} tail(p{tail_pct:.0f}) {tail:.3f}, "
          f"setup_s {setup_s:.2f}, failed {failed}/{attempted}, "
          f"steal {steal:.3f}", file=log, flush=True)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in units.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
