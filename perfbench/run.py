"""Benchmark of record for s2geography_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see perfbench/README.md) on local[nproc] from this
driver process, checks every answer against an independent oracle, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
variant and reports the per-layer metrics (spans are dumped to stderr).
All scratch data (corpora, Spark local and warehouse dirs, temp files)
lives in a directory under the checkout that is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import RssSampler, Tracer, median, quantile, timed  # noqa: E402


def declared(kind: str) -> dict:
    """{metric name: unit} of one BENCHMARK.json metric list, the only
    declaration of the names and units (`end_to_end` or `per_layer`)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def hermetic_env(work: str, cpus: int):
    """Environment for the JVM and its Python workers, set before pyspark
    starts: package importable by workers launched from anywhere, one
    Spark core per host core, a driver heap that fits the host, no console
    progress on the output, and every scratch file under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    prev = os.environ.get("PYTHONPATH")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + prev if prev else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.local.dir={os.path.join(work, 'local')}"),
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell"]),
    })
    import tempfile
    tempfile.tempdir = tmp


def stop_spark(spark):
    """Stop the context, then the JVM the driver launched, and wait for it;
    the JVM takes its Python workers down with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def closed_loop(wl, seconds: float):
    """Send operation i+1 only after operation i returned; stop at the
    first round boundary past `seconds`."""
    t0 = time.perf_counter()
    wl.warmup()
    print(f"perfbench: warm-up {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    t_start = time.perf_counter()
    i = 0
    while True:
        wl.run_op(i)
        i += 1
        if i % wl.round_len == 0 and i >= wl.min_ops and \
                time.perf_counter() - t_start >= seconds:
            break
    wl.log.wall = time.perf_counter() - t_start


def end_to_end(wl, setup_s: float, peak_mb: float) -> dict:
    """The untraced run's metrics from the workload's operation log."""
    log = wl.log
    lat = log.lat
    return {
        "setup_s": setup_s,
        # the mix's queries differ in size: all rows over all query time
        "rows_per_s": log.rows / sum(lat) if wl.round_len > 1
        else wl.rows_per_op / median(lat),
        "queries_per_s": len(lat) / log.wall,
        "query_s_p50": quantile(lat, 0.5),
        "query_s_p90": quantile(lat, 0.9),
        "bytes_per_row": wl.bytes_per_row,
        "peak_rss_mb": peak_mb,
        "ok_frac": 1.0 - log.failed / log.attempted,
    }


def per_layer(wl, tracer, session_s: float) -> dict:
    """The traced run's metrics: set-up layers from the spans, the rest
    from the workload's own prefix and kernel measurements."""
    from perfbench.workloads import covering_rate, region_geogs
    wl.warmup()
    layers = dict.fromkeys(declared("per_layer"), 0.0)
    layers["session.start_s"] = session_s
    layers["core.ops.covering_cells_per_s"] = covering_rate(region_geogs(24))
    for k in ("sources.regions.build", "operators.spatial_join.prepare"):
        d = tracer.durations(k)
        if d:
            layers[k + "_s"] = median(d)
    layers.update(wl.layers())
    return layers


def run(args) -> dict:
    from s2geography_spark.session import get_spark
    from perfbench.workloads import WORKLOADS
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        hermetic_env(work, len(os.sched_getaffinity(0)))
        tracer = Tracer(enabled=bool(args.trace))
        with RssSampler() as rss:
            with tracer.span("session.start"):
                spark, t_session = timed(get_spark, "perfbench")
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer,
                                          args.scale)
            # one cold set-up: repeating the dim preparation would not fit
            # the run budget (see README)
            _, t_setup = timed(wl.setup)
            _, t_prepare = timed(wl.prepare)
            print(f"perfbench: session {t_session:.2f}s setup {t_setup:.2f}s "
                  f"prepare {t_prepare:.2f}s", file=sys.stderr)
            if args.trace:
                metrics = per_layer(wl, tracer, t_session)
            else:
                closed_loop(wl, args.seconds)
        wl.log.record_check(wl.final_check())
        if not args.trace:
            metrics = end_to_end(wl, t_session + t_setup + t_prepare,
                                 rss.peak_mb)
        log = wl.log
        print(f"perfbench: latencies {' '.join(f'{t:.2f}' for t in log.lat)}s",
              file=sys.stderr)
        for e in log.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        if args.trace:
            print("perfbench-spans " + json.dumps(tracer.spans), file=sys.stderr)
        units = declared("per_layer" if args.trace else "end_to_end")
        return {"correct": log.failed == 0, "attempted": log.attempted,
                "failed": log.failed,
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        print(f"perfbench: stop {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (self-tests use a tiny one)")
    args = ap.parse_args(argv)
    try:
        import s2geography_spark  # noqa: F401  fail before starting a JVM
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
