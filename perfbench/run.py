"""Stored-table benchmark for the feature-extraction engine.

    python3 perfbench/run.py --workload flagship_mixed --seed 1 --trace 0

Generates the workload's inputs from --seed, writes them to parquet, then
drives the engine on local[<cores>] from this one process: set-up
(get_spark until a warm-up pass completes), one untimed settle pass,
closed-loop timed passes for --seconds (default: run_seconds in
BENCHMARK.json), output checks outside the timer. --trace 0 prints the
end-to-end metrics, --trace 1 runs the traced layer split and prints the
per-layer metrics. The last stdout line is the result:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

The line before it names the workload, seed and core count. Per-pass
times, spans, event-log stage metrics and the kernel profile go to
perfbench/out/<workload>-s<seed>-t<trace>.json. The benchmark reads and
writes only inside the checkout it runs from, and it exits non-zero
without a result when the engine's sources are missing.
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
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "image_feature_extraction_spark"


def _require_program() -> None:
    """The engine is imported from the checkout itself, never from
    elsewhere on the path."""
    need = [os.path.join(ROOT, PACKAGE, "__init__.py"),
            os.path.join(ROOT, "scripts", "check_oracle.py")]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        sys.exit(f"perfbench: engine sources not found: {missing}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _local_env(work: str) -> None:
    """Keep numpy single-threaded in this process (the kernel profile is a
    single-core figure) and every temp file inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1",
        TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )


def start_session(work: str, cpus: int, event_log_dir: str | None = None):
    from image_feature_extraction_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        import tracing

        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(tracing.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python worker daemon and its workers) is gone."""
    from pyspark import SparkContext

    import tracing

    gw = SparkContext._gateway
    if gw is None:  # already shut down
        return
    pids = tracing.process_tree(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    for pid in pids[1:]:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def set_up(wl, work: str, cpus: int):
    """Set-up as a user pays it: get_spark (JVM start) through an untimed
    warm-up pass over the stored input (Python worker spawn, imports,
    planning, code generation, first JIT). Returns (session, set-up
    seconds, get_spark seconds)."""
    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    t1 = time.perf_counter()
    wl.warm_up(spark, cpus)
    return spark, time.perf_counter() - t0, t1 - t0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> tuple[dict, dict]:
    """One benchmark run. Returns (result line, detail record)."""
    import tracing
    import workloads

    cpus = _cpus()
    wl = workloads.make(args.workload)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "seconds": args.seconds, "trace": args.trace, "scale": args.scale}
    spark = None
    try:
        _local_env(work)
        wl.generate(os.path.join(work, "data"), args.seed, args.scale)
        detail["rows"] = wl.rows
        spark, setup_s, start_s = set_up(wl, work, cpus)
        detail["setup_s"] = setup_s
        # one more untimed pass, outside set-up and the window: after the
        # first pass the JIT is still compiling the hottest plan code
        detail["settle_pass_s"] = wl.timed_pass(spark)[0]

        # closed loop: passes back to back until --seconds have passed
        attempted = failed = 0
        fails, times = [], []
        t_end = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < t_end:
            attempted += 1
            try:
                dt, bad = wl.timed_pass(spark)
            except Exception:  # a raising pass is counted as failed, not fatal
                dt, bad = None, [traceback.format_exc(limit=3)[-600:]]
            if bad:
                failed += 1
                fails.extend(bad)
            else:
                times.append(dt)
        detail["pass_s"] = times
        rows_per_s = _median([wl.rows / t for t in times])

        if args.trace:
            # the traced passes run in a fresh SparkContext that writes an
            # event log; the JVM and its JIT state are kept, so one warm-up
            # pass per prefix plan (respawning Python workers) is enough
            jpid = jvm_pid()
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            spark = start_session(work, cpus, log_dir)
            tracer = tracing.Tracer(f"{args.workload}-s{args.seed}", spark)
            with tracer.span("warm_up"):
                wl.warm_up(spark, cpus, prefixes=True)
            tr = wl.traced(spark, tracer, jpid)
            attempted += tr["passes"]
            if not tr["rows_ok"]:
                failed += 1
                fails.append("traced pass row count differs")
            detail["traced"] = tr
            detail["spans"] = tracer.spans

        check_fails, info = wl.check_output(spark)
        detail["checks"] = check_fails
        if check_fails:
            failed += 1
            fails.extend(check_fails)
        workers = tracing.python_worker_pids(jvm_pid())
        if not workers:
            # the workload started no Python worker; measure the footprint
            # of one that imports the engine, outside every timer
            workloads.warm_workers(spark, 1)
            workers = tracing.python_worker_pids(jvm_pid())
        rss = tracing.peak_rss_mb(workers)
        shutdown(spark)

        if args.trace:
            layer = _layer_metrics(wl, tr, tracer, log_dir, times, rows_per_s,
                                   start_s, cpus, info, detail)
            # 6 significant digits keep the 35-metric line under 2 KB; the
            # detail file keeps full precision
            metrics = {name: (float(f"{layer.get(name, 0.0):.6g}"), unit)
                       for name, unit in _declared("per_layer")}
        else:
            values = {"rows_per_s": rows_per_s, "setup_s": setup_s,
                      "worker_peak_rss_mb": rss}
            metrics = {name: (values[name], unit) for name, unit in _declared("end_to_end")}
        detail["strategy"] = wl.strategy
        detail["failures"] = fails
        detail["metrics"] = layer if args.trace else values
        result = {
            "correct": not fails,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail
    finally:
        try:
            if spark is not None:  # a run that raised still ends its JVM
                shutdown(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _layer_metrics(wl, tr, tracer, log_dir, times, rows_per_s, start_s, cpus,
                   info, detail) -> dict:
    import tracing

    stages = tracing.stage_metrics(log_dir)
    detail["stages"] = stages
    by_pass: dict[str, list] = {}
    for st in stages:
        if st["span"] is not None:
            root = tracer.spans[tracer.root_of(st["span"])]["name"]
            by_pass.setdefault(root, []).append(st)
    full = by_pass.get("pass.write", []) + by_pass.get("pass.queries", [])
    untraced_s = _median(times)
    m = wl.layer_metrics(tr, by_pass, untraced_s)
    m.update({
        "session.start_s": start_s,
        "shuffle.write_bytes": tracing.sum_stages(full, "shuffle_write_bytes"),
        "shuffle.fetch_wait_s": tracing.sum_stages(full, "fetch_wait_ms") / 1000.0,
        "spill.bytes": tracing.sum_stages(full, "spill_bytes"),
        "jvm.gc_s": tracing.sum_stages(full, "gc_ms") / 1000.0,
        "spark.cpu_util": tr["full_cpu_s"] / (tr["full_s"] * cpus),
        "trace.overhead": tr["full_s"] / untraced_s - 1.0,
    })
    if "match_ratio" in info:
        m["asof.match_ratio"] = info["match_ratio"]
        m["kernels.fg_cell_ratio"] = info["fg_cell_ratio"]
        kp = wl.kernel_profile()
        detail["kernel_profile"] = kp
        m.update({k: v for k, v in kp.items() if k.startswith("kernels.")})
        m["spark.parallel_eff"] = rows_per_s / (cpus * kp["kernels.docs_per_s_1core"])
    return m


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _declared(section: str) -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in _spec()[section]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use small scales)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _require_program()
    sys.path.insert(0, BENCH_DIR)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    result, detail = run(args)
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cpus": detail["cpus"], "strategy": detail["strategy"],
                      "detail": os.path.relpath(path, ROOT)}))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
