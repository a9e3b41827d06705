"""zolo_spark benchmark runner.

    python3 perfbench/run.py --workload interactive_sql --seed 1 \
        --seconds 15 --trace 0

Run from the root of a zolo_spark checkout. One closed-loop client
drives ``local[<cores>]`` (``SPARK_GRAFT_CPUS`` = the machine's core
count): set-up (session, data registration, warm-up), then ops
back-to-back for ``--seconds``, then the output checks, outside the
timed window. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (``{"detail": ...}``) carries the workload's own
numbers (``sql_p50_s``, ``tx_write_amp``, ``forecast_job_s``...).

Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
checkout; Spark's temp files, warehouse and event log go there too, and
the directory is removed at exit. ``--trace 1`` keeps its span dump
under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import geomean, percentile, tail  # noqa: E402

END_TO_END = {"setup_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB"}
# The first this many ops of a workload's sequence give op_geomean_s;
# the timed window runs on until they are done.
MEASURED_OPS = 30
# Driver JVM heap (SPARK_GRAFT_DRIVER_MEM), pinned with -Xms. The
# program's default (8g, grown on demand) leaves peak RSS to the
# collector's growth heuristics: over five seeds it ranged from 2.4 to
# 3.7 GB.
DRIVER_MEM = "2g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _rss_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _environment(work: str, traced: bool) -> None:
    """Point every temporary-file location of Python, the JVM and Spark
    into ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = " ".join(f'--conf "{k}={v}"' for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _generate(seed: int, data: str, warm: str) -> None:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
         "--out", data, "--warm", warm],
        capture_output=True, text=True, timeout=170)
    if r.returncode != 0:
        _fail(f"input generation failed: {r.stderr[-500:]}")


def _shutdown() -> None:
    """Stop Spark, then end the JVM it runs in and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join("zolo_spark", "__init__.py")):
        _fail("run from the root of a zolo_spark checkout "
              "(no zolo_spark/ package in the current directory)")
    import workloads
    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    # a terminated run still cleans up: stop Spark, remove its files
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    work = os.path.abspath(os.path.join(
        ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(work, exist_ok=True)
    try:
        _environment(work, bool(args.trace))
        data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
        g0 = time.perf_counter()
        _generate(args.seed, data, warm)
        print(f"perfbench: inputs {time.perf_counter() - g0:.1f}s", file=sys.stderr)
        result, detail = _run(args, work, data, warm)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".perfbench_work")
        except OSError:
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


def _run(args, work: str, data: str, warm: str):
    sys.path.insert(0, os.getcwd())
    import tracing
    import workloads
    from zolo_spark import session

    tracer = tracing.Tracer()
    if args.trace:
        import layers
        layers.install(tracer)
        tracer.enabled = True

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    tracer.enabled = False
    ctx = workloads.Ctx(spark=spark, data_dir=data, warm_dir=warm,
                        work_dir=work, seed=args.seed, tracer=tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.setup()
    setup_s = time.perf_counter() - t0

    samples: list[dict] = []
    results: list[tuple] = []
    failed_ops: dict[int, str] = {}
    sc = spark.sparkContext

    def run_op(kind: str, name: str, fn, traced: bool, after: bool) -> None:
        i = len(results)
        if args.trace:
            sc.setJobGroup(f"{tracing.JOB_GROUP_PREFIX}{i}", name)
        tracer.op_id, tracer.enabled = i, traced
        calls0 = tracer.py4j_calls
        out = None
        s0, e0 = time.perf_counter(), time.time()
        try:
            with tracer.span(f"op.{kind}"):
                out = fn()
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            failed_ops[i] = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        el = time.perf_counter() - s0
        tracer.enabled = False
        rec = {"i": i, "kind": kind, "name": name, "s": el, "start": e0,
               "end": e0 + el, "traced": traced, "after": after}
        if traced:
            rec["py4j"] = tracer.py4j_calls - calls0
            rec["persisted_rdds"] = len(sc._jsc.getPersistentRDDs())
        spark.catalog.clearCache()
        if i not in failed_ops:
            samples.append(rec)
        results.append((kind, name, out))

    ops = wl.ops()
    w0 = time.perf_counter()
    deadline = w0 + args.seconds
    # the window lasts --seconds, and at least until the ops that every
    # run measures are done
    while time.perf_counter() < deadline or len(results) < MEASURED_OPS:
        # a traced run traces every other op; the rest give the baseline
        # for the tracing overhead
        run_op(*next(ops), traced=bool(args.trace) and len(results) % 2 == 0,
               after=False)
    window_s = time.perf_counter() - w0
    window = [s for s in samples if not s["after"]]
    for op in wl.after_window():
        run_op(*op, traced=bool(args.trace), after=True)
    if args.trace:
        sc.setJobGroup("perfbench-check", "output checks")

    jvm = sc._gateway.proc.pid if getattr(sc._gateway, "proc", None) else None
    peak_rss_mb = (_rss_kb("self") + (_rss_kb(jvm) if jvm else 0)) / 1024.0

    c0 = time.perf_counter()
    try:
        bad = wl.check(results)
    except Exception as exc:  # noqa: BLE001
        bad = {-1: f"check crashed: {type(exc).__name__}: {str(exc)[:300]}"}
    print(f"perfbench: setup {setup_s:.1f}s, window {window_s:.1f}s, "
          f"checks {time.perf_counter() - c0:.1f}s", file=sys.stderr)
    for i, why in list(failed_ops.items()) + list(bad.items()):
        print(f"perfbench: FAILED op {i}: {why}", file=sys.stderr)
    # a wrong final table counts as one failed op of its own
    failed = min(len(results), len(set(failed_ops) | {i for i in bad if i >= 0})
                 + sum(1 for i in bad if i < 0))

    if not window:
        _fail("no op completed in the timed window")
    detail = wl.detail(samples)
    detail.update(ops=len(results), window_s=window_s,
                  ops_per_s=len(window) / window_s,
                  ops_failed_ratio=failed / len(results))
    by_class: dict[str, list[float]] = {}
    for s in window:
        by_class.setdefault(wl.op_class(s["kind"]), []).append(s["s"])
    for c, lat in sorted(by_class.items()):
        t, q = tail(lat)
        detail[f"class.{c}"] = {"n": len(lat), "p50_s": percentile(lat, 50),
                                "geomean_s": geomean(lat), "tail_s": t,
                                "tail_q": q, "all_s": [round(x, 4) for x in lat]}
    # The latency metric covers the first MEASURED_OPS ops, the same
    # ops in every run: latency changes along the sequence (first runs
    # of a query pay codegen, the tx log grows), so a run that got
    # further would otherwise average over other ops.
    measured: dict[str, list[float]] = {}
    for s in window:
        if s["i"] < MEASURED_OPS:
            measured.setdefault(wl.op_class(s["kind"]), []).append(s["s"])
    if not measured:
        _fail(f"none of the first {MEASURED_OPS} ops completed")
    metrics = {
        "setup_s": setup_s,
        # typical op latency, each class of op weighted alike: unlike a
        # median it does not jump between the clusters of a mixed stream
        "op_geomean_s": geomean([geomean(v) for v in measured.values()]),
        "peak_rss_mb": peak_rss_mb,
    }
    if args.trace:
        import layers
        spark.stop()  # flushes the event log
        metrics = layers.report(tracer, ctx, samples, work, detail)
        result_metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                          for k, v in metrics.items()}
        os.makedirs(".perfbench_out", exist_ok=True)
        tracer.dump(os.path.join(
            ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
    else:
        result_metrics = {k: {"value": v, "unit": END_TO_END[k]}
                          for k, v in metrics.items()}
    result = {"correct": failed == 0,
              "attempted": len(results), "failed": failed,
              "metrics": result_metrics}
    return result, detail


if __name__ == "__main__":
    main()
