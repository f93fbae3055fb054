#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one operation at a time.

    python3 perfbench/run.py --workload daily_dag --seed 1 --seconds 20 --trace 0

Run it from the repository root. A run generates its inputs from ``--seed``,
starts a Spark session (``local[K]``, K = min(4, usable cores)), runs a fixed
number of warm-up iterations, then times iterations until ``--seconds`` have
passed (and at least ``MIN_TIMED``). The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import Tracer, attempt, calibrate  # noqa: E402

# Warm-up iterations before the timed ones. Measured on 4 cores: iteration 1
# costs 2.5-3.5x a warm one and iteration 2 about 1.2-1.4x; later ones are
# within about 10% of each other. A third warm-up did not make the medians
# steadier across runs, and each run must stay near a minute.
WARMUP = 2
MIN_TIMED = 3
DRIVER_MEMORY = "2g"


def _process_start() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


T_START = _process_start()


def _cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _session(work: str, cores: int, trace: bool):
    from switchback_test_dag_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="perfbench", cpus=cores, shuffle_partitions=cores,
                     driver_memory=DRIVER_MEMORY, extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark, the JVM and every process left under this one, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate below
                    proc.kill()
                    proc.wait(timeout=30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = harness.descendants()
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while harness.descendants() and time.time() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)
        if not harness.descendants():
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "switchback_test_dag_spark")):
        print(f"perfbench: package switchback_test_dag_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[wl.name]

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("data", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # the JVM inherits fd 2: its log lines (needed for the BlockManager
    # recompute count) go to a file, not the console
    log_path = os.path.join(work, "stderr.log")
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    # Python workers import the package: put the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    code = 1
    try:
        code = _run(args, wl, expected, work, log_path, W)
        return code
    finally:
        os.dup2(saved_err, 2)
        if code != 0:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, expected, work, log_path, W) -> int:
    import datagen

    t0 = time.time()
    tables, clusters = datagen.content()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(tables, data_dir, args.seed)
    t_inputs = time.time() - t0
    calib = [calibrate()]
    t_calib = time.time() - t0 - t_inputs

    cores = _cores()
    t1 = time.time()
    spark = _session(work, cores, bool(args.trace))
    start_s = time.time() - t1
    tracer = Tracer(False, run_id=f"{wl.name}-{args.seed}")
    ctx = W.Ctx(spark, data_dir, os.path.join(work, "tmp"), args.seed, tracer, clusters)
    probe = None
    if args.trace:
        from probe import Probe

        probe = Probe(spark, ctx, log_path)
    attempted = failed = 0
    fingerprints = set()
    rows = []  # (traced, wall_s, cpu_s)
    walls = []  # (wall, cpu) of every iteration, warm-ups included
    try:
        if wl.setup:
            wl.setup(ctx)
        cold_s = None
        n, t_timed = 0, None
        while True:
            warm = n < WARMUP
            if not warm and t_timed is None:
                t_timed = time.time()
            if not warm and n - WARMUP >= MIN_TIMED and \
                    time.time() - t_timed >= args.seconds:
                break
            traced = bool(args.trace) and not warm and (n - WARMUP) % 2 == 1
            tracer.enabled = traced
            attempted += 1
            if probe and traced:
                probe.before()
            a = attempt(wl.iterate, wl.check, ctx, expected)
            tracer.enabled = False
            if a.fingerprint:
                fingerprints.add(a.fingerprint)
            if a.error:
                print(f"perfbench: iteration {n} failed: {a.error}", flush=True)
            rdd_left = W.release(spark)
            if wl.after:
                wl.after(ctx)
            failed += not a.ok
            walls.append((round(a.wall_s, 3), round(a.cpu_s, 2)))
            if n == 0:
                cold_s = a.wall_s
            if not warm and a.ok:
                rows.append((traced, a.wall_s, a.cpu_s))
                if probe and traced:
                    probe.after(rdd_left)
            n += 1
        setup_s = t_timed - T_START - t_inputs - t_calib
        calib.append(calibrate())
        rss_peak = _jvm_rss_peak_mb()
    finally:
        if probe:
            probe.close()
        _stop(spark)

    if tracer.spans:
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench",
                                  f"trace-{wl.name}-seed{args.seed}.jsonl"))
    plain = [r for r in rows if not r[0]]
    diag = {
        "workload": wl.name, "seed": args.seed, "local": cores,
        "warmup": WARMUP, "timed": len(plain), "walls": walls,
        "fingerprints": sorted(fingerprints), "expected": expected,
        "host_calib_s": calib, "session_start_s": start_s,
    }
    print(json.dumps(diag))
    if not plain:
        print("perfbench: no iteration succeeded")
        return 1
    if args.trace:
        traced_rows = [r for r in rows if r[0]]
        metrics = probe.metrics(start_s, cold_s, calib, rss_peak)
        overhead = (statistics.median(r[1] for r in traced_rows)
                    - statistics.median(r[1] for r in plain)) if traced_rows else 0.0
        metrics["trace.overhead_s"] = (overhead, "s")
        selfs = probe.self_time_summary()
        print(json.dumps({"span_self_s": selfs}))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(r[1] for r in plain), "s"),
            "cpu_s": (statistics.median(r[2] for r in plain), "s"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _jvm_rss_peak_mb() -> float:
    """Peak resident set of the JVM under this process, read before it stops."""
    for pid in harness.descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return harness.vm_hwm_mb(pid)
        except OSError:
            continue
    return 0.0


if __name__ == "__main__":
    sys.exit(main())
