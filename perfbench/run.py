"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload window_state --seed 1 --seconds 10 --trace 0

Run it from the repository root.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans, writes them to
``.perfbench/traces/`` and reports the per-layer metrics instead.  All
payloads, checkpoints, sinks, fixtures and Spark temporary files live
under ``.perfbench/work/`` on the repository's own filesystem and are
deleted when the run ends.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("window_state", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


#: Seconds the session may take to stop before its JVM is killed.
STOP_TIMEOUT_S = 30


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait for each to end.  A stop that hangs is cut short by
    killing the JVM, so a run always ends."""
    from perfbench.instruments import jvm_pid, tree_pids

    gateway = spark.sparkContext._gateway
    pids = tree_pids(jvm_pid(spark))

    def stop() -> None:
        spark.stop()
        gateway.shutdown()

    stopper = threading.Thread(target=stop, daemon=True)
    stopper.start()
    stopper.join(STOP_TIMEOUT_S)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    run_id = uuid.uuid4().hex[:12]
    scratch = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{run_id}")
    # Spark's Python workers import iotstream from the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Half the usable CPUs run tasks; the rest are left to the driver
    # thread, the JVM's GC and compiler threads and the OS, so that the
    # run measures the program and not the scheduler.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    sys.path.insert(0, ROOT)

    spark = None
    try:
        os.makedirs(os.environ["TMPDIR"])
        import bench
        from perfbench import instruments as ins
        from perfbench.metrics import END_TO_END, PER_LAYER, UNITS
        from perfbench.spans import Recorder
        from perfbench.workloads import WORKLOADS, Context, span_layers

        host0 = bench._load_sample()
        t = time.perf_counter()
        spark = ins.make_session(scratch)
        session_s = time.perf_counter() - t
        listener = ins.ProgressListener()
        spark.streams.addListener(listener)
        rec = Recorder(run_id) if args.trace else None
        ctx = Context(spark, scratch, args.seed, args.seconds, rec, listener)
        outcome = WORKLOADS[args.workload](ctx)
        peak_mb = ins.peak_rss_mb(ins.jvm_pid(spark))
        host1 = bench._load_sample()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    if args.trace:
        values = {name: 0.0 for name, *_ in PER_LAYER}
        values.update(outcome.layer)
        values.update(span_layers(rec, ctx.trace_s))
        values["host.steal_ratio"] = ins.steal_ratio(host0, host1)
        values["host.load1_start"] = host0["loadavg"][0]
        values["host.session_start_s"] = session_s
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        rec.write(os.path.join(traces, f"{args.workload}-seed{args.seed}-{run_id}.jsonl"))
    else:
        values = {**outcome.e2e, "peak_rss_mb": peak_mb}
    names = [n for n, *_ in (PER_LAYER if args.trace else END_TO_END)]
    for msg in outcome.problems:
        print(f"check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not outcome.problems,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {n: {"value": float(values[n]), "unit": UNITS[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
