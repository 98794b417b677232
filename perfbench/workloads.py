"""The benchmark's workloads.  Each runs as a closed loop with one client.

``window_state``  the KSQL aggregate layer: payload JSON is parsed, given
                  event time and validity-filtered, then
                  ``windowed_agg_final_state`` runs update mode with a
                  finite watermark into its upsert sink, one payload file
                  per micro-batch; the merged upsert table is read back.
``catalog``       declared queries over seeded fixture tables, each built,
                  planned and executed into the noop sink.

A workload sets up, runs its timed section, reads its output back, and
checks the output against answers computed independently of the engine.
With tracing on it also records spans and reads the per-layer ledger.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import instruments as ins
from perfbench import loadgen
from perfbench.metrics import BATCH_PHASES, CATALOG_QUERIES, SPAN_KINDS
from perfbench.spans import Recorder, self_time_by_kind
from perfbench.stats import median

#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Timed forced reads of the output tables per run, after one untimed
#: read; ``table_read_s`` is their median.
READS = 7


@dataclass
class Context:
    spark: object
    scratch: str
    seed: int
    seconds: int
    rec: Recorder | None
    listener: ins.ProgressListener
    #: Seconds spent on tracing work inside timed sections.
    trace_s: float = 0.0


@dataclass
class Outcome:
    attempted: int
    failed: int
    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_times(read) -> list[float]:
    """One untimed ``read``, then the time of each of READS more."""
    read()
    return [_timed(read) for _ in range(READS)]


def _exec_layers(led: ins.JobLedger, n_events: int) -> dict[str, float]:
    return {
        "exec.s": led.busy_s(),
        "exec.jobs": led.jobs,
        "exec.stages": led.stages,
        "exec.tasks": led.tasks,
        "exec.task_cpu_ms": led.task_cpu_ms,
        "exec.gc_ms": led.gc_ms,
        "exec.scan_bytes": led.scan_bytes,
        "exec.shuffle_write_bytes": led.shuffle_write_bytes,
        "exec.cpu_us_per_event": led.task_cpu_ms * 1000.0 / max(n_events, 1),
    }


# --------------------------------------------------------- window_state

#: 10 000 sensors, each reporting every 2 s of event time (mqttgen's
#: pacing), 25 000 events per payload file and so per micro-batch.  Event
#: times lag their arrival order by up to 4 s.
WINDOW_SPEC = loadgen.LoadSpec(n_sensors=10000, events_per_file=25000, disorder_s=4)
#: Finite watermark: above the generator's disorder, so no event is late,
#: and short enough that windows close and leave the state store in a run.
WATERMARK = "10 seconds"
#: Micro-batch time with 2 task threads on a 4-vCPU host; sizes the
#: backlog so that the drain lasts about ``--seconds``.
NOMINAL_BATCH_S = 1.1
MIN_BATCHES = 8
#: Events in the one-file backlog each set-up drains.
SETUP_EVENTS = 5000
#: Full-size payload files an untimed drain runs through after the
#: set-ups, so that the timed drain starts with compiled code.
WARM_FILES = 2


def backlog_files(seconds: int) -> int:
    return max(MIN_BATCHES, round(seconds / NOMINAL_BATCH_S))


@contextlib.contextmanager
def _ephemeral_dirs_under(root: str, made: list[str]):
    """Place the drain's checkpoint and upsert-sink directories under
    ``root``: ``iotstream.streaming.ephemeral_dir`` otherwise prefers
    /dev/shm, outside the benchmark's working directory."""
    import iotstream.streaming as streaming

    original = streaming.ephemeral_dir

    def under_root(prefix: str) -> str:
        made.append(tempfile.mkdtemp(prefix=prefix, dir=root))
        return made[-1]

    streaming.ephemeral_dir = under_root
    try:
        yield
    finally:
        streaming.ephemeral_dir = original


def _stream_layers(ctx: Context, progress: list[dict], t0: float, t1: float,
                   jobs: list[int], n_events: int) -> dict[str, float]:
    """Per-layer metrics and spans of the timed drain."""
    out: dict[str, float] = {}
    for phase, suffix in BATCH_PHASES:
        key = "sinks.add_batch_ms" if suffix == "add_batch" else f"streaming.{suffix}_ms"
        out[key] = float(sum(p["durationMs"].get(phase, 0) for p in progress))
    out["streaming.batches"] = len(progress)
    ops = [op for p in progress for op in p["stateOperators"]]
    out["state.rows_total"] = sum(op["numRowsTotal"] for op in progress[-1]["stateOperators"])
    out["state.rows_updated"] = sum(op["numRowsUpdated"] for op in ops)
    out["state.rows_removed"] = sum(op["numRowsRemoved"] for op in ops)
    out["state.commit_ms"] = sum(op["commitTimeMs"] for op in ops)
    out["state.update_ms"] = sum(op["allUpdatesTimeMs"] for op in ops)
    out["state.removal_ms"] = sum(op["allRemovalsTimeMs"] for op in ops)
    out["state.memory_bytes"] = max(op["memoryUsedBytes"] for op in ops)
    out["state.rows_dropped_by_watermark"] = sum(op["numRowsDroppedByWatermark"] for op in ops)
    # Every job of the drain runs inside addBatch: the aggregation and
    # the upsert append are one foreachBatch write per micro-batch.
    led = ins.job_ledger(ctx.spark, jobs)
    out["sinks.jobs"] = led.jobs
    out.update(_exec_layers(led, n_events))

    rec = ctx.rec
    run = rec.add("run", "drain", t0, t1, None)
    first = ins.progress_start(progress[0])
    rec.add("query_start", "start", t0, first, run)
    end = first
    for p in progress:
        b0 = ins.progress_start(p)
        b1 = b0 + p["durationMs"]["triggerExecution"] / 1000.0
        batch = rec.add("batch", str(p["batchId"]), b0, b1, run)
        # durationMs gives each phase's length; lay them out in the order
        # the micro-batch runs them.
        cursor, add_batch = b0, batch
        for phase, suffix in BATCH_PHASES:
            d = p["durationMs"].get(phase, 0) / 1000.0
            i = rec.add(suffix, phase, cursor, cursor + d, batch)
            add_batch = i if suffix == "add_batch" else add_batch
            cursor += d
        for jid, j0, j1 in led.intervals:
            if b0 <= j0 < b1:
                rec.add("job", str(jid), j0, j1, add_batch)
        end = max(end, b1)
    rec.add("query_stop", "stop", end, t1, run)
    return out


def run_window_state(ctx: Context) -> Outcome:
    from iotstream.operators.filters import validity_filter
    from iotstream.operators.parse import parse_sensor_json
    from iotstream.schemas import normalize_event_time
    from iotstream.streaming import windowed_agg_final_state

    spark = ctx.spark
    per_file = WINDOW_SPEC.events_per_file
    ev = loadgen.generate(ctx.seed, WINDOW_SPEC, backlog_files(ctx.seconds) * per_file)
    work = os.path.join(ctx.scratch, "window_state")
    payloads = os.path.join(work, "payloads")
    loadgen.write_backlog(ev, payloads, per_file)
    warm = os.path.join(work, "setup-payloads")
    loadgen.write_backlog(loadgen.head(ev, SETUP_EVENTS), warm, SETUP_EVENTS)
    jit = os.path.join(work, "warm-payloads")
    loadgen.write_backlog(loadgen.head(ev, WARM_FILES * per_file), jit, per_file)

    def aggregate(payload_dir: str, made: list[str]):
        source = spark.readStream.option("maxFilesPerTrigger", 1).text(payload_dir)
        events = validity_filter(normalize_event_time(parse_sensor_json(source)))
        with _ephemeral_dirs_under(work, made):
            return windowed_agg_final_state(
                spark, events, "ts", ["id"], F.col("metrics.temperature"),
                width="1 minute", watermark=WATERMARK,
            )

    setups = [_timed(lambda: aggregate(warm, [])) for _ in range(SETUPS)]
    aggregate(jit, [])

    ins.drain_listener_bus(spark)
    ctx.listener.take()  # the set-up queries' progress
    job0 = ins.last_job_id(spark)
    made: list[str] = []
    t0 = time.time()
    table = aggregate(payloads, made)
    t1 = time.time()
    ins.drain_listener_bus(spark)
    progress = ctx.listener.take()
    jobs = list(range(job0 + 1, ins.last_job_id(spark) + 1))

    reads = _read_times(lambda: _force(table))
    problems = _check_windows(table, loadgen.expected_windows(ev))
    read_rows = sum(p["numInputRows"] for p in progress)
    if read_rows != len(ev):
        problems.append(f"the stream read {read_rows} events, expected {len(ev)}")
    dropped = sum(op["numRowsDroppedByWatermark"] for p in progress for op in p["stateOperators"])
    if dropped:
        problems.append(f"{dropped} rows dropped by the watermark")

    layers: dict[str, float] = {}
    if ctx.rec is not None:
        layers = _stream_layers(ctx, progress, t0, t1, jobs, len(ev))
        sink = next(d for d in made if os.path.basename(d).startswith("iotstream-upsert-"))
        files = [
            os.path.join(r, f) for r, _, fs in os.walk(sink) for f in fs if f.endswith(".parquet")
        ]
        layers["sinks.output_files"] = len(files)
        layers["sinks.output_bytes"] = sum(os.path.getsize(f) for f in files)
        layers["sinks.upsert_log_rows"] = spark.read.parquet(sink).count()
    lat = [float(p["durationMs"]["triggerExecution"]) for p in progress if p["numInputRows"]]
    return Outcome(
        attempted=len(lat),
        failed=len(lat) if problems else 0,
        e2e={
            "events_per_s": len(ev) / (t1 - t0),
            "batch_p50_ms": median(lat),
            "table_read_s": median(reads),
            "setup_s": median(setups),
        },
        layer=layers,
        problems=problems,
    )


def _check_windows(table, expected: dict) -> list[str]:
    rows = table.select(
        F.unix_timestamp("window_start").alias("w"), "id",
        "max_temperature", "min_temperature", "avg_temperature",
    ).collect()
    got = {(r.w, r.id): (r.max_temperature, r.min_temperature, r.avg_temperature) for r in rows}
    if len(got) != len(rows):
        return [f"merged table has {len(rows) - len(got)} duplicate keys"]
    if got == expected:
        return []
    missing = len(expected.keys() - got.keys())
    extra = len(got.keys() - expected.keys())
    wrong = sum(1 for k in expected.keys() & got.keys() if got[k] != expected[k])
    return [f"merged table: {missing} missing, {extra} extra, {wrong} wrong of {len(expected)}"]


# -------------------------------------------------------------- catalog

#: Multiple of the smallest fixture scale the catalog tables are written at.
FIXTURE_SCALE = 1
#: Pass time with 2 task threads on a 4-vCPU host; sets the number of
#: timed passes.
NOMINAL_PASS_S = 7.0
#: Timed passes at least; the first still warms the session, and medians
#: over three or more passes set it aside.
MIN_PASSES = 3


def _oracle_problems(con, name: str, sdf, oracles: dict) -> list[str]:
    """Compare one query's rows with its DuckDB twin, or check that it
    returns rows when it has none."""
    from tools.check_oracle import frame_key

    rows = sdf.collect()
    if name not in oracles:
        return [] if rows else [f"{name}: no rows"]
    res = con.sql(oracles[name])
    orows = res.fetchall()
    if frame_key(sdf.columns, rows) != frame_key([d[0] for d in res.description], orows):
        return [f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}"]
    return []


def run_catalog(ctx: Context) -> Outcome:
    import duckdb
    import numpy as np

    import __spark_entry__ as entry
    from iotstream.schemas import FIXTURE_TABLES, load_table, table_path
    from perfbench.fixtures import write_fixtures

    spark, rec = ctx.spark, ctx.rec
    sc = spark.sparkContext
    fixtures = os.path.join(ctx.scratch, "catalog")
    n_rows = write_fixtures(ctx.seed, FIXTURE_SCALE, fixtures)
    declared = entry._declared_queries()
    oracles = entry.oracle_sql()

    tables: list = []

    def load_all() -> None:
        tables[:] = [load_table(spark, fixtures, t) for t in FIXTURE_TABLES]

    setups = [_timed(load_all) for _ in range(SETUPS)]

    # Untimed first pass: warms the session and checks every answer.
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(ctx.scratch, 'duckdb')}'")
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(fixtures, t)}'")
    problems = {
        name: _oracle_problems(con, name, declared[name](spark, fixtures), oracles)
        for name in CATALOG_QUERIES
    }
    con.close()

    passes = max(MIN_PASSES, round(ctx.seconds / NOMINAL_PASS_S))
    pass_s: list[float] = []
    times: dict[str, list[float]] = {q: [] for q in CATALOG_QUERIES}
    groups: list[tuple[int, str, str]] = []  # (span, phase, job group)
    catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}

    @contextlib.contextmanager
    def phase(kind: str, label: str, parent: int | None):
        """One traced phase: a span, and a job group naming its jobs."""
        if rec is None:
            yield
            return
        x = time.perf_counter()
        group = f"{rec.run_id}/{label}/{kind}"
        sc.setJobGroup(group, group)
        ctx.trace_s += time.perf_counter() - x
        with rec.span(kind, label, parent) as span:
            groups.append((span, kind, group))
            yield

    rng = np.random.default_rng(ctx.seed)
    build_s = 0.0
    t0 = time.time()
    run = rec.add("run", "passes", t0, 0.0, None) if rec else None
    for p in range(passes):
        p0 = time.perf_counter()
        for name in rng.permutation(CATALOG_QUERIES).tolist():
            qspan = rec.add("query", name, time.time(), 0.0, run) if rec else None
            label = f"{p}/{name}"
            q0 = time.perf_counter()
            with phase("build", label, qspan):
                df = declared[name](spark, fixtures)
            q1 = time.perf_counter()
            with phase("plan", label, qspan):
                df._jdf.queryExecution().executedPlan()
            with phase("execute", label, qspan):
                _force(df)
            q2 = time.perf_counter()
            build_s += q1 - q0
            times[name].append(q2 - q0)
            if rec:
                x = time.perf_counter()
                rec.spans[qspan].end = time.time()
                for k, v in ins.catalyst_phases_ms(df).items():
                    catalyst[k] += v
                ctx.trace_s += time.perf_counter() - x
        pass_s.append(time.perf_counter() - p0)
    t1 = time.time()
    if rec:
        rec.spans[run].end = t1
        sc._jsc.clearJobGroup()

    reads = _read_times(lambda: [_force(df) for df in tables])
    per_query = {q: median(v) for q, v in times.items()}
    layers: dict[str, float] = {}
    if rec:
        ins.drain_listener_bus(spark)
        by_group = {g: ins.job_ids_for_group(spark, g) for _, _, g in groups}
        build_jobs = [j for _, k, g in groups if k == "build" for j in by_group[g]]
        exec_jobs = [j for _, k, g in groups if k != "build" for j in by_group[g]]
        led = ins.job_ledger(spark, exec_jobs)
        when = {jid: (j0, j1) for jid, j0, j1 in ins.job_ledger(spark, build_jobs).intervals}
        when.update({jid: (j0, j1) for jid, j0, j1 in led.intervals})
        for span, _, g in groups:
            for jid in by_group[g]:
                rec.add("job", str(jid), *when[jid], span)
        layers.update(_exec_layers(led, n_rows * passes))
        layers["build.s"] = build_s
        layers["build.jobs"] = len(build_jobs)
        for k, v in catalyst.items():
            layers[f"catalyst.{k}_ms"] = v
        for q, v in per_query.items():
            layers[f"query.{q}_s"] = v
    failed_queries = [q for q, msgs in problems.items() if msgs]
    return Outcome(
        attempted=(passes + 1) * len(CATALOG_QUERIES),
        failed=(passes + 1) * len(failed_queries),
        e2e={
            # Fixture rows per second of the median pass: every pass reads
            # the same tables, so this is the pass rate at a stated input
            # size.
            "events_per_s": n_rows / median(pass_s),
            "batch_p50_ms": statistics.median(per_query.values()) * 1000.0,
            "table_read_s": median(reads),
            "setup_s": median(setups),
        },
        layer=layers,
        problems=[m for msgs in problems.values() for m in msgs],
    )


WORKLOADS = {
    "window_state": run_window_state,
    "catalog": run_catalog,
}


def span_layers(rec: Recorder, trace_s: float) -> dict[str, float]:
    """Self time per span kind, the share of the timed wall that named
    spans cover, and the tracing overhead inside timed sections."""
    selfs = self_time_by_kind(rec.spans)
    out = {f"self.{k}_s": selfs.get(k, 0.0) for k in SPAN_KINDS}
    wall = sum(s.end - s.start for s in rec.spans if s.kind == "run")
    out["trace.coverage_ratio"] = 1.0 - selfs.get("run", 0.0) / wall
    out["trace.overhead_ratio"] = trace_s / wall
    return out
