"""Instruments the benchmark reads from outside the program.

Everything here uses Spark's public surfaces: a StreamingQueryListener for
micro-batch progress, ``QueryExecution.tracker()`` for Catalyst phases,
and the application status store (``statusTracker`` job groups and
``statusStore``) for jobs, stages and task metrics.  Host noise comes from
``bench._load_sample`` and ``bench.window_steal_ratio``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from dataclasses import dataclass, field

import bench
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.spans import covered

#: Driver heap for the benchmark session; the record session's default
#: (48g) does not fit a small box.
DRIVER_MEMORY = "2g"
#: Fixed young generation.  G1 otherwise resizes the young generation
#: after each pause to meet its pause-time goal, and grows the heap when
#: collections take long, so the heap's high-water mark, and with it
#: ``peak_rss_mb``, would follow host noise rather than what the program
#: keeps live.  The initial heap is the whole heap for the same reason:
#: pages are resident only once the program touches them.
YOUNG_GEN = "400m"


def make_session(scratch: str):
    """The record session (``bench._session``) with every temporary
    file of Spark and the JVM kept under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEMORY)
    return bench._session(
        os.environ["SPARK_GRAFT_CPUS"],
        {
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Xms{os.environ['SPARK_DRIVER_MEM']} -Xmn{YOUNG_GEN} "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # Keep every job and stage of a run in the status store.
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
        app="iotstream-perfbench",
    )


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


# --------------------------------------------------------------- streaming


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report.  Reports reach the
    listener asynchronously: drain the listener bus before ``take``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        """The reports collected since the last call, in start order."""
        with self._lock:
            out, self._progress = self._progress, []
        return sorted(out, key=lambda p: (p["timestamp"], p["batchId"]))


def progress_start(p: dict) -> float:
    """Epoch seconds at which a micro-batch started."""
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------ status store


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def last_job_id(spark) -> int:
    """Highest job id the status store has seen (-1 before any job).
    Drain the listener bus first for an exact boundary."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return int(jobs.head().jobId()) if jobs.nonEmpty() else -1


def job_ids_for_group(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@dataclass
class JobLedger:
    """Work the listed Spark jobs did, from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    intervals: list[tuple[int, float, float]] = field(default_factory=list)

    def busy_s(self) -> float:
        """Wall time during which at least one of the jobs ran."""
        if not self.intervals:
            return 0.0
        spans = [(a, b) for _, a, b in self.intervals]
        return covered(min(a for a, _ in spans), max(b for _, b in spans), spans)


def _epoch_s(opt_date) -> float:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else 0.0


def job_ledger(spark, job_ids: list[int]) -> JobLedger:
    store = spark.sparkContext._jsc.sc().statusStore()
    led = JobLedger()
    seen_stages: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        led.jobs += 1
        led.intervals.append(
            (jid, _epoch_s(job.submissionTime()), _epoch_s(job.completionTime()))
        )
        ids = job.stageIds().mkString(",")
        for sid in (int(s) for s in ids.split(",") if s):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            led.stages += 1
            led.tasks += int(st.numCompleteTasks())
            led.task_cpu_ms += st.executorCpuTime() / 1e6
            led.gc_ms += float(st.jvmGcTime())
            led.scan_bytes += int(st.inputBytes())
            led.shuffle_write_bytes += int(st.shuffleWriteBytes())
    return led


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s query
    execution, from its phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ----------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _peak_rss_kb(pid: int) -> int:
    """Peak resident memory (VmHWM) of one live process."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident memory of ``root`` (the JVM) and each of
    its live descendants (the Python workers), in MiB."""
    return sum(_peak_rss_kb(pid) for pid in tree_pids(root)) / 1024.0


# -------------------------------------------------------------- host noise


def steal_ratio(s0: dict, s1: dict) -> float:
    """Hypervisor steal as a share of machine cycles between two
    samples (-1 when unmeasurable)."""
    return bench.window_steal_ratio(
        {"mono0": s0["mono"], "steal0": s0["steal_jiffies"],
         "mono1": s1["mono"], "steal1": s1["steal_jiffies"]},
        bench._tick_hz(),
        bench._proc_cpus(),
    )
