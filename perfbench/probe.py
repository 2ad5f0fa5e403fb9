"""Counters read from outside the program: Spark's status stores over
py4j, CPU and memory of the process tree from ``/proc``, and a box-load
control loop.

Nothing here imports the package under test.
"""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "peak_execution_memory_bytes": "peakExecutionMemory",
    "failed_tasks": "numFailedTasks",
}

# physical operators whose rows cross the JVM <-> Python-worker boundary
_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Per-job-group counters from the driver's AppStatusStore (works with
    ``spark.ui.enabled=false``). Read after each operation, so everything
    stays inside the store's default 1000-job/stage retention."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc
        self._scala_sc = self._jsc.sc()
        self._store = self._scala_sc.statusStore()
        self._tracker = self._jsc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0

    def drain(self) -> None:
        self._scala_sc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def stage_counters(self, job_ids: list[int]) -> dict[str, float]:
        """Counters over the last attempt of every stage the jobs ran, summed
        (peaks: the largest); skipped or evicted stages are counted, not read."""
        out = {k: 0 for k in STAGE_FIELDS}
        out.update(jobs=len(job_ids), stages=0, skipped_stages=0)
        sids: set[int] = set()
        for jid in job_ids:
            try:
                sids.update(int(s) for s in _seq(self._store.job(jid).stageIds()))
            except Exception:  # noqa: BLE001 — job evicted from the store
                continue
        for sid in sorted(sids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted
                out["skipped_stages"] += 1
                continue
            if sd.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            for key, getter in STAGE_FIELDS.items():
                v = int(getattr(sd, getter)())
                out[key] = max(out[key], v) if key.startswith("peak") else out[key] + v
        return out

    def python_rows(self, job_ids: set[int]) -> int:
        """Rows emitted by Python-UDF operators in SQL executions that ran
        any of ``job_ids``; only executions not yet seen are scanned."""
        total = 0
        n = int(self._sql.executionsCount())
        if n <= self._sql_seen:
            return 0
        for ex in _seq(self._sql.executionsList(self._sql_seen, n - self._sql_seen)):
            jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
            if not jobs & job_ids:
                continue
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                if not node.name().startswith(_PYTHON_NODES):
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", "") or 0)
        self._sql_seen = n
        return total

    def persistent_rdds(self) -> int:
        return int(self._jsc.getPersistentRDDs().size())

    def persisted_bytes(self) -> int:
        return sum(
            int(r.memSize()) + int(r.diskSize())
            for r in self._scala_sc.getRDDStorageInfo()
        )


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[int(d)] = (int(f[1]), comm, ticks, int(f[21]))
    return out


def tree(root: int | None = None) -> dict[int, tuple[int, str, int, int]]:
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
            todo.extend(kids.get(pid, []))
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU so far of the benchmark's process tree, split into the driver
    (this process), the JVM and the Python workers (python processes below
    the JVM). Reaped children are included through cutime/cstime."""
    me = os.getpid()
    procs = tree(me)
    total = sum(p[2] for p in procs.values())
    driver = procs[me][2] if me in procs else 0
    workers = sum(p[2] for pid, p in procs.items() if pid != me and p[1].startswith("python"))
    return {
        "total": total / _CLK,
        "driver": driver / _CLK,
        "python_workers": workers / _CLK,
        "jvm": (total - driver - workers) / _CLK,
    }


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of /proc/stat): co-tenant load on a VM."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def rss_bytes() -> int:
    return sum(p[3] for p in tree().values()) * _PAGE


def box_calibration() -> float:
    """Seconds for a fixed pure-Python + NumPy CPU loop: a co-tenant load
    control that shares no code with the package under test."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += (i * i) % 7
    a = np.arange(250_000, dtype=np.float64).reshape(500, 500) / 250_000
    for _ in range(4):
        a = (a @ a.T) / 500.0
    if acc < 0 or not np.isfinite(a).all():
        raise RuntimeError("calibration loop produced an impossible value")
    return time.perf_counter() - t0
