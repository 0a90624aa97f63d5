"""Measurement helpers shared by the workloads: host noise and
process-tree CPU from /proc, per-op Spark counters from the status
store, and an in-memory span recorder for traced runs."""

from __future__ import annotations

import functools
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc


def host_cpu() -> dict:
    """Aggregate CPU jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return {"total": sum(vals[:8]), "idle": idle, "steal": steal}


def host_noise(before: dict, after: dict, wall_s: float) -> dict:
    """Steal seconds and busy CPUs over a section, from two
    :func:`host_cpu` snapshots, plus the 1-minute load average."""
    d_total = max(after["total"] - before["total"], 1)
    ncpu = os.cpu_count() or 1
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "steal_s": (after["steal"] - before["steal"]) / CLK_TCK,
        "steal_share": (after["steal"] - before["steal"]) / d_total,
        "busy_cpus": ncpu * (1 - (after["idle"] - before["idle"]) / d_total),
        "loadavg_1m": load1,
        "wall_s": wall_s,
    }


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies, comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.find("(") + 1 : s.rfind(")")]
        r = s[s.rfind(")") + 2 :].split()
        out[int(d)] = (int(r[1]), sum(int(x) for x in r[11:15]), comm)
    return out


def descendants(root: int | None = None) -> dict[int, tuple[int, int, str]]:
    """This process and every process below it."""
    root = root or os.getpid()
    table = _proc_table()
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in table.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {p: table[p] for p in keep if p in table}


def tree_cpu_s() -> float:
    """CPU seconds of the whole process tree: the benchmark, the
    Spark driver JVM and the Python workers (reaped children fold
    into their parent's cutime/cstime)."""
    return sum(v[1] for v in descendants().values()) / CLK_TCK


def jvm_peak_rss_mb() -> float:
    best = 0.0
    for pid, (_, _, comm) in descendants().items():
        if comm != "java":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
        except OSError:
            pass
    return best


def dir_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path``, counting names ending in
    ``suffix``; Hadoop checksum side files are skipped."""
    n = size = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".crc") or not fn.endswith(suffix):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dp, fn))
    return n, size


# ----------------------------------------------------- Spark status store


class SparkCounters:
    """Per-section job/stage counters read from the Spark driver's
    ``AppStatusStore`` (present with the UI off). Stage and job ids
    grow monotonically, so a section is the id range between two
    :meth:`mark` calls."""

    STAGE_FIELDS = (
        ("exec_cpu_s", "executorCpuTime", 1e-9),
        ("exec_run_s", "executorRunTime", 1e-3),
        ("gc_s", "jvmGcTime", 1e-3),
        ("input_bytes", "inputBytes", 1),
        ("output_bytes", "outputBytes", 1),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("shuffle_read_bytes", "shuffleReadBytes", 1),
        ("memory_spill_bytes", "memoryBytesSpilled", 1),
        ("disk_spill_bytes", "diskBytesSpilled", 1),
        ("input_records", "inputRecords", 1),
        ("tasks", "numCompleteTasks", 1),
    )

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()

    def drain(self) -> None:
        """Block until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _store(self):
        return self.jsc.statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id) at this moment."""
        self.drain()
        st = self._store()
        jobs = st.jobsList(None)
        stages = self._stage_list(st)
        next_job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1
        next_stage = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1) + 1
        return next_job, next_stage

    def _stage_list(self, st):
        jvm = self.spark._jvm
        empty_q = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        return st.stageList(None, False, False, empty_q, jvm.java.util.ArrayList())

    def collect(self, start: tuple[int, int], fields=None) -> dict:
        """Totals over jobs/stages with ids at or past ``start``.
        ``fields`` limits the stage fields read (each is a py4j call
        per stage); default all. Job spans are returned as epoch-ms
        intervals for driver-time accounting."""
        self.drain()
        st = self._store()
        wanted = [f for f in self.STAGE_FIELDS if fields is None or f[0] in fields]
        tot = {f[0]: 0.0 for f in wanted}
        tot["stages"] = 0
        stages = self._stage_list(st)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() < start[1] or s.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            for key, attr, scale in wanted:
                tot[key] += getattr(s, attr)() * scale
        jobs = st.jobsList(None)
        spans = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < start[0]:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
        tot["jobs"] = len(spans)
        tot["job_spans_ms"] = spans
        return tot


def uncovered_s(windows_ms: list[tuple[float, float]], spans_ms) -> float:
    """Seconds of the op windows not covered by any job span: the
    driver's own time (analysis, planning, dispatch, commit work)."""
    spans = sorted(spans_ms)
    total = 0.0
    for a, b in windows_ms:
        covered, cur = 0.0, a
        for s, e in spans:
            s, e = max(s, cur), min(e, b)
            if e > s:
                covered += e - s
                cur = e
        total += (b - a) - covered
    return total / 1000.0


# ------------------------------------------------------------------ spans


class Spans:
    """Spans kept in memory: (name, start, end) in perf_counter
    seconds. :meth:`wrap` replaces ``owner.attr`` with a timing
    wrapper; :meth:`restore` puts every original back."""

    def __init__(self):
        self.records: list[tuple[str, float, float]] = []
        self._patched: list[tuple[object, str, bool, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        own = vars(owner)
        self._patched.append((owner, attr, attr in own, own.get(attr)))
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.records.append((name, t0, time.perf_counter()))

        setattr(owner, attr, timed)

    def restore(self) -> None:
        for owner, attr, had_own, prev in reversed(self._patched):
            if had_own:
                setattr(owner, attr, prev)
            else:  # an instance attribute shadowing its class method
                delattr(owner, attr)
        self._patched.clear()

    def total(self, name: str, since: float) -> float:
        """Seconds spent in ``name`` spans that started at or after
        ``since``."""
        return sum(e - s for n, s, e in self.records if n == name and s >= since)
