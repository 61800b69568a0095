"""Measurements taken from outside the engine.

- ``ProcTree``: CPU, storage writes and peak memory of this process and
  every descendant (the Spark JVM and its Python workers), read from
  ``/proc``. CPU counts user+sys plus ``cutime``/``cstime``, so workers
  that already exited and were reaped still count.
- ``SparkStats``: per job group, the jobs, stages and task metrics Spark's
  status store holds, and the Python-worker SQL metrics of the executions
  those jobs belong to.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    head, _, rest = s.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def process_start_s() -> float:
    """Seconds since this process started (CLOCK_BOOTTIME based)."""
    import time

    f = _stat_fields(os.getpid())
    started = int(f[20]) / _TICK  # field 22, starttime, in ticks since boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


class ProcTree:
    """Samples the process tree rooted at this process."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_kb: dict[int, int] = {}
        self.roles: dict[int, str] = {}

    def _tree(self) -> dict[int, list[str]]:
        children: dict[int, list[int]] = {}
        stats: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is None:
                continue
            stats[int(name)] = f
            children.setdefault(int(f[2]), []).append(int(name))
        out = {}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def _role(self, pid: int, f: list[str]) -> str:
        if pid == self.root:
            return "driver"
        return "jvm" if f[0] == "java" else "pyworker"

    def sample(self) -> dict[str, float]:
        """CPU seconds per role (driver/jvm/pyworker) and bytes written,
        cumulative since each process started."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "write_bytes": 0.0}
        for pid, f in self._tree().items():
            # utime, stime, cutime, cstime are fields 14-17
            cpu = sum(int(x) for x in f[12:16]) / _TICK
            out[self._role(pid, f)] += cpu
            io = _read(f"/proc/{pid}/io")
            if io:
                for line in io.splitlines():
                    if line.startswith("write_bytes:"):
                        out["write_bytes"] += int(line.split()[1])
        return out

    def note_peak(self) -> None:
        """Record each live process's high-water resident set."""
        for pid, f in self._tree().items():
            self.roles[pid] = self._role(pid, f)
            st = _read(f"/proc/{pid}/status")
            if not st:
                continue
            for line in st.splitlines():
                if line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
                    self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def peak_mb(self, role: str | None = None) -> float:
        """Summed high-water resident sets, of one role or of all."""
        kb = (v for pid, v in self.peak_kb.items() if role in (None, self.roles[pid]))
        return sum(kb) / 1024.0


    def wait_for_children(self, timeout: float) -> None:
        """Wait until no descendant is left; kill what outlives ``timeout``."""
        import signal
        import time

        end = time.monotonic() + timeout
        while True:
            left = [p for p in self._tree() if p != self.root]
            if not left:
                return
            if time.monotonic() > end:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                end = time.monotonic() + timeout
            time.sleep(0.1)


def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


class SparkStats:
    """Reads Spark's status tracker and status stores for one job group."""

    STAGE_FIELDS = {
        "tasks": "numTasks",
        "executor_run_s": "executorRunTime",
        "executor_cpu_s": "executorCpuTime",
        "gc_s": "jvmGcTime",
        "input_mb": "inputBytes",
        "shuffle_read_mb": "shuffleReadBytes",
        "shuffle_write_mb": "shuffleWriteBytes",
        "spill_mb": "diskBytesSpilled",
    }
    SCALE = {
        "executor_run_s": 1e-3,  # ms
        "executor_cpu_s": 1e-9,  # ns
        "gc_s": 1e-3,  # ms
        "input_mb": 2**-20,
        "shuffle_read_mb": 2**-20,
        "shuffle_write_mb": 2**-20,
        "spill_mb": 2**-20,
    }
    # Python-worker SQL metrics (ns totals) by their display names
    PY_METRICS = {
        "time to start Python workers": "python_start_s",
        "time to initialize Python workers": "python_init_s",
        "time to run Python workers": "python_run_s",
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def group(self, group_id: str) -> dict[str, float]:
        """Totals over every job of ``group_id``."""
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            ["jobs", "stages", "stages_skipped", *self.STAGE_FIELDS], 0.0
        )
        job_ids = list(tracker.getJobIdsForGroup(group_id))
        out["jobs"] = float(len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: a stage that never ran has no attempt
                out["stages_skipped"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            for name, getter in self.STAGE_FIELDS.items():
                out[name] += float(getattr(st, getter)()) * self.SCALE.get(name, 1.0)
        out.update(self.python_metrics(set(job_ids)))
        return out

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python-worker start/init/run seconds of the SQL executions that
        ran any of ``job_ids``."""
        out = dict.fromkeys(self.PY_METRICS.values(), 0.0)
        if not job_ids:
            return out
        execs = self.sql_store.executionsList()
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            jobs_it = ex.jobs().keys().iterator()
            ex_jobs = set()
            while jobs_it.hasNext():
                ex_jobs.add(int(jobs_it.next()))
            if not (ex_jobs & job_ids):
                continue
            names = {}
            m_it = ex.metrics().iterator()
            while m_it.hasNext():
                m = m_it.next()
                key = self.PY_METRICS.get(m.name())
                if key:
                    names[int(m.accumulatorId())] = key
            if not names:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc, key in names.items():
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _parse_total_s(v.get())
        return out


def _parse_total_s(text: str) -> float:
    """Seconds from a formatted SQL timing metric ("total (min, med, max
    (stageId: taskId))\\n1.2 s (...)" or a bare "1.2 s")."""
    line = text.strip().splitlines()[-1].strip() if text.strip() else ""
    token = line.split("(")[0].strip()
    units = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    parts = token.split()
    if len(parts) != 2 or parts[1] not in units:
        return 0.0
    try:
        return float(parts[0].replace(",", "")) * units[parts[1]]
    except ValueError:
        return 0.0
