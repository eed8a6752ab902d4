"""Measurement plumbing shared by every workload.

* ``Env``: the run's working directory, Spark log capture and the host
  and configuration stamp.
* ``RssSampler``: peak resident memory (PSS) of the driver JVM plus
  every process under it (the Python workers), read from ``/proc``.
* ``SparkCounters``: per-job-group task counters read from Spark's
  status store (executor run/CPU/GC time, spill, shuffle and input
  bytes, task count and task-time skew).
* ``Tracer``: in-memory spans (name, start, end, parent, run id) around
  calls into the program's layers, written out when the run ends.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import threading
import time

from py4j.protocol import Py4JJavaError

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pcornet_data_curation_spark"
MB = 1024.0 * 1024.0


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / MB


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """Driver heap: an eighth of the host's memory, at most 2 GiB. Large
    enough for these inputs; small enough to leave the host room."""
    return min(2048, mem_total_mb() // 8)


def source_sha() -> str:
    """Content hash of the package sources: identifies the program
    version even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies by state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings (field 8 of the cpu line)."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


_WARN_RE = re.compile(r"^\S+ \S+ WARN (\S+?):")


def warn_lines(log_path: str) -> dict[str, int]:
    """WARN line counts by logger in a captured Spark log."""
    counts: collections.Counter = collections.Counter()
    with open(log_path, errors="replace") as f:
        for line in f:
            m = _WARN_RE.match(line)
            if m:
                counts[m.group(1)] += 1
    return dict(sorted(counts.items()))


class Env:
    """Working directory and process environment of one benchmark run.

    Everything the run writes (Spark temp files, inputs, outputs, the
    Spark log, spans) lands under ``<checkout>/.curbench_out/<tag>``.
    Spark's log is captured by pointing file descriptor 2 at a file
    before the JVM starts; ``restore_stderr`` points it back."""

    def __init__(self, tag: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(ROOT, ".curbench_out", tag)
        self.data = os.path.join(self.dir, "data")
        self.log_path = os.path.join(self.dir, "spark.log")
        os.makedirs(self.data, exist_ok=True)
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # every JVM spark-submit starts (its launcher too): temp files in
        # the run directory, no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEM"] = f"{driver_memory_mb()}m"
        self.load_start = os.getloadavg()[0]
        sys.stdout.flush()
        sys.stderr.flush()
        self._saved_fd = os.dup(2)
        log_fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(log_fd, 2)
        os.close(log_fd)

    def restore_stderr(self) -> None:
        sys.stderr.flush()
        os.dup2(self._saved_fd, 2)

    def stamp(self, spark, workload: str, trace: bool) -> dict:
        conf = spark.sparkContext.getConf()
        return {
            "workload": workload,
            "seed": self.seed,
            "trace": trace,
            "nproc": cores(),
            "mem_total_mb": mem_total_mb(),
            "load1_start": round(self.load_start, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "spark_version": spark.version,
            "master": spark.sparkContext.master,
            "driver_memory": conf.get("spark.driver.memory"),
            "git_commit": git_commit(),
            "source_sha": source_sha(),
            "python": sys.version.split()[0],
        }

    def spark_session(self, app_name: str):
        from pcornet_data_curation_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        return get_spark(
            app_name=app_name,
            cores=cores(),
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            },
        )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory of one process: pages it shares
    (the forked Python workers share the daemon's preloaded modules)
    are split between the sharers instead of counted once per process."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_mb(root_pid: int) -> tuple[float, float]:
    """Resident memory (PSS) of ``root_pid`` and of all its descendants."""
    kids = _children()
    try:
        root = _pss_bytes(root_pid)
    except OSError:  # the process has ended
        return 0.0, 0.0
    rest, stack = 0, list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        try:
            rest += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            continue
        stack.extend(kids.get(pid, ()))
    return root / MB, rest / MB


class RssSampler:
    """Samples the JVM process tree every ``period`` seconds while
    active. ``peak_mb`` is the largest sum seen; ``peak_jvm_mb`` and
    ``peak_workers_mb`` the largest of each part."""

    def __init__(self, spark, period: float = 0.1):
        self.pid = spark.sparkContext._gateway.proc.pid
        self.period = period
        self.peak_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        jvm, workers = tree_rss_mb(self.pid)
        self.peak_mb = max(self.peak_mb, jvm + workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


class SparkCounters:
    """Task counters of the jobs launched under one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._n = 0

    def new_group(self, name: str) -> str:
        self._n += 1
        group = f"curbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name, False)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, group: str, skew: bool = False) -> dict:
        """Sums over every stage attempt the group's jobs ran. With
        ``skew``, also max/median task run time of the group's widest
        stage (the one with most tasks)."""
        jobs = self.jobs(group)
        stage_ids = set()
        for jid in jobs:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        t = collections.Counter()
        widest = None
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store or never run
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            t["run_ms"] += sd.executorRunTime()
            t["cpu_ns"] += sd.executorCpuTime()
            t["gc_ms"] += sd.jvmGcTime()
            t["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t["tasks"] += sd.numCompleteTasks()
            t["input_b"] += sd.inputBytes()
            t["output_b"] += sd.outputBytes()
            t["shuffle_w_b"] += sd.shuffleWriteBytes()
            t["shuffle_r_b"] += sd.shuffleReadBytes()
            if widest is None or sd.numTasks() > widest[1]:
                widest = (sid, sd.numTasks(), sd.attemptId())
        out = {
            "jobs": len(jobs),
            "cpu_s": t["cpu_ns"] / 1e9,
            "wait_s": max(t["run_ms"] / 1e3 - t["cpu_ns"] / 1e9, 0.0),
            "gc_s": t["gc_ms"] / 1e3,
            "spill_mb": t["spill_b"] / MB,
            "tasks": t["tasks"],
            "read_mb": t["input_b"] / MB,
            "write_mb": t["output_b"] / MB,
            "shuffle_mb": t["shuffle_w_b"] / MB,
        }
        if skew and widest is not None:
            tasks = self.store.taskList(widest[0], widest[2], widest[1])
            times = sorted(tasks.apply(i).taskMetrics().get().executorRunTime()
                           for i in range(tasks.size())
                           if tasks.apply(i).taskMetrics().isDefined())
            if times:
                med = times[len(times) // 2]
                out["task_skew"] = times[-1] / med if med > 0 else float(times[-1] > 0)
        return out


class Tracer:
    """Spans kept in memory and written out at the end of the run.

    ``span(name)`` times the enclosed block under its own Spark job
    group; on exit it reads the group's counters into the span. Time
    spent in that bookkeeping accumulates in ``overhead_s``."""

    def __init__(self, spark, run_id: str):
        self.counters = SparkCounters(spark)
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, skew: bool = False):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = rec["group"] = self.counters.new_group(name)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        rec["start"] = t1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self.counters.totals(group, skew=skew))
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.counters.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.counters.clear_group()
            self.overhead_s += time.perf_counter() - rec["end"]

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
