"""Measurement from outside the engine.

- `Tracer`: spans (name, layer, start, end, parent, op id) around calls into
  the engine's public functions, installed by monkeypatching module
  attributes for the traced part of a run and removed afterwards. It also
  counts py4j round trips and reads Catalyst's `QueryPlanningTracker`
  phases of every DataFrame the engine executes through `toPandas`,
  `collect` or a parquet write.
- `/proc` readers: process-tree CPU, a sampler for process-tree RSS and
  Python workers, and the host fork counter.
- `eventlog_records`/`exec_metrics`: the Spark event log, parsed after the
  session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.py4j_ns = 0
        self.phases_ms: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0

    # -- op and span bookkeeping ------------------------------------------
    @property
    def op_id(self):
        return getattr(self._local, "op", None)

    @op_id.setter
    def op_id(self, value) -> None:
        self._local.op = value

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled or self._quiet():
            yield
            return
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        st = self._stack()
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": st[-1] if st else None,
            "op": self.op_id,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        st.append(sid)
        try:
            yield
        finally:
            st.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def _quiet(self) -> bool:
        return getattr(self._local, "quiet", False)

    @contextlib.contextmanager
    def quiet(self):
        """Work the benchmark does itself (oracle checks, progress polls,
        tracker reads) records no spans, phases or py4j calls."""
        prev = getattr(self._local, "quiet", False)
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = prev

    # -- installation -----------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, layer: str, action: bool = False) -> None:
        """Replace `owner.attr` by a span-recording wrapper. Module-level
        functions that call each other by global name go through the
        wrapper too, so nested calls become child spans. `action` marks a
        DataFrame/DataFrameWriter method whose plan's tracker phases are
        read after it returns."""
        orig = owner.__dict__[attr]
        tracer = self
        name = f"{layer}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = orig(*args, **kwargs)
            if action and tracer.enabled and not tracer._quiet():
                tracer._read_phases(args[0])
            return out

        self._patch(owner, attr, wrapper)

    def install(self, modules: dict[str, object]) -> None:
        """Wrap every public function of each engine module, plus the
        Spark actions that execute engine plans, and count py4j calls."""
        from py4j.java_gateway import GatewayClient
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        for layer, mod in modules.items():
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and callable(fn)
                    and getattr(fn, "__module__", None) == mod.__name__
                    and not isinstance(fn, type)
                ):
                    self.wrap(mod, attr, layer)
        self.wrap(DataFrame, "toPandas", "arrow", action=True)
        self.wrap(DataFrame, "collect", "action", action=True)
        self.wrap(DataFrameWriter, "parquet", "write", action=True)

        orig_send = GatewayClient.send_command
        tracer = self

        def counted(client, *args, **kwargs):
            if not tracer.enabled or tracer._quiet():
                return orig_send(client, *args, **kwargs)
            t = time.perf_counter_ns()
            try:
                return orig_send(client, *args, **kwargs)
            finally:
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_ns += time.perf_counter_ns() - t

        self._patch(GatewayClient, "send_command", counted)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _read_phases(self, obj) -> None:
        """Add the analysis/optimization/planning durations Catalyst's
        QueryPlanningTracker recorded for the executed plan."""
        df = getattr(obj, "_df", obj)  # a DataFrameWriter holds its frame
        jdf = getattr(df, "_jdf", None)
        if jdf is not None:
            with self.quiet():
                self.add_phases(jdf.queryExecution())

    def add_phases(self, qe) -> None:
        """Add the phase durations of a JVM QueryExecution's tracker."""
        with self.quiet():
            try:
                it = qe.tracker().phases().iterator()
                got = {}
                while it.hasNext():
                    kv = it.next()
                    got[kv._1()] = float(kv._2().durationMs())
            except Exception:  # noqa: BLE001 - a stopped session or non-SQL frame
                return
        with self._lock:
            for k, v in got.items():
                self.phases_ms[k] += v

    # -- analysis ---------------------------------------------------------
    def self_times(self, by: str = "layer") -> dict[str, float]:
        """Seconds of span time not covered by child spans, summed per
        layer (or per span name)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s[by]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def spans_within(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, the /proc/<pid>/stat fields after the command name)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                s = fh.read()
        except OSError:
            continue  # the process exited while we listed
        rest = s[s.rindex(")") + 2 :].split()
        out[int(p)] = (int(rest[1]), rest)
    return out


def process_tree(table) -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    seen, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table and pid not in seen:
            seen[pid] = None
            stack.extend(children[pid])
    return list(seen)


def proc_tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (the JVM and its
    Python workers), counting reaped children too."""
    table = proc_table()
    total = 0.0
    for pid in process_tree(table):
        rest = table[pid][1]
        total += sum(int(rest[i]) for i in (11, 12, 13, 14)) / CLK
    return total


def host_cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_forks() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def _pss_kb(pid: int) -> int:
    """Resident memory of a process with pages it shares split among the
    sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process exited
    return 0


class ProcSampler:
    """Samples the process tree's resident memory (proportional set size)
    and its Python workers every `period` seconds on a daemon thread."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_rss = 0
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        table = proc_table()
        total_kb = 0
        for pid in process_tree(table):
            total_kb += _pss_kb(pid)
            if pid != os.getpid():
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        cmd = fh.read()
                except OSError:
                    continue
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    self.workers.add(pid)
        self.peak_rss = max(self.peak_rss, total_kb * 1024)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a partially written last line


def eventlog_records(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the event log: jobs with their submission time
    and stage count, tasks with launch/finish times (epoch ms) and the
    metrics the benchmark aggregates."""
    jobs, tasks = [], []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(
                {"t": ev.get("Submission Time", 0), "stages": len(ev.get("Stage IDs", []))}
            )
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            tasks.append(
                {
                    "launch": info.get("Launch Time", 0),
                    "finish": info.get("Finish Time", 0),
                    "stage": ev.get("Stage ID"),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                    "peak_mem": m.get("Peak Execution Memory", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "in_rows": m.get("Input Metrics", {}).get("Records Read", 0),
                    "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                }
            )
    return jobs, tasks


def exec_metrics(jobs, tasks, t0: float, t1: float, n_ops: int, cores: int) -> dict:
    """Per-op execution metrics of the jobs and tasks that started inside
    the wall-clock window [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    js = [j for j in jobs if lo <= j["t"] <= hi]
    ts = [t for t in tasks if lo <= t["launch"] <= hi]
    n = max(n_ops, 1)
    mb = 1024 * 1024
    return {
        "exec.jobs_per_op": len(js) / n,
        "exec.stages_per_op": len({t["stage"] for t in ts}) / n,
        "exec.tasks_per_op": len(ts) / n,
        "exec.task_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9 / n,
        "exec.core_util": sum(t["run_ms"] for t in ts) / 1000 / max((t1 - t0) * cores, 1e-9),
        "exec.gc_ms": sum(t["gc_ms"] for t in ts) / n,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb / n,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb / n,
        "exec.spill_mb": sum(t["spill"] for t in ts) / mb / n,
        "exec.peak_exec_mem_mb": max((t["peak_mem"] for t in ts), default=0) / mb,
        "sources.input_mb": sum(t["in_bytes"] for t in ts) / mb / n,
        "sources.input_rows": sum(t["in_rows"] for t in ts) / n,
    }
