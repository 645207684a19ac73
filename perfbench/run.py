"""Benchmark of the engine's user paths.

Usage (from the repository root):

    python3 perfbench/run.py --workload arb_stream --seed 1 --seconds 15 --trace 0

Builds the named workload's inputs from the seed, starts a local Spark
session, sets the workload up, runs its operations for `--seconds`, checks
every result against DuckDB and prints a report followed by one JSON line:
with `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
metrics of a run whose second half is traced (spans, py4j calls, Catalyst
phases, the Spark event log). `perfbench/README.md` describes the
workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "financial_arbitrage_data_pipeline_spark"

END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "op_ms_p90": "ms",
    "side_ms_p50": "ms",
    "cpu_s_per_op": "cpu-s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "py4j.calls_per_op": "count",
    "py4j.ms_per_op": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.task_cpu_s": "cpu-s",
    "exec.core_util": "ratio",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_mb": "MiB",
    "exec.shuffle_write_mb": "MiB",
    "exec.spill_mb": "MiB",
    "exec.peak_exec_mem_mb": "MiB",
    "sources.input_mb": "MiB",
    "sources.input_rows": "count",
    "proc.forks": "count",
    "proc.python_workers": "count",
    "bench.trace_overhead_frac": "ratio",
    "bench.client_lag_ms_max": "ms",
}
# The end-to-end metric each workload's op and side latencies stand for.
ALIASES = {
    "arb_stream": {"op": "detect_ms", "side": "store_ms"},
    "snapshot_queries": {"op": "query_ms", "side": "aux_query_ms"},
    "ticket_merge": {"op": "merge_ms", "side": "read_ms"},
}


class Ctx:
    """Run state shared by the harness and a workload."""

    def __init__(self, args, spark, tracer, con, work: str, data_dir: str):
        self.seed, self.scale, self.trace = args.seed, args.scale, bool(args.trace)
        self.corrupt = args.corrupt_expected
        self.spark, self.tracer, self.con = spark, tracer, con
        self.work, self.data_dir = work, data_dir
        self.traced = False
        self.interleave = False  # traced run of a closed loop: every other op traced
        self.queries: list = []
        self.info: dict = {}
        self.layer: dict = {}
        self.ops: list[dict] = []  # see record()
        self.open_ops: list = []
        self.drain: dict | None = None
        self.final_ok = False
        self.checks = 0
        self.measuring = False
        self.gaps_ms: list[float] = []
        self.leaks = 0
        self._op = 0
        self._last_end = None
        self.jobs: list = []
        self.tasks: list = []

    # -- ops --------------------------------------------------------------
    def begin_op(self) -> None:
        now = time.perf_counter()
        if self._last_end is not None:
            self.gaps_ms.append((now - self._last_end) * 1000)
        self._op += 1
        self.tracer.op_id = self._op
        if self.interleave:
            self.traced = self.tracer.enabled = self._op % 2 == 1

    def end_op(self) -> None:
        """Close an op: drop cached plans so nothing warm leaks into the
        next one (outside the timed region), and count an op that left a
        persisted frame behind."""
        self.tracer.op_id = None
        if self.interleave:
            self.tracer.enabled = False
        with self.tracer.quiet():
            if not self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
                self.leaks += 1
            self.spark.catalog.clearCache()
        self._last_end = time.perf_counter()

    def record(self, kind: str, ms: float, ok: bool, traced: bool, what: str = "") -> None:
        """One timed op: `kind` is "op" or "side", `what` the request type."""
        self.ops.append({"kind": kind, "what": what, "ms": ms, "ok": ok, "traced": traced})

    def record_drain(self, rows_per_s: float, ok: bool, chunks: int) -> None:
        self.drain = {"rows_per_s": rows_per_s, "ok": ok, "chunks": chunks}

    def check(self, got, want) -> bool:
        """Compare with the oracle. With --corrupt-expected the first
        expected result is falsified, which must surface as a failed op."""
        from perfbench import oracle

        if self.measuring:
            self.checks += 1
        if self.corrupt and self.checks == 1:
            want = want.iloc[0:0] if len(want) else want.reindex([0])
        return oracle.same(got, want)

    def traced_ops(self) -> int:
        return sum(1 for o in self.ops if o["traced"])

    # -- event-log attribution -------------------------------------------
    def _span_windows(self, spans) -> list[tuple[float, float]]:
        # spans use perf_counter; the event log uses epoch milliseconds
        off = time.time() - time.perf_counter()
        return [((s["start"] + off) * 1000, (s["end"] + off) * 1000) for s in spans]

    def jobs_within(self, spans) -> int:
        wins = self._span_windows(spans)
        return sum(1 for j in self.jobs if any(a <= j["t"] <= b for a, b in wins))

    def output_mb_within(self, spans) -> float:
        wins = self._span_windows(spans)
        return sum(
            t["out_bytes"] for t in self.tasks if any(a <= t["launch"] <= b for a, b in wins)
        ) / 2**20


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1, help="scale factor of the inputs")
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="falsify the first expected result (the smoke test's error-path check)",
    )
    return ap.parse_args(argv)


def driver_memory_mb() -> int:
    """An eighth of physical RAM, between 1 GiB and 8 GiB. With a quarter,
    G1 grew the heap by different amounts from run to run: peak memory of
    arb_stream spread 22% across seeds on a 16 GiB box, against 12%."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 1024 // 8))


def source_id() -> str:
    """The git SHA when the tree is a checkout, else a hash of the engine
    sources."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def run(args) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything Spark, Python workers and DuckDB write stays in `work`
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # pandas deprecation chatter from pyspark's own serializers, per batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # every JVM (the spark-submit launcher too): temp files in `work`, and no
    # hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    workers: set[int] = set()
    try:
        result = _run(args, work, tmp, workers)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if isinstance(result, int):
        return result
    # nothing of the run may outlive it: no files, no processes
    left = reap_children(workers)
    if left or os.path.exists(work):
        print(f"perfbench: run left {left} processes / files at {work}", file=sys.stderr)
        return 4
    print(json.dumps(result))
    return 0


def reap_children(workers: set[int], timeout: float = 15.0) -> int:
    """Wait for every descendant process, and every Python worker seen
    during the run (orphaned when the JVM exits), to end; kill any that
    outlive `timeout` and return how many that was."""
    import signal

    from perfbench.tracing import proc_table, process_tree

    deadline = time.perf_counter() + timeout
    while True:
        table = proc_table()
        live = {p for p, (_, rest) in table.items() if rest[0] != "Z"}
        kids = [p for p in process_tree(table) if p != os.getpid() and p in live]
        kids += [p for p in workers if p in live and p not in kids]
        if not kids:
            return 0
        if time.perf_counter() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            for pid in kids:
                try:
                    os.waitpid(pid, 0)
                except ChildProcessError:
                    pass  # not our direct child; init reaps it
            return len(kids)
        time.sleep(0.1)


def _run(args, work: str, tmp: str, workers: set[int]):
    import importlib

    from perfbench import oracle, tracing
    from perfbench.workloads import WORKLOADS, percentile

    try:
        session = importlib.import_module(f"{PKG}.session")
        from financial_arbitrage_data_pipeline_spark import etl
        from financial_arbitrage_data_pipeline_spark.operators import upsert
        from financial_arbitrage_data_pipeline_spark.streaming import ingest, scan
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    sampler = tracing.ProcSampler().start()
    tracer = tracing.Tracer()
    wl = WORKLOADS[args.workload]
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    mem_mb = driver_memory_mb()
    events_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(events_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events_dir,
                "spark.eventLog.compress": "false",
            }
        )

    t = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    get_spark_s = time.perf_counter() - t
    con = None
    try:
        t = time.perf_counter()
        try:
            where = spark.sparkContext.parallelize([0], 1).map(
                lambda _: importlib.import_module(PKG).__file__
            ).collect()[0]
        except Exception as exc:  # noqa: BLE001 - any worker failure means the same thing
            print(
                f"perfbench: Python workers cannot import {PKG} "
                f"(PYTHONPATH={os.environ['PYTHONPATH']}): {exc}",
                file=sys.stderr,
            )
            return 3
        warmup_s = time.perf_counter() - t
        worker_pkg = os.path.dirname(where)

        con = oracle.connect(os.path.join(work, "duckdb"))
        data_dir = os.path.join(work, "data")
        ctx = Ctx(args, spark, tracer, con, work, data_dir)
        t = time.perf_counter()
        st = wl.setup(ctx)
        ctx.info["fixture_s"] = round(time.perf_counter() - t, 3)

        t_setup = time.perf_counter()
        ctx.measuring = True
        setup_s = t_setup - T_START
        deadline = t_setup + args.seconds
        cpu0, forks0, w0 = tracing.proc_tree_cpu_s(), tracing.host_forks(), time.time()
        ticks0 = tracing.host_cpu_ticks()
        if args.trace:
            tracer.install({"ingest": ingest, "scan": scan, "etl": etl, "upsert": upsert})
        if args.trace and wl.open_loop:
            # the lanes run on their own; trace the second half of the window
            wl.measure(ctx, st, t_setup + args.seconds / 2, last=False)
            ctx.traced = tracer.enabled = True
            tw0, tforks0 = time.time(), tracing.host_forks()
            wl.measure(ctx, st, deadline, last=True)
        else:
            # a closed loop alternates traced and untraced ops, so the
            # tracing overhead is measured on interleaved ops
            ctx.interleave = bool(args.trace)
            tw0, tforks0 = w0, forks0
            wl.measure(ctx, st, deadline, last=True)
            ctx.interleave = False
        tracer.enabled = False
        tracer.uninstall()
        w1, cpu1, forks1 = time.time(), tracing.proc_tree_cpu_s(), tracing.host_forks()
        ticks = [b - a for a, b in zip(ticks0, tracing.host_cpu_ticks())]
        # time the hypervisor gave other guests: a slow window shows here
        ctx.info["host_steal_share"] = round(ticks[7] / max(sum(ticks), 1), 4)
        wl.finish(ctx, st)
        java = spark._jvm.System.getProperty("java.version")
    finally:
        for q in getattr(locals().get("ctx"), "queries", []):
            if q.isActive:
                q.stop()
        if con is not None:
            con.close()
        stop_jvm(spark)
        sampler.stop()
        workers.update(sampler.workers)

    # ---- metrics ---------------------------------------------------------
    ops = ctx.ops
    attempted = len(ops) + (ctx.drain["chunks"] if ctx.drain else 0)
    failed = sum(1 for o in ops if not o["ok"])
    if ctx.drain and not ctx.drain["ok"]:
        failed += ctx.drain["chunks"]
    if not ctx.final_ok:
        failed = attempted
    op_ms = [o["ms"] for o in ops if o["kind"] == "op"]
    side_ms = [o["ms"] for o in ops if o["kind"] == "side"]
    e2e = {
        "setup_s": setup_s,
        "op_ms_p50": percentile(op_ms, 50),
        "op_ms_p90": percentile(op_ms, 90),
        "side_ms_p50": percentile(side_ms, 50),
        "cpu_s_per_op": (cpu1 - cpu0) / max(attempted, 1),
        "peak_rss_mb": sampler.peak_rss / 2**20,
    }

    layer = {}
    if args.trace:
        # ops inside the event-log window, and ops whose Python side was traced
        drained = ctx.drain["chunks"] if ctx.drain else 0
        n_win = max((ctx.traced_ops() if wl.open_loop else len(ops)) + drained, 1)
        n_tr = max(ctx.traced_ops() + drained, 1)
        ctx.jobs, ctx.tasks = tracing.eventlog_records(events_dir)
        layer.update(tracing.exec_metrics(ctx.jobs, ctx.tasks, tw0, w1, n_win, cores))
        untraced = [o["ms"] for o in ops if o["kind"] == "op" and not o["traced"]]
        traced = [o["ms"] for o in ops if o["kind"] == "op" and o["traced"]]
        layer.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.warmup_s": warmup_s,
                "py4j.calls_per_op": tracer.py4j_calls / n_tr,
                "py4j.ms_per_op": tracer.py4j_ns / 1e6 / n_tr,
                "catalyst.analysis_ms": tracer.phases_ms.get("analysis", 0.0) / n_tr,
                "catalyst.optimization_ms": tracer.phases_ms.get("optimization", 0.0) / n_tr,
                "catalyst.planning_ms": tracer.phases_ms.get("planning", 0.0) / n_tr,
                "proc.forks": (forks1 - tforks0) / n_win,
                "proc.python_workers": len(sampler.workers),
                "bench.trace_overhead_frac": percentile(traced, 50) / percentile(untraced, 50) - 1
                if untraced and traced
                else 0.0,
                "bench.client_lag_ms_max": max(ctx.gaps_ms, default=0.0),
            }
        )
        wl.layers(ctx, st)
        wl_layer = dict(ctx.layer)
        if "bench.generator_lag_ms_max" in wl_layer:
            layer["bench.client_lag_ms_max"] = wl_layer["bench.generator_lag_ms_max"]
        self_s = tracer.self_times()
        for name, sec in sorted(self_s.items()):
            wl_layer[f"self.{name}_ms_per_op"] = 1000 * sec / n_tr
        write_trace(args, tracer, layer, wl_layer, ctx)
    else:
        wl_layer = {}

    # ---- report ----------------------------------------------------------
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "ram_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "pyspark": __import__("pyspark").__version__,
        "java": java,
        "source": source_id(),
        "driver_memory_mb": mem_mb,
        "worker_package": worker_pkg,
        "get_spark_s": round(get_spark_s, 3),
        "warmup_s": round(warmup_s, 3),
        "leaked_persists": ctx.leaks,
        **ctx.info,
    }
    info["wall_s"] = round(time.perf_counter() - T_START, 3)
    for k, v in info.items():
        print(f"# {k}: {v}")
    alias = ALIASES[args.workload]
    shown = {
        f"{alias['op']}_p50": (e2e["op_ms_p50"], "ms"),
        f"{alias['op']}_p90": (e2e["op_ms_p90"], "ms"),
        f"{alias['side']}_p50": (e2e["side_ms_p50"], "ms"),
        "error_rate": (failed / max(attempted, 1), "ratio"),
        "ops": (len(op_ms), "count"),
        "side_ops": (len(side_ms), "count"),
    }
    if ctx.drain:
        shown["drain_rows_per_s"] = (ctx.drain["rows_per_s"], "rows/s")
    for name, unit in END_TO_END.items():
        print(f"{name} = {e2e[name]:.6g} {unit}")
    for name, (val, unit) in shown.items():
        print(f"{name} = {val:.6g} {unit}")
    for name, val in {**layer, **wl_layer}.items():
        print(f"{name} = {val:.6g} {PER_LAYER.get(name, '')}".rstrip())

    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": failed == 0 and ctx.final_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def write_trace(args, tracer, layer: dict, wl_layer: dict, ctx) -> None:
    """Spans with parent links and the per-layer numbers, written once the
    run ends."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "spans": tracer.spans,
                "self_s_by_layer": tracer.self_times(),
                "self_s_by_name": tracer.self_times(by="name"),
                "per_layer": layer,
                "workload_layers": wl_layer,
                "ops": ctx.ops,
            },
            fh,
        )
    print(f"# trace: {path}")


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
