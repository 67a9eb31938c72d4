"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the workload's inputs from
``--seed`` (cached under ``.perfbench_work/``), runs the workload
closed-loop on ``local[nproc]``, checks every output, and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from Spark's event log) with
``--trace 1``. The line before it is a JSON record of the host and the
run. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- host


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def _cpu_probe_s() -> float:
    """Seconds to md5 a fixed 64 MiB (best of 3): a noise probe of this core."""
    buf = b"\x5a" * (16 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(4):
            h.update(buf)
        best = min(best, time.perf_counter() - t0)
    return best


def _cmd_out(cmd: list[str], cwd: str) -> str | None:
    try:
        p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    text = (p.stdout + p.stderr).strip()
    lines = [ln for ln in text.splitlines() if not ln.startswith("Picked up")]
    return lines[0] if p.returncode == 0 and lines else None


def host_block(root: str) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
        "loadavg_1m_before": _loadavg(),
        "md5_probe_s": _cpu_probe_s(),
        "spark": pyspark.__version__,
        "java": _cmd_out(["java", "-version"], root),
        "python": platform.python_version(),
        "git_commit": _cmd_out(["git", "rev-parse", "HEAD"], root),
        "machine": platform.machine(),
    }


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
            rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total, todo = 0, [root_pid]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._halt.wait(0.2)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# ---------------------------------------------------------------- per-layer

#: Spans around the package's public entry points (spans.Tracer.wrap).
LAYER_SPANS = [
    "session.get_spark",
    "pipeline.load",
    "store.merge_nodes",
    "store.merge_edges",
    "store.sweep",
    "store.maybe_compact",
    "store.read",
    "pipeline.link_entities_incremental",
    "operators.connected_components",
]
SPAN_FIELDS = [
    "wall_s", "self_s", "jobs", "tasks", "driver_gap_s",
    "exec_cpu_s", "shuffle_write_bytes", "spill_bytes", "skew",
]
#: Spans whose Spark work belongs to the operators layer.
OPERATOR_SPANS = {"pipeline.link_entities_incremental", "operators.connected_components"}
#: Spans the workloads put around each measured operation.
OP_SPANS = {"extract.pass", "sync.run", "sync.reads"}
OTHER_LAYER_METRICS = [
    "functions.python_s",
    "functions.to_python_bytes",
    "functions.from_python_bytes",
    "sources.scan_s",
    "sources.scan_bytes",
    "operators.python_s",
    "operators.lsh_yield",
    "store.rows_created",
    "store.rows_updated",
    "store.rows_deleted",
    "store.tombstone_files",
    "store.bytes_written_per_user_byte",
    "store.mb",
    "op.self_s",
    "op.driver_gap_s",
    "trace.coverage",
    "trace.op_s",
    "trace.first_op_s",
    "trace.series_s",
]
#: get_spark runs no Spark job, so only its wall time is reported.
PER_LAYER = (
    ["session.get_spark.wall_s"]
    + [f"{s}.{f}" for s in LAYER_SPANS[1:] for f in SPAN_FIELDS]
    + OTHER_LAYER_METRICS
)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


def per_layer_metrics(tracer, event_log: str, result) -> dict[str, float]:
    import eventlog

    red = eventlog.reduce_events(eventlog.read_events(event_log))
    out: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    out["session.get_spark.wall_s"] = sum(
        s.end - s.start for s in tracer.spans if s.name == "session.get_spark"
    )
    for name in LAYER_SPANS[1:]:
        for sp in (s for s in tracer.spans if s.name == name):
            groups = tracer.descendants_groups(sp)
            st = eventlog.group_stats(red, groups)
            wall = sp.end - sp.start
            out[f"{name}.wall_s"] += wall
            out[f"{name}.self_s"] += tracer.self_s(sp)
            out[f"{name}.driver_gap_s"] += max(wall - st["job_ms"] / 1000.0, 0.0)
            for k in ("jobs", "tasks", "exec_cpu_s", "shuffle_write_bytes", "spill_bytes"):
                out[f"{name}.{k}"] += st[k]
            out[f"{name}.skew"] = max(out[f"{name}.skew"], st["skew"])

    op_groups = {
        g for s in tracer.spans if s.name in OPERATOR_SPANS for g in tracer.descendants_groups(s)
    }
    all_groups = {s.group for s in tracer.spans}
    fn_groups = all_groups - op_groups
    py = "time to run Python workers"
    for prefix, groups in (("functions", fn_groups), ("operators", op_groups)):
        pm = red.plan_metrics(groups)
        out[f"{prefix}.python_s"] = sum(v for (_, m, _), v in pm.items() if m == py) / 1000.0
    pm = red.plan_metrics(fn_groups)
    out["functions.to_python_bytes"] = sum(
        v for (_, m, _), v in pm.items() if m == "data sent to Python workers"
    )
    out["functions.from_python_bytes"] = sum(
        v for (_, m, _), v in pm.items() if m == "data returned from Python workers"
    )

    def is_input_scan(node: str, desc: str) -> bool:
        return node.startswith("Scan") and "/.perfbench_work/inputs/" in desc

    out["sources.scan_s"] = sum(red.node_metric(all_groups, is_input_scan, "scan time")) / 1000.0
    out["sources.scan_bytes"] = sum(red.node_metric(all_groups, is_input_scan, "size of files read"))

    # The Jaccard verify predicate sits on the join that attaches the
    # corpus side's shingles; its first input is the candidate pairs.
    verify = red.node_rows(op_groups, lambda node, desc: "Join" in node and "array_intersect" in desc)
    candidates = sum(inputs[0] for _, inputs in verify if inputs)
    out["operators.lsh_yield"] = sum(o for o, _ in verify) / candidates if candidates else 0.0

    for sp in tracer.spans:
        if sp.name in ("store.merge_nodes", "store.merge_edges"):
            out["store.rows_created"] += sp.counters.get("created", 0)
            out["store.rows_updated"] += sp.counters.get("updated", 0)
        elif sp.name == "store.sweep":
            out["store.rows_deleted"] += sp.counters.get("nodes_deleted", 0) + sp.counters.get(
                "edges_deleted", 0
            )
    if result.store_root and os.path.exists(os.path.join(result.store_root, "CURRENT")):
        written = _dir_bytes(result.store_root)
        out["store.bytes_written_per_user_byte"] = written / max(result.user_bytes, 1)
        out["store.mb"] = written / 1e6

    # The measured operations' own time outside any layer span: Spark jobs
    # (split by the plan metrics above) plus driver-side planning.
    for sp in (s for s in tracer.spans if s.name in OP_SPANS):
        own = tracer.self_s(sp)
        out["op.self_s"] += own
        jobs_s = eventlog.group_stats(red, {sp.group})["job_ms"] / 1000.0
        out["op.driver_gap_s"] += max(own - jobs_s, 0.0)
    out["store.tombstone_files"] = sum(result.info.get("tombstone_files", []))
    # Attributed time: the layer spans' self time, plus the time the
    # measured operations spend in Spark jobs outside any layer span
    # (split by the plan metrics). Driver time outside every layer lowers it.
    layer_self = sum(
        tracer.self_s(s) for s in tracer.spans if s.name in LAYER_SPANS[1:]
    )
    out["trace.coverage"] = (
        layer_self + out["op.self_s"] - out["op.driver_gap_s"]
    ) / result.window_s
    out["trace.op_s"] = statistics.median(result.op_s)
    out["trace.first_op_s"] = result.first_op_s
    out["trace.series_s"] = result.series_s
    return out


# ---------------------------------------------------------------- main


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    mem_mb = min(2048, _meminfo_kb("MemTotal") // 1024 // 4)
    conf = {"spark.driver.memory": f"{mem_mb}m", "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


#: prctl option: orphaned descendants are re-parented to this process.
PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Adopt every orphaned descendant. The JVM forks the Python worker
    daemon, which outlives the JVM by a moment when the JVM exits; as
    subreaper this process still sees the daemon and can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = str(os.getpid()), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(name))
        except (OSError, IndexError):
            continue
    return out


def _reap_children(grace_s: float = 20.0) -> None:
    """Return only when no child of this process is left: wait up to
    ``grace_s`` for them to end on their own, then send SIGTERM, then
    SIGKILL, and collect every exit status."""
    deadline, sig = time.monotonic() + grace_s, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _exit_on_signal(signum, _frame) -> None:
    # unwinds through main's finally blocks, so the JVM is stopped too
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cartography_spark")):
        print("perfbench: run from the root of a checkout (no cartography_spark/ here)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    for sub in ("tmp", "spark-local", "eventlog", "results"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the package from the checkout; temp files stay in it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(
        work, "tmp"
    )
    sys.path[:0] = [root, HERE]

    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import cartography_spark.pipeline.linking as linking_mod
    from cartography_spark.session import get_spark

    host = host_block(root)
    nproc = host["nproc"]
    tracer = spans.Tracer(enabled=bool(args.trace))
    conf = _spark_conf(work, bool(args.trace))
    get_spark_t = tracer.wrap("session.get_spark", get_spark)
    event_logs_before = set(os.listdir(os.path.join(work, "eventlog")))

    def new_session():
        return get_spark_t(
            app_name=f"perfbench-{args.workload}",
            cores=nproc,
            shuffle_partitions=nproc,
            extra_conf=conf,
        )

    run = workloads.Run(
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        tracer=tracer,
        new_session=new_session,
    )
    ticks_before = _cpu_ticks()
    rss = RssSampler()
    rss.start()
    try:
        # link_entities_incremental calls connected_components through
        # its own module's namespace
        with tracer.patched(linking_mod, "connected_components", "operators.connected_components"):
            result = workloads.WORKLOADS[args.workload](run)
    finally:
        rss.stop()
        _stop_jvm()
    host["loadavg_1m_after"] = _loadavg()
    # CPU time the hypervisor gave to other guests while the run was
    # runnable: the host noise that slows every metric of a run alike
    steal, total = (b - a for a, b in zip(ticks_before, _cpu_ticks()))
    host["steal_frac"] = steal / max(total, 1)

    if args.trace:
        new_logs = sorted(set(os.listdir(os.path.join(work, "eventlog"))) - event_logs_before)
        # the last application is the measured one (earlier ones are set-up restarts)
        metrics = per_layer_metrics(
            tracer, os.path.join(work, "eventlog", new_logs[-1]), result
        )
        units = {k: _unit(k) for k in PER_LAYER}
    else:
        metrics = {
            "first_op_s": result.first_op_s,
            "op_s": statistics.median(result.op_s),
            "series_s": result.series_s,
            "setup_s": statistics.median(result.setup_s),
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
        units = {"first_op_s": "s", "op_s": "s", "series_s": "s", "setup_s": "s",
                 "peak_rss_mb": "MB"}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "spark_conf": conf,
        "setup_s_samples": result.setup_s,
        "op_s_samples": result.op_s,
        "failed_frac": result.failed / max(result.attempted, 1),
        **result.info,
    }
    with open(
        os.path.join(work, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith(".mb"):
        return "MB"
    if metric.endswith((".jobs", ".tasks", "_files", ".rows_created", ".rows_updated",
                        ".rows_deleted")):
        return "count"
    return "ratio"


if __name__ == "__main__":
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGHUP, _exit_on_signal)
    try:
        code = main()
    finally:
        _reap_children()
    sys.exit(code)
