"""Benchmark driver: one workload, one driver process, ``local[<cores>]``.

    python3 perfbench/run.py --workload warehouse_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under a private directory in ``.perfbench_runs/`` (its own store root,
``SPARK_LOCAL_DIRS``, warehouse dir, checkpoint dir and event log), boots a
session through the engine's ``session.get_spark``, runs the workload's ops
in a closed loop with one client (each op starts when the previous one
returns), checks every op's output outside the timed region, deletes the
directory and prints two JSON lines: provenance and per-op detail, then the
result ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions and the py4j client in spans, turns on Spark's
event log and reports the per-layer metrics instead. The exit code is 1 when
any op raised or failed its check, 2 when the engine is not importable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "taico_data_integration_spark"
DRIVER_MEM = "2g"
_ERROR_LINE = re.compile(rb"\bERROR\b")


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    tck = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / tck)


class ProcTree:
    """CPU seconds of this process and its descendants (the JVM and its
    Python workers) and resident memory of this process plus the JVM."""

    def __init__(self, pid: int):
        self.pid = pid
        self.tck = os.sysconf("SC_CLK_TCK")
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _parents(self) -> dict[int, int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        return parent

    def pids(self) -> list[int]:
        parent = self._parents()
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            tree += kids
            frontier += kids
        return tree

    def cpu_s(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            except OSError:
                continue
        return total / self.tck

    def rss_mb(self) -> float:
        """This process and its direct children (the JVM). Forked Python
        workers are left out: their RSS repeats the pages they share with
        the worker daemon, so summing it counted memory several times."""
        own = [self.pid] + [c for c, pp in self._parents().items() if pp == self.pid]
        total = 0
        for p in own:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                continue
        return total * self.page / (1024.0 * 1024.0)


class PeakRss(threading.Thread):
    """Samples the process tree's resident memory while ``active`` is set."""

    def __init__(self, tree: ProcTree, interval: float = 0.25):
        super().__init__(daemon=True)
        self.tree, self.interval = tree, interval
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak = 0.0

    def run(self) -> None:
        while not self.done.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, self.tree.rss_mb())
            self.done.wait(self.interval)

    def stop(self) -> None:
        self.done.set()
        self.join(timeout=10)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


def count_error_lines(path: str, start: int) -> tuple[int, int]:
    """ERROR lines appended to ``path`` since byte ``start``; new offset."""
    with open(path, "rb") as f:
        f.seek(start)
        chunk = f.read()
    return sum(1 for line in chunk.splitlines() if _ERROR_LINE.search(line)), start + len(chunk)


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def isolate(run_dir: str, cores: int, trace: bool) -> None:
    """Point every Spark temporary location at the run's own directory; must
    run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    # -Xms = -Xmx: with a growable heap, peak RSS followed the collector's
    # resize decisions and moved 25% between identical runs
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def run_pass(workload, pass_dir: str, tracer=None) -> dict:
    """One closed-loop pass over the workload's ops."""
    os.makedirs(pass_dir)
    span = tracer.span if tracer is not None else (lambda name, op=None: contextlib.nullcontext())
    ops = workload.pass_ops(pass_dir)
    rec = {"ops": {}, "results": {}, "errors": {}}
    t0 = time.time()
    for name, fn in ops:
        a = time.perf_counter()
        try:
            with span("op", op=name):
                rec["results"][name] = fn(span)
        except Exception as exc:  # an op that raises is counted, not fatal
            rec["errors"][name] = f"{type(exc).__name__}: {exc}"[:500]
        rec["ops"][name] = time.perf_counter() - a
    rec["window"] = (t0, time.time())
    rec["s"] = rec["window"][1] - t0
    return rec


def main() -> int:
    proc_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the workload's output digests to expected.json instead of checking")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"{ENGINE} not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    runs_root = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs_root)
    saved_stderr = os.dup(2)
    try:
        out, result = run(args, WORKLOADS[args.workload], run_dir, proc_start)
    finally:
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs_root)
    print(json.dumps(out, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, workload_cls, run_dir: str, proc_start: float) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    data_dir = os.path.join(run_dir, "data")
    t = time.time()
    workload_cls.make_inputs(data_dir, args.seed)
    datagen_s = time.time() - t
    input_bytes = dir_bytes(data_dir)

    isolate(run_dir, cores, trace)
    stderr_log = os.path.join(run_dir, "jvm_stderr.log")
    fd = os.open(stderr_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(fd, 2)
    os.close(fd)

    t_boot = time.time()
    from pyspark import SparkContext

    from taico_data_integration_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        return measure(args, workload_cls, spark, run_dir, data_dir, cores, trace,
                       proc_start, t_boot, datagen_s, input_bytes, stderr_log)
    finally:
        spark.stop()
        stop_jvm(SparkContext._gateway)


def stop_jvm(gateway) -> None:
    """End the JVM this process launched and wait for it: the gateway
    server exits when its stdin closes."""
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def measure(args, workload_cls, spark, run_dir, data_dir, cores, trace,
            proc_start, t_boot, datagen_s, input_bytes, stderr_log):
    sc = spark.sparkContext
    sc.setCheckpointDir(os.path.join(run_dir, "checkpoints"))
    spark.range(1000).selectExpr("sum(id)").collect()
    workload = workload_cls(spark, data_dir, args.seed)
    boot_s = time.time() - t_boot

    if args.record:
        from perfbench.workloads import EXPECTED_PATH, load_expected

        expected = load_expected() if os.path.exists(EXPECTED_PATH) else {}
        expected[workload.name] = workload.record()
        with open(EXPECTED_PATH, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        return {"recorded": workload.name}, {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}

    t_warm = time.time()
    workload.warm_up()
    warmup_s = time.time() - t_warm
    # process start -> first timed op, minus the benchmark's own input writing
    setup_s = time.time() - proc_start - datagen_s

    tree = ProcTree(os.getpid())
    sampler = PeakRss(tree)
    sampler.start()
    tracer = restore = None
    if trace:
        from perfbench.trace import Tracer, instrument

        tracer = Tracer(sc)
        restore = instrument(tracer)
    offset = os.path.getsize(stderr_log)
    passes = []
    t_measure = time.time()
    try:
        while True:
            pass_dir = os.path.join(run_dir, "store", f"p{len(passes)}")
            cpu0, py0 = tree.cpu_s(), sum(os.times()[:2])
            sampler.active.set()
            rec = run_pass(workload, pass_dir, tracer)
            sampler.active.clear()
            rec["cpu_s"] = tree.cpu_s() - cpu0
            rec["python_cpu_s"] = sum(os.times()[:2]) - py0
            rec["error_lines"], offset = count_error_lines(stderr_log, offset)
            rec["disk_ratio"] = (input_bytes + dir_bytes(pass_dir)) / input_bytes
            shutil.rmtree(pass_dir, ignore_errors=True)
            passes.append(rec)
            if len(passes) >= workload.max_passes or time.time() - t_measure >= args.seconds:
                break
    finally:
        if restore is not None:
            restore()
        sampler.stop()

    problems = {op: f"raised {err}" for rec in passes for op, err in rec["errors"].items()}
    for op, msg in workload.check([rec["results"] for rec in passes]).items():
        problems.setdefault(op, msg)
    attempted = sum(len(rec["ops"]) for rec in passes)
    failed = sum(1 for rec in passes for op in rec["ops"] if op in problems)

    op_names = list(passes[0]["ops"])
    op_s = {op: statistics.median(rec["ops"][op] for rec in passes) for op in op_names}
    med = lambda key: statistics.median(rec[key] for rec in passes)  # noqa: E731
    out = {
        "workload": workload.name,
        "provenance": provenance(spark, cores, args, input_bytes),
        "passes": len(passes),
        "pass_s": [round(rec["s"], 4) for rec in passes],
        "op_count": len(op_names),
        "op_s": {op: round(s, 4) for op, s in op_s.items()},
        "boot_s": round(boot_s, 4),
        "warmup_s": round(warmup_s, 4),
        "datagen_s": round(datagen_s, 4),
        "problems": problems,
    }
    if trace:
        spark.stop()  # flushes the event log
        metrics, extra = trace_metrics(tracer, passes, run_dir, cores, boot_s, warmup_s)
        out.update(extra)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (med("s"), "s"),
            "op_p50_s": (statistics.median(rec["ops"][op] for rec in passes for op in rec["ops"]), "s"),
            "cpu_s": (med("cpu_s"), "s"),
            "peak_rss_mb": (sampler.peak, "MB"),
            "disk_bytes_per_input_byte": (med("disk_ratio"), "ratio"),
            "ops_ok_ratio": ((attempted - failed) / attempted, "ratio"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return out, result


def trace_metrics(tracer, passes, run_dir, cores, boot_s, warmup_s):
    from perfbench.trace import layer_metrics, op_table, parse_event_log, read_event_log_lines, self_times
    from perfbench.workloads import WORKLOADS

    events = parse_event_log(read_event_log_lines(os.path.join(run_dir, "eventlog")))
    per_pass = [layer_metrics(tracer.spans, events, rec["window"], cores) for rec in passes]
    units = {"calls": "count", "jobs": "count", "py4j_calls": "count", "tasks": "count",
             "stages": "count", "failed_tasks": "count", "error_log_lines": "count",
             "busy_ratio": "ratio", "files_read_ratio": "ratio", "files_rewritten_ratio": "ratio",
             "bytes_written": "B", "data_files_written": "count", "meta_files_written": "count"}
    metrics = {"session.boot_s": (boot_s, "s"), "session.warmup_s": (warmup_s, "s")}
    for key in per_pass[0]:
        unit = units.get(key.rsplit(".", 1)[-1], "MB" if key.endswith("_mb") else "s")
        metrics[key] = (statistics.median(p[key] for p in per_pass), unit)
    metrics["driver.python_cpu_s"] = (statistics.median(r["python_cpu_s"] for r in passes), "s")
    metrics["spark.error_log_lines"] = (statistics.median(r["error_lines"] for r in passes), "count")
    metrics["trace.pass_s"] = (statistics.median(r["s"] for r in passes), "s")
    all_ops = [op for w in WORKLOADS.values() for op in w.op_names()]
    for op in all_ops:
        vals = [r["ops"][op] for r in passes if op in r["ops"]]
        metrics[f"op.{op}.s"] = (statistics.median(vals) if vals else 0.0, "s")

    # self time by span name over the first traced pass: each layer's share
    # of pass_s that no deeper layer accounts for
    lo, hi = passes[0]["window"]
    spans = [s for s in tracer.spans if s["start"] >= lo and s["end"] <= hi]
    selfs = self_times(spans)
    shares: dict[str, float] = {}
    for s in spans:
        shares[s["name"]] = shares.get(s["name"], 0.0) + selfs[s["id"]]
    pass_s = hi - lo
    extra = {
        "layer_self_share": {k: round(v / pass_s, 4) for k, v in sorted(shares.items(), key=lambda kv: -kv[1])},
        "op_table": op_table(spans, events),
        "spans": len(tracer.spans),
    }
    return metrics, extra


def provenance(spark, cores: int, args, input_bytes: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": cores,
        "loadavg": list(os.getloadavg()),
        "spark": spark.version,
        "python": platform.python_version(),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "driver_memory": DRIVER_MEM,
        "input_bytes": input_bytes,
        "commit": git_commit(),
    }


if __name__ == "__main__":
    sys.exit(main())
