"""Tracing for the benchmark's traced runs.

Three sources feed the per-layer numbers:

- spans, recorded in memory by :class:`Tracer` around the calls the
  benchmark makes and around the engine's public functions (wrapped from
  here by :func:`instrument`, undone by the returned callable);
- py4j round trips, counted by wrapping the py4j client's ``send_command``
  and charged to the innermost open span;
- Spark's event log, which the traced run turns on. Every span sets the job
  group (``pb<span id>``) so each job, stage and task can be charged to the
  span and op that launched it.

The arithmetic (:func:`self_times`, :func:`parse_event_log`,
:func:`layer_metrics`) is pure and tested against a recorded fixture in
``perfbench/tests``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time

GROUP_PREFIX = "pb"

PIPELINES = ("run_retail_pipeline", "run_facebook_pipeline", "run_etl_pipeline", "ingest_batch")
STORE_METHODS = (
    "write", "read", "merge_in", "read_point", "read_in", "delete_in",
    "compact", "vacuum", "promote_with_validation",
)
_STORE_MUTATORS = {"write", "merge_in", "delete_in", "compact", "vacuum", "promote_with_validation"}


class Tracer:
    """In-memory span recorder. A span is a dict with ``id``, ``name``,
    ``op``, ``parent``, ``start``, ``end`` (epoch seconds), ``py4j`` (round
    trips made while it was the innermost span) and ``extra``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._internal = False
        self._thread = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            "py4j": 0,
            "extra": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        self._internal = True
        try:
            if rec is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", f"{rec['op']}:{rec['name']}")
        finally:
            self._internal = False

    def count_py4j(self) -> None:
        if self._stack and not self._internal and threading.get_ident() == self._thread:
            self._stack[-1]["py4j"] += 1


# --- wrapping the engine's public functions --------------------------------

def _tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path relative to root -> (inode, size) for every regular file under root."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def commit_delta(before: dict, after: dict) -> dict:
    """Files a TableStore call wrote: paths that are new or changed, minus
    hard links to an inode that already existed (linking moves no data).
    Paths are relative to the store root. A file under a directory whose
    name starts with ``_`` (``_bloom``, ``_stats``, ``_txns``, ...) is
    metadata, whatever its format; otherwise parquet part files count as
    data files and everything else as metadata."""
    old_inodes = {ino for ino, _ in before.values()}
    delta = {"bytes_written": 0, "data_files_written": 0, "meta_files_written": 0}
    for path, (ino, size) in after.items():
        if before.get(path) == (ino, size) or ino in old_inodes:
            continue
        delta["bytes_written"] += size
        *dirs, name = path.split(os.sep)
        if any(d.startswith("_") for d in dirs):
            delta["meta_files_written"] += 1
        elif name.endswith(".parquet") or name.startswith("part-"):
            delta["data_files_written"] += 1
        else:
            delta["meta_files_written"] += 1
    return delta


def _store_wrapper(tracer: Tracer, method: str, fn):
    layer = f"ops.incremental.{method}"

    @functools.wraps(fn)
    def wrapped(self, *args, **kwargs):
        outer = not any(s["name"].startswith("ops.incremental.") for s in tracer._stack)
        walk = outer and method in _STORE_MUTATORS
        before = _tree_files(self.root) if walk else None
        with tracer.span(layer) as rec:
            result = fn(self, *args, **kwargs)
            if method in ("read_point", "read_in", "merge_in") and isinstance(result, tuple):
                report = result[1] if isinstance(result[1], dict) else {}
                for key in ("files_read", "files_total", "files_rewritten", "files_linked"):
                    if key in report:
                        rec["extra"][key] = report[key]
        if walk:
            rec["extra"].update(commit_delta(before, _tree_files(self.root)))
        return result

    return wrapped


def _fn_wrapper(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return wrapped


def _rebind(package: str, original, replacement) -> list[tuple]:
    """Point every module-level name in ``package`` bound to ``original``
    (including ``from x import f`` copies) at ``replacement``."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))
    return undo


def instrument(tracer: Tracer, package: str = "taico_data_integration_spark"):
    """Wrap the engine's public entry points and the py4j client; returns a
    callable that restores every original."""
    import importlib

    from py4j.java_gateway import GatewayClient

    undo: list[tuple] = []
    targets = [
        ("catalog", "load_table", "catalog.load_table"),
        ("checks.engine", "run_checks", "checks.run_checks"),
        ("pipelines.retail_pipeline", "run_retail_pipeline", "pipelines.run_retail_pipeline"),
        ("pipelines.facebook_pipeline", "run_facebook_pipeline", "pipelines.run_facebook_pipeline"),
        ("pipelines.etl_pipeline", "run_etl_pipeline", "pipelines.run_etl_pipeline"),
        ("pipelines.ingestion_pipeline", "ingest_batch", "pipelines.ingest_batch"),
    ]
    for mod_name, fn_name, layer in targets:
        fn = getattr(importlib.import_module(f"{package}.{mod_name}"), fn_name)
        undo += _rebind(package, fn, _fn_wrapper(tracer, layer, fn))

    store_cls = importlib.import_module(f"{package}.ops.incremental").TableStore
    for method in STORE_METHODS:
        own = method in store_cls.__dict__
        fn = getattr(store_cls, method)
        setattr(store_cls, method, _store_wrapper(tracer, method, fn))
        undo.append((store_cls, method, fn if own else None))

    send = GatewayClient.send_command

    @functools.wraps(send)
    def counted_send(self, *args, **kwargs):
        tracer.count_py4j()
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted_send
    undo.append((GatewayClient, "send_command", send))

    def restore() -> None:
        for owner, attr, original in reversed(undo):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    return restore


# --- arithmetic -----------------------------------------------------------

def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _union_length(_clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def parse_event_log(lines) -> dict:
    """Reduce Spark event-log JSON lines to jobs, stages and per-group task
    totals. Tasks are charged to the job group in the properties of the
    stage that ran them; jobs to the group in their own properties."""
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    stages_done: list[dict] = []
    tasks: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages_done.append({
                "group": stage_group.get((info["Stage ID"], info["Stage Attempt ID"])),
                "end": info.get("Completion Time", 0) / 1000.0,
            })
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            shuffle_r = m.get("Shuffle Read Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            tasks.append({
                "group": stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"])),
                "end": (ev.get("Task Info") or {}).get("Finish Time", 0) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read_b": shuffle_r.get("Remote Bytes Read", 0) + shuffle_r.get("Local Bytes Read", 0),
                "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "failed": reason != "Success",
            })
    return {"jobs": jobs, "stages": stages_done, "tasks": tasks}


def _group_span(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX) and group[len(GROUP_PREFIX):].isdigit():
        return int(group[len(GROUP_PREFIX):])
    return None


MB = 1024.0 * 1024.0


def layer_metrics(spans: list[dict], events: dict, window: tuple[float, float], cores: int) -> dict:
    """Per-layer totals for the spans and Spark work inside ``window``
    (one traced pass, epoch seconds). ``X.s`` sums the outermost spans named
    X (a nested call of the same layer is not counted twice); ``X.jobs``
    counts jobs launched while an X span or one of its descendants was the
    innermost span."""
    lo, hi = window
    spans = [s for s in spans if s["start"] >= lo and s["end"] <= hi]
    by_id = {s["id"]: s for s in spans}

    def ancestors(sid: int | None):
        while sid is not None and sid in by_id:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def outermost(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name
                and not any(a["name"] == name for a in ancestors(s["parent"]))]

    jobs = [j for j in events["jobs"].values() if lo <= j["start"] <= hi]
    tasks = [t for t in events["tasks"] if lo <= t["end"] <= hi]
    stages = [s for s in events["stages"] if lo <= s["end"] <= hi]

    def jobs_under(name: str) -> int:
        return sum(1 for j in jobs
                   if any(a["name"] == name for a in ancestors(_group_span(j["group"]))))

    def py4j_under(name: str) -> int:
        return sum(s["py4j"] for s in spans
                   if any(a["name"] == name for a in ancestors(s["id"])))

    pass_s = hi - lo
    out: dict[str, float] = {}
    loads = outermost("catalog.load_table")
    out["catalog.load_table.calls"] = len(loads)
    out["catalog.load_table.s"] = sum(s["end"] - s["start"] for s in loads)
    builds = outermost("queries.build")
    out["queries.build_s"] = sum(s["end"] - s["start"] for s in builds)
    out["queries.build.py4j_calls"] = py4j_under("queries.build")
    out["queries.build.jobs"] = jobs_under("queries.build")

    task_s = sum(t["run_s"] for t in tasks)
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(stages)
    out["spark.tasks"] = len(tasks)
    out["spark.task_s"] = task_s
    out["spark.cpu_s"] = sum(t["cpu_s"] for t in tasks)
    out["spark.gc_s"] = sum(t["gc_s"] for t in tasks)
    out["spark.input_mb"] = sum(t["input_b"] for t in tasks) / MB
    out["spark.shuffle_write_mb"] = sum(t["shuffle_write_b"] for t in tasks) / MB
    out["spark.shuffle_read_mb"] = sum(t["shuffle_read_b"] for t in tasks) / MB
    out["spark.spill_mb"] = sum(t["spill_b"] for t in tasks) / MB
    out["spark.failed_tasks"] = sum(1 for t in tasks if t["failed"])
    out["spark.busy_ratio"] = task_s / (cores * pass_s) if pass_s > 0 else 0.0
    busy = _union_length(_clip([(j["start"], j["end"] or hi) for j in jobs], lo, hi))
    out["driver.idle_exec_s"] = pass_s - busy

    for fn in PIPELINES:
        ss = outermost(f"pipelines.{fn}")
        out[f"pipelines.{fn}.s"] = sum(s["end"] - s["start"] for s in ss)
        out[f"pipelines.{fn}.jobs"] = jobs_under(f"pipelines.{fn}")
    checks = outermost("checks.run_checks")
    out["checks.run_checks.calls"] = len(checks)
    out["checks.run_checks.s"] = sum(s["end"] - s["start"] for s in checks)
    out["checks.run_checks.jobs"] = jobs_under("checks.run_checks")

    commit = {"bytes_written": 0, "data_files_written": 0, "meta_files_written": 0}
    for method in STORE_METHODS:
        name = f"ops.incremental.{method}"
        ss = outermost(name)
        out[f"{name}.calls"] = len(ss)
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in ss)
        out[f"{name}.jobs"] = jobs_under(name)
        for s in ss:
            for k in commit:
                commit[k] += s["extra"].get(k, 0)
    for k, v in commit.items():
        out[f"ops.storage_commit.{k}"] = v

    def ratio(method: str, num: str, den: tuple[str, ...]) -> float:
        ss = outermost(f"ops.incremental.{method}")
        n = sum(s["extra"].get(num, 0) for s in ss)
        d = sum(s["extra"].get(k, 0) for s in ss for k in den)
        return n / d if d else 0.0

    out["ops.incremental.read_point.files_read_ratio"] = ratio("read_point", "files_read", ("files_total",))
    out["ops.incremental.read_in.files_read_ratio"] = ratio("read_in", "files_read", ("files_total",))
    out["ops.incremental.merge_in.files_rewritten_ratio"] = ratio(
        "merge_in", "files_rewritten", ("files_rewritten", "files_linked"))
    return out


def op_table(spans: list[dict], events: dict) -> dict[str, dict]:
    """Per-op rows: wall time, jobs, task time and shuffle MB charged to the
    op's job groups, and build vs execute split where the op has one."""
    by_id = {s["id"]: s for s in spans}
    rows: dict[str, dict] = {}
    for s in spans:
        if s["name"] == "op":
            rows[s["op"]] = {"s": s["end"] - s["start"], "jobs": 0, "task_s": 0.0,
                             "shuffle_mb": 0.0, "build_s": 0.0, "py4j": 0}
    for s in spans:
        if s["op"] in rows:
            rows[s["op"]]["py4j"] += s["py4j"]
            if s["name"] == "queries.build":
                rows[s["op"]]["build_s"] += s["end"] - s["start"]
    for j in events["jobs"].values():
        sid = _group_span(j["group"])
        if sid in by_id and by_id[sid]["op"] in rows:
            rows[by_id[sid]["op"]]["jobs"] += 1
    for t in events["tasks"]:
        sid = _group_span(t["group"])
        if sid in by_id and by_id[sid]["op"] in rows:
            r = rows[by_id[sid]["op"]]
            r["task_s"] += t["run_s"]
            r["shuffle_mb"] += (t["shuffle_read_b"] + t["shuffle_write_b"]) / MB
    return rows


def read_event_log_lines(log_dir: str) -> list[str]:
    """Every event line of the (uncompressed, single-file) logs in ``log_dir``."""
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(line for line in f if line.strip())
    return lines
