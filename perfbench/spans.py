"""Spans around the engine's public calls, for the traced run only.

``Tracer.install`` replaces each traced function at the name its caller
looks it up (``cdc.runner.read_batch``, ``lake.merge.write_data_files``,
``IceboxTable.commit``, ...) with a wrapper that records one span:
name, start, end, parent, thread and run id.  Spans stay in memory and
are written out when the run ends.  Each span on the main thread also
sets the Spark job group to its own id, so the stage task metrics in
Spark's event log can be attributed to the innermost span, and through
it to a layer.  Spans opened on another thread (the runner's segment
prefetch) count as overlapped: they do not block their parent.

A span's self time is its duration minus the time its blocking child
spans cover.  Layer metrics are totals over the timed loop divided by
the number of loop iterations.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

#: (module, attribute, span name) — each is replaced at the name the
#: caller looks up, so the engine itself is not edited
TARGETS = [
    ("stellar_ingest.cdc.runner", "run_increment", "runner.epoch"),
    ("stellar_ingest.cdc.runner", "_fence_and_repair", "runner.fence"),
    ("stellar_ingest.cdc.runner", "split_valid", "runner.validate"),
    ("stellar_ingest.cdc.runner", "align_renames", "runner.schema"),
    ("stellar_ingest.cdc.runner", "ensure_table_schema", "runner.schema"),
    ("stellar_ingest.cdc.runner", "table_schema_for", "runner.schema"),
    ("stellar_ingest.cdc.runner", "list_segments", "source.list"),
    ("stellar_ingest.cdc.runner", "select_batch", "source.select"),
    ("stellar_ingest.cdc.runner", "read_batch", "source.read_batch"),
    ("stellar_ingest.cdc.runner", "merge_apply", "merge.cow"),
    ("stellar_ingest.cdc.runner", "delta_apply", "merge.mor"),
    ("stellar_ingest.cdc.lineage", "observed_stats", "lineage.observe"),
    ("stellar_ingest.cdc.lineage", "emit", "lineage.emit"),
    ("stellar_ingest.cdc.checkpoint", "load", "checkpoint.load"),
    ("stellar_ingest.cdc.checkpoint", "save", "checkpoint.save"),
    ("stellar_ingest.lake.merge", "write_data_files", "write.files"),
    ("stellar_ingest.lake.merge", "scan", "merge.scan"),
    ("stellar_ingest.lake.maintain", "fold_deltas", "maintain.fold"),
    ("stellar_ingest.lake.maintain", "write_data_files", "write.files"),
    ("stellar_ingest.lake.maintain", "scan", "maintain.scan"),
    ("stellar_ingest.lake.core", "IceboxTable.commit", "core.commit"),
]

#: layers whose spans launch Spark jobs: a stage counts toward the layer
#: of the innermost span that launched it, except that the rewrite
#: inside a fold counts toward ``maintain`` rather than ``write``
SPARK_LAYERS = ("write", "maintain", "read", "query")
SPARK_METRICS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "task_skew",
)


def _resolve(mod_name: str, attr: str):
    import importlib

    owner = importlib.import_module(mod_name)
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, leaf


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._open_main: list[int] = []
        self._restore: list[tuple] = []
        self.enabled = False

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        main = threading.get_ident() == self._main
        st = self._stack()
        if st:
            parent = st[-1]
        else:  # a helper thread's span was caused by the open main-thread span
            parent = self._open_main[-1] if self._open_main else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent,
                    "thread": threading.get_ident(),
                    "blocking": main,
                    "run": self.run_id,
                    "start": time.monotonic(),
                    "end": None,
                    "info": {},
                }
            )
        st.append(sid)
        if main:
            self._open_main.append(sid)
            self.sc.setJobGroup(f"span-{sid}", name)
        return sid

    def end(self, sid: int, **info) -> None:
        span = self.spans[sid]
        span["end"] = time.monotonic()
        span["info"].update(info)
        st = self._stack()
        st.pop()
        if span["blocking"]:
            self._open_main.pop()
            if self._open_main:
                top = self._open_main[-1]
                self.sc.setJobGroup(f"span-{top}", self.spans[top]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = self.begin(name)
        info = {}
        try:
            out = fn(*args, **kwargs)
            info = _describe(name, args, out)
            return out
        finally:
            self.end(sid, **info)

    # -- wrappers ---------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, name in TARGETS:
            owner, leaf = _resolve(mod_name, attr)
            orig = owner.__dict__[leaf]

            def make(orig=orig, name=name):
                @functools.wraps(orig)
                def wrapper(*args, **kwargs):
                    return self.call(name, orig, *args, **kwargs)

                return wrapper

            setattr(owner, leaf, make())
            self._restore.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._restore):
            setattr(owner, leaf, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _describe(name: str, args, out) -> dict:
    """Counts recorded at the boundary where the work happens."""
    if name == "source.list":
        return {"segments": len(out)}
    if name == "source.read_batch":
        return {"paths": len(args[1])}
    if name == "runner.epoch":
        return {"epochs": len({r["epoch"] for r in out}), "rows": sum(r["rows"] for r in out)}
    if name == "write.files":
        table = args[1]
        return {
            "files": len(out),
            "rows": sum(e["rows"] for e in out),
            "bytes": sum(os.path.getsize(os.path.join(table.root, e["path"])) for e in out),
            "buckets": sorted({int(e["bucket"]) for e in out}),
        }
    if name == "maintain.fold":
        return {"committed": out is not None}
    return {}


# -- analysis -------------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["blocking"]:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union(kids.get(s["id"], []))
        for s in spans
    }


def _within_fold(sid: int, by_id: dict[int, dict]) -> bool:
    p = by_id[sid]["parent"]
    while p is not None:
        if by_id[p]["name"] == "maintain.fold":
            return True
        p = by_id[p]["parent"]
    return False


def span_metrics(spans: list[dict], iterations: int) -> dict[str, float]:
    """Layer metrics from the spans of the timed loop, per iteration."""
    spans = [s for s in spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    selft = self_times(spans)
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    m: dict[str, float] = {}

    def tot(name, f=lambda s: dur[s["id"]]):
        return sum(f(s) for s in spans if s["name"] == name)

    def cnt(name):
        return sum(1 for s in spans if s["name"] == name)

    m["runner.epochs"] = tot("runner.epoch", lambda s: s["info"].get("epochs", 0))
    m["runner.epoch_s"] = tot("runner.epoch")
    m["runner.self_s"] = tot("runner.epoch", lambda s: selft[s["id"]])
    lists = [s for s in spans if s["name"] == "source.list"]
    m["source.list_calls"] = len(lists)
    m["source.list_s"] = sum(dur[s["id"]] for s in lists if s["blocking"])
    m["source.list_overlapped_s"] = sum(dur[s["id"]] for s in lists if not s["blocking"])
    m["source.segments"] = max((s["info"].get("segments", 0) for s in lists), default=0)
    m["source.read_batch_s"] = tot("source.read_batch")
    m["source.batch_paths"] = tot("source.read_batch", lambda s: s["info"].get("paths", 0))
    m["lineage.emit_s"] = tot("lineage.emit")
    m["checkpoint.save_s"] = tot("checkpoint.save")
    m["merge.cow_s"] = tot("merge.cow")
    m["merge.mor_s"] = tot("merge.mor")
    m["merge.self_s"] = sum(selft[s["id"]] for s in spans if s["name"].startswith("merge."))
    writes = [s for s in spans if s["name"] == "write.files"]
    merge_writes = [
        s for s in writes if by_id.get(s["parent"], {}).get("name") in ("merge.cow", "merge.mor")
    ]
    m["merge.touched_buckets"] = sum(len(s["info"].get("buckets", [])) for s in merge_writes)
    m["write.s"] = sum(dur[s["id"]] for s in writes)
    m["write.files"] = sum(s["info"].get("files", 0) for s in writes)
    m["write.rows"] = sum(s["info"].get("rows", 0) for s in writes)
    m["write.bytes"] = sum(s["info"].get("bytes", 0) for s in writes)
    applied = tot("runner.epoch", lambda s: s["info"].get("rows", 0))
    m["write.amplification"] = m["write.rows"] / applied if applied else 0.0
    m["core.commit_calls"] = cnt("core.commit")
    m["core.commit_s"] = tot("core.commit")
    folds = [s for s in spans if s["name"] == "maintain.fold"]
    m["maintain.fold_calls"] = len(folds)
    committed = sum(1 for s in folds if s["info"].get("committed"))
    m["maintain.folds_committed"] = committed / len(folds) if folds else 0.0
    m["maintain.fold_s"] = sum(dur[s["id"]] for s in folds)
    m["maintain.bytes_rewritten"] = sum(
        s["info"].get("bytes", 0) for s in writes if _within_fold(s["id"], by_id)
    )
    m["read.lookup_s"] = tot("read.lookup")
    m["read.scan_plan_s"] = tot("read.scan_plan")
    m["read.scan_exec_s"] = tot("read.scan_exec")
    m["query.total_s"] = sum(dur[s["id"]] for s in spans if s["name"].startswith("query."))
    for s in spans:
        if s["name"].startswith("query."):
            key = f"{s['name']}_s"
            m[key] = m.get(key, 0.0) + dur[s["id"]]
    per = max(1, iterations)
    skip = {"source.segments", "write.amplification", "maintain.folds_committed"}
    out = {k: (v if k in skip else v / per) for k, v in m.items()}
    loops = [s for s in spans if s["name"] == "bench.loop"]
    wall = sum(dur[s["id"]] for s in loops)
    out["trace.wall_s"] = wall / per
    out["trace.blocking_self_s"] = sum(selft[s["id"]] for s in spans if s["blocking"]) / per
    out["trace.unattributed_s"] = sum(selft[s["id"]] for s in loops) / per
    return out


def spark_metrics(event_dir: str, spans: list[dict], iterations: int) -> dict[str, float]:
    """Stage task metrics from Spark's event log, attributed to the layer
    of the span whose job group launched the stage."""
    by_id = {s["id"]: s for s in spans}
    stage_layer: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith("span-"):
                        span = by_id.get(int(group[5:]))
                        if span is not None:
                            layer = span["name"].split(".")[0]
                            if _within_fold(span["id"], by_id):
                                layer = "maintain"
                            stage_layer[ev["Stage Info"]["Stage ID"]] = layer
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    acc = {layer: dict.fromkeys(SPARK_METRICS, 0.0) for layer in SPARK_LAYERS}
    for stage, layer in stage_layer.items():
        if layer not in acc or stage not in tasks:
            continue
        a, ts = acc[layer], tasks[stage]
        a["stages"] += 1
        a["tasks"] += len(ts)
        runs = [t.get("Executor Run Time", 0) for t in ts]
        a["executor_run_s"] += sum(runs) / 1e3
        a["executor_cpu_s"] += sum(t.get("Executor CPU Time", 0) for t in ts) / 1e9
        a["gc_s"] += sum(t.get("JVM GC Time", 0) for t in ts) / 1e3
        for t in ts:
            sw = t.get("Shuffle Write Metrics") or {}
            sr = t.get("Shuffle Read Metrics") or {}
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["spill_bytes"] += t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0)
            a["input_bytes"] += (t.get("Input Metrics") or {}).get("Bytes Read", 0)
            a["output_bytes"] += (t.get("Output Metrics") or {}).get("Bytes Written", 0)
        med = statistics.median(runs) if runs else 0
        if len(runs) > 1 and med > 0:
            a["task_skew"] = max(a["task_skew"], max(runs) / med)
    per = max(1, iterations)
    return {
        f"{layer}.spark.{m}": (v if m == "task_skew" else v / per)
        for layer, a in acc.items()
        for m, v in a.items()
    }
