"""Spans and counters for the traced run, recorded from outside the engine.

`Tracer.install` wraps the public entry points of each engine layer
(registry `spec.fn` is wrapped by the caller; `LakehouseTable`,
`TransactionLog`, `LocalFileIO`, `fastwrite`, `pruning` and
`maintenance` functions here) plus py4j's `send_command`, which is only
counted. Wrappers record a span only while tracing is enabled, on the
main thread, inside an operation; otherwise they call straight through.
Spans stay in memory until the run writes them out.

`event_log_counters` reads Spark's JSON event log and sums job, stage,
task and Python-UDF counters per job group; the benchmark gives every
traced operation its own group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("op", "layer", "name", "start", "end", "parent", "py4j", "counts")

    def __init__(self, op, layer, name, start, parent):
        self.op, self.layer, self.name, self.start, self.parent = op, layer, name, start, parent
        self.end = start
        self.py4j = 0
        self.counts: dict[str, float] = {}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._op: str | None = None
        self._main = threading.get_ident()

    # -- spans ---------------------------------------------------------
    def _active(self) -> bool:
        return self.enabled and self._op is not None and threading.get_ident() == self._main

    def begin(self, layer: str, name: str) -> Span | None:
        if not self._active():
            return None
        span = Span(self._op, layer, name, time.perf_counter(), self._stack[-1] if self._stack else None)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return span

    def end(self, span: Span | None) -> None:
        if span is not None:
            span.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        span = self.begin(layer, name)
        try:
            yield span
        finally:
            self.end(span)

    def begin_op(self, op_id: str) -> Span | None:
        self._op = op_id
        return self.begin("op", op_id)

    def end_op(self, span: Span | None) -> None:
        self.end(span)
        self._op = None

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, counter=None) -> None:
        """Replace `owner.attr` with a traced call. `counter(args, kwargs,
        result)` returns extra counts for the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.begin(layer, attr)
            if span is None:
                return fn(*args, **kwargs)
            try:
                result = fn(*args, **kwargs)
            except Exception:
                span.counts["errors"] = span.counts.get("errors", 0) + 1
                raise
            finally:
                tracer.end(span)
            if counter is not None:
                span.counts.update(counter(args, kwargs, result))
            return result

        setattr(owner, attr, traced)

    def count_py4j(self, owner) -> None:
        fn = owner.send_command
        tracer = self

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if tracer._stack and tracer._active():
                tracer.spans[tracer._stack[-1]].py4j += 1
            return fn(*args, **kwargs)

        owner.send_command = counted

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        from local_datalakehouse_phase2_spark.lakehouse import fastwrite, fs, log, maintenance, pruning, table

        self.count_py4j(clientserver.ClientServerConnection)
        self.count_py4j(java_gateway.GatewayConnection)
        for attr in ("append", "merge", "delete_where", "read", "scan_plan", "files", "history"):
            self.wrap(table.LakehouseTable, attr, "table")
        for attr in _public_methods(log.TransactionLog):
            self.wrap(log.TransactionLog, attr, "log", _append_counter if attr == "append" else None)
        for attr in _public_methods(fs.LocalFileIO):
            self.wrap(fs.LocalFileIO, attr, "fs", _fs_counter(attr))
        for attr in ("write_rows", "rows_to_arrow"):
            self.wrap(fastwrite, attr, "fastwrite")
        self.wrap(pruning, "prune_files", "pruning", _prune_counter)
        for attr in ("rewrite_data_files", "expire_snapshots"):
            self.wrap(maintenance, attr, "maintenance")

    # -- reduction -------------------------------------------------------
    def per_op(self) -> dict[str, dict]:
        """For each operation: wall time, and per layer its self time
        (span time not covered by child spans), calls, py4j calls and
        counts. Per method name too, as `<layer>.<name>`."""
        children: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] += s.end - s.start
        ops: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            rec = ops.setdefault(s.op, {"wall_s": 0.0, "layers": {}, "methods": {}})
            if s.layer == "op":
                rec["wall_s"] = s.end - s.start
            self_s = (s.end - s.start) - children[i]
            for key, bucket in ((s.layer, rec["layers"]), (f"{s.layer}.{s.name}", rec["methods"])):
                agg = bucket.setdefault(key, {"self_s": 0.0, "calls": 0, "py4j": 0})
                agg["self_s"] += self_s
                agg["calls"] += 1
                agg["py4j"] += s.py4j
                for k, v in s.counts.items():
                    agg[k] = agg.get(k, 0) + v
        return ops

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"op": s.op, "layer": s.layer, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "py4j": s.py4j, "counts": s.counts}) + "\n")


def _public_methods(cls) -> list[str]:
    """Plain public methods; static and class methods and properties stay unwrapped."""
    return [
        a for a in dir(cls)
        if not a.startswith("_") and inspect.isfunction(inspect.getattr_static(cls, a))
    ]


def _fs_counter(attr: str):
    if attr == "read_text":
        def count(args, kwargs, result):
            path = args[1] if len(args) > 1 else kwargs.get("path", "")
            is_log = os.path.basename(os.path.dirname(path)) == "metadata" and path.endswith(".json")
            return {"log_files_read": int(is_log)}
        return count
    if attr in ("write_text_atomic", "create_exclusive"):
        # the primitives that write; create_exclusive_guarded writes through create_exclusive
        def count(args, kwargs, result):
            data = args[2] if len(args) > 2 else kwargs.get("data", "")
            return {"bytes_written": len(data.encode()) if isinstance(data, str) else 0}
        return count
    if attr == "create_exclusive_guarded":
        # log.append is its only caller, and retries a lost race inside itself
        def count(args, kwargs, result):
            return {"conflicts": int(result is False)}
        return count
    return None


def _append_counter(args, kwargs, result):
    """Bytes of the data and delete files a commit adds: Spark and
    fastwrite write them without going through the FileIO."""
    return {"data_bytes": sum(f.size_bytes for f in result.added_files)}


def _prune_counter(args, kwargs, result):
    kept, pruned = result
    return {"files_kept": len(kept), "files_seen": len(kept) + pruned}


# -- Spark event log -----------------------------------------------------------

_UDF_METRICS = {
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}
_ROW_METRICS = ("records read", "number of output rows")


def event_log_counters(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs (with their submission times in seconds since
    the epoch), stages, tasks, executor run/CPU seconds, input, shuffle
    and spill bytes, and the Python-UDF exec nodes' SQL metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_times: dict[str, list[float]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    rows_in: set[int] = set()  # accumulators counting the rows that feed a Python exec node
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        groups[group]["spark.jobs"] += 1
                        job_times[group].append(ev["Submission Time"] / 1000.0)
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                        groups[group]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = groups[group]
                    g["spark.tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = _UDF_METRICS.get(acc.get("Name"))
                        if name is None and acc.get("ID") in rows_in:
                            name = "udf.rows_to_python"
                        if name is not None:
                            g[name] += float(acc.get("Update") or 0)
                elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _python_input_rows(ev.get("sparkPlanInfo"), rows_in)
    out = {g: dict(v) for g, v in groups.items()}
    for g, times in job_times.items():
        out[g]["job_times"] = sorted(times)
    return out


def _python_input_rows(plan, acc: set[int]) -> None:
    """Add the row-count accumulator of the nearest node below each
    Python exec node (ArrowEvalPython, FlatMapGroupsInPandas, ...)."""
    if not plan:
        return
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        frontier = list(plan.get("children", []))
        while frontier:
            node = frontier.pop(0)
            ids = [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] in _ROW_METRICS]
            if ids:
                acc.add(ids[0])
                break
            frontier.extend(node.get("children", []))
    for child in plan.get("children", []):
        _python_input_rows(child, acc)
