"""Tracing for the benchmark: spans around the benchmark's own calls into
each layer, plus readers for the counters Spark already keeps (the SQL
status store, the core stage store and streaming progress).

Spans stay in memory and are written out once, at the end of a run.
Nothing here edits the engine: the traced run wraps the engine's entry
points (``Parser.parse``, ``compile_sql`` at each module that imported
it, ``Catalog.load``) from the outside and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time

# layers the benchmark can wrap a call into; python and state have no
# entry point of their own, so their cost is read from Spark's stores
LAYERS = ["parser", "translator", "catalog", "exec", "runtime", "server", "bench"]


class Tracer:
    """In-memory span store; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._main = threading.get_ident()
        self._stacks: dict[int, list] = {}
        self._lock = threading.Lock()
        self._count_lock = threading.Lock()
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stacks.setdefault(threading.get_ident(), [])
        # work another thread does for the main thread (the REST handler,
        # foreachBatch callbacks) nests under the main thread's open span
        outer = stack or self._stacks.get(self._main) or []
        rec = {"name": name, "layer": layer,
               "parent": outer[-1]["id"] if outer else None,
               "t0": time.perf_counter(), "py4j0": self.py4j_calls, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")

    # -- wrapping the engine's entry points --------------------------------
    def _patch(self, owner, attr: str, layer: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name, layer):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Wrap parse, compile and catalog loads, and count py4j round
        trips (object-release messages excluded: their number depends on
        when Python's garbage collector runs)."""
        if not self.enabled:
            return
        import sys

        from ekuiper_spark import catalog, parser, translator
        from ekuiper_spark.streaming import runtime

        self._main = threading.get_ident()
        self._patch(parser.Parser, "parse", "parser", "parse")
        self._patch(runtime.RuleRuntime, "start_rule", "runtime", "rule_start")
        for mod in (translator, runtime, sys.modules.get("__spark_entry__"),
                    sys.modules.get("ekuiper_spark.server")):
            if mod is not None and hasattr(mod, "compile_sql"):
                self._patch(mod, "compile_sql", "translator", "compile")
        self._patch(catalog.Catalog, "load", "catalog", "catalog_load")

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counting_send(command, *a, **kw):
            if not command.startswith("m\n"):
                with tracer._count_lock:
                    tracer.py4j_calls += 1
            return send(command, *a, **kw)

        client.send_command = counting_send
        self._undo.append((client, "send_command", send))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reports ------------------------------------------------------------
    def self_times(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans, over
        ``spans`` (default: all)."""
        spans = self.spans if spans is None else spans
        child = {}
        for s in spans:
            if s["parent"] is not None and "t1" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            if "t1" in s:
                out[s["layer"]] += max(0.0, s["t1"] - s["t0"] - child.get(s["id"], 0.0))
        return out


# -- Spark's status stores ----------------------------------------------------
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric: '10,000', '16.1 KiB', '3 ms', or the
    multi-task form 'total (min, med, max ...)\\n49 ms (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def last_execution_id(spark) -> int:
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = ex.size()
    return ex.apply(n - 1).executionId() if n else -1


_PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
             "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
             "TransformWithStateInPandas", "AggregateInPandas", "WindowInPandas",
             "PythonMapInArrow", "ArrowWindowPython", "ArrowAggregatePython")


def sql_metrics(spark, after_exec_id: int) -> dict:
    """Aggregate the plan-node metrics of every SQL execution newer than
    ``after_exec_id``; also returns the stage ids those executions ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    out = {"executions": 0, "operator_rows": 0, "scan_rows": 0, "files_read": 0,
           "scan_s": 0.0, "broadcast_bytes": 0.0, "py_rows_sent": 0,
           "py_bytes_sent": 0.0, "py_bytes_returned": 0.0, "py_run_s": 0.0,
           "plan_nodes": 0}
    stages: set[int] = set()
    for i in range(ex.size()):
        x = ex.apply(i)
        eid = x.executionId()
        if eid <= after_exec_id:
            continue
        out["executions"] += 1
        it = x.stages().iterator()
        while it.hasNext():
            stages.add(int(it.next()))
        vals = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = graph.allNodes()
        rows_of: dict[int, int] = {}
        kind_of: dict[int, str] = {}
        for j in range(nodes.size()):
            nd = nodes.apply(j)
            kind = nd.name().split(" ")[0]
            kind_of[nd.id()] = kind
            out["plan_nodes"] += 1
            ms = nd.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                opt = vals.get(pm.accumulatorId())
                if not opt.isDefined():
                    continue
                v = _metric_value(opt.get())
                name = pm.name()
                if name == "number of output rows":
                    out["operator_rows"] += int(v)
                    rows_of[nd.id()] = int(v)
                    if kind == "Scan":
                        out["scan_rows"] += int(v)
                elif kind == "Scan" and name == "number of files read":
                    out["files_read"] += int(v)
                elif kind == "Scan" and name == "scan time":
                    out["scan_s"] += v
                elif kind == "BroadcastExchange" and name == "data size":
                    out["broadcast_bytes"] += v
                elif name == "data sent to Python workers":
                    out["py_bytes_sent"] += v
                elif name == "data returned from Python workers":
                    out["py_bytes_returned"] += v
                elif name == "time to run Python workers":
                    out["py_run_s"] += v
        # rows sent to Python = output rows of the node feeding a Python node
        edges = graph.edges()
        child_of: dict[int, list[int]] = {}
        for j in range(edges.size()):
            e = edges.apply(j)
            child_of.setdefault(e.toId(), []).append(e.fromId())
        for nid, kind in kind_of.items():
            if kind in _PY_NODES:
                todo = list(child_of.get(nid, []))
                while todo:
                    c = todo.pop()
                    if c in rows_of:
                        out["py_rows_sent"] += rows_of[c]
                    else:
                        todo.extend(child_of.get(c, []))
    out["stages"] = sorted(stages)
    return out


def stage_metrics(spark, stage_ids) -> dict:
    """Executor time, tasks, shuffle and spill over the given stages, and
    the worst stage's max / median task run time."""
    sc = spark.sparkContext
    gw = sc._gateway
    core = spark._jsc.sc().statusStore()
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out = {"cpu_s": 0.0, "run_s": 0.0, "tasks": 0, "shuffle_write_bytes": 0,
           "shuffle_records": 0, "spill_bytes": 0, "task_skew": 1.0}
    for sid in stage_ids:
        try:
            sd = core.stageAttempt(sid, 0, False, None, False,
                                   gw.new_array(gw.jvm.double, 0))._1()
        except Exception:
            continue  # evicted or skipped
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["run_s"] += sd.executorRunTime() / 1e3
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_records"] += sd.shuffleWriteRecords()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.numCompleteTasks() > 1:
            summ = core.taskSummary(sid, 0, q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], mx / med)
    return out


def progress_metrics(progress: list[dict]) -> dict:
    """Micro-batch breakdown and state-store figures from streaming
    progress events (one list per rule, concatenated)."""
    def p50(xs):
        return statistics.median(xs) if xs else 0.0

    dur = [p.get("durationMs") or {} for p in progress]
    state = [op for p in progress for op in (p.get("stateOperators") or [])]
    return {
        "batches": len(progress),
        "batch_ms": p50([d.get("triggerExecution", 0) for d in dur]),
        "add_batch_ms": p50([d.get("addBatch", 0) for d in dur]),
        "planning_ms": p50([d.get("queryPlanning", 0) for d in dur]),
        "commit_ms": p50([d.get("walCommit", 0) + d.get("commitOffsets", 0)
                          for d in dur]),
        "state_rows_total": max([op.get("numRowsTotal", 0) for op in state] or [0]),
        "state_rows_updated": sum(op.get("numRowsUpdated", 0) for op in state),
        "state_memory_bytes": max([op.get("memoryUsedBytes", 0) for op in state] or [0]),
        "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in state),
        "backlog_rows": max([_backlog(p) for p in progress] or [0]),
    }


def _backlog(p: dict) -> float:
    """Rows the source had released but the batch did not take."""
    total = 0.0
    for s in p.get("sources") or []:
        try:
            total += max(0.0, float(s.get("latestOffset")) - float(s.get("endOffset")))
        except (TypeError, ValueError):
            continue  # offsets of this source are not plain row counts
    return total


def _span_ms(spans, name: str, self_only: bool = False) -> float:
    ids = {s["id"] for s in spans}
    kids: dict[int, float] = {}
    if self_only:
        for s in spans:
            if s["parent"] in ids:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    return 1000.0 * sum(max(0.0, s["t1"] - s["t0"] - kids.get(s["id"], 0.0))
                        for s in spans if s["name"] == name and "t1" in s)


def layer_metrics(tracer: Tracer, spark, after_exec_id: int, progress: list[dict],
                  units: float, spans: list[dict] | None = None) -> dict:
    """Every per-layer metric for one traced region.  Totals are divided
    by ``units`` (a pass or a second of streaming); medians,
    maxima and ratios are not."""
    spans = tracer.spans if spans is None else spans
    spans = [s for s in spans if "t1" in s]
    sql = sql_metrics(spark, after_exec_id)
    st = stage_metrics(spark, sql["stages"])
    pr = progress_metrics(progress)
    per = {
        "parser.parse_ms": _span_ms(spans, "parse"),
        "translator.compile_ms": _span_ms(spans, "compile", self_only=True),
        "translator.py4j_calls": sum(s["py4j"] for s in spans if s["name"] == "compile"),
        "translator.plan_ms": _span_ms(spans, "plan"),
        "translator.plan_nodes": sum(s.get("nodes", 0) for s in spans if s["name"] == "plan"),
        "catalog.load_ms": _span_ms(spans, "catalog_load", self_only=True),
        "catalog.scan_ms": 1000.0 * sql["scan_s"],
        "catalog.scan_rows": sql["scan_rows"],
        "catalog.files_read": sql["files_read"],
        "exec.execute_ms": _span_ms(spans, "execute"),
        "exec.operator_rows": sql["operator_rows"],
        "exec.cpu_s": st["cpu_s"],
        "exec.run_s": st["run_s"],
        "exec.tasks": st["tasks"],
        "exec.shuffle_write_bytes": st["shuffle_write_bytes"],
        "exec.shuffle_records": st["shuffle_records"],
        "exec.spill_bytes": st["spill_bytes"],
        "exec.broadcast_bytes": sql["broadcast_bytes"],
        "python.rows_sent": sql["py_rows_sent"],
        "python.bytes_sent": sql["py_bytes_sent"],
        "python.bytes_returned": sql["py_bytes_returned"],
        "python.run_s": sql["py_run_s"],
        "runtime.batches": pr["batches"],
        "state.rows_updated": pr["state_rows_updated"],
        "state.commit_ms": pr["state_commit_ms"],
        "server.requests": sum(1 for s in spans if s["layer"] == "server"),
        "server.errors": sum(1 for s in spans if s.get("status", 0) >= 400),
    }
    out = {k: v / units for k, v in per.items()}
    out.update({
        "exec.task_skew": st["task_skew"],
        "runtime.start_ms": start_median(spans),
        "runtime.batch_ms": pr["batch_ms"],
        "runtime.add_batch_ms": pr["add_batch_ms"],
        "runtime.planning_ms": pr["planning_ms"],
        "runtime.commit_ms": pr["commit_ms"],
        "runtime.backlog_rows": pr["backlog_rows"],
        "state.rows_total": pr["state_rows_total"],
        "state.memory_bytes": pr["state_memory_bytes"],
    })
    return out


def start_median(spans: list[dict]) -> float:
    """p50 wall time of ``RuleRuntime.start_rule``."""
    xs = [1000.0 * (s["t1"] - s["t0"]) for s in spans
          if s["name"] == "rule_start" and "t1" in s]
    return statistics.median(xs) if xs else 0.0


def route_medians(spans: list[dict]) -> dict:
    """p50 wall time of each REST route's requests, client side."""
    out = {}
    for route in ("start", "status", "delete"):
        xs = [1000.0 * (s["t1"] - s["t0"]) for s in spans
              if s["name"] == route and s["layer"] == "server" and "t1" in s]
        out[f"server.{route}_ms"] = statistics.median(xs) if xs else 0.0
    return out


# -- memory -------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree_pss_kb() -> int:
    """Proportional set size summed over this process and its descendants:
    pages the forked Python workers share are counted once."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak memory of this process and all its descendants (the driver,
    the JVM and the Python workers) as summed proportional set size,
    sampled every ``period`` seconds from a daemon thread."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb())
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0
