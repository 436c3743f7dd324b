"""Ops, layer spans and the Spark engine's view of them.

Every run records its ops (name, start, end, ok). A traced run also:

* wraps the package's public functions where their callers look them
  up (module attributes), recording a span per call: id, layer, start,
  end, parent span id (None for the op itself) and op id, in memory;
* gives each op its own Spark job group;
* after the run, reads ``/jobs``, ``/stages`` and ``/sql?details=true``
  from Spark's status REST API and joins them to ops by job group.

A layer's self time is its spans' durations minus the time their child
spans cover. Spans are per thread: ``scheduled_run``'s worker threads
each carry their own op.
"""

from __future__ import annotations

import datetime
import functools
import itertools
import json
import re
import sys
import threading
import time
import traceback
import types
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

PKG = "ark_invest_api_rust_data_spark"

# module -> layer. Functions of a module not listed here are not wrapped.
MODULE_LAYER = {
    f"{PKG}.sources.data_reader": "sources.data_reader",
    f"{PKG}.sources.parquet_store": "sources.parquet_store",
    f"{PKG}.operators.normalize": "operators.normalize",
    f"{PKG}.operators.adapters": "operators.normalize",
    f"{PKG}.operators.merge": "operators.merge",
    f"{PKG}.functions.rules": "functions.rules",
    f"{PKG}.functions.strings": "functions.strings",
    f"{PKG}.functions.casts": "functions.casts",
}
# the operator families the LLM probes call; any other operators module
# is reported as operators.other
FAMILIES = ("dedup", "similarity", "clustering", "pq", "text", "multimodal",
            "graph", "bm25")
FAMILY_OF = {"jpeg": "multimodal"}
# functions whose layer is finer than their module's
FUNCTION_LAYER = {
    f"{PKG}.operators.merge.watermark": "operators.merge.watermark",
    f"{PKG}.sources.parquet_store.read_ticker": "sources.parquet_store.read",
    f"{PKG}.sources.parquet_store.write_ticker": "sources.parquet_store.write",
    f"{PKG}.sources.parquet_store.write_lake": "sources.parquet_store.lake_commit",
    f"{PKG}.sources.parquet_store.write_lake_committed": "sources.parquet_store.lake_commit",
    f"{PKG}.sources.parquet_store.compact_lake": "sources.parquet_store.compact",
}
# the closing check: per op, self times must sum to the op's wall and
# its Spark jobs must fit inside it, within this share of the wall
CLOSURE_TOLERANCE = 0.05


def _layer_of(fn) -> str | None:
    mod = fn.__module__ or ""
    key = f"{mod}.{fn.__name__}"
    if key in FUNCTION_LAYER:
        return FUNCTION_LAYER[key]
    if mod in MODULE_LAYER:
        return MODULE_LAYER[mod]
    if mod.startswith(f"{PKG}.operators."):
        name = mod.rsplit(".", 1)[1]
        name = FAMILY_OF.get(name, name)
        return f"operators.{name if name in FAMILIES else 'other'}"
    return None


class Recorder:
    """Op and span bookkeeping for one run."""

    def __init__(self, spark, trace: bool):
        self.spark, self.trace = spark, trace
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._span_ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.timing = False  # ops are recorded only inside the timed phase

    # -- ops ---------------------------------------------------------
    @contextmanager
    def op(self, name: str, layer: str = "bench"):
        """One op: a closed-loop unit of work, timed end to end. Inside the
        timed phase an exception fails the op and is not re-raised."""
        if not self.timing:
            yield {}
            return
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "ok": True, "self": defaultdict(float), "calls": defaultdict(int)}
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"op{rec['id']}", name)
        self._local.op = rec
        self._local.stack = [[layer, 0.0, None]]  # [layer, child seconds, span id]
        rec["start"] = time.time()
        try:
            yield rec
        except Exception:  # noqa: BLE001 - the closed loop goes on; the op counts as failed
            rec["ok"] = False
            traceback.print_exc()
        finally:
            rec["end"] = time.time()
            top_layer, child, _ = self._local.stack[0]
            rec["self"][top_layer] += rec["end"] - rec["start"] - child
            self._local.op = None
            if self.trace:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.ops.append(rec)

    def op_wrapper(self, module, attr: str, name: str, layer: str, key=None) -> None:
        """Time every call of ``module.attr`` as an op (a thin wrapper);
        ``key(args, kwargs)`` labels the op, e.g. with its fund."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.op(name, layer) as rec:
                rec["key"] = key(a, k) if key else None
                return orig(*a, **k)

        self._patch(module, attr, wrapper, orig)

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, layer: str, fn_name: str | None = None):
        """A span of ``layer`` inside the current op (outside ops and in
        untraced runs, nothing is recorded)."""
        rec = getattr(self._local, "op", None)
        if rec is None or not self.trace:
            yield
            return
        stack = self._local.stack
        frame = [layer, 0.0, next(self._span_ids)]
        stack.append(frame)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            dur = end - start
            stack[-1][1] += dur
            rec["self"][layer] += dur - frame[1]
            rec["calls"][fn_name or layer] += 1
            with self._lock:
                self.spans.append({"id": frame[2], "op": rec["id"], "layer": layer,
                                   "start": start, "end": end, "parent": stack[-1][2]})

    def install_layers(self) -> None:
        """Wrap every public package function of a known layer in every
        loaded package module that holds it (its own module included, so
        function-local imports and intra-module calls are seen too)."""
        if not self.trace:
            return
        wrapped: dict[int, object] = {}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (not isinstance(fn, types.FunctionType) or attr.startswith("_")
                        or not (fn.__module__ or "").startswith(PKG)):
                    continue
                layer = _layer_of(fn)
                if layer is None:
                    continue
                if id(fn) not in wrapped:
                    wrapped[id(fn)] = self._layer_wrapper(fn, layer)
                self._patch(mod, attr, wrapped[id(fn)], fn)

    def _layer_wrapper(self, fn, layer: str):
        fn_name = f"{fn.__module__}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(layer, fn_name):
                return fn(*a, **k)
        return wrapper

    def _patch(self, module, attr, new, orig) -> None:
        setattr(module, attr, new)
        self._patched.append((module, attr, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- aggregation -------------------------------------------------
    def layer_totals(self) -> tuple[dict[str, float], dict[str, int]]:
        """Self seconds per layer, and calls per function (``module.name``)."""
        self_s: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for op in self.ops:
            for layer, s in op["self"].items():
                self_s[layer] += s
            for layer, n in op["calls"].items():
                calls[layer] += n
        return self_s, calls

    def engine(self) -> dict:
        """Per-op Spark job/stage/SQL metrics from the status REST API,
        the closing check, and the totals over all ops."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _rest(f"{base}/jobs")
        stages = _rest(f"{base}/stages")
        sql = _rest(f"{base}/sql?details=true&planDescription=false&length=1000000")

        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        first_job_of_stage: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j.get("stageIds", []):
                first_job_of_stage.setdefault(sid, j["jobId"])
        per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        intervals: dict[str, list] = defaultdict(list)
        for j in jobs:
            g = j.get("jobGroup")
            if g is None:
                continue
            per[g]["jobs"] += 1
            per[g]["failed_tasks"] += j.get("numFailedTasks", 0)
            if j.get("submissionTime") and j.get("completionTime"):
                intervals[g].append((_ts(j["submissionTime"]), _ts(j["completionTime"])))
        for s in stages:
            if s.get("status") not in ("COMPLETE", "FAILED"):
                continue
            g = group_of_job.get(first_job_of_stage.get(s["stageId"]))
            if g is None:
                continue
            p = per[g]
            p["stages"] += 1
            p["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            p["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
            p["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            p["input_mb"] += s.get("inputBytes", 0) / 2**20
            p["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 2**20
            p["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {group_of_job.get(i) for i in ids} - {None}
            if len(groups) != 1:
                continue
            p = per[groups.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PYTHON_METRICS.get(m.get("name"))
                    if key:
                        p[key] += _metric_value(m.get("value", ""))

        totals: dict[str, float] = defaultdict(float)
        closure_err = 0.0
        for op in self.ops:
            g = f"op{op['id']}"
            wall = op["end"] - op["start"]
            iv = intervals.get(g, [])
            busy = _union(iv, op["start"], op["end"])
            # job time the REST API places outside the op's own window
            outside = _union(iv, -1e18, 1e18) - busy
            for k, v in per.get(g, {}).items():
                totals[k] += v
            totals["driver_s"] += wall - busy
            self_sum = sum(op["self"].values())
            if wall > 0:
                closure_err = max(closure_err, (abs(self_sum - wall) + outside) / wall)
        totals["closure_err"] = closure_err
        return totals

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f)


PYTHON_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 2**-20, "KiB": 2**-10,
          "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}
_FIRST = re.compile(r"(-?[\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def _metric_value(text: str) -> float:
    """First '<number> <unit>' of a SQL metric string, as seconds or MB.
    Aggregated metrics read 'total (min, med, max ...)\\n12.3 MiB (...)'."""
    body = text.split("\n", 1)[-1]
    m = _FIRST.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _ts(s: str) -> float:
    return datetime.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _union(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:  # noqa: S310 - local UI
        return json.load(r)
