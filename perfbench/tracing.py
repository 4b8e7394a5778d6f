"""Traced-run instrumentation: call-site spans, job groups and the event log.

Spans come from ``nabu_spark.telemetry.Tracer`` (parent links, OTLP-shaped
JSONL export). Every span also becomes the Spark job group of the jobs
submitted while it is the innermost open span, so the event log attributes
jobs, tasks, executor CPU, shuffle, Python-worker traffic and bytes written
to exactly one layer.

Two kinds of span, both opened from the benchmark's own files and only
around traced iterations:

* ``Instrumented.span`` -- the benchmark's call sites (``cli.main``,
  ``pipeline.pages_to_quads_fused``); for a function returning a lazy
  DataFrame the span also covers the action that consumes the result;
* ``PATCHED`` -- public functions the program calls internally
  (``pipeline.run_extract_stage``, ``operators.release.write_release`` ...),
  wrapped in place on entering ``Instrumented`` and restored on exit. The
  ``LAZY`` ones return an unexecuted DataFrame; the program consumes it
  later, so the wrapper hands back the same DataFrame with its actions, its
  writer's saves and the actions on its ``agg`` results each opening a span
  of the layer. Any other derived DataFrame runs its jobs under whichever
  span is open at the action.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
from collections import defaultdict

from nabu_spark.telemetry import Tracer

ITERATION = "perfbench.iteration"

# (module, function) pairs wrapped around traced iterations; the layer is
# named by the module path below nabu_spark and the function
PATCHED = [
    ("pipeline", "run_extract_stage"),
    ("operators.stats", "crawl_stats"),
    ("pipeline", "run_quads_stage"),
    ("operators.release", "write_release"),
    ("operators.release", "release_bytesums"),
]
LAZY = {"operators.stats.crawl_stats", "operators.release.release_bytesums"}
_ACTIONS = ("collect", "count", "first", "head", "take", "toPandas",
            "toLocalIterator", "foreach", "foreachPartition")
_SAVES = ("save", "json", "parquet", "text", "csv", "orc", "saveAsTable",
          "insertInto")

# layer -> Spark-side metrics kept for it (self_s is kept for every layer);
# Python-worker traffic only where a Python UDF can run under the layer
_SPARK = ["jobs", "tasks", "exec_cpu_s", "shuffle_mb"]
_PY = ["py_sent_mb", "py_recv_mb"]
LAYERS = {
    "cli.main": _SPARK + ["out_mb"],
    "pipeline.run_extract_stage": _SPARK + _PY + ["out_mb"],
    "operators.stats.crawl_stats": _SPARK + ["out_mb"],
    "pipeline.run_quads_stage": _SPARK + _PY + ["out_mb"],
    "operators.release.write_release": _SPARK + _PY + ["out_mb"],
    "operators.release.release_bytesums": _SPARK + _PY + ["out_mb"],
    "pipeline.pages_to_quads_fused": _SPARK + _PY,
}


def layer_metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ["self_s"] + ms]


class Instrumented:
    """Tracer + job groups; entering it installs the patched wrappers,
    leaving it restores the originals. May be entered repeatedly."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracer = Tracer("nabu-perfbench")
        self._groups: list[tuple[str, str]] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attributes):
        with self.tracer.span(name, **attributes) as s:
            self._groups.append((s.span_id, name))
            self.sc.setJobGroup(s.span_id, name)
            try:
                yield s
            finally:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(*self._groups[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name: str, lazy: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._groups and self._groups[-1][1] == name:
                return fn(*args, **kwargs)  # first() -> head() -> take() ...
            with self.span(name):
                out = fn(*args, **kwargs)
            return self._consumed_in(out, name) if lazy else out

        return wrapper

    def _consumed_in(self, df, name: str):
        """``df``, its class swapped for a subclass whose actions, writer
        saves and ``agg`` results run in a span called ``name``."""
        base = type(df)
        wrap = self._wrap

        class Consumed(base):
            @property
            def write(frame):
                writer = base.write.fget(frame)
                for m in _SAVES:  # mode()/option()/partitionBy() return the writer
                    setattr(writer, m, wrap(getattr(writer, m), name))
                return writer

            def agg(frame, *exprs):
                return self._consumed_in(base.agg(frame, *exprs), name)

        for m in _ACTIONS:
            setattr(Consumed, m, wrap(getattr(base, m), name))
        df.__class__ = Consumed
        return df

    def __enter__(self):
        for module, attr in PATCHED:
            target = importlib.import_module(f"nabu_spark.{module}")
            original = getattr(target, attr)
            self._undo.append((target, attr, original))
            layer = f"{module}.{attr}"
            setattr(target, attr, self._wrap(original, layer, lazy=layer in LAZY))
        return self

    def __exit__(self, *exc):
        for target, attr, original in reversed(self._undo):
            setattr(target, attr, original)
        self._undo.clear()
        return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span id: duration minus the union of its children."""
    children = defaultdict(list)
    for s in spans:
        if s["parent_span_id"]:
            children[s["parent_span_id"]].append(
                (s["start_time_unix_nano"], s["end_time_unix_nano"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for a, b in sorted(children[s["span_id"]]):
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        dur = s["end_time_unix_nano"] - s["start_time_unix_nano"]
        out[s["span_id"]] = (dur - covered) / 1e9
    return out


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor CPU time, shuffle bytes written,
    Python-worker bytes, output bytes and the executor run time of tasks
    that ran a Python UDF (``py_exec_run_s``), from Spark's event log."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # a rolling log is a directory of events_* files, a plain log one file
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith(
                       (".", "appstatus")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        per_group[group]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = per_group[group]
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    g["out_mb"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0) / 1e6
                    ran_python = False
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == "data sent to Python workers":
                            g["py_sent_mb"] += float(upd or 0) / 1e6
                            ran_python = True
                        elif name == "data returned from Python workers":
                            g["py_recv_mb"] += float(upd or 0) / 1e6
                    if ran_python:
                        g["py_exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    return per_group


def layer_metrics(spans: list[dict], groups: dict[str, dict[str, float]],
                  iterations: int) -> tuple[dict, float, float, dict]:
    """Per-iteration means of every LAYERS metric, the traced iteration
    wall time, the share of it the layers' self times cover, and the raw
    totals (which also hold the unreported ``py_exec_run_s`` keys)."""
    own = self_times(spans)
    by_id = {s["span_id"]: s for s in spans}

    def in_iteration(s: dict) -> bool:
        # spans opened by output checks (outside the timed region) are not
        # part of any iteration and are left out
        while s["parent_span_id"]:
            s = by_id[s["parent_span_id"]]
        return s["name"] == ITERATION

    totals: dict[str, float] = defaultdict(float)
    wall = 0.0
    for s in spans:
        if s["name"] == ITERATION:
            wall += (s["end_time_unix_nano"] - s["start_time_unix_nano"]) / 1e9
            continue
        layer = s["name"]
        if layer not in LAYERS or not in_iteration(s):
            continue
        totals[f"{layer}.self_s"] += own[s["span_id"]]
        for key, val in groups.get(s["span_id"], {}).items():
            totals[f"{layer}.{key}"] += val
    per_iter = {name: totals.get(name, 0.0) / iterations for name in layer_metric_names()}
    self_sum = sum(v for k, v in per_iter.items() if k.endswith(".self_s"))
    wall /= iterations
    return per_iter, wall, (self_sum / wall if wall else 0.0), totals
