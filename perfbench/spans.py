"""Spans around the benchmark's calls into the engine, and the per-layer
metrics derived from them.

Every span is opened by the benchmark itself or by a wrapper that
``Tracer.install`` puts around an engine function from outside: it
replaces the module attribute (and every by-name import of it) with a
wrapper, so nothing under ``bubbles_spark/`` changes.  Layers:

``query``  one query execution (root; its id is the execution id)
``build``  the registered ``(spark, sf_dir)`` query function
``io``     ``bubbles_spark.io.load_table``
``ops``    public functions of ``bubbles_spark.ops.<m>``
``drain``  ``bubbles_spark.streaming.events`` drains (``run_batchlike`` ...)
``plan``   forcing ``queryExecution().executedPlan()``
``exec``   the noop sink write

Each span sets the Spark job group to ``pb-<span id>``, so every job
the driver thread submits is attributed to the innermost open span.
Micro-batch jobs run on the stream's own thread and group, so the
streaming layer is counted by a ``StreamingQueryListener`` instead.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict

GROUP_PREFIX = "pb-"
# ops modules reported one by one; the others are summed as ops.other
OPS_MODULES = ("core", "stattests", "events")
DRAINS = ("run_batchlike", "stream_to_parquet", "admit_stream_against_index")
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def span(self, layer: str, name: str, qexec: str | None = None):
        return _Span(self, layer, name, qexec)

    def _open(self, layer: str, name: str, qexec: str | None) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "qexec": qexec or (parent["qexec"] if parent else None),
            "layer": layer,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        _set_group(GROUP_PREFIX + str(rec["id"]))
        return rec

    def _close(self, rec: dict) -> None:
        rec["t1"] = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        _set_group(GROUP_PREFIX + str(parent["id"]) if parent else None)

    # -- wrappers ----------------------------------------------------
    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap ``io.load_table``, the public functions of every
        ``bubbles_spark.ops`` module and the streaming drains."""
        import bubbles_spark.io as io_mod
        import bubbles_spark.ops as ops_pkg
        import bubbles_spark.streaming.events as sev

        targets = [("io", "io.load_table", io_mod, "load_table")]
        targets += [("drain", f"streaming.{n}", sev, n) for n in DRAINS]
        for info in pkgutil.iter_modules(ops_pkg.__path__):
            mod = importlib.import_module(f"bubbles_spark.ops.{info.name}")
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    targets.append(("ops", f"ops.{info.name}.{attr}", mod, attr))
        originals = {}
        for layer, name, mod, attr in targets:
            fn = getattr(mod, attr)
            originals[id(fn)] = self.wrap(layer, name, fn)
        # rebind every reference, including ``from x import f`` copies
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (
                mname == "__spark_entry__" or mname.startswith("bubbles_spark")
            ):
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None and inspect.isfunction(val):
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str, qexec: str | None):
        self.tracer, self.args = tracer, (layer, name, qexec)

    def __enter__(self):
        self.rec = self.tracer._open(*self.args)
        return self.rec

    def __exit__(self, *exc):
        self.tracer._close(self.rec)
        return False


def _set_group(group: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", group)


class StreamCounter:
    """Counts micro-batches and input rows from streaming progress
    events (micro-batch jobs escape the driver thread's job group)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.batches = 0
        self.rows = 0

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.batches += 1
                counter.rows += int(event.progress.numInputRows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until no progress event has arrived for 0.5 s."""
        end = time.monotonic() + timeout_s
        last = (-1, -1)
        while time.monotonic() < end and last != (self.batches, self.rows):
            last = (self.batches, self.rows)
            time.sleep(0.5)


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far, from the GC MXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def storage(spark) -> tuple[int, float]:
    """(RDDs holding cached blocks, their memory + disk MB)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group totals from a finished Spark event log: jobs,
    stages, tasks, executor run time and shuffle bytes."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[jid] = group
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[job_group.get(stage_job.get(sid), "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = out[job_group.get(stage_job.get(ev["Stage ID"]), "")]
                acc["tasks"] += 1
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    return out


def layer_metrics(spans: list[dict], groups: dict[str, dict], passes: int) -> dict[str, float]:
    """Per-pass per-layer figures from the spans of ``passes`` traced
    passes and the event-log totals of their job groups."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["t1"] - s["t0"]

    def job_stat(span, key):
        return groups.get(GROUP_PREFIX + str(span["id"]), {}).get(key, 0.0)

    m: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["t1"] - s["t0"]
        layer = s["layer"]
        if layer == "io":
            m["io.load_calls"] += 1
            m["io.load_s"] += dur
            m["io.load_jobs"] += job_stat(s, "jobs")
        elif layer == "build":
            m["build.s"] += dur
        elif layer == "drain":
            m["streaming.drains"] += 1
            m["streaming.drain_s"] += dur
        elif layer == "plan":
            m["plan.s"] += dur
        elif layer == "exec":
            m["exec.s"] += dur
            for key in ("jobs", "stages", "tasks", "executor_run_s",
                        "shuffle_read_mb", "shuffle_write_mb"):
                m[f"exec.{key}"] += job_stat(s, key)
        if layer in ("io", "drain"):  # both only run inside the query function
            m["build.s"] -= dur
        if layer in ("build", "ops"):
            m["build.jobs"] += job_stat(s, "jobs")
            m["build.tasks"] += job_stat(s, "tasks")
        if layer == "ops":
            mod = s["name"].split(".")[1]
            mod = mod if mod in OPS_MODULES else "other"
            m[f"ops.{mod}.self_s"] += dur - child_s[s["id"]]
            m[f"ops.{mod}.calls"] += 1
            m[f"ops.{mod}.jobs"] += job_stat(s, "jobs")
    out = {k: v / passes for k, v in m.items()}
    out["io.jobs_per_load"] = m["io.load_jobs"] / m["io.load_calls"] if m["io.load_calls"] else 0.0
    return out

