"""Per-layer tracing from the benchmark's own code.

A traced iteration patches the public stage functions of the pipeline
modules by module attribute (the pipeline looks them up at call time), so
no engine file changes. Each wrapper

- opens a span (name, layer, start, end, parent) kept in memory;
- sets the Spark job group to the layer name, so the event log can be
  grouped by layer;
- forces its DataFrame result with ``persist`` + ``count``. Spark is lazy:
  without this, a span around ``stage_extract`` would time plan building
  and the work would land in whichever later call triggers it.

Counts that need an extra Spark job run after the span closes, under the
job group ``trace``, so they add to the traced wall time (reported as
``trace.overhead_s``) but not to any layer's span or event-log figures.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Span and count recorder for one benchmark run."""

    def __init__(self, spark, est_turns: int | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.est_turns = est_turns
        self.spans: list[dict] = []
        # iteration -> count name -> value
        self.counts: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.iteration = -1
        self._stack: list[int] = []
        self._persisted: list[DataFrame] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans, counts and job groups --------------------------------------
    def group(self, name: str | None) -> str | None:
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, name)
        return prev

    def span(self, name: str, layer: str, fn):
        prev_group = self.group(layer)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "iteration": self.iteration,
               "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            return fn()
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.group(prev_group)

    def add(self, key: str, value: float) -> None:
        self.counts[self.iteration][key] += value

    def extra_job(self, fn):
        """Run a count the trace needs, outside every layer's job group."""
        prev = self.group("trace")
        try:
            return fn()
        finally:
            self.group(prev)

    def force(self, df: DataFrame) -> int:
        df.persist()
        self._persisted.append(df)
        return df.count()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- patching ------------------------------------------------------------
    def patch(self, module, attr: str, wrapper_factory) -> None:
        original = getattr(module, attr)
        self._patched.append((module, attr, original))
        setattr(module, attr, functools.wraps(original)(wrapper_factory(original)))

    def unpatch(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def install_pipeline(self) -> None:
        """Wrap the pipeline's stage functions (see module docstring)."""
        from kgpipe import canon, extract, io_tables, link, pipeline

        def forced(orig, *args):
            out = orig(*args)
            return out, self.force(out)

        def ingest(orig):
            def w(transcripts):
                out, kept = self.span("pipeline.stage_ingest", "ingest",
                                      lambda: forced(orig, transcripts))
                rows_in = self.extra_job(transcripts.count)
                self.add("ingest.rows_in", rows_in)
                self.add("ingest.rows_out", kept)
                self.add("ingest.rows_dropped", rows_in - kept)
                return out
            return w

        def stage_extract(orig):
            def w(turns, entity_dict):
                out, n = self.span("extract.stage_extract", "extract",
                                   lambda: forced(orig, turns, entity_dict))
                self.add("extract.rows_out", n)
                return out
            return w

        def stage_link(orig):
            def w(raw, entity_dict):
                out, _n = self.span("link.stage_link", "link",
                                    lambda: forced(orig, raw, entity_dict))
                r = self.extra_job(lambda: out.agg(
                    F.sum((F.col("subj_kind") == "surface").cast("long")).alias("ss"),
                    F.sum((F.col("obj_kind") == "surface").cast("long")).alias("os"),
                    F.count("subj_link").alias("sl"),
                    F.count("obj_link").alias("ol"),
                ).collect()[0])
                self.add("link.surface_slots", (r["ss"] or 0) + (r["os"] or 0))
                self.add("link.linked_slots", r["sl"] + r["ol"])
                return out
            return w

        def stage_canon(orig):
            def w(linked):
                def run():
                    res = orig(linked)
                    self.force(res[0])
                    return res
                res = self.span("canon.stage_canon", "canon", run)
                self.add("publish.rows_in", res[0].count())  # cached by run()
                self.add("canon.unlinked_surfaces", self.extra_job(
                    canon.unlinked_surfaces(linked).count))
                self.add("canon.components", self.extra_job(
                    res[1].select("component").distinct().count))
                return res
            return w

        def write_stage(orig):
            # fused mode writes no stage checkpoints: the only write is the
            # E_triples sink, which is the publish step
            def w(df, path, stage, *a, **k):
                m = self.span(f"io_tables.write_stage:{stage}", "publish",
                              lambda: orig(df, path, stage, *a, **k))
                self.add("io_tables.bytes_written", dir_bytes(path))
                self.add("publish.rows_out", m["rows"])
                self.add("publish.files", sum(
                    f.endswith(".parquet")
                    for _r, _d, fs in os.walk(path) for f in fs))
                est = int(self.est_turns * pipeline.TRIPLES_PER_TURN_EST)
                self.add("publish.expected_write_tasks", pipeline.publish_task_count(
                    est, pipeline.N_TRIPLE_PARTS, self.sc.defaultParallelism))
                return m
            return w

        def read_stage(orig):
            # read_stage only plans the scan; forcing it times the read-back
            def w(spark, path, schema=None):
                out, _n = self.span(
                    f"io_tables.read_stage:{os.path.basename(path)}",
                    "io_tables.read", lambda: forced(orig, spark, path, schema))
                return out
            return w

        self.patch(pipeline, "stage_ingest", ingest)
        self.patch(extract, "stage_extract", stage_extract)
        self.patch(link, "stage_link", stage_link)
        self.patch(canon, "stage_canon", stage_canon)
        self.patch(io_tables, "write_stage", write_stage)
        self.patch(io_tables, "read_stage", read_stage)

    # -- summaries -------------------------------------------------------------
    def layer_seconds(self, iteration: int) -> dict[str, float]:
        """Wall seconds per layer in one iteration. A span nested in a span
        of the same layer is not added again."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["iteration"] != iteration:
                continue
            p = s["parent"]
            if p is not None and self.spans[p]["layer"] == s["layer"]:
                continue
            out[s["layer"]] += s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def eventlog_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over every event-log file in
    ``log_dir``: job and task counts, executor CPU, shuffle bytes written,
    spill, GC time, Python-worker time and bytes sent, and the task count
    of each group's last stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    last_stage: dict[str, tuple[int, int]] = {}
    files = sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(log_dir)
        for f in fs if f.startswith("events_"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_PROP)
                    if g:
                        out[g]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = out[g]
                    o["tasks"] += 1
                    o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        acc_name = acc.get("Name")
                        if acc_name == "time to run Python workers":
                            o["python_s"] += float(acc.get("Update", 0)) / 1e3
                        elif acc_name == "data sent to Python workers":
                            o["python_bytes"] += float(acc.get("Update", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    sid = info.get("Stage ID")
                    g = stage_group.get(sid)
                    if g is not None and sid >= last_stage.get(g, (-1, 0))[0]:
                        last_stage[g] = (sid, info.get("Number of Tasks", 0))
    for g, (_sid, n) in last_stage.items():
        out[g]["last_stage_tasks"] = n
    return out
