"""Traced pipeline run: spans and per-layer Spark metrics, from outside.

``Tracer`` wraps, at run time and only while installed,
``StageRunner.stage``, ``plans.pipeline.run_kg_pipeline``, ``cli.main``
and ``operators.linking._with_scored`` (whose frames, one row per
linked-against mention with one ``scored`` entry per candidate the
linker scored, give ``cands_per_mention``). Each stage's build runs under ``sc.setJobGroup(<layer>)``
and its output is then forced (noop sink, row count by ``Observation``)
under the same group, so every Spark job, eager collects inside the
build included, lands in exactly one layer. Per layer it reads executor
run time, CPU, GC, shuffle write, spill and task-time quantiles from
the status store, and Spark's Python SQL metrics (data sent/received,
time in the workers) from the SQL executions the layer's jobs ran.
Spans stay in memory until ``spans()`` is read at the end of the run.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation, functions as F

from pg_iui_ner_api_spark import cli
from pg_iui_ner_api_spark.operators import linking
from pg_iui_ner_api_spark.plans import lineage, pipeline

# StageRunner stage name -> benchmark layer
STAGE_LAYER = {
    "extraction": "ner",
    "linked_mentions": "linking",
    "components": "components.cc",
    "nodes": "components.nodes",
    "edges": "triples",
    "edges_by_subj": "lineage",
}
# display name of each Python SQL metric (PythonSQLMetrics) -> key
PY_METRICS = {
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
}
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_MB = 2.0**20


def _parse(text: str) -> float:
    """A rendered SQL metric ('1.7 s', '633.5 KiB', or 'total (min, med,
    max ...)\\n894 ms (...)') in seconds or bytes."""
    m = re.match(r"\s*([\d.,]+)\s*(\w+)", text.splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def python_sql_metrics(spark, job_layer: dict[int, str] | None = None,
                       node: str | None = None) -> dict[str, dict[str, float]]:
    """Python SQL metrics per layer, where an SQL execution belongs to the
    layer of its jobs in ``job_layer`` (executions of other jobs are
    skipped; with no mapping every execution counts, under ""). With
    ``node``, only plan nodes of that name count. A cached plan shows up
    in every execution that reads it, so each metric counts once, for
    the first execution that reports it."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    seen: set[int] = set()
    out: dict[str, dict[str, float]] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        layer = ""
        if job_layer is not None:
            jobs = [int(j) for j in e.jobs().keys().mkString(",").split(",") if j]
            layer = next((job_layer[j] for j in jobs if j in job_layer), None)
            if layer is None:
                continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for n in range(nodes.size()):
            gn = nodes.apply(n)
            if node is not None and gn.name() != node:
                continue
            ms = gn.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rec = out.setdefault(layer, {})
                    rec[key] = rec.get(key, 0.0) + _parse(v.get())
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.layers: dict[str, dict[str, float]] = {}
        self._spans: list[dict] = []
        self._open: list[int] = []
        self._scored: list = []  # frames _with_scored returned

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self._spans)
        self._spans.append({"name": name, "parent": parent,
                            "start": time.monotonic(), "end": None})
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self._spans[idx]["end"] = time.monotonic()

    def spans(self) -> list[dict]:
        return list(self._spans)

    def _add(self, layer: str, key: str, value: float) -> None:
        rec = self.layers.setdefault(layer, {})
        rec[key] = rec.get(key, 0.0) + value

    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(f"trace:{layer}", layer)

    # -- wrappers ------------------------------------------------------
    @contextmanager
    def installed(self):
        orig_stage = lineage.StageRunner.stage
        orig_pipeline = pipeline.run_kg_pipeline
        orig_main = cli.main
        orig_scored = linking._with_scored
        tracer = self

        def stage(runner, name, build, **kw):
            layer = STAGE_LAYER.get(name, name)

            def timed_build():
                t = time.monotonic()
                try:
                    return build()
                finally:
                    tracer._add(layer, "call_s", time.monotonic() - t)

            with tracer.span(layer):
                tracer._group(layer)
                t0 = time.monotonic()
                df = orig_stage(runner, name, timed_build, **kw)
                t1 = time.monotonic()
                rows = Observation()
                (df.observe(rows, F.count(F.lit(1)).alias("n"))
                 .write.format("noop").mode("overwrite").save())
                tracer._add(layer, "stage_s", t1 - t0)
                tracer._add(layer, "wall_s", time.monotonic() - t0)
                tracer._add(layer, "rows_out", rows.get["n"])
                tracer._group("pipeline")
            return df

        def run_kg_pipeline(*a, **kw):
            with tracer.span("pipeline.call"):
                t = time.monotonic()
                out = orig_pipeline(*a, **kw)
                tracer._add("pipeline", "traced_call_s", time.monotonic() - t)
            return out

        def main(*a, **kw):
            with tracer.span("cli.main"):
                return orig_main(*a, **kw)

        def with_scored(*a, **kw):
            df = orig_scored(*a, **kw)
            tracer._scored.append(df)
            return df

        lineage.StageRunner.stage = stage
        pipeline.run_kg_pipeline = run_kg_pipeline
        cli.main = main
        linking._with_scored = with_scored
        try:
            self._group("pipeline")
            yield self
        finally:
            lineage.StageRunner.stage = orig_stage
            pipeline.run_kg_pipeline = orig_pipeline
            cli.main = orig_main
            linking._with_scored = orig_scored
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def cands_per_mention(self) -> float:
        """Candidates the linker scored per linked-against mention, counted
        on the frames it built (recomputed under a group of its own, so no
        layer's metrics include the count). Call while the run's inputs
        and cached stages are still there."""
        self._group("count")
        try:
            n = s = 0
            for df in self._scored:
                r = df.agg(F.count(F.lit(1)).alias("n"),
                           F.sum(F.size("scored")).alias("s")).collect()[0]
                n, s = n + r["n"], s + (r["s"] or 0)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return s / n if n else 0.0

    # -- status store --------------------------------------------------
    def job_ids(self, layer: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(f"trace:{layer}"))

    def python_metrics(self, layers) -> dict[str, dict[str, float]]:
        """Python SQL metrics of each of ``layers``, in MB and seconds."""
        job_layer = {j: layer for layer in layers for j in self.job_ids(layer)}
        by_layer = python_sql_metrics(self.spark, job_layer)
        return {layer: {
            "py_total_s": by_layer.get(layer, {}).get("pythonTotalTime", 0.0),
            "py_sent_mb": by_layer.get(layer, {}).get("pythonDataSent", 0.0) / _MB,
            "py_recv_mb": by_layer.get(layer, {}).get("pythonDataReceived", 0.0) / _MB,
        } for layer in layers}

    def stage_metrics(self, layer: str) -> dict[str, float]:
        """Executor totals and task-time skew over every Spark stage the
        jobs of ``layer`` ran."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = self.job_ids(layer)
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = dict(task_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
                   spill_mb=0.0)
        med_sum = max_sum = 0.0
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped or never submitted
                continue
            if sd.numCompleteTasks() == 0:
                continue
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += sd.diskBytesSpilled() / _MB
            dist = store.taskSummary(sid, sd.attemptId(), q)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                med_sum += rt.apply(0)
                max_sum += rt.apply(1)
        # time-weighted straggler ratio: sum of slowest tasks over sum of
        # median tasks across the layer's stages (1.0 = no skew)
        out["task_skew"] = max_sum / med_sum if med_sum > 0 else 1.0
        return out
