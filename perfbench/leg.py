"""One benchmark run inside a fresh Python process (started by run.py).

Order of work, each step printed as one JSON line on stdout as it ends:

  setup      session.get_spark at local[4], then the workload's operation
             once, untimed, on the corpus: it starts the Python workers,
             generates the plans' code and warms the JIT
  leg4       the workload's operation on the corpus, repeated for
             --seconds and at least MIN_ITERATIONS times at local[4]
             (one iteration only in traced runs, whose gated figures
             come from the untraced runs, to keep them within the time
             budget); then, untimed, the checksums of the last
             iteration's kg_edges/kg_nodes, its triple P/R
             and (on kg_workdir_wide) a resume of its workdir; every
             later output of the run must reproduce these checksums
  trace      (--trace 1 only) one more iteration with Tracer installed,
             then (kg_workdir_wide) the inline pipeline with the built-in
             dimensions
  leg1       (--trace 1 only) the SparkContext restarted at local[1] with
             every thread of the process tree pinned to one CPU; the
             operation once
  result     every metric, attempted/failed counts and correctness

The 1-CPU leg reuses the JVM of the 4-core leg (a new SparkContext, new
Python workers, the same JIT and codegen caches): a fresh pinned JVM
spends about 40 s starting and warming on one core. Even so the leg
costs 15-35 s, which the untraced runs cannot afford within the
benchmark's time budget, so it runs with the traced run only.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import time

from pg_iui_ner_api_spark import cli
from pg_iui_ner_api_spark.plans import pipeline
from pg_iui_ner_api_spark.session import get_spark

from perfbench import checks, inputs, proctree
from perfbench.tracing import Tracer, python_sql_metrics

MB = 1024 * 1024
# iterations a leg times at least, whatever --seconds says: even after
# the warm-up, iterations keep getting faster for about four iterations,
# and on kg_inline the walls of one run's iterations differ by up to 20%
MIN_ITERATIONS = {"kg_inline": 4, "kg_workdir_wide": 2}


class Jvm:
    """Driver JVM counters over py4j."""

    def __init__(self, spark):
        jvm, gw = spark._jvm, spark.sparkContext._gateway
        mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._os = mf.getOperatingSystemMXBean()
        # the bean's class is not exported, so call through the public
        # com.sun.management interface
        self._cpu = jvm.java.lang.Class.forName(
            "com.sun.management.OperatingSystemMXBean"
        ).getMethod("getProcessCpuTime", gw.new_array(jvm.java.lang.Class, 0))
        self._no_args = gw.new_array(jvm.java.lang.Object, 0)
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()

    def cpu_s(self) -> float:
        return self._cpu.invoke(self._os, self._no_args) / 1e9

    def gc_s(self) -> float:
        return sum(max(g.getCollectionTime(), 0) for g in self._gcs) / 1e3

    def heap_committed_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getCommitted() / MB


def noop(df) -> None:
    """Force every column of ``df`` (``count()`` lets Catalyst prune)."""
    df.write.format("noop").mode("overwrite").save()


class Outcome:
    """One pipeline iteration: its timings and what the checks read."""

    def __init__(self, call_s: float, wall_s: float, edges, nodes, release,
                 workdir: str | None = None, summary: dict | None = None):
        self.call_s, self.wall_s = call_s, wall_s
        self.edges, self.nodes = edges, nodes
        self.release = release
        self.workdir, self.summary = workdir, summary


class Workload:
    """The operation one iteration of a workload performs."""

    def __init__(self, name: str, work: str, seed: int):
        self.name, self.work, self.seed = name, work, seed
        self.docs_dir = os.path.join(work, "docs")
        self.aliases = os.path.join(work, "aliases.parquet")
        self.embeddings = os.path.join(work, "embeddings.parquet")
        self._n = 0

    def run(self, spark) -> Outcome:
        """One iteration on the corpus."""
        if self.name == "kg_workdir_wide":
            return self.cli(spark)
        return self.inline(spark)

    def inline(self, spark, keep: bool = False) -> Outcome:
        """run_kg_pipeline with no workdir and the built-in dimensions;
        both terminal tables forced by the noop sink. ``keep`` caches the
        two tables as they are forced, for checks that follow an untimed
        run."""
        docs = spark.read.parquet(self.docs_dir)
        t0 = time.monotonic()
        res = pipeline.run_kg_pipeline(spark, docs)  # via the module: Tracer wraps it
        t1 = time.monotonic()
        edges, nodes = res["edges"], res["nodes"]
        if keep:
            edges, nodes = edges.persist(), nodes.persist()
        noop(edges)
        noop(nodes)

        def release():
            edges.unpersist()
            nodes.unpersist()
            res["_runner"].unpersist()

        return Outcome(t1 - t0, time.monotonic() - t0, edges, nodes, release)

    def cli(self, spark) -> Outcome:
        """cli.main on a fresh workdir with the wide dimensions."""
        self._n += 1
        wd = os.path.join(self.work, f"wd{self._n}")
        t0 = time.monotonic()
        summary = self.invoke_cli(wd)
        wall = time.monotonic() - t0
        return Outcome(
            wall, wall,
            spark.read.parquet(os.path.join(wd, "edges")),
            spark.read.parquet(os.path.join(wd, "nodes")),
            lambda: shutil.rmtree(wd, ignore_errors=True),
            wd, summary,
        )

    def invoke_cli(self, wd: str) -> dict:
        argv = ["--input", self.docs_dir, "--workdir", wd,
                "--fingerprint", f"perfbench:{self.seed}",
                "--aliases", self.aliases, "--entity-embeddings", self.embeddings]
        with contextlib.redirect_stdout(io.StringIO()):  # its summary line
            return cli.main(argv)


class Leg:
    """Repeat the workload for ``seconds`` of wall time and at least
    MIN_ITERATIONS times, and account the CPU of the whole process tree
    over exactly that window, less the RSS sampler's own."""

    def __init__(self, wl: Workload, spark, seconds: float, rss: proctree.PeakRss,
                 min_iterations: int | None = None):
        self.wl, self.spark, self.seconds, self.rss = wl, spark, seconds, rss
        self.min_iterations = min_iterations or MIN_ITERATIONS[wl.name]
        self.jvm = Jvm(spark)
        self.walls: list[float] = []
        self.calls: list[float] = []
        self.gcs: list[float] = []
        self.peaks: list[float] = []  # the window's peak RSS after each iteration
        self.heaps: list[float] = []

    def run(self) -> Outcome:
        me = os.getpid()
        last = None
        cpu0, jcpu0, gc0 = proctree.tree_sample(me)[0], self.jvm.cpu_s(), self.jvm.gc_s()
        own0, steal0 = self.rss.cpu_s, proctree.host_steal_s()
        t0 = time.monotonic()
        while (len(self.walls) < self.min_iterations
               or time.monotonic() - t0 < self.seconds):
            if last is not None:
                last.release()
            g0 = self.jvm.gc_s()
            last = self.wl.run(self.spark)
            self.walls.append(last.wall_s)
            self.calls.append(last.call_s)
            self.gcs.append(self.jvm.gc_s() - g0)
            self.peaks.append(self.rss.peak / MB)
            self.heaps.append(self.jvm.heap_committed_mb())
        self.window_s = time.monotonic() - t0
        self.steal_s = proctree.host_steal_s() - steal0
        self.cpu_s = (proctree.tree_sample(me)[0] - cpu0
                      - (self.rss.cpu_s - own0))
        self.jvm_cpu_s = self.jvm.cpu_s() - jcpu0
        self.gc_s = self.jvm.gc_s() - gc0
        self.heap_mb = self.jvm.heap_committed_mb()
        return last

    @property
    def wall_s(self) -> float:
        return statistics.median(self.walls)

    def summary(self) -> dict:
        return {"iterations": len(self.walls), "walls_s": self.walls,
                "gcs_s": self.gcs, "peak_rss_mb": self.peaks,
                "heap_committed_mb": self.heaps, "window_s": self.window_s,
                "cpu_s": self.cpu_s, "jvm_cpu_s": self.jvm_cpu_s, "gc_s": self.gc_s,
                # CPU the hypervisor gave other guests while this guest
                # wanted it, summed over the host's CPUs
                "host_steal_s": self.steal_s,
                # the tree's CPU must cover the JVM's own CPU time
                "cpu_ok": self.cpu_s >= 0.98 * self.jvm_cpu_s - 0.05}


def check(out: Outcome, ref: dict[str, str]) -> dict:
    got = checks.output_checksums(out.edges, out.nodes)
    return {"checksums": got, "ok": got == ref}


def verify(out: Outcome, truth_dir: str) -> dict:
    """Checksums of ``out`` and its triple P/R against the ground truth
    in ``truth_dir``; the two tables are cached for the two passes."""
    edges, nodes = out.edges.persist(), out.nodes.persist()
    try:
        sums = checks.output_checksums(edges, nodes)
        p, r = checks.triple_pr(edges, inputs.read_truth(truth_dir))
    finally:
        edges.unpersist()
        nodes.unpersist()
    return {"checksums": sums, "precision": p, "recall": r,
            "ok": min(p, r) >= checks.MIN_PR}


def lineage(wl: Workload, out: Outcome) -> dict[str, float]:
    """Resume the finished workdir run, and measure what it wrote."""
    t0 = time.monotonic()
    again = wl.invoke_cli(out.workdir)
    resume_s = time.monotonic() - t0
    write_ms, n_files, n_bytes = 0, 0, 0
    for root, _dirs, files in os.walk(out.workdir):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
            if os.path.basename(root) == "_lineage" and f.endswith(".json"):
                with open(os.path.join(root, f)) as fh:
                    write_ms += json.load(fh)["wall_ms"]
    return {
        "resume_ok": (all(e["action"] == "resumed" for e in again["stages"])
                      and again["counts"] == out.summary["counts"]),
        "lineage.resume_s": resume_s,
        "lineage.write_s": write_ms / 1e3,
        "lineage.bytes_written_mb": n_bytes / MB,
        "lineage.files_written": float(n_files),
    }


LAYERS = ("ner", "linking", "components.cc", "components.nodes", "triples",
          "lineage", "pipeline")


def traced(wl: Workload, spark, ref: dict[str, str]) -> tuple[dict, dict]:
    """One iteration under Tracer; returns (per-layer metrics, check)."""
    tracer = Tracer(spark)
    with tracer.installed():
        t0 = time.monotonic()
        with tracer.span("iteration"):
            out = wl.run(spark)
        wall = time.monotonic() - t0
    m = {"traced_wall_s": wall}
    total_shuffle = 0.0
    py = tracer.python_metrics(LAYERS)
    for layer in LAYERS:
        rec = {**tracer.layers.get(layer, {}), **tracer.stage_metrics(layer),
               **py[layer]}
        if layer != "pipeline":
            total_shuffle += rec["shuffle_write_mb"]
        for k, v in rec.items():
            m[f"{layer}.{k}"] = v
    # the stages' shuffles only: inline, the sink under the "pipeline"
    # group forces the unpersisted nodes and edges stages a second time
    m["pipeline.shuffle_write_mb"] = total_shuffle
    m["linking.cands_per_mention"] = tracer.cands_per_mention()
    if out.workdir is not None:
        # a manifest's wall_ms times build + write; the rest of each
        # stage call is the per-file recount pass
        m.update({k: v for k, v in lineage(wl, out).items() if k != "resume_ok"})
        stage_s = sum(tracer.layers.get(layer, {}).get("stage_s", 0.0)
                      for layer in LAYERS)
        m["lineage.recount_s"] = max(stage_s - m["lineage.write_s"], 0.0)
    else:
        m.update(dict.fromkeys(
            ("lineage.write_s", "lineage.recount_s", "lineage.resume_s",
             "lineage.bytes_written_mb", "lineage.files_written"), 0.0))
    chk = check(out, ref)
    out.release()
    t0 = min(s["start"] for s in tracer.spans())
    m["spans"] = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                  for s in tracer.spans()]
    return m, chk


class Run:
    def __init__(self, args):
        self.args = args
        self.attempted = self.failed = 0
        self.correct = True
        self.metrics: dict[str, float] = {}

    def emit(self, section: str, **fields) -> None:
        fields["t"] = time.monotonic() - self.args.spawned
        print(json.dumps({"section": section, **fields}), flush=True)

    def count(self, n: int, ok: bool) -> None:
        """``n`` pipeline runs attempted; all fail if their check failed."""
        self.attempted += n
        self.failed += 0 if ok else n

    def leg1(self, wl: Workload, spark, ref: dict[str, str]) -> None:
        """The 1-CPU leg: a new SparkContext at local[1] in this JVM, with
        every thread of the process tree pinned to one CPU."""
        a, m, me = self.args, self.metrics, os.getpid()
        spark.stop()
        cpu = min(os.sched_getaffinity(0))
        proctree.pin_tree(me, cpu)
        spark = get_spark(app_name="perfbench", master="local[1]")
        spark.sparkContext.setLogLevel("ERROR")
        # start the Python worker before timing, as the warm-up did
        noop(spark.range(1).mapInPandas(lambda it: it, "id long"))
        # one iteration only: the 1-CPU figures are not gated, and one
        # iteration costs 15-35 s
        leg = Leg(wl, spark, 0, self.rss, min_iterations=1)
        worker = proctree.python_worker(me)
        pinned = {"jvm": proctree.cpus_allowed(leg.jvm.pid),
                  "python_worker": worker and proctree.cpus_allowed(worker)}
        self.correct &= all(v == str(cpu) for v in pinned.values())
        last = leg.run()
        chk = check(last, ref)
        last.release()
        self.count(len(leg.walls), chk["ok"])
        s1 = leg.summary()
        self.correct &= s1["cpu_ok"]
        self.emit("leg1", **s1, check=chk, cpus_allowed=pinned)
        m["pipeline.docs_per_s_1c"] = a.docs / leg.wall_s
        m["pipeline.scaling_eff"] = m["docs_per_s"] / (4 * m["pipeline.docs_per_s_1c"])

    def main(self) -> None:
        a, m = self.args, self.metrics
        me = os.getpid()
        wl = Workload(a.workload, a.work, a.seed)
        with proctree.PeakRss(me) as rss:
            self.rss = rss
            spark = get_spark(app_name="perfbench", master="local[4]")
            m["session.start_s"] = time.monotonic() - a.spawned
            spark.sparkContext.setLogLevel("ERROR")
            t0 = time.monotonic()
            warm = wl.run(spark)
            m["setup_s"] = m["session.start_s"] + time.monotonic() - t0
            if a.trace:
                # the workers start in the first Python crossing: the
                # extraction mapInPandas of the warm-up
                py = python_sql_metrics(spark, node="MapInPandas").get("", {})
                m["session.py_boot_s"] = (py.get("pythonBootTime", 0.0)
                                          + py.get("pythonInitTime", 0.0))
            self.emit("setup", start_s=m["session.start_s"], setup_s=m["setup_s"])
            warm.release()

            m["session.setup_peak_rss_mb"] = rss.restart() / MB
            leg4 = (Leg(wl, spark, 0, rss, min_iterations=1) if a.trace
                    else Leg(wl, spark, a.seconds, rss))
            last = leg4.run()
            m["peak_rss_mb"] = rss.peak / MB
            chk = verify(last, a.work)
            ref = chk["checksums"]
            if last.workdir is not None:
                lin = lineage(wl, last)
                chk["ok"] = chk["ok"] and lin.pop("resume_ok")
                m.update(lin)
            last.release()
            self.count(len(leg4.walls), chk["ok"])
            s4 = leg4.summary()
            self.correct &= s4["cpu_ok"]
            self.emit("leg4", **s4, check=chk)
            m["docs_per_s"] = a.docs / leg4.wall_s
            m["cpu_s_per_kdoc"] = leg4.cpu_s / (a.docs * len(leg4.walls) / 1000)
            m["session.gc_s"] = leg4.gc_s
            m["session.heap_committed_mb"] = leg4.heap_mb
            m["pipeline.call_s"] = statistics.median(leg4.calls)
            m["pipeline.sink_s"] = leg4.wall_s - m["pipeline.call_s"]

            if a.trace:
                self.trace(wl, spark, ref, leg4.wall_s)
                self.leg1(wl, spark, ref)
        m["error_rate"] = self.failed / self.attempted
        self.emit("result", correct=self.correct and self.failed == 0,
                  attempted=self.attempted, failed=self.failed, metrics=m)

    def trace(self, wl: Workload, spark, ref: dict[str, str], untraced_s: float) -> None:
        tm, tchk = traced(wl, spark, ref)
        self.count(1, tchk["ok"])
        tm["pipeline.trace_overhead_s"] = tm.pop("traced_wall_s") - untraced_s
        self.emit("trace", **tm, check=tchk)
        self.metrics.update({k: v for k, v in tm.items() if isinstance(v, float)})
        if wl.name != "kg_inline":
            # the wide dimensions must not change a single output row:
            # inline with the built-in dimensions must agree
            builtin = wl.inline(spark, keep=True)
            same = check(builtin, ref)
            builtin.release()
            self.count(1, same["ok"])
            self.emit("builtin_dims", check=same)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MIN_ITERATIONS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--spawned", type=float, required=True,
                    help="time.monotonic() at which the parent spawned this process")
    Run(ap.parse_args()).main()


if __name__ == "__main__":
    main()
