"""kgspark pipeline benchmark.

    python3 perfbench/run.py --workload kg_inline --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its seeded inputs to
parquet under ``perfbench/.work/``, then starts one fresh Python
process (``perfbench/leg.py``) that drives the package through
``session.get_spark``, ``plans.pipeline.run_kg_pipeline`` and
``cli.main`` and prints one JSON line per finished section. This parent
relays those lines, bounds the child by a wall-clock budget, kills its
whole process tree on timeout or SIGTERM, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every ``end_to_end`` metric of BENCHMARK.json (``--trace 0``) or
every ``per_layer`` metric (``--trace 1``), each with its unit.

The child runs the program's default environment: no heap size and no
added heap or GC flags (``SPARK_DRIVER_MEM`` and the ``SPARK_GRAFT_*``
knobs are removed), and an explicit ``master``. Spark's local and
temporary files go under the run's work directory (``SPARK_LOCAL_DIRS``,
``TMPDIR`` and ``-Djava.io.tmpdir``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pg_iui_ner_api_spark")
BUDGET_S = 172.0  # child wall clock; the whole run must end within 180 s
GRACE_S = 5.0

# input sizes (why: see BENCHMARK.json)
DOCS = 4_000
WIDE_ENTITIES = 6_000  # above the 4,096 at which linking gathers pairs
WIDE_DISTRACTORS = 8


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def child_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_DRIVER_MEM" and not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = tmp
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}") if p)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group (the JVM and the Python workers
    live in it) and wait until every member is gone. Everything the
    group wrote is under the run's work directory, deleted afterwards."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + GRACE_S
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            fields = st[st.rindex(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE):
        fail(f"package not found at {PACKAGE}; run from a kgspark checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    from perfbench import inputs

    work = os.path.join(ROOT, "perfbench", ".work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    state = {"result": None, "attempted": 0, "proc": None}

    def finish(reason: str | None = None) -> int:
        res = state["result"]
        metrics = res["metrics"] if res else {}
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in metrics}
        complete = len(out) == len(wanted)
        if res:
            line = {"correct": bool(res["correct"]) and complete,
                    "attempted": res["attempted"], "failed": res["failed"]}
        else:  # killed, timed out or crashed: the whole run failed
            n = max(state["attempted"], 1)
            line = {"correct": False, "attempted": n, "failed": n}
        if reason:
            print(json.dumps({"section": "error", "reason": reason}), flush=True)
        line["metrics"] = out
        print(json.dumps(line), flush=True)
        shutil.rmtree(work, ignore_errors=True)
        return 0

    def on_term(signum, _frame):
        if state["proc"] is not None:
            stop_group(state["proc"])
        sys.exit(finish(f"signal {signum}"))

    signal.signal(signal.SIGTERM, on_term)

    t_gen = time.monotonic()
    inputs.write_corpus(work, DOCS, args.seed)
    if args.workload == "kg_workdir_wide":
        inputs.write_wide_dims(work, WIDE_ENTITIES, WIDE_DISTRACTORS, args.seed)
    print(json.dumps({"section": "inputs", "docs": DOCS,
                      "seconds": time.monotonic() - t_gen}), flush=True)

    log = open(os.path.join(work, "spark.log"), "wb")
    spawned = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.leg", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--work", work, "--docs", str(DOCS),
         "--spawned", repr(spawned)],
        cwd=work, env=child_env(work), stdout=subprocess.PIPE, stderr=log,
        start_new_session=True,
    )
    state["proc"] = proc

    def relay():
        for raw in proc.stdout:
            try:
                rec = json.loads(raw)
            except ValueError:
                continue  # not one of ours
            if not isinstance(rec, dict) or "section" not in rec:
                continue
            if rec["section"] == "result":
                state["result"] = rec
                done.set()
            else:
                state["attempted"] += len(rec.get("walls_s", ()))
                print(json.dumps(rec), flush=True)

    def wait_exit():
        proc.wait()
        done.set()

    done = threading.Event()
    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    threading.Thread(target=wait_exit, daemon=True).start()
    reason = None
    if not done.wait(timeout=BUDGET_S - (time.monotonic() - t_gen)):
        reason = f"budget of {BUDGET_S:.0f} s exceeded"
    stop_group(proc)
    reader.join(timeout=GRACE_S)
    log.close()
    if reason is None and state["result"] is None:
        with open(os.path.join(work, "spark.log"), "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        print(tail, file=sys.stderr)
        reason = f"child exited with code {proc.returncode} and no result"
    return finish(reason)


if __name__ == "__main__":
    sys.exit(main())
