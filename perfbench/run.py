"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl,query_mix} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout. Each run gets fresh scratch directories
(``TMPDIR``, ``SPARK_LOCAL_DIRS``, Spark's event log) under
``perfbench/.work``, so a cold pass is cold: the engine's fixture caches
live under ``TMPDIR`` and its model caches in the process. The workload
runs in a fresh process on ``local[<cpus>]``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A fuller artifact (host context, spans, every sample,
output-check problems, tracing overhead) goes to
``perfbench/.work/artifacts``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)
RUN_BUDGET_S = 170.0


def host_context() -> dict:
    """Single-thread calibration (million loop iterations per second,
    best of 3), load average and CPU count. The host clock can shift
    between runs; these let a reader tell host drift from a code change."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        best = min(best, time.perf_counter() - t)
    return {
        "calib_miter_per_s": 1.0 / best,
        "loadavg": os.getloadavg(),
        "nproc": len(os.sched_getaffinity(0)),
        "time": time.time(),
    }


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (its JVM and Python workers
    too) and wait until every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.time() + 5
        while time.time() < end:
            try:
                proc.wait(timeout=0.1)
            except subprocess.TimeoutExpired:
                pass
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
    proc.wait()


def child(args: list[str], env: dict, log: str, deadline: float) -> dict:
    out = log + ".json"
    with open(log, "ab") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workloads.py"), *args, "--out", out],
            env=env,
            stdout=fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"{args[:2]} exited with {rc}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def tracing_overhead(art_dir: str, workload: str, traced: dict) -> dict | None:
    """Traced minus untraced, as a share of the untraced value, against
    the latest untraced run of the same workload in this checkout."""
    found = sorted(glob.glob(os.path.join(art_dir, f"{workload}-trace0-*.json")))
    if not found:
        return None
    with open(found[-1]) as fh:
        base = json.load(fh)
    pairs = {
        "warm_op_s": (traced["end_to_end"]["warm_op_s"], base["end_to_end"]["warm_op_s"]),
        "cold_op_s": (traced["info"]["cold_op_s"], base["info"].get("cold_op_s")),
    }
    return {k: t / b - 1.0 for k, (t, b) in pairs.items() if t and b}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("etl", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its workload process group (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "local_etl_spark", "session.py")):
        print("engine sources (local_etl_spark/) not found next to perfbench/", file=sys.stderr)
        return 2
    import workloads
    section = "per_layer" if a.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in bench[section]}
    layer_names = [m["name"] for m in bench["per_layer"]]

    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-seed{a.seed}-{os.getpid()}"
    work = os.path.join(HERE, ".work", "runs", tag)
    art_dir = os.path.join(HERE, ".work", "artifacts")
    for d in ("tmp", "local", "eventlog", "wl"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(art_dir, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    log = os.path.join(work, "child.log")
    host_start = host_context()
    try:
        prep = workloads.prepare(
            a.workload, a.seed, a.seconds, os.path.join(work, "wl"), os.path.join(HERE, ".work", "corpus")
        )
        with open(os.path.join(work, "prep.json"), "w") as fh:
            json.dump(prep, fh)
        wl_env = dict(env)
        if a.trace:
            wl_env["PYSPARK_SUBMIT_ARGS"] = " ".join([
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                "--conf spark.eventLog.compress=false",
                "pyspark-shell",
            ])
        res = child(
            [
                "--prep", os.path.join(work, "prep.json"),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--event-log", os.path.join(work, "eventlog"),
                "--layers", ",".join(layer_names),
            ],
            wl_env,
            log,
            deadline,
        )
    except RuntimeError as e:
        with open(os.path.join(art_dir, tag + ".log"), "w") as fh:
            fh.write(str(e))
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e = res["end_to_end"]
    art = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "cpus": cpus,
        "corpus_s": prep.get("corpus_s"),
        "seed_varies_inputs": prep.get("seed_varies_inputs", True),
        "host_start": host_start,
        "host_end": host_context(),
        "wall_s": time.time() - t_start,
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "problems": res["problems"],
        "end_to_end": e2e,
        "per_layer": res["per_layer"],
        "info": res["info"],
        "spans": res["spans"],
    }
    if a.trace:
        art["tracing_overhead"] = tracing_overhead(art_dir, a.workload, art)
        print(f"tracing overhead vs latest untraced run: {art['tracing_overhead']}", file=sys.stderr)
    with open(os.path.join(art_dir, tag + ".json"), "w") as fh:
        json.dump(art, fh, indent=1)
    for p in res["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    values = e2e if not a.trace else res["per_layer"]
    missing = sorted(set(wanted) - set(values))
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
