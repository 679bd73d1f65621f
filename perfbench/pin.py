"""Regenerate ``perfbench/expected.json``, the reference outputs the
benchmark checks against:

- ``query_mix``: row count and order-free hash of every mix query over
  ``perfbench/data/sf0.01``. Queries with a DuckDB oracle are pinned from
  DuckDB under the canon in ``tests/oracle.py``; the rows-only media
  query is pinned from the engine at the commit this runs on.
- ``etl``: per-sink content hashes for the default seed, from the engine
  at the commit this runs on: the batch's sinks, and the wave sinks' rows
  from the waves every run lands.

Run from the repository root, once, at a commit whose outputs are
trusted: ``python3 perfbench/pin.py``. Takes about a minute.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
WORK = os.path.join(HERE, ".work", "pin")

import checks  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # isolated like a benchmark run; set before the engine is imported
    os.environ.update(
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
    )
    from local_etl_spark import registry

    oracle = checks.load_oracle_module(ROOT)
    out: dict = {"query_mix": {}}
    spark = None
    con = oracle.duck_connect(workloads.SF_DIR)
    for _fam, name in workloads.MIX:
        spec = registry.get(name)
        if spec.oracle:
            res = con.execute(spec.oracle)
            cols, rows = [d[0] for d in res.description], res.fetchall()
            source = "duckdb"
        else:
            if spark is None:
                from local_etl_spark.session import get_spark

                spark = get_spark()
            df = spec.fn(spark, workloads.SF_DIR)
            cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
            source = "engine"
        out["query_mix"][name] = dict(checks.result_digest(oracle, cols, rows), source=source)
        print(name, out["query_mix"][name], flush=True)
    con.close()

    work = os.path.join(WORK, "etl")
    prep = workloads.prepare("etl", workloads.DEFAULT_SEED, 0, work, os.path.join(WORK, "corpus"))
    run = workloads.Run(prep, 0, False)
    workloads.etl(run)
    # row counts are checked against jsonschema; stale pins may differ
    print("etl check problems:", run.problems, flush=True)
    batch = checks.read_sinks(os.path.join(work, "batch"))
    waves = workloads.first_waves(checks.read_sinks(os.path.join(work, "waves")))
    out["etl"] = {
        "batch": {k: checks.rows_hash(v) for k, v in batch.items()},
        "waves": {k: checks.rows_hash(v) for k, v in waves.items()},
    }
    checks.write_json(workloads.EXPECTED, out)
    print("wrote", workloads.EXPECTED)
    run.spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
