"""Driver simulation: run every queries()[name] at sf0.01 and compare
with oracle_sql()[name] in DuckDB (row counts + sorted canonicalized
rows), mirroring the external driver's correctness gate.

Usage: python tools_driver_sim.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = set(sys.argv[2:])

from local_etl_spark.session import get_spark
from tests.oracle import canon_rows, duck_connect

import __spark_entry__ as e

spark = get_spark()
qs, os_ = e.queries(), e.oracle_sql()

# Driver-boundedness guard (VERDICT r9 #9): every .collect() a query
# fn makes internally must stay model-sized — query vectors, trained
# codebooks, file manifests — never corpus-proportional. Wrap the
# classic DataFrame's collect (the pyspark.sql.DataFrame base is
# abstract in Spark 4 — patching it misses the subclass override) and
# fail the sim if any op over-collects. Observed legit max at sf0.01:
# 1,024 rows (the IVF training sample); the bound leaves ~20× headroom
# while still catching any big-table corpus collect outright.
COLLECT_BOUND = 25_000
from pyspark.sql.classic.dataframe import DataFrame as _CDF

_collect_orig = _CDF.collect
_cur_op: list = [None]
_over: list = []


def _guarded_collect(self):
    rows = _collect_orig(self)
    if _cur_op[0] is not None and len(rows) > COLLECT_BOUND:
        _over.append((_cur_op[0], len(rows)))
    return rows


_CDF.collect = _guarded_collect

# r14: the graph numpy tiers collect the GATED pair relation via
# toPandas (Arrow path — bypasses collect()). Those collects are
# corpus-shaped but bounded by an absolute gate
# (graph.GRAPH_LOCAL_MAX_PAIRS, 8M rows ≈ 160 MB; past it the int-keyed
# Spark tier runs), so the sim enforces that bound rather than the
# model-sized one.
TOPANDAS_BOUND = 8_000_000
_topandas_orig = _CDF.toPandas


def _guarded_topandas(self):
    pdf = _topandas_orig(self)
    if _cur_op[0] is not None and len(pdf) > TOPANDAS_BOUND:
        _over.append((_cur_op[0], len(pdf)))
    return pdf


_CDF.toPandas = _guarded_topandas

df = e.entry(spark)
rows = df.collect()
print(f"entry: {len(rows)} rows, schema {[f.name for f in df.schema.fields]}", flush=True)

con = duck_connect(sf_dir)
fails = []
t0 = time.time()
for i, (name, fn) in enumerate(qs.items()):
    if only and name not in only:
        continue
    try:
        _cur_op[0] = name  # guard INTERNAL collects during fn build
        sdf = fn(spark, sf_dir)
        _cur_op[0] = None  # the sim's own result collect is exempt
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as ex:
        fails.append((name, f"spark error: {ex}"))
        print(f"[{i}] {name}: SPARK ERROR {ex}", flush=True)
        continue
    if name not in os_:
        print(f"[{i}] {name}: rows-only ({len(srows)} rows)", flush=True)
        continue
    try:
        res = con.execute(os_[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as ex:
        fails.append((name, f"duck error: {ex}"))
        print(f"[{i}] {name}: DUCK ERROR {ex}", flush=True)
        continue
    if len(srows) != len(drows):
        fails.append((name, f"rowcount {len(srows)} vs {len(drows)}"))
        print(f"[{i}] {name}: ROWCOUNT {len(srows)} vs {len(drows)}", flush=True)
        continue
    if sorted(scols) != sorted(dcols):
        fails.append((name, f"schema {sorted(scols)} vs {sorted(dcols)}"))
        print(f"[{i}] {name}: SCHEMA {sorted(scols)} vs {sorted(dcols)}", flush=True)
        continue
    if canon_rows(scols, srows) != canon_rows(dcols, drows):
        fails.append((name, "value mismatch"))
        print(f"[{i}] {name}: VALUE MISMATCH", flush=True)
        continue
    print(f"[{i}] {name}: ok ({len(srows)} rows)", flush=True)

for op, n in _over:
    fails.append((op, f"driver over-collect: {n} rows > {COLLECT_BOUND}"))
    print(f"OVER-COLLECT {op}: {n} rows > {COLLECT_BOUND}", flush=True)
_CDF.collect = _collect_orig

print(f"\n{time.time()-t0:.1f}s total; {len(fails)} failures")
for name, why in fails:
    print(f"  FAIL {name}: {why}")
sys.exit(1 if fails else 0)
