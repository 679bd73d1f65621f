"""Output checks: order-free hashes, sink readers and the expected per-sink
row counts of a generated corpus.

Expected counts come from validating each generated document with the
``jsonschema`` package against ``corpus.user_schema()``, independently of
the engine's own compiled validator.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import re

VALID, MISSING, CORRUPT, OTHER = "v", "m", "c", "o"


def rows_hash(rows) -> str:
    """Order-free hash of a row multiset: sha256 over the sorted reprs."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def corpus_dir(root: str, workload: str, seed: int, size: int) -> str:
    """Generated corpora are keyed by everything that shapes them, so a
    resized or re-seeded corpus never reuses an old one."""
    return os.path.join(root, f"{workload}-seed{seed}-n{size}")


def classify_docs(docs: list[str]) -> str:
    """One class letter per document: the route the reference's
    ``jsonschema.validate`` gives it (valid, repairable missing field,
    corrupt JSON, or another schema error)."""
    from jsonschema import Draft7Validator
    from jsonschema.exceptions import best_match

    from local_etl_spark.etl import corpus

    validator = Draft7Validator(corpus.user_schema())
    out = []
    for raw in docs:
        try:
            doc = json.loads(raw)
        except json.JSONDecodeError:
            out.append(CORRUPT)
            continue
        err = best_match(validator.iter_errors(doc))
        if err is None:
            out.append(VALID)
        elif "is a required property" in err.message:
            out.append(MISSING)
        else:
            out.append(OTHER)
    return "".join(out)


def expected_counts(classes: str) -> dict[str, int]:
    """Per-sink row counts for a batch with ``replace_missing_data`` on:
    valid and repaired rows reach both CSV sinks; every invalid row is
    quarantined and logged."""
    kept = classes.count(VALID) + classes.count(MISSING)
    invalid = len(classes) - classes.count(VALID)
    return {
        "payload": kept,
        "metadata": kept,
        "quarantine": invalid,
        "error_log": invalid,
    }


def _csv_rows(path: str) -> list[tuple]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh)
            next(reader, None)  # every part file carries the header
            rows.extend(tuple(r) for r in reader)
    return rows


def _doc_index(name: str) -> int | None:
    m = re.search(r"(\d+)", os.path.basename(name))
    return int(m.group(1)) if m else None


def read_sinks(out_dir: str) -> dict[str, list[tuple]]:
    """Rows of the four sinks written under ``out_dir``, normalized to
    what does not depend on the checkout path or the clock: file paths
    become base names, and the error log's timestamp is dropped."""
    import pyarrow.parquet as pq

    q_dir = os.path.join(out_dir, "quarantine")
    quarantine = []
    if os.path.isdir(q_dir):
        tbl = pq.read_table(q_dir, columns=["file_path", "raw"])
        quarantine = [
            (os.path.basename(p), r)
            for p, r in zip(tbl.column("file_path").to_pylist(), tbl.column("raw").to_pylist())
        ]
    log = []
    for part in sorted(glob.glob(os.path.join(out_dir, "errors.log.d", "part-*"))):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                # '{ts}, ERROR, SCHEMA ERR, {file}, {msg}'
                _ts, level, kind, path, msg = line.rstrip("\n").split(", ", 4)
                log.append((level, kind, os.path.basename(path), msg))
    return {
        "payload": _csv_rows(os.path.join(out_dir, "users.csv")),
        "metadata": _csv_rows(os.path.join(out_dir, "metadata.csv")),
        "quarantine": quarantine,
        "error_log": log,
    }


def doc_of(sink: str, row: tuple) -> int | None:
    """Index of the generated document a sink row came from (one-doc-per-
    file layout): event ids are ``e{i}``, files ``ev{i:07d}.json``."""
    if sink in ("payload", "metadata"):
        return int(row[-1][1:]) if row and row[-1].startswith("e") else None
    if sink == "quarantine":
        return _doc_index(row[0])
    return _doc_index(row[2])


def compare(got: dict[str, list[tuple]], want_counts: dict[str, int], pins: dict | None) -> list[str]:
    """Mismatch messages (empty when every sink matches)."""
    bad = []
    for sink, n in want_counts.items():
        if len(got[sink]) != n:
            bad.append(f"{sink}: {len(got[sink])} rows, expected {n}")
    for sink, h in (pins or {}).items():
        if rows_hash(got[sink]) != h:
            bad.append(f"{sink}: content hash differs from the pinned one")
    return bad


def load_oracle_module(repo_root: str):
    """The DuckDB oracle canon in ``tests/oracle.py``, loaded read-only."""
    import importlib.util

    path = os.path.join(repo_root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_digest(oracle, columns: list[str], rows: list[tuple]) -> dict:
    """Row count and order-free hash of a query result under the oracle's
    canonicalization (columns sorted by name, cells canonicalized)."""
    return {"rows": len(rows), "hash": rows_hash(oracle.canon_rows(columns, rows))}


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
