"""The order-free hash, the expected per-sink counts and corpus keys."""

import json
import os

import checks
from local_etl_spark.etl import corpus


def test_rows_hash_ignores_order_but_not_content():
    rows = [("a", 1), ("b", 2), ("b", 2)]
    assert checks.rows_hash(rows) == checks.rows_hash(list(reversed(rows)))
    assert checks.rows_hash(rows) != checks.rows_hash(rows[:2])  # multiplicity counts
    assert checks.rows_hash(rows) != checks.rows_hash([("a", 1), ("b", 2), ("b", 3)])
    assert checks.rows_hash([("a", "1")]) != checks.rows_hash([("a", 1)])


def test_classify_docs_and_expected_counts():
    valid = json.dumps(json.loads(corpus.generate(1, seed=3, corrupt_rate=0, repair_rate=0)[0]))
    doc = json.loads(valid)
    del doc["payload"]["job"]
    missing = json.dumps(doc)
    doc["payload"]["score"] = "high"
    doc["payload"]["job"] = "x"
    other = json.dumps(doc)
    classes = checks.classify_docs([valid, missing, '{"metadata": {broken', other])
    assert classes == "vmco"
    assert checks.expected_counts(classes) == {
        "payload": 2, "metadata": 2, "quarantine": 3, "error_log": 3,
    }


def _tree_bytes(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    def make(base, seed):
        d = checks.corpus_dir(str(base), "etl_batch", seed, 500)
        corpus.write_jsonl_corpus(d, 500, shards=4, seed=seed)
        return _tree_bytes(d)

    a = make(tmp_path / "a", 5)
    b = make(tmp_path / "b", 5)
    c = make(tmp_path / "c", 6)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_corpus_dir_keys_every_input():
    keys = {
        checks.corpus_dir("/r", w, s, n)
        for w in ("etl_batch", "etl_waves")
        for s in (1, 2)
        for n in (100, 1000)
    }
    assert len(keys) == 8


def test_doc_of_maps_rows_to_generated_documents():
    assert checks.doc_of("payload", ("7", "", "Ada", "", "x", "y", "1.0", "e7")) == 7
    assert checks.doc_of("metadata", ("user", "2023-10-01 22:55:01", "e12")) == 12
    assert checks.doc_of("quarantine", ("ev0000042.json", "{broken")) == 42
    assert checks.doc_of("error_log", ("ERROR", "SCHEMA ERR", "ev0000003.json", "msg")) == 3
