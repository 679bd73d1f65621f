"""Incremental ETL ingest (streaming/etl_stream.py) ≡ batch pipeline.

Lands the FIXTURES corpus in two waves into a watched directory; after
the stream drains, output/quarantine/error sinks must contain exactly
what one batch run over the full corpus produces.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from local_etl_spark.etl.config import reference_config
from local_etl_spark.etl.pipeline import run_pipeline
from local_etl_spark.streaming.etl_stream import run_table_stream

from tests.test_etl_pipeline import FIXTURES, USERS, read_csv_rows


# a bare NaN score: json.load accepts it, so the batch scan's parse
# retry makes the doc valid; the stream must classify it the same way
BARE_NAN = {
    "bare_nan.json": '{"metadata": {"type": "user", "event_at": "t",'
    ' "event_id": "e14"}, "payload": {"id": 14, "name": "A B",'
    ' "address": "a", "job": "x", "score": NaN}}',
}


def _write_files(dirname, items):
    for fn, doc in items:
        with open(os.path.join(dirname, fn), "w", encoding="utf-8") as fh:
            fh.write(doc if isinstance(doc, str) else json.dumps(doc, indent=2))


def test_stream_matches_batch(spark, tmp_path):
    stream_base = str(tmp_path / "stream")
    batch_base = str(tmp_path / "batch")
    for base in (stream_base, batch_base):
        os.makedirs(os.path.join(base, "users"))
        os.makedirs(os.path.join(base, "cards"))  # reference_config needs it
        for s in ("user-events-schema.json", "card-events-schema.json"):
            shutil.copy(os.path.join(FIXTURES, s), os.path.join(base, s))

    items = sorted({**USERS, **BARE_NAN}.items())
    half = len(items) // 2

    # batch: whole corpus at once
    _write_files(os.path.join(batch_base, "users"), items)
    batch_cfg = reference_config(batch_base)
    run_pipeline(spark, batch_cfg, version=2)

    # stream: two waves with a drain in between
    stream_cfg = reference_config(stream_base)
    users_table = next(t for t in stream_cfg.tables if t.name == "users")
    _write_files(os.path.join(stream_base, "users"), items[:half])
    q = run_table_stream(
        spark,
        stream_cfg,
        users_table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        version=2,
        max_files_per_trigger=3,
    )
    try:
        q.processAllAvailable()
        _write_files(os.path.join(stream_base, "users"), items[half:])
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(base, rel):
        return sorted(
            (tuple(sorted(r.items())) for r in read_csv_rows(os.path.join(base, rel))),
        )

    assert rows(stream_base, "users.csv") == rows(batch_base, "users.csv")
    stream_rows = read_csv_rows(os.path.join(stream_base, "users.csv"))
    assert any(r["event_id"] == "e14" for r in stream_rows)
    assert rows(stream_base, "users_metadata.csv") == rows(
        batch_base, "users_metadata.csv"
    )

    sq = spark.read.parquet(os.path.join(stream_base, "users_schema_mismatches"))
    bq = spark.read.parquet(os.path.join(batch_base, "users_schema_mismatches"))
    key = lambda r: (os.path.basename(r["file_path"]), r["raw"])  # noqa: E731
    assert sorted(map(key, sq.collect())) == sorted(map(key, bq.collect()))

    log_lines = []
    for f in glob.glob(os.path.join(stream_base, "errors.log.d", "part-*")):
        log_lines.extend(open(f, encoding="utf-8").read().splitlines())
    assert any("is a required property" in l for l in log_lines)


def test_runs_leave_no_blocks_or_cache(spark, tmp_path):
    """run_table, run_table_incremental and a drained stream batch each
    release the batch they materialized: no persisted RDD (the local
    checkpoint's blocks) and no cached plan outlives the call."""
    from local_etl_spark.etl.pipeline import run_table, run_table_incremental

    base = str(tmp_path / "base")
    os.makedirs(os.path.join(base, "users"))
    shutil.copy(
        os.path.join(FIXTURES, "user-events-schema.json"),
        os.path.join(base, "user-events-schema.json"),
    )
    _write_files(os.path.join(base, "users"), sorted(USERS.items()))
    cfg = reference_config(base)
    users_table = next(t for t in cfg.tables if t.name == "users")

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = jsc.getPersistentRDDs().size()

    def assert_released(step):
        assert jsc.getPersistentRDDs().size() == before, step
        assert cache.isEmpty(), step

    run_table(spark, cfg, users_table)
    assert_released("run_table")
    run_table_incremental(spark, cfg, users_table, str(tmp_path / "state"))
    assert_released("run_table_incremental")
    q = run_table_stream(
        spark, cfg, users_table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert any(p["numInputRows"] for p in q.recentProgress)
    assert_released("stream batch")
