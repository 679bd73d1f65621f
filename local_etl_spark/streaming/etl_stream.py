"""Incremental ETL ingest: the reference pipeline as a file-source stream.

The reference processes a closed directory per run (main.py:150-151);
its streaming analog is Spark's file source watching the same directory
— each newly landed event file becomes part of the next micro-batch,
flowing through EXACTLY the batch pipeline's classify → route → 3-sink
logic via ``foreachBatch`` (etl/pipeline.write_sinks). Exactly-once sink
behavior comes from the checkpoint + idempotent re-run of a batch id;
the CSV/parquet appends are per-batch-atomic at this layout.

Scale notes: the file source's listing state is O(files seen); at
100 TB the JSONL layout (read_event_lines) keeps file counts sane
(thousands of multi-GB splittable shards, not billions of 1-doc files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from local_etl_spark.etl.pipeline import (
    PipelineConfig,
    TableConfig,
    classify,
    parse_doc,
    write_sinks,
)
from local_etl_spark.etl.schema_translate import load_schema


def read_event_docs_stream(
    spark: SparkSession, data_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of etl/pipeline.read_event_docs (R1/R2), with the
    same document parse (``parse_doc``)."""
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.json")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(data_dir).select(
        F.regexp_replace(F.input_file_name(), "^file:", "").alias("file_path"),
        F.col("value").alias("raw"),
        parse_doc(F.col("value")).alias("v"),
    )


def run_table_stream(
    spark: SparkSession,
    cfg: PipelineConfig,
    table: TableConfig,
    checkpoint_dir: str,
    version: int = 2,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the incremental pipeline for one table.

    Returns the running StreamingQuery; callers drive it with
    ``processAllAvailable()`` (tests) or leave it running (production).
    """
    schema = load_schema(cfg.path(table.schema_file))
    docs = read_event_docs_stream(
        spark, cfg.path(table.data_dir), max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        write_sinks(cfg, table, schema, classify(batch_df, schema), version)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
