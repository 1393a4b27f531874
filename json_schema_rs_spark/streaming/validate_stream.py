"""Structured-Streaming validation: the same compiled single-pass plan
applied to a stream of transcript turns.

The row-local check plan is stateless (zero shuffle), so
``ValidationEngine.validate`` attaches it to a streaming DataFrame
unchanged, one ``select`` per micro-batch. Late/duplicate turns are a
*table-level* concern handled by the batch checks over the sink table
(streaming is out of the reference's scope, SURVEY.md §2.7 — this module
exists because a transcript pipeline at scale ingests continuously).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.runner import ValidationEngine


def run_file_stream_once(
    spark: SparkSession,
    engine: ValidationEngine,
    input_path: str,
    schema: str,
    *,
    query_name: str = "validated",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Test/ops helper: drive a parquet-directory stream to completion
    synchronously and return the collected violations as a batch DF
    (memory sink + processAllAvailable)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    out = engine.validate(stream).violations
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName(query_name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
