"""Structured-Streaming validation: the same compiled single-pass plan
applied to a stream of transcript turns.

The row-local check plan is stateless (zero shuffle), so it attaches to a
streaming DataFrame unchanged — one ``select`` per micro-batch; watermarks
are only needed by downstream stateful consumers. Late/duplicate turns are
a *table-level* concern handled by the batch checks over the sink table
(streaming is out of the reference's scope, SURVEY.md §2.7 — this module
exists because a transcript pipeline at scale ingests continuously).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.runner import ValidationEngine, _row_violations


def violations_stream(engine: ValidationEngine, stream_df: DataFrame) -> DataFrame:
    """The violation rows ``(keys..., instance_path, code, message)`` of
    a streaming DataFrame, in the batch shape of
    :meth:`ValidationEngine.validate`."""
    keys = [k for k in engine.key_cols if k in stream_df.columns]
    return _row_violations(stream_df, engine.plan_for(stream_df), keys)


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
    out = violations_stream(engine, stream)
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName(query_name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
