"""JSONL source: validate raw JSON-lines transcript files.

The reference validates JSON *documents* read from files or stdin
(`/root/reference/json_schema_rs/src/cli/validate.rs:16-20`,
`cli/mod.rs:59-83`, aborting with an InvalidJson-style error before
validation when the payload does not parse). This source is that entry
point lifted to a distributed file scan: each line of a JSONL file is
one instance.

Two-tier design (Spark-first):

- **JVM fast path** — one `spark.read.text` scan + `from_json` with a
  corrupt-record column in PERMISSIVE mode. Lines that parse cleanly
  into the declared schema become typed rows and run through the
  vectorized ``ValidationEngine`` plan (whole-stage codegen, zero
  Python). This is the overwhelming majority of any real feed.
- **Python slow path** — ONLY the lines `from_json` could not fully map
  (malformed JSON, non-object values, type-mismatched fields) fall to
  an Arrow-batched `mapInPandas` that re-parses with `json.loads` and
  runs the reference-parity interpreter: unparseable lines emit
  ``code='InvalidJson'`` (the reference CLI's abort, as a violation
  row), parseable-but-unmappable instances get their exact typed
  violations (ExpectedObject / ExpectedInteger / ...) byte-identical to
  the reference semantics. Cost is proportional to the *malformed*
  subset, not the corpus.

Caveat (documented contract of the typed fast path): `from_json` maps
both JSON ``null`` and an *absent* key to SQL NULL, so the fast path
inherits the engine's NULL==absent convention for `required`. Feeds
needing exact null-vs-absent fidelity validate the raw line with
`operators.json_mode.validate_json_column` instead.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.pyvalidator import validate
from ..plans.spec import SchemaNode, parse_spec

CORRUPT_COL = "_corrupt_record"


def _parse_schema(schema: Union[str, T.StructType]) -> T.StructType:
    st = (T.StructType.fromDDL(schema) if isinstance(schema, str)
          else T.StructType(list(schema.fields)))
    if CORRUPT_COL in [f.name for f in st.fields]:
        raise ValueError(f"schema may not declare {CORRUPT_COL!r}")
    return st


def _split_lines(lines: DataFrame,
                 st: T.StructType) -> tuple[DataFrame, DataFrame]:
    """Split a ``(value string)`` line feed (batch OR streaming) into
    ``(typed_rows, fallback_lines)`` with one `from_json` expression."""
    st_c = T.StructType(list(st.fields)
                        + [T.StructField(CORRUPT_COL, T.StringType())])
    parsed = lines.filter(F.length(F.trim(F.col("value"))) > 0).select(
        F.col("value").alias("__line"),
        F.from_json(
            F.col("value"), st_c,
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": CORRUPT_COL}).alias("__j"))
    ok = parsed.filter(F.col(f"__j.{CORRUPT_COL}").isNull()) \
               .select(*[F.col(f"__j.{f.name}").alias(f.name)
                         for f in st.fields])
    bad = parsed.filter(F.col(f"__j.{CORRUPT_COL}").isNotNull()) \
                .select(F.col("__line").alias("line"))
    return ok, bad


def read_jsonl(spark: SparkSession, path: str, schema: Union[str, T.StructType],
               ) -> tuple[DataFrame, DataFrame]:
    """One text scan of ``path`` split into ``(typed_rows, fallback_lines)``.

    ``typed_rows`` carries the declared schema's columns for every line
    `from_json` fully mapped; ``fallback_lines`` is the skinny
    ``(line string)`` remainder (malformed / unmappable), empty lines
    dropped on both sides.
    """
    return _split_lines(spark.read.text(path), _parse_schema(schema))


def _fallback_violations(bad: DataFrame, root: SchemaNode) -> DataFrame:
    """Reference-parity handling of the lines the JVM path could not
    map: `json.loads` failure -> InvalidJson (the CLI abort as a row);
    success -> the interpreter's exact violations for the instance."""
    out_schema = T.StructType([
        T.StructField("line", T.StringType()),
        T.StructField("instance_path", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("message", T.StringType()),
    ])

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = {"line": [], "instance_path": [], "code": [],
                    "message": []}

            def emit(line, path, code, message):
                rows["line"].append(line)
                rows["instance_path"].append(path)
                rows["code"].append(code)
                rows["message"].append(message)

            for line in pdf["line"]:
                try:
                    instance = json.loads(line)
                except (TypeError, ValueError) as e:
                    emit(line, "", "InvalidJson",
                         f"invalid JSON line: {e}")
                    continue
                for v in validate(root, instance):
                    emit(line, v.path, v.code, v.message)
            yield pd.DataFrame(rows)

    return bad.mapInPandas(run, schema=out_schema)


def validate_jsonl(
    spark: SparkSession,
    path: str,
    spec: Union[str, bytes, dict, SchemaNode],
    schema: Union[str, T.StructType],
    *,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    strict: bool = False,
    extensions: bool = False,
):
    """Validate a JSONL file end to end.

    Returns ``(report, line_violations)``: ``report`` is the standard
    :class:`~..operators.runner.ValidationReport` over the typed
    fast-path rows, and ``line_violations`` is the slow-path output for
    lines the JVM could not map — ``(line, instance_path, code,
    message)`` with ``InvalidJson`` for unparseable lines and the
    interpreter's violations otherwise (a fully-VALID unmappable line
    contributes no rows, matching the reference verdict)."""
    from ..operators.runner import ValidationEngine

    root = spec if isinstance(spec, SchemaNode) else parse_spec(
        spec, strict=strict, extensions=extensions)
    ok, bad = read_jsonl(spark, path, schema)
    engine = ValidationEngine(root, key_cols=key_cols)
    return engine.validate(ok), _fallback_violations(bad, root)


def jsonl_violation_streams(
    spark: SparkSession,
    path: str,
    spec: Union[str, bytes, dict, SchemaNode],
    schema: Union[str, T.StructType],
    *,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    strict: bool = False,
    extensions: bool = False,
    max_files_per_trigger: Optional[int] = None,
) -> tuple[DataFrame, DataFrame]:
    """The same two-tier split over an UNBOUNDED JSONL directory — the
    reference's stdin entry point (`cli/mod.rs:59-83`) as a Structured
    Streaming source. Returns two streaming DataFrames the caller sinks:
    typed per-key violations from the JVM fast path, and the slow-path
    ``(line, instance_path, code, message)`` rows. Both branches are
    stateless row-local transforms (the split is one `from_json`
    expression, the fallback an Arrow-batched map), so they attach to
    micro-batches unchanged — byte-equal to the batch operator on the
    same files, asserted in tests."""
    from ..operators.runner import ValidationEngine

    root = spec if isinstance(spec, SchemaNode) else parse_spec(
        spec, strict=strict, extensions=extensions)
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ok, bad = _split_lines(reader.text(path), _parse_schema(schema))
    engine = ValidationEngine(root, key_cols=key_cols)
    return engine.validate(ok).violations, _fallback_violations(bad, root)
