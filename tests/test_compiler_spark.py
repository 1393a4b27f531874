"""Vectorized compiler vs reference-semantics pyvalidator cross-checks.

The strongest correctness gate we have locally: for every row of a
violation-injected transcripts table, the compiled single-pass Spark plan
must produce byte-identical violation rows to the row-at-a-time
pyvalidator (which itself is pinned to the reference's 139 unit tests via
tests/cases/*.json). Comparison contract per BASELINE.json input_hint:
sort by (conv_id, turn_idx, instance_path, code) and compare full text.
"""

import json

import pytest
from pyspark.sql import functions as F

from json_schema_rs_spark import ValidationEngine
from json_schema_rs_spark.plans.pyvalidator import validate
from json_schema_rs_spark.plans.spec import parse_spec
from json_schema_rs_spark.sources.synth import synth_transcripts_pandas

TRANSCRIPT_SPEC = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text", "ts"],
    "properties": {
        "conv_id": {"type": "string", "pattern": "^conv_[0-9]{8}$"},
        "turn_idx": {"type": "integer", "minimum": 0, "maximum": 99999},
        "role": {"$ref": "#/$defs/RoleName"},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000},
        "tool": {"type": "string",
                 "enum": ["search", "calculator", "code_exec", "browser"]},
        "ts": {"type": "string"},
    },
    "$defs": {
        "RoleName": {"type": "string",
                     "enum": ["system", "user", "assistant", "tool"]},
    },
}


def _to_json_value(v):
    import datetime
    from pyspark.sql import Row
    if isinstance(v, Row):
        return {k: _to_json_value(x) for k, x in v.asDict().items() if x is not None}
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, list):
        return [_to_json_value(x) for x in v]
    return v


def row_to_instance(row) -> dict:
    """A typed row as the JSON object the reference would see: NULL column
    (or struct field) = absent key; NULL array *elements* stay as JSON
    null; timestamps as their Spark string form."""
    return _to_json_value(row)


def spark_violations(engine, df, keys=("conv_id", "turn_idx")):
    rows = engine.validate(df).violations.collect()
    return sorted(tuple(r[k] for k in keys) + (r.instance_path, r.code, r.message)
                  for r in rows)


def python_violations(spec, df, keys=("conv_id", "turn_idx")):
    root = parse_spec(spec)
    out = []
    for row in df.collect():
        inst = row_to_instance(row)
        for v in validate(root, inst):
            out.append(tuple(row[k] for k in keys) + (v.path, v.code, v.message))
    return sorted(out)


class TestTranscriptCrossCheck:
    @pytest.fixture(scope="class")
    def tdf(self, spark):
        pdf = synth_transcripts_pandas(
            n_conversations=60, turns_per_conv=8, seed=7, violation_rate=0.25)
        return spark.createDataFrame(
            pdf, schema="conv_id string, turn_idx int, role string, "
                        "text string, tool string, ts timestamp").cache()

    def test_violations_match_pyvalidator_bytes(self, spark, tdf):
        engine = ValidationEngine(TRANSCRIPT_SPEC)
        assert spark_violations(engine, tdf) == python_violations(TRANSCRIPT_SPEC, tdf)

    def test_violations_nonempty_and_verdicts_consistent(self, spark, tdf):
        engine = ValidationEngine(TRANSCRIPT_SPEC)
        report = engine.validate(tdf)
        s = report.summary()
        assert s["rows"] == tdf.count()
        assert s["invalid_rows"] > 0
        assert s["valid_rows"] + s["invalid_rows"] == s["rows"]
        assert report.violations.count() == s["violation_count"]

    def test_clean_data_all_valid(self, spark):
        pdf = synth_transcripts_pandas(n_conversations=20, turns_per_conv=5,
                                       seed=3, violation_rate=0.0)
        df = spark.createDataFrame(
            pdf, schema="conv_id string, turn_idx int, role string, "
                        "text string, tool string, ts timestamp")
        engine = ValidationEngine(TRANSCRIPT_SPEC)
        s = engine.validate(df).summary()
        assert s["invalid_rows"] == 0 and s["violation_count"] == 0

    def test_single_pass_no_shuffle(self, spark, tdf):
        """The row-local plan must be narrow: no Exchange in the physical
        plan (SURVEY.md §4.1 'zero-shuffle narrow plan')."""
        engine = ValidationEngine(TRANSCRIPT_SPEC)
        plan = engine.validate(tdf).violations._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan, plan


def _cross_check(spark, spec, rows, schema, keys=("conv_id", "turn_idx")):
    df = spark.createDataFrame(rows, schema=schema)
    engine = ValidationEngine(spec, key_cols=keys)
    got = spark_violations(engine, df, keys)
    want = python_violations(spec, df, keys)
    assert got == want, f"\nspark: {got}\npython: {want}"
    return got


class TestTypedColumnEdges:
    def test_const_and_enum_gating(self, spark):
        spec = {"type": "object", "properties": {
            "conv_id": {"const": "fixed"},
            "turn_idx": {"type": "integer", "enum": [1, 2, 3], "minimum": 2},
        }}
        rows = [("fixed", 1), ("nope", 2), ("fixed", 9), ("fixed", None), (None, 3)]
        got = _cross_check(spark, spec, rows, "conv_id string, turn_idx int")
        # const mismatch masks everything; enum miss masks minimum
        assert ("nope", 2, "/conv_id", "NotConst",
                '/conv_id: value "nope" does not match const (expected: "fixed")') in got
        assert ("fixed", 9, "/turn_idx", "NotInEnum",
                "/turn_idx: value 9 not in enum (allowed: 1, 2, 3)") in got
        # enum member 1 passes enum but fails minimum
        assert ("fixed", 1, "/turn_idx", "BelowMinimum",
                "/turn_idx: value 1 is below minimum 2") in got

    def test_combinators_on_columns(self, spark):
        spec = {"type": "object", "properties": {
            "text": {"anyOf": [{"type": "string", "minLength": 3},
                                {"type": "string", "pattern": "^ok"}]},
            "turn_idx": {"oneOf": [{"type": "integer", "minimum": 0},
                                    {"type": "integer", "maximum": 10}]},
        }}
        rows = [("ok", 20, "a", 0), ("no", 5, "b", 1), ("long enough", -5, "c", 2)]
        _cross_check(spark, spec, rows,
                     "text string, turn_idx int, conv_id string, x int")

    def test_allof_union_and_ref(self, spark):
        spec = {
            "$defs": {"Short": {"type": "string", "maxLength": 4}},
            "type": "object",
            "properties": {
                "text": {"allOf": [{"$ref": "#/$defs/Short"},
                                    {"type": "string", "pattern": "^[a-z]+$"}]},
            },
        }
        rows = [("Abcdef", 0), ("ab", 1), ("xyzzy!", 2)]
        _cross_check(spark, spec, rows, "text string, turn_idx int",
                     keys=("text", "turn_idx"))

    def test_invalid_ref_and_cycle(self, spark):
        spec = {
            "$defs": {"A": {"$ref": "#/$defs/B"}, "B": {"$ref": "#/$defs/A"}},
            "type": "object",
            "properties": {"text": {"$ref": "#/$defs/A"},
                            "role": {"$ref": "#/$defs/Missing"}},
        }
        got = _cross_check(spark, spec, [("x", "y", "c", 0)],
                           "text string, role string, conv_id string, turn_idx int")
        msgs = [g[4] for g in got]
        assert ('/text: could not resolve $ref "#/$defs/A": '
                'RefCycle { ref_str: "#/$defs/A" }') in msgs
        assert ('/role: could not resolve $ref "#/$defs/Missing": '
                'DefNotFound { ref_str: "#/$defs/Missing", name: "Missing" }') in msgs

    def test_additional_properties_forbid_extra_columns(self, spark):
        spec = {"type": "object",
                "properties": {"conv_id": {"type": "string"}},
                "additionalProperties": False}
        got = _cross_check(spark, spec, [("a", 1), ("b", None)],
                           "conv_id string, turn_idx int")
        # turn_idx present (non-null) -> disallowed; null -> absent -> fine
        assert got == [("a", 1, "/turn_idx", "DisallowedAdditionalProperty",
                        '/turn_idx: additional property "turn_idx" not allowed')]

    def test_additional_properties_schema_on_extra_columns(self, spark):
        spec = {"type": "object",
                "properties": {"conv_id": {"type": "string"}},
                "additionalProperties": {"type": "integer", "minimum": 0}}
        _cross_check(spark, spec, [("a", 1), ("b", -2), ("c", None)],
                     "conv_id string, turn_idx int")

    def test_type_mismatch_static(self, spark):
        spec = {"type": "object", "properties": {
            "turn_idx": {"type": "string"},
            "conv_id": {"type": "integer"},
            "score": {"type": "integer"},   # double column: serde float != integer
            "flag": {"type": "boolean"},
        }}
        _cross_check(spark, spec,
                     [("a", 1, 1.5, True), ("b", 2, 2.0, None)],
                     "conv_id string, turn_idx int, score double, flag boolean")

    def test_double_bounds_and_display(self, spark):
        spec = {"type": "object", "properties": {
            "score": {"type": "number", "minimum": 2.5, "maximum": 7},
        }}
        got = _cross_check(spark, spec,
                           [("a", 0, 1.25), ("a", 1, 8.0), ("a", 2, 3.0), ("a", 3, 7.5)],
                           "conv_id string, turn_idx int, score double")
        msgs = sorted(g[4] for g in got)
        assert msgs == [
            "/score: value 1.25 is below minimum 2.5",
            "/score: value 7.5 is above maximum 7",
            "/score: value 8 is above maximum 7",   # integral f64 prints as 8
        ]

    def test_uuid_format(self, spark):
        spec = {"type": "object", "properties": {
            "u": {"type": "string", "format": "uuid"}}}
        _cross_check(spark, spec,
                     [("550e8400-e29b-41d4-a716-446655440000", "a", 0),
                      ("550e8400e29b41d4a716446655440000", "a", 1),
                      ("urn:uuid:550e8400-e29b-41d4-a716-446655440000", "a", 2),
                      ("{550e8400-e29b-41d4-a716-446655440000}", "a", 3),
                      ("nope", "a", 4)],
                     "u string, conv_id string, turn_idx int")

    def test_unicode_code_point_lengths(self, spark):
        spec = {"type": "object", "properties": {
            "text": {"type": "string", "minLength": 2, "maxLength": 4}}}
        got = _cross_check(spark, spec,
                           [("héllo🙂", "a", 0), ("🙂🙂", "a", 1), ("x", "a", 2)],
                           "text string, conv_id string, turn_idx int")
        msgs = sorted(g[4] for g in got)
        assert msgs == ["/text: string has 1 code points, minLength is 2",
                        "/text: string has 6 code points, maxLength is 4"]


class TestArrayColumns:
    SCHEMA = "conv_id string, turn_idx int, tags array<string>, nums array<int>"

    def test_array_checks(self, spark):
        spec = {"type": "object", "properties": {
            "tags": {"type": "array", "minItems": 1, "maxItems": 3,
                      "uniqueItems": True},
            "nums": {"type": "array",
                      "items": {"type": "integer", "minimum": 0, "maximum": 9}},
        }}
        rows = [
            ("a", 0, ["x", "y"], [1, 2]),
            ("a", 1, [], [0]),
            ("a", 2, ["x", "y", "x"], [11, -1]),
            ("a", 3, ["1", "2", "3", "4"], None),
            ("a", 4, None, [None, 5]),
        ]
        got = _cross_check(spark, spec, rows, self.SCHEMA)
        msgs = [g[4] for g in got]
        assert 'root: ' not in "".join(msgs)
        assert "/tags: array has 0 item(s), minimum is 1" in msgs
        assert '/tags: array has duplicate items (value: "x")' in msgs
        assert "/tags: array has 4 item(s), maximum is 3" in msgs
        assert "/nums/0: value 11 is above maximum 9" in msgs
        assert "/nums/1: value -1 is below minimum 0" in msgs
        assert "/nums/0: expected integer, got null" in msgs

    def test_items_string_checks(self, spark):
        spec = {"type": "object", "properties": {
            "tags": {"type": "array",
                      "items": {"type": "string", "minLength": 2,
                                "pattern": "^[a-z]+$"}}}}
        rows = [("a", 0, ["ok", "B", "fine", "x!"], None)]
        got = _cross_check(spark, spec, rows, self.SCHEMA)
        paths = sorted(g[2] for g in got)
        assert paths == ["/tags/1", "/tags/1", "/tags/3"]


class TestStructColumns:
    SCHEMA = ("conv_id string, turn_idx int, "
              "meta struct<model:string, temp:double, seed:int>")

    def test_nested_object(self, spark):
        spec = {"type": "object", "properties": {
            "meta": {"type": "object",
                      "required": ["model"],
                      "properties": {
                          "model": {"type": "string", "minLength": 1},
                          "temp": {"type": "number", "minimum": 0.0,
                                    "maximum": 2.0},
                      }}}}
        rows = [
            ("a", 0, ("m1", 0.7, 1)),
            ("a", 1, (None, 3.5, 2)),
            ("a", 2, ("", 1.0, None)),
            ("a", 3, None),
        ]
        got = _cross_check(spark, spec, rows, self.SCHEMA)
        msgs = sorted(g[4] for g in got)
        assert msgs == [
            '/meta/model: missing required property "model"',
            "/meta/model: string has 0 code points, minLength is 1",
            "/meta/temp: value 3.5 is above maximum 2",
        ]


class TestColumnPruning:
    def test_referenced_columns_only(self, spark):
        from json_schema_rs_spark.plans.compiler import compile_table_spec
        from pyspark.sql import types as T
        schema = T.StructType.fromDDL(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
        plan = compile_table_spec(parse_spec({
            "type": "object", "required": ["conv_id"],
            "properties": {"role": {"type": "string"}}}), schema)
        assert plan.referenced_columns == ["conv_id", "role"]


class TestPlanCSE:
    """Plan-level CSE (the DedupeKey analog, rust_backend.rs:1486-1840):
    nested combinators must compile in linear, not exponential, node
    visits, with semantics unchanged."""

    @staticmethod
    def _nested_oneof(depth: int) -> dict:
        # each level: oneOf of 3 branches, two of which recurse — without
        # validity memoization this compiles O(2^depth) branch trials
        leaf = {"properties": {"o_totalprice": {"type": "number",
                                                "maximum": 200000}}}
        node = leaf
        for _ in range(depth):
            node = {"oneOf": [
                node,
                node,
                {"properties": {"o_orderstatus": {"const": "O"}}},
            ]}
        return node

    def test_nested_oneof_linear_compile(self, spark, sf_dir, monkeypatch):
        from json_schema_rs_spark.plans import compiler as C
        calls = {"n": 0}
        real = C.compile_node

        def counting(*a, **kw):
            calls["n"] += 1
            return real(*a, **kw)

        monkeypatch.setattr(C, "compile_node", counting)
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        depth = 12
        C.compile_table_spec(
            __import__("json_schema_rs_spark.plans.spec",
                       fromlist=["parse_spec"]).parse_spec(
                self._nested_oneof(depth)),
            df.schema)
        # memoized: ~4 visits per level (+ property leaves); exponential
        # without memo (2^12 = 4096 subtree compiles at the leaf level)
        assert calls["n"] <= 12 * depth, calls["n"]

    def test_nested_oneof_semantics_match_pyvalidator(self, spark, sf_dir):
        from json_schema_rs_spark import ValidationEngine
        from json_schema_rs_spark.plans import pyvalidator
        from json_schema_rs_spark.plans.spec import parse_spec
        spec = self._nested_oneof(4)
        df = spark.read.parquet(f"{sf_dir}/orders.parquet") \
                       .select("o_orderkey", "o_orderstatus", "o_totalprice") \
                       .limit(200)
        got = {(r.o_orderkey, r.code)
               for r in ValidationEngine(spec, key_cols=("o_orderkey",))
               .validate(df).violations.collect()}
        root = parse_spec(spec)
        exp = set()
        for row in df.collect():
            inst = {"o_orderkey": row.o_orderkey,
                    "o_orderstatus": row.o_orderstatus,
                    "o_totalprice": row.o_totalprice}
            for v in pyvalidator.validate(root, inst):
                exp.add((row.o_orderkey, v.code))
        assert got == exp


@pytest.mark.parametrize("lo,hi,sizes,codes", [
    # one below, at, and one above each bound
    (3, 5, (2, 3, 5, 6), {"TooShort": 4, "TooLong": 4}),
    # bounds past any string's byte length: every string is too short
    (2**62, 2**63 - 1, (1, 2), {"TooShort": 8}),
], ids=["bounds", "huge_bounds"])
def test_length_bounds_at_every_utf8_width(spark, lo, hi, sizes, codes):
    """minLength/maxLength first compare the byte length, then count code
    points: at each bound, for code points of 1 to 4 UTF-8 bytes, the
    rows and messages stay those of the pyvalidator, also through the
    fused pipeline's filter."""
    from collections import Counter

    from json_schema_rs_spark.operators.pipeline import transcript_pipeline
    spec = {"type": "object",
            "properties": {"text": {"type": "string",
                                    "minLength": lo, "maxLength": hi}}}
    rows = [(f"c{i}", 0, "user", ch * n)
            for i, (ch, n) in enumerate(
                (ch, n) for ch in ("a", "\u00e9", "\u20ac", "\U0001F600")
                for n in sizes)]
    assert ({len(r[3].encode()) // len(r[3]) for r in rows}
            == {1, 2, 3, 4})
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    root = parse_spec(spec)
    want = sorted((c, i, v.path, v.code, v.message)
                  for c, i, _, text in rows
                  for v in validate(root, {"text": text}))
    assert Counter(w[3] for w in want) == codes
    got = sorted((r.conv_id, r.turn_idx, r.instance_path, r.code, r.message)
                 for r in ValidationEngine(spec).validate(df)
                 .violations.collect())
    assert got == want
    fused = sorted((r.conv_id, r.turn_idx, r.instance_path, r.code,
                    r.message) for r in transcript_pipeline(
                        df, spec, ts_col=None).collect())
    assert fused == want
