"""Fused transcript pipeline (operators/pipeline.py) must agree with the
à-la-carte operators it fuses, and its physical plan must contain exactly
one exchange (the skinny conv_id shuffle)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_schema_rs_spark import ValidationEngine  # noqa: E402
from json_schema_rs_spark.operators.pipeline import transcript_pipeline  # noqa: E402
from json_schema_rs_spark.operators.table_checks import (  # noqa: E402
    monotonic_ts_violations,
    referential_violations,
    turn_gap_violations,
)
from json_schema_rs_spark.sources.synth import ROLES, TOOLS, synth_transcripts  # noqa: E402

SPEC = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "role": {"type": "string", "enum": ROLES},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000},
        "turn_idx": {"type": "integer", "minimum": 0},
    },
}


def _key(r):
    return (r.conv_id, r.turn_idx, r.instance_path, r.code, r.message)


def test_fused_equals_a_la_carte(spark):
    tx = synth_transcripts(spark, n_conversations=40, turns_per_conv=8,
                           violation_rate=0.2)
    fused = {_key(r) for r in transcript_pipeline(
        tx, SPEC, vocabularies={"tool": TOOLS}).collect()}

    row_v = ValidationEngine(SPEC).validate(tx).violations
    expected = {_key(r) for r in row_v.collect()}
    expected |= {_key(r) for r in referential_violations(
        tx, "tool", TOOLS).collect()}
    expected |= {_key(r) for r in turn_gap_violations(tx).collect()}
    expected |= {_key(r) for r in monotonic_ts_violations(tx).collect()}
    # synth injects no duplicate keys, so per-row vs per-key dup contract
    # difference cannot matter here
    assert fused == expected
    assert len(fused) > 0


def test_fused_duplicate_keys_flag_every_row(spark):
    rows = [("c0", 0, "system", "x", None, None),
            ("c0", 1, "user", "y", None, None),
            ("c0", 1, "assistant", "z", None, None)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = transcript_pipeline(tx, {"type": "object"}, ts_col=None).collect()
    dups = [r for r in out if r.code == "DuplicateKey"]
    assert len(dups) == 2
    assert all(r.message == "root: duplicate key (conv_id, turn_idx) has 2 "
                            "occurrences, expected 1" for r in dups)
    # one of the two duplicate rows also breaks gap-free ordering
    gaps = [r for r in out if r.code == "TurnGap"]
    assert len(gaps) == 1 and gaps[0].turn_idx == 1


def test_fused_plan_has_single_exchange(spark):
    tx = synth_transcripts(spark, n_conversations=5, turns_per_conv=4)
    pipe = transcript_pipeline(tx, SPEC, vocabularies={"tool": TOOLS})
    plan = pipe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bucketed_input_makes_pipeline_shuffle_free(spark, tmp_path):
    """With the at-scale layout (table clustered by conv_id — Iceberg
    write-time clustering / Spark bucketing), even the cross-row checks
    plan ZERO exchanges, and results match the flat-input pipeline."""
    from json_schema_rs_spark.sources.bucketed import (
        register_bucketed,
        write_bucketed,
    )
    tx = synth_transcripts(spark, n_conversations=30, turns_per_conv=6,
                           violation_rate=0.2)
    flat = str(tmp_path / "flat")
    tx.write.parquet(flat)
    bpath = str(tmp_path / "bucketed")
    write_bucketed(spark, flat, bpath, n_buckets=4)
    btx = register_bucketed(spark, bpath, name="tx_bucketed_test",
                            n_buckets=4)
    pipe = transcript_pipeline(btx, SPEC, vocabularies={"tool": TOOLS})
    plan = pipe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    flat_pipe = transcript_pipeline(spark.read.parquet(flat), SPEC,
                                    vocabularies={"tool": TOOLS})
    assert ({_key(r) for r in pipe.collect()}
            == {_key(r) for r in flat_pipe.collect()})


PROTOCOL = ([("system", "user"), ("user", "assistant"),
             ("assistant", "user"), ("assistant", "tool"),
             ("tool", "assistant"), ("tool", "tool")],
            ["system", "user"])


def test_fused_protocol_equals_a_la_carte(spark):
    from json_schema_rs_spark.operators.table_checks import (
        role_transition_violations,
        tool_pairing_violations,
    )
    tx = synth_transcripts(spark, n_conversations=40, turns_per_conv=8,
                           violation_rate=0.2)
    fused = {_key(r) for r in transcript_pipeline(
        tx, SPEC, vocabularies={"tool": TOOLS},
        role_protocol=PROTOCOL, tool_pairing=True).collect()}

    expected = {_key(r) for r in transcript_pipeline(
        tx, SPEC, vocabularies={"tool": TOOLS}).collect()}
    expected |= {_key(r) for r in role_transition_violations(
        tx, *PROTOCOL).collect()}
    expected |= {_key(r) for r in tool_pairing_violations(tx).collect()}
    assert fused == expected
    # the synth violation injector produces protocol violations
    codes = {k[3] for k in fused}
    assert codes & {"BadRoleTransition", "BadFirstRole",
                    "ToolResultWithoutCall", "ToolCallWithoutResult"}


def test_fused_protocol_still_single_exchange(spark):
    tx = synth_transcripts(spark, n_conversations=5, turns_per_conv=4)
    pipe = transcript_pipeline(tx, SPEC, vocabularies={"tool": TOOLS},
                               role_protocol=PROTOCOL, tool_pairing=True)
    plan = pipe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_cross_row_matches_independent_reference(spark):
    """The fused cross-row branch against the stream's pandas
    implementation of the same checks (streaming.stateful), which shares
    no code with the check table: full rows must agree byte for byte."""
    import datetime as dt

    from json_schema_rs_spark.operators.pipeline import cross_row_violations
    from json_schema_rs_spark.streaming.stateful import _close_conversation

    t0 = dt.datetime(2026, 3, 1, 10, 0, tzinfo=dt.timezone.utc)

    def at(seconds):
        return t0 + dt.timedelta(seconds=seconds)

    rows = [
        # clean: a tool call answered by a tool turn
        ("ok", 0, "system", "s", None, at(0)),
        ("ok", 1, "user", "u", None, at(1)),
        ("ok", 2, "assistant", "a", "search", at(2)),
        ("ok", 3, "tool", "t", None, at(3)),
        ("ok", 4, "assistant", "a", None, at(4)),
        # offset start; the last turn is an unanswered tool call
        ("off", 1, "system", "s", None, at(0)),
        ("off", 2, "user", "u", None, at(1)),
        ("off", 3, "assistant", "a", "browse", at(2)),
        # a gap (no turn 2)
        ("gap", 0, "user", "u", None, at(0)),
        ("gap", 1, "assistant", "a", "calc", at(1)),
        ("gap", 3, "tool", "t", None, at(2)),
        # a tool turn after an assistant turn that called no tool
        ("bare", 0, "user", "u", None, at(0)),
        ("bare", 1, "assistant", "a", None, at(1)),
        ("bare", 2, "tool", "t", None, at(2)),
        # NULL roles: first turn, and before a tool turn
        ("nul", 0, None, "x", None, at(0)),
        ("nul", 1, "user", "u", None, at(1)),
        ("nul", 2, None, "x", None, at(2)),
        ("nul", 3, "tool", "t", None, at(3)),
        # ts regression with fractional seconds; assistant -> assistant
        ("ts", 0, "user", "u", None, at(10.5)),
        ("ts", 1, "assistant", "a", None, at(10.25)),
        ("ts", 2, "assistant", "a", None, at(11.000125)),
    ]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    got = sorted(tuple(r) for r in cross_row_violations(
        tx, role_protocol=PROTOCOL, tool_pairing=True).collect())

    turns = {}
    for r in tx.select("conv_id", "turn_idx", "role", "tool",
                       F.unix_micros("ts").alias("ts_us")).collect():
        turns.setdefault(r.conv_id, []).append(r)
    protocol = {"allowed_transitions": PROTOCOL[0],
                "allowed_first": PROTOCOL[1], "tool_pairing": True}
    columns = ["conv_id", "turn_idx", "instance_path", "code", "message"]
    expected = sorted(
        tuple(row)
        for conv, ts in turns.items()
        for row in _close_conversation(
            conv, [t.turn_idx for t in ts], [t.ts_us for t in ts], columns,
            "/turn_idx", "/ts", [t.role for t in ts], [t.tool for t in ts],
            protocol).itertuples(index=False))
    assert got == expected
    assert {r[3] for r in expected} == {
        "TurnGap", "NonMonotonicTs", "BadFirstRole", "BadRoleTransition",
        "ToolResultWithoutCall", "ToolCallWithoutResult"}
