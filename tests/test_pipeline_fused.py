"""Fused transcript pipeline (operators/pipeline.py) must agree with the
à-la-carte operators it fuses, and its physical plan must contain exactly
one exchange (the skinny conv_id shuffle)."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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
    """The fused cross-row branch against an independent pandas
    implementation of the same checks (tests/cross_row_oracle.py), which
    shares no code with the check table: full rows must agree byte for
    byte."""
    import datetime as dt

    from json_schema_rs_spark.operators.pipeline import cross_row_violations
    from cross_row_oracle import _close_conversation

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


# --- expressions are built once per (spec, schema, options) per context

def _rows(df):
    return df.columns, sorted(tuple(r) for r in df.collect())


def _counting(counts, name, real):
    def wrapper(*args, **kwargs):
        counts[name] += 1
        return real(*args, **kwargs)
    return wrapper


def test_repeat_call_builds_expressions_once(spark, monkeypatch):
    from collections import Counter
    import weakref

    from json_schema_rs_spark.operators import runner, table_checks
    monkeypatch.setattr(runner, "_memos", weakref.WeakKeyDictionary())
    counts = Counter()
    monkeypatch.setattr(runner, "compile_table_spec", _counting(
        counts, "compile", runner.compile_table_spec))
    monkeypatch.setattr(table_checks, "_cross_row_exprs", _counting(
        counts, "cross_row", table_checks._cross_row_exprs))
    tx = synth_transcripts(spark, n_conversations=20, turns_per_conv=6,
                           violation_rate=0.2)
    first, second = (_rows(transcript_pipeline(
        tx, SPEC, vocabularies={"tool": TOOLS}, role_protocol=PROTOCOL,
        tool_pairing=True)) for _ in range(2))
    assert counts == {"compile": 1, "cross_row": 1}
    assert first == second and first[1]


def test_validate_twice_on_one_engine(spark):
    tx = synth_transcripts(spark, n_conversations=20, turns_per_conv=6,
                           violation_rate=0.2)
    engine = ValidationEngine(SPEC)
    first, second = [engine.validate(tx) for _ in range(2)]
    assert _rows(first.flagged) == _rows(second.flagged)
    assert _rows(first.violations) == _rows(second.violations)
    assert first.violations.schema == second.violations.schema
    assert first.violations.count() > 0


def test_option_sets_never_share_cached_expressions(spark, monkeypatch):
    """Each option set, run after all the others in one memo, returns
    the rows it returns from an empty memo, and no two sets agree."""
    import datetime as dt
    import weakref

    from json_schema_rs_spark.operators import runner

    t0 = dt.datetime(2026, 3, 1, 10, 0, tzinfo=dt.timezone.utc)

    def at(seconds):
        return t0 + dt.timedelta(seconds=seconds)

    tx = spark.createDataFrame([
        ("a", "x", 0, "assistant", "user", "search", at(5)),
        ("a", "x", 1, "tool", "assistant", None, at(1)),
        ("a", "x", 2, "user", "tool", "calc", at(6)),
        ("b", "x", 0, "user", "system", None, at(0)),
        ("b", "x", 2, "assistant", "user", "browse", at(1)),
    ], "conv_id string, conv2 string, turn_idx int, role string, "
       "role2 string, tool string, ts timestamp")
    transitions = PROTOCOL[0]
    options = [
        {},
        {"ts_col": None},
        {"role_protocol": (transitions, ["system", "user"])},
        {"role_protocol": (transitions, ["user", "system"])},
        {"role_protocol": (transitions[:1] + transitions[2:],
                           ["system", "user"])},
        {"tool_pairing": True},
        {"tool_pairing": True, "role_col": "role2"},
        {"vocabularies": {"tool": ["search"]}},
        {"vocabularies": {"tool": ["calc"]}},
        {"conv_col": "conv2"},
        # object const literals render in key order: two specs that differ
        # only there compile to different messages
        {"spec": {"properties": {"tool": {"const": {"b": 1, "a": 2}}}}},
        {"spec": {"properties": {"tool": {"const": {"a": 2, "b": 1}}}}},
    ]
    spec = {"type": "object", "properties": {"tool": {"type": "string"}}}

    def run(kw):
        kw = dict(kw)
        return _rows(transcript_pipeline(tx, kw.pop("spec", spec), **kw))

    cold = []
    for kw in options:
        monkeypatch.setattr(runner, "_memos", weakref.WeakKeyDictionary())
        cold.append(run(kw))
    monkeypatch.setattr(runner, "_memos", weakref.WeakKeyDictionary())
    for kw in options:
        run(kw)
    assert [run(kw) for kw in options] == cold
    assert len({repr(c) for c in cold}) == len(options)


RESTART = """\
import json, sys
from pyspark import SparkContext
from pyspark.sql import SparkSession
from json_schema_rs_spark.operators.pipeline import transcript_pipeline
from json_schema_rs_spark.operators.runner import ValidationEngine

spec = json.loads(sys.argv[1])
rows = [("c0", 0, "user", "spark window"), ("c0", 1, "assistant", "x"),
        ("c0", 3, "user", "spark window"),
        ("c1", 0, "assistant", "spark window")]


def call():
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    stage = ValidationEngine(spec).plan_for(df).has_python_stage
    out = sorted(tuple(r) for r in transcript_pipeline(
        df, spec, ts_col=None,
        role_protocol=([("user", "assistant"), ("assistant", "user")],
                       ["user"])).collect())
    spark.stop()
    return stage, out


def new_jvm():
    # what a process that restarts Spark from scratch does: the next
    # session launches a fresh JVM
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None


first, second = call(), call()
new_jvm()
print(json.dumps({"first": first, "second": second, "third": call()}))
"""


@pytest.mark.parametrize("pattern", ["window", "(?<=spark) window"],
                         ids=["codegen", "python_stage"])
def test_pipeline_after_context_restart(tmp_path, pattern):
    """The memo is per SparkContext: after ``spark.stop()`` a new
    session's call rebuilds its expressions (cached Columns hold the old
    context's JVM references; a pandas-UDF column, its accumulator), also
    when the new session runs in a new JVM."""
    spec = {"type": "object",
            "properties": {"text": {"type": "string", "pattern": pattern}}}
    script = tmp_path / "restart.py"
    script.write_text(RESTART)
    proc = subprocess.run(
        [sys.executable, str(script), json.dumps(spec)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": REPO,
             "PYSPARK_PYTHON": sys.executable,
             "PYSPARK_DRIVER_PYTHON": sys.executable})
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["first"] == got["second"] == got["third"]
    stage, rows = got["first"]
    assert stage == (pattern != "window")
    codes = sorted(r[3] for r in rows)
    assert codes == ["BadFirstRole", "PatternMismatch", "TurnGap"], rows


def test_context_memo_under_thread_contention():
    """Many threads over more keys than the memo keeps: every lookup
    returns its own key's value, and the memo never exceeds its bound."""
    import threading

    from json_schema_rs_spark.operators import runner

    class Context:   # stands in for a SparkContext: weakly referenced
        pass

    sc, errors = Context(), []

    def hammer(seed):
        try:
            for i in range(20000):
                k = (seed * 7 + i) % (2 * runner._MEMO_ENTRIES)
                got = runner._context_memo(sc, ("t", k), lambda: ("v", k))
                if got != ("v", k):
                    errors.append((k, got))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(s,))
                   for s in range(32)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(runner._memos[sc]) == runner._MEMO_ENTRIES
