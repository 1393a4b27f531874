"""Stateful streaming checks must reproduce the batch operators byte-for-byte
for conversations the watermark has closed — including conversations whose
turns arrive out of order and split across micro-batches."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from json_schema_rs_spark.operators.table_checks import (
    monotonic_ts_violations,
    turn_gap_violations,
)
from json_schema_rs_spark.streaming.stateful import stateful_transcript_checks

UTC = dt.timezone.utc


def _ts(minute: int, second: int = 0, micro: int = 0) -> dt.datetime:
    return dt.datetime(2026, 3, 1, 10, minute, second, micro, tzinfo=UTC)


# conv A: clean; conv B: gap (idx 2 missing -> 3 at position 2) and a
# duplicate idx 1 (same ts on both, so tie order can't change messages);
# conv C: non-monotonic ts + fractional-second ts text
ROWS = [
    ("A", 0, "user", _ts(0)), ("A", 1, "assistant", _ts(1)),
    ("B", 0, "user", _ts(0)), ("B", 1, "assistant", _ts(1)),
    ("B", 1, "user", _ts(1)), ("B", 4, "assistant", _ts(3)),
    ("C", 0, "user", _ts(5)), ("C", 1, "assistant", _ts(4, 30, 250000)),
    ("C", 2, "user", _ts(6)),
]
# a late sentinel conversation pushes the watermark far past every real
# conversation's (last ts + session gap) so all of them close
SENTINEL = ("ZZ-flush", 0, "user", _ts(59))

SCHEMA = "conv_id string, turn_idx int, role string, ts timestamp"


def _write_chunks(spark, tmp_path, chunks, schema=SCHEMA) -> str:
    """One parquet FILE per chunk in a flat dir, mtimes strictly increasing
    so the file stream source (oldest-first) processes them in order — the
    sentinel must come last or earlier rows would fall behind the
    watermark before they are read."""
    import glob
    import shutil

    d = str(tmp_path / "stream_in")
    os.makedirs(d, exist_ok=True)
    for i, chunk in enumerate(chunks):
        staging = str(tmp_path / f"staging_{i}")
        spark.createDataFrame(chunk, schema).coalesce(1) \
            .write.parquet(staging)
        (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
        dest = os.path.join(d, f"chunk{i}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return d


@pytest.fixture()
def chunk_dir(spark, tmp_path):
    """The rows split across three files, turns deliberately out of order
    and conversations split across chunk boundaries."""
    return _write_chunks(
        spark, tmp_path,
        [ROWS[6:9] + ROWS[0:1], ROWS[3:6] + ROWS[1:2],
         ROWS[2:3] + [SENTINEL]])


def _batch_expected(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    gap = turn_gap_violations(df)
    mono = monotonic_ts_violations(df)
    return sorted(tuple(r) for r in gap.unionByName(mono).collect())


def test_stream_matches_batch_bytes(spark, chunk_dir, tmp_path):
    sink = str(tmp_path / "sink")

    def run_once():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(chunk_dir))
        out = stateful_transcript_checks(
            stream, watermark_delay="10 minutes", session_gap_ms=5_000)
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", str(tmp_path / "ckpt")).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(tuple(r) for r in spark.read.parquet(sink).collect())

    got = run_once()
    expected = _batch_expected(spark)
    assert len(expected) >= 3            # gap, duplicate-idx, non-monotonic
    assert got == expected               # byte-identical messages

    # restart from the checkpoint with no new input: nothing re-emits
    # (state was dropped at close -> exactly-once violation emission)
    assert run_once() == expected


def test_nondefault_column_names_keep_batch_parity(spark, tmp_path):
    """conv_col/idx_col/ts_col are not just input selectors: the output
    schema, instance paths, and message bytes must all derive from the
    configured names exactly as the batch operators derive theirs."""
    renamed = [(c, i, r, t) for c, i, r, t in ROWS]
    schema = "session string, seq int, role string, event_ts timestamp"
    d = _write_chunks(spark, tmp_path, [renamed + [SENTINEL]], schema=schema)
    out = stateful_transcript_checks(
        spark.readStream.schema(schema).parquet(d),
        conv_col="session", idx_col="seq", ts_col="event_ts",
        watermark_delay="10 minutes", session_gap_ms=5_000)
    assert out.columns == ["session", "seq", "instance_path", "code",
                           "message"]
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stateful_renamed")
         .option("checkpointLocation", str(tmp_path / "ckpt3")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r)
                 for r in spark.sql("SELECT * FROM stateful_renamed").collect())
    df = spark.createDataFrame(renamed, schema)
    gap = turn_gap_violations(df, conv_col="session", idx_col="seq")
    mono = monotonic_ts_violations(df, conv_col="session", idx_col="seq",
                                   ts_col="event_ts")
    expected = sorted(tuple(r) for r in gap.unionByName(mono).collect())
    assert len(expected) >= 3
    assert got == expected


def test_open_conversations_stay_silent(spark, tmp_path):
    """Without the sentinel the watermark never passes last-ts + gap, so
    no conversation closes and nothing is emitted (no premature verdicts
    on conversations that may still receive turns)."""
    d = _write_chunks(spark, tmp_path, [ROWS])
    out = stateful_transcript_checks(
        (spark.readStream.schema(SCHEMA).parquet(d)),
        watermark_delay="10 minutes", session_gap_ms=3_600_000)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stateful_open")
         .option("checkpointLocation", str(tmp_path / "ckpt2")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.sql("SELECT * FROM stateful_open").count() == 0


def test_non_utc_session_closes_on_the_utc_watermark(spark, tmp_path):
    """The watermark is UTC. Under a session time zone west of UTC the
    timeout must still compare UTC instants (session-local wall-clock
    times would close open conversations hours early), and messages
    render their timestamps in the session zone, as the batch's do."""
    def run(rows, name, gap_ms):
        d = _write_chunks(spark, tmp_path / name, [rows])
        out = stateful_transcript_checks(
            spark.readStream.schema(SCHEMA).parquet(d),
            watermark_delay="10 minutes", session_gap_ms=gap_ms)
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName(name)
             .option("checkpointLocation", str(tmp_path / name / "ckpt"))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(tuple(r)
                      for r in spark.sql(f"SELECT * FROM {name}").collect())

    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert run(ROWS, "stateful_la_open", 3_600_000) == []
        assert (run(ROWS + [SENTINEL], "stateful_la_closed", 5_000)
                == _batch_expected(spark))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


PROTOCOL = ([("system", "user"), ("user", "assistant"),
             ("assistant", "user"), ("assistant", "tool"),
             ("tool", "assistant"), ("tool", "tool")],
            ["system", "user"])

# duplicate-free turn indices (window tie order between batch lag and the
# stream's stable buffer sort must not be in play); conv P: legal incl. a
# paired tool call; conv Q: bad first role + user->user transition; conv
# R: orphan tool result + orphan tool call at conversation end
PROTO_ROWS = [
    ("P", 0, "user", None, _ts(0)),
    ("P", 1, "assistant", "search", _ts(1)),
    ("P", 2, "tool", None, _ts(2)),
    ("P", 3, "assistant", None, _ts(3)),
    ("Q", 0, "assistant", None, _ts(0)),
    ("Q", 1, "user", None, _ts(1)),
    ("Q", 2, "user", None, _ts(2)),
    ("R", 0, "user", None, _ts(0)),
    ("R", 1, "tool", None, _ts(1)),
    ("R", 2, "assistant", "browse", _ts(2)),
]
PROTO_SCHEMA = ("conv_id string, turn_idx int, role string, tool string, "
                "ts timestamp")
PROTO_SENTINEL = ("ZZ-flush", 0, "user", None, _ts(59))


def test_role_dfa_only_stream_needs_no_tool_column(spark, tmp_path):
    """A role-DFA-only stream (no tool_pairing) over a table WITHOUT a
    tool column must work — the batch DFA operator never reads tools,
    and the stream must not KeyError inside the state worker."""
    from json_schema_rs_spark.operators.table_checks import (
        role_transition_violations,
    )
    rows = [(c, i, r, ts) for (c, i, r, _t, ts) in PROTO_ROWS]
    d = _write_chunks(spark, tmp_path, [rows + [SENTINEL]], schema=SCHEMA)
    out = stateful_transcript_checks(
        spark.readStream.schema(SCHEMA).parquet(d),
        watermark_delay="10 minutes", session_gap_ms=5_000,
        role_protocol=PROTOCOL)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stateful_dfa_only")
         .option("checkpointLocation", str(tmp_path / "ckpt5")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM stateful_dfa_only").collect())
    df = spark.createDataFrame(rows, SCHEMA)
    expected = sorted(
        tuple(r) for r in
        turn_gap_violations(df)
        .unionByName(monotonic_ts_violations(df))
        .unionByName(role_transition_violations(df, *PROTOCOL)).collect())
    assert {"BadFirstRole", "BadRoleTransition"} <= {r[3] for r in expected}
    assert got == expected


def test_missing_protocol_columns_fail_at_plan_time(spark, tmp_path):
    d = _write_chunks(spark, tmp_path, [ROWS], schema=SCHEMA)
    stream = spark.readStream.schema(SCHEMA).parquet(d)
    with pytest.raises(ValueError, match="tool column"):
        stateful_transcript_checks(stream, tool_pairing=True)
    with pytest.raises(ValueError, match="role column"):
        stateful_transcript_checks(
            stream.drop("role"), role_protocol=PROTOCOL)


def test_protocol_checks_match_batch_bytes(spark, tmp_path):
    from json_schema_rs_spark.operators.table_checks import (
        role_transition_violations,
        tool_pairing_violations,
    )
    d = _write_chunks(
        spark, tmp_path,
        [PROTO_ROWS[4:7] + PROTO_ROWS[0:2],
         PROTO_ROWS[2:4] + PROTO_ROWS[7:10] + [PROTO_SENTINEL]],
        schema=PROTO_SCHEMA)
    out = stateful_transcript_checks(
        spark.readStream.schema(PROTO_SCHEMA).parquet(d),
        watermark_delay="10 minutes", session_gap_ms=5_000,
        role_protocol=PROTOCOL, tool_pairing=True)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stateful_protocol")
         .option("checkpointLocation", str(tmp_path / "ckpt4")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM stateful_protocol").collect())
    df = spark.createDataFrame(PROTO_ROWS, PROTO_SCHEMA)
    expected = sorted(
        tuple(r) for r in
        turn_gap_violations(df)
        .unionByName(monotonic_ts_violations(df))
        .unionByName(role_transition_violations(df, *PROTOCOL))
        .unionByName(tool_pairing_violations(df)).collect())
    codes = {r[3] for r in expected}
    assert {"BadFirstRole", "BadRoleTransition", "ToolResultWithoutCall",
            "ToolCallWithoutResult"} <= codes
    assert got == expected
