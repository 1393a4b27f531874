"""Stateful streaming table-checks: per-conversation gap-free ordering,
monotonic-timestamp, and (optionally) role-protocol / tool-pairing
validation over a live transcript stream.

The batch checks (the ``operators/table_checks.py`` check table, behind
``turn_gap_violations`` and friends) need the whole conversation; on a
stream the conversation arrives incrementally and possibly out of order
across micro-batches. Here ``applyInPandasWithState`` only buffers and
closes conversations; the checks are the check table's own records:

- State per ``conv_id``: the turn indices, event timestamps (UTC micros,
  computed in Spark before the state operator) and, for the protocol
  checks, roles/tools seen so far — bounded by turns-per-conversation,
  not by stream length.
- A conversation CLOSES when the event-time watermark passes its last
  event + ``session_gap`` (``GroupStateTimeout.EventTimeTimeout``): the
  session-window convention for "no more turns are coming".
- On close the buffers are emitted once, as one row sorted by turn index
  (a stable sort: duplicate indices keep arrival order), and the state
  is dropped. That row is exploded to one row per turn and the
  ``table_checks._CHECKS`` records run on it through ``_cross_row``,
  reading their values off the sorted buffers (``_ARRAY_VALUES``) instead
  of a window.

Late rows *within* the watermark are handled exactly (they join the
buffer before close); rows later than watermark + gap are dropped by the
engine, the standard watermark contract.

Reference anchor: the gap-free check is the streaming form of the
reference's array-position validation (validator/mod.rs:398-407 — item i
must sit at position i); the reference itself is batch/single-doc only
(SURVEY.md §2.7).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.table_checks import _ARRAY_VALUES, _buffered, _cross_row

# state: parallel arrays of turn indices, event timestamps (UTC micros)
# and, when the checks read them, roles/tools; an unread array stays
# empty. A checkpoint written before the role/tool arrays existed needs a
# fresh checkpoint dir. One written while the checks still ran inside the
# state operator (same state schema, another output schema) is not
# guaranteed to restart, and it buffered session-local wall-clock times,
# not UTC: under a non-UTC session, start a fresh checkpoint dir.
STATE_SCHEMA = T.StructType([
    T.StructField("idxs", T.ArrayType(T.IntegerType())),
    T.StructField("ts_us", T.ArrayType(T.LongType())),
    T.StructField("roles", T.ArrayType(T.StringType())),
    T.StructField("tools", T.ArrayType(T.StringType())),
])


def _buffer(inputs: list, gap_ms: int, columns: list):
    """The state operator's function. ``inputs`` names the input column
    of each state array, None for one the checks do not read. Appends a
    conversation's turns to its buffers; on timeout emits them once,
    sorted by idx, as one row of ``columns`` and drops the state."""

    def func(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        bufs = ([list(b) for b in state.get] if state.exists
                else [[] for _ in inputs])
        if state.hasTimedOut:
            state.remove()
            order = sorted(range(len(bufs[0])), key=bufs[0].__getitem__)
            yield pd.DataFrame([[key[0], *([b[i] for i in order] if b else b
                                           for b in bufs)]], columns=columns)
            return
        for pdf in pdfs:
            for buf, col in zip(bufs, inputs):
                if col:
                    buf += pdf[col].tolist()
        state.update(tuple(bufs))
        # close when the watermark passes this conversation's last event
        # by session_gap (event-time session window semantics). Clamped
        # just past the current watermark: a conversation whose gap has
        # ALREADY expired (its rows arrived barely inside the watermark
        # while newer data pushed the watermark forward) must close at
        # the next trigger, not fail the INVALID_TIMEOUT_TIMESTAMP check.
        state.setTimeoutTimestamp(
            max(max(bufs[1]) // 1000 + gap_ms,
                state.getCurrentWatermarkMs() + 1))
    return func


def stateful_transcript_checks(
    stream_df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    watermark_delay: str = "10 seconds",
    session_gap_ms: int = 10_000,
    role_protocol: tuple = None,
    tool_pairing: bool = False,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Streaming per-conversation gap-free + monotonic-ts violations,
    plus (when configured) the conversation-protocol checks:
    ``role_protocol=(allowed_transitions, allowed_first)`` adds the
    role-DFA check and ``tool_pairing=True`` the tool call/result
    pairing — the batch records of ``operators/table_checks.py``, run on
    each closed conversation, so the rows are byte-identical per closed
    conversation.

    Emits each closed conversation's violation rows once, after the
    watermark passes its last turn + ``session_gap_ms``.
    """
    reads_role = role_protocol is not None or tool_pairing
    codes = ["TurnGap", "NonMonotonicTs"]
    if role_protocol is not None:
        codes += ["BadFirstRole", "BadRoleTransition"]
    if tool_pairing:
        codes += ["ToolResultWithoutCall", "ToolCallWithoutResult"]
    # fail at plan time, not as a KeyError inside the state worker
    cols = set(stream_df.columns)
    if reads_role and role_col not in cols:
        raise ValueError(f"role column {role_col!r} not in stream columns "
                         f"{sorted(cols)} (required by the protocol checks)")
    if tool_pairing and tool_col not in cols:
        raise ValueError(f"tool column {tool_col!r} not in stream columns "
                         f"{sorted(cols)} (required by tool_pairing)")
    # watermarks require TIMESTAMP; normalize TIMESTAMP_NTZ inputs (the
    # cast reads NTZ in the session timezone — pin it, e.g. to UTC)
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        stream_df = stream_df.withColumn(
            ts_col, F.col(ts_col).cast("timestamp"))
    # the tool column is read ONLY for tool pairing — a role-DFA-only
    # stream need not carry one (the batch DFA never touches tools)
    inputs = [idx_col, "_ts_us", role_col if reads_role else None,
              tool_col if tool_pairing else None]
    closed_schema = T.StructType([
        T.StructField(conv_col, T.StringType()),
        *(T.StructField("_" + f.name, f.dataType) for f in STATE_SCHEMA)])
    closed = (stream_df
              .withWatermark(ts_col, watermark_delay)
              # the event-time column stays: the timeout needs its
              # watermark. Python reads only the micros
              .select(conv_col, idx_col, ts_col,
                      F.unix_micros(ts_col).alias("_ts_us"),
                      *filter(None, inputs[2:]))
              .groupBy(conv_col)
              .applyInPandasWithState(
                  _buffer(inputs, session_gap_ms, closed_schema.names),
                  outputStructType=closed_schema,
                  stateStructType=STATE_SCHEMA,
                  outputMode="append",
                  timeoutConf=GroupStateTimeout.EventTimeTimeout))
    turns = (closed
             .select(conv_col, F.posexplode("_idxs").alias("_pos", idx_col),
                     "_ts_us", "_roles", "_tools")
             .withColumns({ts_col: F.timestamp_micros(_buffered("_ts_us", 0)),
                           role_col: _buffered("_roles", 0),
                           tool_col: _buffered("_tools", 0)}))
    return _cross_row(turns, codes,
                      dict(conv=conv_col, idx=idx_col, ts=ts_col,
                           role=role_col, tool=tool_col),
                      role_protocol, _ARRAY_VALUES)
