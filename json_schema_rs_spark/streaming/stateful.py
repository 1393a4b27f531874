"""Stateful streaming table-checks: per-conversation gap-free ordering,
monotonic-timestamp, and (optionally) role-protocol / tool-pairing
validation over a live transcript stream.

The batch checks (the ``operators/table_checks.py`` check table, behind
``turn_gap_violations`` and friends) need the whole conversation; on a
stream the conversation arrives incrementally and possibly out of order
across micro-batches. This module gives them streaming semantics with
``applyInPandasWithState`` (Arrow-batched per-group state — no per-row
Python, per `input_hint`):

- State per ``conv_id``: the (turn_idx, ts) pairs seen so far — bounded by
  turns-per-conversation, not by stream length.
- A conversation CLOSES when the event-time watermark passes its last
  event + ``session_gap`` (``GroupStateTimeout.EventTimeTimeout``): the
  session-window convention for "no more turns are coming".
- On close the checks run over the buffered pairs, the violation rows
  are emitted and the state is dropped. They are an independent pandas
  implementation of the batch check table, asserted byte-identical to it
  per conversation (tests/test_stateful_streaming.py).

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
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

def _output_schema(conv_col: str, idx_col: str) -> T.StructType:
    """Violation schema named after the configured key columns — the
    batch operators (`F.col(conv_col)` / `F.col(idx_col)`) keep the
    caller's names, so byte-parity requires the stream to as well."""
    return T.StructType([
        T.StructField(conv_col, T.StringType()),
        T.StructField(idx_col, T.IntegerType()),
        T.StructField("instance_path", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("message", T.StringType()),
    ])


# default-named schema, kept for callers/tests that import it directly
OUTPUT_SCHEMA = _output_schema("conv_id", "turn_idx")

# state: parallel arrays of turn indices, event timestamps (micros), and
# (when the protocol checks are on) roles/tools. The arrays are parallel
# by buffer position; roles/tools stay empty when unused. NOTE: adding
# the role/tool arrays changed the state schema — streams restarting
# from a pre-protocol checkpoint must start a fresh checkpoint dir.
STATE_SCHEMA = T.StructType([
    T.StructField("idxs", T.ArrayType(T.IntegerType())),
    T.StructField("ts_us", T.ArrayType(T.LongType())),
    T.StructField("roles", T.ArrayType(T.StringType())),
    T.StructField("tools", T.ArrayType(T.StringType())),
])


def _fmt_ts(us: int) -> str:
    """Spark's CAST(timestamp AS STRING) text for a UTC micros value:
    'yyyy-MM-dd HH:mm:ss' with the fractional part only when non-zero,
    trailing zeros trimmed (matches the batch operator's message bytes)."""
    ts = pd.Timestamp(us, unit="us")
    base = ts.strftime("%Y-%m-%d %H:%M:%S")
    frac = us % 1_000_000
    if frac:
        base += (".%06d" % frac).rstrip("0")
    return base


def _close_conversation(conv_id: str, idxs: list, ts_us: list,
                        columns: list, idx_path: str, ts_path: str,
                        roles: list = (), tools: list = (),
                        protocol: dict = None) -> pd.DataFrame:
    """The batch check table's TurnGap / NonMonotonicTs records (and, with
    ``protocol``, its role-DFA / tool-pairing ones) re-implemented in
    pandas over one finished conversation's buffered turns: order by
    turn_idx, dense position must equal the index, timestamps
    non-decreasing, role transitions in the allowed DFA, tool
    calls/results paired. Paths/messages derive from the configured
    column names, exactly as the batch records' do."""
    order = sorted(range(len(idxs)), key=lambda i: idxs[i])
    rows = []
    prev_ts = None
    p = protocol or {}
    transitions = {(a, b) for a, b in p.get("allowed_transitions", ())}
    first = set(p.get("allowed_first", ()))
    check_roles = "allowed_transitions" in p
    check_tools = p.get("tool_pairing", False)
    role_path = "/" + p.get("role_col", "role")
    tool_path = "/" + p.get("tool_col", "tool")
    first_list = ", ".join(f'"{r}"' for r in p.get("allowed_first", ()))
    for pos, i in enumerate(order):
        idx, us = idxs[i], ts_us[i]
        if idx != pos:
            rows.append((conv_id, idx, idx_path, "TurnGap",
                         f"{idx_path}: turn index {idx} at position {pos} "
                         "breaks gap-free ordering"))
        if prev_ts is not None and us < prev_ts:
            rows.append((conv_id, idx, ts_path, "NonMonotonicTs",
                         f"{ts_path}: timestamp {_fmt_ts(us)} is before "
                         f"previous turn's {_fmt_ts(prev_ts)}"))
        prev_ts = us
        if check_roles or check_tools:
            role = roles[i]
            prev_role = roles[order[pos - 1]] if pos > 0 else None
            next_role = roles[order[pos + 1]] if pos + 1 < len(order) else None
            prev_tool = tools[order[pos - 1]] if pos > 0 else None
        if check_roles and role is not None:
            if prev_role is None and role not in first:
                rows.append((conv_id, idx, role_path, "BadFirstRole",
                             f"{role_path}: conversation must start with "
                             f'one of ({first_list}), got "{role}"'))
            elif prev_role is not None and (prev_role, role) not in transitions:
                rows.append((conv_id, idx, role_path, "BadRoleTransition",
                             f'{role_path}: transition "{prev_role}" -> '
                             f'"{role}" not allowed'))
        if check_tools:
            if role == "tool" and (prev_role is None
                                   or prev_role != "assistant"
                                   or prev_tool is None):
                shown = f'"{prev_role}"' if prev_role is not None else "none"
                rows.append((conv_id, idx, role_path, "ToolResultWithoutCall",
                             f'{role_path}: "tool" turn not preceded by a '
                             '"assistant" turn calling a tool '
                             f"(previous role: {shown})"))
            if (role == "assistant" and tools[i] is not None
                    and (next_role is None or next_role != "tool")):
                rows.append((conv_id, idx, tool_path, "ToolCallWithoutResult",
                             f'{tool_path}: tool call "{tools[i]}" not '
                             'followed by a "tool" turn'))
    return pd.DataFrame(rows, columns=columns)


def _make_func(conv_col: str, idx_col: str, ts_col: str, gap_ms: int,
               protocol: dict = None):
    columns = [conv_col, idx_col, "instance_path", "code", "message"]
    idx_path, ts_path = "/" + idx_col, "/" + ts_col
    p = protocol or {}
    # the tool column is read ONLY for tool pairing — a role-DFA-only
    # stream need not carry one (parity with the batch operator, which
    # never touches tools for the DFA)
    buffer_tools = bool(p.get("tool_pairing"))
    buffer_roles = ("allowed_transitions" in p) or buffer_tools
    role_col = p.get("role_col", "role")
    tool_col = p.get("tool_col", "tool")

    def func(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            idxs, ts_us, roles, tools = state.get
            state.remove()
            yield _close_conversation(conv_id, list(idxs), list(ts_us),
                                      columns, idx_path, ts_path,
                                      list(roles), list(tools), p)
            return
        if state.exists:
            prev = state.get
            idxs, ts_us = list(prev[0]), list(prev[1])
            roles, tools = list(prev[2]), list(prev[3])
        else:
            idxs, ts_us, roles, tools = [], [], [], []
        for pdf in pdfs:
            idxs.extend(int(v) for v in pdf[idx_col])
            # pandas Timestamp.value is nanos; state keeps micros (Spark's
            # native timestamp precision)
            ts_us.extend(int(v.value // 1000)
                         for v in pd.to_datetime(pdf[ts_col]))
            if buffer_roles:
                roles.extend(None if pd.isna(v) else str(v)
                             for v in pdf[role_col])
                if buffer_tools:
                    tools.extend(None if pd.isna(v) else str(v)
                                 for v in pdf[tool_col])
                else:
                    tools.extend([None] * len(pdf))
        state.update((idxs, ts_us, roles, tools))
        # close when the watermark passes this conversation's last event
        # by session_gap (event-time session window semantics). Clamped
        # just past the current watermark: a conversation whose gap has
        # ALREADY expired (its rows arrived barely inside the watermark
        # while newer data pushed the watermark forward) must close at
        # the next trigger, not fail the INVALID_TIMEOUT_TIMESTAMP check.
        state.setTimeoutTimestamp(
            max(max(ts_us) // 1000 + gap_ms,
                state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(columns=columns)
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
    pairing — streaming forms of the batch operators in
    ``operators/table_checks.py``, byte-identical output per closed
    conversation (the cross-checked contract).

    Emits each closed conversation's violation rows once, after the
    watermark passes its last turn + ``session_gap_ms``.
    """
    protocol = {"role_col": role_col, "tool_col": tool_col,
                "tool_pairing": tool_pairing}
    if role_protocol is not None:
        protocol["allowed_transitions"] = role_protocol[0]
        protocol["allowed_first"] = role_protocol[1]
    # fail at plan time, not as a KeyError inside the state worker
    cols = set(stream_df.columns)
    if (role_protocol is not None or tool_pairing) and role_col not in cols:
        raise ValueError(f"role column {role_col!r} not in stream columns "
                         f"{sorted(cols)} (required by the protocol checks)")
    if tool_pairing and tool_col not in cols:
        raise ValueError(f"tool column {tool_col!r} not in stream columns "
                         f"{sorted(cols)} (required by tool_pairing)")
    # watermarks require TIMESTAMP; normalize TIMESTAMP_NTZ inputs (the
    # cast reads NTZ in the session timezone — pin it, e.g. to UTC)
    if dict(stream_df.dtypes).get(ts_col) == "timestamp_ntz":
        from pyspark.sql import functions as F
        stream_df = stream_df.withColumn(
            ts_col, F.col(ts_col).cast("timestamp"))
    return (stream_df
            .withWatermark(ts_col, watermark_delay)
            .groupBy(conv_col)
            .applyInPandasWithState(
                _make_func(conv_col, idx_col, ts_col, session_gap_ms,
                           protocol),
                outputStructType=_output_schema(conv_col, idx_col),
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))
