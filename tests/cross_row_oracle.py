"""An independent pandas implementation of the cross-row checks, the
oracle the check table (``operators/table_checks._CHECKS``) is tested
against. It shares no code with the package: conditions, message text
and the timestamp-to-string cast are written out here by hand."""

from __future__ import annotations

import pandas as pd


def _fmt_ts(us: int) -> str:
    """Spark's CAST(timestamp AS STRING) text for a UTC micros value:
    'yyyy-MM-dd HH:mm:ss' with the fractional part only when non-zero,
    trailing zeros trimmed (matches the batch operator's message bytes
    under a UTC session)."""
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
    """The check table's TurnGap / NonMonotonicTs records (and, with
    ``protocol``, its role-DFA / tool-pairing ones) over one finished
    conversation's turns: order by turn_idx, dense position must equal
    the index, timestamps non-decreasing, role transitions in the allowed
    DFA, tool calls/results paired. Paths/messages derive from the
    configured column names, exactly as the batch records' do."""
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
