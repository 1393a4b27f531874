"""Seeded transcript inputs for the benchmark, written as parquet files.

Every conversation follows the benchmark protocol

    system -> (user -> assistant+tool -> tool -> assistant) x k,  k in 1..3

so a clean conversation raises no violation under ``SPEC`` and
``PROTOCOL``. Conversation ``c`` starts at ``BASE + c`` seconds and its
turns are ``TURN_US`` apart. Files hold contiguous conversation ranges
in start-time order, and their mtimes increase with that order, so the
same directory also reads as a file stream whose event time only moves
forward.

A chosen share of turns carries exactly one defect, drawn uniformly from
the kinds that apply to that turn:

- row-local: ``enum`` (role outside the enum), ``too_long`` (text of
  4001 chars), ``empty`` (text ""), ``null_text``;
- cross-row: ``turn_gap`` (turn_idx + 1000), ``ts_regression`` (ts 1.5
  turns earlier, so before the previous turn; not on turn 0),
  ``dup_key`` (the row is written twice, byte-identical, so every
  order-dependent check sees the same neighbours whichever copy comes
  first), ``tool_toggle`` (assistant turns only: a tool call loses its
  tool, leaving the next tool turn unpaired, or a plain reply gains one
  that no tool turn answers).

The last file ends with a clean sentinel conversation one day after the
others. In a stream it pushes the watermark past every real
conversation's session gap, so all of them close before the stream ends.

Inputs are cached under the work directory by (seed, shape); the oracle
(:mod:`oracle`) is computed from the files, not from this generator.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np

SPEC = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "role": {"type": "string",
                 "enum": ["system", "user", "assistant", "tool"]},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000},
    },
}

ALLOWED_TRANSITIONS = [("system", "user"), ("user", "assistant"),
                       ("assistant", "tool"), ("tool", "assistant"),
                       ("assistant", "user")]
ALLOWED_FIRST = ["system"]
PROTOCOL = {"allowed_transitions": [list(t) for t in ALLOWED_TRANSITIONS],
            "allowed_first": ALLOWED_FIRST, "tool_pairing": True}

ROW_KINDS = ("enum", "too_long", "empty", "null_text")
CROSS_KINDS = ("turn_gap", "ts_regression", "dup_key", "tool_toggle")

TOOLS = ["search", "calculator", "code_exec", "browser"]
_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu").split()

BASE_US = 1_767_225_600_000_000          # 2026-01-01 00:00:00 UTC
CONV_STRIDE_US = 1_000_000
TURN_US = 500_000
SENTINEL_OFFSET_US = 86_400_000_000
SCHEMA_VERSION = 1


@dataclass(frozen=True)
class Shape:
    """Everything but the seed that determines an input."""
    conversations: int
    defect_rate: float
    kinds: tuple
    files: int

    def key(self, seed: int) -> str:
        kinds = "-".join(self.kinds)
        return (f"v{SCHEMA_VERSION}_s{seed}_c{self.conversations}"
                f"_r{self.defect_rate}_f{self.files}_{kinds}")


def _texts(rng: np.random.Generator, n: int) -> list:
    return [" ".join(rng.choice(_WORDS, size=int(rng.integers(1, 40))))
            for _ in range(n)]


def _rows(seed: int, shape: Shape) -> dict:
    """Column arrays of the whole input, conversations in start order,
    ending with the sentinel."""
    rng = np.random.default_rng(seed)
    n_conv = shape.conversations
    cycles = rng.integers(1, 4, size=n_conv)
    lengths = 1 + 4 * cycles
    conv = np.repeat(np.arange(n_conv), lengths)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    idx = np.arange(len(conv)) - np.repeat(starts, lengths)
    phase = np.where(idx == 0, -1, (idx - 1) % 4)
    role = np.array(["system", "user", "assistant", "tool", "assistant"],
                    dtype=object)[phase + 1]
    calls = phase == 1
    tool = np.full(len(conv), None, dtype=object)
    picked = np.array(TOOLS, dtype=object)[rng.integers(0, 4, size=len(conv))]
    tool[calls] = picked[calls]
    answers = phase == 2
    tool[answers] = tool[np.flatnonzero(answers) - 1]
    pool = _texts(rng, 1024)
    text = np.array(pool, dtype=object)[rng.integers(0, 1024, len(conv))]
    ts = BASE_US + conv * CONV_STRIDE_US + idx * TURN_US
    turn_idx = idx.astype(np.int64)

    defect = rng.random(len(conv)) < shape.defect_rate
    draw = rng.random(len(conv))
    dup = np.zeros(len(conv), dtype=bool)
    for i in np.flatnonzero(defect):
        kinds = [k for k in shape.kinds
                 if not (k == "ts_regression" and idx[i] == 0)
                 and not (k == "tool_toggle" and role[i] != "assistant")]
        kind = kinds[int(draw[i] * len(kinds))]
        if kind == "enum":
            role[i] = "narrator"
        elif kind == "too_long":
            text[i] = "x" * 4001
        elif kind == "empty":
            text[i] = ""
        elif kind == "null_text":
            text[i] = None
        elif kind == "turn_gap":
            turn_idx[i] += 1000
        elif kind == "ts_regression":
            ts[i] -= 3 * TURN_US // 2
        elif kind == "dup_key":
            dup[i] = True
        else:
            tool[i] = None if tool[i] is not None else TOOLS[i % 4]
    take = np.repeat(np.arange(len(conv)), 1 + dup)
    conv_id = np.char.add("c", np.char.zfill(conv.astype(str), 8))
    cols = {"conv": conv, "conv_id": conv_id.astype(object),
            "turn_idx": turn_idx, "role": role, "text": text, "tool": tool,
            "ts": ts}
    return _with_sentinel({k: v[take] for k, v in cols.items()}, n_conv)


def _with_sentinel(cols: dict, n_conv: int) -> dict:
    """Append the clean sentinel conversation, one day after the rest."""
    idx = np.arange(5)
    sentinel = {
        "conv": np.full(5, n_conv),
        "conv_id": np.array(["zz_sentinel"] * 5, dtype=object),
        "turn_idx": idx,
        "role": np.array(["system", "user", "assistant", "tool",
                          "assistant"], dtype=object),
        "text": np.array(["end of input"] * 5, dtype=object),
        "tool": np.array([None, None, "search", "search", None],
                         dtype=object),
        "ts": (BASE_US + n_conv * CONV_STRIDE_US + SENTINEL_OFFSET_US
               + idx * TURN_US),
    }
    return {k: np.concatenate([v, sentinel[k]]) for k, v in cols.items()}


def _table(cols: dict, lo: int, hi: int):
    import pyarrow as pa
    return pa.table({
        "conv_id": pa.array(cols["conv_id"][lo:hi], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"][lo:hi], pa.int32()),
        "role": pa.array(cols["role"][lo:hi], pa.string()),
        "text": pa.array(cols["text"][lo:hi], pa.string()),
        "tool": pa.array(cols["tool"][lo:hi], pa.string()),
        "ts": pa.array(cols["ts"][lo:hi], pa.timestamp("us", tz="UTC")),
    })


def build(work: str, seed: int, shape: Shape) -> dict:
    """Write (or reuse) the input for ``(seed, shape)``; returns its
    manifest: path, turn count, file list and bytes on disk."""
    import pyarrow.parquet as pq

    root = os.path.join(work, "inputs", shape.key(seed))
    manifest_path = os.path.join(root, "manifest.json")
    data = os.path.join(root, "data")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return {**json.load(f), "path": data}
    os.makedirs(data, exist_ok=True)
    cols = _rows(seed, shape)
    # contiguous conversation ranges per file; the last one ends with the
    # sentinel
    bounds = np.searchsorted(
        cols["conv"], np.linspace(0, shape.conversations, shape.files + 1))
    bounds[-1] = len(cols["conv"])
    files = []
    for f in range(shape.files):
        path = os.path.join(data, f"part-{f:05d}.parquet")
        pq.write_table(_table(cols, int(bounds[f]), int(bounds[f + 1])), path)
        # the file stream source orders files by mtime (ms resolution)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        files.append(path)
    manifest = {
        "seed": seed, "shape": asdict(shape),
        "turns": int(len(cols["conv"])),
        "files": [os.path.relpath(p, root) for p in files],
        "bytes_on_disk": int(sum(os.path.getsize(p) for p in files)),
    }
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return {**manifest, "path": data}
