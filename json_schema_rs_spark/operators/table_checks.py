"""Table-level checks: the reference's per-value semantics lifted to
cross-row grain (SURVEY.md §2.4).

Each check returns a violation DataFrame with the same contract as the
row-local runner: ``(key cols..., instance_path, code, message)`` so the
caller can union row-local and table-level violations into one sink.

Scale notes (north_rule: partitioning/shuffle/skew handled explicitly):

- **uniqueness** shuffles once on the key; Spark's hash aggregate already
  does map-side partial aggregation, which absorbs key skew for counts.
  For hot single keys beyond that, ``salt`` enables an explicit two-phase
  aggregation: pre-aggregate on (key, salt) then re-aggregate on key —
  the classic salted-agg pattern.
- **referential** broadcasts the (small) vocabulary and anti-joins —
  no shuffle of the fact table at all.
- **cross-row checks** (gap-free ordering, monotonic ts, role DFA, tool
  pairing, per-row duplicate key) are records of one check table,
  :data:`_CHECKS`, run by :func:`_cross_row` over a single window by
  conversation: one skinny shuffle on conv_id. The à-la-carte functions
  here and the fused pipeline's branch 2 pick records from it; streams
  (``streaming/stateful.py``) run the same records over a closed
  conversation's idx-sorted buffers instead of a window. AQE
  handles moderate skew; a conversation's turns must fit one task, which
  holds by construction for transcripts (conversations are bounded).
"""

from __future__ import annotations

import operator
from functools import reduce
from string import Formatter
from types import SimpleNamespace
from typing import Callable, NamedTuple, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import explode_rows
from ..plans.compiler import VIOLATION_ARRAY_DDL
from .runner import _context_memo

_VCOLS = ["instance_path", "code", "message"]


def uniqueness_violations(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    *,
    salt: Optional[int] = None,
) -> DataFrame:
    """Keys that appear more than once — ``uniqueItems`` ("no two elements
    equal", validator/mod.rs:378-397) lifted from array to table. Emits one
    violation row per duplicated key."""
    keys = list(keys)
    if salt:
        # two-phase salted aggregation: (key, salt) partial counts -> key
        salted = df.groupBy(*keys, F.pmod(F.xxhash64(*keys, F.monotonically_increasing_id()),
                                          F.lit(salt)).alias("_salt"))\
                   .agg(F.count(F.lit(1)).alias("_c"))
        counts = salted.groupBy(*keys).agg(F.sum("_c").alias("occurrences"))
    else:
        counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("occurrences"))
    dup = counts.filter(F.col("occurrences") > 1)
    key_desc = ", ".join(keys)
    return dup.select(
        *keys,
        F.lit("").alias("instance_path"),
        F.lit("DuplicateKey").alias("code"),
        F.concat(
            F.lit(f"root: duplicate key ({key_desc}) has "),
            F.col("occurrences").cast("string"),
            F.lit(" occurrences, expected 1"),
        ).alias("message"),
    )


def duplicate_conflict_stats(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    *,
    payload_col: str = "text",
) -> DataFrame:
    """Diagnosis tier between the uniqueness CHECK and the reindex
    REPAIR: for every duplicated key, do the copies AGREE on the
    payload? ``(keys..., occurrences, n_variants, conflict)`` — an
    idempotent-retry duplicate (``n_variants == 1``) is safe to drop
    blind, while a true conflict (``> 1``) needs the survivor policy
    :func:`reindex_turns` applies (and tells you which policy matters:
    a pipeline producing only retries can dedup with ``DISTINCT``; one
    producing conflicts cannot).

    Scale shape: ONE hash aggregate on the key carrying a 16-byte md5
    digest of the payload (`count` + `count_distinct(digest)` — the
    payload itself never shuffles, exactly the `transcript_diff`
    projection rule); NULL payloads take a digest sentinel so NULL vs
    'x' counts as a conflict while NULL vs NULL does not."""
    keys = list(keys)
    digest = F.coalesce(F.md5(F.col(payload_col).cast("string")),
                        F.lit("<null>"))
    counts = (df.select(*keys, digest.alias("_d"))
                .groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("occurrences"),
                     F.countDistinct("_d").alias("n_variants")))
    return (counts.filter(F.col("occurrences") > 1)
                  .withColumn("conflict", F.col("n_variants") > 1))


def key_sync_stats(
    df_a: DataFrame,
    df_b: DataFrame,
    key_a: str,
    key_b: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Cross-TABLE referential health: are two tables keyed to the same
    entity set? ONE row ``(n_a, n_b, n_both, n_only_a, n_only_b,
    sync)`` over DISTINCT keys — the check a multimodal/derived-column
    pipeline needs between its parallel tables (documents ↔ embeddings,
    transcripts ↔ tool-call logs): a re-run that embedded only half the
    refresh leaves `n_only_a` growing while every single-table check
    stays green. ``sync = n_both / n_union`` (key-set Jaccard).

    Scale shape: each side reduces to its DISTINCT key set first
    (map-side partial distinct — only unique keys shuffle), then ONE
    full-outer equi-join of the two skinny key sets feeds a
    conditional-sum aggregate. NULL keys are dropped on both sides (a
    NULL key identifies nothing; presence checks own that)."""
    ka = (df_a.select(F.col(key_a).alias("_k")).filter(F.col("_k").isNotNull())
          .distinct().withColumn("_a", F.lit(1)))
    kb = (df_b.select(F.col(key_b).alias("_k")).filter(F.col("_k").isNotNull())
          .distinct().withColumn("_b", F.lit(1)))
    j = ka.join(kb, "_k", "full_outer")
    # sum() over zero rows is NULL — coalesce so two empty (or all-NULL-
    # key) inputs report zeros (with NULL sync) instead of NULL counts
    # that propagate through the n_only_a/n_only_b arithmetic
    agg = j.agg(
        F.coalesce(F.sum(F.coalesce(F.col("_a"), F.lit(0))),
                   F.lit(0)).alias("n_a"),
        F.coalesce(F.sum(F.coalesce(F.col("_b"), F.lit(0))),
                   F.lit(0)).alias("n_b"),
        F.coalesce(F.sum((F.col("_a").isNotNull()
                          & F.col("_b").isNotNull()).cast("long")),
                   F.lit(0)).alias("n_both"),
        F.count(F.lit(1)).alias("n_union"))
    return agg.select(
        "n_a", "n_b", "n_both",
        (F.col("n_a") - F.col("n_both")).alias("n_only_a"),
        (F.col("n_b") - F.col("n_both")).alias("n_only_b"),
        F.round(F.col("n_both")
                / F.nullif(F.col("n_union"), F.lit(0)),
                round_digits).alias("sync"))


def functional_dependency_violations(
    df: DataFrame,
    determinants: Sequence[str],
    dependent: str,
) -> DataFrame:
    """Functional-dependency check: determinant groups where the
    dependent column takes MORE than one value —
    ``(determinants..., n_rows, n_values, example_lo, example_hi)``.

    The cross-column consistency rule the keyword ladder can't express
    (every V-check sees one column at a time): "conv_id determines
    model_version", "sku determines currency", "lang determines
    script". A violating group means two pipelines disagree about the
    same entity — the table-level sibling of `const` (one mandated
    value) with the mandate learned from the data itself.

    Scale shape: ONE hash aggregate on the determinant key —
    ``count_distinct(dependent)`` plus bounded ``min``/``max`` witnesses
    (two concrete disagreeing values for the report; never a
    ``collect_set`` that a hot group could blow up). Map-side partials
    absorb the corpus; output ≤ determinant cardinality. NULL dependents
    are ignored by ``count_distinct`` (the enum-check convention: NULL
    is absent, not a value), so NULL-vs-value does NOT violate — the
    uniqueness/conflict family owns presence questions."""
    dets = list(determinants)
    if not dets:
        raise ValueError("determinants must be non-empty")
    agg = df.groupBy(*dets).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col(dependent)).alias("n_values"),
        F.min(F.col(dependent)).alias("example_lo"),
        F.max(F.col(dependent)).alias("example_hi"))
    return agg.filter(F.col("n_values") > 1)


def freshness_stats(
    df: DataFrame,
    ts_col: str = "ts",
    *,
    as_of: str,
    max_age_seconds: int,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Data-freshness check (the classic ingest-health expectation):
    per group — or one global row — ``(group?, n_rows, max_ts,
    age_seconds, stale)`` where ``age_seconds`` is the exact
    whole-second age of the newest row at ``as_of`` (an explicit
    reference instant, NEVER wall clock — reruns must reproduce, the
    engine-wide determinism rule) and ``stale`` flags groups whose
    feed has gone quiet for more than ``max_age_seconds``.

    A silent source is invisible to every row-level check (no rows, no
    violations) — staleness is the one signal that catches "the crawler
    stopped Tuesday". Scale shape: ONE hash aggregate (max/count,
    map-side combined, group-cardinality output). Exactness: age is an
    integer microsecond difference floor-divided to seconds — no float,
    no timezone arithmetic (both engines compare UTC instants); groups
    with only NULL timestamps report NULL age and ``stale = true``
    (unknown recency is stale by definition). ``as_of`` must be an
    ISO-8601 instant — validated on the driver (a malformed reference
    instant is a caller bug and raises ``ValueError``; it must NOT
    silently become NULL age + stale=true for every group) and bound
    as a literal, never interpolated into SQL text."""
    from datetime import datetime

    try:
        datetime.fromisoformat(str(as_of).replace("Z", "+00:00"))
    except (TypeError, ValueError):
        raise ValueError(
            f"as_of must be an ISO-8601 timestamp, got {as_of!r}")
    gcols = [group_col] if group_col else []
    agg = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.col(ts_col)).alias("max_ts"))
    # second-boundary-crossing count (the conversation_bounds /
    # DuckDB date_diff parity rule): truncate BOTH endpoints to the
    # second, so the µs difference is an exact multiple of 1e6 and the
    # integer division is exact for any sign — no float, no
    # truncate-vs-floor ambiguity on future timestamps
    asof_us = F.unix_micros(
        F.date_trunc("second", F.to_timestamp(F.lit(str(as_of)))))
    out = (agg.withColumn("_asof_us", asof_us)
              .withColumn("age_seconds", F.expr(
                  "(_asof_us - unix_micros(date_trunc('second', max_ts)))"
                  " div 1000000"))
              .drop("_asof_us")
              .withColumn("stale",
                          F.coalesce(F.col("age_seconds")
                                     > max_age_seconds, F.lit(True))))
    return out.orderBy(*gcols) if gcols else out


def referential_violations(
    df: DataFrame,
    column: str,
    vocab: Union[DataFrame, Sequence[str]],
    *,
    vocab_name: Optional[str] = None,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    vocab_column: Optional[str] = None,
    strategy: str = "broadcast",
) -> DataFrame:
    """Values of ``column`` not present in a vocabulary — ``enum``
    membership (validator/mod.rs:96-108) with the allowed set as a table.

    Small vocab list -> compiled to a literal ``isin`` (no join at all);
    vocab DataFrame -> anti join, picked by ``strategy``:

    - ``"broadcast"`` (default): broadcast left-anti join — zero shuffle
      of ``df``; the right choice whenever the distinct vocabulary fits
      an executor (role/tool registries, enum tables).
    - ``"shuffle"``: shuffle left-anti join for vocabularies too large
      to broadcast (e.g. a 10^9-row entity registry). Both sides hash-
      partition on the join key; AQE's skew-join split
      (``OptimizeSkewedJoin``) re-plans oversized partitions at runtime,
      so a hot vocabulary value (the skewed-key case the north rule
      names) cannot pin the join on one task. Same output, plan-asserted
      broadcast-free in tests.

    NULLs are "absent" and never violate (match the row-local convention).
    """
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"strategy must be 'broadcast' or 'shuffle', "
                         f"got {strategy!r}")
    cond, path, message = _ref_integrity(column, vocab, vocab_name or column)
    if cond is not None:
        bad = df.filter(cond)
    else:
        base = df.filter(F.col(column).isNotNull())
        vcol = vocab_column or vocab.columns[0]
        right = vocab.select(F.col(vcol).alias(column)).distinct()
        if strategy == "shuffle":
            bad = base.join(right.hint("shuffle_merge"),
                            on=column, how="left_anti")
        else:
            bad = base.join(F.broadcast(right), on=column, how="left_anti")
    return bad.select(*keys, F.lit(path).alias("instance_path"),
                      F.lit("RefIntegrity").alias("code"),
                      message.alias("message"))


def _ref_integrity(column: str, vocab: Union[DataFrame, Sequence[str]],
                   name: str) -> tuple:
    """``(cond, path, message)`` of a ``RefIntegrity`` violation of
    ``column`` against the vocabulary ``name``. ``cond``, a non-NULL value
    outside the list ``vocab``, is None for a DataFrame ``vocab``, which
    an anti-join checks instead."""
    path = "/" + column
    message = F.concat(F.lit(f'{path}: value "'), F.col(column),
                       F.lit(f'" not in vocabulary "{name}"'))
    if isinstance(vocab, DataFrame):
        return None, path, message
    cond = F.col(column).isNotNull() & ~F.col(column).isin(list(vocab))
    return cond, path, message


def referential_coverage(
    df: DataFrame,
    column: str,
    vocab: Sequence[str],
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Dashboard counterpart of :func:`referential_violations`: ONE row
    ``(n_rows, n_matched, n_null, n_miss, coverage, null_rate)`` — the
    check says WHICH rows violate, this says HOW HEALTHY the column is
    (the number an ingest SLO is written against: "tool must stay ≥
    99.9% in-vocabulary"). ``coverage = matched / non-null`` (NULLs are
    absent, not wrong — the enum convention), ``null_rate`` reported
    separately so a feed going silent can't masquerade as clean.

    One zero-shuffle codegen'd conditional-sum aggregate over a literal
    ``isin`` (the check's small-vocab compilation path); both ratios are
    single exact-int IEEE divisions."""
    if not vocab:
        raise ValueError("vocab must be non-empty")
    col = F.col(column)
    matched = F.sum(col.isin(*list(vocab)).cast("long"))
    nulls = F.sum(col.isNull().cast("long"))
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        matched.alias("n_matched"),
        nulls.alias("n_null"))
    return agg.select(
        "n_rows", "n_matched", "n_null",
        (F.col("n_rows") - F.col("n_null")
         - F.col("n_matched")).alias("n_miss"),
        F.round(F.col("n_matched")
                / F.nullif(F.col("n_rows") - F.col("n_null"),
                           F.lit(0)), round_digits).alias("coverage"),
        F.round(F.col("n_null") / F.nullif(F.col("n_rows"), F.lit(0)),
                round_digits).alias("null_rate"))


def role_pattern_stats(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    n: int = 3,
    k: int = 25,
) -> DataFrame:
    """Dialogue-protocol mining: the ``k`` most frequent role
    ``n``-grams across all conversations —
    ``(pattern, n_occurrences, n_convs, rank)`` with ``pattern`` like
    ``"user>assistant>tool"``. The DISCOVERY complement of the
    role-transition DFA check (:func:`role_transition_violations`
    verifies a protocol you already wrote down; this tells you what
    protocol the corpus actually speaks, and its tail is where the
    weird flows live — run it before authoring the transition table).

    Scale shape: ONE conv exchange (the shared window sort on
    ``(conv, idx)``) builds the n-gram with ``n−1`` lags in the same
    window pass; the pattern rollup is a hash aggregate over at most
    ``|roles|^n`` keys (map-side combine absorbs the corpus), and the
    head is a TakeOrdered under the total (count desc, pattern asc)
    order — unique and cross-engine reproducible. NULL roles render as
    ``"?"`` so dirty rows form visible patterns instead of vanishing;
    conversations shorter than ``n`` contribute nothing."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    r = F.coalesce(F.col(role_col).cast("string"), F.lit("?"))
    parts = [F.lag(r, n - 1 - i).over(w) for i in range(n - 1)] + [r]
    pattern = F.concat_ws(">", *parts)
    # a row carries a full n-gram iff its (n-1)-back neighbor exists;
    # probing a constant keeps the test independent of NULL roles
    full = F.lag(F.lit(1), n - 1).over(w).isNotNull()
    grams = (df.withColumn("_pat", pattern)
               .withColumn("_full", full)
               .filter(F.col("_full")))
    counts = (grams.groupBy("_pat")
              .agg(F.count(F.lit(1)).alias("n_occurrences"),
                   F.countDistinct(F.col(conv_col)).alias("n_convs")))
    out = (counts.orderBy(F.desc("n_occurrences"), F.asc("_pat"))
           .limit(k)
           .select(F.col("_pat").alias("pattern"),
                   "n_occurrences", "n_convs"))
    w2 = Window.orderBy(F.desc("n_occurrences"), F.asc("pattern"))
    return out.withColumn("rank", F.row_number().over(w2))


# --- Cross-row checks: one table of records, one window pass

# Cannot appear in a role vocabulary: joins a (prev, cur) pair into one
# string so the transition test is a codegen'd literal ``isin`` — no join.
_SEP = "\x00"

# Values a check may read off the shared (conv, idx) window, by name;
# ``n`` maps column roles to the caller's column names.
_WINDOW_VALUES = {
    # dense 0-based position of the turn in its conversation
    "pos": lambda n, w: F.row_number().over(w) - 1,
    # rows sharing this idx: rows up to it minus rows before it. RANGE
    # frames on the same sorted run: no shuffle on the composite key
    "peers": lambda n, w: (
        F.count(F.lit(1)).over(w.rangeBetween(Window.unboundedPreceding, 0))
        - F.count(F.lit(1)).over(
            w.rangeBetween(Window.unboundedPreceding, -1))),
    "prev_ts": lambda n, w: F.lag(n["ts"]).over(w),
    "prev_role": lambda n, w: F.lag(n["role"]).over(w),
    "prev_tool": lambda n, w: F.lag(n["tool"]).over(w),
    "next_role": lambda n, w: F.lead(n["role"]).over(w),
}


def _buffered(name: str, shift: int) -> Column:
    """The turn ``shift`` places from this one in the sorted buffer
    ``name``; NULL past either end, as ``lag``/``lead`` are."""
    return F.get(F.col(name), F.col("_pos") + shift)


# The same values off a closed conversation (streaming/stateful.py): one
# row per turn, holding its position ``_pos`` in the conversation's
# idx-sorted buffers ``_ts_us`` (UTC micros), ``_roles`` and ``_tools``.
# No ``peers``: streams do not run DuplicateKey.
_ARRAY_VALUES = {
    "pos": lambda n, w: F.col("_pos"),
    "prev_ts": lambda n, w: F.timestamp_micros(_buffered("_ts_us", -1)),
    "prev_role": lambda n, w: _buffered("_roles", -1),
    "prev_tool": lambda n, w: _buffered("_tools", -1),
    "next_role": lambda n, w: _buffered("_roles", 1),
}


class _Check(NamedTuple):
    """One cross-row check over the namespace :func:`_cross_row` builds."""
    code: str
    path: Optional[str]   # column role the violation points at; None: row
    reads: tuple          # column roles read besides the key
    uses: tuple           # values read (_WINDOW_VALUES keys)
    cond: Callable[[SimpleNamespace], Column]
    # text after "<path>: "; {name} renders a namespace entry, {name!q}
    # renders it quoted, or none when NULL
    message: str


# In output order within a row. NULL roles are "absent" and never break
# the role DFA (the row-local ``required`` check owns missing roles); a
# turn after a NULL role validates under the first-turn rule.
_CHECKS = (
    _Check("DuplicateKey", None, (), ("peers",), lambda c: c.peers > 1,
           "duplicate key ({key}) has {peers} occurrences, expected 1"),
    _Check("TurnGap", "idx", (), ("pos",), lambda c: c.idx != c.pos,
           "turn index {idx} at position {pos} breaks gap-free ordering"),
    _Check("NonMonotonicTs", "ts", ("ts",), ("prev_ts",),
           lambda c: c.prev_ts.isNotNull() & (c.ts < c.prev_ts),
           "timestamp {ts} is before previous turn's {prev_ts}"),
    _Check("BadFirstRole", "role", ("role",), ("prev_role",),
           lambda c: (c.role.isNotNull() & c.prev_role.isNull()
                      & ~c.role.isin(c.first)),
           'conversation must start with one of ({first_list}), '
           'got "{role}"'),
    _Check("BadRoleTransition", "role", ("role",), ("prev_role",),
           lambda c: (c.role.isNotNull() & c.prev_role.isNotNull()
                      & ~F.concat_ws(_SEP, c.prev_role, c.role)
                      .isin(c.pairs)),
           'transition "{prev_role}" -> "{role}" not allowed'),
    _Check("ToolResultWithoutCall", "role", ("role", "tool"),
           ("prev_role", "prev_tool"),
           lambda c: (c.role == "tool") & (
               c.prev_role.isNull() | (c.prev_role != "assistant")
               | c.prev_tool.isNull()),
           '"tool" turn not preceded by a "assistant" '
           "turn calling a tool (previous role: {prev_role!q})"),
    _Check("ToolCallWithoutResult", "tool", ("role", "tool"),
           ("next_role",),
           lambda c: ((c.role == "assistant") & c.tool.isNotNull()
                      & (c.next_role.isNull() | (c.next_role != "tool"))),
           'tool call "{tool}" not followed by a "tool" turn'),
)


def _render(prefix: str, template: str, c: SimpleNamespace) -> Column:
    parts = [F.lit(prefix)]
    for text, name, _, conversion in Formatter().parse(template):
        if text:
            parts.append(F.lit(text))
        if conversion == "q":
            parts.append(F.coalesce(F.concat(
                F.lit('"'), getattr(c, name), F.lit('"')), F.lit("none")))
        elif name:
            parts.append(getattr(c, name).cast("string"))
    return F.concat(*parts)


def _viol(cond: Column, path: str, code: str, message: Column) -> Column:
    """A one-violation array when ``cond`` holds, else an empty one."""
    return F.when(
        cond,
        F.array(F.struct(F.lit(path).alias("instance_path"),
                         F.lit(code).alias("code"),
                         message.alias("message"))),
    ).otherwise(F.array().cast(VIOLATION_ARRAY_DDL))


def _cross_row(df: DataFrame, codes: Sequence[str], names: dict,
               protocol: Optional[tuple] = None,
               values: dict = _WINDOW_VALUES) -> DataFrame:
    """The :data:`_CHECKS` records named in ``codes`` as violation rows
    ``(conv, idx, instance_path, code, message)``, from a skinny
    projection, ONE exchange on conv and one sort by idx. ``names`` maps
    column roles to column names; ``protocol`` is ``(allowed_transitions,
    allowed_first)``. Conditions filter before any message is built.
    ``values`` is the table the checks' values come from: the window's,
    or :data:`_ARRAY_VALUES` over closed conversations (no exchange).
    The expressions are built once per SparkContext and reused."""
    if protocol:
        transitions, first = protocol
        # order kept: allowed_first is rendered into BadFirstRole
        protocol = (tuple(tuple(t) for t in transitions), tuple(first))
    conv, idx = names["conv"], names["idx"]
    cols, cond, arr = _context_memo(
        df.sparkSession.sparkContext,
        ("cross", tuple(codes), tuple(sorted(names.items())), protocol,
         values is _ARRAY_VALUES),
        lambda: _cross_row_exprs(codes, names, protocol, values))
    return (explode_rows(df.select(*cols).filter(cond), [conv, idx], arr,
                         "v")
            .select(conv, idx, "v.instance_path", "v.code", "v.message"))


def _cross_row_exprs(codes: Sequence[str], names: dict,
                     protocol: Optional[tuple], values: dict) -> tuple:
    """:func:`_cross_row`'s expressions: the skinny select list (key,
    read columns, ``values``), the OR of the conditions and the
    concatenated violation array."""
    checks = [ch for ch in _CHECKS if ch.code in codes]
    conv, idx = names["conv"], names["idx"]
    reads = [names[r] for r in ("ts", "role", "tool")
             if any(r in ch.reads for ch in checks)]
    uses = [u for u in values if any(u in ch.uses for ch in checks)]
    w = Window.partitionBy(conv).orderBy(idx)
    cols = [conv, idx, *reads, *(
        values[u](names, w).alias("_" + u) for u in uses)]
    c = SimpleNamespace(**{r: F.col(n) for r, n in names.items() if n},
                        **{u: F.col("_" + u) for u in uses},
                        key=F.lit(f"{conv}, {idx}"))
    if protocol:
        transitions, first = protocol
        c.first = list(first)
        c.first_list = F.lit(", ".join(f'"{r}"' for r in first))
        c.pairs = [f"{a}{_SEP}{b}" for a, b in transitions]
    conds, arrays = [ch.cond(c) for ch in checks], []
    for ch, cond in zip(checks, conds):
        path = "/" + names[ch.path] if ch.path else ""
        arrays.append(_viol(cond, path, ch.code, _render(
            f"{path or 'root'}: ", ch.message, c)))
    return cols, reduce(operator.or_, conds), F.concat(*arrays)


def turn_gap_violations(df: DataFrame, *, conv_col: str = "conv_id",
                        idx_col: str = "turn_idx") -> DataFrame:
    """Gap-free 0..n-1 ordering per conversation — a conversation IS the
    array of its turns (validator/mod.rs:398-407). A turn violates when its
    index differs from its dense position (holes, duplicates, offsets)."""
    return _cross_row(df, ("TurnGap",), dict(conv=conv_col, idx=idx_col))


def monotonic_ts_violations(df: DataFrame, *, conv_col: str = "conv_id",
                            idx_col: str = "turn_idx",
                            ts_col: str = "ts") -> DataFrame:
    """Timestamps must be non-decreasing in turn order within each
    conversation (engine extension for the transcript shape)."""
    return _cross_row(df, ("NonMonotonicTs",),
                      dict(conv=conv_col, idx=idx_col, ts=ts_col))


def role_transition_violations(
    df: DataFrame, allowed_transitions: Sequence[tuple],
    allowed_first: Sequence[str], *, conv_col: str = "conv_id",
    idx_col: str = "turn_idx", role_col: str = "role",
) -> DataFrame:
    """Role-protocol DFA — ``enum`` membership (validator/mod.rs:96-108)
    lifted from a value to a (previous role, role) *transition*. First
    turns (no previous) validate against ``allowed_first``."""
    return _cross_row(df, ("BadFirstRole", "BadRoleTransition"),
                      dict(conv=conv_col, idx=idx_col, role=role_col),
                      (allowed_transitions, allowed_first))


def tool_pairing_violations(df: DataFrame, *, conv_col: str = "conv_id",
                            idx_col: str = "turn_idx", role_col: str = "role",
                            tool_col: str = "tool") -> DataFrame:
    """Tool-call/result pairing for agent transcripts: a ``"tool"`` turn
    must follow an ``"assistant"`` turn that names a tool
    (``ToolResultWithoutCall``), and an ``"assistant"`` turn that names a
    tool must be followed by a ``"tool"`` turn (``ToolCallWithoutResult``)."""
    return _cross_row(df, ("ToolResultWithoutCall", "ToolCallWithoutResult"),
                      dict(conv=conv_col, idx=idx_col, role=role_col,
                           tool=tool_col))


def conversation_bounds_violations(
    df: DataFrame,
    *,
    min_turns: Optional[int] = None,
    max_turns: Optional[int] = None,
    max_duration_seconds: Optional[int] = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation aggregate bounds — ``minItems``/``maxItems``
    (validator/mod.rs:360-377) lifted from array to conversation grain,
    plus a wall-clock duration bound (engine extension). Emits one row per
    violated bound per conversation, ``idx_col`` NULL (the violation is
    conversation-scoped, not turn-scoped).

    Scale shape: ONE hash aggregate on ``conv_col`` (map-side partial agg
    absorbs turn-count skew in hot conversations); the bound predicates
    run on the tiny per-conversation aggregate."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    if max_duration_seconds is not None:
        aggs += [F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1")]
    per_conv = df.groupBy(conv_col).agg(*aggs)
    idx_null = F.lit(None).cast("int").alias(idx_col)
    parts = []
    if min_turns is not None:
        parts.append(per_conv.filter(F.col("_n") < min_turns).select(
            F.col(conv_col), idx_null,
            F.lit("").alias("instance_path"),
            F.lit("TooFewTurns").alias("code"),
            F.concat(F.lit("root: conversation has "),
                     F.col("_n").cast("string"),
                     F.lit(f" turns, minimum is {min_turns}")).alias("message"),
        ))
    if max_turns is not None:
        parts.append(per_conv.filter(F.col("_n") > max_turns).select(
            F.col(conv_col), idx_null,
            F.lit("").alias("instance_path"),
            F.lit("TooManyTurns").alias("code"),
            F.concat(F.lit("root: conversation has "),
                     F.col("_n").cast("string"),
                     F.lit(f" turns, maximum is {max_turns}")).alias("message"),
        ))
    if max_duration_seconds is not None:
        # timestampdiff is calendar arithmetic — works on TIMESTAMP_NTZ
        # and is timezone-independent. Truncate both endpoints to whole
        # seconds first: "duration in seconds" means boundary crossings
        # (floor(t1) - floor(t0)), not floor(t1 - t0) — the two differ by
        # one when the end's fractional second is below the start's.
        dur = F.expr("timestampdiff(SECOND, date_trunc('second', _t0), "
                     "date_trunc('second', _t1))")
        parts.append(per_conv.filter(dur > max_duration_seconds).select(
            F.col(conv_col), idx_null,
            F.lit("/" + ts_col).alias("instance_path"),
            F.lit("ConversationTooLong").alias("code"),
            F.concat(F.lit(f"/{ts_col}: conversation spans "),
                     dur.cast("string"),
                     F.lit(f" seconds, maximum is {max_duration_seconds}")
                     ).alias("message"),
        ))
    if not parts:
        raise ValueError("conversation_bounds_violations: no bound given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def context_budget_violations(
    df: DataFrame,
    budget: int,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    per_turn_overhead: int = 0,
) -> DataFrame:
    """Turns past a per-conversation cumulative token budget —
    ``maxLength`` (validator/mod.rs:317-329) lifted from one string to the
    running conversation: a transcript that no longer fits the model's
    context window is invalid *from the first overflowing turn onward*,
    and this check makes every such turn addressable. Token cost per turn
    is the whitespace-token count of ``text_col`` (NULL = 0; the same
    single-space split as :func:`.textstats.token_stats`) plus
    ``per_turn_overhead`` (rendered-template header cost, e.g. the
    ``"{role}: "`` prefix of :func:`.packing.render_conversations`).

    Ties on ``idx_col`` share one inclusive cumulative value (RANGE
    window frame — the ANSI default in both Spark and DuckDB), so the
    output is deterministic even on tables that also fail uniqueness.

    Scale shape: the token cost is computed in the scan projection, so
    ONE exchange on ``conv_col`` moves only ``(conv_id, turn_idx,
    bigint)`` — text never shuffles; the window sort is bounded by
    turns/conversation. Same skinny-window shape as the fused pipeline's
    branch 2."""
    tokens = (F.when(F.col(text_col).isNull(), F.lit(0))
              .otherwise(F.size(F.split(F.col(text_col), " ")))
              + F.lit(per_turn_overhead)).cast("bigint")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    cum = (df.select(F.col(conv_col), F.col(idx_col), tokens.alias("_tk"))
             .select(conv_col, idx_col,
                     F.sum("_tk").over(w).alias("_cum"))
             .filter(F.col("_cum") > budget))
    path = "/" + text_col
    return cum.select(
        F.col(conv_col),
        F.col(idx_col),
        F.lit(path).alias("instance_path"),
        F.lit("ContextBudgetExceeded").alias("code"),
        F.concat(
            F.lit(f"{path}: cumulative "),
            F.col("_cum").cast("string"),
            F.lit(f" whitespace tokens exceeds context budget {budget}"),
        ).alias("message"),
    )


def conversation_profile(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: Optional[str] = "ts",
    role_col: Optional[str] = "role",
    text_col: Optional[str] = "text",
    tool_col: Optional[str] = "tool",
) -> DataFrame:
    """Per-conversation aggregate features — the conversation-grain
    analog of :func:`..stats.profile` (column grain), for curation and
    constraint inputs: turn count, index span, duration, text volume,
    role mix, tool usage. ONE hash aggregate on ``conv_col`` (map-side
    partial agg absorbs hot-conversation skew); every feature is a
    plain codegen'd aggregate function.

    Columns (those whose source column is passed):
    ``conv_id, n_turns, min_idx, max_idx, duration_s, n_roles,
    user_turns, assistant_turns, total_text_chars, avg_text_len,
    tool_calls``.
    """
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.min(idx_col).alias("min_idx"),
        F.max(idx_col).alias("max_idx"),
    ]
    if ts_col:
        aggs.append(F.expr(
            f"timestampdiff(SECOND, date_trunc('second', min({ts_col})), "
            f"date_trunc('second', max({ts_col})))").alias("duration_s"))
    if role_col:
        aggs += [
            # size(collect_set) not count_distinct: roles are a tiny
            # closed vocabulary, and count_distinct would force a second
            # aggregation phase (Expand + extra exchange); collect_set
            # keeps the whole profile in ONE single-pass aggregate
            F.size(F.collect_set(F.col(role_col))).cast("bigint")
             .alias("n_roles"),
            F.sum(F.when(F.col(role_col) == "user", 1).otherwise(0))
             .alias("user_turns"),
            F.sum(F.when(F.col(role_col) == "assistant", 1).otherwise(0))
             .alias("assistant_turns"),
        ]
    if text_col:
        aggs += [
            F.sum(F.coalesce(F.length(text_col), F.lit(0)))
             .alias("total_text_chars"),
            F.avg(F.length(text_col)).alias("avg_text_len"),
        ]
    if tool_col:
        aggs.append(F.count(F.col(tool_col)).alias("tool_calls"))
    return df.groupBy(conv_col).agg(*aggs)


def turn_loop_stats(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    max_ratio: float = 0.3,
    max_run: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Stuck-loop detection per conversation — the transcripts-native
    quality check for the classic agent failure mode: the same role
    emitting the same text over and over (an assistant retrying one
    reply, a tool returning one error forever). A turn is a **loop
    turn** when its text equals the SAME role's previous turn in
    ``idx_col`` order (interleaved other-role turns don't reset the
    comparison — loops usually have a user/tool turn wedged between
    repeats). NULL text never loops; NULL roles compare as one role.

    Output — one row per conversation, clean ones included:
    ``(conv_col, n_turns, loop_turns, max_run, loop_ratio, verdict)``
    with ``max_run`` = the longest streak of identical consecutive
    same-role texts (1 = no repeat) and ``verdict`` = ``'loop'`` when
    ``loop_ratio >= max_ratio`` or the streak reaches ``max_run``,
    else ``'ok'``.

    Scale shape: ONE exchange. The window partitions on ``conv_col``
    and sorts by ``(role, idx)`` — adjacency in that order IS same-role
    adjacency in turn order, so one ``lag`` sees the previous same-role
    turn without per-role windows. Streak lengths come from the
    running-max-of-last-change-row trick (``rn - max(rn where changed)
    + 1``) in the SAME window partition, and the final per-conversation
    aggregate reuses the window's hash partitioning, so Catalyst plans
    no second exchange. Everything is codegen'd expression work over
    skinny columns; hot 10^5-turn conversations sort in one task like
    every other conv-grain check (skew evidence: tests/test_skew.py)."""
    rkey = F.coalesce(F.col(role_col), F.lit(""))
    w = Window.partitionBy(conv_col).orderBy(rkey, F.col(idx_col))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    same_role = rkey == F.lag(rkey).over(w)
    dup = (same_role & F.col(text_col).isNotNull()
           & (F.col(text_col) == F.lag(text_col).over(w)))
    rn = F.row_number().over(w)
    staged = (df.select(conv_col, idx_col, role_col, text_col)
                .withColumn("_dup", F.when(dup, 1).otherwise(0))
                .withColumn("_rn", rn))
    staged = staged.withColumn(
        "_run",
        F.col("_rn")
        - F.max(F.when(F.col("_dup") == 0, F.col("_rn"))).over(wrun)
        + F.lit(1))
    ratio = F.round(F.sum("_dup") / F.count(F.lit(1)), round_digits)
    return (staged.groupBy(conv_col)
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.sum("_dup").alias("loop_turns"),
                 F.max("_run").alias("max_run"),
                 ratio.alias("loop_ratio"))
            .withColumn(
                "verdict",
                F.when((F.col("loop_ratio") >= F.lit(max_ratio))
                       | (F.col("max_run") >= F.lit(max_run)),
                       F.lit("loop")).otherwise(F.lit("ok"))))


def violation_verdicts(
    df: DataFrame,
    violations: DataFrame,
    *,
    group_cols: Sequence[str] = ("conv_id",),
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Roll violation rows up to pass/fail verdicts at a grouping grain —
    the north rule's "per-partition pass/fail verdicts" with the group
    key (conversation, shard, date-partition) as the partition:
    ``(group_cols..., n_violations, n_turns_flagged, verdict)``, one row
    per group present in ``df``, ``verdict`` in {'pass', 'fail'}.
    Groups with no violation row report ``(0, 0, 'pass')`` — the rollup
    must enumerate CLEAN partitions too, that's the point of a verdict
    table (an absent row is indistinguishable from an unvalidated one).

    Scale shape: two skinny aggregates (distinct group keys from the
    corpus; per-group counts from the much smaller violations table) and
    one equi-join of two already-co-partitioned-by-key sides — nothing
    wide ever shuffles. ``n_turns_flagged`` uses count(DISTINCT idx),
    whose two-phase expansion runs over violation rows only."""
    keys = list(group_cols)
    base = df.select(*keys).distinct()
    counts = violations.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.countDistinct(F.col(idx_col)).alias("n_turns_flagged"))
    return (base.join(counts, keys, "left")
            .select(*keys,
                    F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
                    F.coalesce("n_turns_flagged", F.lit(0))
                     .alias("n_turns_flagged"),
                    F.when(F.coalesce("n_violations", F.lit(0)) > 0,
                           F.lit("fail")).otherwise(F.lit("pass"))
                     .alias("verdict")))


def violation_stats(
    violations: DataFrame,
    *,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Ops rollup over a violation table: which constraints fire, how
    often, and how many distinct row keys they hit —
    ``(code, instance_path, n_violations, n_keys)``. At 10^12-turn
    scale this is the dashboard query run after every validation pass
    (billions of violation rows -> a handful of constraint buckets).

    Scale shape: one hash aggregate whose key cardinality equals the
    number of checks in the spec, so map-side partial aggregation
    absorbs essentially all input; the distinct-key count expands over
    violation rows only, never the corpus. NULL key components are
    substituted (not dropped) before the distinct so a MissingRequired
    row on the key column itself still counts — and so engines agree
    (SQL COUNT(DISTINCT a, b) drops any-NULL tuples). Every ``key_cols``
    entry must exist in ``violations`` — a silently dropped key column
    would over-merge ``n_keys`` with no signal."""
    absent = [k for k in key_cols if k not in violations.columns]
    if absent:
        raise ValueError(
            f"key columns not in violations table: {absent} "
            f"(have: {violations.columns})")
    keys = [F.coalesce(F.col(k).cast("string"), F.lit("<NULL>"))
            for k in key_cols]
    return (violations.groupBy("code", "instance_path")
            .agg(F.count(F.lit(1)).alias("n_violations"),
                 F.countDistinct(*keys).alias("n_keys")))


def violation_trend(
    df: DataFrame,
    violations: DataFrame,
    *,
    grain: str = "day",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    round_digits: int = 6,
) -> DataFrame:
    """Violation *rate over time* — the monitoring complement of
    :func:`violation_stats`: per calendar bucket (``date_trunc(grain)``
    of each turn's timestamp, exact cross-engine — no epoch-origin
    ambiguity) and violation code, ``(window_start, code, n_violations,
    n_turns, violation_rate)``. This is how a 10^12-turn pipeline sees
    "TooLong started spiking on Tuesday's ingest" instead of one global
    count. Buckets with zero violations are absent by construction (a
    dashboard zero-fills); conversation-scoped violation rows
    (``idx_col`` NULL) carry no timestamp and are excluded — this is the
    turn-grain trend.

    Scale shape: the corpus contributes one 3-column projection
    ``(conv, idx, bucket)``; per-bucket totals are a hash aggregate with
    bucket-cardinality keys (map-side combine absorbs the corpus). The
    violations⋈keys equi-join re-attaches timestamps by key — one
    corpus-skinny shuffle, the same cost class as the pipeline's window
    branch; when the violations were produced from ``df`` in the same
    job, carrying ``ts_col`` through the validation select removes that
    join entirely (the fused pipeline does this for its own sinks). The
    final counts⋈totals join is bucket-sized — broadcast under AQE."""
    keys = df.select(F.col(conv_col), F.col(idx_col),
                     F.date_trunc(grain, F.col(ts_col)).alias("_bucket"))
    totals = keys.groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("n_turns"))
    counts = (violations.join(keys, [conv_col, idx_col])
              .groupBy("_bucket", "code")
              .agg(F.count(F.lit(1)).alias("n_violations")))
    return (counts.join(totals, "_bucket")
            .select(F.col("_bucket").alias("window_start"),
                    F.col("code"),
                    F.col("n_violations"),
                    F.col("n_turns"),
                    F.round(F.col("n_violations") / F.col("n_turns"),
                            round_digits).alias("violation_rate")))


def transcript_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-turn text equality between two transcript snapshots under the
    stable ``(conv_id, turn_idx)`` key — the north rule's verification
    invariant as a first-class check. Violation rows in the engine's
    standard shape: ``TurnMissingInB`` / ``TurnMissingInA`` for turns
    present on one side only, ``TextMismatch`` where both exist but the
    text differs (NULL-safe via ``eqNullSafe`` on the digest: NULL ==
    NULL is equal, NULL vs value is a mismatch — no sentinel values, so
    no sentinel collisions).

    Scale shape: each side projects to ``(keys, md5(text), length)``
    BEFORE the join, so the full-outer equi-join shuffles 16-byte digests,
    never the text column; mismatch messages carry the code-point lengths
    (digest comparison is exact for equality — that is all the invariant
    needs). One co-partitioned shuffle per side."""
    def skinny(df, tag):
        return df.select(
            F.col(conv_col).alias(conv_col),
            F.col(idx_col).alias(idx_col),
            F.md5(F.col(text_col).cast("binary")).alias(f"_h_{tag}"),
            F.length(F.col(text_col)).alias(f"_n_{tag}"),
            F.lit(True).alias(f"_in_{tag}"),
        )
    j = skinny(df_a, "a").join(skinny(df_b, "b"),
                               [conv_col, idx_col], "full_outer")
    path = "/" + text_col
    len_a = F.coalesce(F.col("_n_a").cast("string"), F.lit("null"))
    len_b = F.coalesce(F.col("_n_b").cast("string"), F.lit("null"))
    return (j.select(
        F.col(conv_col), F.col(idx_col),
        F.when(F.col("_in_a").isNull(), F.lit("TurnMissingInA"))
         .when(F.col("_in_b").isNull(), F.lit("TurnMissingInB"))
         .when(~F.col("_h_a").eqNullSafe(F.col("_h_b")),
               F.lit("TextMismatch"))
         .alias("code"),
        F.lit(path).alias("instance_path"),
        F.concat(F.lit(path + ": "), len_a, F.lit(" -> "), len_b)
         .alias("message"))
        .filter(F.col("code").isNotNull())
        .select(conv_col, idx_col, "instance_path", "code", "message"))


def reindex_turns(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    order_cols: Sequence[str] = ("ts",),
    keep_duplicate_keys: bool = False,
) -> DataFrame:
    """Repair complement of :func:`uniqueness_violations` +
    :func:`turn_gap_violations`: renumber each conversation's turns to the
    dense ``0..n-1`` index the validators demand (the reference validates
    array items at positions 0..n, validator/mod.rs:398-407 — a
    conversation IS the array of its turns, and this operator restores
    that invariant instead of only reporting its absence).

    Rows sort within a conversation by ``(idx_col, *order_cols)``
    ascending, NULLs LAST (pinned — Spark's default is NULLS FIRST,
    DuckDB's is NULLS LAST; we pin the DuckDB convention so cross-engine
    replays agree). The caller must pick ``order_cols`` that make that
    sort total within a conversation, or survivor choice and output order
    are tie-ambiguous.

    Duplicate ``(conv, idx)`` keys (retries / replayed producers):

    - ``keep_duplicate_keys=False`` (default): keep the FIRST row of each
      key group in sort order (for ``order_cols=("ts",)``: the earliest
      write wins — the retry semantics a transcript ledger wants), drop
      the rest. NULL keys form one group like any other value.
    - ``keep_duplicate_keys=True``: keep every row; duplicates become
      consecutive distinct turns.

    Output: the input columns with ``idx_col`` replaced by the dense
    index (cast back to the input column's type) plus ``orig_<idx_col>``
    holding the pre-repair value, so violation rows keyed on the old
    index remain joinable.

    Scale shape: ONE conversation-keyed exchange. Both window passes
    (duplicate-leader tagging via ``lag``, then dense ``row_number``)
    partition by ``conv_col`` with the same sort, so Catalyst reuses the
    exchange AND the sort for the second Window (plan-asserted in tests).
    Per-conversation state is bounded by turns/conversation — the same
    bound every other transcript window in this module relies on."""
    dtype = dict(df.dtypes)[idx_col]
    orders = [F.col(idx_col).asc_nulls_last()] + [
        F.col(c).asc_nulls_last() for c in order_cols]
    w = Window.partitionBy(conv_col).orderBy(*orders)
    tagged = df
    if not keep_duplicate_keys:
        # group leader: first row of the conversation, or first row whose
        # key differs from its predecessor in (idx, order) sort order —
        # eqNullSafe so duplicated NULL keys dedupe together too
        tagged = (df.withColumn("_rn", F.row_number().over(w))
                    .withColumn("_prev", F.lag(idx_col).over(w))
                    .filter((F.col("_rn") == 1)
                            | ~F.col("_prev").eqNullSafe(F.col(idx_col)))
                    .drop("_rn", "_prev"))
    new_idx = (F.row_number().over(w) - 1).cast(dtype)
    return tagged.select(
        *[new_idx.alias(idx_col) if c == idx_col else F.col(c)
          for c in df.columns],
        F.col(idx_col).alias(f"orig_{idx_col}"),
    )


def hot_key_stats(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id",),
    *,
    top: int = 20,
    hot_factor: float = 10.0,
) -> DataFrame:
    """Skew diagnosis for the north rule's "skew handled explicitly":
    the ``top`` heaviest key groups with their share of the table and
    their skew ratio vs the mean group size, flagged ``is_hot`` when a
    key exceeds ``hot_factor`` x the mean. This is the report that tells
    an operator WHICH conversations need the salted-aggregation path
    (:func:`uniqueness_violations` ``salt=``) or AQE skew-join handling
    before a 10^12-turn run — the acting-on-skew decision made data-driven
    instead of guessed.

    Output: ``(keys..., n_rows, frac, skew_ratio, is_hot)`` — ``frac``
    and ``skew_ratio`` rounded to 6 places so cross-engine replays agree;
    total order ``(n_rows DESC, keys ASC)`` makes the top-N unique.

    Scale shape: ONE hash aggregate on the key (map-side partial combine
    absorbs the very skew being measured — a hot key's rows collapse to
    per-partition partials before the exchange), then totals are ONE
    scalar aggregate over the much smaller per-key count table, attached
    via a broadcast single-row cross join (no single-partition window —
    the count table can itself be huge at 10^10 conversations), and the
    top-N is a TakeOrdered, not a global sort."""
    keys = list(keys)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"))
    mean = F.col("_total") / F.col("_n_keys")
    enriched = (counts.crossJoin(F.broadcast(totals))
                      .select(*keys, "n_rows",
                              F.round(F.col("n_rows") / F.col("_total"), 6)
                               .alias("frac"),
                              F.round(F.col("n_rows") / mean, 6)
                               .alias("skew_ratio"),
                              (F.col("n_rows") > F.lit(hot_factor) * mean)
                               .alias("is_hot")))
    return enriched.orderBy(F.col("n_rows").desc(),
                            *[F.col(k).asc() for k in keys]).limit(top)


def tree_violations(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    parent_col: str = "parent_idx",
) -> DataFrame:
    """Tree-shape validation for BRANCHING transcripts — agent traces with
    regenerations / tool sub-spans carry a parent pointer instead of a
    linear order, and the reference's "array positions 0..n" invariant
    (validator/mod.rs:398-407) generalizes to "the turns form one rooted
    tree". Three checks, one violation row each:

    - ``ForwardParent`` (turn-scoped): ``parent >= turn_idx``. Requiring
      every parent to STRICTLY precede its child makes the edge relation
      a forest by construction — no separate cycle detection is needed
      (any cycle must contain a non-decreasing edge), so the check stays
      row-local instead of iterative.
    - ``OrphanParent`` (turn-scoped): the referenced parent index does
      not exist as a turn of the same conversation.
    - ``NoRoot`` / ``MultipleRoots`` (conversation-scoped, ``idx_col``
      NULL): exactly one NULL-parent turn per conversation.

    Scale shape: ForwardParent is zero-shuffle codegen; OrphanParent is
    ONE self-join on ``(conv_col, idx)`` — both sides hash-partition on
    the same composite key, so it co-partitions with (and AQE can reuse)
    the conversation exchange; root cardinality is one hash aggregate
    with map-side partials. Skew is bounded by turns-per-conversation on
    every path."""
    path = "/" + parent_col
    base = df.select(conv_col, idx_col, parent_col)
    p, i = F.col(parent_col), F.col(idx_col)
    fwd = base.filter(p.isNotNull() & (p >= i)).select(
        F.col(conv_col), i,
        F.lit(path).alias("instance_path"),
        F.lit("ForwardParent").alias("code"),
        F.concat(F.lit(f"{path}: parent "), p.cast("string"),
                 F.lit(" does not precede turn "),
                 i.cast("string")).alias("message"),
    )
    turns = (base.select(F.col(conv_col).alias("_c"),
                         F.col(idx_col).alias("_i"))
                 .dropDuplicates())
    orphan = (
        base.filter(p.isNotNull())
            .join(turns, (F.col(conv_col) == F.col("_c")) & (p == F.col("_i")),
                  "left_anti")
            .select(
                F.col(conv_col), i,
                F.lit(path).alias("instance_path"),
                F.lit("OrphanParent").alias("code"),
                F.concat(F.lit(f"{path}: parent "), p.cast("string"),
                         F.lit(" not found in conversation")).alias("message"),
            ))
    roots = (
        base.groupBy(conv_col)
            .agg(F.sum(p.isNull().cast("int")).alias("_roots"))
            .filter(F.col("_roots") != 1)
            .select(
                F.col(conv_col),
                F.lit(None).cast("int").alias(idx_col),
                F.lit("").alias("instance_path"),
                F.when(F.col("_roots") == 0, F.lit("NoRoot"))
                 .otherwise(F.lit("MultipleRoots")).alias("code"),
                F.concat(F.lit("root: conversation has "),
                         F.col("_roots").cast("string"),
                         F.lit(" root turns, expected exactly 1")
                         ).alias("message"),
            ))
    return fwd.unionByName(orphan).unionByName(roots)


def near_retry_violations(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_jaccard: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Fuzzy retry detection — the near-duplicate sibling of
    :func:`turn_loop_stats`. A regenerated reply is rarely byte-equal to
    the attempt before it (a changed number, a reordered sentence), so
    exact-streak detection misses the second-most-common agent loop
    shape. A turn is flagged when the SAME role's previous turn in
    ``idx_col`` order has distinct-word-set Jaccard ``>= min_jaccard``
    with it but the text is NOT byte-identical (byte-identical repeats
    are turn_loop_stats territory; emitting both codes for one turn
    would double-count the same failure).

    Output: one violation row per flagged turn —
    ``(conv_col, idx_col, prev_idx, instance_path='/text',
    code='NearDuplicateTurn', jaccard, message)``; ``jaccard`` is a
    rounded DOUBLE column (kept out of the message string so the text
    stays float-format-independent across engines).

    Scale shape: same ONE exchange as turn_loop_stats — the window
    partitions on ``conv_col`` and sorts by ``(role, idx)``, so one
    ``lag`` sees the previous same-role turn; the Jaccard is codegen'd
    ``array_intersect``/``array_union`` size arithmetic over the lagged
    word set, zero joins. NULL text never fires; NULL roles compare as
    one role; the threshold compares the raw double (rounding is
    display-only)."""
    rkey = F.coalesce(F.col(role_col), F.lit(""))
    w = Window.partitionBy(conv_col).orderBy(rkey, F.col(idx_col))
    words = F.array_distinct(F.split(F.col(text_col), " "))
    staged = (df.select(conv_col, idx_col, role_col, text_col)
                .withColumn("_w", words)
                .withColumn("_pw", F.lag("_w").over(w))
                .withColumn("_pi", F.lag(idx_col).over(w))
                .withColumn("_pt", F.lag(text_col).over(w))
                .withColumn("_sr", rkey == F.lag(rkey).over(w)))
    jac = (F.size(F.array_intersect("_w", "_pw")).cast("double")
           / F.size(F.array_union("_w", "_pw")).cast("double"))
    fire = (F.col("_sr") & F.col(text_col).isNotNull()
            & F.col("_pt").isNotNull()
            & (F.col(text_col) != F.col("_pt"))
            & (jac >= F.lit(float(min_jaccard))))
    return (staged.filter(fire)
            .select(
                F.col(conv_col), F.col(idx_col),
                F.col("_pi").alias("prev_idx"),
                F.lit("/" + text_col).alias("instance_path"),
                F.lit("NearDuplicateTurn").alias("code"),
                F.round(jac, round_digits).alias("jaccard"),
                F.concat(F.lit(f"/{text_col}: near-duplicate of same-role "
                               "turn "),
                         F.col("_pi").cast("string")).alias("message"),
            ))


def review_queue(
    violations: DataFrame,
    *,
    per_code: int = 20,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Deterministic human-review sample: the ``per_code`` violations
    with the smallest md5 rank key per ``code`` — a reproducible,
    stratified "review queue" so a triage rotation sees every firing
    constraint, not 10^9 copies of the noisiest one. Output = the input
    columns + ``review_rank`` (1-based within code).

    The rank key ``md5(conv#idx#path#code)`` is a deterministic
    pseudo-random total order: the same corpus always yields the same
    queue (reruns are diffable), and no real ordering column (severity,
    recency) biases which instances a reviewer sees.

    Scale shape — top-N-per-group without a hot-key shuffle: violation
    codes are FEW (tens), so a plain per-code window would funnel 10^9
    rows through tens of window partitions. Instead a zero-shuffle
    ``mapInPandas`` keeps each PARTITION's local top-``per_code`` per
    code (a superset of the global winners, by the same argument as any
    distributed top-k), so only ``per_code x codes x partitions`` rows
    reach the final per-code window — the exact two-phase shape
    :func:`.textstats.heavy_hitters` uses for counts, applied to
    ranking. Result is EXACT and layout-independent."""
    rk = F.md5(F.concat_ws(
        "#",
        F.coalesce(F.col(conv_col), F.lit("<NULL>")),
        F.coalesce(F.col(idx_col).cast("string"), F.lit("<NULL>")),
        F.coalesce(F.col("instance_path"), F.lit("")),
        F.col("code")))
    staged = violations.withColumn("_rk", rk)
    schema = staged.schema

    def local_topn(batches):
        import pandas as pd
        acc = None
        for pdf in batches:
            acc = pdf if acc is None else pd.concat([acc, pdf],
                                                    ignore_index=True)
            acc = (acc.sort_values("_rk", kind="mergesort")
                      .groupby("code", sort=False).head(per_code))
        if acc is not None:
            yield acc

    local = staged.mapInPandas(local_topn, schema=schema)
    w = Window.partitionBy("code").orderBy("_rk")
    return (local.withColumn("review_rank", F.row_number().over(w))
                 .filter(F.col("review_rank") <= per_code)
                 .drop("_rk"))


def trend_anomalies(
    trend: DataFrame,
    *,
    z: float = 3.0,
    min_history: int = 3,
    rate_col: str = "violation_rate",
    bucket_col: str = "window_start",
    code_col: str = "code",
    round_digits: int = 6,
) -> DataFrame:
    """Spike detection over :func:`violation_trend` output — the alert
    on top of the dashboard: a bucket is anomalous when its violation
    rate exceeds the expanding mean of all PRIOR buckets (same code) by
    more than ``z`` standard deviations, with at least ``min_history``
    prior buckets (no alerting off a 1-point baseline). A flat history
    (std = 0) flags ANY increase — a code that never fired above 1%% for
    a month then does is exactly the alert you want. One row per
    anomalous (bucket, code):
    ``(bucket_col, code_col, rate_col, mean_rate, std_rate, n_history)``.

    Cross-engine determinism: expanding float sums are order-dependent,
    so rates go through the integer micro-unit recipe (6-dp-rounded
    rate × 1e6 is an exact int64; running sum / sum-of-squares stay
    integers — ≤ 1e6·buckets and its square, far under 2^63); mean,
    sample variance and the z comparison are then single float ops on
    exact integers. Same pattern as quality_propagate/lm_quality.

    Scale shape: the input IS the dashboard table (buckets × codes rows
    — tiny at any corpus size); one window partitioned by code. The
    heavy lifting already happened in violation_trend's aggregates."""
    rm = F.round(F.col(rate_col) * 1e6).cast("bigint")
    w = (Window.partitionBy(code_col).orderBy(bucket_col)
               .rowsBetween(Window.unboundedPreceding, -1))
    staged = (trend.withColumn("_rm", rm)
                   .withColumn("_n", F.count("_rm").over(w))
                   .withColumn("_s", F.sum("_rm").over(w))
                   .withColumn("_ss", F.sum(F.col("_rm")
                                            * F.col("_rm")).over(w)))
    n = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / n
    var = (F.col("_ss").cast("double") - (F.col("_s").cast("double")
                                          * F.col("_s").cast("double")) / n
           ) / (n - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    dev = F.col("_rm").cast("double") - mean
    spike = F.when(std > 0, dev > F.lit(float(z)) * std) \
             .otherwise(dev > 0)
    return (staged.filter((F.col("_n") >= min_history) & spike)
            .select(
                bucket_col, code_col, rate_col,
                F.round(mean / 1e6, round_digits).alias("mean_rate"),
                F.round(std / 1e6, round_digits).alias("std_rate"),
                F.col("_n").alias("n_history")))


def coerce_vocabulary(
    df: DataFrame,
    column: str,
    vocab: Union[DataFrame, Sequence[str]],
    *,
    fallback: Optional[str] = None,
    vocab_column: Optional[str] = None,
) -> DataFrame:
    """Vocabulary coercion repair — the ACTING complement of
    :func:`referential_violations` (the relationship reindex_turns has
    to gap-free, truncate_to_budget to the budget check): values of
    ``column`` outside the vocabulary are replaced by ``fallback``
    (a sentinel like ``'unknown'``, or NULL to mark-for-review), so the
    repaired table passes the referential check by construction.
    NULL values pass through untouched — they were never referential
    violations (the check skips them), so the repair must not invent
    data for them. Adds ``was_coerced`` (boolean) so downstream audits
    and the before/after violation-count story stay cheap.

    Scale shape mirrors the check exactly: a literal vocab list compiles
    to a codegen'd ``isin`` — zero joins, zero shuffle, pure scan
    projection; a vocab DataFrame broadcasts into ONE left join
    (vocab-distinct, df never shuffles)."""
    if isinstance(vocab, DataFrame):
        vcol = vocab_column or vocab.columns[0]
        marker = (vocab.select(F.col(vcol).alias(column))
                       .dropDuplicates()
                       .withColumn("_in_vocab", F.lit(True)))
        joined = df.join(F.broadcast(marker), column, "left")
        bad = F.col(column).isNotNull() & F.col("_in_vocab").isNull()
        out = (joined.withColumn("was_coerced", bad)
                     .withColumn(column,
                                 F.when(bad, F.lit(fallback))
                                  .otherwise(F.col(column)))
                     .drop("_in_vocab"))
        return out.select(*df.columns, "was_coerced")
    bad = F.col(column).isNotNull() & ~F.col(column).isin(list(vocab))
    return (df.withColumn("was_coerced", bad)
              .withColumn(column, F.when(bad, F.lit(fallback))
                                   .otherwise(F.col(column)))
              .select(*df.columns, "was_coerced"))


def drop_looped_turns(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """The ACTING complement of :func:`turn_loop_stats` (the same
    check/repair symmetry as gap-free <-> :func:`reindex_turns`): drop
    every turn whose text byte-equals the SAME role's previous turn in
    ``idx_col`` order — the first occurrence of each streak survives,
    the retries/stuck repeats go. Exactly the turns `turn_loop_stats`
    counts as loop turns are removed, so a repaired conversation scores
    ``loop_turns = 0`` by construction (asserted in tests). NULL text
    never drops; NULL roles compare as one role. Surviving rows keep
    all input columns and their original ``idx_col`` (gaps where drops
    happened — compose with :func:`reindex_turns` to renumber, the
    repair-pipeline convention).

    Scale shape: ONE conv-keyed exchange — the same (role, idx)-sorted
    window trick as the check (same-role adjacency without per-role
    windows); the filter is a codegen'd lag comparison, no joins, no
    Python."""
    rkey = F.coalesce(F.col(role_col), F.lit(""))
    w = Window.partitionBy(conv_col).orderBy(rkey, F.col(idx_col))
    dup = ((rkey == F.lag(rkey).over(w))
           & F.col(text_col).isNotNull()
           & (F.col(text_col) == F.lag(text_col).over(w)))
    return (df.withColumn("__loop", F.coalesce(dup, F.lit(False)))
            .filter(~F.col("__loop")).drop("__loop"))
