"""Single-pass validation runner.

The Spark analog of the reference's ``validate(schema, instance)`` entry
point (`/root/reference/json_schema_rs/src/validator/mod.rs:53-55`), lifted
from one instance to a whole DataFrame: one narrow ``select`` computes the
full violation array per row (zero shuffle, whole-stage codegen), then

- ``flagged``   = input + ``violations`` array + ``valid`` boolean
  (``Ok iff errors.is_empty()``, validator/mod.rs:445-450);
- ``violations`` = exploded violation rows
  ``(key cols..., instance_path, code, message)`` — the violation-row
  contract from SURVEY.md §2.3;
- ``summary()``  = one aggregate pass (rows, valid rows, violation count).

At 100 TB this plan is embarrassingly parallel: no data movement, scan →
codegen'd select → sink; the only shuffles in the whole engine live in the
table-level checks (:mod:`.table_checks`).
"""

from __future__ import annotations

import json
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce
from typing import Callable, Hashable, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import explode_rows
from ..plans.compiler import CompiledPlan, compile_table_spec
from ..plans.spec import SchemaNode, parse_spec

# Expressions built for one SparkContext, reused by later calls on it.
# Never shared across contexts: Columns hold JVM references and the
# pandas-UDF slow-path columns hold the context's accumulator.
_MEMO_ENTRIES = 64   # per context, least recently used dropped first
_memos = weakref.WeakKeyDictionary()
_memo_lock = threading.Lock()


def _context_memo(sc, key: Hashable, build: Callable[[], object]):
    """``build()``, run once per (SparkContext ``sc``, ``key``) and
    returned again to every later call with the same pair."""
    with _memo_lock:
        memo = _memos.setdefault(sc, OrderedDict())
        if key in memo:
            memo.move_to_end(key)
            return memo[key]
    value = build()
    with _memo_lock:
        memo[key] = value
        while len(memo) > _MEMO_ENTRIES:
            memo.popitem(last=False)
    return value


@dataclass
class ValidationReport:
    """Lazy DataFrames — nothing is computed until an action runs."""

    flagged: DataFrame
    violations: DataFrame

    def summary(self) -> dict:
        row = self.flagged.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("valid").cast("long")).alias("valid_rows"),
            F.sum(F.size("violations").cast("long")).alias("violation_count"),
        ).collect()[0]
        rows = row["rows"]
        valid = row["valid_rows"] or 0
        return {
            "rows": rows,
            "valid_rows": valid,
            "invalid_rows": rows - valid,
            "violation_count": row["violation_count"] or 0,
        }


class ValidationEngine:
    """Compiles a constraint spec once (driver-side) and validates any
    DataFrame with the table's schema in a single vectorized pass.

    The analog of EP2 in SURVEY.md §3: ``JsonSchema::try_from`` +
    ``validate`` become ``ValidationEngine(spec)`` + ``engine.validate(df)``.
    """

    def __init__(
        self,
        spec: Union[str, bytes, dict, SchemaNode],
        *,
        key_cols: Sequence[str] = ("conv_id", "turn_idx"),
        strict: bool = False,
        extensions: bool = False,
    ) -> None:
        # extensions=True opts into the draft-2020-12 keyword extensions
        # (spec.EXTENSION_KEYWORDS); off = byte-identical reference parity
        self.root = spec if isinstance(spec, SchemaNode) else parse_spec(
            spec, strict=strict, extensions=extensions)
        self.key_cols = list(key_cols)
        self._plan_cache: dict[str, CompiledPlan] = {}

    def plan_for(self, df: DataFrame) -> CompiledPlan:
        key = df.schema.simpleString()
        if key not in self._plan_cache:
            self._plan_cache[key] = compile_table_spec(self.root, df.schema)
        return self._plan_cache[key]

    def attach_violations(self, df: DataFrame,
                          out_col: str = "violations") -> DataFrame:
        """Input + the per-row violation array (shared validity helper
        columns are attached and dropped internally)."""
        return self.plan_for(df).apply(df, out_col)

    def validate(self, df: DataFrame) -> ValidationReport:
        """Run the compiled plan over ``df``, a batch or a streaming
        DataFrame (a stream's report is two streaming frames to sink)."""
        plan = self.plan_for(df)
        keys = [k for k in self.key_cols if k in df.columns]
        df = _python_stage_spread(df, plan, keys)
        flagged = self.attach_violations(df).withColumn(
            "valid", F.size("violations") == 0
        )
        return ValidationReport(flagged=flagged,
                                violations=_row_violations(df, plan, keys))


def _python_stage_spread(df: DataFrame, plan: CompiledPlan,
                         keys: Sequence[str]) -> DataFrame:
    """``df``, spread over the local cores when ``plan`` carries an Arrow
    pandas-UDF slow path, whose cost is the Python map side running at
    SCAN parallelism: a small table in one parquet row group would run it
    on one core, so dedup._spread's local-parallelism guard is inserted.
    A no-op on many-file tables, on pure-codegen plans (which stay
    exchange-free) and on streams (their partitions are the micro-batch's).

    Only :meth:`ValidationEngine.validate` and ``revalidate_incremental``
    apply it: under extension keywords their plans can hold content
    checks, where the guard pays. The fused builder
    (:func:`.pipeline._fused_violations`) compiles no extension keyword,
    and its one possible Python stage, an ECMA-fallback pattern, runs
    faster unspread than behind the repartition."""
    if not plan.has_python_stage or df.isStreaming:
        return df
    if keys:
        from .dedup import _spread
        return _spread(df, keys[0], *keys[1:])
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _row_violations(df: DataFrame, plan: CompiledPlan, keys: Sequence[str],
                    *, cond: Optional[Column] = None,
                    arr: Optional[Column] = None,
                    observe: Optional[tuple] = None) -> DataFrame:
    """The row-local violation rows ``(keys..., instance_path, code,
    message)`` of ``df`` under ``plan``: prepare -> filter on the check
    conditions -> render and explode the survivors. ``cond`` / ``arr``
    replace the plan's condition and violation array (the fused pipeline
    adds its vocabulary checks to both); ``observe`` is ``(Observation,
    *metrics)`` collected on the prepared scan, before the filter.

    Filter-then-render: the CHEAP conditions select the violating rows
    before any message string is built (message subtrees are hoisted out
    of their conditionals by subexpression elimination and would
    otherwise evaluate per scanned row)."""
    scan = plan.prepare(df)
    if observe is not None:
        scan = scan.observe(*observe)
    return (explode_rows(
                scan.filter(plan.any_violation() if cond is None else cond),
                keys, plan.violations_array() if arr is None else arr, "v")
            .select(*keys, "v.instance_path", "v.code", "v.message"))


def _engine(sc, spec: Union[str, bytes, dict, SchemaNode], *,
            key_cols: Sequence[str], strict: bool = False,
            extensions: bool = False) -> ValidationEngine:
    """The :class:`ValidationEngine` for these arguments, built by the
    first call on ``sc`` and reused after it, so its per-schema plans are
    compiled once. Specs are looked up by value: str/bytes as given, a
    dict by its JSON in insertion order (the order of an object ``const``
    or ``enum`` literal is rendered into its condition and message), a
    :class:`SchemaNode` by identity (the cached engine holds the node)."""
    if isinstance(spec, SchemaNode):
        spec_key: Hashable = ("node", id(spec))
    elif isinstance(spec, (str, bytes)):
        spec_key = spec
    else:
        try:
            text = json.dumps(spec)
            # tuples, non-str keys or NaN read back different: such a
            # spec may parse unlike its JSON twin, so it is not cached
            exact = json.loads(text) == spec
        except (TypeError, ValueError):
            exact = False
        if not exact:
            return ValidationEngine(spec, key_cols=key_cols, strict=strict,
                                    extensions=extensions)
        spec_key = ("json", text)
    return _context_memo(
        sc, ("engine", spec_key, tuple(key_cols), strict, extensions),
        lambda: ValidationEngine(spec, key_cols=key_cols, strict=strict,
                                 extensions=extensions))


def multi_spec_validate(
    df: DataFrame,
    specs: Mapping[str, Union[str, bytes, dict, SchemaNode]],
    *,
    spec_col: str = "spec_id",
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    strict: bool = False,
    extensions: bool = False,
) -> ValidationReport:
    """Per-row spec routing: each row is validated against the spec
    version its ``spec_col`` value names. The multi-tenant / schema-
    registry shape of validation at scale — a 10^12-turn corpus is never
    all on one spec version; the alternative (one run per version over
    the full table) re-scans the corpus N times.

    Every spec compiles ONCE on the driver. The plan is shuffle-free: one
    scan->filter->codegen branch per version, unioned; a branch's
    violation rows are :func:`_row_violations` under its version's plan
    (filter on the check conditions, then render). Each branch's
    ``spec_col = v`` filter is pushed into its scan, so when ``spec_col``
    is a partition/cluster column of the table (the at-scale layout —
    version-partitioned ingest), each branch prunes to ITS files and
    every row is scanned and evaluated exactly once. On unpartitioned
    input the source is scanned once per version.

    Rows with a NULL or unregistered ``spec_col`` are flagged with a
    single root ``UnknownSpecVersion`` violation rather than silently
    passing — an unknown version is a contract breach, not a skip.
    """
    if not specs:
        raise ValueError("multi_spec_validate needs at least one spec")
    sc = df.sparkSession.sparkContext
    engines = {
        sid: _engine(sc, spec, key_cols=key_cols, strict=strict,
                     extensions=extensions)
        for sid, spec in sorted(specs.items())}
    sids = list(engines)
    unknown_v = [
        F.lit("").alias("instance_path"),
        F.lit("UnknownSpecVersion").alias("code"),
        F.concat(
            F.lit('root: spec version "'),
            F.coalesce(F.col(spec_col).cast("string"), F.lit("null")),
            F.lit('" is not registered'),
        ).alias("message")]

    keys = [k for k in key_cols if k in df.columns]
    slices = {sid: df.filter(F.col(spec_col) == F.lit(sid)) for sid in sids}
    unknown = df.filter(F.col(spec_col).isNull() | ~F.col(spec_col).isin(sids))
    flagged = reduce(DataFrame.unionByName, [
        *(eng.attach_violations(slices[sid]) for sid, eng in engines.items()),
        unknown.withColumn("violations", F.array(F.struct(*unknown_v)))])
    flagged = flagged.withColumn("valid", F.size("violations") == 0)
    violations = reduce(DataFrame.unionByName, [
        *(_row_violations(slices[sid], eng.plan_for(slices[sid]),
                          [*keys, spec_col])
          for sid, eng in engines.items()),
        unknown.select(*keys, spec_col, *unknown_v)])
    return ValidationReport(flagged=flagged, violations=violations)
