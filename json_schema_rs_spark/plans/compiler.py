"""Spec -> vectorized check-plan compiler (typed-column fast path).

Compiles a parsed :class:`~.spec.SchemaNode` tree into a flat list of
Spark ``Column`` checks over a typed DataFrame, preserving the reference's
evaluation precedence and message bytes (see
`/root/reference/json_schema_rs/src/validator/mod.rs:58-450` and
:mod:`..plans.pyvalidator`, the row-at-a-time twin of this compiler).

Design (SURVEY.md §4.2): everything is built-in expressions — ``length``,
``rlike``, ``size``, ``array_distinct``, ``transform``, ``filter``,
``isin``, ``when`` — so the whole row-local validation pass is one
zero-shuffle ``select`` inside WholeStageCodegen. No Python runs per row.

Typed-column JSON mapping (documented engine semantics):

- a ``NULL`` column value = the JSON key is **absent** (so ``required``
  fires and the property subschema is skipped, like the reference skips
  absent keys, validator/mod.rs:192-202);
- a ``NULL`` *array element* is JSON ``null`` (present, so type checks
  fire with ``got null``);
- integral Spark types are JSON integers; float/double are JSON floats —
  hence ``type:"integer"`` over a double column is ``ExpectedInteger`` for
  every row, matching serde's "a float is never an integer"
  (validator/mod.rs:291-297);
- timestamps/dates serialize as their Spark string form and satisfy
  ``type:"string"``.

Message-byte caveat: values rendered from *columns* use Spark's
double-to-string, which matches Rust's ``Display`` for integral doubles
(< 1e15) and for fractional doubles with |x| in [1e-3, 1e7); outside that
range Spark prints scientific notation where Rust would not. The
pandas-UDF JSON mode (:mod:`..operators.json_mode`) is byte-exact
everywhere.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import field as dataclasses_field
from typing import Callable, Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ecma_regex
from ..functions import formats
from ..functions import formatting as fmt
from ..functions.exprs import (
    UUID_REGEX,
    bool_and,
    bool_or,
    fmt_f64_col,
    json_quote,
    serde_json_bool,
    serde_json_number,
)
from .pointer import escape_segment
from .refs import RefResolutionError, resolve_transitive
from .spec import ALLOW, FORBID, SchemaNode

VIOLATION_FIELDS = "instance_path:string,code:string,message:string"
VIOLATION_STRUCT_DDL = f"struct<{VIOLATION_FIELDS}>"
VIOLATION_ARRAY_DDL = f"array<{VIOLATION_STRUCT_DDL}>"


def _empty_violations() -> Column:
    return F.array().cast(VIOLATION_ARRAY_DDL)


def _viol_struct(path: Column, code: str, message: Column) -> Column:
    return F.struct(
        path.alias("instance_path"),
        F.lit(code).alias("code"),
        message.alias("message"),
    )


@dataclass
class ScalarCheck:
    """One check producing at most one violation per row."""

    cond: Column          # true => violation (fully gated)
    path: Column          # instance_path (string column; lit for static paths)
    code: str
    message: Column

    def to_array(self) -> Column:
        return F.when(
            F.coalesce(self.cond, F.lit(False)),
            F.array(_viol_struct(self.path, self.code, self.message)),
        ).otherwise(_empty_violations())

    def ok(self) -> Column:
        return ~F.coalesce(self.cond, F.lit(False))


@dataclass
class ArrayCheck:
    """Checks over array elements: already an ``array<struct>`` of
    violations (possibly empty)."""

    arr: Column

    def to_array(self) -> Column:
        return self.arr

    def ok(self) -> Column:
        return F.size(self.arr) == 0


Check = Union[ScalarCheck, ArrayCheck]


# --------------------------------------------------------------------------
# Targets: what a schema node is being evaluated against.
# --------------------------------------------------------------------------

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType, T.DecimalType)


def _kind_of(dtype: T.DataType) -> str:
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, _INTEGRAL):
        return "integer"
    if isinstance(dtype, _FLOATING):
        return "float"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, T.StructType):
        return "object"
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        return "timestamp"
    return "other"


def _json_kind_name(kind: str) -> str:
    """JSON type name used in ``got`` payloads (validator/mod.rs:15-24)."""
    return {
        "string": "string", "integer": "number", "float": "number",
        "boolean": "boolean", "array": "array", "object": "object",
        "timestamp": "string", "other": "string",
    }[kind]


@dataclass
class Target:
    """A value a schema node applies to: a column/element (scalar kinds) or
    an object (the row itself, or a struct column)."""

    col: Optional[Column]                 # None only for the row target
    dtype: Optional[T.DataType]
    kind: str                             # see _kind_of; "object" for row
    # for object targets: name -> (Column, DataType)
    fields: Optional[dict[str, tuple[Column, T.DataType]]] = None
    null_is_absent: bool = True           # False for array elements
    # stable identity for plan-level CSE ("" = the row; "/a/b" = a column
    # path; None = array elements inside lambdas, never memoized)
    memo_key: Optional[str] = None

    def got_expr(self) -> Column:
        name = _json_kind_name(self.kind)
        if self.col is None or self.null_is_absent:
            return F.lit(name)
        return F.when(self.col.isNull(), F.lit("null")).otherwise(F.lit(name))


def row_target(df_or_schema: Union[DataFrame, T.StructType]) -> Target:
    schema = df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    fields = {f.name: (F.col(f.name), f.dataType) for f in schema.fields}
    return Target(col=None, dtype=None, kind="object", fields=fields,
                  memo_key="")


def _struct_target(col: Column, dtype: T.StructType) -> Target:
    fields = {f.name: (col.getField(f.name), f.dataType) for f in dtype.fields}
    return Target(col=col, dtype=dtype, kind="object", fields=fields)


# --------------------------------------------------------------------------
# Value serialization (serde_json::to_string parity for column values)
# --------------------------------------------------------------------------

def _serde_value(tgt: Target) -> Column:
    col, kind = tgt.col, tgt.kind
    if kind == "string":
        body = json_quote(col)
    elif kind == "integer":
        body = serde_json_number(col, is_float=False)
    elif kind == "float":
        body = serde_json_number(col, is_float=True)
    elif kind == "boolean":
        body = serde_json_bool(col)
    elif kind == "timestamp":
        body = json_quote(col.cast("string"))
    elif kind == "array":
        body = F.to_json(col)
    elif kind == "object":
        body = F.to_json(col) if col is not None else F.lit("{...}")
    else:
        body = json_quote(col.cast("string"))
    if col is None:
        return body
    return F.when(col.isNull(), F.lit("null")).otherwise(body)


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------

class CompileContext:
    def __init__(self, root: SchemaNode) -> None:
        self.root = root
        # plan-level CSE: branch-validity expressions keyed by
        # (structural node fingerprint, target identity) — the analog of
        # the reference codegen's content-addressed DedupeKey pass
        # (rust_backend.rs:1486-1840). Each distinct validity is emitted
        # ONCE as a named helper column (shared_cols) and referenced by
        # attribute everywhere it is used. Without this, nested
        # combinators recompile every inner branch once per enclosing
        # trial — a depth-d oneOf of k branches costs O(k^d) expression
        # subtrees (PySpark 4 materializes them all; a depth-12 spec OOMs
        # the driver JVM) — and even Python-side sharing does not survive
        # the Column->JVM conversion. Named columns do: O(k*d) compile,
        # one evaluation per row per distinct validity.
        self.validity_memo: dict[tuple[str, str], Column] = {}
        self.shared_cols: list[tuple[str, Column]] = []
        # True iff the plan contains an Arrow pandas-UDF slow path
        # (content keywords / rare ECMA-fallback pattern). The runner uses
        # it to insert the local-parallelism guard ONLY for such plans —
        # a pure-codegen plan must stay exchange-free.
        self.has_python_stage = False


def _loc(path_str: str) -> str:
    return "root" if path_str == "" else path_str


def _msg(loc: Column, body: list[Column]) -> Column:
    return F.concat(loc, F.lit(": "), *body)


def _loc_col(path: Column, path_str: Optional[str]) -> Column:
    """Display location: "root" for the empty pointer
    (json_pointer.rs:230-236). Static paths resolve driver-side."""
    if path_str is not None:
        return F.lit(_loc(path_str))
    return F.when(path == "", F.lit("root")).otherwise(path)


def _const_eq(tgt: Target, value: object) -> Optional[Column]:
    """Equality of a typed column with one JSON literal under serde
    semantics (ints never equal floats, bools are not numbers —
    pyvalidator.json_eq). Returns None when the literal can never equal a
    value of this column type (compile-time constant false)."""
    col, kind = tgt.col, tgt.kind
    if value is None:
        return col.isNull() if not tgt.null_is_absent else None
    if isinstance(value, bool):
        return (col == F.lit(value)) if kind == "boolean" else None
    if isinstance(value, int):
        return (col == F.lit(value)) if kind == "integer" else None
    if isinstance(value, float):
        if kind != "float":
            return None
        return col.cast("double") == F.lit(value)
    if isinstance(value, str):
        if kind == "string":
            return col == F.lit(value)
        if kind == "timestamp":
            # engine convention: timestamps compare via Spark string form
            return col.cast("string") == F.lit(value)
        return None
    # array/object literal vs typed column: compare canonical JSON text
    if kind in ("array", "object") and isinstance(value, (list, dict)):
        return F.to_json(col) == F.lit(fmt.json_compact(value))
    return None


def compile_node(
    ctx: CompileContext,
    node: SchemaNode,
    tgt: Target,
    path: Column,
    path_str: Optional[str],
    gate: Column,
) -> list[Check]:
    """Compile one schema node against one target; returns fully gated
    checks. ``path_str`` is the static pointer when known (None inside
    array-element lambdas). Precedence mirrors validator/mod.rs:68-171."""
    root = ctx.root
    loc = _loc_col(path, path_str)

    # 1. $ref — resolved at plan time; failures become constant checks
    try:
        node = resolve_transitive(root, node)
    except RefResolutionError as e:
        ref_str = node.ref if node.ref is not None \
            else (node.dynamic_ref or "<missing>")
        return [ScalarCheck(
            cond=gate, path=path, code="InvalidRef",
            message=_msg(loc, [F.lit(f'could not resolve $ref "{ref_str}": {e.rust_debug()}')]),
        )]

    checks: list[Check] = []

    # 2. const (mismatch abandons the node; match falls through)
    if node.has_const:
        eq = _const_eq(tgt, node.const)
        mismatch = gate if eq is None else (gate & ~F.coalesce(eq, F.lit(False)))
        checks.append(ScalarCheck(
            cond=mismatch, path=path, code="NotConst",
            message=_msg(loc, [
                F.lit("value "), _serde_value(tgt),
                F.lit(f" does not match const (expected: {fmt.json_compact(node.const)})"),
            ]),
        ))
        gate = gate & F.coalesce(eq, F.lit(False)) if eq is not None else F.lit(False)

    # 3. enum, non-empty (miss abandons the node)
    if node.enum is not None and len(node.enum) > 0:
        eqs = [_const_eq(tgt, v) for v in node.enum]
        eq_any = bool_or([F.coalesce(e, F.lit(False)) for e in eqs if e is not None])
        allowed = ", ".join(fmt.json_compact(v) for v in node.enum)
        checks.append(ScalarCheck(
            cond=gate & ~eq_any, path=path, code="NotInEnum",
            message=_msg(loc, [
                F.lit("value "), _serde_value(tgt),
                F.lit(f" not in enum (allowed: {allowed})"),
            ]),
        ))
        gate = gate & eq_any

    # 3a. not (EXTENSION — design.md:383-387 TODO; draft 2020-12
    # semantics). Evaluated alongside the other keywords, never gates.
    if node.not_schema is not None:
        checks.append(ScalarCheck(
            cond=gate & _validity(ctx, node.not_schema, tgt), path=path,
            code="NotSchemaMatched",
            message=_msg(loc, [F.lit('instance matches the schema in "not"')]),
        ))

    # 3b. if/then/else (EXTENSION — design.md:389-393 TODO): the branch
    # checks are the sub-schemas' own checks gated on the if-validity —
    # `if` alone never produces a violation.
    if node.if_schema is not None:
        cond_v = _validity(ctx, node.if_schema, tgt)
        if node.then_schema is not None:
            checks.extend(compile_node(
                ctx, node.then_schema, tgt, path, path_str, gate & cond_v))
        if node.else_schema is not None:
            checks.extend(compile_node(
                ctx, node.else_schema, tgt, path, path_str, gate & ~cond_v))

    # 4. anyOf — handled exclusively
    if node.any_of is not None:
        n = len(node.any_of)
        if n == 0:
            checks.append(ScalarCheck(
                cond=gate, path=path, code="NoSubschemaMatched",
                message=_msg(loc, [F.lit("instance does not match any of the 0 subschema(s)")]),
            ))
        else:
            validities = [_validity(ctx, sub, tgt) for sub in node.any_of]
            checks.append(ScalarCheck(
                cond=gate & ~bool_or(validities), path=path, code="NoSubschemaMatched",
                message=_msg(loc, [F.lit(f"instance does not match any of the {n} subschema(s)")]),
            ))
        return checks

    # 5. oneOf — handled exclusively
    if node.one_of is not None:
        n = len(node.one_of)
        if n == 0:
            checks.append(ScalarCheck(
                cond=gate, path=path, code="NoSubschemaMatched",
                message=_msg(loc, [F.lit("instance does not match any of the 0 subschema(s)")]),
            ))
        else:
            validities = [_validity(ctx, sub, tgt) for sub in node.one_of]
            cnt = None
            for v in validities:
                c = v.cast("int")
                cnt = c if cnt is None else (cnt + c)
            checks.append(ScalarCheck(
                cond=gate & (cnt == 0), path=path, code="NoSubschemaMatched",
                message=_msg(loc, [F.lit(f"instance does not match any of the {n} subschema(s)")]),
            ))
            checks.append(ScalarCheck(
                cond=gate & (cnt > 1), path=path, code="MultipleSubschemasMatched",
                message=_msg(loc, [
                    F.lit("instance matches "), cnt.cast("string"),
                    F.lit(f" of the {n} oneOf subschema(s), exactly one required"),
                ]),
            ))
        return checks

    # 6. allOf, non-empty — branches compiled in order, siblings ignored
    if node.all_of is not None and len(node.all_of) > 0:
        for sub in node.all_of:
            checks.extend(compile_node(ctx, sub, tgt, path, path_str, gate))
        return checks

    # 7. type dispatch
    checks.extend(_compile_type_scoped(ctx, node, tgt, path, path_str, gate, loc))
    return checks


def _validity(ctx: CompileContext, node: SchemaNode, tgt: Target) -> Column:
    """Branch validity for anyOf/oneOf trials: true iff the branch yields
    zero violations (validator/mod.rs:118-119, 143-144). Memoized per
    (node, target): validity is path- and gate-independent (compiled with
    path "" and gate TRUE), so one expression serves every enclosing
    combinator trial."""
    key = None
    if tgt.memo_key is not None:
        # STRUCTURAL key: independently parsed but identical branches (the
        # common copy-paste/oneOf-of-similar-shapes case) share one
        # helper column — object identity would miss them
        key = (node.fingerprint(), tgt.memo_key)
        hit = ctx.validity_memo.get(key)
        if hit is not None:
            return hit
    trial = compile_node(ctx, node, tgt, F.lit(""), "", F.lit(True))
    out = bool_and([c.ok() for c in trial])
    if key is not None:
        # promote to a named helper column; inner validities registered
        # first (depth-first), so shared_cols is already topological
        name = f"__jsrs_v{len(ctx.shared_cols)}"
        ctx.shared_cols.append((name, out))
        out = F.col(name)
        ctx.validity_memo[key] = out
    return out


def _compile_type_scoped(
    ctx: CompileContext,
    node: SchemaNode,
    tgt: Target,
    path: Column,
    path_str: Optional[str],
    gate: Column,
    loc: Column,
) -> list[Check]:
    t = node.type
    checks: list[Check] = []

    def type_error(kind_word: str, code: str) -> ScalarCheck:
        return ScalarCheck(
            cond=gate, path=path, code=code,
            message=_msg(loc, [F.lit(f"expected {kind_word}, got "), tgt.got_expr()]),
        )

    if t == "object":
        if tgt.kind != "object":
            checks.append(type_error("object", "ExpectedObject"))
            return checks
        checks.extend(_compile_object(ctx, node, tgt, path, path_str, gate))
        return checks

    if t == "string":
        if tgt.kind not in ("string", "timestamp"):
            checks.append(type_error("string", "ExpectedString"))
            return checks
        s = tgt.col if tgt.kind == "string" else tgt.col.cast("string")
        sgate = gate if tgt.null_is_absent else (gate & tgt.col.isNotNull())
        if not tgt.null_is_absent:
            # a null element is JSON null -> ExpectedString, got null
            checks.append(ScalarCheck(
                cond=gate & tgt.col.isNull(), path=path, code="ExpectedString",
                message=_msg(loc, [F.lit("expected string, got null")]),
            ))
        n = F.length(s)  # Unicode code points, = Rust chars().count()
        # A code point is 1-4 UTF-8 bytes, so the byte length (O(1))
        # decides most rows before the code-point count (O(bytes)) runs.
        # The byte length is an int: 2**31 bounds it and keeps the
        # literal a valid long for any minLength.
        nbytes = F.octet_length(s)
        if node.min_length is not None:
            checks.append(ScalarCheck(
                cond=sgate & (nbytes < F.lit(min(4 * node.min_length, 2**31)))
                & (n < F.lit(node.min_length)), path=path, code="TooShort",
                message=_msg(loc, [
                    F.lit("string has "), n.cast("string"),
                    F.lit(f" code points, minLength is {node.min_length}"),
                ]),
            ))
        if node.max_length is not None:
            checks.append(ScalarCheck(
                cond=sgate & (nbytes > F.lit(node.max_length))
                & (n > F.lit(node.max_length)), path=path, code="TooLong",
                message=_msg(loc, [
                    F.lit("string has "), n.cast("string"),
                    F.lit(f" code points, maxLength is {node.max_length}"),
                ]),
            ))
        if node.pattern is not None:
            ecma = ecma_regex.translate(node.pattern)
            if not ecma.valid:
                checks.append(ScalarCheck(
                    cond=sgate, path=path, code="InvalidPatternInSchema",
                    message=_msg(loc, [F.lit(
                        f'schema has invalid pattern "{node.pattern}"')]),
                ))
            else:
                # fast path: ECMA->Java translation inside codegen; rare
                # untranslatable constructs fall back to an Arrow-batched
                # pandas UDF running the ECMA->Python translation; patterns
                # neither dialect can express raise loudly at plan time
                if ecma.java is not None:
                    matched = s.rlike(ecma.java)
                else:
                    ctx.has_python_stage = True
                    matched = _python_pattern_matcher(node.pattern)(s)
                # the reference embeds the RAW value (Rust {} Display of
                # the String, error.rs:366-371) — NOT serde-escaped
                checks.append(ScalarCheck(
                    cond=sgate & ~matched, path=path, code="PatternMismatch",
                    message=_msg(loc, [
                        F.lit('string "'), s,
                        F.lit(f'" does not match pattern "{node.pattern}"'),
                    ]),
                ))
        if node.format == "uuid":
            # raw value, like PatternMismatch (error.rs:376-378)
            checks.append(ScalarCheck(
                cond=sgate & ~s.rlike(UUID_REGEX), path=path, code="InvalidUuidFormat",
                message=_msg(loc, [
                    F.lit('string "'), s, F.lit('" is not a valid UUID'),
                ]),
            ))
        if node.ext_format is not None:
            # assertive format extension (E15): one shared regex (+
            # shared date arithmetic) per format — functions/formats.py
            ok = formats.spark_valid(node.ext_format, s)
            checks.append(ScalarCheck(
                cond=sgate & ~F.coalesce(ok, F.lit(False)), path=path,
                code="InvalidFormat",
                message=_msg(loc, [
                    F.lit('string "'), s,
                    F.lit(f'" is not a valid "{node.ext_format}"'),
                ]),
            ))
        checks.extend(_compile_content(ctx, node, s, path, sgate, loc))
        return checks

    if t in ("integer", "number"):
        is_num = tgt.kind in ("integer", "float")
        if t == "integer" and tgt.kind != "integer":
            # serde: a float is never an integer (validator/mod.rs:291-297)
            got = tgt.got_expr() if not is_num else F.lit("number")
            checks.append(ScalarCheck(
                cond=gate, path=path, code="ExpectedInteger",
                message=_msg(loc, [F.lit("expected integer, got "), got]),
            ))
            return checks
        if t == "number" and not is_num:
            checks.append(type_error("number", "ExpectedNumber"))
            return checks
        ngate = gate if tgt.null_is_absent else (gate & tgt.col.isNotNull())
        if not tgt.null_is_absent:
            code = "ExpectedInteger" if t == "integer" else "ExpectedNumber"
            checks.append(ScalarCheck(
                cond=gate & tgt.col.isNull(), path=path, code=code,
                message=_msg(loc, [F.lit(f"expected {t}, got null")]),
            ))
        d = tgt.col.cast("double")
        if node.minimum is not None:
            checks.append(ScalarCheck(
                cond=ngate & (d < F.lit(node.minimum)), path=path, code="BelowMinimum",
                message=_msg(loc, [
                    F.lit("value "), fmt_f64_col(tgt.col),
                    F.lit(f" is below minimum {fmt.fmt_f64(node.minimum)}"),
                ]),
            ))
        if node.maximum is not None:
            checks.append(ScalarCheck(
                cond=ngate & (d > F.lit(node.maximum)), path=path, code="AboveMaximum",
                message=_msg(loc, [
                    F.lit("value "), fmt_f64_col(tgt.col),
                    F.lit(f" is above maximum {fmt.fmt_f64(node.maximum)}"),
                ]),
            ))
        # extensions: exclusive bounds + multipleOf (draft 2020-12)
        if node.exclusive_minimum is not None:
            checks.append(ScalarCheck(
                cond=ngate & (d <= F.lit(node.exclusive_minimum)), path=path,
                code="BelowExclusiveMinimum",
                message=_msg(loc, [
                    F.lit("value "), fmt_f64_col(tgt.col),
                    F.lit(" is not greater than exclusive minimum "
                          f"{fmt.fmt_f64(node.exclusive_minimum)}"),
                ]),
            ))
        if node.exclusive_maximum is not None:
            checks.append(ScalarCheck(
                cond=ngate & (d >= F.lit(node.exclusive_maximum)), path=path,
                code="AboveExclusiveMaximum",
                message=_msg(loc, [
                    F.lit("value "), fmt_f64_col(tgt.col),
                    F.lit(" is not less than exclusive maximum "
                          f"{fmt.fmt_f64(node.exclusive_maximum)}"),
                ]),
            ))
        if node.multiple_of is not None:
            # quotient-is-integer, NOT raw IEEE remainder: d % 0.1 is
            # nonzero for d=90.0 (0.1 isn't binary-exact) while 90.0/0.1
            # rounds to exactly 900.0 — the jsonschema package (the
            # differential oracle for extensions) tests the quotient, so
            # the remainder form mass-flagged valid decimal multiples.
            # `q % 1.0 == 0` is exact for integral q; NaN/Inf quotients
            # (NaN input, or overflow from a tiny divisor) give NaN % 1.0
            # = NaN -> not a multiple. Verdict-equal to Python `% 1.0`
            # (signs differ, the ==0 test doesn't).
            is_mult = ((d / F.lit(node.multiple_of)) % F.lit(1.0)) == F.lit(0.0)
            checks.append(ScalarCheck(
                cond=ngate & ~F.coalesce(is_mult, F.lit(False)), path=path,
                code="NotMultipleOf",
                message=_msg(loc, [
                    F.lit("value "), fmt_f64_col(tgt.col),
                    F.lit(f" is not a multiple of {fmt.fmt_f64(node.multiple_of)}"),
                ]),
            ))
        return checks

    if t == "array":
        if tgt.kind != "array":
            checks.append(type_error("array", "ExpectedArray"))
            return checks
        checks.extend(_compile_array(ctx, node, tgt, path, path_str, gate, loc))
        return checks

    if t == "boolean":
        if tgt.kind != "boolean":
            checks.append(type_error("boolean", "ExpectedBoolean"))
        elif not tgt.null_is_absent:
            checks.append(ScalarCheck(
                cond=gate & tgt.col.isNull(), path=path, code="ExpectedBoolean",
                message=_msg(loc, [F.lit("expected boolean, got null")]),
            ))
        return checks

    # type absent or not enforced: required/properties still apply to objects
    # (validator/mod.rs:417-441)
    if tgt.kind == "object":
        checks.extend(_compile_required_properties(ctx, node, tgt, path, path_str, gate))
    return checks


def _compile_object(
    ctx: CompileContext,
    node: SchemaNode,
    tgt: Target,
    path: Column,
    path_str: Optional[str],
    gate: Column,
) -> list[Check]:
    """type:"object" body (validator/mod.rs:174-229): required, properties
    descent, additionalProperties over undeclared fields."""
    checks = _compile_required_properties(ctx, node, tgt, path, path_str, gate)
    fields = tgt.fields or {}
    # extension: a property matched by patternProperties is NOT
    # "additional" (draft 2020-12 additionalProperties semantics)
    pattern_matched = _pattern_matched_subs(node, fields).keys()
    extra = [k for k in fields
             if k not in node.properties and k not in pattern_matched]
    ap = node.additional_properties
    if ap == FORBID:
        for k in extra:
            kcol, _ = fields[k]
            kpath_str = (path_str + "/" + escape_segment(k)) if path_str is not None else None
            kpath = F.concat(path, F.lit("/" + escape_segment(k)))
            checks.append(ScalarCheck(
                cond=gate & kcol.isNotNull(), path=kpath,
                code="DisallowedAdditionalProperty",
                message=_msg(_loc_col(kpath, kpath_str),
                             [F.lit(f'additional property "{k}" not allowed')]),
            ))
    elif isinstance(ap, SchemaNode):
        for k in extra:
            kcol, kdtype = fields[k]
            checks.extend(_compile_property(ctx, ap, k, kcol, kdtype, path, path_str, gate))
    # extension: unevaluatedProperties (E16) — additionalProperties that
    # sees through the in-place applicators. Evaluated-ness is STRUCTURAL
    # (a failed branch still evaluates its matched names — the jsonschema
    # package's observable behavior, pinned by differential tests); the
    # only dynamic inputs are the if-condition validity and
    # dependentSchemas trigger presence, both already CSE-memoized.
    # Parse guarantees no $ref/combinators/additionalProperties siblings.
    up = node.unevaluated_properties
    if up is not None and up != ALLOW:
        for k in sorted(fields):
            ev = _evaluated_col(ctx, node, k, tgt, fields)
            if ev is None:
                continue  # statically evaluated — check can never fire
            kcol, kdtype = fields[k]
            uneval = kcol.isNotNull() & ~F.coalesce(ev, F.lit(False))
            if up == FORBID:
                kpath_str = (path_str + "/" + escape_segment(k)) \
                    if path_str is not None else None
                kpath = F.concat(path, F.lit("/" + escape_segment(k)))
                checks.append(ScalarCheck(
                    cond=gate & uneval, path=kpath,
                    code="DisallowedUnevaluatedProperty",
                    message=_msg(_loc_col(kpath, kpath_str), [F.lit(
                        f'unevaluated property "{k}" not allowed')]),
                ))
            else:
                checks.extend(_compile_property(
                    ctx, up, k, kcol, kdtype, path, path_str,
                    gate & uneval))
    return checks


def _evaluated_col(ctx: CompileContext, node: SchemaNode, k: str,
                   tgt: Target, fields: dict) -> Optional[Column]:
    """Whether declared field ``k`` is evaluated by ``node``'s in-place
    application (E16). ``None`` = statically evaluated (properties /
    patternProperties match, or additionalProperties present). Otherwise
    a boolean Column over the dynamic sources: the applied if/then/else
    branch and triggered dependentSchemas, recursing structurally into
    their sub-schemas. Combinator branches do not contribute — they are
    evaluation-exclusive in this engine's ladder, and parse rejects them
    on the unevaluated*-carrying node itself."""
    if k in node.properties or k in _pattern_matched_subs(node, fields):
        return None
    if node.additional_properties is not None:
        return None

    def branch(sub: Optional[SchemaNode]) -> Column:
        if sub is None:
            return F.lit(False)
        r = _evaluated_col(ctx, sub, k, tgt, fields)
        return F.lit(True) if r is None else r

    pieces: list[Column] = []
    if node.if_schema is not None:
        cond = F.coalesce(_validity(ctx, node.if_schema, tgt), F.lit(False))
        pieces.append(F.when(cond, branch(node.then_schema))
                      .otherwise(branch(node.else_schema)))
    if node.dependent_schemas is not None:
        for trigger, sub in sorted(node.dependent_schemas.items()):
            if trigger in fields:
                pieces.append(fields[trigger][0].isNotNull() & branch(sub))
    if not pieces:
        return F.lit(False)
    out = pieces[0]
    for p in pieces[1:]:
        out = out | p
    return out


def _compile_required_properties(
    ctx: CompileContext,
    node: SchemaNode,
    tgt: Target,
    path: Column,
    path_str: Optional[str],
    gate: Column,
) -> list[Check]:
    checks: list[Check] = []
    fields = tgt.fields or {}
    if node.required is not None:
        for name in node.required:
            npath_str = (path_str + "/" + escape_segment(name)) if path_str is not None else None
            npath = F.concat(path, F.lit("/" + escape_segment(name)))
            nloc = _loc_col(npath, npath_str)
            if name in fields:
                cond = gate & fields[name][0].isNull()
            else:
                cond = gate  # column absent from the table: every row
            checks.append(ScalarCheck(
                cond=cond, path=npath, code="MissingRequired",
                message=_msg(nloc, [F.lit(f'missing required property "{name}"')]),
            ))
    # deterministic BTreeMap order (json_schema.rs:306)
    for key, sub in node.sorted_properties():
        if key in fields:
            kcol, kdtype = fields[key]
            checks.extend(_compile_property(ctx, sub, key, kcol, kdtype, path, path_str, gate))
    checks.extend(_compile_object_extensions(ctx, node, tgt, path, path_str, gate))
    return checks


def _pattern_matched_subs(node: SchemaNode,
                          fields: dict) -> "dict[str, list[SchemaNode]]":
    """Declared field name -> matching patternProperties sub-schemas (in
    sorted-pattern order) — STATIC at plan time for typed targets (names
    come from the schema). The ONE matching implementation, shared by the
    additionalProperties exclusion (a pattern-matched field is NOT
    "additional", 2020-12) and the patternProperties check compilation,
    so the two can never drift. Patterns were ECMA-validated at parse;
    the rare valid-ECMA shape Python cannot express raises loudly here
    (never a silent no-match); compile_python is lru-cached so calling
    this twice per node costs nothing."""
    matched: dict[str, list[SchemaNode]] = {}
    if node.pattern_properties is None:
        return matched
    for pat, sub in sorted(node.pattern_properties.items()):
        rx = ecma_regex.compile_python(pat)  # may raise UnsupportedPatternError
        for k in fields:
            if rx.search(k) is not None:
                matched.setdefault(k, []).append(sub)
    return matched


def _compile_object_extensions(
    ctx: CompileContext,
    node: SchemaNode,
    tgt: Target,
    path: Column,
    path_str: Optional[str],
    gate: Column,
) -> list[Check]:
    """Extension keywords over object targets: minProperties /
    maxProperties / dependentRequired / patternProperties /
    propertyNames / dependentSchemas (draft 2020-12). For typed targets
    "present" = non-null among the DECLARED fields — the same
    presence convention `required` uses; a property name absent from the
    struct/table is never present (so it can't satisfy a dependency and
    never triggers one)."""
    checks: list[Check] = []
    fields = tgt.fields or {}
    loc = _loc_col(path, path_str)
    if node.min_properties is not None or node.max_properties is not None:
        n_present = None
        for kcol, _ in fields.values():
            c = kcol.isNotNull().cast("int")
            n_present = c if n_present is None else (n_present + c)
        if n_present is None:
            n_present = F.lit(0)
        if node.min_properties is not None:
            checks.append(ScalarCheck(
                cond=gate & (n_present < F.lit(node.min_properties)),
                path=path, code="TooFewProperties",
                message=_msg(loc, [
                    F.lit("object has "), n_present.cast("string"),
                    F.lit(f" propert(y/ies), minProperties is {node.min_properties}"),
                ]),
            ))
        if node.max_properties is not None:
            checks.append(ScalarCheck(
                cond=gate & (n_present > F.lit(node.max_properties)),
                path=path, code="TooManyProperties",
                message=_msg(loc, [
                    F.lit("object has "), n_present.cast("string"),
                    F.lit(f" propert(y/ies), maxProperties is {node.max_properties}"),
                ]),
            ))
    if node.dependent_required is not None:
        for trigger, deps in sorted(node.dependent_required.items()):
            if trigger not in fields:
                continue  # trigger property can never be present
            present = fields[trigger][0].isNotNull()
            for dep in deps:
                dpath_str = (path_str + "/" + escape_segment(dep)) \
                    if path_str is not None else None
                dpath = F.concat(path, F.lit("/" + escape_segment(dep)))
                missing = fields[dep][0].isNull() if dep in fields else F.lit(True)
                checks.append(ScalarCheck(
                    cond=gate & present & missing, path=dpath,
                    code="MissingDependentRequired",
                    message=_msg(_loc_col(dpath, dpath_str), [F.lit(
                        f'missing property "{dep}" required by '
                        f'presence of "{trigger}"')]),
                ))
    # patternProperties: sub-schemas over every DECLARED field whose name
    # matches — name matching is static at plan time, so this compiles to
    # ordinary per-property checks (applies in addition to `properties`,
    # draft 2020-12)
    if node.pattern_properties is not None:
        matched = _pattern_matched_subs(node, fields)
        for k in sorted(matched):
            kcol, kdtype = fields[k]
            for sub in matched[k]:
                checks.extend(_compile_property(
                    ctx, sub, k, kcol, kdtype, path, path_str, gate))
    # propertyNames: the NAME (a string instance) must satisfy the
    # sub-schema. Typed targets have static names, so each name is judged
    # ONCE at plan time with the pyvalidator twin; a failing name flags
    # every row where that property is present.
    if node.property_names is not None:
        from .pyvalidator import validate_with_root
        for k in sorted(fields):
            if len(validate_with_root(ctx.root, node.property_names, k)) == 0:
                continue
            kcol, _ = fields[k]
            kpath_str = (path_str + "/" + escape_segment(k)) \
                if path_str is not None else None
            kpath = F.concat(path, F.lit("/" + escape_segment(k)))
            checks.append(ScalarCheck(
                cond=gate & kcol.isNotNull(), path=kpath,
                code="InvalidPropertyName",
                message=_msg(_loc_col(kpath, kpath_str), [F.lit(
                    f'property name "{k}" does not match "propertyNames"')]),
            ))
    # dependentSchemas: trigger present -> the WHOLE instance must also
    # satisfy the sub-schema (compiled against the same target, gated on
    # the trigger's presence)
    if node.dependent_schemas is not None:
        for trigger, sub in sorted(node.dependent_schemas.items()):
            if trigger not in fields:
                continue
            checks.extend(compile_node(
                ctx, sub, tgt, path, path_str,
                gate & fields[trigger][0].isNotNull()))
    return checks


def _compile_property(
    ctx: CompileContext,
    sub: SchemaNode,
    key: str,
    kcol: Column,
    kdtype: T.DataType,
    path: Column,
    path_str: Optional[str],
    gate: Column,
) -> list[Check]:
    kpath_str = (path_str + "/" + escape_segment(key)) if path_str is not None else None
    kpath = F.concat(path, F.lit("/" + escape_segment(key)))
    sub_tgt = _make_target(kcol, kdtype, null_is_absent=True,
                           memo_key=kpath_str)
    # a present property = a non-null column value
    kgate = gate & kcol.isNotNull()
    return compile_node(ctx, sub, sub_tgt, kpath, kpath_str, kgate)


def _make_target(col: Column, dtype: T.DataType, *, null_is_absent: bool,
                 memo_key: Optional[str] = None) -> Target:
    kind = _kind_of(dtype)
    if kind == "object":
        t = _struct_target(col, dtype)
        t.null_is_absent = null_is_absent
        t.memo_key = memo_key
        return t
    return Target(col=col, dtype=dtype, kind=kind,
                  null_is_absent=null_is_absent, memo_key=memo_key)


def _compile_array(
    ctx: CompileContext,
    node: SchemaNode,
    tgt: Target,
    path: Column,
    path_str: Optional[str],
    gate: Column,
    loc: Column,
) -> list[Check]:
    """type:"array" body (validator/mod.rs:351-407)."""
    checks: list[Check] = []
    arr = tgt.col
    n = F.size(arr)
    if node.min_items is not None:
        checks.append(ScalarCheck(
            cond=gate & (n < F.lit(node.min_items)), path=path, code="TooFewItems",
            message=_msg(loc, [
                F.lit("array has "), n.cast("string"),
                F.lit(f" item(s), minimum is {node.min_items}"),
            ]),
        ))
    if node.max_items is not None:
        checks.append(ScalarCheck(
            cond=gate & (n > F.lit(node.max_items)), path=path, code="TooManyItems",
            message=_msg(loc, [
                F.lit("array has "), n.cast("string"),
                F.lit(f" item(s), maximum is {node.max_items}"),
            ]),
        ))
    if node.unique_items is True:
        elem_dtype = tgt.dtype.elementType  # type: ignore[union-attr]
        # first duplicate in (i, j) scan order: the reference's outer loop
        # is over i, inner over j > i (validator/mod.rs:378-397), so the
        # reported value is the EARLIEST element that recurs later — not
        # the first repeated occurrence. [-3, 51, 51, -3] reports -3
        # (i=0 pairs with j=3) even though 51's second copy appears first.
        # (Divergence found by tests/test_differential_fuzz.py.)
        first_dup = F.element_at(
            F.filter(arr, lambda x, i: F.exists(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: y.eqNullSafe(x))),
            1,
        )
        dup_tgt = _make_target(first_dup, elem_dtype, null_is_absent=False)
        checks.append(ScalarCheck(
            cond=gate & (F.size(F.array_distinct(arr)) < n), path=path,
            code="DuplicateArrayItems",
            message=_msg(loc, [
                F.lit("array has duplicate items (value: "),
                _serde_value(dup_tgt), F.lit(")"),
            ]),
        ))
    # extension: contains / minContains / maxContains (draft 2020-12 —
    # minContains/maxContains only take effect when `contains` is present;
    # minContains defaults to 1, and 0 makes `contains` always satisfied)
    if node.contains is not None:
        elem_dtype = tgt.dtype.elementType  # type: ignore[union-attr]

        def elem_valid(x: Column) -> Column:
            et = _make_target(x, elem_dtype, null_is_absent=False)
            trial = compile_node(ctx, node.contains, et, F.lit(""), "", F.lit(True))
            return bool_and([c.ok() for c in trial])

        cnt = F.size(F.filter(arr, elem_valid))
        min_c = node.min_contains if node.min_contains is not None else 1
        if min_c > 0:  # cnt < 0 can't fire; don't pay for the filter
            checks.append(ScalarCheck(
                cond=gate & (cnt < F.lit(min_c)), path=path,
                code="TooFewContains",
                message=_msg(loc, [
                    F.lit("array has "), cnt.cast("string"),
                    F.lit(f' item(s) matching "contains", minimum is {min_c}'),
                ]),
            ))
        if node.max_contains is not None:
            checks.append(ScalarCheck(
                cond=gate & (cnt > F.lit(node.max_contains)), path=path,
                code="TooManyContains",
                message=_msg(loc, [
                    F.lit("array has "), cnt.cast("string"),
                    F.lit(f' item(s) matching "contains", maximum is {node.max_contains}'),
                ]),
            ))
    # extension: prefixItems — per-index sub-schema over the first k
    # elements (F.get is out-of-bounds-NULL-safe under ANSI mode, unlike
    # element_at); with prefixItems present, `items` applies only to the
    # elements AFTER the prefix (draft 2020-12)
    n_prefix = 0
    if node.prefix_items is not None:
        elem_dtype = tgt.dtype.elementType  # type: ignore[union-attr]
        n_prefix = len(node.prefix_items)
        for i, sub in enumerate(node.prefix_items):
            elem_tgt = _make_target(F.get(arr, i), elem_dtype,
                                    null_is_absent=False)
            epath_str = (path_str + f"/{i}") if path_str is not None else None
            epath = F.concat(path, F.lit(f"/{i}"))
            checks.extend(compile_node(ctx, sub, elem_tgt, epath, epath_str,
                                       gate & (n > F.lit(i))))
    if node.items is not None:
        elem_dtype = tgt.dtype.elementType  # type: ignore[union-attr]

        def per_element(x: Column, i: Column) -> Column:
            elem_tgt = _make_target(x, elem_dtype, null_is_absent=False)
            epath = F.concat(path, F.lit("/"), i.cast("string"))
            elem_checks = compile_node(ctx, node.items, elem_tgt, epath, None, F.lit(True))
            arrays = [c.to_array() for c in elem_checks]
            if not arrays:
                return _empty_violations()
            out = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
            if n_prefix:
                out = F.when(i >= F.lit(n_prefix), out).otherwise(_empty_violations())
            return out

        per_elem_arrays = F.transform(arr, per_element)
        item_viols = F.when(gate, F.flatten(per_elem_arrays)).otherwise(_empty_violations())
        checks.append(ArrayCheck(arr=item_viols))
    # extension: unevaluatedItems (E16) — inert when `items` is present
    # (every element evaluated); otherwise applies to elements past the
    # prefixItems width that don't match `contains` (contains-matched
    # elements ARE evaluated in 2020-12, pinned vs jsonschema). Parse
    # guarantees no $ref/combinators/if/dependentSchemas siblings, so the
    # prefix width is static.
    ui = node.unevaluated_items
    if ui is not None and ui != ALLOW and node.items is None:
        elem_dtype = tgt.dtype.elementType  # type: ignore[union-attr]

        def contains_match(x: Column) -> Column:
            if node.contains is None:
                return F.lit(False)
            et = _make_target(x, elem_dtype, null_is_absent=False)
            trial = compile_node(ctx, node.contains, et, F.lit(""), "",
                                 F.lit(True))
            return F.coalesce(bool_and([c.ok() for c in trial]),
                              F.lit(False))

        def per_uneval(x: Column, i: Column) -> Column:
            epath = F.concat(path, F.lit("/"), i.cast("string"))
            if ui == FORBID:
                out = F.array(_viol_struct(
                    epath, "DisallowedUnevaluatedItem",
                    _msg(_loc_col(epath, None),
                         [F.lit("unevaluated item not allowed")])))
            else:
                et = _make_target(x, elem_dtype, null_is_absent=False)
                echecks = compile_node(ctx, ui, et, epath, None, F.lit(True))
                arrays = [c.to_array() for c in echecks]
                if not arrays:
                    return _empty_violations()
                out = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
            evaluated = contains_match(x)
            if n_prefix:
                evaluated = evaluated | (i < F.lit(n_prefix))
            return F.when(~evaluated, out).otherwise(_empty_violations())

        uneval_arrays = F.transform(arr, per_uneval)
        checks.append(ArrayCheck(arr=F.when(
            gate, F.flatten(uneval_arrays)).otherwise(_empty_violations())))
    return checks


def _compile_content(
    ctx: "CompileContext",
    node: SchemaNode,
    s: Column,
    path: Column,
    sgate: Column,
    loc: Column,
) -> list[Check]:
    """content* assertive extensions over string targets (E13): base64
    validity stays fully vectorized (same regex + length%4 rule as
    :func:`pyvalidator.content_b64_valid`, so cross-engine verdicts are
    identical by construction); contentMediaType/contentSchema need a real
    JSON parser, so they run in Arrow-batched pandas UDFs sharing
    :func:`pyvalidator.content_parse_json` — the declared slow path, like
    the rare-ECMA pattern fallback. The ladder gates later steps on
    earlier success (bad base64 never reaches the JSON parse)."""
    checks: list[Check] = []
    if node.content_encoding is None and node.content_media_type is None:
        return checks
    cgate = sgate
    if node.content_encoding is not None:  # parse guarantees "base64"
        # \A..\z, not ^..$: Java (and Python) $ matches BEFORE a final
        # newline, so "AAAA\n" would slip through the ^..$ form on both
        # engines and then blow up in base64.b64decode
        ok = s.rlike(r"\A[A-Za-z0-9+/]*={0,2}\z") & (F.length(s) % 4 == 0)
        checks.append(ScalarCheck(
            cond=cgate & ~ok, path=path, code="InvalidContentEncoding",
            message=_msg(loc, [F.lit(
                f'string is not valid "{node.content_encoding}" content')]),
        ))
        cgate = cgate & ok
    if node.content_media_type is not None:
        ctx.has_python_stage = True
        enc = node.content_encoding
        mt = node.content_media_type  # parse guarantees "application/json"
        if node.content_schema is None:
            @F.pandas_udf("boolean")
            def _parses(sr: pd.Series) -> pd.Series:
                from . import pyvalidator as pv
                return sr.map(lambda v: v is not None
                              and pv.content_parse_json(v, enc)[0])

            checks.append(ScalarCheck(
                cond=cgate & ~F.coalesce(_parses(s), F.lit(False)),
                path=path, code="InvalidContentMediaType",
                message=_msg(loc, [F.lit(
                    f'string content is not valid "{mt}"')]),
            ))
        else:
            root, cschema = ctx.root, node.content_schema

            @F.pandas_udf(VIOLATION_ARRAY_DDL)
            def _content_viols(sr: pd.Series, pr: pd.Series) -> pd.Series:
                from . import pyvalidator as pv
                from ..functions import formatting as fmt
                from ..operators.json_mode import _reroot
                out = []
                for v, prefix in zip(sr, pr):
                    if v is None:
                        out.append([])
                        continue
                    ok, parsed = pv.content_parse_json(v, enc)
                    if not ok:
                        locd = "root" if prefix == "" else prefix
                        out.append([{
                            "instance_path": prefix,
                            "code": "InvalidContentMediaType",
                            "message": fmt.msg_invalid_content_media_type(
                                locd, mt)}])
                        continue
                    rows = []
                    for viol in pv.validate_with_root(root, cschema, parsed):
                        new_path, new_msg = _reroot(
                            viol.path, viol.message, prefix)
                        rows.append({"instance_path": new_path,
                                     "code": viol.code,
                                     "message": new_msg})
                    out.append(rows)
                return pd.Series(out)

            arr = F.coalesce(_content_viols(s, path), _empty_violations())
            checks.append(ArrayCheck(
                arr=F.when(cgate, arr).otherwise(_empty_violations())))
    return checks


def _python_pattern_matcher(pattern: str) -> Callable[[Column], Column]:
    """Pandas-UDF fallback matcher for valid-ECMA patterns the Java dialect
    cannot express (lookbehind, exotic named groups). Arrow-batched — the
    declared slow path, used only for the rare pattern shapes. Raises
    :class:`~..functions.ecma_regex.UnsupportedPatternError` at plan time
    when Python cannot express the pattern either (never silent)."""
    rx = ecma_regex.compile_python(pattern)  # raises if unsupported
    assert rx is not None  # caller checked ecma.valid

    def build(col: Column) -> Column:
        @F.pandas_udf("boolean")
        def _matches(s: pd.Series) -> pd.Series:
            compiled = ecma_regex.compile_python(pattern)
            return s.map(lambda v: v is not None
                         and compiled.search(v) is not None)

        return F.coalesce(_matches(col), F.lit(False))

    return build


# --------------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------------

@dataclass
class CompiledPlan:
    checks: list[Check]
    referenced_columns: list[str]
    # named combinator-validity columns (topological order); the checks'
    # expressions reference them by attribute — see CompileContext
    shared_cols: list[tuple[str, Column]] = dataclasses_field(default_factory=list)
    # plan contains an Arrow pandas-UDF slow path (content keywords /
    # ECMA-fallback pattern) — see CompileContext.has_python_stage
    has_python_stage: bool = False
    # any_violation() / violations_array(), built on first use and shared
    # by every later call on this plan
    _any: Optional[Column] = dataclasses_field(
        default=None, init=False, repr=False, compare=False)
    _array: Optional[Column] = dataclasses_field(
        default=None, init=False, repr=False, compare=False)

    def helper_names(self) -> list[str]:
        return [n for n, _ in self.shared_cols]

    def prepare(self, df: DataFrame) -> DataFrame:
        """Attach the shared validity helper columns (no-op for specs
        without combinators). Sequential projections: a later validity may
        reference an earlier one; Catalyst collapses the single-use ones
        and keeps multiply-referenced ones as real named expressions, so
        each is evaluated once per row."""
        for name, col in self.shared_cols:
            df = df.withColumn(name, col)
        return df

    def apply(self, df: DataFrame, out_col: str = "violations") -> DataFrame:
        """prepare + attach the violations array + drop the helpers."""
        out = self.prepare(df).withColumn(out_col, self.violations_array())
        if self.shared_cols:
            out = out.drop(*self.helper_names())
        return out

    def any_violation(self) -> Column:
        """Cheap row predicate equivalent to ``size(violations) > 0`` —
        the check CONDITIONS only, none of the message-rendering
        expressions. Violation-row consumers filter on this FIRST and
        construct messages only for the surviving rows: Spark's
        subexpression elimination hoists repeated message subtrees out of
        their conditionals and evaluates them per scanned row, so keeping
        message construction out of the hot projection is a ~3x win on
        clean-heavy data (the normal case)."""
        if self._any is None:
            self._any = bool_or([
                F.coalesce(c.cond, F.lit(False)) if isinstance(c, ScalarCheck)
                else F.size(c.arr) > 0 for c in self.checks])
        return self._any

    def violations_array(self) -> Column:
        """array<struct<instance_path,code,message>> of all violations for
        one row — the reference's append-only error Vec lifted to a column
        (validator/mod.rs:63, 445-450).

        No null-filtering pass: every check yields "empty or [struct]"
        arrays, so ``concat`` alone is exact. (A trailing ``F.filter`` HOF
        here would also knock the entire expression tree out of
        whole-stage codegen — higher-order functions are CodegenFallback —
        costing ~10x on the hot path.)"""
        if self._array is None:
            arrays = ([c.to_array() for c in self.checks]
                      or [_empty_violations()])
            self._array = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
        return self._array


def compile_table_spec(root: SchemaNode, schema: T.StructType) -> CompiledPlan:
    """Compile a spec whose root node describes one row (an object whose
    keys are the table's columns)."""
    ctx = CompileContext(root)
    tgt = row_target(schema)
    checks = compile_node(ctx, root, tgt, F.lit(""), "", F.lit(True))
    referenced = _referenced_columns(root, schema)
    return CompiledPlan(checks=checks, referenced_columns=referenced,
                        shared_cols=ctx.shared_cols,
                        has_python_stage=ctx.has_python_stage)


def _referenced_columns(root: SchemaNode, schema: T.StructType) -> list[str]:
    """Columns the spec actually constrains — lets the scan prune the rest
    (column pruning is free once we select only these)."""
    names = {f.name for f in schema.fields}
    out: set[str] = set()

    def walk(n: SchemaNode) -> None:
        for k in n.properties:
            if k in names:
                out.add(k)
        if n.required:
            out.update(set(n.required) & names)
        if n.additional_properties is not None and n.additional_properties != ALLOW:
            out.update(names)  # additionalProperties inspects every column
        if n.min_properties is not None or n.max_properties is not None:
            out.update(names)  # property counting inspects every column
        if n.property_names is not None:
            out.update(names)  # every name judged, presence per column
        if n.pattern_properties is not None:
            for pat in n.pattern_properties:
                rx = ecma_regex.compile_python(pat)
                out.update(k for k in names if rx.search(k) is not None)
        if n.dependent_required is not None:
            for k, deps in n.dependent_required.items():
                out.update(({k} | set(deps)) & names)
        if n.dependent_schemas is not None:
            out.update(set(n.dependent_schemas) & names)
        for sub in ((n.all_of or []) + (n.any_of or []) + (n.one_of or [])
                    + [s for s in (n.not_schema, n.if_schema, n.then_schema,
                                   n.else_schema) if s is not None]
                    + list((n.pattern_properties or {}).values())
                    + list((n.dependent_schemas or {}).values())):
            walk(sub)
        for m in (n.defs, n.definitions):
            if m:
                for sub in m.values():
                    walk(sub)

    walk(root)
    if root.anchors:
        # anchored nodes can live outside $defs; refs may apply them to
        # the row target, so their referenced names count (conservative)
        for sub in root.anchors.values():
            walk(sub)
    return sorted(out)
