"""Schema → Spark expression compiler for typed DataFrames.

Compiles a :class:`~simpl_schema_spark.schema.SimpleSchema` against a concrete
DataFrame schema into ONE Catalyst projection producing an
``array<violation>`` column per row.  No shuffles, no row-at-a-time Python:
the entire validator chain — required decision table, per-type checks
(bounds/regex/NaN/integer), allowedValues, oneOf dispatch, array-item
recursion with per-index violation naming — is pure Spark SQL expressions
(higher-order functions for arrays), so whole-stage codegen fuses it with the
scan.  Opaque Python ``custom`` validators ride Arrow-vectorized pandas UDFs.

This module owns the traversal (keys, objects, arrays, required, custom
validators).  The per-value decision tables — type, string/number/date/array
rules, allowedValues, oneOf — live in :mod:`.rules`, written once over a
typed-column view (used here) and a JSON-token view (used by JSON documents
and modifier rows).

Semantics parity map (reference = longshotlabs/simpl-schema):

- validator chain order [required, type, allowedValues, custom, schema
  validators, global validators]: ``src/validation/validateField.ts:192-226``
  → per-key ordered ``F.coalesce`` (first non-null violation wins, which also
  reproduces the one-error-per-key dedupe of ``src/doValidation.ts:115-124``).
- required decision table: ``src/validation/requiredValidator.ts:13-61``;
  missing-object promotion (required descendants of a missing *required*
  object fire; of a missing *optional* object don't):
  ``src/validation/validateField.ts:313-321`` → the ``opt_gate`` conjunction
  of ``isNotNull`` over *optional* ancestors only.
- type checks and oneOf: :mod:`.rules` (``src/validation/typeValidator/*.ts``,
  ``src/validation/validateField.ts:171-256``); a column whose dtype does not
  conform fails at compile time, one ``expectedType`` per non-null value.
- ``SimpleSchema.Any`` / ``blackbox: true`` subtrees: no rules compiled
  (``src/validation/validateField.ts:112-113,174-175``).
- per-item array violations named with concrete indexes (``friends.0.name``):
  ``src/validation/validateField.ts:293-306`` → ``F.transform`` with index
  lambda; flatten.
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, functions as F, types as T

from ..errors import ErrorTypes, VIOLATION_SCHEMA
from ..schema.definition import make_key_generic
from ..schema.schema import SimpleSchema
from ..schema.types import AnyType, ArrayType, ObjectType
from . import rules
from .rules import ColumnView, check, violation

__all__ = ["RuleCompiler", "compile_violations", "spark_rule", "violation"]


def spark_rule(fn: Callable) -> Callable:
    """Mark a custom validator as a JVM-side Spark rule.

    The function receives ``(value: Column, ctx: RuleContext)`` and returns a
    Column evaluating to an error-type string (or NULL for valid).  This is
    the fast path for custom validators whose logic is expressible in Spark
    SQL — use instead of a Python callable whenever possible.
    """
    fn._is_spark_rule = True  # type: ignore[attr-defined]
    return fn


def is_spark_rule(fn: Callable) -> bool:
    return getattr(fn, "_is_spark_rule", False)


def wants_context(fn: Callable) -> bool:
    """True if a Python custom validator takes a (value, ctx) pair.

    One-parameter validators keep the value-only fast path; two-parameter
    ones get the reference's cross-field ValidatorContext.
    """
    try:
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD, p.VAR_POSITIONAL)
        ]
    except (TypeError, ValueError):
        return False
    if any(p.kind == p.VAR_POSITIONAL for p in params):
        return True
    return len(params) >= 2


@dataclass
class RuleContext:
    """Compile-time context handed to @spark_rule custom validators.

    Mirrors the reference's ValidatorContext (src/types.ts:230-240):
    ``field``/``sibling_field`` give cross-field access — here they resolve to
    Column expressions, so the whole rule stays JVM-side (conditionally-
    required fields, password-match, etc. compile into the same fused
    projection as the built-in rules).
    """

    key: str                      # generic key path
    name: Column                  # concrete key path (may embed array indexes)
    definition: dict              # resolved alternative definition
    row: Optional[Column] = None  # struct of all top-level columns, if needed

    def field(self, path: str) -> Column:
        """Column for any other document key (reference this.field())."""
        return F.col(path)

    def sibling_field(self, name: str) -> Column:
        """Column for a key sharing this key's parent (this.siblingField())."""
        parent, _, _ = self.key.rpartition(".")
        return F.col(f"{parent}.{name}" if parent else name)


@dataclass
class _PandasRule:
    """A deferred Arrow-vectorized custom validator (row-level keys only).

    ``input_cols`` holds the (dotted) path of the validated leaf value;
    ``context_cols`` — non-empty for two-argument validators — lists the
    additional top-level columns shipped to Python as a struct so the fn's
    context can resolve ``field()``/``sibling_field()`` lookups.
    """

    key: str
    column_name: str              # output column holding error-type string
    fn: Callable                  # pd.Series -> pd.Series[str|None]
    input_cols: list[str] = field(default_factory=list)
    context_cols: list[str] = field(default_factory=list)
    spark_type: T.DataType = field(default_factory=T.StringType)
    # array-item rules: the UDF takes the WHOLE array column and returns
    # array<string> (error type per element) — no explode, no shuffle
    elementwise: bool = False
    item_subpath: str = ""        # path inside each element ('' = the element)
    # nested array-item rules (a.$.b.$.c, arbitrarily deep): path from each
    # array level's element to the NEXT level's array; the UDF returns
    # arrays nested one level per entry+1 (array<string>, array<array<
    # string>>, …) and the nested lambdas pick entries by index per level
    between_subpaths: list[str] = field(default_factory=list)


class RuleCompiler:
    """Compile one SimpleSchema against one DataFrame schema."""

    def __init__(
        self,
        schema: SimpleSchema,
        df_schema: T.StructType,
        *,
        keys: Optional[list[str]] = None,
        ignore: Optional[list[str]] = None,
        extra_key_policy: str = "violation",  # violation | ignore | error
    ) -> None:
        self.schema = schema
        self.df_schema = df_schema
        self.keys = [make_key_generic(k) for k in keys] if keys else None
        self.ignore = list(ignore or [])
        self.extra_key_policy = extra_key_policy
        self.merged = schema.merged_schema()
        self.pandas_rules: list[_PandasRule] = []
        self._pandas_counter = 0
        # (generic, fn) → column name: the custom tail is compiled both for
        # the value-present and value-null branches; register one UDF only
        self._pandas_cache: dict[tuple[str, int], str] = {}
        # stack of (item_generic, index Column) while compiling inside
        # array-item lambdas — lets Python custom validators on item keys
        # resolve to elementwise pandas rules
        self._lambda_frames: list[tuple[str, Column]] = []

    # -------------------------------------------------------------- public

    def violations_column(self) -> Column:
        """The whole rule forest as one array<violation> Column.

        Assembled with ``concat`` of conditional singleton arrays rather than
        ``array_compact(flatten(...))``: higher-order functions are
        CodegenFallback expressions, and keeping them out of the row-level
        path lets the entire projection stay inside whole-stage codegen
        (HOFs remain only inside array-item subtrees, where they are the
        right tool).
        """
        arrays = self._compile_children(
            prefix="",
            value=None,
            name_prefix=None,
            dtype=self.df_schema,
            opt_gate=None,
            in_lambda=False,
        )
        arrays.extend(self._extra_key_violations())
        empty = F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
        if not arrays:
            return empty
        combined = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
        if self.ignore:
            ig = [F.lit(t) for t in self.ignore]
            combined = F.filter(
                combined, lambda v: ~v.getField("type").isin(*ig)
            )
        return combined

    # ----------------------------------------------------------- traversal

    def _should_emit(self, generic: str) -> bool:
        if self.keys is None:
            return True
        return any(
            generic == k or generic.startswith(f"{k}.") or k.startswith(f"{generic}.")
            for k in self.keys
        )

    def _emit_rules_for(self, generic: str) -> bool:
        if self.keys is None:
            return True
        return any(
            generic == k or generic.startswith(f"{k}.") for k in self.keys
        )

    def _direct_children(self, prefix: str) -> list[str]:
        """Immediate child generic keys of a prefix ('' = top level)."""
        out = []
        seen = set()
        p = f"{prefix}." if prefix else ""
        for k in self.merged:
            if not k.startswith(p):
                continue
            rest = k[len(p):]
            first = rest.split(".")[0]
            if first == "$":
                continue
            child = f"{p}{first}"
            if child not in seen and child in self.merged:
                seen.add(child)
                out.append(child)
        return out

    def _compile_children(
        self,
        prefix: str,
        value: Optional[Column],
        name_prefix: Optional[Column],
        dtype: Optional[T.StructType],
        opt_gate: Optional[Column],
        in_lambda: bool,
    ) -> list[Column]:
        arrays: list[Column] = []
        for child in self._direct_children(prefix):
            if not self._should_emit(child):
                continue
            leaf = child.split(".")[-1]
            if dtype is not None and leaf in dtype.fieldNames():
                child_dtype = dtype[leaf].dataType
                child_value = (
                    F.col(leaf) if value is None else value.getField(leaf)
                )
            else:
                child_dtype = T.NullType()
                child_value = F.lit(None)
            child_name = (
                F.lit(leaf)
                if name_prefix is None
                else F.concat(name_prefix, F.lit("." + leaf))
            )
            arrays.extend(
                self._compile_key(
                    child, child_value, child_name, child_dtype, opt_gate, in_lambda
                )
            )
        return arrays

    def _compile_key(
        self,
        generic: str,
        value: Column,
        name: Column,
        dtype: T.DataType,
        opt_gate: Optional[Column],
        in_lambda: bool,
    ) -> list[Column]:
        alternatives = self.schema.resolved_alternatives(generic)
        optional = rules.is_optional(alternatives)
        view = ColumnView(value, dtype)

        arrays: list[Column] = []

        if self._emit_rules_for(generic):
            key_err = self._key_error(
                generic, view, name, alternatives, optional, opt_gate, in_lambda
            )
            if key_err is not None:
                arrays.append(
                    F.when(key_err.isNotNull(), F.array(key_err)).otherwise(
                        F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
                    )
                )

        # recursion — objects and arrays
        alt_types = [a.get("type") for a in alternatives]
        has_any = any(t is AnyType for t in alt_types)
        is_blackbox = any(a.get("blackbox") is True for a in alternatives)

        if not has_any and not is_blackbox:
            child_gate = opt_gate
            if optional:
                present = value.isNotNull()
                child_gate = present if child_gate is None else (child_gate & present)

            if any(t is ObjectType or isinstance(t, SimpleSchema) for t in alt_types):
                child_struct = dtype if isinstance(dtype, T.StructType) else None
                arrays.extend(
                    self._compile_children(
                        prefix=generic,
                        value=value,
                        name_prefix=name,
                        dtype=child_struct,
                        opt_gate=child_gate,
                        in_lambda=in_lambda,
                    )
                )

            if ArrayType in alt_types and isinstance(dtype, T.ArrayType):
                item_generic = f"{generic}.$"
                if item_generic in self.merged:
                    arrays.append(
                        self._compile_array_items(
                            item_generic, value, name, dtype.elementType
                        )
                    )
        return arrays

    def _compile_array_items(
        self,
        item_generic: str,
        arr: Column,
        arr_name: Column,
        item_dtype: T.DataType,
    ) -> Column:
        """Per-item violations, named with concrete indexes
        (validateField.ts:293-306)."""

        def per_item(x: Column, i: Column) -> Column:
            item_name = F.concat(arr_name, F.lit("."), i.cast("string"))
            self._lambda_frames.append((item_generic, i))
            try:
                item_arrays = self._compile_key(
                    item_generic,
                    x,
                    item_name,
                    item_dtype,
                    opt_gate=x.isNotNull(),
                    in_lambda=True,
                )
            finally:
                self._lambda_frames.pop()
            if not item_arrays:
                return F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
            return F.array_compact(F.flatten(F.array(*item_arrays)))

        result = F.when(
            arr.isNotNull(), F.flatten(F.transform(arr, per_item))
        ).otherwise(F.array().cast(T.ArrayType(VIOLATION_SCHEMA)))
        return result

    # ------------------------------------------------------------ key rules

    def _key_error(
        self,
        generic: str,
        view: ColumnView,
        name: Column,
        alternatives: list[dict],
        optional: bool,
        opt_gate: Optional[Column],
        in_lambda: bool,
    ) -> Optional[Column]:
        value = view.value
        chain: list[Column] = []

        # V1 required (requiredValidator.ts:13-61, doc mode: null==missing)
        if not optional:
            cond = value.isNull()
            if opt_gate is not None:
                cond = cond & opt_gate
            chain.append(check(cond, violation(name, ErrorTypes.REQUIRED)))

        # ordered validator tail of one alternative: custom, then
        # schema-level, then global validators (validateField.ts:192-226 /
        # SimpleSchema.ts:825-827, 1059-1061)
        def customs(alt: dict) -> list[Column]:
            custom = alt.get("custom")
            tail = ([custom] if custom is not None else []) + self.schema.all_validators()
            return [
                self._custom_error(generic, view, name, alt, fn, in_lambda)
                for fn in tail
            ]

        # value checks only when a value is present; custom validators run on
        # EVERY key visit, set or not (reference validateField.ts:192-226 —
        # typeValidator/allowedValues skip internally when !isSet, custom
        # fns receive isSet=false; conditionally-required depends on this)
        one_of = rules.one_of(
            alternatives, lambda alt: rules.value_rules(view, name, alt) + customs(alt)
        )
        custom_only = rules.one_of(alternatives, customs)
        if one_of is not None:
            chain.append(
                F.when(value.isNotNull(), one_of).otherwise(
                    custom_only if custom_only is not None else rules.null_violation()
                )
            )
        elif custom_only is not None:
            chain.append(check(value.isNull(), custom_only))

        return rules.first(chain)

    def _context_cols_for(self, custom: Callable) -> list[str]:
        """Columns shipped as the cross-field context struct for a
        two-argument Python validator; empty for value-only fns."""
        if not wants_context(custom):
            return []
        declared = getattr(custom, "context_fields", None)
        if declared:
            return list(declared)
        # fn may read any field: ship all top-level data columns.
        # Declare fn.context_fields = [...] to keep the batch narrow.
        return [f.name for f in self.df_schema.fields]

    def _custom_error(
        self,
        generic: str,
        view: ColumnView,
        name: Column,
        alt: dict,
        custom: Callable,
        in_lambda: bool,
    ) -> Column:
        if is_spark_rule(custom):
            err_type = custom(view.value, RuleContext(key=generic, name=name, definition=alt))
        else:
            err_type = F.col(self._pandas_rule(generic, view.dtype, custom, in_lambda))
            if in_lambda:
                for _, frame_idx in self._lambda_frames:
                    err_type = F.get(err_type, frame_idx)
        return check(err_type.isNotNull(), violation(name, err_type, value=view.display))

    def _pandas_rule(
        self, generic: str, dtype: T.DataType, custom: Callable, in_lambda: bool
    ) -> str:
        """Register a Python validator's Arrow UDF column (once per key and
        fn: the custom tail is compiled for both the value-present and the
        value-null branch) and return the column's name.

        The validator DataFrame pass adds the column before the violations
        projection.  Row-level keys ship the LEAF value (F.col resolves
        dotted struct paths); two-argument validators also get a per-row
        context with field()/sibling_field() resolved from a shipped struct
        of context columns (reference ValidatorContext, src/types.ts:230-240).

        Array-item keys (validateField.ts:293-306) ship the WHOLE outer
        array: the UDF returns an error type per element, nested one array
        level per lambda frame (array<string> for a.$.b,
        array<array<string>> for a.$.b.$.c, and so on — the reference
        recurses without bound, getPositionsForAutoValue.ts:43-148), and the
        lambdas pick entries by index: no explode, no shuffle, violations
        keep concrete-index names.
        """
        cache_key = (generic, id(custom))
        if cache_key in self._pandas_cache:
            return self._pandas_cache[cache_key]
        self._pandas_counter += 1
        col_name = (
            f"__custom_{self._pandas_counter}_"
            f"{generic.replace('.', '_').replace('$', 'I')}"
        )
        rule = _PandasRule(
            key=generic,
            column_name=col_name,
            fn=custom,
            context_cols=self._context_cols_for(custom),
        )
        if in_lambda:
            frames = [g for g, _ in self._lambda_frames]
            rule.input_cols = [frames[0][: -len(".$")]]
            rule.elementwise = True
            rule.item_subpath = generic[len(frames[-1]):].lstrip(".")
            rule.between_subpaths = [
                nxt[len(prev): -len(".$")].strip(".")
                for prev, nxt in zip(frames, frames[1:])
            ]
        elif not isinstance(dtype, T.NullType):
            # absent column (NullType): a null literal is shipped instead
            rule.input_cols = [generic]
        self.pandas_rules.append(rule)
        self._pandas_cache[cache_key] = col_name
        return col_name

    # --------------------------------------------------------- extra keys

    def _extra_key_violations(self) -> list[Column]:
        """KEY_NOT_IN_SCHEMA for DataFrame columns the schema doesn't allow
        (allowsKey: SimpleSchema.ts:594-624; emission validateField.ts:262-279).

        With a fixed table schema, presence is per-row non-null; unknown
        columns that are entirely absent can't occur.
        """
        if self.extra_key_policy == "ignore":
            return []
        out: list[Column] = []
        for f in self.df_schema.fields:
            if not self.schema.allows_key(f.name):
                if self.extra_key_policy == "error":
                    raise ValueError(
                        f"column {f.name!r} is not allowed by the schema"
                    )
                out.append(
                    F.when(
                        F.col(f.name).isNotNull(),
                        F.array(
                            violation(
                                F.lit(f.name),
                                ErrorTypes.KEY_NOT_IN_SCHEMA,
                                value=rules.stringify(F.col(f.name), f.dataType),
                            )
                        ),
                    ).otherwise(F.array().cast(T.ArrayType(VIOLATION_SCHEMA)))
                )
        return out


def compile_violations(
    schema: SimpleSchema,
    df_schema: T.StructType,
    **kwargs: Any,
) -> tuple[Column, list[_PandasRule]]:
    compiler = RuleCompiler(schema, df_schema, **kwargs)
    col = compiler.violations_column()
    return col, compiler.pandas_rules
