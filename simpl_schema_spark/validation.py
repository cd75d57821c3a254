"""Validation entry points: DataFrame in → violations out, single pass.

The composed pipeline mirrors the reference's ``validator({clean: true})``
single-pass shape (reference SimpleSchema.ts:897-907): one projection carries
clean + validate + stats, so Catalyst fuses everything with the scan
(whole-stage codegen) and the table is read exactly once.

Outputs:
- :func:`with_violations` — input DF + ``violations`` array<struct> column
- :func:`violations_table` — exploded relational form
  ``(id…, name, type, value, dataType, min, max, regExp, minCount, maxCount)``
  — the reference's ``error.details`` array (SimpleSchema.ts:855-862)
  reproduced relationally
- :class:`ValidationResult` — ValidationContext analog
  (reference src/ValidationContext.ts:26-139)
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Iterable, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .compiler.compile import RuleCompiler
from .compiler.rules import generic_key
from .compiler.validators import (
    FieldContext,
    json_typed_value,
    typed_value,
    value_udf,
)
from .errors import VIOLATION_SCHEMA
from .schema.schema import SimpleSchema

__all__ = [
    "with_violations",
    "violations_table",
    "ValidationResult",
    "validate",
]


def _apply_pandas_rules(df: DataFrame, rules) -> DataFrame:
    """Attach Arrow-vectorized custom-validator columns.

    Each rule is a Python callable ``value -> error-type | None`` (or
    ``(value, ctx) -> error-type | None`` for cross-field rules).  We wrap it
    in ONE pandas UDF per rule (Arrow batch transfer, no per-row Python in
    the JVM↔Python bridge; the user fn itself runs per element unless it is
    marked ``vectorized`` and operates on the whole Series).
    """
    from .arrowsafe import (
        arrow_safe_array,
        ctx_safe_struct,
        decode_ctx_row,
        needs_arrow_guard,
        resolve_dtype,
    )

    def _extract(el, subpath):
        if not subpath:
            return el
        cur = el
        for seg in subpath.split("."):
            if cur is None:
                return None
            cur = cur.get(seg) if isinstance(cur, dict) else getattr(cur, seg, None)
        return cur

    def make_item_udf(
        fn, key, subpath, wants_ctx, between=(), guarded=False, jsonified=()
    ):
        """Whole-array UDF: error type per element (see _PandasRule.elementwise).

        ``between`` (nested keys, a.$.b.$.c…, arbitrary depth): path from
        each array level's element to the NEXT level's array; the UDF
        returns arrays nested ``len(between)+1`` deep — one error type per
        index tuple — matching the compiler's chained ``F.get`` lookups.

        ``guarded``: the input went through :func:`..arrowsafe.
        arrow_safe_array` and an extra leading BOOLEAN column marks rows
        whose real array was null/empty — those rows return None WITHOUT
        touching the dummy element, so user fns never see it.
        """
        between = list(between)

        def run_leaf(el, row):
            v = _extract(el, subpath)
            return fn(v, FieldContext(key, v, row)) if wants_ctx else fn(v)

        def run_arr(arr, row, level):
            if arr is None:
                return None
            if level == len(between):
                return [run_leaf(el, row) for el in arr]
            out = []
            for el in arr:
                inner = _extract(el, between[level]) if between[level] else el
                out.append(
                    None if inner is None else run_arr(inner, row, level + 1)
                )
            return out

        def _apply_plain(arrays: pd.Series) -> pd.Series:
            return pd.Series([run_arr(a, {}, 0) for a in arrays], dtype=object)

        jsonified = list(jsonified)

        def _apply_ctx(arrays: pd.Series, ctx_rows: pd.DataFrame) -> pd.Series:
            rows = ctx_rows.to_dict("records")
            return pd.Series(
                [run_arr(a, decode_ctx_row(r, jsonified), 0)
                 for a, r in zip(arrays, rows)],
                dtype=object,
            )

        def _apply_plain_g(dummies: pd.Series, arrays: pd.Series) -> pd.Series:
            return pd.Series(
                [None if d else run_arr(a, {}, 0)
                 for d, a in zip(dummies, arrays)],
                dtype=object,
            )

        def _apply_ctx_g(
            dummies: pd.Series, arrays: pd.Series, ctx_rows: pd.DataFrame
        ) -> pd.Series:
            rows = ctx_rows.to_dict("records")
            return pd.Series(
                [None if d else run_arr(a, decode_ctx_row(r, jsonified), 0)
                 for d, a, r in zip(dummies, arrays, rows)],
                dtype=object,
            )

        out_t = T.ArrayType(T.StringType())
        for _ in between:
            out_t = T.ArrayType(out_t)
        if guarded:
            return F.pandas_udf(_apply_ctx_g if wants_ctx else _apply_plain_g, out_t)
        if wants_ctx:
            return F.pandas_udf(_apply_ctx, out_t)
        return F.pandas_udf(_apply_plain, out_t)

    for rule in rules:
        if rule.elementwise:
            arr_col = F.col(rule.input_cols[0])
            arr_t = resolve_dtype(df.schema, rule.input_cols[0])
            guarded = needs_arrow_guard(arr_t)
            inputs = []
            if guarded:
                # see arrowsafe: a null/empty top-level array of a >=3-level
                # nested type segfaults the Arrow input conversion; ship
                # [null] plus a dummy flag — the UDF returns None for
                # flagged rows without ever handing the dummy element to
                # the user fn, and the result column is only indexed from
                # lambdas over the REAL array anyway.
                inputs.append(F.coalesce(F.size(arr_col) <= 0, F.lit(True)))
                arr_col = arrow_safe_array(arr_col, arr_t)
            inputs.append(arr_col)
            wants_ctx = bool(rule.context_cols)
            jsonified = []
            if wants_ctx:
                ctx_struct, jsonified = ctx_safe_struct(
                    df.schema, rule.context_cols
                )
                inputs.append(ctx_struct)
            udf = make_item_udf(
                rule.fn, rule.key, rule.item_subpath, wants_ctx,
                between=rule.between_subpaths, guarded=guarded,
                jsonified=jsonified,
            )
            df = df.withColumn(rule.column_name, udf(*inputs))
            continue
        decode = typed_value
        if rule.input_cols:
            value_col = F.col(rule.input_cols[0])
            null_col = value_col.isNull()
            if needs_arrow_guard(resolve_dtype(df.schema, rule.input_cols[0])):
                # deep nested VALUE columns take the JSON detour too
                value_col = F.to_json(value_col)
                decode = json_typed_value
        else:
            value_col = F.lit(None).cast("string")  # key absent
            null_col = F.lit(True)
        ctx_inputs, context = [], None
        if rule.context_cols:
            ctx_struct, jsonified = ctx_safe_struct(df.schema, rule.context_cols)
            ctx_inputs = [ctx_struct]
            context = partial(decode_ctx_row, jsonified=jsonified)
        udf = value_udf(rule.fn, rule.key, decode, context)
        df = df.withColumn(rule.column_name, udf(value_col, null_col, *ctx_inputs))
    return df


def with_violations(
    df: DataFrame,
    schema: SimpleSchema,
    *,
    violations_col: str = "violations",
    keys: Optional[list[str]] = None,
    ignore: Optional[list[str]] = None,
    extra_key_policy: str = "violation",
) -> DataFrame:
    """Return ``df`` plus an ``array<violation>`` column — the single-pass
    rule forest. No shuffle; fuses with the scan.

    The compiled forest is MEMOIZED on the schema instance: it is pure
    unbound Columns over the input's field names, so it depends only on
    (schema content, input StructType, keys/ignore/policy, the active
    validator identities) — none of which involve the data.  Building it
    issues thousands of py4j round trips per call otherwise (the same
    finding as modifiers._modifier_rule_forest).  Invalidation:
    ``SimpleSchema._rebuild_caches`` drops the memo on definition change;
    registry changes alter the key."""
    memo_key = (
        "violations_forest",
        df.schema.simpleString(),
        tuple(keys) if keys is not None else None,
        tuple(ignore) if ignore is not None else None,
        extra_key_policy,
        tuple(id(fn) for fn in schema.all_validators()),
    )
    memo = schema.__dict__.setdefault("_compiled_memo", {})
    if memo_key not in memo:
        compiler = RuleCompiler(
            schema,
            df.schema,
            keys=keys,
            ignore=ignore,
            extra_key_policy=extra_key_policy,
        )
        memo[memo_key] = (compiler.violations_column(), compiler.pandas_rules)
    col, pandas_rules = memo[memo_key]
    if pandas_rules:
        df = _apply_pandas_rules(df, pandas_rules)
    out = df.withColumn(violations_col, col)
    if pandas_rules:
        out = out.drop(*[r.column_name for r in pandas_rules])

    # V10 doc validators: whole-document functions returning violation lists
    # (reference validateDocument.ts:18-58) — one Arrow-batched pandas UDF
    # over a struct of all columns, results concatenated after field errors
    doc_validators = schema.all_doc_validators()
    if doc_validators:
        out = _apply_doc_validators(out, df.columns, doc_validators, violations_col)
    return out


def _apply_doc_validators(
    df: DataFrame,
    data_cols: list[str],
    validators: list[Callable],
    violations_col: str,
) -> DataFrame:
    """One Arrow-batched pandas UDF over a struct of the data columns —
    only the violation arrays come back through Python (the earlier
    mapInPandas round-tripped EVERY column both ways); deeply nested
    columns take the arrowsafe JSON detour like every other context."""
    from .arrowsafe import ctx_safe_struct, decode_ctx_row
    from .errors import VIOLATION_FIELDS

    ctx_struct, jsonified = ctx_safe_struct(df.schema, data_cols)

    def _apply(ctx_rows: pd.DataFrame) -> pd.Series:
        rows = []
        # to_dict('records') is ~5-10x faster than iterrows for the
        # per-row Python that arbitrary doc fns force on us
        for rec in ctx_rows.to_dict("records"):
            rec = decode_ctx_row(rec, jsonified)
            errs = []
            for fn in validators:
                errs.extend(fn(rec) or [])
            rows.append(
                [
                    {
                        fname: (
                            None
                            if e.get(fname) is None
                            else str(e.get(fname))
                        )
                        for fname, _ in VIOLATION_FIELDS
                    }
                    for e in errs
                ]
            )
        return pd.Series(rows, dtype=object)

    udf = F.pandas_udf(_apply, T.ArrayType(VIOLATION_SCHEMA))
    return df.withColumn(
        violations_col,
        F.concat(F.col(violations_col), udf(ctx_struct)),
    )


def violations_table(
    df: DataFrame,
    schema: SimpleSchema,
    id_cols: Iterable[str] = ("url",),
    **kwargs: Any,
) -> DataFrame:
    """Exploded violations keyed by the given id columns."""
    id_cols = list(id_cols)
    vdf = with_violations(df, schema, **kwargs)
    return vdf.select(
        *[F.col(c) for c in id_cols],
        F.explode("violations").alias("violation"),
    ).select(*id_cols, "violation.*")


class ValidationResult:
    """ValidationContext analog over a validated DataFrame.

    Unlike the reference's mutable per-document context, this wraps the
    distributed result; driver-side accessors collect only what they need.
    """

    def __init__(self, df_with_violations: DataFrame, schema: SimpleSchema):
        self._df = df_with_violations
        self._schema = schema

    @property
    def df(self) -> DataFrame:
        return self._df

    def is_valid(self) -> bool:
        """True if no row has any violation (one job, early-exit via limit)."""
        return (
            self._df.where(F.size("violations") > 0).limit(1).count() == 0
        )

    def invalid_count(self) -> int:
        return self._df.where(F.size("violations") > 0).count()

    def validation_errors(self, limit: int = 1000) -> list[dict]:
        rows = (
            self._df.select(F.explode("violations").alias("v"))
            .limit(limit)
            .collect()
        )
        return [row.v.asDict() for row in rows]

    def error_messages(self, limit: int = 1000) -> list[str]:
        return [
            self._schema.message_for_error(e)
            for e in self.validation_errors(limit)
        ]


def validate(
    df: DataFrame,
    schema: SimpleSchema,
    **kwargs: Any,
) -> ValidationResult:
    return ValidationResult(with_violations(df, schema, **kwargs), schema)


class ValidationContext:
    """Named validation context (reference src/ValidationContext.ts:8-144,
    cached per schema via SimpleSchema.ts:813-823).

    Holds the last validated DataFrame; revalidating with ``keys`` RETAINS
    prior violations of keys outside the validated subtrees and replaces
    those inside (ValidationContext.ts:115-125).  The merge is one
    broadcast-friendly equi-join on the id columns plus an array filter —
    no Python, no extra shuffle beyond the join.
    """

    def __init__(self, schema: SimpleSchema, id_cols: Iterable[str] = ("url",)):
        self.schema = schema
        self.id_cols = list(id_cols)
        self._last: Optional[DataFrame] = None

    def reset(self) -> None:
        """ValidationContext.reset() — drop retained errors."""
        self._last = None

    def validate(
        self, df: DataFrame, *, keys: Optional[list[str]] = None, **kwargs: Any
    ) -> ValidationResult:
        from .schema.definition import make_key_generic

        out = with_violations(df, self.schema, keys=keys, **kwargs)
        if keys is not None and self._last is not None:
            generics = [make_key_generic(k) for k in keys]

            def in_revalidated(v):
                name_generic = generic_key(v.getField("name"))
                cond = F.lit(False)
                for g in generics:
                    cond = cond | (name_generic == g) | name_generic.startswith(g + ".")
                return cond

            empty = F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
            prior = self._last.select(
                *self.id_cols, F.col("violations").alias("__prior")
            )
            retained = F.filter(F.col("__prior"), lambda v: ~in_revalidated(v))
            out = (
                out.join(prior, self.id_cols, "left")
                .withColumn(
                    "violations",
                    F.concat(F.coalesce(retained, empty), F.col("violations")),
                )
                .drop("__prior")
            )
        self._last = out
        return ValidationResult(out, self.schema)

    def key_is_invalid(self, key: str) -> bool:
        """ValidationContext.keyIsInvalid — any violation on the key or its
        descendants in the last run."""
        if self._last is None:
            return False
        return (
            self._last.where(
                F.exists(
                    "violations",
                    lambda v: (v.getField("name") == key)
                    | v.getField("name").startswith(key + "."),
                )
            )
            .limit(1)
            .count()
            > 0
        )
