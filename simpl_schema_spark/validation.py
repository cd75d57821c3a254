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

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .arrowsafe import arrow_inputs
from .compiler.compile import compile_violations
from .compiler.memo import compiled
from .compiler.rules import generic_key
from .compiler.validators import arrow_udf
from .errors import VIOLATION_FIELDS, VIOLATION_SCHEMA
from .schema.schema import SimpleSchema

__all__ = [
    "with_violations",
    "violations_table",
    "ValidationResult",
    "validate",
]


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

    The forest comes from the compile cache (``compiler/memo.py``), keyed
    on the schema's content, the input StructType and keys/ignore/policy."""
    col = compiled(
        schema, "violations", df.schema.simpleString(), (keys, ignore, extra_key_policy),
        lambda: compile_violations(
            schema, df.schema, keys=keys, ignore=ignore, extra_key_policy=extra_key_policy
        ),
    )
    return _attach_violations(df, schema, col, violations_col)


def _attach_violations(
    df: DataFrame,
    schema: SimpleSchema,
    col: Column,
    violations_col: str,
    drop: Iterable[str] = (),
) -> DataFrame:
    """``df`` plus the violations column, without the ``drop`` helper
    columns; the doc validators' violations follow the field ones."""
    out = df.withColumn(violations_col, col)
    if drop:
        out = out.drop(*drop)
    # V10 doc validators: whole-document functions returning violation
    # lists (reference validateDocument.ts:18-58), ONE Arrow UDF over the
    # data columns; their violations follow the field ones
    doc_validators = schema.all_doc_validators()
    if doc_validators:
        cols, unpack = arrow_inputs(df.schema, None, True)
        udf = _doc_validators_udf(doc_validators, unpack)
        out = out.withColumn(violations_col, F.concat(F.col(violations_col), udf(*cols)))
    return out


def _doc_validators_udf(validators: list[Callable], unpack: Callable):
    """Arrow UDF running every doc validator on each row's dict; only the
    violation arrays come back through Python."""

    def run(*inputs):
        _, row = unpack(*inputs)
        errs = [e for fn in validators for e in fn(row) or []]
        return [
            {f: None if e.get(f) is None else str(e.get(f)) for f, _ in VIOLATION_FIELDS}
            for e in errs
        ]

    return arrow_udf(partial(map, run), T.ArrayType(VIOLATION_SCHEMA))


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
