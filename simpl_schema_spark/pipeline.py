"""Composed clean-then-validate — the reference's ``validator({clean: true})``
single-pass pipeline (src/SimpleSchema.ts:897-907): one parsed representation,
one scan, clean and validate fused by Catalyst into one projection chain.

The only cross-stage subtlety is autoConvert failures: the reference leaves
an unconvertible value in place so the type check reports ``expectedType``
with the ORIGINAL value (convertToProperType.ts:33).  Columnar clean instead
yields NULL for unconvertible rows, so this pipeline patches the violations
array for those rows: drop whatever fired for that key on the cleaned value
(usually ``required``) and insert the reference-faithful ``expectedType``
violation carrying the original value.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .cleaning import clean_with_info
from .compiler.compile import RuleCompiler
from .compiler.rules import stringify, token_name, violation
from .errors import ErrorTypes, VIOLATION_SCHEMA
from .schema.schema import SimpleSchema
from .validation import _apply_pandas_rules

__all__ = ["clean_and_validate"]


def clean_and_validate(
    df: DataFrame,
    schema: SimpleSchema,
    *,
    violations_col: str = "violations",
    keys: list[str] | None = None,
    ignore: list[str] | None = None,
    extra_key_policy: str = "violation",
    **clean_opts: Any,
) -> DataFrame:
    """Clean ``df`` per the schema, validate the cleaned result, and return
    cleaned columns + a ``violations`` column. Single pass, no shuffle."""
    cleaned, cleaner = clean_with_info(
        df, schema, keep_originals_of_converted=True, **clean_opts
    )
    orig_names = {k: f"__orig_{k}" for k in cleaner.converted}

    rule_schema = T.StructType(
        [f for f in cleaned.schema.fields if f.name not in set(orig_names.values())]
    )
    compiler = RuleCompiler(
        schema,
        rule_schema,
        keys=keys,
        ignore=ignore,
        extra_key_policy=extra_key_policy,
    )
    viols = compiler.violations_column()

    work = cleaned
    if compiler.pandas_rules:
        work = _apply_pandas_rules(work, compiler.pandas_rules)

    for key, orig_dtype in cleaner.converted.items():
        orig = F.col(orig_names[key])
        alts = schema.resolved_alternatives(key)
        data_type = token_name(alts[-1].get("type")) if alts else "String"
        conv_failed = orig.isNotNull() & F.col(key).isNull()
        def _not_this_key(v: Column, k: str = key) -> Column:
            return v.getField("name") != F.lit(k)

        patched = F.concat(
            F.filter(viols, lambda v: _not_this_key(v)),
            F.array(
                violation(
                    F.lit(key),
                    ErrorTypes.EXPECTED_TYPE,
                    value=stringify(orig, orig_dtype),
                    dataType=data_type,
                )
            ),
        )
        viols = F.when(conv_failed, patched).otherwise(viols)

    out = work.withColumn(violations_col, viols)
    drop = list(orig_names.values()) + [r.column_name for r in compiler.pandas_rules]
    if drop:
        out = out.drop(*drop)
    return out
