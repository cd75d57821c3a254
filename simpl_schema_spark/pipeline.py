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
from .compiler.compile import compile_violations
from .compiler.memo import compiled
from .compiler.rules import stringify, token_name, violation
from .errors import ErrorTypes
from .schema.schema import SimpleSchema
from .validation import _attach_violations

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
    cleaned columns + a ``violations`` column (doc validators included, run
    on the cleaned document). Single pass, no shuffle.

    The cleaning projection and the patched forest both come from the
    compile cache (``compiler/memo.py``)."""
    cleaned, cleaner = clean_with_info(
        df, schema, keep_originals_of_converted=True, **clean_opts
    )
    converted = tuple((k, t.simpleString()) for k, t in cleaner.converted.items())
    origs = [f"__orig_{k}" for k in cleaner.converted]

    def build() -> Column:
        rule_schema = T.StructType([f for f in cleaned.schema.fields if f.name not in origs])
        viols = compile_violations(
            schema, rule_schema, keys=keys, ignore=ignore, extra_key_policy=extra_key_policy
        )
        for key, orig_dtype in cleaner.converted.items():
            orig = F.col(f"__orig_{key}")
            alts = schema.resolved_alternatives(key)
            data_type = token_name(alts[-1].get("type")) if alts else "String"
            conv_failed = orig.isNotNull() & F.col(key).isNull()
            # F.filter calls the lambda at once, so it reads this key
            patched = F.concat(
                F.filter(viols, lambda v: v.getField("name") != F.lit(key)),
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
        return viols

    col = compiled(
        schema, "clean_and_validate", cleaned.schema.simpleString(),
        (keys, ignore, extra_key_policy, converted), build,
    )
    return _attach_violations(cleaned, schema, col, violations_col, drop=origs)
