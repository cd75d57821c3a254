"""Custom validators: the Python-validator UDFs of every mode, and the
custom chain of a JSON token shared by modifier rows and JSON documents.

Custom validators run after the built-in rules of a key, in the reference's
order: the key's ``custom``, then schema-level, then global validators
(validateField.ts:192-226, SimpleSchema.ts:825-827,1059-1061).
``@spark_rule`` validators compile into the projection; Python ones ride
Arrow-batched pandas UDFs built here:

- :func:`value_udf` — one value per row (a typed value or a JSON token).
  The value decoder and the context-row source are arguments.
- :func:`item_merge_udf` — per-element merge for JSON arrays (``$each`` and
  JSON-document arrays): Python UDF results cannot be referenced inside
  higher-order-function lambdas, so the merge with the expression
  violations runs in one UDF over the whole array.

(Typed nested arrays keep their own whole-array UDF in ``validation``.)
"""

from __future__ import annotations

import json
from typing import Any, Callable, Optional

import pandas as pd

from pyspark.sql import Column, functions as F, types as T

from ..errors import VIOLATION_FIELDS, VIOLATION_SCHEMA
from .compile import RuleContext, is_spark_rule, wants_context
from .rules import TokenView, check, violation

__all__ = ["FieldContext", "value_udf", "item_merge_udf", "token_custom_rules"]


class FieldContext:
    """Per-row cross-field context for Python custom validators.

    Mirrors the reference's ValidatorContext (src/types.ts:230-240):
    ``value``, ``key``, ``field(path)``, ``sibling_field(name)``, ``is_set``.
    ``row`` is a plain dict of the row's context (nested structs arrive as
    dicts via Arrow).
    """

    __slots__ = ("key", "value", "row")

    def __init__(self, key: str, value: Any, row: dict):
        self.key = key
        self.value = value
        self.row = row

    @property
    def is_set(self) -> bool:
        return self.value is not None

    def field(self, path: str) -> Any:
        if path in self.row:  # declared dotted context_fields ship flat
            return self.row[path]
        cur: Any = self.row
        for seg in path.split("."):
            if cur is None:
                return None
            cur = cur.get(seg) if isinstance(cur, dict) else getattr(cur, seg, None)
        return cur

    def sibling_field(self, name: str) -> Any:
        parent, _, _ = self.key.rpartition(".")
        return self.field(f"{parent}.{name}" if parent else name)


# ------------------------------------------------------------ value decoders
# A decoder maps (raw value, flag) to the validator's input, or SKIP when
# the validator must not run for the row (its result is then NULL).


class SKIP:
    """Sentinel (a class: its identity survives pickling to executors)."""


def decode_token(tok: Optional[str]) -> Any:
    if tok is None:
        return None
    try:
        return json.loads(tok)
    except ValueError:
        return None


def display_token(tok: Optional[str]) -> Optional[str]:
    """Python analog of the JSON display payload: strings unquoted, else
    trimmed; a malformed quoted token stays as written."""
    if tok is None:
        return None
    s = tok.strip()
    if s.startswith('"'):
        v = decode_token(tok)
        return v if isinstance(v, str) else s
    return s


def typed_value(v: Any, is_null: bool) -> Any:
    """Typed column value; the JVM-computed is-null flag guards against
    Arrow rendering a NULL in an integral column as NaN."""
    return None if is_null else v


def json_typed_value(v: Any, is_null: bool) -> Any:
    """Typed value that took the to_json detour (deeply nested types)."""
    return None if is_null else (json.loads(v) if isinstance(v, str) else v)


def token_value(tok: Optional[str], keep: bool) -> Any:
    """JSON token, run only where the row mask holds."""
    return decode_token(tok) if keep else SKIP


def value_udf(
    fn: Callable,
    key: str,
    decode: Callable[[Any, bool], Any],
    context: Optional[Callable[[Any], dict]] = None,
):
    """Arrow UDF ``(values, flags[, contexts]) -> error type`` running one
    Python validator per row.  ``decode(value, flag)`` gives the validator's
    input (or :data:`SKIP`); ``context(item)`` turns one context item into
    the row dict of a two-argument validator's :class:`FieldContext`.  A
    ``vectorized`` validator without context gets the whole decoded Series."""
    vectorized = getattr(fn, "vectorized", False) and context is None

    def _apply(values: pd.Series, flags: pd.Series, *ctx: pd.Series) -> pd.Series:
        vals = [decode(v, f) for v, f in zip(values, flags)]
        if vectorized:
            kept = pd.Series([v is not SKIP for v in vals])
            res = fn(pd.Series([v if k else None for v, k in zip(vals, kept)], dtype=object))
            return res if kept.all() else res.astype(object).where(kept.values, None)
        if ctx:
            items = ctx[0].to_dict("records") if isinstance(ctx[0], pd.DataFrame) else ctx[0]
            rows = [context(i) for i in items]
        else:
            rows = [None] * len(vals)
        return pd.Series(
            [
                None if v is SKIP
                else fn(v, FieldContext(key, v, row)) if context else fn(v)
                for v, row in zip(vals, rows)
            ],
            dtype=object,
        )

    return F.pandas_udf(_apply, T.StringType())


def item_merge_udf(
    fns: list[Callable],
    item_key: str,
    context: Optional[Callable[[Any], dict]] = None,
    indexed: bool = False,
):
    """Arrow UDF ``(expr_violations, tokens, name, contexts) ->
    array<violation>``: per element, the expression violation (built-in +
    ``@spark_rule``, computed JVM-side) wins, else the first Python
    validator returning an error type.  Elements are named ``name.<i>``
    when ``indexed``, else ``name``."""
    wants = [wants_context(fn) for fn in fns]
    field_names = [nm for nm, _ in VIOLATION_FIELDS]

    def run(expr_viols, tokens, name, ctx):
        if tokens is None:
            return []
        row = context(ctx) if context is not None and any(wants) else {}
        out = []
        for i, tok in enumerate(tokens):
            ev = expr_viols[i] if expr_viols is not None and i < len(expr_viols) else None
            if ev is not None and ev.get("type") is not None:
                out.append(ev)
                continue
            val = decode_token(tok)
            for fn, w in zip(fns, wants):
                et = fn(val, FieldContext(item_key, val, row)) if w else fn(val)
                if et is not None:
                    viol = dict.fromkeys(field_names)
                    viol.update(
                        name=f"{name}.{i}" if indexed else name,
                        type=et,
                        value=display_token(tok),
                    )
                    out.append(viol)
                    break
        return out

    def _apply(expr: pd.Series, arrs: pd.Series, names: pd.Series, ctxs: pd.Series) -> pd.Series:
        return pd.Series(
            [run(e, a, n, c) for e, a, n, c in zip(expr, arrs, names, ctxs)], dtype=object
        )

    return F.pandas_udf(_apply, T.ArrayType(VIOLATION_SCHEMA))


# ------------------------------------------------------- JSON-token chain


def token_customs(schema, alts: list[dict]) -> list[Callable]:
    """A key's ``custom`` validators (one per distinct fn across its
    alternatives), then the schema-level and global validators."""
    fns: list[Callable] = []
    for a in alts:
        fn = a.get("custom")
        if fn is not None and all(fn is not c for c in fns):
            fns.append(fn)
    return fns + schema.all_validators()


def token_custom_rules(
    view: TokenView,
    name: Column,
    key: str,
    alts: list[dict],
    fns: list[Callable],
    mask: Optional[Column] = None,
    context: Optional[tuple[Column, Callable[[Any], dict]]] = None,
) -> list[Column]:
    """Ordered custom violations of one JSON token.  ``@spark_rule`` fns get
    :meth:`TokenView.typed`; Python fns run through :func:`value_udf` where
    ``mask`` holds (Spark evaluates a pandas UDF on every row regardless of
    the CASE around its result, so the mask travels into the UDF).
    ``context`` is the (column, row decoder) pair for two-argument fns."""
    out = []
    for fn in fns:
        if is_spark_rule(fn):
            err_type = fn(view.typed(alts), RuleContext(key=key, name=name, definition=alts[0]))
        else:
            ctx = context if wants_context(fn) else None
            udf = value_udf(fn, key, token_value, ctx[1] if ctx else None)
            args = [view.token, F.lit(True) if mask is None else mask]
            err_type = udf(*args, *([ctx[0]] if ctx else []))
        out.append(check(err_type.isNotNull(), violation(name, err_type, value=view.display)))
    return out
