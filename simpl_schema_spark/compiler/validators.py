"""The engine's one Python boundary: every Python validator, document
validator and opaque autoValue runs in an Arrow UDF built by
:func:`arrow_udf`, and reads its row through a :class:`FieldContext`.

Custom validators run after the built-in rules of a key, in the reference's
order: the key's ``custom``, then schema-level, then global validators
(validateField.ts:192-226, SimpleSchema.ts:825-827,1059-1061).
``@spark_rule`` validators compile into the projection; Python ones ride
the UDFs built here from per-row functions:

- :func:`value_udf` — one validator on one value per row.
- :func:`item_udf` — one validator on every item of an array-item key
  (``a.$.b.$.c``), run over the whole outer array, its error types nested
  one list level per array level.

The key traversal (``compile.RuleCompiler``) puts both inline in the
forest, for typed tables and JSON documents alike; each mode ships the
value (a typed column, or a JSON token's text) through its own shipping
function.  Modifier rows keep a chain of their own over the row's token:
:func:`token_custom_rules` (masked by the row's generic key) and, for
``$each`` elements, :func:`token_item_rules`, which merges the expression
and Python violations in one UDF over the whole array, since a Python
UDF result cannot be referenced inside a higher-order-function lambda.

Document validators (``validation``), autoValues (``cleaning``) and
modifier autoValues (``modifiers``) pass their own per-row functions to
:func:`arrow_udf`.
"""

from __future__ import annotations

import inspect
import json
from dataclasses import dataclass
from functools import partial
from typing import Any, Callable, Iterable, Optional

import pandas as pd

from pyspark.sql import Column, functions as F, types as T

from ..errors import VIOLATION_FIELDS, VIOLATION_SCHEMA
from .rules import TokenView, check, first, null_violation, value_error, violation

__all__ = [
    "FieldContext",
    "RuleContext",
    "arrow_udf",
    "array_levels",
    "spark_rule",
    "value_udf",
    "item_udf",
    "walk_items",
    "token_custom_rules",
    "token_item_rules",
]


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


class FieldContext:
    """Per-row context of a Python validator or autoValue: the reference's
    ValidatorContext (src/types.ts:230-240) and AutoValueRunner context
    (src/clean/AutoValueRunner.ts:42-147).

    ``row`` is a plain dict of the document: its columns (nested structs
    as dicts), a parsed JSON document, or a modifier document's decoded
    value entries by key.  ``is_set`` is the value being non-NULL unless
    given (a modifier key ``$set`` to null is set); ``operator`` is the
    modifier operator (None outside modifiers) and ``is_upsert`` the
    document's upsert flag.

    An autoValue returns :class:`UNCHANGED` to leave the value as is (the
    reference's ``return undefined``; Python's bare ``return`` gives None,
    which SETS null like the reference's ``return null``,
    AutoValueRunner.ts:146), and calls :meth:`unset` to remove it.
    """

    class UNCHANGED:
        """Sentinel: a class, so its identity survives pickling to executors."""

    __slots__ = ("key", "value", "row", "is_set", "operator", "is_upsert", "unset_called")

    def __init__(self, key: str, value: Any, row: dict, *, is_set: Optional[bool] = None,
                 operator: Optional[str] = None, is_upsert: bool = False) -> None:
        self.key = key
        self.value = value
        self.row = row
        self.is_set = value is not None if is_set is None else is_set
        self.operator = operator
        self.is_upsert = is_upsert
        self.unset_called = False

    def unset(self) -> None:
        self.unset_called = True

    @staticmethod
    def get(obj: Any, path: str) -> Any:
        """``obj``'s value at the dotted ``path`` ('' is ``obj``) through
        dicts and Rows; None past a missing step."""
        for seg in path.split(".") if path else ():
            if obj is None:
                return None
            obj = obj.get(seg) if isinstance(obj, dict) else getattr(obj, seg, None)
        return obj

    def field(self, path: str) -> Any:
        """Value of any key of the document (this.field()).  A dotted key
        of the row (a declared context field, a modifier entry) holds the
        value at its path: the longest one on ``path`` is read into."""
        head, rest = path, ""
        while head:
            if head in self.row:
                return self.get(self.row[head], rest)
            head, _, seg = head.rpartition(".")
            rest = f"{seg}.{rest}" if rest else seg
        return self.get(self.row, path)

    def sibling_field(self, name: str) -> Any:
        parent, _, _ = self.key.rpartition(".")
        return self.field(f"{parent}.{name}" if parent else name)

    def parent_field(self) -> Any:
        """Value of the containing object (this.parentField()); None at
        top level, where the reference reports an unset field."""
        parent, _, _ = self.key.rpartition(".")
        return self.field(parent) if parent else None


def arrow_udf(per_batch: Callable[..., Iterable], return_type: T.DataType):
    """The engine's one Arrow UDF.  ``per_batch(*columns)`` gets each
    argument column of a batch as a sequence of plain values (a struct
    column as dicts) and returns the batch's results in row order; a
    per-row ``fn`` ships as ``partial(map, fn)``.  A struct result ships
    in a one-item array: a pandas UDF returns a struct column as a
    DataFrame, which has no NULL row."""
    struct = isinstance(return_type, T.StructType)

    def _apply(*cols: pd.Series) -> pd.Series:
        args = [c.to_dict("records") if isinstance(c, pd.DataFrame) else c for c in cols]
        out = per_batch(*args)
        if struct:
            out = (None if r is None else [r] for r in out)
        return pd.Series(list(out), dtype=object)

    udf = F.pandas_udf(_apply, T.ArrayType(return_type) if struct else return_type)
    return (lambda *cols: udf(*cols)[0]) if struct else udf


class SKIP:
    """Sentinel value: the validator does not run for the row (its result
    is NULL); a class, so its identity survives pickling to executors."""


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


def value_udf(fn: Callable, key: str, unpack: Callable[..., tuple[Any, dict]]):
    """Arrow UDF ``(*inputs) -> error type`` running one Python validator
    per row; ``unpack(*inputs)`` gives the row's ``(value, context row)``,
    value :class:`SKIP` where the validator must not run.  A ``vectorized``
    validator without context gets the batch's values as one Series."""
    wants = wants_context(fn)

    def run(*inputs):
        v, row = unpack(*inputs)
        if v is SKIP:
            return None
        return fn(v, FieldContext(key, v, row)) if wants else fn(v)

    def run_batch(*cols):
        vals = [unpack(*inputs)[0] for inputs in zip(*cols)]
        kept = [v is not SKIP for v in vals]
        res = fn(pd.Series([v if k else None for v, k in zip(vals, kept)], dtype=object))
        return [r if k else None for r, k in zip(res, kept)]

    vectorized = getattr(fn, "vectorized", False) and not wants
    return arrow_udf(run_batch if vectorized else partial(map, run), T.StringType())


def array_levels(key: str) -> tuple[str, list[str]]:
    """``a.$.b.$.c`` → ``("a", ["b", "c"])``: the outer array path and the
    per-level subpaths (last entry = leaf path inside the innermost
    element, '' when the element itself is the value).  A key under no
    array gives ``(key, [])``."""
    segments = key.split(".$")
    return segments[0], [s.lstrip(".") for s in segments[1:]]


def walk_items(arr: Any, levels: list[str], leaf: Callable[[Any, str], Any],
               rebuild: Optional[Callable[[Any, str, Any], Any]] = None) -> Any:
    """``leaf(element, path)`` at every innermost element of the nested
    array ``arr`` (None, or a value that is no array, stays None);
    ``levels[i]`` is the path from a level ``i`` element to the next
    array, the last one to the value.  Returns
    the leaf results nested like the arrays, or with ``rebuild(element,
    path, inner)`` each outer element rebuilt around its new inner array
    (an element without one is kept)."""

    def walk(arr, level):
        if isinstance(arr, (str, bytes, dict)) or not hasattr(arr, "__len__"):
            return None
        path = levels[level]
        if level == len(levels) - 1:
            return [leaf(el, path) for el in arr]
        out = []
        for el in arr:
            inner = FieldContext.get(el, path)
            res = None if inner is None else walk(inner, level + 1)
            out.append(res if rebuild is None else el if inner is None else rebuild(el, path, res))
        return out

    return walk(arr, 0)


def item_udf(fn: Callable, key: str, levels: list[str], unpack: Callable[..., tuple[Any, dict]]):
    """Arrow UDF over the WHOLE outer array of an array-item key: the error
    type of each item, nested one list level per array level of ``key``,
    which the compiler zips into its lambdas.  ``unpack`` gives the row's
    ``(array, context row)``; a NULL array gives NULL."""
    wants = wants_context(fn)

    def run(*inputs):
        arr, row = unpack(*inputs)

        def leaf(el, path):
            v = FieldContext.get(el, path)
            return fn(v, FieldContext(key, v, row)) if wants else fn(v)

        return walk_items(arr, levels, leaf)

    out_t: T.DataType = T.StringType()
    for _ in levels:
        out_t = T.ArrayType(out_t)
    return arrow_udf(partial(map, run), out_t)


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
            decode_row = ctx[1] if ctx else None

            def unpack(tok, keep, ctx_item=None, decode_row=decode_row):
                row = {} if decode_row is None else decode_row(ctx_item)
                return (decode_token(tok) if keep else SKIP), row

            udf = value_udf(fn, key, unpack)
            args = [view.json, F.lit(True) if mask is None else mask]
            err_type = udf(*args, *([ctx[0]] if ctx else []))
        out.append(check(err_type.isNotNull(), violation(name, err_type, value=view.display)))
    return out


def token_item_rules(
    elems: Column,
    name: Column,
    key: str,
    alts: list[dict],
    fns: list[Callable],
    *,
    op: Optional[Column] = None,
    context: Optional[tuple[Column, Callable[[Any], dict]]] = None,
) -> Column:
    """Violations of the elements ``elems`` (``array<variant>``) of a
    ``$each`` array under the item key ``key``, each named ``name``.  Per
    element the built-in rules and ``@spark_rule`` fns
    give one coalesced error inside one ``transform`` lambda; where they
    give none, the first Python fn's error, from one Arrow UDF over the
    whole array.  ``op`` is the modifier operator of the row and
    ``context`` the (column, row decoder) pair for two-argument fns."""
    spark_fns = [fn for fn in fns if is_spark_rule(fn)]
    py_fns = [fn for fn in fns if not is_spark_rule(fn)]

    def elem_err(e: Column, elem_name: Column) -> Column:
        ev = TokenView(e, op)
        err = first(
            [value_error(ev, elem_name, alts)]
            + token_custom_rules(ev, elem_name, key, alts, spark_fns)
        )
        return null_violation() if err is None else err

    expr_arr = F.transform(elems, lambda e: elem_err(e, name))
    if not py_fns:
        return F.filter(expr_arr, lambda x: x.isNotNull())

    wants = [wants_context(fn) for fn in py_fns]
    decode_row = context[1] if context is not None and any(wants) else None
    field_names = [nm for nm, _ in VIOLATION_FIELDS]

    def run(expr_viols, tokens, name, ctx=None):
        if tokens is None:
            return []
        row = {} if decode_row is None else decode_row(ctx)
        out = []
        for i, tok in enumerate(tokens):
            ev = expr_viols[i] if expr_viols is not None and i < len(expr_viols) else None
            if ev is not None and ev.get("type") is not None:
                out.append(ev)
                continue
            val = decode_token(tok)
            for fn, w in zip(py_fns, wants):
                et = fn(val, FieldContext(key, val, row)) if w else fn(val)
                if et is not None:
                    viol = dict.fromkeys(field_names)
                    viol.update(name=name, type=et, value=display_token(tok))
                    out.append(viol)
                    break
        return out

    udf = arrow_udf(partial(map, run), T.ArrayType(VIOLATION_SCHEMA))
    ctx_col = [context[0]] if decode_row is not None else []
    return udf(expr_arr, F.transform(elems, lambda e: F.to_json(e)), name, *ctx_col)
