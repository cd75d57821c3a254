"""clean() — normalization pipeline as ONE Spark projection.

Reproduces the reference's cleaning semantics columnar-ly
(``/root/reference/src/clean.ts:29-190``,
``src/clean/convertToProperType.ts:11-65``), per-node order preserved:

    filter → autoConvert → trimStrings → removeEmptyStrings → autoValues

Default options mirror ``src/SimpleSchema.ts:108-120``: ``autoConvert=True,
filter=True, removeEmptyStrings=True, trimStrings=True, getAutoValues=True,
removeNullsFromArrays=False``.

Columnar adaptations (documented deviations, all asserted in tests):

- "remove key" becomes "set NULL" for scalars (a fixed-schema column can't be
  absent per-row); a column/struct-field *filtered out by the schema* is
  dropped at compile time (same observable effect: the key is gone for every
  row, matching clean.ts:80-94).
- autoConvert may change a column's type (string→double etc.). Rows that fail
  to convert become NULL in the converted column; the composed
  clean-then-validate pipeline (see :func:`clean_and_validate` in
  ``pipeline.py``) still reports ``expectedType`` with the ORIGINAL value,
  preserving the reference's "leave it; will fail validation" behavior
  (convertToProperType.ts:33).
- ``defaultValue``/autoValue "isSet" can't distinguish explicit null from
  missing (JSON null vs absent); null counts as unset.

JS parity details, the same for typed columns and for modifier-row JSON
tokens (``modifiers.clean_modifier_table``): one pipeline (:class:`_Cleaner`)
and one conversion table (:data:`CONVERSIONS`) over the two views of
``compiler/rules.py``:

- trim uses the JS WhiteSpace ∪ LineTerminator set (TAB VT FF SP NBSP ZWNBSP
  Zs LF CR LS PS), NOT Spark's ASCII-space ``F.trim`` — byte-identical text
  parity requires this (BASELINE.json per-row invariant).
- number→string renders like JS ``toString`` ('1', not '1.0'); date→string
  like ``toISOString`` (``2024-01-02T03:04:05.000Z``).
- string→number uses ``Number(value)`` semantics for nonempty strings
  (whitespace-only → 0; NaN is not converted).
- string 'true'/'false' (case-insensitive) → boolean; number → ``value != 0``.
- ISO string or epoch-ms number → date; a scalar for an Array key → ``[v]``.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Callable, Union

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .schema.schema import SimpleSchema
from .schema.types import (
    AnyType,
    ArrayType,
    Boolean,
    DateType,
    Integer,
    Number,
    ObjectType,
    String,
    TypeToken,
)
from .compiler.rules import (
    ARRAY,
    BOOLEAN,
    DATE,
    DTYPE_OF,
    FRACTIONAL_TYPES,
    KIND_OF,
    NUMBER,
    STRING,
    Case,
    ColumnView,
    TokenView,
    iso_string,
    js_number_to_string,
    parse_date_string,
)

__all__ = ["clean", "spark_auto_value", "js_trim", "JS_WS_CLASS", "js_number_to_string"]

#: JS WhiteSpace ∪ LineTerminator (ECMA-262 11.2/11.3): TAB VT FF SP NBSP
#: ZWNBSP + Unicode Zs + LF CR LS PS.  Java \s covers TAB LF VT FF CR SP.
JS_WS_CLASS = (
    "[\\s\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000\\uFEFF]"
)


def js_trim(col: Column) -> Column:
    """String.prototype.trim parity (strips the JS whitespace set).

    Single-pass anchored alternation — one regex traversal per string, not
    two; at 100 TB the trim is in the per-row hot loop.
    """
    return F.regexp_replace(col, f"^{JS_WS_CLASS}+|{JS_WS_CLASS}+$", "")


def spark_auto_value(fn: Callable) -> Callable:
    """Mark an autoValue as a Spark-expression function.

    ``fn(ctx)`` receives an :class:`AutoValueContext` and returns a Column
    (the new value) — the vectorized fast path for the reference's autoValue
    functions (src/clean/AutoValueRunner.ts:42-147).
    """
    fn._is_spark_auto_value = True  # type: ignore[attr-defined]
    return fn


class AutoValueContext:
    """Compile-time context for @spark_auto_value functions."""

    def __init__(self, key: str, value: Column, df: DataFrame, operator=None):
        self.key = key
        self.value = value
        self.operator = operator
        self.is_upsert = False
        self._df = df

    def field(self, name: str) -> Column:
        return F.col(name.replace(".", "."))

    def sibling_field(self, name: str) -> Column:
        parts = self.key.split(".")
        parts[-1] = name
        return F.col(".".join(parts))


#: reference defaults (clean.ts:64-77)
_CLEAN_DEFAULTS = {
    "filter": True,
    "auto_convert": True,
    "remove_empty_strings": True,
    "trim_strings": True,
    "get_auto_values": True,
    "remove_nulls_from_arrays": False,
}


def resolve_clean_options(schema: SimpleSchema, **kwargs: "bool | None") -> dict[str, bool]:
    """Per-call kwargs (non-None) → schema constructor ``clean_options``
    → reference defaults (SimpleSchema.ts:155-160)."""
    return {
        name: (
            bool(kwargs[name])
            if kwargs.get(name) is not None
            else schema.clean_option(name, dflt)
        )
        for name, dflt in _CLEAN_DEFAULTS.items()
    }


def clean(
    df: DataFrame,
    schema: SimpleSchema,
    *,
    filter: bool | None = None,  # noqa: A002
    auto_convert: bool | None = None,
    remove_empty_strings: bool | None = None,
    trim_strings: bool | None = None,
    get_auto_values: bool | None = None,
    remove_nulls_from_arrays: bool | None = None,
) -> DataFrame:
    """Return the cleaned DataFrame (one projection, no shuffle).

    ``None`` kwargs fall back to the schema's constructor ``clean_options``
    (merged across extend — SimpleSchema.ts:155-160,705), then the
    reference defaults."""
    out, _ = clean_with_info(
        df,
        schema,
        filter=filter,
        auto_convert=auto_convert,
        remove_empty_strings=remove_empty_strings,
        trim_strings=trim_strings,
        get_auto_values=get_auto_values,
        remove_nulls_from_arrays=remove_nulls_from_arrays,
    )
    return out


def clean_with_info(
    df: DataFrame,
    schema: SimpleSchema,
    *,
    filter: bool | None = None,  # noqa: A002
    auto_convert: bool | None = None,
    remove_empty_strings: bool | None = None,
    trim_strings: bool | None = None,
    get_auto_values: bool | None = None,
    remove_nulls_from_arrays: bool | None = None,
    keep_originals_of_converted: bool = False,
) -> "tuple[DataFrame, _Cleaner]":
    """clean() + the compiler info (converted keys) for the composed
    clean-then-validate pipeline.  With ``keep_originals_of_converted`` the
    output also carries ``__orig_<key>`` copies of auto-converted columns so
    the validator can report original offending values."""
    opts = resolve_clean_options(
        schema,
        filter=filter,
        auto_convert=auto_convert,
        remove_empty_strings=remove_empty_strings,
        trim_strings=trim_strings,
        get_auto_values=get_auto_values,
        remove_nulls_from_arrays=remove_nulls_from_arrays,
    )
    get_auto_values = opts.pop("get_auto_values")
    cleaner = _Cleaner(schema, **opts)
    out_cols: list[Column] = []
    for f in df.schema.fields:
        generic = f.name
        if opts["filter"] and not schema.allows_key(generic):
            continue  # filter: drop unknown columns (clean.ts:80-94)
        expr = cleaner.clean_value(generic, ColumnView(F.col(f.name), f.dataType))
        out_cols.append(expr.alias(f.name))
    if keep_originals_of_converted:
        for key in cleaner.converted:
            out_cols.append(F.col(key).alias(f"__orig_{key}"))
    result = df.select(*out_cols)

    if get_auto_values:
        result = _apply_auto_values(result, schema)
    return result, cleaner


def _number_from_string(s: Column, dtype: T.DataType) -> Column:
    """Number(value) of a nonempty string; whitespace-only gives 0 and NaN
    no conversion (NULL)."""
    n = s.try_cast("double")
    zero = F.when(js_trim(s) == "", F.lit(0.0))
    return F.when(F.length(s) > 0, F.coalesce(F.when(~F.isnan(n), n), zero))


#: convertToProperType.ts:11-65, for both views: target type → source kind
#: → ``(value, dtype) -> converted`` (of the target's kind; NULL where it
#: fails).  Arrays, objects and null never convert; a scalar for an Array
#: key is wrapped ``[v]`` as it was (the view's ``wrap``).  Dates render as
#: ISO-8601 strings (Date#toISOString).
CONVERSIONS: dict[TypeToken, dict[str, Callable[[Column, T.DataType], Column]]] = {
    String: {
        NUMBER: js_number_to_string,
        BOOLEAN: lambda b, t: b.cast("string"),
        DATE: iso_string,
    },
    Number: {STRING: _number_from_string},
    Integer: {STRING: _number_from_string},
    Boolean: {
        STRING: lambda s, t: F.when(F.lower(s) == "true", F.lit(True)).when(
            F.lower(s) == "false", F.lit(False)
        ),
        # NaN never converts
        NUMBER: lambda n, t: F.when(~F.isnan(n), n != 0) if isinstance(t, FRACTIONAL_TYPES) else n != 0,
    },
    DateType: {
        STRING: lambda s, t: parse_date_string(s),
        # epoch milliseconds (convertToProperType.ts:46)
        NUMBER: lambda n, t: F.timestamp_millis(n.cast("long")),
    },
}

View = Union[ColumnView, TokenView]


class _Cleaner:
    """clean.ts's per-value pipeline, written once over a view
    (``compiler/rules.py``): a typed column or a JSON token.  Per value:
    blackbox/Any pass through; objects rebuild their children
    (undeclared ones dropped under ``filter``); arrays clean each item;
    scalars run autoConvert (toward the first type, only when no
    alternative matches), then trim (unless ``trim: false``), then the
    empty-string removal."""

    def __init__(self, schema: SimpleSchema, **opts: bool) -> None:
        self.schema = schema
        self.merged = schema.merged_schema()
        self.opts = opts
        #: top-level keys whose type was auto-converted: generic -> orig dtype
        self.converted: dict[str, T.DataType] = {}

    def alternatives(self, generic: str) -> list[dict]:
        """The key's alternatives; none when it is undeclared, blackbox or
        Any (clean.ts never cleans inside those)."""
        alts = self.schema.resolved_alternatives(generic)
        if any(a.get("blackbox") is True or a.get("type") is AnyType for a in alts):
            return []
        return alts

    def clean_value(self, generic: str, v: View) -> Column:
        alts = self.alternatives(generic)
        if not alts:
            return v.value
        first = alts[0].get("type")
        branches = []
        if v.rebuilds_objects and (first is ObjectType or isinstance(first, SimpleSchema)):
            branches.append((v.is_object, lambda: self._clean_object(generic, v)))
        item = f"{generic}.$"
        if any(a.get("type") is ArrayType for a in alts) and (
            self.alternatives(item) or self.opts["remove_nulls_from_arrays"]
        ):
            branches.append((v.is_array, lambda: v.rebuild_array(
                lambda e: self.clean_value(item, e), self.opts["remove_nulls_from_arrays"]
            )))
        return v.choose(branches, lambda: self._clean_scalar(generic, v, alts))

    def _clean_object(self, generic: str, v: View) -> Column:
        prefix = f"{generic}."
        declared = sorted({k[len(prefix):].split(".")[0] for k in self.merged if k.startswith(prefix)})
        children = []
        for name in v.field_names(declared):
            child = prefix + name
            if self.opts["filter"] and not self.schema.allows_key(child):
                continue
            children.append((name, self.clean_value(child, v.field(name))))
        return v.rebuild_object(children)

    def _clean_scalar(self, generic: str, v: View, alts: list[dict]) -> Column:
        cases = v.scalars
        target = alts[0].get("type")
        if self.opts["auto_convert"] and (target in CONVERSIONS or target is ArrayType):
            # oneOf: convert only when the value matches NO alternative
            # (clean.ts:101 gates on !isValueTypeValid over all of them)
            conforms = _conforms_any(v, alts) if len(alts) > 1 else False
            if conforms is not True:
                cases = [n for c in cases for n in self._convert(generic, v, c, target, conforms)]
        # strings as given (converted ones are never padded nor empty)
        trim = self.opts["trim_strings"] and not any(a.get("trim") is False for a in alts)
        return v.emit([
            self._clean_string(v, c, trim) if c.kind == STRING and not c.changed else c
            for c in cases
        ])

    def _convert(self, generic: str, v: View, c: Case, target: Any, conforms: Any) -> list[Case]:
        convert = v.wrap if target is ArrayType else CONVERSIONS[target].get(c.kind)
        if convert is None:
            return [c]
        if "." not in generic and target is not ArrayType:
            self.converted[generic] = v.dtype
        kind = KIND_OF.get(target, ARRAY)
        return v.converted(c, Case(c.cond, kind, convert(c.col, c.dtype), DTYPE_OF.get(kind), True), conforms)

    def _clean_string(self, v: View, c: Case, trim: bool) -> Case:
        if trim:
            c = c._replace(col=F.when(v.value.isNotNull(), js_trim(c.col)), changed=True)
        if self.opts["remove_empty_strings"]:
            c = c._replace(col=F.nullif(c.col, F.lit("")), changed=True)
        return c


def _conforms_any(v: View, alts: list[dict]) -> "Column | bool":
    """Does the value match any alternative's type (isValueTypeValid)?"""
    oks = []
    for a in alts:
        t = a.get("type")
        ok = v.conforms(t if isinstance(t, TypeToken) else ObjectType)
        if ok is True:
            return True
        if ok is not False:
            oks.append(ok)
    return reduce(lambda x, y: x | y, oks) if oks else False


class PythonAutoValueContext:
    """Per-row context for opaque Python autoValue functions (the pandas-UDF
    fallback) — mirrors the reference's AutoValueRunner context
    (src/clean/AutoValueRunner.ts:42-147): ``value``, ``is_set``,
    ``field(path)``, ``sibling_field(name)``, ``unset()``.

    Return ``ctx.UNCHANGED`` to leave the value as is (the analog of the
    reference's ``return undefined``; Python's bare ``return`` yields None,
    so the sentinel must be explicit); return any other value — INCLUDING
    ``None``, which sets SQL NULL like the reference's ``return null``
    (AutoValueRunner.ts:146) — to set it; call ``ctx.unset()`` to remove
    the value (also NULL in columnar form).
    """

    class UNCHANGED:
        """Sentinel: a CLASS (not an instance) so pickling the autoValue
        closure to executors preserves identity — classes unpickle by
        module reference, so ``res is ctx.UNCHANGED`` holds on workers."""

    __slots__ = ("key", "value", "row", "_unset")

    #: doc-mode analog of the reference's ``this.operator`` (null outside
    #: modifiers, AutoValueRunner.ts:74) — the modifier-mode context
    #: carries the real operator
    operator: "str | None" = None

    def __init__(self, key: str, value: Any, row: dict):
        self.key = key
        self.value = value
        self.row = row
        self._unset = False

    @property
    def is_set(self) -> bool:
        return self.value is not None

    def unset(self) -> None:
        self._unset = True

    def parent_field(self) -> Any:
        """Value of the containing object (this.parentField()); None at
        top level, where the reference reports an unset field."""
        parent, _, _ = self.key.rpartition(".")
        return self.field(parent) if parent else None

    def field(self, path: str) -> Any:
        if path in self.row:
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


def _apply_python_auto_value(df: DataFrame, key: str, fn: Callable) -> DataFrame:
    """Opaque Python autoValue via ONE Arrow-batched pandas UDF (slow path;
    prefer @spark_auto_value expressions).  The UDF returns the column's
    existing Spark type.  Deeply nested context/value columns take the
    arrowsafe JSON detour (see arrowsafe.ctx_safe_struct)."""
    import json as _json

    import pandas as pd

    from .arrowsafe import ctx_safe_struct, decode_ctx_row, needs_arrow_guard

    dtype = df.schema
    for seg in key.split("."):
        dtype = dtype[seg].dataType if isinstance(dtype, T.StructType) else dtype
    declared = getattr(fn, "context_fields", None)
    ctx_cols = list(declared) if declared else list(df.columns)
    ctx_cols = [c for c in ctx_cols if not c.startswith("__")]
    decode_value = needs_arrow_guard(dtype)

    ctx_struct, jsonified = ctx_safe_struct(df.schema, ctx_cols)

    def _apply(values, nulls, ctx_rows):
        out = []
        for v, is_null, row in zip(values, nulls, ctx_rows.to_dict("records")):
            if is_null:
                # Arrow renders a NULL in an integral column as float NaN —
                # the JVM-side flag is the truth for is_set
                v = None
            elif decode_value and isinstance(v, str):
                v = _json.loads(v)
            ctx = PythonAutoValueContext(
                key, v, decode_ctx_row(row, jsonified)
            )
            res = fn(ctx)
            if ctx._unset:
                # this.unset() → value removed (NULL in columnar form)
                out.append(None)
            elif res is PythonAutoValueContext.UNCHANGED:
                # reference `return undefined` = no change; Python has no
                # undefined, so the sentinel is explicit — a bare `return`
                # (None) SETS null, matching the reference's `return null`
                out.append(v)
            else:
                out.append(res)
        return pd.Series(out, dtype=object)

    udf = F.pandas_udf(_apply, dtype)
    if decode_value:
        return _set_path(
            df, key, lambda c: udf(F.to_json(c), c.isNull(), ctx_struct)
        )
    return _set_path(df, key, lambda c: udf(c, c.isNull(), ctx_struct))


def _array_levels(key: str) -> tuple[str, list[str]]:
    """``a.$.b.$.c`` → ``("a", ["b", "c"])``: the outer array path and the
    per-level subpaths (last entry = leaf path inside the innermost
    element, '' when the element itself is the value)."""
    segments = key.split(".$")
    return segments[0], [s.lstrip(".") for s in segments[1:]]


def _array_item_auto_value(df: DataFrame, key: str, fn: Callable) -> DataFrame:
    """Array-position autoValue write-back (getPositionsForAutoValue.ts:43-148)
    for @spark_auto_value expression fns on ``arr.$`` / ``arr.$.field`` /
    nested ``arr.$.sub.$.…`` keys at ARBITRARY depth (matching the
    reference's unbounded recursion): one ``F.transform`` per array level
    rebuilds each element (structs rebuilt via withField)."""
    head, mids = _array_levels(key)
    top = head.split(".")[0]
    if top not in df.columns:
        return df

    def leaf_item(x: Column, leaf: str) -> Column:
        ctx = AutoValueContext(key, x.getField(leaf) if leaf else x, df)
        new_val = fn(ctx)
        if new_val is None:
            return x
        return x.withField(leaf, new_val) if leaf else new_val

    def build(x: Column, level: int) -> Column:
        # mids[level] = path within this level's element: the leaf path at
        # the innermost level, otherwise the path to the next array.
        # Single-param transform lambdas only (the two-param form binds the
        # element INDEX as the second argument).
        sub = mids[level]
        if level == len(mids) - 1:
            return leaf_item(x, sub)
        inner = x.getField(sub) if sub else x
        # single-param lambda closing over this call frame's `level` — a
        # default-arg binding would make the lambda two-parameter and Spark
        # would pass the element INDEX as the second argument
        rebuilt = F.when(
            inner.isNotNull(),
            F.transform(inner, lambda y: build(y, level + 1)),
        )
        return x.withField(sub, rebuilt) if sub else rebuilt

    return _set_path(
        df,
        head,
        lambda arr: F.when(
            arr.isNotNull(), F.transform(arr, lambda x: build(x, 0))
        ),
    )


def _apply_python_array_auto_value(
    df: DataFrame, key: str, fn: Callable
) -> DataFrame:
    """Opaque Python autoValue on array-item keys (nested to arbitrary
    depth): ONE Arrow-batched UDF takes the whole OUTER array column and
    returns the rebuilt array — per-leaf Python execution, zero
    explode/shuffle, same shape as the array-item validator path."""
    head, mids = _array_levels(key)
    top = head.split(".")[0]
    if top not in df.columns:
        return df
    import pandas as pd

    arr_type = df.schema
    for seg in head.split("."):
        arr_type = arr_type[seg].dataType if isinstance(arr_type, T.StructType) else arr_type
    declared = getattr(fn, "context_fields", None)
    ctx_cols = list(declared) if declared else list(df.columns)
    ctx_cols = [c for c in ctx_cols if not c.startswith("__")]

    def get_sub(el, path):
        if not path:
            return el
        cur = el
        for seg in path.split("."):
            if cur is None:
                return None
            cur = cur.get(seg) if isinstance(cur, dict) else getattr(cur, seg, None)
        return cur

    def set_sub(el, path, val):
        if not path:
            return val
        d = dict(el) if isinstance(el, dict) else el.asDict(recursive=True)
        segs = path.split(".")
        cur = d
        for seg in segs[:-1]:
            nxt = cur.get(seg)
            nxt = dict(nxt) if isinstance(nxt, dict) else {}
            cur[seg] = nxt
            cur = nxt
        cur[segs[-1]] = val
        return d

    from .arrowsafe import arrow_safe_array, ctx_safe_struct, decode_ctx_row, needs_arrow_guard

    ctx_struct, jsonified = ctx_safe_struct(df.schema, ctx_cols)

    def run_leaf(el, leaf, row):
        # NULL element with a field path: nothing to write into — leave it
        # null, matching the expression path (withField on a null struct)
        if el is None and leaf:
            return None
        v = get_sub(el, leaf)
        ctx = PythonAutoValueContext(key, v, row)
        res = fn(ctx)
        if ctx._unset:
            return set_sub(el, leaf, None)
        if res is PythonAutoValueContext.UNCHANGED:
            return el
        return set_sub(el, leaf, res)

    def run_arr(arr, row, level):
        # mids[level]: leaf path at the innermost level, else the path from
        # this level's element to the next array
        if arr is None:
            return None
        if level == len(mids) - 1:
            return [run_leaf(el, mids[level], row) for el in arr]
        out = []
        for el in arr:
            inner = get_sub(el, mids[level])
            if inner is None:
                out.append(el)
                continue
            out.append(set_sub(el, mids[level], run_arr(inner, row, level + 1)))
        return out

    if needs_arrow_guard(arr_type):
        # see arrowsafe: null/empty top-level arrays of deeply nested
        # types segfault the Arrow input conversion — ship [null] plus a
        # dummy flag (the fn must never see the dummy element) and gate
        # the result back to the original null/empty value
        def _apply_g(dummies, arrs, ctx_rows):
            rows = ctx_rows.to_dict("records")
            return pd.Series(
                [None if d else run_arr(a, decode_ctx_row(r, jsonified), 0)
                 for d, a, r in zip(dummies, arrs, rows)],
                dtype=object,
            )

        udf_g = F.pandas_udf(_apply_g, arr_type)
        return _set_path(
            df,
            head,
            lambda arr: F.when(
                F.size(arr) > 0,
                udf_g(
                    F.coalesce(F.size(arr) <= 0, F.lit(True)),
                    arrow_safe_array(arr, arr_type),
                    ctx_struct,
                ),
            ).otherwise(arr),
        )

    def _apply(arrs, ctx_rows):
        rows = ctx_rows.to_dict("records")
        return pd.Series(
            [run_arr(a, decode_ctx_row(r, jsonified), 0)
             for a, r in zip(arrs, rows)],
            dtype=object,
        )

    udf = F.pandas_udf(_apply, arr_type)
    return _set_path(df, head, lambda arr: udf(arr, ctx_struct))


def _apply_auto_values(df: DataFrame, schema: SimpleSchema) -> DataFrame:
    """defaultValue + autoValue functions, parents-first by dot-depth,
    stable within depth (src/clean/setAutoValues.ts:15-36).

    Dispatch per fn: @spark_auto_value → Column expression (fast path,
    fused into the projection); array-position keys → F.transform
    write-back; anything else → Arrow-batched pandas UDF with a per-row
    context (field/sibling_field/unset)."""
    avs = schema.auto_value_functions()
    avs.sort(key=lambda kv: kv[0].count("."))
    for key, fn in avs:
        if ".$" in key:
            if getattr(fn, "_is_spark_auto_value", False):
                df = _array_item_auto_value(df, key, fn)
            elif getattr(fn, "is_default", False):
                default = getattr(fn, "default_value", None)

                @spark_auto_value
                def _fill(ctx, d=default):
                    return F.coalesce(ctx.value, F.lit(d))

                df = _array_item_auto_value(df, key, _fill)
            else:
                df = _apply_python_array_auto_value(df, key, fn)
            continue
        top = key.split(".")[0]
        if top not in df.columns:
            continue
        if getattr(fn, "is_default", False):
            default = getattr(fn, "default_value", None)
            df = _set_path(df, key, lambda c: F.coalesce(c, F.lit(default)))
        elif getattr(fn, "_is_spark_auto_value", False):
            ctx = AutoValueContext(key, _path_col(df, key), df)
            new_val = fn(ctx)
            if new_val is not None:
                df = _set_path(df, key, lambda c, nv=new_val: nv)
        else:
            df = _apply_python_auto_value(df, key, fn)
    return df


def _path_col(df: DataFrame, key: str) -> Column:
    parts = key.split(".")
    col = F.col(parts[0])
    for p in parts[1:]:
        col = col.getField(p)
    return col


def _set_path(df: DataFrame, key: str, update: Callable[[Column], Column]) -> DataFrame:
    parts = key.split(".")
    if len(parts) == 1:
        return df.withColumn(key, update(F.col(key)))
    top = parts[0]
    rest = ".".join(parts[1:])
    return df.withColumn(top, F.col(top).withField(rest, update(_path_col(df, key))))
