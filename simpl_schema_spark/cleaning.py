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

- trim strips the JS WhiteSpace ∪ LineTerminator set (TAB VT FF SP NBSP
  ZWNBSP Zs LF CR LS PS), NOT only the ASCII space of Spark's default
  ``F.trim`` — byte-identical text parity requires this (BASELINE.json
  per-row invariant).
- number→string renders like JS ``toString`` ('1', not '1.0'); date→string
  like ``toISOString`` (``2024-01-02T03:04:05.000Z``).
- string→number uses ``Number(value)`` semantics for nonempty strings
  (whitespace-only → 0; NaN is not converted).
- string 'true'/'false' (case-insensitive) → boolean; number → ``value != 0``.
- ISO string or epoch-ms number → date; a scalar for an Array key → ``[v]``.
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Any, Callable, Union

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .arrowsafe import arrow_inputs, resolve_dtype
from .compiler.memo import compiled
from .compiler.validators import FieldContext, arrow_udf, walk_items
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

__all__ = ["clean", "spark_auto_value", "js_trim", "JS_WS", "js_number_to_string"]

#: JS WhiteSpace ∪ LineTerminator (ECMA-262 11.2/11.3): TAB LF VT FF CR SP,
#: NBSP, the Unicode Zs spaces, LS PS and ZWNBSP — the set that
#: ``String.prototype.trim`` strips.  Every character is in the BMP.
JS_WS = "".join(map(chr, [
    *range(0x09, 0x0E), 0x20, 0xA0, 0x1680, *range(0x2000, 0x200B),
    0x2028, 0x2029, 0x202F, 0x205F, 0x3000, 0xFEFF,
]))


def js_trim(col: Column) -> Column:
    """String.prototype.trim parity: strips the :data:`JS_WS` characters
    from both ends with Spark's character-set trim, which reads only the
    two ends of the string (a regex would be tried at every character).
    Spark trims whole code points, so characters outside the set —
    U+0085, U+180E, U+200B — are kept, as in JS."""
    return F.trim(col, F.lit(JS_WS))


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
    return clean_with_info(
        df,
        schema,
        filter=filter,
        auto_convert=auto_convert,
        remove_empty_strings=remove_empty_strings,
        trim_strings=trim_strings,
        get_auto_values=get_auto_values,
        remove_nulls_from_arrays=remove_nulls_from_arrays,
    )[0]


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
    the validator can report original offending values.  The projection
    comes from the compile cache (``compiler/memo.py``); autoValues run per
    call."""
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

    def build() -> "tuple[list[Column], _Cleaner]":
        cleaner = _Cleaner(schema, **opts)
        out_cols = [
            cleaner.clean_value(f.name, ColumnView(F.col(f.name), f.dataType)).alias(f.name)
            for f in df.schema.fields
            # filter: drop unknown columns (clean.ts:80-94)
            if not opts["filter"] or schema.allows_key(f.name)
        ]
        if keep_originals_of_converted:
            out_cols += [F.col(k).alias(f"__orig_{k}") for k in cleaner.converted]
        return out_cols, cleaner

    out_cols, cleaner = compiled(
        schema, "clean", df.schema.simpleString(),
        (opts, keep_originals_of_converted), build,
    )
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


def _array_levels(key: str) -> tuple[str, list[str]]:
    """``a.$.b.$.c`` → ``("a", ["b", "c"])``: the outer array path and the
    per-level subpaths (last entry = leaf path inside the innermost
    element, '' when the element itself is the value).  A key under no
    array gives ``(key, [])``."""
    segments = key.split(".$")
    return segments[0], [s.lstrip(".") for s in segments[1:]]


def _expression_auto_value(df: DataFrame, key: str, fn: Callable) -> DataFrame:
    """Write-back of a Column-valued autoValue (``@spark_auto_value``, or a
    defaultValue's coalesce) at every position of ``key``
    (getPositionsForAutoValue.ts:43-148): the column itself, or under
    arrays, at ARBITRARY depth, one ``F.transform`` per array level
    rebuilding each element (structs rebuilt via withField).  A fn
    returning None leaves the value."""
    head, levels = _array_levels(key)

    def update(v: Column, level: int) -> "Column | None":
        if level == len(levels):
            return fn(AutoValueContext(key, v, df))
        sub = levels[level]

        # a one-parameter function: with two, Spark passes the element
        # INDEX as the second argument
        def element(x: Column) -> Column:
            new = update(x.getField(sub) if sub else x, level + 1)
            return x if new is None else x.withField(sub, new) if sub else new

        return F.when(v.isNotNull(), F.transform(v, element))

    new = update(_path_col(df, head), 0)
    return df if new is None else _set_path(df, head, lambda c: new)


def _python_auto_value(df: DataFrame, key: str, fn: Callable) -> DataFrame:
    """Opaque Python autoValue (slow path; prefer @spark_auto_value
    expressions): ONE Arrow UDF over the key's column, or for a key under
    arrays (nested to arbitrary depth) over the whole OUTER array, which it
    rebuilds — zero explode/shuffle.  It returns the column's own Spark
    type and runs ``fn`` per position on a
    :class:`~.compiler.validators.FieldContext` (the reference's
    AutoValueRunner context, src/clean/AutoValueRunner.ts:42-147;
    ``operator`` is None outside modifiers).  ``ctx.UNCHANGED`` leaves the
    value, any other return (None too) sets it, ``ctx.unset()`` removes it
    (NULL in columnar form)."""
    head, levels = _array_levels(key)
    cols, unpack = arrow_inputs(df.schema, head, fn, whole_array=bool(levels))

    def at(el: Any, path: str, row: dict) -> Any:
        # NULL element with a field path: nothing to write into — leave it
        # null, as the expression writer does (withField on a null struct)
        if el is None and path:
            return None
        ctx = FieldContext(key, FieldContext.get(el, path), row)
        res = fn(ctx)
        if ctx.unset_called:
            res = None
        elif res is ctx.UNCHANGED:
            return el
        return _set_sub(el, path, res)

    def run(*inputs):
        v, row = unpack(*inputs)
        if not levels:
            return at(v, "", row)
        return walk_items(v, levels, lambda el, path: at(el, path, row), _set_sub)

    udf = arrow_udf(partial(map, run), resolve_dtype(df.schema, head))
    if not levels:
        return _set_path(df, head, lambda c: udf(*cols))
    # null and empty arrays stay as they are (the UDF gets them flagged)
    return _set_path(df, head, lambda arr: F.when(F.size(arr) > 0, udf(*cols)).otherwise(arr))


def _set_sub(el: Any, path: str, val: Any) -> Any:
    """``el`` (a dict or Row) with ``val`` at the dotted ``path``."""
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


def _apply_auto_values(df: DataFrame, schema: SimpleSchema) -> DataFrame:
    """defaultValue + autoValue functions, parents-first by dot-depth,
    stable within depth (src/clean/setAutoValues.ts:15-36).

    Each fn writes its key's column, or for a key under arrays
    (``a.$.b``), each item of its outer array: a key under no array is the
    case with no array level.  @spark_auto_value fns and defaultValues (a
    coalesce with the default) go through one expression writer, fused
    into the projection; any other fn through one Arrow UDF writer with a
    per-row ``FieldContext`` (field/sibling_field/parent_field/unset)."""
    avs = schema.auto_value_functions()
    avs.sort(key=lambda kv: kv[0].count("."))
    for key, fn in avs:
        if key.split(".")[0] not in df.columns:
            continue
        if getattr(fn, "is_default", False):
            fn = _coalesce_with(fn.default_value)
        if getattr(fn, "_is_spark_auto_value", False):
            df = _expression_auto_value(df, key, fn)
        else:
            df = _python_auto_value(df, key, fn)
    return df


def _coalesce_with(default: Any) -> Callable:
    @spark_auto_value
    def fill(ctx: AutoValueContext) -> Column:
        return F.coalesce(ctx.value, F.lit(default))

    return fill


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
