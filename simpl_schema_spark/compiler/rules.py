"""The simpl-schema rule table, written once over two value views.

Each decision table of the reference is one function here, and every
validation mode calls it: typed DataFrame columns (``RuleCompiler``, hence
``with_violations`` and ``clean_and_validate``), JSON documents
(``jsondoc``) and modifier rows (``modifiers``).  A rule reads its value
through a view:

- :class:`ColumnView` — a typed value (Column + Spark dtype).  Type
  conformance is decided at compile time from the dtype; NaN and ±Infinity
  exist only here.
- :class:`TokenView` — a JSON token (string Column).  Type conformance is
  decided per row.  The modifier-only differences are explicit: under
  ``$inc`` the number bounds are skipped (checkNumberValue.ts:20,36), and
  ``$currentDate`` substitutes ``now`` for the date
  (typeValidator/index.ts:40-44,57-59).

Families, in the reference's order (``src/validation/typeValidator/*.ts``):
type conformance; string max → min → regEx (checkStringValue.ts:8-49);
number NaN → max → min → integer, with exclusive variants
(checkNumberValue.ts:4-54, ``Number.isInteger(5.0) === true``); date
min/max with a YYYY-MM-DD payload (checkDateValue.ts:5-32); array
minCount/maxCount, one error on the array key (checkArrayValue.ts:4-22);
then allowedValues.  oneOf: the first matching alternative wins and the
LAST alternative's error is reported (validateField.ts:171-256).

The views also carry what cleaning (``cleaning._Cleaner``) needs to know
of a mode: how to read a value of each JSON kind (:meth:`scalars`), how to
write a converted value back (a typed column with a new dtype, or a
re-encoded JSON token with dates as ``{"$date": "<ISO>"}``) and how to
rebuild a container (a struct or array column, or a JSON object or array).
"""

from __future__ import annotations

import datetime
from functools import cached_property, lru_cache, partial, reduce
from typing import Any, Callable, NamedTuple, Optional, Union

from pyspark.sql import Column, functions as F, types as T

from ..errors import ErrorTypes, VIOLATION_SCHEMA
from ..schema.schema import SimpleSchema
from ..schema.types import (
    AnyType,
    ArrayType,
    Binary,
    Boolean,
    DateType,
    Integer,
    Number,
    ObjectType,
    String,
    TypeToken,
)
from .regex import js_regex_repr, to_java_regex

# ---------------------------------------------------------- violation structs

# Plan-construction cost note: schema compilation issues thousands of py4j
# round trips (~0.14 ms each) building Column fragments; the fragments below
# are identical every time (unbound literal expressions — immutable Catalyst
# trees, safe to share across parents and across queries), so they are
# built once per process.


@lru_cache(maxsize=None)
def _null_str() -> Column:
    return F.lit(None).cast("string")


@lru_cache(maxsize=None)
def _null_str_alias(fname: str) -> Column:
    return _null_str().alias(fname)


@lru_cache(maxsize=None)
def _errtype_lit(errtype: str) -> Column:
    return F.lit(errtype).cast("string").alias("type")


@lru_cache(maxsize=None)
def null_violation() -> Column:
    return F.lit(None).cast(VIOLATION_SCHEMA)


def violation(
    name: Column,
    errtype: "Column | str",
    value: Optional[Column] = None,
    dataType: "Column | str | None" = None,
    min: "Column | str | None" = None,  # noqa: A002
    max: "Column | str | None" = None,  # noqa: A002
    regExp: "Column | str | None" = None,
    minCount: "Column | str | None" = None,
    maxCount: "Column | str | None" = None,
) -> Column:
    """Build a violation struct with canonical field order/types."""
    extras = {
        "dataType": dataType,
        "min": min,
        "max": max,
        "regExp": regExp,
        "minCount": minCount,
        "maxCount": maxCount,
    }
    if value is None:
        value = _null_str()
    cols = [
        name.cast("string").alias("name"),
        _errtype_lit(errtype)
        if isinstance(errtype, str)
        else errtype.cast("string").alias("type"),
        value.cast("string").alias("value"),
    ]
    for fname, v in extras.items():
        if v is None:
            cols.append(_null_str_alias(fname))
        elif isinstance(v, Column):
            cols.append(v.cast("string").alias(fname))
        else:
            cols.append(F.lit(str(v)).alias(fname))
    return F.struct(*cols)


def check(cond: Column, viol: Column) -> Column:
    """``viol`` where ``cond`` holds, else a NULL violation."""
    return F.when(cond, viol).otherwise(null_violation())


def first(parts: list[Optional[Column]]) -> Optional[Column]:
    """The first non-null violation of an ordered chain (None if empty)."""
    parts = [p for p in parts if p is not None]
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else F.coalesce(*parts)


# ------------------------------------------------------------- typed values

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
FRACTIONAL_TYPES = (T.FloatType, T.DoubleType)


def type_matches(token: TypeToken, dtype: T.DataType) -> bool:
    if token is AnyType:
        return True
    if token is String:
        return isinstance(dtype, T.StringType)
    if token in (Number, Integer):
        return isinstance(dtype, NUMERIC_TYPES)
    if token is Boolean:
        return isinstance(dtype, T.BooleanType)
    if token is DateType:
        return isinstance(dtype, (T.TimestampType, T.DateType, T.TimestampNTZType))
    if token is ArrayType:
        return isinstance(dtype, T.ArrayType)
    if token is ObjectType:
        return isinstance(dtype, T.StructType)
    if token is Binary:
        return isinstance(dtype, T.BinaryType)
    return False


def token_name(token: Any) -> str:
    if isinstance(token, SimpleSchema):
        return "Object"
    if isinstance(token, TypeToken):
        if token is Binary:
            return "Uint8Array"  # parity: reference uses the ctor name
        return token.name
    return str(token)


def _date_str(value: Any) -> str:
    """YYYY-MM-DD payload (reference dateToDateString, utility/index.ts:11-17)."""
    if isinstance(value, datetime.datetime):
        value = value.astimezone(datetime.timezone.utc) if value.tzinfo else value
        return value.strftime("%Y-%m-%d")
    if isinstance(value, datetime.date):
        return value.strftime("%Y-%m-%d")
    return str(value)


def _num_str(v: Any) -> str:
    """Render numeric bound payloads the way JS does (10, not 10.0)."""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def js_number_to_string(col: Column, dtype: T.DataType) -> Column:
    """JS Number#toString: whole doubles render without '.0'."""
    if isinstance(dtype, FRACTIONAL_TYPES):
        whole = (~F.isnan(col)) & (col == F.floor(col)) & (F.abs(col) < F.lit(1e16))
        return F.when(whole, col.cast("decimal(20,0)").cast("string")).otherwise(col.cast("string"))
    return col.cast("string")


def iso_string(col: Column, dtype: T.DataType) -> Column:
    """Date#toISOString (``2024-01-02T03:04:05.000Z``) in UTC, whatever
    the session time zone; dates and zone-less timestamps read as UTC."""
    wall = col.cast("timestamp_ntz")
    if not isinstance(dtype, (T.DateType, T.TimestampNTZType)):
        wall = F.convert_timezone(F.current_timezone(), F.lit("UTC"), wall)
    return F.date_format(wall, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")


def parse_date_string(s: Column) -> Column:
    """Date.parse of an ISO-8601 string (NULL when unparseable)."""
    return F.coalesce(
        s.try_cast("timestamp"),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
    )


def stringify(value: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.StringType):
        return value
    if isinstance(dtype, T.BinaryType):
        return F.base64(value)
    if isinstance(dtype, (T.ArrayType, T.StructType, T.MapType)):
        return F.to_json(value)
    return value.cast("string")


# --------------------------------------------------------------- JSON tokens


def generic_key(key_path: Column) -> Column:
    """a.0.b → a.$.b (mongo-object makeKeyGeneric parity)."""
    return F.regexp_replace(key_path, r"(?<=^|\.)\d+(?=\.|$)", "\\$")


def is_json_string(v: Column) -> Column:
    return v.rlike('^\\s*"')


def is_json_null(v: Column) -> Column:
    return v.rlike("^\\s*null\\s*$")


def is_json_bool(v: Column) -> Column:
    return v.rlike("^\\s*(true|false)\\s*$")


def is_json_number(v: Column) -> Column:
    return v.rlike(r"^\s*-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\s*$")


def is_json_array(v: Column) -> Column:
    return v.rlike(r"^\s*\[")


def is_json_object(v: Column) -> Column:
    return v.rlike(r"^\s*\{")


def is_ext_date(v: Column) -> Column:
    return v.rlike(r'^\s*\{\s*"\$date"')


def _json_scalar(v: Column, ddl: str) -> Column:
    return F.from_json(F.concat(F.lit('{"v":'), v, F.lit("}")), f"v {ddl}").getField("v")



# ---------------------------------------------------------- cleaning cases

#: the kinds of value cleaning converts between (ARRAY: a wrapped scalar)
STRING, NUMBER, BOOLEAN, DATE, ARRAY = "string", "number", "boolean", "date", "array"


class Case(NamedTuple):
    """Where ``cond`` holds the value is ``col``, of ``kind`` and Spark
    ``dtype``; ``changed`` once cleaning has rewritten it."""

    cond: Union[bool, Column]
    kind: str
    col: Column
    dtype: Optional[T.DataType]
    changed: bool = False


#: the kind of value each scalar type holds, and the Spark type it is read as
KIND_OF = {String: STRING, Number: NUMBER, Integer: NUMBER, Boolean: BOOLEAN, DateType: DATE}
DTYPE_OF = {STRING: T.StringType(), NUMBER: T.DoubleType(), BOOLEAN: T.BooleanType(), DATE: T.TimestampType()}


def case_when(pairs: list[tuple[Column, Column]], default: Column) -> Column:
    if not pairs:
        return default
    return reduce(lambda out, p: out.when(*p), pairs[1:], F.when(*pairs[0])).otherwise(default)


#: a cleaned value back to its JSON token
_ENCODE = {
    STRING: lambda c: F.to_json(c.col.cast("variant")),
    NUMBER: lambda c: js_number_to_string(c.col, c.dtype),
    BOOLEAN: lambda c: c.col.cast("string"),
    DATE: lambda c: F.concat(F.lit('{"$date": "'), iso_string(c.col, c.dtype), F.lit('"}')),
    ARRAY: lambda c: c.col,  # built as a token
}


# --------------------------------------------------------------------- views


class ColumnView:
    """A typed value: Column + Spark dtype.  Its kind is known at compile
    time, so every cleaning decision is made while building the plan."""

    bounds_gate: Optional[Column] = None  # number bounds always apply
    rebuilds_objects = True

    def __init__(self, value: Column, dtype: T.DataType) -> None:
        self.value = value
        self.dtype = dtype
        self.fractional = isinstance(dtype, FRACTIONAL_TYPES)
        self.special_floats = self.fractional  # NaN, ±Infinity
        self.is_object = isinstance(dtype, T.StructType)
        self.is_array = isinstance(dtype, T.ArrayType)

    as_str = as_num = as_date = property(lambda self: self.value)

    @cached_property
    def count(self) -> Column:
        return F.size(self.value)

    @cached_property
    def display(self) -> Column:
        return stringify(self.value, self.dtype)

    @cached_property
    def json(self) -> Column:
        return F.to_json(self.value)

    def mismatch(self, token: TypeToken) -> Optional[bool]:
        """Decided at compile time; None when the column is absent (only
        required can fire)."""
        if isinstance(self.dtype, T.NullType):
            return None
        return not type_matches(token, self.dtype)

    # ---- cleaning
    def conforms(self, token: TypeToken) -> bool:
        return type_matches(token, self.dtype)

    @cached_property
    def scalars(self) -> list[Case]:
        kinds = [k for t, k in KIND_OF.items() if type_matches(t, self.dtype)]
        return [Case(True, kinds[0], self.value, self.dtype)] if kinds else []

    def converted(self, case: Case, new: Case, conforms: Any) -> list[Case]:
        """The column takes the new dtype; a failed conversion is NULL."""
        return [new]

    def wrap(self, *_: Any) -> Column:
        """``[v]``: the value as it was (convertToProperType.ts:61)."""
        return F.when(self.value.isNotNull(), F.array(self.value))

    def emit(self, cases: list[Case]) -> Column:
        return cases[0].col if cases else self.value

    def field_names(self, declared: list[str]) -> list[str]:
        return [f.name for f in self.dtype.fields]

    def field(self, name: str) -> "ColumnView":
        return ColumnView(self.value.getField(name), self.dtype[name].dataType)

    def rebuild_object(self, children: list) -> Column:
        if not children:
            return self.value
        return F.when(self.value.isNotNull(), F.struct(*[c.alias(n) for n, c in children]))

    def rebuild_array(self, clean: Callable, remove_nulls: bool) -> Column:
        out = F.transform(self.value, lambda x: clean(ColumnView(x, self.dtype.elementType)))
        if remove_nulls:
            out = F.filter(out, lambda x: x.isNotNull())
        return F.when(self.value.isNotNull(), out)

    def choose(self, branches: list, default: Callable[[], Column]) -> Column:
        return next((build for cond, build in branches if cond), default)()


class TokenView:
    """A JSON token; ``op`` is the modifier-operator Column in modifier mode.

    ``var`` is the token parsed to a VARIANT: given, every read extracts
    from it, so a token parsed once is never re-parsed (JSON text reads
    otherwise).  Its kind is decided per row, so cleaning decisions become
    CASE branches over the JSON kinds."""

    fractional = True
    special_floats = False
    dtype = T.StringType()

    def __init__(self, token: Column, op: Optional[Column] = None,
                 var: Optional[Column] = None, *, rebuilds_objects: bool = True) -> None:
        self.token = self.json = self.value = token
        self.op = op
        self.var = var
        self.rebuilds_objects = rebuilds_objects

    @classmethod
    def of_variant(cls, var: Column, op: Optional[Column] = None, **kw: bool) -> "TokenView":
        return cls(F.to_json(var), op, var, **kw)

    def named_reads(self, prefix: str) -> list[Column]:
        """Move the scalar reads into columns named ``<prefix><read>`` of a
        projection under the one that uses this view; returns them."""
        cols = []
        for read in ("as_str", "as_num", "as_bool", "as_date"):
            cols.append(getattr(self, read).alias(prefix + read))
            self.__dict__[read] = F.col(prefix + read)
        return cols

    def _get(self, ddl: str, path: str = "$") -> Column:
        return F.try_variant_get(self.var, path, ddl)

    def _read(self, ddl: str) -> Column:
        return _json_scalar(self.token, ddl) if self.var is None else self._get(ddl)

    @cached_property
    def as_str(self) -> Column:
        return self._read("string")

    @cached_property
    def as_num(self) -> Column:
        return self._read("double")

    @cached_property
    def as_bool(self) -> Column:
        return self._read("boolean")

    @cached_property
    def as_date(self) -> Column:
        if self.var is None:
            iso = F.from_json(self.token, "`$date` string").getField("$date")
        else:
            iso = self._get("string", "$['$date']")
        parsed = parse_date_string(iso)
        if self.op is None:
            return parsed
        # $currentDate accepts true or {"$type":"date"}; the value checked
        # against min/max is `now`
        current = (self.op == "$currentDate") & (
            self.token.rlike("^\\s*true\\s*$")
            | (F.regexp_replace(self.token, "\\s", "") == F.lit('{"$type":"date"}'))
        )
        return F.when(current, F.current_timestamp()).otherwise(parsed)

    @cached_property
    def count(self) -> Column:
        return F.json_array_length(self.token)

    @cached_property
    def display(self) -> Column:
        """Offending-value payload: unquote JSON strings, else raw JSON."""
        return F.when(is_json_string(self.token), self.as_str).otherwise(F.trim(self.token))

    @cached_property
    def bounds_gate(self) -> Optional[Column]:
        return None if self.op is None else self.op != "$inc"

    def mismatch(self, token: TypeToken) -> Union[Column, bool]:
        v = self.token
        if token is String:
            return ~is_json_string(v)
        if token in (Number, Integer):
            return ~is_json_number(v)
        if token is Boolean:
            return ~is_json_bool(v)
        if token is DateType:
            return self.as_date.isNull()
        if token is ArrayType:
            return ~is_json_array(v)
        if token is ObjectType:
            return ~is_json_object(v) | is_ext_date(v)
        return True  # Binary has no JSON form

    def typed(self, alts: list[dict]) -> Column:
        """The token as handed to ``@spark_rule`` validators: typed when
        every alternative has one scalar type, else a VARIANT (malformed
        tokens → NULL) that the rule reads with ``try_variant_get``."""
        kinds = {a.get("type") for a in alts}
        if kinds == {String}:
            return self.as_str
        if kinds and kinds <= {Number, Integer}:
            return self.as_num
        if kinds == {Boolean}:
            return self.as_bool
        if kinds == {DateType}:
            return self.as_date
        return F.try_parse_json(self.token)

    # ---- cleaning: built once per view, shared by every key it is cleaned for
    is_array = cached_property(lambda self: is_json_array(self.token))
    is_object = cached_property(
        lambda self: is_json_object(self.token) & ~is_ext_date(self.token) & self.var.isNotNull()
    )

    def conforms(self, token: TypeToken) -> Union[Column, bool]:
        """isValueTypeValid: an Integer takes only integral numbers."""
        bad = self.mismatch(token)
        if bad is True:
            return False
        if token is Integer:
            return ~bad & (self.as_num == F.floor(self.as_num))
        return ~bad

    @cached_property
    def scalars(self) -> list[Case]:
        t = self.token
        return [
            Case(is_json_string(t), STRING, self.as_str, DTYPE_OF[STRING]),
            Case(is_json_number(t), NUMBER, self.as_num, DTYPE_OF[NUMBER]),
            Case(is_json_bool(t), BOOLEAN, self.as_bool, DTYPE_OF[BOOLEAN]),
            Case(is_ext_date(t), DATE, self.as_date, DTYPE_OF[DATE]),
        ]

    def converted(self, case: Case, new: Case, conforms: Any) -> list[Case]:
        """A failed conversion leaves the token as it was."""
        cond = case.cond & new.col.isNotNull()
        if conforms is not False:
            cond = cond & ~conforms
        return [new._replace(cond=cond), case]

    def wrap(self, *_: Any) -> Column:
        return F.concat(F.lit("["), self.token, F.lit("]"))

    def emit(self, cases: list[Case]) -> Column:
        return case_when([(c.cond, _ENCODE[c.kind](c)) for c in cases if c.changed], self.token)

    def field_names(self, declared: list[str]) -> list[str]:
        return declared  # literal variant paths: undeclared names are dropped

    def field(self, name: str) -> "TokenView":
        return TokenView.of_variant(self._get("variant", f"$['{name}']"))

    def rebuild_object(self, children: list) -> Column:
        """Children absent or removed (NULL) are left out."""
        if not children:
            return self.token
        frags = F.array(*[F.concat(F.lit(f'"{n}": '), c) for n, c in children])
        return F.concat(F.lit("{"), F.concat_ws(", ", F.array_compact(frags)), F.lit("}"))

    def rebuild_array(self, clean: Callable, remove_nulls: bool) -> Column:
        """``[...]`` of the cleaned elements; objects in arrays are kept as
        written, and so are empty strings."""
        elems = self.elements("$")
        out = F.transform(
            elems,
            lambda e: F.coalesce(
                clean(TokenView.of_variant(e, rebuilds_objects=False)), F.lit('""')
            ),
        )
        if remove_nulls:
            out = F.filter(out, lambda e: e != F.lit("null"))
        rebuilt = F.concat(F.lit("["), F.concat_ws(", ", out), F.lit("]"))
        return F.when(elems.isNotNull(), rebuilt).otherwise(self.token)

    def elements(self, path: str) -> Column:
        """The array at ``path`` as variant elements (NULL if not an array)."""
        return self._get("array<variant>", path)

    def choose(self, branches: list, default: Callable[[], Column]) -> Column:
        return case_when([(cond, build()) for cond, build in branches], default())


View = Union[ColumnView, TokenView]

# ------------------------------------------------------------------ families


def _string_rules(v: View, name: Column, alt: dict) -> list[Column]:
    s = v.as_str
    out = []
    if alt.get("max") is not None:
        mx = alt["max"]
        out.append(check(F.length(s) > mx, violation(name, ErrorTypes.MAX_STRING, value=s, max=str(mx))))
    if alt.get("min") is not None:
        mn = alt["min"]
        out.append(check(F.length(s) < mn, violation(name, ErrorTypes.MIN_STRING, value=s, min=str(mn))))
    regex = alt.get("regEx")
    if regex is not None:
        many = isinstance(regex, (list, tuple))
        # skip-empty applies to the single-regex form only (checkStringValue.ts:25)
        skip_empty = alt.get("skipRegExCheckForEmptyStrings") is True and not many
        for pat in regex if many else [regex]:
            fail = ~s.rlike(to_java_regex(pat))
            if skip_empty:
                fail = fail & (s != F.lit(""))
            out.append(
                check(
                    fail,
                    violation(
                        name, ErrorTypes.FAILED_REGULAR_EXPRESSION, value=s,
                        regExp=js_regex_repr(pat),
                    ),
                )
            )
    return out


_BOUNDS = (
    ("max", "exclusiveMax", ErrorTypes.MAX_NUMBER, ErrorTypes.MAX_NUMBER_EXCLUSIVE),
    ("min", "exclusiveMin", ErrorTypes.MIN_NUMBER, ErrorTypes.MIN_NUMBER_EXCLUSIVE),
)


def _number_rules(v: View, name: Column, alt: dict, integer: bool) -> list[Column]:
    n = v.as_num
    out = []
    if v.special_floats:
        out.append(
            check(
                F.isnan(n),
                violation(
                    name, ErrorTypes.EXPECTED_TYPE, value=v.display,
                    dataType="Integer" if integer else "Number",
                ),
            )
        )
    for prop, excl_prop, errtype, excl_errtype in _BOUNDS:
        bound = alt.get(prop)
        if bound is None:
            continue
        exclusive = alt.get(excl_prop) is True
        if prop == "max":
            cond = (n >= bound) if exclusive else (n > bound)
        else:
            cond = (n <= bound) if exclusive else (n < bound)
        if v.bounds_gate is not None:
            cond = v.bounds_gate & cond
        out.append(
            check(
                cond,
                violation(
                    name, excl_errtype if exclusive else errtype, value=v.display,
                    **{prop: _num_str(bound)},
                ),
            )
        )
    if integer and v.fractional:
        not_int = n != F.floor(n)
        if v.special_floats:
            not_int = not_int | (n == F.lit(float("inf"))) | (n == F.lit(float("-inf")))
        out.append(check(not_int, violation(name, ErrorTypes.MUST_BE_INTEGER, value=v.display)))
    return out


def _date_rules(v: View, name: Column, alt: dict) -> list[Column]:
    d = v.as_date
    out = []
    if alt.get("min") is not None:
        mn = alt["min"]
        out.append(
            check(
                d < F.lit(mn),
                violation(name, ErrorTypes.MIN_DATE, value=d.cast("string"), min=_date_str(mn)),
            )
        )
    if alt.get("max") is not None:
        mx = alt["max"]
        out.append(
            check(
                d > F.lit(mx),
                violation(name, ErrorTypes.MAX_DATE, value=d.cast("string"), max=_date_str(mx)),
            )
        )
    return out


def _array_rules(v: View, name: Column, alt: dict) -> list[Column]:
    out = []
    if alt.get("minCount") is not None:
        mc = alt["minCount"]
        out.append(
            check(v.count < mc, violation(name, ErrorTypes.MIN_COUNT, value=v.json, minCount=str(mc)))
        )
    if alt.get("maxCount") is not None:
        mc = alt["maxCount"]
        out.append(
            check(v.count > mc, violation(name, ErrorTypes.MAX_COUNT, value=v.json, maxCount=str(mc)))
        )
    return out


_FAMILIES: dict[TypeToken, Callable[[View, Column, dict], list[Column]]] = {
    String: _string_rules,
    Number: partial(_number_rules, integer=False),
    Integer: partial(_number_rules, integer=True),
    DateType: _date_rules,
    ArrayType: _array_rules,
}


def value_rules(v: View, name: Column, alt: dict) -> list[Column]:
    """One alternative's ordered checks of a present value: type
    conformance, the type's family, then allowedValues."""
    token = alt.get("type")
    if isinstance(token, SimpleSchema):
        token = ObjectType
    out: list[Column] = []
    if isinstance(token, TypeToken) and token is not AnyType:
        bad = v.mismatch(token)
        if bad is None:
            return []
        if bad is not False:
            type_err = violation(
                name, ErrorTypes.EXPECTED_TYPE, value=v.display, dataType=token_name(token)
            )
            if bad is True:
                return [type_err]
            out.append(check(bad, type_err))
        family = _FAMILIES.get(token)
        if family is not None:
            out.extend(family(v, name, alt))
    allowed = alt.get("allowedValues")
    if allowed is not None:
        vals = sorted(allowed) if isinstance(allowed, set) else list(allowed)
        typed = v.as_str if vals and isinstance(vals[0], str) else v.as_num
        out.append(
            check(~typed.isin(*vals), violation(name, ErrorTypes.VALUE_NOT_ALLOWED, value=v.display))
        )
    return out


def is_any(alts: list[dict]) -> bool:
    """``SimpleSchema.Any`` short-circuits valid (validateField.ts:174-175)."""
    return any(a.get("type") is AnyType for a in alts)


def one_of(alts: list[dict], rules: Callable[[dict], list[Column]]) -> Optional[Column]:
    """First matching alternative wins; the LAST alternative's error is
    reported.  ``rules(alt)`` is one alternative's ordered check chain."""
    if is_any(alts):
        return None
    errs = [e for e in (first(rules(a)) for a in alts) if e is not None]
    if not errs:
        return None
    if len(errs) == 1:
        return errs[0]
    any_valid = reduce(lambda a, b: a | b, [e.isNull() for e in errs])
    return F.when(any_valid, null_violation()).otherwise(errs[-1])


def value_error(v: View, name: Column, alts: list[dict]) -> Optional[Column]:
    """The first violation of a present value against a key's alternatives."""
    return one_of(alts, lambda alt: value_rules(v, name, alt))


def is_object_key(alts: list[dict]) -> bool:
    """Declared (non-blackbox) object key: its children are keys too."""
    return any(
        isinstance(a.get("type"), SimpleSchema) or a.get("type") is ObjectType
        for a in alts
    ) and not any(a.get("blackbox") is True for a in alts)


def is_optional(alts: list[dict]) -> bool:
    return bool(alts) and bool(alts[0].get("optional", False))
