"""The simpl-schema rule table, written once over two value views.

Each decision table of the reference is one function here, and every
validation mode calls it: typed DataFrame columns (``RuleCompiler``, hence
``with_violations`` and ``clean_and_validate``), JSON documents
(``jsondoc``) and modifier rows (``modifiers``).  A rule reads its value
through a view:

- :class:`ColumnView` — a typed value (Column + Spark dtype).  Type
  conformance is decided at compile time from the dtype; NaN and ±Infinity
  exist only here.
- :class:`TokenView` — a JSON value, read from its parsed VARIANT.  Type
  conformance is decided per row from one kind code, and the typed reads
  are gated by it; the value's text, where a caller has it, feeds only
  payloads.  The modifier-only differences are explicit: under
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


# ------------------------------------------------------------- modifier keys


def generic_key(key_path: Column) -> Column:
    """a.0.b → a.$.b (mongo-object makeKeyGeneric parity)."""
    return F.regexp_replace(key_path, r"(?<=^|\.)\d+(?=\.|$)", "\\$")


# ---------------------------------------------------------- cleaning cases

#: the kinds of value cleaning converts between (ARRAY: a wrapped scalar)
STRING, NUMBER, BOOLEAN, DATE, ARRAY = "string", "number", "boolean", "date", "array"
#: the other kinds of a JSON value (a value that does not parse has none)
OBJECT, NULL = "object", "null"


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
#: the kind a JSON value must have to conform to each type (dates apart)
_TOKEN_KIND_OF = {**KIND_OF, ArrayType: ARRAY, ObjectType: OBJECT}
#: ``schema_of_variant``'s type name, up to ``<`` or ``(``, → kind
_VARIANT_KINDS = {
    "STRING": STRING, "BIGINT": NUMBER, "DECIMAL": NUMBER, "DOUBLE": NUMBER,
    "BOOLEAN": BOOLEAN, "ARRAY": ARRAY, "OBJECT": OBJECT, "VOID": NULL,
}


@lru_cache(maxsize=None)
def _variant_kinds() -> Column:
    return F.create_map(*[F.lit(x) for kv in _VARIANT_KINDS.items() for x in kv])


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
    time, so every cleaning decision is made while building the plan.  The
    table's root is the view of its columns (``value`` None)."""

    bounds_gate: Optional[Column] = None  # number bounds always apply
    rebuilds_objects = True
    names = None  # an object's members are fixed by its dtype

    def __init__(self, value: Column, dtype: T.DataType) -> None:
        self.value = value
        self.dtype = dtype
        self.fractional = isinstance(dtype, FRACTIONAL_TYPES)
        self.special_floats = self.fractional  # NaN, ±Infinity
        self.is_object = isinstance(dtype, T.StructType)
        self.is_array = isinstance(dtype, T.ArrayType)

    as_str = as_num = as_date = property(lambda self: self.value)

    @cached_property
    def missing(self) -> Column:
        return self.value.isNull()

    @cached_property
    def items(self) -> Optional[Column]:
        """The array, when the dtype is one."""
        return self.value if self.is_array else None

    def item(self, x: Column) -> "ColumnView":
        return ColumnView(x, self.dtype.elementType)

    def typed(self, alts: list[dict]) -> Column:
        return self.value

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
        """The member ``name``: a NULL of ``NullType`` when absent."""
        if not self.is_object or name not in self.dtype.fieldNames():
            return ColumnView(F.lit(None), T.NullType())
        value = F.col(name) if self.value is None else self.value.getField(name)
        return ColumnView(value, self.dtype[name].dataType)

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
    """A JSON value, read from its parsed VARIANT ``var`` (NULL when the
    value is absent or does not parse); ``op`` is the modifier-operator
    Column in modifier mode.

    Every kind test reads one kind code (:attr:`kind`), and every typed read
    is a ``try_variant_get`` gated by it, since ``try_variant_get`` casts
    across kinds (``"12"`` reads as 12.0).  ``text`` is the value as written,
    where the caller has it; it feeds only payloads (:attr:`display`,
    Python-validator inputs) and values cleaning leaves as they are.  The
    kind is decided per row, so cleaning decisions become CASE branches over
    the kinds."""

    fractional = True
    special_floats = False
    dtype = T.StringType()

    def __init__(self, var: Column, op: Optional[Column] = None, text: Optional[Column] = None,
                 *, rebuilds_objects: bool = True) -> None:
        self.var = var
        self.op = op
        self.text = text
        self.rebuilds_objects = rebuilds_objects

    def named_reads(self, prefix: str) -> list[list[Column]]:
        """Move the kind code, then the scalar reads gated by it, into
        columns named ``<prefix><read>`` of two projections under the one
        that uses this view; returns the two projections' columns.  Dates
        stay inline: only date keys read them."""
        levels = []
        for reads in (("kind",), ("as_str", "as_num", "as_bool")):
            levels.append([getattr(self, read).alias(prefix + read) for read in reads])
            for read in reads:
                self.__dict__[read] = F.col(prefix + read)
        return levels

    def _get(self, ddl: str, path: str = "$") -> Column:
        return F.try_variant_get(self.var, path, ddl)

    def has(self, member: str) -> Column:
        """Is the value an object with this member?"""
        return self._get("variant", f"$['{member}']").isNotNull()

    @cached_property
    def kind(self) -> Column:
        """One of the kind names above; an object with a ``$date`` member
        is a date (extended JSON), and a value that does not parse has no
        kind (NULL)."""
        name = F.substring_index(F.substring_index(F.schema_of_variant(self.var), "<", 1), "(", 1)
        return F.when(self.has("$date"), F.lit(DATE)).otherwise(F.try_element_at(_variant_kinds(), name))

    def is_kind(self, kind: str) -> Column:
        return self.kind.eqNullSafe(F.lit(kind))

    def _read(self, kind: str, ddl: str) -> Column:
        return F.when(self.kind == F.lit(kind), self._get(ddl))

    @cached_property
    def json(self) -> Column:
        """The value's JSON text: as written where the caller has it."""
        return F.to_json(self.var) if self.text is None else self.text

    value = property(lambda self: self.json)

    @cached_property
    def as_str(self) -> Column:
        return self._read(STRING, "string")

    @cached_property
    def as_num(self) -> Column:
        return self._read(NUMBER, "double")

    @cached_property
    def as_bool(self) -> Column:
        return self._read(BOOLEAN, "boolean")

    @cached_property
    def as_date(self) -> Column:
        parsed = parse_date_string(self._get("string", "$['$date']"))
        if self.op is None:
            return parsed
        # $currentDate accepts true or {"$type": "date"}; the value checked
        # against min/max is `now`
        current = (self.op == "$currentDate") & (
            self.as_bool | (self._get("string", "$['$type']") == F.lit("date"))
        )
        return F.when(current, F.current_timestamp()).otherwise(parsed)

    @cached_property
    def is_null(self) -> Column:
        return self.is_kind(NULL)

    @cached_property
    def missing(self) -> Column:
        """Absent or JSON null (doc mode, requiredValidator.ts:28,34)."""
        return self.var.isNull() | F.is_variant_null(self.var)

    @cached_property
    def items(self) -> Column:
        return self.elements("$")

    def item(self, x: Column) -> "TokenView":
        return TokenView(x)

    @cached_property
    def names(self) -> Column:
        """The object's member names (NULL when it is no object)."""
        return F.map_keys(self._get("map<string,variant>"))

    @cached_property
    def count(self) -> Column:
        return F.size(self.items)

    @cached_property
    def display(self) -> Column:
        """Offending-value payload: JSON strings unquoted, else the JSON
        text trimmed."""
        return F.coalesce(self.as_str, F.trim(self.json))

    @cached_property
    def bounds_gate(self) -> Optional[Column]:
        return None if self.op is None else self.op != "$inc"

    def mismatch(self, token: TypeToken) -> Union[Column, bool]:
        if token is DateType:
            return self.as_date.isNull()
        kind = _TOKEN_KIND_OF.get(token)
        return True if kind is None else ~self.is_kind(kind)  # Binary has no JSON form

    def typed(self, alts: list[dict]) -> Column:
        """The token as handed to ``@spark_rule`` validators: typed when
        every alternative has one scalar type, else the VARIANT (malformed
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
        return self.var

    # ---- cleaning: built once per view, shared by every key it is cleaned for
    is_array = cached_property(lambda self: self.is_kind(ARRAY))
    is_object = cached_property(lambda self: self.is_kind(OBJECT))

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
        reads = {STRING: self.as_str, NUMBER: self.as_num, BOOLEAN: self.as_bool, DATE: self.as_date}
        return [Case(self.is_kind(k), k, col, DTYPE_OF[k]) for k, col in reads.items()]

    def converted(self, case: Case, new: Case, conforms: Any) -> list[Case]:
        """A failed conversion leaves the token as it was."""
        cond = case.cond & new.col.isNotNull()
        if conforms is not False:
            cond = cond & ~conforms
        return [new._replace(cond=cond), case]

    def wrap(self, *_: Any) -> Column:
        return F.concat(F.lit("["), self.json, F.lit("]"))

    def emit(self, cases: list[Case]) -> Column:
        return case_when([(c.cond, _ENCODE[c.kind](c)) for c in cases if c.changed], self.json)

    def field_names(self, declared: list[str]) -> list[str]:
        return declared  # literal variant paths: undeclared names are dropped

    def field(self, name: str) -> "TokenView":
        return TokenView(self._get("variant", f"$['{name}']"))

    def rebuild_object(self, children: list) -> Column:
        """Children absent or removed (NULL) are left out."""
        if not children:
            return self.json
        frags = F.array(*[F.concat(F.lit(f'"{n}": '), c) for n, c in children])
        return F.concat(F.lit("{"), F.concat_ws(", ", F.array_compact(frags)), F.lit("}"))

    def rebuild_array(self, clean: Callable, remove_nulls: bool) -> Column:
        """``[...]`` of the cleaned elements; objects in arrays are kept as
        written, and so are empty strings."""
        elems = self.elements("$")
        out = F.transform(
            elems,
            lambda e: F.coalesce(clean(TokenView(e, rebuilds_objects=False)), F.lit('""')),
        )
        if remove_nulls:
            out = F.filter(out, lambda e: e != F.lit("null"))
        rebuilt = F.concat(F.lit("["), F.concat_ws(", ", out), F.lit("]"))
        return F.when(elems.isNotNull(), rebuilt).otherwise(self.json)

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
