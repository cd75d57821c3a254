"""Golden-for-golden replay of the reference clean test suite.

Every case here is one `getTest(given, expected)` / `doTest` block from
/root/reference/test/clean.tests.ts (the `describe('clean')` tree),
/root/reference/test/clean/convertToProperType.tests.ts, or
/root/reference/test/clean/defaultValue.tests.ts (`describe('modifier
object')` + the path-notation/issue cases), re-expressed over the
long-format modifier table (FIXTURES.md F6) or typed columns.  Blocks the
columnar data model cannot express are enumerated with justification in
tests/PARITY.md, not silently dropped.

Class ↔ reference mapping:
  TestParityModifierOps      — clean.tests.ts:268-623 ($set/$unset/
                               $setOnInsert/$inc/$currentDate/$addToSet/
                               $push/$pull/$pop/$pullAll, ± $each)
  TestParityBlackbox         — clean.tests.ts:625-705
  TestParityTrimSweep        — clean.tests.ts:707-822
  TestParityMisc             — clean.tests.ts:824-980
  TestParityOneOf            — clean.tests.ts:982-1138
  TestParityConvertToProperType — clean/convertToProperType.tests.ts
  TestParityDefaultValueModifier — clean/defaultValue.tests.ts:229-845
"""

import datetime
import json

import pytest

from pyspark.sql import functions as F

from simpl_schema_spark.schema import SimpleSchema
from simpl_schema_spark.modifiers import clean_modifier_table
from simpl_schema_spark.cleaning import clean

MOD_DDL = "doc_id bigint, op string, key_path string, value string, upsert boolean"


def ref_schema():
    """The clean.tests.ts header schema (lines 8-200), keys the goldens
    touch; function-valued min/max and custom validators are irrelevant to
    cleaning and omitted."""
    return SimpleSchema(
        {
            "string": {"type": str, "optional": True},
            "minMaxString": {"type": str, "optional": True, "min": 10, "max": 20},
            "minMaxStringArray": {
                "type": SimpleSchema.Array,
                "optional": True,
                "minCount": 1,
                "maxCount": 2,
            },
            "minMaxStringArray.$": {"type": str, "min": 10, "max": 20},
            "allowedStringsArray": {"type": SimpleSchema.Array, "optional": True},
            "allowedStringsArray.$": {
                "type": str,
                "allowedValues": ["tuna", "fish", "salad"],
            },
            "boolean": {"type": bool, "optional": True},
            "objectArray": {"type": SimpleSchema.Array, "optional": True},
            "objectArray.$": {"type": SimpleSchema.Object},
            "objectArray.$.boolean": {"type": bool, "defaultValue": False},
            "number": {"type": int, "optional": True},
            "sub": {"type": SimpleSchema.Object, "optional": True},
            "sub.number": {"type": int, "optional": True},
            "allowedNumbersArray": {"type": SimpleSchema.Array, "optional": True},
            "allowedNumbersArray.$": {"type": int, "allowedValues": [1, 2, 3]},
            "date": {"type": SimpleSchema.Date, "optional": True},
            "blackBoxObject": {
                "type": SimpleSchema.Object,
                "optional": True,
                "blackbox": True,
            },
            "noTrimString": {"type": str, "optional": True, "trim": False},
        }
    )


def mclean(spark, rows, ss=None, **opts):
    df = spark.createDataFrame(rows, MOD_DDL)
    out = clean_modifier_table(df, ss or ref_schema(), **opts)
    return sorted((r.doc_id, r.op, r.key_path, r.value) for r in out.collect())


class TestParityModifierOps:
    """clean.tests.ts per-operator describe blocks.  One batched table per
    operator family; doc_id identifies the reference `it` block."""

    def test_set_block(self, spark):
        got = mclean(
            spark,
            [
                # 'when you clean a good object it is still good'
                (1, "$set", "string", '"This is a string"', False),
                # 'when you clean a bad object it is now good'
                (2, "$set", "string", '"This is a string"', False),
                (2, "$set", "admin", "true", False),
                # 'type conversion works'
                (3, "$set", "string", "1", False),
                # 'move empty strings to $unset'
                (4, "$set", "string", '""', False),
            ],
        )
        assert got == [
            (1, "$set", "string", '"This is a string"'),
            (2, "$set", "string", '"This is a string"'),
            (3, "$set", "string", '"1"'),
            (4, "$unset", "string", '""'),
        ]

    def test_unset_block(self, spark):
        got = mclean(
            spark,
            [
                (1, "$unset", "string", "null", False),
                # extra unset keys STAY (filter exempts $unset)
                (2, "$unset", "string", "null", False),
                (2, "$unset", "admin", "null", False),
                # no type conversion of the meaningless value
                (3, "$unset", "string", "1", False),
            ],
        )
        assert got == [
            (1, "$unset", "string", "null"),
            (2, "$unset", "admin", "null"),
            (2, "$unset", "string", "null"),
            (3, "$unset", "string", "1"),
        ]

    def test_set_on_insert_block(self, spark):
        got = mclean(
            spark,
            [
                (1, "$setOnInsert", "string", '"This is a string"', False),
                (2, "$setOnInsert", "string", '"This is a string"', False),
                (2, "$setOnInsert", "admin", "true", False),
                (3, "$setOnInsert", "string", "1", False),
            ],
        )
        assert got == [
            (1, "$setOnInsert", "string", '"This is a string"'),
            (2, "$setOnInsert", "string", '"This is a string"'),
            (3, "$setOnInsert", "string", '"1"'),
        ]

    def test_inc_block(self, spark):
        got = mclean(
            spark,
            [
                (1, "$inc", "number", "1", False),
                (2, "$inc", "number", "1", False),
                (2, "$inc", "admin", "1", False),
                (3, "$inc", "number", '"1"', False),
            ],
        )
        assert got == [
            (1, "$inc", "number", "1"),
            (2, "$inc", "number", "1"),
            (3, "$inc", "number", "1"),
        ]

    def test_current_date_block(self, spark):
        got = mclean(
            spark,
            [
                (1, "$currentDate", "date", "true", False),
                (2, "$currentDate", "date", '{"$type": "timestamp"}', False),
                (3, "$currentDate", "date", '{"$type": "date"}', False),
            ],
        )
        assert got == [
            (1, "$currentDate", "date", "true"),
            (2, "$currentDate", "date", '{"$type": "timestamp"}'),
            (3, "$currentDate", "date", '{"$type": "date"}'),
        ]

    def test_add_to_set_and_push_blocks(self, spark):
        got = mclean(
            spark,
            [
                (1, "$addToSet", "allowedNumbersArray", "1", False),
                (2, "$addToSet", "allowedNumbersArray", "1", False),
                (2, "$addToSet", "admin", "1", False),
                (3, "$addToSet", "allowedNumbersArray", '"1"', False),
                (4, "$push", "allowedNumbersArray", "1", False),
                (5, "$push", "allowedNumbersArray", "1", False),
                (5, "$push", "admin", "1", False),
                (6, "$push", "allowedNumbersArray", '"1"', False),
            ],
        )
        assert got == [
            (1, "$addToSet", "allowedNumbersArray", "1"),
            (2, "$addToSet", "allowedNumbersArray", "1"),
            (3, "$addToSet", "allowedNumbersArray", "1"),
            (4, "$push", "allowedNumbersArray", "1"),
            (5, "$push", "allowedNumbersArray", "1"),
            (6, "$push", "allowedNumbersArray", "1"),
        ]

    def test_each_blocks(self, spark):
        got = mclean(
            spark,
            [
                (1, "$addToSet", "allowedNumbersArray", '{"$each": [1, 2, 3]}', False),
                (2, "$addToSet", "allowedNumbersArray", '{"$each": [1, 2, 3]}', False),
                (2, "$addToSet", "admin", '{"$each": [1, 2, 3]}', False),
                (3, "$addToSet", "allowedNumbersArray", '{"$each": ["1", 2, 3]}', False),
                (4, "$push", "allowedNumbersArray", '{"$each": ["1", 2, 3]}', False),
            ],
        )
        assert got == [
            (1, "$addToSet", "allowedNumbersArray", '{"$each": [1, 2, 3]}'),
            (2, "$addToSet", "allowedNumbersArray", '{"$each": [1, 2, 3]}'),
            (3, "$addToSet", "allowedNumbersArray", '{"$each": [1, 2, 3]}'),
            (4, "$push", "allowedNumbersArray", '{"$each": [1, 2, 3]}'),
        ]

    def test_pull_blocks(self, spark):
        got = mclean(
            spark,
            [
                (1, "$pull", "allowedNumbersArray", "1", False),
                # object with defaultValue child stays untouched
                (2, "$pull", "objectArray", '{"boolean": true}', False),
                (3, "$pull", "allowedNumbersArray", "1", False),
                (3, "$pull", "admin", "1", False),
                (4, "$pull", "allowedNumbersArray", '"1"', False),
                # query2: $in queries pass through, even with convertible
                # strings inside, even nested under a field name
                (5, "$pull", "allowedNumbersArray", '{"$in": [1]}', False),
                (6, "$pull", "allowedNumbersArray", '{"$in": ["1"]}', False),
                (7, "$pull", "allowedNumbersArray", '{"foo": {"$in": [1]}}', False),
            ],
        )
        assert got == [
            (1, "$pull", "allowedNumbersArray", "1"),
            (2, "$pull", "objectArray", '{"boolean": true}'),
            (3, "$pull", "allowedNumbersArray", "1"),
            (4, "$pull", "allowedNumbersArray", "1"),
            (5, "$pull", "allowedNumbersArray", '{"$in": [1]}'),
            (6, "$pull", "allowedNumbersArray", '{"$in": ["1"]}'),
            (7, "$pull", "allowedNumbersArray", '{"foo": {"$in": [1]}}'),
        ]

    def test_pop_and_pull_all_blocks(self, spark):
        got = mclean(
            spark,
            [
                (1, "$pop", "allowedNumbersArray", "1", False),
                (2, "$pop", "allowedNumbersArray", "1", False),
                (2, "$pop", "admin", "1", False),
                (3, "$pop", "allowedNumbersArray", '"1"', False),
                (4, "$pullAll", "allowedNumbersArray", "[1, 2, 3]", False),
                (5, "$pullAll", "allowedNumbersArray", '["1", 2, 3]', False),
            ],
        )
        assert got == [
            (1, "$pop", "allowedNumbersArray", "1"),
            (2, "$pop", "allowedNumbersArray", "1"),
            (3, "$pop", "allowedNumbersArray", "1"),
            (4, "$pullAll", "allowedNumbersArray", "[1, 2, 3]"),
            (5, "$pullAll", "allowedNumbersArray", "[1, 2, 3]"),
        ]


class TestParityBlackbox:
    """clean.tests.ts:625-705 — nothing inside a blackbox value is
    filtered, converted, or trimmed; positional paths under a blackbox
    prefix survive the unknown-key filter."""

    def test_blackbox_modifier_passthrough(self, spark):
        got = mclean(
            spark,
            [
                (4, "$set", "blackBoxObject", '{"foo": 1}', False),
                (5, "$set", "blackBoxObject", '{"foo": [1]}', False),
                (6, "$set", "blackBoxObject", '{"foo": [{"bar": 1}]}', False),
                (7, "$set", "blackBoxObject.email.verificationTokens.$",
                 '{"token": "Hi"}', False),
                (8, "$set", "blackBoxObject.email.verificationTokens.$.token",
                 '"Hi"', False),
                (9, "$push", "blackBoxObject.email.verificationTokens",
                 '{"token": "Hi"}', False),
            ],
        )
        assert got == [
            (4, "$set", "blackBoxObject", '{"foo": 1}'),
            (5, "$set", "blackBoxObject", '{"foo": [1]}'),
            (6, "$set", "blackBoxObject", '{"foo": [{"bar": 1}]}'),
            (7, "$set", "blackBoxObject.email.verificationTokens.$",
             '{"token": "Hi"}'),
            (8, "$set", "blackBoxObject.email.verificationTokens.$.token",
             '"Hi"'),
            (9, "$push", "blackBoxObject.email.verificationTokens",
             '{"token": "Hi"}'),
        ]

    def test_blackbox_doc_passthrough(self, spark):
        # blocks 1-3: doc-mode blackbox content kept byte-identical; the
        # columnar analog is an untyped JSON-string column
        ss = SimpleSchema(
            {"blackBoxObject": {"type": SimpleSchema.Object, "optional": True,
                                "blackbox": True}}
        )
        df = spark.createDataFrame(
            [('{"foo": [{"bar": 1}]}',)], "blackBoxObject string"
        )
        out = clean(df, ss)
        assert out.collect()[0][0] == '{"foo": [{"bar": 1}]}'


class TestParityTrimSweep:
    """clean.tests.ts:707-822 — trimStrings alone (filter/autoConvert/
    removeEmptyStrings/getAutoValues all off) across every operator."""

    OPTS = dict(
        filter=False,
        auto_convert=False,
        remove_empty_strings=False,
        get_auto_values=False,
    )
    PAD = '"    This is a string    "'
    TRIMMED = '"This is a string"'

    def test_trim_sweep(self, spark):
        got = mclean(
            spark,
            [
                (1, "$set", "string", self.PAD, False),
                (2, "$unset", "string", self.PAD, False),
                (3, "$setOnInsert", "string", self.PAD, False),
                (4, "$addToSet", "minMaxStringArray", self.PAD, False),
                (5, "$addToSet", "minMaxStringArray",
                 '{"$each": [' + self.PAD + "]}", False),
                (6, "$push", "minMaxStringArray", self.PAD, False),
                (7, "$push", "minMaxStringArray",
                 '{"$each": [' + self.PAD + "]}", False),
                (8, "$pull", "minMaxStringArray", self.PAD, False),
                (9, "$pop", "minMaxStringArray", self.PAD, False),
                (10, "$pullAll", "minMaxStringArray", "[" + self.PAD + "]", False),
                (11, "$set", "noTrimString", self.PAD, False),
            ],
            **self.OPTS,
        )
        assert got == [
            (1, "$set", "string", self.TRIMMED),
            (2, "$unset", "string", self.PAD),  # $unset values never touched
            (3, "$setOnInsert", "string", self.TRIMMED),
            (4, "$addToSet", "minMaxStringArray", self.TRIMMED),
            (5, "$addToSet", "minMaxStringArray",
             '{"$each": [' + self.TRIMMED + "]}"),
            (6, "$push", "minMaxStringArray", self.TRIMMED),
            (7, "$push", "minMaxStringArray",
             '{"$each": [' + self.TRIMMED + "]}"),
            (8, "$pull", "minMaxStringArray", self.TRIMMED),
            (9, "$pop", "minMaxStringArray", self.TRIMMED),
            (10, "$pullAll", "minMaxStringArray", "[" + self.TRIMMED + "]"),
            (11, "$set", "noTrimString", self.PAD),  # trim: False respected
        ]

    def test_trim_false_with_autoconvert_doc(self, spark):
        # the final clean.tests.ts case: trim:false survives autoConvert on
        ss = ref_schema()
        df = spark.createDataFrame(
            [("    This is a string    ",)], "noTrimString string"
        )
        out = clean(df, ss, get_auto_values=False)
        assert out.collect()[0][0] == "    This is a string    "


class TestParityMisc:
    """clean.tests.ts:824-980 miscellaneous + sub-schema blocks."""

    def test_no_unset_within_object_being_set(self, spark):
        # removeEmptyStrings inside a $set OBJECT drops the field rather
        # than generating a nested $unset (clean.tests.ts:825)
        ss = SimpleSchema(
            {
                "requiredObj": {"type": SimpleSchema.Object},
                "requiredObj.optionalProp": {"type": str, "optional": True},
                "requiredObj.requiredProp": {"type": str},
            }
        )
        got = mclean(
            spark,
            [(1, "$set", "requiredObj",
              '{"requiredProp": "blah", "optionalProp": ""}', False)],
            ss,
        )
        assert got == [(1, "$set", "requiredObj", '{"requiredProp": "blah"}')]

    def test_type_convert_to_array_modifier(self, spark):
        got = mclean(
            spark, [(1, "$set", "allowedStringsArray", '"tuna"', False)]
        )
        assert got == [(1, "$set", "allowedStringsArray", '["tuna"]')]

    def test_type_convert_to_array_doc(self, spark):
        ss = SimpleSchema(
            {
                "allowedStringsArray": {"type": SimpleSchema.Array, "optional": True},
                "allowedStringsArray.$": {"type": str},
            }
        )
        df = spark.createDataFrame([("tuna",)], "allowedStringsArray string")
        assert clean(df, ss).collect()[0][0] == ["tuna"]

    def test_multi_dimensional_arrays_doc(self, spark):
        ss = SimpleSchema(
            {
                "geometry": {"type": SimpleSchema.Object, "optional": True},
                "geometry.coordinates": {"type": SimpleSchema.Array},
                "geometry.coordinates.$": {"type": SimpleSchema.Array},
                "geometry.coordinates.$.$": {"type": SimpleSchema.Array},
                "geometry.coordinates.$.$.$": {"type": int},
            }
        )
        df = spark.createDataFrame(
            [(([[[30, 50]]],),)],
            "geometry struct<coordinates: array<array<array<bigint>>>>",
        )
        out = clean(df, ss)
        assert out.collect()[0].geometry.coordinates == [[[30, 50]]]

    def test_remove_nulls_from_arrays_modifier(self, spark):
        # removeNullsFromArrays removes null elements but never non-null
        # objects (clean.tests.ts:889,907)
        ss = SimpleSchema(
            {
                "names": {"type": SimpleSchema.Array, "optional": True},
                "names.$": {"type": str},
                "a": {"type": SimpleSchema.Array, "optional": True},
                "a.$": {"type": SimpleSchema.Object},
                "a.$.b": {"type": float},
            }
        )
        got = mclean(
            spark,
            [
                (1, "$set", "names", '[null, "foo", null]', False),
                (2, "$set", "a", '[{"b": 1}]', False),
            ],
            ss,
            remove_nulls_from_arrays=True,
        )
        assert got == [
            (1, "$set", "names", '["foo"]'),
            (2, "$set", "a", '[{"b":1}]'),
        ]

    def test_sub_schema_clean_doc(self, spark):
        # 'should clean sub schemas' (clean.tests.ts:947) — a nested
        # SimpleSchema used as an array item type still converts leaves
        double_nested = SimpleSchema({"integer": {"type": int}})
        nested = SimpleSchema({"doubleNested": {"type": double_nested}})
        ss = SimpleSchema(
            {"nested": {"type": SimpleSchema.Array}, "nested.$": {"type": nested}}
        )
        df = spark.createDataFrame(
            [([{"doubleNested": {"integer": "1"}}],)],
            "nested array<struct<doubleNested: struct<integer: string>>>",
        )
        row = clean(df, ss).collect()[0]
        assert row.nested[0].doubleNested.integer == 1


class TestParityOneOf:
    """clean.tests.ts:982-1138 — autoConvert leaves any value matching one
    of the oneOf alternatives alone; converts toward the first type only
    when nothing matches.  Date→string conversions render ISO-8601 (this
    engine's canonical form) instead of JS locale toString."""

    def _ss(self):
        return SimpleSchema(
            {
                "field": {
                    "type": SimpleSchema.oneOf(str, float, SimpleSchema.Date)
                },
                "nested": {"type": SimpleSchema.Object},
                "nested.field": {
                    "type": SimpleSchema.oneOf(str, float, SimpleSchema.Date),
                    "optional": True,
                },
            }
        )

    def test_modifier_no_conversion(self, spark):
        got = mclean(
            spark,
            [
                (1, "$set", "field", '"I am a string"', False),
                (2, "$set", "field", "12345", False),
                (3, "$set", "field", '{"$date": "1970-01-01T00:00:12.345Z"}', False),
                (4, "$set", "nested.field", '"I am a string"', False),
                (5, "$set", "nested.field", "12345", False),
                (6, "$set", "nested.field",
                 '{"$date": "1970-01-01T00:00:12.345Z"}', False),
            ],
            self._ss(),
        )
        assert got == [
            (1, "$set", "field", '"I am a string"'),
            (2, "$set", "field", "12345"),
            (3, "$set", "field", '{"$date": "1970-01-01T00:00:12.345Z"}'),
            (4, "$set", "nested.field", '"I am a string"'),
            (5, "$set", "nested.field", "12345"),
            (6, "$set", "nested.field", '{"$date": "1970-01-01T00:00:12.345Z"}'),
        ]

    def test_modifier_conversions_when_type_absent(self, spark):
        ss = SimpleSchema(
            {
                "noDate": {"type": SimpleSchema.oneOf(str, float), "optional": True},
                "noString": {
                    "type": SimpleSchema.oneOf(float, SimpleSchema.Date),
                    "optional": True,
                },
                "noNumber": {
                    "type": SimpleSchema.oneOf(str, SimpleSchema.Date),
                    "optional": True,
                },
            }
        )
        got = mclean(
            spark,
            [
                (1, "$set", "noDate", '{"$date": "1970-01-01T00:00:12.345Z"}', False),
                (2, "$set", "noString", '"12345"', False),
                (3, "$set", "noNumber", "12345", False),
            ],
            ss,
        )
        assert got == [
            (1, "$set", "noDate", '"1970-01-01T00:00:12.345Z"'),
            (2, "$set", "noString", "12345"),
            (3, "$set", "noNumber", '"12345"'),
        ]


#: the value came out of clean as it went in
UNCHANGED = object()


def decode(token):
    """A cleaned JSON token as a Python value (extended-JSON dates as naive
    UTC datetimes, like the typed timestamps of the UTC test session)."""
    v = json.loads(token)
    if isinstance(v, dict) and set(v) == {"$date"}:
        return datetime.datetime.fromisoformat(v["$date"].replace("Z", "+00:00")).replace(tzinfo=None)
    return v


class TestParityConvertToProperType:
    """clean/convertToProperType.tests.ts — boolean coercions over typed
    columns (the doc-mode analog of the unit tests), and every conversion
    run both as a typed column and as a ``$set`` row: the two modes share
    one conversion table and must agree."""

    # (definition, typed column DDL, typed value, JSON token, expected);
    # UNCHANGED: the typed column is NULL (it cannot hold the value; the
    # composed pipeline reports the original) and the token is kept
    BOTH_MODES = [
        (str, "double", 1.0, "1.0", "1"),
        (float, "string", "  ", '"  "', 0),
        (bool, "int", 0, "0", False),
        (bool, "int", 2, "2", True),
        (SimpleSchema.Date, "string", "2024-01-02T03:04:05Z", '"2024-01-02T03:04:05Z"',
         datetime.datetime(2024, 1, 2, 3, 4, 5)),
        (SimpleSchema.Date, "bigint", 86400000, "86400000", datetime.datetime(1970, 1, 2)),
        (bool, "string", "nope", '"nope"', UNCHANGED),
        (bool, "double", float("nan"), "NaN", UNCHANGED),
        # matches the second alternative: left alone
        (SimpleSchema.oneOf(str, float), "bigint", 5, "5", 5),
    ]

    @pytest.mark.parametrize("type_, ddl, value, token, want", BOTH_MODES)
    def test_typed_and_token_modes_convert_alike(self, spark, type_, ddl, value, token, want):
        ss = SimpleSchema({"k": {"type": type_, "optional": True}})
        df = spark.createDataFrame([(value,)], f"k {ddl}")
        typed = clean(df, ss, get_auto_values=False).collect()[0][0]
        [(_, op, _, out)] = mclean(spark, [(1, "$set", "k", token, False)], ss)
        assert op == "$set"
        if want is UNCHANGED:
            assert typed is None
            assert out == token
        else:
            # a bool equals 0/1 in Python: compare the bool-ness too
            for got in (typed, decode(out)):
                assert (isinstance(got, bool), got) == (isinstance(want, bool), want)

    def test_integer_alternative_takes_only_integral_numbers(self, spark):
        # token mode only: a double column matches Integer at compile time,
        # but isValueTypeValid rejects 2.5 for Integer, so it converts
        # toward the first type
        ss = SimpleSchema({"k": {"type": SimpleSchema.oneOf(str, SimpleSchema.Integer)}})
        assert mclean(spark, [(1, "$set", "k", "2.5", False), (2, "$set", "k", "3", False)], ss) == [
            (1, "$set", "k", '"2.5"'),
            (2, "$set", "k", "3"),
        ]

    def test_boolean_coercions(self, spark):
        ss = SimpleSchema({"b": {"type": bool, "optional": True}})
        df = spark.createDataFrame(
            [("false",), ("FALSE",), ("true",), ("TRUE",), ("nope",), (None,)],
            "b string",
        )
        assert [r.b for r in clean(df, ss).collect()] == [
            False, False, True, True, None, None,
        ]

    def test_number_to_boolean_and_nan(self, spark):
        ss = SimpleSchema({"b": {"type": bool, "optional": True}})
        df = spark.createDataFrame(
            [(1.0,), (0.0,), (float("nan"),)], "b double"
        )
        got = [r.b for r in clean(df, ss).collect()]
        # NaN is never converted (convertToProperType.tests.ts:32)
        assert got == [True, False, None]


class TestParityDefaultValueModifier:
    """clean/defaultValue.tests.ts:229-845 — positional defaultValue over
    modifier tables: injection into $set objects and pushed items, dotted
    $setOnInsert synthesis on upsert, parent-created composition."""

    def test_adds_to_set_object(self, spark):
        ss = SimpleSchema(
            {
                "obj": {"type": SimpleSchema.Object},
                "obj.a": {"type": float, "optional": True},
                "obj.b": {"type": float, "optional": True, "defaultValue": 10},
            }
        )
        got = mclean(spark, [(1, "$set", "obj", '{"a": 1}', False)], ss)
        assert got == [(1, "$set", "obj", '{"a": 1, "b": 10}')]

    def test_adds_to_set_object_with_dotted_prop(self, spark):
        ss = SimpleSchema(
            {
                "obj": {"type": SimpleSchema.Object},
                "obj.a": {"type": SimpleSchema.Object, "optional": True},
                "obj.a.foo": {"type": float, "optional": True, "defaultValue": 20},
                "obj.b": {"type": float, "optional": True, "defaultValue": 10},
            }
        )
        got = mclean(spark, [(1, "$set", "obj.a", "{}", True)], ss)
        assert got == [
            (1, "$set", "obj.a", '{"foo": 20}'),
            (1, "$setOnInsert", "obj.b", "10"),
        ]

    def test_dotted_prop_and_array(self, spark):
        ss = SimpleSchema(
            {
                "obj": {"type": SimpleSchema.Object},
                "obj.a": {"type": SimpleSchema.Object, "optional": True},
                "obj.a.foo": {"type": SimpleSchema.Array, "optional": True},
                "obj.a.foo.$": {"type": SimpleSchema.Object},
                "obj.a.foo.$.bar": {
                    "type": float, "optional": True, "defaultValue": 200
                },
            }
        )
        assert mclean(spark, [(1, "$set", "obj.a", "{}", False)], ss) == [
            (1, "$set", "obj.a", "{}")
        ]
        assert mclean(spark, [(1, "$set", "obj.a", '{"foo": []}', False)], ss) == [
            (1, "$set", "obj.a", '{"foo": []}')
        ]
        assert mclean(
            spark, [(1, "$set", "obj.a", '{"foo": [{}, {}]}', False)], ss
        ) == [(1, "$set", "obj.a", '{"foo": [{"bar": 200}, {"bar": 200}]}')]

    def test_set_on_insert_for_sibling_props(self, spark):
        ss = SimpleSchema(
            {
                "obj": {"type": SimpleSchema.Object},
                "obj.a": {"type": float, "optional": True},
                "obj.b": {"type": float, "optional": True, "defaultValue": 10},
                "obj.c": {"type": float, "optional": True, "defaultValue": 50},
            }
        )
        got = mclean(
            spark,
            [(1, "$set", "obj.a", "100", True), (1, "$set", "obj.c", "2", True)],
            ss,
        )
        assert got == [
            (1, "$set", "obj.a", "100"),
            (1, "$set", "obj.c", "2"),
            (1, "$setOnInsert", "obj.b", "10"),
        ]

    def test_set_on_insert_for_sibling_child_prop(self, spark):
        ss = SimpleSchema(
            {
                "obj": {"type": SimpleSchema.Object},
                "obj.a": {"type": SimpleSchema.Object, "optional": True},
                "obj.a.one": {"type": float, "optional": True, "defaultValue": 500},
                "obj.a.two": {"type": float, "optional": True, "defaultValue": 1000},
                "obj.b": {"type": float, "optional": True, "defaultValue": 10},
                "obj.c": {"type": float, "optional": True, "defaultValue": 50},
            }
        )
        got = mclean(spark, [(1, "$set", "obj.a.one", "100", True)], ss)
        assert got == [
            (1, "$set", "obj.a.one", "100"),
            (1, "$setOnInsert", "obj.a.two", "1000"),
            (1, "$setOnInsert", "obj.b", "10"),
            (1, "$setOnInsert", "obj.c", "50"),
        ]

    def test_set_on_insert_top_level(self, spark):
        ss = SimpleSchema(
            {
                "foo": {"type": str, "defaultValue": "Test"},
                "names": {"type": SimpleSchema.Array, "optional": True},
                "names.$": {"type": str},
            }
        )
        got = mclean(spark, [(1, "$addToSet", "names", '"new value"', True)], ss)
        assert got == [
            (1, "$addToSet", "names", '"new value"'),
            (1, "$setOnInsert", "foo", '"Test"'),
        ]

    def test_defaults_added_to_pushed_object(self, spark):
        ss = SimpleSchema(
            {
                "things": {"type": SimpleSchema.Array},
                "things.$": {"type": SimpleSchema.Object},
                "things.$.a": {"type": str, "defaultValue": "foo"},
                "things.$.b": {"type": str, "defaultValue": "bar"},
            }
        )
        got = mclean(spark, [(1, "$push", "things", "{}", False)], ss)
        assert got == [(1, "$push", "things", '{"a": "foo", "b": "bar"}')]

    def _settings_schema(self, obj2_default):
        d = {
            "settings": {
                "type": SimpleSchema.Object, "optional": True, "defaultValue": {}
            },
            "settings.bool": {"type": bool, "defaultValue": False},
            "settings.obj": {
                "type": SimpleSchema.Object, "optional": True, "defaultValue": {}
            },
            "settings.obj.bool": {
                "type": bool, "optional": True, "defaultValue": False
            },
            "settings.obj.name": {
                "type": str, "optional": True, "defaultValue": "foo"
            },
            "settings.obj2": {"type": SimpleSchema.Object, "optional": True},
            "settings.obj2.bool": {
                "type": bool, "optional": True, "defaultValue": False
            },
            "settings.obj2.name": {"type": str},
        }
        if obj2_default:
            d["settings.obj2"] = dict(d["settings.obj2"], defaultValue={})
        return SimpleSchema(d)

    def test_set_on_insert_path_notation(self, spark):
        # v1: settings.obj2 default {} composes its child default; objects
        # with a descendant entry are suppressed entirely
        got = mclean(
            spark,
            [
                (1, "$set", "settings.obj.bool", "true", True),
                (1, "$unset", "settings.obj2.name", '""', True),
            ],
            self._settings_schema(obj2_default=True),
        )
        assert got == [
            (1, "$set", "settings.obj.bool", "true"),
            (1, "$setOnInsert", "settings.bool", "false"),
            (1, "$setOnInsert", "settings.obj.name", '"foo"'),
            (1, "$setOnInsert", "settings.obj2", '{"bool": false}'),
            (1, "$unset", "settings.obj2.name", '""'),
        ]

    def test_set_on_insert_path_notation_v2(self, spark):
        # v2: without the {} default on settings.obj2, its child default
        # has no parent position ($unset creates nothing) and stays out
        got = mclean(
            spark,
            [
                (1, "$set", "settings.obj.bool", "true", True),
                (1, "$unset", "settings.obj2.name", '""', True),
            ],
            self._settings_schema(obj2_default=False),
        )
        assert got == [
            (1, "$set", "settings.obj.bool", "true"),
            (1, "$setOnInsert", "settings.bool", "false"),
            (1, "$setOnInsert", "settings.obj.name", '"foo"'),
            (1, "$unset", "settings.obj2.name", '""'),
        ]

    def test_sibling_default_for_add_to_set(self, spark):
        address = SimpleSchema(
            {
                "fullName": {"type": str},
                "address1": {"type": str},
                "address2": {"type": str},
            }
        )
        profile = SimpleSchema(
            {
                "addressBook": {"type": SimpleSchema.Array, "optional": True},
                "addressBook.$": {"type": address},
                "invited": {"type": bool, "defaultValue": False},
            }
        )
        ss = SimpleSchema(
            {"profile": {"type": profile, "optional": True}}
        )
        entry = ('{"fullName": "Sonny Hayes", "address1": "518 Nader Rapids", '
                 '"address2": "Apt. 893"}')
        got = mclean(
            spark, [(1, "$addToSet", "profile.addressBook", entry, True)], ss
        )
        assert got == [
            (1, "$addToSet", "profile.addressBook", entry),
            (1, "$setOnInsert", "profile.invited", "false"),
        ]

    def test_no_set_on_insert_without_upsert(self, spark):
        ss = SimpleSchema(
            {
                "name": {"type": str},
                "isOwner": {"type": bool, "defaultValue": True},
            }
        )
        assert mclean(spark, [(1, "$set", "name", '"Phil"', False)], ss) == [
            (1, "$set", "name", '"Phil"')
        ]
        assert mclean(spark, [(1, "$set", "name", '"Phil"', True)], ss) == [
            (1, "$set", "name", '"Phil"'),
            (1, "$setOnInsert", "isOwner", "true"),
        ]

    def test_complex_with_positional_modifier(self, spark):
        ss = SimpleSchema(
            {
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": {"type": SimpleSchema.Object},
                "items.$.foo": {"type": SimpleSchema.Object, "optional": True},
                "items.$.foo.bar": {
                    "type": str, "optional": True, "defaultValue": "TEST"
                },
            }
        )
        assert mclean(
            spark, [(1, "$set", "items.$.foo", '{"bar": "OTHER"}', False)], ss
        ) == [(1, "$set", "items.$.foo", '{"bar": "OTHER"}')]
        assert mclean(
            spark,
            [(1, "$addToSet", "items", '{"foo": {"bar": "OTHER"}}', False)],
            ss,
        ) == [(1, "$addToSet", "items", '{"foo": {"bar": "OTHER"}}')]


class TestParityAutoValue:
    """test/clean/autoValue.tests.ts golden-for-golden.

    Context-probe blocks (:9-331) return a JSON encoding of the observed
    context so the assertion lives in the test, not inside the executor.
    Columnar model boundaries (documented in tests/PARITY.md): `clean({})`
    with NO columns / NO modifier rows is not representable — probed with
    null columns / an unrelated entry instead; `parentField()` of an empty
    object sees the struct's null-filled fields, not `{}`.
    """

    def _probe_schema(self):
        # local closure, not a method: cloudpickle must ship it by VALUE —
        # executors cannot import the test module
        def probe(ctx):
            import json as _j

            return _j.dumps(
                {
                    "is_set": ctx.is_set,
                    "value": ctx.value,
                    "op": ctx.operator,
                    "foo": ctx.field("foo"),
                    "foo_sib": ctx.sibling_field("foo"),
                    "parent": ctx.parent_field(),
                },
                sort_keys=True,
            )

        return SimpleSchema(
            {
                "foo": {"type": str, "optional": True},
                "bar": {"type": str, "optional": True, "autoValue": probe},
            }
        )

    def test_ctx_empty(self, spark):
        # 'empty' (:9) — nothing set anywhere
        import json

        df = spark.createDataFrame([(None, None)], "foo string, bar string")
        got = json.loads(clean(df, self._probe_schema()).collect()[0].bar)
        assert got == {
            "is_set": False,
            "value": None,
            "op": None,
            "foo": None,
            "foo_sib": None,
            "parent": None,
        }

    def test_ctx_normal_other_key(self, spark):
        # 'normal other key' (:51) — field()/siblingField() see foo
        import json

        df = spark.createDataFrame([("clown", None)], "foo string, bar string")
        got = json.loads(clean(df, self._probe_schema()).collect()[0].bar)
        assert got["foo"] == "clown" and got["foo_sib"] == "clown"
        assert got["is_set"] is False and got["op"] is None

    def test_ctx_normal_self_and_other_key(self, spark):
        # 'normal self and other key' (:93)
        import json

        df = spark.createDataFrame([("clown", "x")], "foo string, bar string")
        got = json.loads(clean(df, self._probe_schema()).collect()[0].bar)
        assert got["is_set"] is True and got["value"] == "x"
        assert got["op"] is None and got["foo"] == "clown"

    def test_ctx_parent_field(self, spark):
        # 'parentField' (:136) — foo.bar's autoValue sees the containing
        # object (columnar: the struct's fields, null-filled, not `{}`)
        def probe(ctx):
            import json as _j

            return _j.dumps(ctx.parent_field(), sort_keys=True)

        ss = SimpleSchema(
            {
                "foo": {"type": SimpleSchema.Object, "optional": True},
                "foo.bar": {"type": str, "optional": True, "autoValue": probe},
            }
        )
        df = spark.createDataFrame(
            [((None,),)], "foo struct<bar: string>"
        )
        row = clean(df, ss).collect()[0]
        assert row.foo.bar == '{"bar": null}'

    def test_ctx_unset_removes(self, spark):
        # 'normal self and no other key with unset' (:181) → clean → {}
        def strip(ctx):
            assert ctx.is_set and ctx.value is False
            ctx.unset()
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "foo": {"type": str, "optional": True},
                "bar": {"type": bool, "optional": True, "autoValue": strip},
            }
        )
        df = spark.createDataFrame([(None, False)], "foo string, bar boolean")
        assert clean(df, ss).collect()[0].bar is None

    def test_ctx_set_self_modifier(self, spark):
        # '$set self and no other key' (:226) + '$set self and another key
        # and change self' (:277): operator '$set', foo visible, return
        # changes self in place
        import json

        got = mclean(
            spark,
            [
                (1, "$set", "bar", '"false"', False),
                (2, "$set", "foo", '"clown"', False),
                (2, "$set", "bar", '"false"', False),
            ],
            self._probe_schema(),
        )
        by_doc = {(d, k): (o, v) for (d, o, k, v) in got}
        one = json.loads(json.loads(by_doc[(1, "bar")][1]))
        assert one["is_set"] is True and one["op"] == "$set"
        assert one["value"] == "false" and one["foo"] is None
        two = json.loads(json.loads(by_doc[(2, "bar")][1]))
        assert two["foo"] == "clown" and two["foo_sib"] == "clown"
        assert by_doc[(2, "foo")] == ("$set", '"clown"')

    def test_ctx_adds_set_when_missing(self, spark):
        # 'adds $set when missing' (:331) — key unreferenced in a modifier
        # → would-be position with operator '$set'; returned value lands as
        # a $set entry.  (A zero-row modifier doc is not representable in
        # the long format — an unrelated $set stands in for `{}`.)
        def fill(ctx):
            assert ctx.operator == "$set" and not ctx.is_set
            return True

        ss = SimpleSchema(
            {
                "foo": {"type": str, "optional": True},
                "bar": {"type": bool, "optional": True, "autoValue": fill},
            }
        )
        got = mclean(spark, [(1, "$set", "foo", '"x"', False)], ss)
        assert (1, "$set", "bar", "true") in got

    def test_content_auto_values_doc(self, spark):
        # 'content autoValues' (:381), normal-object half
        def history(ctx):
            content = ctx.field("content")
            if content is not None:
                return [{"date": "2017-01-01T00:00:00.000Z", "content": content}]
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "content": {"type": str, "optional": True},
                "updatesHistory": {
                    "type": SimpleSchema.Array,
                    "optional": True,
                    "autoValue": history,
                },
                "updatesHistory.$": {"type": SimpleSchema.Object},
                "updatesHistory.$.date": {"type": str, "optional": True},
                "updatesHistory.$.content": {"type": str, "optional": True},
            }
        )
        df = spark.createDataFrame(
            [("foo", None)],
            "content string, updatesHistory array<struct<date: string, content: string>>",
        )
        row = clean(df, ss).collect()[0]
        assert [e.asDict() for e in row.updatesHistory] == [
            {"date": "2017-01-01T00:00:00.000Z", "content": "foo"}
        ]

    def test_content_auto_values_modifier(self, spark):
        # 'content autoValues' (:381), $set half → $push pseudo-modifier
        def history(ctx):
            content = ctx.field("content")
            if content is not None:
                if ctx.operator is None:
                    return [{"date": "D", "content": content}]
                return {"$push": {"date": "D", "content": content}}
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "content": {"type": str, "optional": True},
                "updatesHistory": {
                    "type": SimpleSchema.Array,
                    "optional": True,
                    "autoValue": history,
                },
                "updatesHistory.$": {"type": SimpleSchema.Object},
                "updatesHistory.$.date": {"type": str, "optional": True},
                "updatesHistory.$.content": {"type": str, "optional": True},
            }
        )
        got = mclean(spark, [(1, "$set", "content", '"foo"', False)], ss)
        assert got == [
            (1, "$push", "updatesHistory", '{"date": "D", "content": "foo"}'),
            (1, "$set", "content", '"foo"'),
        ]

    def test_simple_auto_values_doc(self, spark):
        # 'simple autoValues' (:547), the two normal-object halves
        def some_default(ctx):
            if not ctx.is_set:
                return 5
            return ctx.UNCHANGED

        def update_count(ctx):
            if ctx.operator is None:
                return 0
            return {"$inc": 1}

        def first_word(ctx):
            content = ctx.field("content")
            if content is not None:
                return content.split(" ")[0]
            ctx.unset()
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "content": {"type": str, "optional": True},
                "name": {"type": str},
                "someDefault": {"type": int, "autoValue": some_default},
                "updateCount": {"type": int, "autoValue": update_count},
                "firstWord": {"type": str, "optional": True,
                              "autoValue": first_word},
            }
        )
        ddl = ("content string, name string, someDefault bigint, "
               "updateCount bigint, firstWord string")
        r1 = clean(
            spark.createDataFrame(
                [(None, "Test", None, None, "Illegal to manually set value")],
                ddl,
            ),
            ss,
        ).collect()[0]
        assert (r1.name, r1.someDefault, r1.updateCount, r1.firstWord) == (
            "Test", 5, 0, None,
        )
        r2 = clean(
            spark.createDataFrame([(None, "Test", 20, None, None)], ddl), ss
        ).collect()[0]
        assert (r2.someDefault, r2.updateCount) == (20, 0)

    def test_objects_in_arrays_positional_set(self, spark):
        # 'objects in arrays' (:618) — $set 'children.$.value' overridden
        def override(ctx):
            assert ctx.is_set and ctx.operator == "$set"
            assert ctx.value == "should be overridden by autoValue"
            return "autoValue"

        ss = SimpleSchema(
            {
                "children": {"type": SimpleSchema.Array},
                "children.$": {"type": SimpleSchema.Object},
                "children.$.value": {"type": str, "autoValue": override},
            }
        )
        got = mclean(
            spark,
            [(1, "$set", "children.$.value",
              '"should be overridden by autoValue"', False)],
            ss,
        )
        assert got == [(1, "$set", "children.$.value", '"autoValue"')]

    def test_operator_correct_for_pull(self, spark):
        # 'operator correct for $pull' (:652) — the fn RUNS and sees
        # operator '$pull'; the pseudo-modifier return proves both
        def observe(ctx):
            return {"$pull": "ran-" + (ctx.operator or "none")}

        ss = SimpleSchema(
            {
                "foo": {"type": SimpleSchema.Array, "autoValue": observe},
                "foo.$": {"type": str},
            }
        )
        got = mclean(spark, [(1, "$pull", "foo", '"bar"', False)], ss)
        assert got == [(1, "$pull", "foo", '"ran-$pull"')]

    def test_issue_340_cross_field_both_modes(self, spark):
        # 'issue 340' (:677) — field()/siblingField() resolve in doc AND
        # $set modes
        def derive(ctx):
            return f"foo-{ctx.field('field1')}-{ctx.sibling_field('field1')}"

        ss = SimpleSchema(
            {
                "field1": {"type": int},
                "field2": {"type": str, "optional": True, "autoValue": derive},
            }
        )
        df = spark.createDataFrame([(1, None)], "field1 bigint, field2 string")
        assert clean(df, ss).collect()[0].field2 == "foo-1-1"
        got = mclean(spark, [(7, "$set", "field1", "1", False)], ss)
        assert (7, "$set", "field2", '"foo-1-1"') in got

    def test_previous_auto_value_visible_to_later(self, spark):
        # 'should allow getting previous autoValue in later autoValue'
        # (:707) — also exercises constructor-level clean options
        def tax(ctx):
            return 0.5

        def total(ctx):
            return (ctx.field("amount") or 0) * (1 + (ctx.field("tax") or 0))

        ss = SimpleSchema(
            {
                "amount": {"type": float},
                "tax": {"type": float, "optional": True, "autoValue": tax},
                "total": {"type": float, "optional": True, "autoValue": total},
            },
            clean_options={"filter": False, "auto_convert": False},
        )
        df = spark.createDataFrame(
            [(1.0, None, None)], "amount double, tax double, total double"
        )
        row = clean(df, ss).collect()[0]
        assert (row.amount, row.tax, row.total) == (1.0, 0.5, 1.5)

    def test_clean_options_merged_when_extending(self, spark):
        # 'clean options should be merged when extending' (:743) —
        # autoConvert stays OFF through extend: the int is not stringified
        ss1 = SimpleSchema(
            {"a": str}, clean_options={"filter": False, "auto_convert": False}
        )
        ss2 = SimpleSchema({})
        ss2.extend(ss1)
        df = spark.createDataFrame([(1,)], "a bigint")
        row = clean(df, ss2).collect()[0]
        assert row.a == 1 and dict(clean(df, ss2).dtypes)["a"] == "bigint"
        # same schema WITHOUT the options converts
        ss3 = SimpleSchema({"a": str})
        assert clean(df, ss3).collect()[0].a == "1"

    def test_array_items_lowercase(self, spark):
        # 'array items' (:762)
        def lower(ctx):
            if ctx.is_set:
                return ctx.value.lower()
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "i": {"type": int, "optional": True},
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "autoValue": lower},
            }
        )
        df = spark.createDataFrame(
            [(1, []), (2, ["FOO", "BAR"])], "i bigint, tags array<string>"
        )
        got = {r.i: r.tags for r in clean(df, ss).collect()}
        assert got == {1: [], 2: ["foo", "bar"]}

    def test_deeply_nested_plain(self, spark):
        # 'updates existing objects when deeply nested (plain)' (:791) +
        # the sub-schema composition variant (:940) — flattened keys are
        # the same schema after extend, so one golden covers both
        def default5(ctx):
            if ctx.value is None:
                return 5
            return ctx.UNCHANGED

        double_nested = SimpleSchema(
            {"integer": {"type": int, "autoValue": default5}}
        )
        nested = SimpleSchema({"doubleNested": {"type": double_nested}})
        ss = SimpleSchema(
            {
                "nested": {"type": SimpleSchema.Array},
                "nested.$": {"type": nested},
            }
        )
        df = spark.createDataFrame(
            [([{"doubleNested": {"integer": "8"}}, {"doubleNested": {"integer": None}}],)],
            "nested array<struct<doubleNested: struct<integer: string>>>",
        )
        row = clean(df, ss).collect()[0]
        got = [e.doubleNested.integer for e in row.nested]
        assert got == [8, 5]

    def test_deeply_nested_empty_set_composes(self, spark):
        # 'updates deeply nested with empty $set' (:869) — parent autoValue
        # emits {}, child injects into it (parents-first)
        def empty_obj(ctx):
            if ctx.value is None:
                return {}
            return ctx.UNCHANGED

        def default5(ctx):
            if ctx.value is None:
                return 5
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "nested": {"type": SimpleSchema.Array},
                "nested.$": {"type": SimpleSchema.Object},
                "nested.$.doubleNested": {
                    "type": SimpleSchema.Object, "autoValue": empty_obj
                },
                "nested.$.doubleNested.integer": {
                    "type": int, "autoValue": default5
                },
            }
        )
        got = mclean(spark, [(1, "$set", "nested", "[{}]", False)], ss)
        assert got == [
            (1, "$set", "nested", '[{"doubleNested": {"integer": 5}}]')
        ]

    def test_deeply_nested_dotted_array_key(self, spark):
        # 'updates deeply nested with $set having dotted array key' (:910)
        def default5(ctx):
            if ctx.value is None:
                return 5
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "nested": {"type": SimpleSchema.Array},
                "nested.$": {"type": SimpleSchema.Object},
                "nested.$.doubleNested": {"type": SimpleSchema.Object},
                "nested.$.doubleNested.integer": {
                    "type": int, "autoValue": default5
                },
            }
        )
        got = mclean(
            spark, [(1, "$set", "nested.0.doubleNested", "{}", False)], ss
        )
        assert got == [
            (1, "$set", "nested.0.doubleNested", '{"integer": 5}')
        ]

    def test_auto_values_do_not_bleed_after_extend(self, spark):
        # 'after cleaning with one extended, autoValues do not bleed over'
        # (:1030) — upsert defaults replayed through BOTH schemas TWICE:
        # schema2's obj.b default must not mutate schema1's shared {} default
        ss1 = SimpleSchema(
            {
                "n": {"type": float},
                "obj": {
                    "type": SimpleSchema.Object,
                    "defaultValue": {},
                },
            }
        )
        ss2 = ss1.clone().extend(
            {"obj.b": {"type": int, "defaultValue": 1}}
        )
        for _ in range(2):
            got1 = mclean(
                spark, [(1, "$set", "n", "1", True)], ss1
            )
            assert (1, "$setOnInsert", "obj", "{}") in got1
            got2 = mclean(
                spark, [(1, "$set", "n", "1", True)], ss2
            )
            assert (1, "$setOnInsert", "obj", '{"b": 1}') in got2
