"""MongoDB-style update-modifier validation over a long-format table.

The reference's distinguishing feature (README:13,173-193): a modifier
document is validated so the stored document AFTER applying it would be
valid.  Dispatch table: ``src/doValidation.ts:40-86``; required decision
table: ``src/validation/requiredValidator.ts:13-61``; ``$push``/``$addToSet``
item validation incl. ``$each``: ``doValidation.ts:52-58``; removal ops
skipped: ``doValidation.ts:9-12``.

Relational encoding (FIXTURES.md F6): one row per (document, operator, key)::

    (doc_id string/bigint, op string, key_path string, value string, upsert boolean)

``value`` is JSON; dates use extended-JSON ``{"$date": "ISO-8601"}``.

Execution shape: ``validate_modifier_table`` is ONE projection over the long
table (all per-row rules are a CASE WHEN forest over the generic key) plus,
when the schema has required keys, ONE ``groupBy(doc)`` over the upsert
``$set``/``$setOnInsert`` rows: it collects the keys present (even as null)
and the keys with a value, and ``array_except`` of the compile-time
required-key list against present ∪ ancestors(valued) is exploded into
``required`` rows — the relational form of getKeysWithValueInObj,
``src/utility/index.ts:46-64``.  Object-valued ``$set`` expansion is a
union of projections over the same input; the only other shuffle is the
join that attaches a document's entries, paid only when a cross-field
validator exists.
``clean_modifier_table`` parses each value once (``try_parse_json`` into a
variant column of a decode projection) under one cleaning projection, plus,
when autoValues or defaultValues exist, one ``groupBy(doc)`` that runs the
Arrow UDF once per document and resolves kept and added rows with array
functions; nothing is persisted.  Its per-value cleaning is the typed
columns' (``cleaning._Cleaner``) over the JSON-token view.

The value rules of each key are the shared rule table
(``compiler/rules.py``) over a JSON-token view that carries the row's
operator: bounds are skipped under ``$inc`` and ``$currentDate`` checks
``now``.  Custom validators run through the JSON-token chain of
``compiler/validators.py``, shared with JSON documents; two-argument
Python validators resolve ``field()``/``sibling_field()`` against the
document's other operator entries (reference getFieldInfo over the
mongoObject).
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .cleaning import PythonAutoValueContext, _Cleaner, resolve_clean_options
from .compiler.compile import is_spark_rule, wants_context
from .compiler.rules import (
    TokenView,
    is_ext_date,
    is_json_array,
    is_json_null,
    is_json_object,
    null_violation,
    first,
    generic_key,
    is_object_key,
    is_optional,
    value_error,
    violation,
)
from .compiler.validators import (
    decode_token,
    item_merge_udf,
    token_custom_rules,
    token_customs,
)
from .errors import ErrorTypes, VIOLATION_SCHEMA
from .schema.schema import SimpleSchema
from .schema.types import ArrayType

__all__ = ["validate_modifier_table", "UnsupportedModifierError"]

OPS_SET = ("$set", "$setOnInsert")
OPS_PUSH = ("$push", "$addToSet")


class UnsupportedModifierError(Exception):
    """$pushAll (doValidation.ts:10) and non-$ keys (ts:44-46)."""


def _expand_object_set_rows(
    mods: DataFrame, schema: SimpleSchema, id_col: str
) -> DataFrame:
    """Recursively expand object-valued ``$set``/``$setOnInsert`` rows into
    child rows so descendant keys flow through the normal per-key rules
    (reference doValidation.ts:64-70 → validateField object recursion).

    For each declared non-blackbox Object key ``k``, rows
    ``(id, $set, k, {json object})`` yield:

    - one child row per DECLARED child; absent or explicit-null children get
      value ``'null'``, so required fires through the existing $set-null rule
      (missing non-optional children of a wholesale-replaced object ARE
      required errors — validateField.ts:323-345 iterates the key union)
    - one row per PRESENT-but-undeclared child, which the existing
      KEY_NOT_IN_SCHEMA rule flags

    Child JSON is extracted with variant functions (``try_variant_get`` +
    ``to_json``), which preserve JSON token types exactly (strings stay
    quoted, numbers bare) — pure JVM expressions, one projection per declared
    object key, no shuffle.  Nested declared objects expand transitively
    (keys processed parents-first).  Returns ``mods`` ∪ expanded rows.
    """
    merged = schema.merged_schema()
    blackbox = set(schema.blackbox_keys())
    object_keys = [
        k
        for k in merged
        if ".$" not in k
        and k not in blackbox
        and is_object_key(schema.resolved_alternatives(k))
    ]
    if not object_keys:
        return mods

    struct_t = "key_path string, value string"
    all_rows = mods
    for k in sorted(object_keys, key=lambda s: s.count(".")):
        prefix = f"{k}."
        declared = sorted(
            {c[len(prefix):].split(".")[0] for c in merged if c.startswith(prefix)}
        )
        v = F.col("value")
        # try_parse_json: a truncated '{...' token passes the cheap shape
        # check but must not kill the job — unparseable tokens simply don't
        # expand into child rows (the parent value keeps its own checks)
        var = F.try_parse_json(v)
        rows_k = all_rows.where(
            (generic_key(F.col("key_path")) == k)
            & F.col("op").isin(*OPS_SET)
            & is_json_object(v)
            & ~is_ext_date(v)
            & var.isNotNull()
        )
        children = [
            F.struct(
                F.concat(F.col("key_path"), F.lit("." + n)).alias("key_path"),
                F.coalesce(
                    F.to_json(F.try_variant_get(var, f"$['{n}']", "variant")),
                    F.lit("null"),
                ).alias("value"),
            )
            for n in declared
        ]
        declared_arr = (
            F.array(*[F.lit(n) for n in declared])
            if declared
            else F.array().cast("array<string>")
        )
        unknown = F.transform(
            F.coalesce(
                F.array_except(F.json_object_keys(v), declared_arr),
                F.array().cast("array<string>"),
            ),
            lambda nm: F.struct(
                F.concat(F.col("key_path"), F.lit("."), nm).alias("key_path"),
                F.lit("null").alias("value"),
            ),
        )
        declared_arr_col = (
            F.array(*children)
            if children
            else F.array().cast(f"array<struct<{struct_t}>>")
        )
        expanded = (
            rows_k.select(
                F.col(id_col),
                F.col("op"),
                F.explode(F.concat(declared_arr_col, unknown)).alias("c"),
                F.col("upsert"),
            )
            .select(
                id_col,
                "op",
                F.col("c.key_path").alias("key_path"),
                F.col("c.value").alias("value"),
                "upsert",
            )
        )
        all_rows = all_rows.unionByName(expanded.select(*all_rows.columns))
    return all_rows


def _modifier_rule_forest(schema: SimpleSchema) -> dict:
    """Compiled per-row rule forest for a modifier table — PURE unbound
    Columns over the fixed column names (op, key_path, value, __entries),
    independent of any input DataFrame.  Memoized on the schema instance:
    building the forest issues thousands of py4j round trips (~0.9 s at
    bench scale, cProfile: 4.8k socket round trips), which repeated
    validate calls over the same schema should not re-pay.  Columns are
    immutable Catalyst trees, safe to share across queries (the same
    argument as the compile-time fragment cache in compiler/rules.py).
    Invalidation: ``SimpleSchema._rebuild_caches`` drops the memo on any
    definition change, and the key carries the identity of every active
    custom/global validator so a registry change rebuilds."""
    memo_key = (
        "modifier_forest",
        tuple(id(fn) for fn in schema.all_validators()),
    )
    memo = schema.__dict__.setdefault("_compiled_memo", {})
    if memo_key in memo:
        return memo[memo_key]
    op = F.col("op")
    key_path = F.col("key_path")
    v = F.col("value")
    generic = generic_key(key_path)
    view = TokenView(v, op)
    merged = schema.merged_schema()
    alts_of = {k: schema.resolved_alternatives(k) for k in merged}

    # ---- input validation (compile-level errors surfaced as rows) ----------
    bad_op = F.when(
        op == "$pushAll",
        violation(key_path, "unsupportedOperator", value=op),
    ).when(
        ~op.startswith("$"),
        violation(key_path, "notAModifierOperator", value=op),
    ).otherwise(null_violation())

    # ---- KEY_NOT_IN_SCHEMA --------------------------------------------------
    # not emitted for $unset/$rename sources (validateField.ts:265-270) nor
    # `<datekey>.$type` under $currentDate; blackbox descendants allowed
    allowed_expr = generic.isin(*merged) if merged else F.lit(False)
    for bb in schema.blackbox_keys():
        allowed_expr = allowed_expr | generic.startswith(bb + ".")
    key_unknown = (
        ~allowed_expr
        & ~op.isin("$unset", "$rename")
        & ~((op == "$currentDate") & generic.endswith(".$type"))
    )
    key_not_in_schema = F.when(
        key_unknown,
        violation(key_path, ErrorTypes.KEY_NOT_IN_SCHEMA, value=view.display),
    ).otherwise(null_violation())

    # ---- required: explicit null / $unset / $rename -------------------------
    non_optional = [k for k, alts in alts_of.items() if not is_optional(alts)]
    req_cond = null_violation()
    if non_optional:
        req_cond = F.when(
            generic.isin(*non_optional)
            & (
                op.isin("$unset", "$rename")
                | (op.isin(*OPS_SET) & is_json_null(v))
            ),
            violation(key_path, ErrorTypes.REQUIRED),
        ).otherwise(null_violation())

    # ---- custom validators (validateField.ts:192-226 runs the full chain
    # in modifier mode too)
    customs_of = {k: token_customs(schema, alts) for k, alts in alts_of.items()}
    any_ctx = any(
        wants_context(fn)
        for fns in customs_of.values()
        for fn in fns
        if not is_spark_rule(fn)
    )
    context = (F.col("__entries"), _decode_entry_row) if any_ctx else None

    def custom_chain(key: str) -> list[Column]:
        """Ordered custom-violation columns for one key's value token."""
        if not customs_of[key]:
            return []
        # item keys (tags.$) chain onto BOTH concrete-index rows (tags.0 →
        # generic tags.$) and single-value $push rows (generic tags)
        mask = generic == key
        if key.endswith(".$"):
            mask = mask | (generic == key[: -len(".$")])
        return token_custom_rules(
            view, key_path, key, alts_of[key], customs_of[key], mask, context
        )

    # ---- per-key value rules -------------------------------------------------
    # value checked for $set/$setOnInsert/$inc/$min/$max/$mul/$currentDate
    # (non-null values); for $push/$addToSet against the ITEM definition
    check_value_ops = list(OPS_SET) + ["$inc", "$currentDate", "$min", "$max", "$mul"]
    is_each = v.rlike(r'^\s*\{\s*"\$each"')
    value_rule = null_violation()
    item_rule = null_violation()
    each_err = F.lit(None).cast(T.ArrayType(VIOLATION_SCHEMA))
    for k in merged:
        if k.endswith(".$"):
            continue
        full = first([value_error(view, key_path, alts_of[k])] + custom_chain(k))
        if full is not None:
            value_rule = F.when(generic == k, full).otherwise(value_rule)
        # concrete array index paths (tags.0) validate against the item def
        item_key = f"{k}.$"
        if item_key not in merged:
            continue
        item_alts = alts_of[item_key]
        item_err = value_error(view, key_path, item_alts)
        full_idx = first([item_err] + custom_chain(item_key))
        if full_idx is not None:
            value_rule = F.when(generic == item_key, full_idx).otherwise(value_rule)
            # single-value $push/$addToSet validates the pushed value
            # against the same item chain
            item_rule = F.when(generic == k, full_idx).otherwise(item_rule)
        item_fns = customs_of[item_key]
        if item_err is None and not item_fns:
            continue
        # $each: every element validated (doValidation.ts:52-58), each read
        # as its own JSON token from one variant parse.  @spark_rule item
        # customs run inside the transform; Python item customs merge via
        # one Arrow UDF over the token array (UDF results can't be
        # referenced inside HOF lambdas)
        spark_fns = [fn for fn in item_fns if is_spark_rule(fn)]
        py_fns = [fn for fn in item_fns if not is_spark_rule(fn)]

        def elem_err(e: Column) -> Column:
            ev = TokenView.of_variant(e, op)
            err = first(
                [value_error(ev, key_path, item_alts)]
                + token_custom_rules(ev, key_path, item_key, item_alts, spark_fns)
            )
            return null_violation() if err is None else err

        # each element as its exact JSON token, whatever its type
        elems = TokenView(v, var=F.try_parse_json(v)).elements("$['$each']")
        expr_arr = F.transform(elems, elem_err)
        if py_fns:
            entries = context[0] if context else F.lit(None).cast(
                "array<struct<op:string,key:string,value:string>>"
            )
            per_elem = item_merge_udf(py_fns, item_key, _decode_entry_row)(
                expr_arr, F.transform(elems, lambda e: F.to_json(e)), key_path, entries
            )
        else:
            per_elem = F.filter(expr_arr, lambda x: x.isNotNull())
        each_err = F.when((generic == k) & is_each, per_elem).otherwise(each_err)

    checked = F.when(
        op.isin(*check_value_ops) & ~is_json_null(v),
        value_rule,
    ).when(
        op.isin(*OPS_PUSH) & ~is_each,
        item_rule,
    ).otherwise(null_violation())

    per_row = F.coalesce(bad_op, req_cond, key_not_in_schema, checked)
    memo[memo_key] = {
        "per_row": per_row,
        "each_err": each_err,
        "non_optional": non_optional,
        "any_ctx": any_ctx,
    }
    return memo[memo_key]


def validate_modifier_table(
    mods: DataFrame,
    schema: SimpleSchema,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Violations table ``(id, name, type, value…)`` for a long-format
    modifier table ``(id, op, key_path, value, upsert)``."""
    rules = _modifier_rule_forest(schema)
    mods = _expand_object_set_rows(mods, schema, id_col)
    if rules["any_ctx"]:
        # one co-partitioned shuffle attaching the (schema-bounded) entry
        # list per document; only paid when a cross-field validator exists
        ents_df = mods.groupBy(id_col).agg(
            F.collect_list(
                F.struct(F.col("op"), F.col("key_path").alias("key"), F.col("value"))
            ).alias("__entries")
        )
        mods = mods.join(ents_df, id_col)
    op = F.col("op")
    per_row = rules["per_row"]
    each_err = rules["each_err"]
    non_optional = rules["non_optional"]

    empty_arr = F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
    base = mods.select(
        F.col(id_col),
        F.array_compact(
            F.concat(
                F.array(per_row),
                F.coalesce(
                    F.when(op.isin(*OPS_PUSH), each_err), empty_arr
                ),
            )
        ).alias("violations"),
    ).select(F.col(id_col), F.explode("violations").alias("violation")).select(
        id_col, "violation.*"
    )

    # ---- upsert required-injection -------------------------------------------
    # for upsert $set/$setOnInsert docs: every non-optional key neither set
    # non-null, nor ancestor-created ("a.b" with value ⇒ "a" satisfied),
    # fires required (requiredValidator.ts:41-60 + doValidation.ts:64-70)
    required = [k for k in non_optional if "$" not in k]
    if required:
        # one aggregate per upsert document: keys explicitly set — even to
        # null — are never INJECTED (an explicit null already fires required
        # through the per-row rule; injecting too would duplicate it), and
        # ancestor-creating credit needs a real value (a.b.c with a value
        # satisfies a and a.b)
        key = generic_key(F.col("key_path"))
        docs = mods.where(F.col("upsert") & F.col("op").isin(*OPS_SET)).groupBy(
            id_col
        ).agg(
            F.collect_set(key).alias("present"),
            F.collect_set(F.when(~is_json_null(F.col("value")), key)).alias("valued"),
        )

        def with_ancestors(path: Column) -> Column:
            segs = F.split(path, "\\.")
            return F.transform(
                F.sequence(F.lit(1), F.size(segs)),
                lambda n: F.array_join(F.slice(segs, 1, n), "."),
            )

        satisfied = F.array_union(
            F.col("present"), F.flatten(F.transform(F.col("valued"), with_ancestors))
        )
        missing = F.array_except(F.array(*[F.lit(k) for k in required]), satisfied)
        upsert_viols = docs.select(
            F.col(id_col), F.explode(missing).alias("name")
        ).select(
            F.col(id_col),
            F.col("name"),
            F.lit(ErrorTypes.REQUIRED).alias("type"),
            F.lit(None).cast("string").alias("value"),
            *[F.lit(None).cast("string").alias(c) for c in
              ("dataType", "min", "max", "regExp", "minCount", "maxCount")],
        )
        base = base.unionByName(upsert_viols)

    return base


#: the row's value parsed once, in the projection under the cleaning one
_PARSED = "__cm_value"


def clean_modifier_table(
    mods: DataFrame,
    schema: SimpleSchema,
    *,
    id_col: str = "doc_id",
    filter: bool | None = None,  # noqa: A002
    auto_convert: bool | None = None,
    trim_strings: bool | None = None,
    remove_empty_strings: bool | None = None,
    remove_nulls_from_arrays: bool | None = None,
    get_auto_values: bool | None = None,
) -> DataFrame:
    """clean() for modifier tables (reference clean.ts:64-147,175-187).

    Per-row, one projection:

    - ops whose values are never cleaned ($unset/$currentDate, plus
      $rename/$slice by engine choice) pass through untouched
      (operatorsToIgnoreValue, clean.ts:11,69)
    - filter: rows whose generic key the schema doesn't allow are DROPPED
      (clean.ts:80-94); $unset/$rename rows are kept regardless
    - autoConvert: each value goes through ``cleaning._Cleaner``, the same
      pipeline and conversion table as typed columns: toward the key's first
      type when no alternative matches (isValueTypeValid: an Integer takes
      only integral numbers) — string→number (whitespace-only → 0, NaN
      left), number/boolean/date→string (dates as ISO-8601),
      'true'/'false' and number→boolean, ISO string and epoch-ms
      number→date (written ``{"$date": "<ISO>"}``), scalar→``[v]`` for an
      array key under ``$set`` (convertToProperType.ts:11-65).  For array
      keys, values under $push/$addToSet (direct and ``$each``), $pull,
      $pop, $pullAll and array-valued $set are cleaned toward the ITEM def
      (mongo-object maps those nodes to ``key.$`` — goldens
      clean.tests.ts:380-630,706-820); $pull query objects pass through
    - trimStrings: JS-whitespace trim inside JSON string values unless the
      key has ``trim: False`` (item values use the item def's flag)
    - removeNullsFromArrays: null elements dropped from cleaned arrays
      (clean.ts:81-83, default off, matching the reference)
    - removeEmptyStrings: ``$set`` of ``""`` becomes ``$unset`` and an
      empty child of a ``$set`` object is dropped (clean.ts:126-142); other
      operators and arrays keep empty strings
    - getAutoValues: for upsert documents, every defaultValue key not
      referenced by any operator gains a ``$setOnInsert`` row
      (getDefaultAutoValueFunction, SimpleSchema.ts:1148-1167; tested by
      test/clean/defaultValue.tests.ts upsert cases)

    "Empty operator removal" (clean.ts:175-187) is inherent to the long
    format: removing the last row of an operator removes the operator.
    """
    opts = resolve_clean_options(
        schema,
        filter=filter,
        auto_convert=auto_convert,
        trim_strings=trim_strings,
        remove_empty_strings=remove_empty_strings,
        remove_nulls_from_arrays=remove_nulls_from_arrays,
        get_auto_values=get_auto_values,
    )
    get_auto_values = opts.pop("get_auto_values")
    remove_nulls = opts["remove_nulls_from_arrays"]

    merged = schema.merged_schema()
    op = F.col("op")
    key_path = F.col("key_path")
    generic = generic_key(key_path)
    v = F.col("value")

    # reference operatorsToIgnoreValue = ['$unset', '$currentDate']
    # (clean.ts:11,69) — $pull/$pullAll/$pop values ARE cleaned toward the
    # item definition (their nodes map to `key.0` → generic `key.$` via
    # mongo-object's appendAffectedKey; goldens: clean.tests.ts $pull/$pop/
    # $pullAll "type conversion works" + the trim sweep at :706).  $rename
    # stays skipped here: its value is a target KEY NAME, and trimming it
    # like a data value is reference behavior we deliberately don't copy.
    ignore_value_ops = op.isin("$unset", "$rename", "$currentDate", "$slice")

    # ---- filter unknown keys (keep $unset/$rename) --------------------------
    if opts["filter"]:
        allowed = generic.isin(*merged) if merged else F.lit(False)
        for bb in schema.blackbox_keys():
            allowed = allowed | generic.startswith(bb + ".")
        # item paths (tags.0) and $each forms target the array key itself
        mods = mods.where(allowed | op.isin("$unset", "$rename"))

    # ---- per-key value cleaning: the shared pipeline over the row's token,
    # parsed once into a variant column below this projection.  Object
    # values are rebuilt only under `filter` (undeclared children can't be
    # read with literal variant paths; the reference drops them anyway).
    cleaner = _Cleaner(schema, **opts)
    view = TokenView(v, var=F.col(_PARSED), rebuilds_objects=opts["filter"])
    reads = view.named_reads("__cm_")
    is_arr, is_obj = is_json_array(v), is_json_object(v)
    is_each = v.rlike(r'^\s*\{\s*"\$each"')
    cleaned = v
    for k in merged:
        if k.endswith(".$"):
            continue
        whole = cleaner.clean_value(k, view)
        if any(a.get("type") is ArrayType for a in cleaner.alternatives(k)):
            # values under $push/$addToSet (direct and $each), $pull and $pop
            # clean toward the ITEM def; $pull queries and other objects
            # pass through; $set and $pullAll arrays clean per item, and a
            # scalar $set is wrapped
            item_key = f"{k}.$"
            item = cleaner.clean_value(item_key, view)
            each = view.field("$each").rebuild_array(
                lambda e: cleaner.clean_value(item_key, e), remove_nulls
            )
            # $push sub-operators beside $each survive the rebuild
            each = view.rebuild_object([("$each", each)] + [
                (sub, view.field(sub).token) for sub in ("$slice", "$position", "$sort")
            ])
            whole = (
                F.when(op.isin(*OPS_PUSH) & is_each & view.var.isNotNull(), each)
                .when(op.isin(*OPS_PUSH, "$pull", "$pop") & ~is_obj & ~is_arr, item)
                .when(op.isin(*OPS_SET) | ((op == "$pullAll") & is_arr), whole)
                .otherwise(v)
            )
        if whole is not v:
            cleaned = F.when(generic == k, whole).otherwise(cleaned)

    # a removed empty string (NULL) stays '""' here; `$set` turns it into
    # `$unset` below
    value = F.when(ignore_value_ops, v).otherwise(
        F.coalesce(cleaned, F.when(v.isNotNull(), F.lit('""')))
    ).alias("value")
    out = (
        mods.select("*", F.try_parse_json(v).alias(_PARSED))
        .select("*", *reads)
        .select(*[value if c == "value" else c for c in mods.columns])
    )

    if opts["remove_empty_strings"]:
        is_empty_str = F.regexp_replace(F.col("value"), "\\s", "") == F.lit('""')
        # $set '' → $unset (clean.ts:126-142); the reference applies
        # removeEmptyStrings only inside docs and $set, so empty strings
        # under every other operator are kept as-is
        out = out.withColumn(
            "op",
            F.when((F.col("op") == "$set") & is_empty_str, F.lit("$unset")).otherwise(
                F.col("op")
            ),
        )

    if get_auto_values:
        # defaultValue keys now run inside _apply_modifier_auto_values
        # through the same position machinery as opaque autoValue fns —
        # upsert $setOnInsert, injection into $set objects / pushed items,
        # and parent-creating dotted paths (defaultValue.tests.ts:229-514)
        out = _apply_modifier_auto_values(out, schema, id_col)
    return out


class _ModifierAutoValueContext:
    """Per-document autoValue context for modifier cleaning — mirrors the
    reference AutoValueRunner context in modifier mode
    (src/clean/AutoValueRunner.ts:42-147): ``value``/``is_set`` from the
    key's operator entry, ``operator`` (the entry's op, ``$set`` for
    unreferenced keys — reference positions generated for missing keys),
    ``is_upsert``, ``field()``/``sibling_field()`` resolved from the
    document's other operator entries, and ``unset()``."""

    # shared sentinel (class → pickles by reference, identity-stable on
    # executors)
    UNCHANGED = PythonAutoValueContext.UNCHANGED

    __slots__ = ("key", "value", "operator", "is_upsert", "_ents", "_unset",
                 "_is_set")

    def __init__(self, key, value, is_set, ents, upsert, operator):
        self.key = key
        self.value = value
        self._is_set = is_set
        self._ents = ents
        self.is_upsert = upsert
        self.operator = operator
        self._unset = False

    @property
    def is_set(self) -> bool:
        return self._is_set

    def unset(self) -> None:
        self._unset = True

    def field(self, path: str):
        ent = self._ents.get(path)
        if ent is None or ent[0] not in _VALUE_OPS:
            return None
        return decode_token(ent[1])

    def sibling_field(self, name: str):
        parent, _, _ = self.key.rpartition(".")
        return self.field(f"{parent}.{name}" if parent else name)

    def parent_field(self):
        parent, _, _ = self.key.rpartition(".")
        return self.field(parent) if parent else None


#: operators whose entries carry a usable value for autoValue contexts
_VALUE_OPS = frozenset(
    ("$set", "$setOnInsert", "$inc", "$push", "$addToSet", "$min", "$max",
     "$mul")
)


def _decode_entry_row(entries) -> dict:
    """Decode a document's operator entries into a {key: value} dict for
    cross-field FieldContext lookups (value-carrying ops only, first
    entry per key wins).  ``entries`` arrives as a numpy array — test
    ``is None``, never truthiness."""
    row: dict = {}
    if entries is None:
        return row
    for e in entries:
        if e["op"] in _VALUE_OPS and e["key"] not in row:
            row[e["key"]] = decode_token(e["value"])
    return row


class _Skip:
    """Sentinel: positional autoValue returned UNCHANGED (class, not
    instance — identity survives pickling to executors)."""


class _Remove:
    """Sentinel: positional autoValue called ctx.unset() — remove the
    field / null the element / drop the entry."""


def _apply_modifier_auto_values(
    out: DataFrame, schema: SimpleSchema, id_col: str
) -> DataFrame:
    """Run opaque Python autoValue fns against a modifier table, including
    PSEUDO-MODIFIER returns (reference AutoValueRunner.ts:112-142): a fn may
    return ``{"$inc": 1}`` / ``{"$push": ...}`` and the returned operator
    replaces the key's current entry; a plain return sets the value under
    the key's existing operator (``$set`` when unreferenced).  Contract
    matches document mode: ``ctx.UNCHANGED`` = leave as is, ``None`` sets
    JSON null, ``ctx.unset()`` removes the entry.

    AutoValue keys under arrays (``a.$.b``) run POSITIONALLY (reference
    getPositionsForAutoValue.ts:43-148): the fn is applied inside matching
    entries' decoded JSON — per element of a whole-array ``$set``, to the
    pushed item (or each ``$each`` item) of ``$push``/``$addToSet``, and to
    positional/indexed keys (``a.$.b``, ``a.0.b``) directly.  When NO
    entry touches the key's subtree (unrelated update, or a sibling-leaf
    ``$set`` like ``a.0.x`` for field ``a.$.y``) the fn still runs once
    against a synthesized would-be ``$set[<generic key>]`` position —
    skipped for upserts — matching getPositionsForAutoValue.ts:135-147.
    Only plain Python fns run positionally (@spark_auto_value expression
    fns need a Column context and are document-mode only).

    Shape: ONE groupBy(doc) collecting the (bounded, schema-sized) operator
    entries + ONE Arrow-batched UDF evaluating every autoValue fn per doc;
    in the projection above it the doc's entries whose key the UDF dropped
    are filtered out, the rows it added are appended, and the result is
    exploded — no join, no persist, ``out`` evaluated once."""
    av_fns = [
        ("fn", k, fn, ".$" in k)
        for k, fn in schema.auto_value_functions()
        if not getattr(fn, "is_default", False)
        and ("$" not in k or ".$" in k)
        and not (".$" in k and getattr(fn, "_is_spark_auto_value", False))
    ]
    # defaultValue keys run through the SAME per-doc position machinery as
    # opaque fns (the reference models defaultValue as an autoValue,
    # getDefaultAutoValueFunction SimpleSchema.ts:1148-1167); parents-first
    # ordering lets a parent's emitted {} compose its children's defaults
    av_fns += [
        ("default", k, getattr(fn, "default_value", None), False)
        for k, fn in schema.auto_value_functions()
        if getattr(fn, "is_default", False)
    ]
    if not av_fns:
        return out
    av_fns.sort(key=lambda kv: kv[1].count("."))
    unchanged = PythonAutoValueContext.UNCHANGED

    act_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("drop", T.BooleanType()),
                T.StructField("op", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        )
    )

    def run_scalar(k, fn, ents, upsert):
        op0, tok = ents.get(k, (None, None))
        is_set = op0 in _VALUE_OPS
        val = decode_token(tok) if is_set else None
        ctx = _ModifierAutoValueContext(
            k, val, is_set, ents, bool(upsert), op0 or "$set"
        )
        res = fn(ctx)
        if res is not unchanged:
            if isinstance(res, dict) and any(
                str(p).startswith("$") for p in res
            ):
                new_op = next(p for p in res if str(p).startswith("$"))
                # _default_as_json, not json.dumps: the reference's
                # canonical createdAt pattern returns
                # {"$setOnInsert": new Date()} (AutoValueRunner.ts:112-142)
                # and datetimes must take the extended-JSON path
                ents[k] = (new_op, _default_as_json(res[new_op]))
            else:
                new_op = op0 if op0 in _VALUE_OPS else "$set"
                ents[k] = (new_op, _default_as_json(res))
        elif ctx._unset:
            ents.pop(k, None)

    def run_array(g, fn, ents, upsert):
        segs = g.split(".")

        def run_fn(value, op0, present):
            # is_set reflects POSITION PRESENCE (reference isSet = value
            # !== undefined): a field explicitly set to JSON null is
            # still set — only an absent key reports is_set False
            ctx = _ModifierAutoValueContext(
                g, value, present, ents, bool(upsert), op0
            )
            res = fn(ctx)
            if res is unchanged:
                return _Remove if ctx._unset else _Skip
            if ctx._unset:
                return _Remove
            return res

        def apply_at(value, path, op0, present=True):
            if not path:
                return run_fn(value, op0, present)
            seg = path[0]
            if seg == "$":
                if not isinstance(value, list):
                    return _Skip
                new = []
                any_change = False
                for el in value:
                    r = apply_at(el, path[1:], op0)
                    if r is _Skip:
                        new.append(el)
                    else:
                        any_change = True
                        # unset of an element of a value being SET nulls it
                        # in place (removal would shift sibling indices)
                        new.append(None if r is _Remove else r)
                return new if any_change else _Skip
            if not isinstance(value, dict):
                return _Skip
            cur = value.get(seg)
            if len(path) > 1 and not isinstance(cur, (dict, list)):
                # missing intermediate containers are NOT auto-created
                return _Skip
            r = apply_at(cur, path[1:], op0, present=seg in value)
            if r is _Skip:
                return _Skip
            d = dict(value)
            if r is _Remove:
                d.pop(seg, None)
            else:
                d[seg] = r
            return d

        matched = False
        for k in list(ents):
            op0, tok = ents[k]
            kseg = k.split(".")
            if len(kseg) > len(segs):
                continue
            if not all(
                gs == ks or (gs == "$" and (ks == "$" or ks.isdigit()))
                for gs, ks in zip(segs, kseg)
            ):
                continue
            matched = True
            remaining = segs[len(kseg):]
            decoded = decode_token(tok)
            if op0 in ("$push", "$addToSet"):
                # the entry value is ONE element (or $each items): the
                # leading `$` of the remaining generic path is implicit
                if not remaining or remaining[0] != "$":
                    continue
                rest = remaining[1:]
                if isinstance(decoded, dict) and isinstance(
                    decoded.get("$each"), list
                ):
                    # unset of a pushed item means "don't push it" — DROP
                    # the item, mirroring the plain-$push branch dropping
                    # the whole entry (the two one-item syntaxes agree)
                    items, any_change = [], False
                    for it in decoded["$each"]:
                        r = apply_at(it, rest, op0)
                        if r is _Skip:
                            items.append(it)
                        elif r is _Remove:
                            any_change = True
                        else:
                            any_change = True
                            items.append(r)
                    if any_change:
                        new = dict(decoded)
                        new["$each"] = items
                        ents[k] = (op0, _encode_json_value(new))
                else:
                    r = apply_at(decoded, rest, op0)
                    if r is _Remove:
                        ents.pop(k, None)
                    elif r is not _Skip:
                        ents[k] = (op0, _encode_json_value(r))
            elif op0 in ("$set", "$setOnInsert"):
                r = apply_at(decoded, remaining, op0)
                if r is _Remove:
                    ents.pop(k, None)
                elif r is not _Skip:
                    ents[k] = (op0, _encode_json_value(r))
        if not matched and not upsert:
            # would-be position (getPositionsForAutoValue.ts:135-147): no
            # entry touches this key's subtree — not even partially, like
            # a $set on a SIBLING leaf (`a.0.x` for field `a.$.y`, whose
            # parent path ends in `.$` so no creating position exists) —
            # yet the fn still runs ONCE, unset, under a synthesized
            # `$set[<generic key>]` position.  The `$` stays generic in
            # the emitted key, exactly as the reference's
            # setValueForPosition('$set[a.$.y]') leaves it
            # (AutoValueRunner.ts:137-146); upserts skip it.
            res = run_fn(None, "$set", False)
            if res is not _Skip and res is not _Remove:
                if isinstance(res, dict) and any(
                    str(p).startswith("$") for p in res
                ):
                    new_op = next(p for p in res if str(p).startswith("$"))
                    ents[g] = (new_op, _default_as_json(res[new_op]))
                else:
                    ents[g] = ("$set", _default_as_json(res))

    def _seg_match(gs, ks):
        return gs == ks or (gs == "$" and (ks == "$" or ks.isdigit()))

    def _rel(ks, segs):
        """entry key segs vs generic field segs: 'eq' (same position),
        'extends' (entry creates the field's objects), 'prefix' (the field
        lives inside the entry's value), or None (unrelated)."""
        m = min(len(ks), len(segs))
        if not all(_seg_match(segs[i], ks[i]) for i in range(m)):
            return None
        if len(ks) == len(segs):
            return "eq"
        return "extends" if len(ks) > len(segs) else "prefix"

    def _leaf_slots(value, path):
        """(container_dict, leaf_name) pairs for `path` resolved inside a
        decoded JSON value — one per array element for `$` segments;
        missing intermediates yield no slot (mongo-object position
        semantics: only EXISTING parents give child positions)."""
        if not path:
            return []
        if len(path) == 1:
            return [(value, path[0])] if isinstance(value, dict) else []
        seg = path[0]
        if seg == "$":
            if not isinstance(value, list):
                return []
            out = []
            for el in value:
                out.extend(_leaf_slots(el, path[1:]))
            return out
        if isinstance(value, dict) and seg in value:
            return _leaf_slots(value[seg], path[1:])
        return []

    def run_default(g, dv, ents, upsert):
        """Replay getDefaultAutoValueFunction × getPositionsForAutoValue
        (SimpleSchema.ts:1148-1167, getPositionsForAutoValue.ts:42-148)
        over the entry dict: inject into objects whose parent position is
        set ($set objects, $push/$addToSet items), emit dotted
        $setOnInsert rows on upsert when some entry creates the parent
        path, $setOnInsert for unreferenced top-level keys on upsert."""
        import copy

        segs = g.split(".")
        leaf = segs[-1]
        if g in ents:  # exact entry (any op, incl. $unset) → isSet/done
            return
        slot_entries = []  # (entry_key, op0, root, slots)
        for k in list(ents):
            op0, tok = ents[k]
            if op0 not in _VALUE_OPS:
                continue
            ks = k.split(".")
            r = _rel(ks, segs)
            if r in ("eq", "extends"):
                # a real position exists (isSet → fn returns early) or the
                # entry creates this key (no position → fn never runs)
                return
            if r == "prefix":
                remaining = segs[len(ks):]
                decoded = decode_token(tok)
                if op0 in ("$push", "$addToSet"):
                    if remaining[0] != "$":
                        continue
                    rest = remaining[1:]
                    if not rest:
                        return  # the pushed element IS the field → set
                    if isinstance(decoded, dict) and isinstance(
                        decoded.get("$each"), list
                    ):
                        roots = decoded["$each"]
                        root_obj = decoded
                    else:
                        roots = [decoded]
                        root_obj = decoded
                else:
                    rest = remaining
                    roots = [decoded]
                    root_obj = decoded
                slots = []
                for rt in roots:
                    slots.extend(_leaf_slots(rt, rest))
                if slots:
                    slot_entries.append((k, op0, root_obj, slots))
        if slot_entries:
            # parent positions exist → inject the default where absent
            for k, op0, root, slots in slot_entries:
                changed = False
                for cont, lf in slots:
                    if lf not in cont:
                        cont[lf] = copy.deepcopy(dv)
                        changed = True
                if changed:
                    ents[k] = (op0, _encode_json_value(root))
            return
        if len(segs) == 1:
            # top-level would-be $set[g]: parent (root) unset → upsert only
            if upsert:
                ents[g] = ("$setOnInsert", _default_as_json(dv))
            return
        if segs[-2] == "$":
            return  # parentPath ends '.$' → no creating-position synthesis
        parent_segs = segs[:-1]
        for k in list(ents):
            op0, _tok = ents[k]
            if op0 not in _VALUE_OPS:
                continue
            ks = k.split(".")
            if _rel(ks, parent_segs) == "extends":
                # would-be $set[<concrete parent>.<leaf>]: parent unset →
                # {$setOnInsert: default} on upsert, dotted path notation
                concrete = ".".join(ks[: len(parent_segs)] + [leaf])
                if upsert and concrete not in ents:
                    ents[concrete] = ("$setOnInsert", _default_as_json(dv))
                return

    def run(entries, upsert):
        ents = {}
        for e in entries:
            ents.setdefault(e["key"], (e["op"], e["value"]))
        orig = dict(ents)
        for kind, k, fn, is_array in av_fns:
            if kind == "default":
                run_default(k, fn, ents, upsert)
            elif is_array:
                run_array(k, fn, ents, upsert)
            else:
                run_scalar(k, fn, ents, upsert)
        acts = []
        for k, (op_, val_) in ents.items():
            if k not in orig:
                acts.append({"key": k, "drop": False, "op": op_, "value": val_})
            elif orig[k] != (op_, val_):
                acts.append({"key": k, "drop": True, "op": op_, "value": val_})
        for k in orig:
            if k not in ents:
                acts.append({"key": k, "drop": True, "op": None, "value": None})
        return acts

    def _apply(entries: pd.Series, upserts: pd.Series) -> pd.Series:
        return pd.Series(
            [run(e, u) for e, u in zip(entries, upserts)], dtype=object
        )

    udf = F.pandas_udf(_apply, act_t)

    # each entry carries its row's own upsert flag, so kept rows come back
    # unchanged; the document's flag (any row upsert) goes to the UDF and to
    # the rows it adds
    docs = out.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("op"),
                F.col("key_path").alias("key"),
                F.col("value"),
                F.col("upsert"),
            )
        ).alias("entries"),
        F.max(F.col("upsert").cast("int")).cast("boolean").alias("upsert"),
    )
    # the UDF result is a column of its own: HOF lambdas below may not
    # reference a Python UDF
    acts = docs.select(
        id_col, "entries", "upsert", udf(F.col("entries"), F.col("upsert")).alias("acts")
    )
    dropped = F.transform(
        F.filter(F.col("acts"), lambda a: a["drop"]), lambda a: a["key"]
    )
    # every entry of a dropped key goes (a NULL key never matches)
    kept = F.filter(
        F.col("entries"),
        lambda e: ~F.coalesce(F.array_contains(dropped, e["key"]), F.lit(False)),
    )
    added = F.transform(
        F.filter(F.col("acts"), lambda a: a["op"].isNotNull()),
        lambda a: F.struct(
            a["op"].alias("op"),
            a["key"].alias("key"),
            a["value"].alias("value"),
            F.col("upsert").alias("upsert"),
        ),
    )
    return (
        acts.select(id_col, F.inline(F.concat(kept, added)))
        .withColumnRenamed("key", "key_path")
        .select(*out.columns)
    )


def _default_as_json(value: Any) -> str:
    """Encode a driver-side defaultValue as the table's JSON value form —
    same encoder as :func:`_encode_json_value` (one extended-JSON policy
    for both the $setOnInsert-default and positional-rebuild families)."""
    return _encode_json_value(value)


def _encode_json_value(value: Any) -> str:
    """json.dumps with extended-JSON datetimes at ANY nesting depth —
    positional autoValues rebuild arbitrary JSON structures whose leaves
    may be datetime returns."""
    import datetime as _dt

    def _default(o):
        if isinstance(o, _dt.datetime):
            return {"$date": o.isoformat()}
        raise TypeError(
            f"autoValue returned unencodable {type(o).__name__!r}"
        )

    return json.dumps(value, default=_default)
