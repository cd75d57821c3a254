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

Both functions read each value through the same decode projections: the
value parsed once (``try_parse_json`` into a variant column), its kind
code, and the typed reads gated by it.

Execution shape: ``validate_modifier_table`` is ONE generator over the
decoded table (all per-row rules are a CASE WHEN forest over the generic
key, evaluated once per row inside the ``inline``) plus,
when the schema has required keys, ONE ``groupBy(doc)`` over the upsert
``$set``/``$setOnInsert`` rows: it collects the keys present (even as null)
and the keys with a value, and ``array_except`` of the compile-time
required-key list against present ∪ ancestors(valued) is exploded into
``required`` rows — the relational form of getKeysWithValueInObj,
``src/utility/index.ts:46-64``.  Object-valued ``$set`` expansion is a
union of projections over the same input; the only other shuffle is the
join that attaches a document's entries, paid only when a cross-field
validator exists.
``clean_modifier_table`` is one cleaning projection over the decoded
table, plus,
when autoValues exist, one ``groupBy(doc)`` that runs the Arrow UDF once
per document and resolves kept and added rows with array functions;
nothing is persisted.  In the UDF one position walker (:class:`_Doc`)
runs every autoValue at the positions of its key; a defaultValue is the
autoValue its definition synthesizes, and runs like any other.  Its
per-value cleaning is the typed columns' (``cleaning._Cleaner``) over the
JSON-token view.  Both functions
take every Column from the compile cache (``compiler/memo.py``); only the
DataFrame operations run per call.

The value rules of each key are the shared rule table
(``compiler/rules.py``) over a JSON-token view that carries the row's
operator: bounds are skipped under ``$inc`` and ``$currentDate`` checks
``now``.  Custom validators run through the JSON-token chain of
``compiler/validators.py``, shared with JSON documents.  Two-argument
Python validators and autoValues get the one ``FieldContext``, whose
``field()``/``sibling_field()``/``parent_field()`` read the document's
decoded operator entries (reference getFieldInfo over the mongoObject),
dotted paths walking into object values.
"""

from __future__ import annotations

import copy
import json
from functools import partial
from typing import Any, Callable, Iterable, Iterator, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .cleaning import _Cleaner, resolve_clean_options
from .compiler.compile import is_spark_rule, wants_context
from .compiler.memo import compiled
from .compiler.rules import (
    OBJECT,
    TokenView,
    null_violation,
    first,
    generic_key,
    is_object_key,
    is_optional,
    value_error,
    violation,
)
from .compiler.validators import (
    FieldContext,
    arrow_udf,
    decode_token,
    token_custom_rules,
    token_customs,
    token_item_rules,
)
from .errors import ErrorTypes, VIOLATION_SCHEMA
from .schema.schema import SimpleSchema
from .schema.types import ArrayType

__all__ = ["validate_modifier_table", "UnsupportedModifierError"]

OPS_SET = ("$set", "$setOnInsert")
OPS_PUSH = ("$push", "$addToSet")


class UnsupportedModifierError(Exception):
    """$pushAll (doValidation.ts:10) and non-$ keys (ts:44-46)."""


#: the row's value parsed once, and its kind code, in the decode projections
_PARSED, _KIND = "__cm_value", "__cm_kind"


def _value_view(op: Column | None, **kw: bool) -> tuple[TokenView, list[list[Column]]]:
    """The row's value as a token view, and the columns of the three decode
    projections under the one that uses it: the value parsed once (a
    malformed value parses to NULL and has no kind), its kind code, and
    the typed reads.  Validation and cleaning share them; ``op`` is the
    operator column where ``$currentDate`` reads as `now`."""
    view = TokenView(F.col(_PARSED), op, F.col("value"), **kw)
    kinds, reads = view.named_reads("__cm_")
    return view, [[F.try_parse_json(F.col("value")).alias(_PARSED)], kinds, reads]


def _object_set_expansions(schema: SimpleSchema) -> list[tuple[Column, Column]]:
    """How object-valued ``$set``/``$setOnInsert`` rows expand into child
    rows, so descendant keys flow through the normal per-key rules
    (reference doValidation.ts:64-70 → validateField object recursion).

    For each declared non-blackbox Object key ``k``, rows
    ``(id, $set, k, {json object})`` yield:

    - one child row per DECLARED child; absent or explicit-null children get
      value ``'null'``, so required fires through the existing $set-null rule
      (missing non-optional children of a wholesale-replaced object ARE
      required errors — validateField.ts:323-345 iterates the key union)
    - one row per PRESENT-but-undeclared child, which the existing
      KEY_NOT_IN_SCHEMA rule flags

    The rows come decoded (:func:`_value_view`), and each child is read
    from the parent's variant (``try_variant_get``) with its JSON text and
    kind code beside it, so child rows enter the forest decoded too — pure
    JVM expressions, one projection per declared object key, no shuffle, no
    second parse.  Returns, per key and parents first (so nested declared
    objects expand transitively), the condition selecting its rows and the
    generator of their ``(key_path, value, variant, kind)`` children.
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
    parent = TokenView(F.col(_PARSED))
    names = F.map_keys(F.try_variant_get(parent.var, "$", "map<string,variant>"))
    # an absent child is JSON null, so required fires for it
    null = TokenView(F.parse_json(F.lit("null")))

    def child(key_path: Column, view: TokenView) -> Column:
        return F.struct(
            key_path.alias("key_path"), view.json.alias("value"),
            view.var.alias(_PARSED), view.kind.alias(_KIND),
        )

    out = []
    for k in sorted(object_keys, key=lambda s: s.count(".")):
        prefix = f"{k}."
        declared = sorted(
            {c[len(prefix):].split(".")[0] for c in merged if c.startswith(prefix)}
        )
        children = [
            child(
                F.concat(F.col("key_path"), F.lit("." + n)),
                TokenView(F.coalesce(parent.field(n).var, null.var)),
            )
            for n in declared
        ]
        declared_arr = F.array(*map(F.lit, declared)).cast("array<string>")
        unknown = F.transform(
            F.array_except(names, declared_arr),
            lambda nm: child(F.concat(F.col("key_path"), F.lit("."), nm), null),
        )
        rows = F.concat(F.array(*children), unknown) if children else unknown
        # the kind test sits in the generator, not in the row filter:
        # Catalyst would push a filter below the decode projections and
        # parse the value twice.  A malformed '{...' value has no kind, so
        # it does not expand (it keeps its own checks)
        out.append((
            (generic_key(F.col("key_path")) == k) & F.col("op").isin(*OPS_SET),
            F.inline(F.when(F.col(_KIND) == F.lit(OBJECT), rows)),
        ))
    return out


def _modifier_rule_forest(schema: SimpleSchema) -> dict:
    """The Columns of ``validate_modifier_table`` — PURE unbound Columns
    over the fixed column names (op, key_path, value, upsert, __entries),
    independent of any input DataFrame: the decode projections, the
    object-``$set`` expansions, the per-row rule forest as a violations
    generator and the upsert required-key injection.  Building them issues
    thousands of py4j round trips, so ``validate_modifier_table`` calls
    this only on a miss of the compile cache (``compiler/memo.py``)."""
    op = F.col("op")
    key_path = F.col("key_path")
    generic = generic_key(key_path)
    view, decode = _value_view(op)
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
                | (op.isin(*OPS_SET) & view.is_null)
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
    is_each = view.has("$each")
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
        # from the row's parsed variant
        per_elem = token_item_rules(
            view.elements("$['$each']"), key_path, item_key, item_alts, item_fns,
            op=op, context=context,
        )
        each_err = F.when((generic == k) & is_each, per_elem).otherwise(each_err)

    checked = F.when(
        op.isin(*check_value_ops) & ~view.is_null,
        value_rule,
    ).when(
        op.isin(*OPS_PUSH) & ~is_each,
        item_rule,
    ).otherwise(null_violation())

    per_row = F.coalesce(bad_op, req_cond, key_not_in_schema, checked)
    empty_arr = F.array().cast(T.ArrayType(VIOLATION_SCHEMA))
    # the forest feeds the generator directly: exploding a projected
    # `violations` column lets Catalyst push an inferred size(violations) > 0
    # filter below the projection, copying the whole forest into it
    violations = F.inline(
        F.array_compact(
            F.concat(
                F.array(per_row),
                F.coalesce(F.when(op.isin(*OPS_PUSH), each_err), empty_arr),
            )
        )
    )

    # ---- upsert required-injection -------------------------------------------
    # for upsert $set/$setOnInsert docs: every non-optional key neither set
    # non-null, nor ancestor-created ("a.b" with value ⇒ "a" satisfied),
    # fires required (requiredValidator.ts:41-60 + doValidation.ts:64-70)
    required = [k for k in non_optional if "$" not in k]
    upsert = None
    if required:
        # one aggregate per upsert document: keys explicitly set — even to
        # null — are never INJECTED (an explicit null already fires required
        # through the per-row rule; injecting too would duplicate it), and
        # ancestor-creating credit needs a real value (a.b.c with a value
        # satisfies a and a.b)
        key = generic_key(F.col("key_path"))
        aggs = [
            F.collect_set(key).alias("present"),
            F.collect_set(F.when(~view.is_null, key)).alias("valued"),
        ]

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
        rows = [
            F.explode(missing).alias("name"),
            F.lit(ErrorTypes.REQUIRED).alias("type"),
            *[F.lit(None).cast("string").alias(c) for c in
              ("value", "dataType", "min", "max", "regExp", "minCount", "maxCount")],
        ]
        upsert = (F.col("upsert") & op.isin(*OPS_SET), aggs, rows)
    return {
        "decode": decode,
        "expansions": _object_set_expansions(schema),
        "any_ctx": any_ctx,
        "violations": violations,
        "upsert": upsert,
    }


def validate_modifier_table(
    mods: DataFrame,
    schema: SimpleSchema,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Violations table ``(id, name, type, value…)`` for a long-format
    modifier table ``(id, op, key_path, value, upsert)``.  Its Columns come
    from the compile cache (``compiler/memo.py``); the object-``$set``
    expansion and the upsert ``groupBy`` run per call, between and over
    the decode projections."""
    c = compiled(schema, "modifier_forest", None, (), lambda: _modifier_rule_forest(schema))
    parsed, kinds, reads = c["decode"]
    mods = mods.select("*", *parsed).select("*", *kinds)
    for cond, children in c["expansions"]:
        expanded = mods.where(cond).select(id_col, "op", children, "upsert")
        mods = mods.unionByName(expanded.select(*mods.columns))
    if c["any_ctx"]:
        # one co-partitioned shuffle attaching the (schema-bounded) entry
        # list per document; only paid when a cross-field validator exists
        ents_df = mods.groupBy(id_col).agg(
            F.collect_list(
                F.struct(F.col("op"), F.col("key_path").alias("key"), F.col("value"))
            ).alias("__entries")
        )
        mods = mods.join(ents_df, id_col)
    mods = mods.select("*", *reads)
    base = mods.select(F.col(id_col), c["violations"])
    if c["upsert"] is not None:
        cond, aggs, rows = c["upsert"]
        docs = mods.where(cond).groupBy(id_col).agg(*aggs)
        base = base.unionByName(docs.select(F.col(id_col), *rows))
    return base


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
    - getAutoValues: every autoValue runs at the positions of its key
      (:func:`_modifier_auto_values`); a defaultValue fills an object being
      set or pushed, and for upsert documents an unreferenced key gains a
      ``$setOnInsert`` row (getDefaultAutoValueFunction,
      SimpleSchema.ts:1148-1167; test/clean/defaultValue.tests.ts).
      ``@spark_auto_value`` fns are skipped on every key: they compile to
      Columns over a typed row, which a modifier row is not

    "Empty operator removal" (clean.ts:175-187) is inherent to the long
    format: removing the last row of an operator removes the operator.

    The cleaning Columns come from the compile cache (``compiler/memo.py``);
    the autoValue ``groupBy`` runs per call.
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
    keep, decode, value, new_op, auto = compiled(
        schema, "modifier_clean", None, opts, lambda: _modifier_cleaning(schema, opts)
    )
    if keep is not None:
        mods = mods.where(keep)
    out = mods
    for cols in decode:
        out = out.select("*", *cols)
    out = out.select(*[value if c == "value" else c for c in mods.columns])
    if new_op is not None:
        out = out.withColumn("op", new_op)
    if auto is not None:
        aggs, acts, rows = auto
        out = (
            out.groupBy(id_col).agg(*aggs)
            .select(id_col, "entries", "upsert", acts)
            .select(id_col, rows)
            .withColumnRenamed("key", "key_path")
            .select(*out.columns)
        )
    return out


def _modifier_cleaning(schema: SimpleSchema, opts: dict[str, bool]) -> tuple:
    """The unbound Columns of ``clean_modifier_table``: the row filter (or
    None), the decode projections under the cleaning one, the cleaned
    ``value``, the rewritten ``op`` (or None) and the autoValue step (or
    None)."""
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
    keep = None
    if opts["filter"]:
        allowed = generic.isin(*merged) if merged else F.lit(False)
        for bb in schema.blackbox_keys():
            allowed = allowed | generic.startswith(bb + ".")
        # item paths (tags.0) and $each forms target the array key itself
        keep = allowed | op.isin("$unset", "$rename")

    # ---- per-key value cleaning: the shared pipeline over the row's value,
    # decoded in the projections below this one.  Object values are rebuilt
    # only under `filter` (undeclared children can't be read with literal
    # variant paths; the reference drops them anyway).
    # $currentDate values are never cleaned, so the view reads no `now`;
    # with it, the generated projection computed the date conversions on
    # every row, which doubled its cost
    cleaner = _Cleaner(schema, **opts)
    view, decode = _value_view(None, rebuilds_objects=opts["filter"])
    is_each = view.has("$each")
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
                (sub, view.field(sub).json) for sub in ("$slice", "$position", "$sort")
            ])
            whole = (
                F.when(op.isin(*OPS_PUSH) & is_each, each)
                .when(op.isin(*OPS_PUSH, "$pull", "$pop") & ~view.is_object & ~view.is_array, item)
                .when(op.isin(*OPS_SET) | ((op == "$pullAll") & view.is_array), whole)
                .otherwise(v)
            )
        if whole is not v:
            cleaned = F.when(generic == k, whole).otherwise(cleaned)

    # a removed empty string (NULL) stays '""' here; `$set` turns it into
    # `$unset` below
    value = F.when(ignore_value_ops, v).otherwise(
        F.coalesce(cleaned, F.when(v.isNotNull(), F.lit('""')))
    ).alias("value")

    new_op = None
    if opts["remove_empty_strings"]:
        is_empty_str = F.regexp_replace(F.col("value"), "\\s", "") == F.lit('""')
        # $set '' → $unset (clean.ts:126-142); the reference applies
        # removeEmptyStrings only inside docs and $set, so empty strings
        # under every other operator are kept as-is
        new_op = F.when((op == "$set") & is_empty_str, F.lit("$unset")).otherwise(op)

    # a defaultValue is the autoValue its definition synthesizes, and runs
    # like any other (defaultValue.tests.ts:229-514)
    auto = _modifier_auto_values(schema) if opts["get_auto_values"] else None
    return keep, decode, value, new_op, auto


#: operators whose entries carry a usable value for autoValue contexts
_VALUE_OPS = frozenset(
    ("$set", "$setOnInsert", "$inc", "$push", "$addToSet", "$min", "$max",
     "$mul")
)
#: operators whose entry holds a value at its key (``$unset``'s ``""`` too)
_HOLDS_VALUE = _VALUE_OPS | {"$unset"}


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


class _Position(NamedTuple):
    """One place of an autoValue's key: ``holder[slot]`` inside the value
    of entry ``entry``, or (``holder`` None) the entry's whole value or a
    would-be entry.  ``drops``: removing the value deletes it from its list
    (a ``$each`` item) rather than nulling it in place."""

    key: str
    op: str
    value: Any
    is_set: bool
    entry: str
    holder: Any = None
    slot: Any = None
    drops: bool = False


class _Dropped:
    """Sentinel: a ``$each`` item removed while its fn runs."""


def _seg_match(generic: str, seg: str) -> bool:
    return generic == seg or (generic == "$" and (seg == "$" or seg.isdigit()))


def _inside(value: Any, path: list[str], key: str, op: str, entry: str,
            drops: bool = False) -> Iterator[_Position]:
    """The positions of the generic ``path`` inside a decoded value: every
    element at a ``$``, and the slot of the last name in every object on
    the way, set or not; missing containers are not created."""
    seg, more = path[0], path[1:]
    if seg == "$":
        slots: Iterable = range(len(value)) if isinstance(value, list) else ()
    else:
        slots = (seg,) if isinstance(value, dict) and (not more or seg in value) else ()
    for slot in slots:
        sub = f"{key}.{slot}"
        if more:
            yield from _inside(value[slot], more, sub, op, entry)
        else:
            there = seg == "$" or slot in value
            yield _Position(sub, op, value[slot] if there else None, there, entry, value, slot, drops)


class _Doc:
    """One document's operator entries while its autoValues run, as
    AutoValueRunner.ts:42-147 runs them: ``ents`` maps each key to ``[op,
    decoded value]`` (the first entry of the key, decoded once), and
    :meth:`run` runs one fn at every position of its key."""

    def __init__(self, entries, upsert) -> None:
        self.upsert = bool(upsert)
        self.orig: dict[str, tuple] = {}
        self.ents: dict[str, list] = {}
        for e in entries:
            if e["key"] not in self.orig:
                self.orig[e["key"]] = (e["op"], e["value"])
                self.ents[e["key"]] = [e["op"], decode_token(e["value"])]
        #: entries whose value was written, encoded again at the end
        self.dirty: set[str] = set()
        self.dropped: list[list] = []

    def positions(self, g: str) -> list[_Position]:
        """Where the fn of the generic key ``g`` runs
        (getPositionsForAutoValue.ts:43-148).

        Real positions: each entry whose key matches (``$`` matching any
        index), and inside the value of a ``$set``/``$setOnInsert`` entry
        or of a pushed item (each ``$each`` item) every place of ``g``, with
        its slot in each object there.  An entry that creates ``g``
        (MongoDB makes the object), or that holds its path without such a
        place, leaves it only these.  Otherwise one would-be position per
        key: ``$set[g]`` for a top-level key; else ``$set`` of the dotted
        key of each entry that creates the parent (not under an array
        item); else, for a document that is no upsert, ``$set[g]`` with its
        ``$`` left generic."""
        segs = g.split(".")
        found: list[_Position] = []
        creates = touched = False
        for k, (op, val) in self.ents.items():
            ks = k.split(".")
            if not all(map(_seg_match, segs, ks)):
                continue
            if len(ks) > len(segs):
                creates = creates or op in _VALUE_OPS
                continue
            touched = True
            rest = segs[len(ks):]
            if not rest:
                there = op in _HOLDS_VALUE
                found.append(_Position(k, op, val if there else None, there, k))
            elif op in OPS_SET:
                found += _inside(val, rest, k, op, k)
            elif op in OPS_PUSH and rest[0] == "$":
                each = val.get("$each") if isinstance(val, dict) else None
                if isinstance(each, list):
                    found += _inside(each, rest, k, op, k, drops=True)
                elif rest[1:]:
                    found += _inside(val, rest[1:], f"{k}.$", op, k)
                else:
                    found.append(_Position(f"{k}.$", op, val, True, k))
        if found or creates or touched:
            # one position per place: an entry of the key beats its slot in
            # an object being set
            entries = {p.key for p in found if p.holder is None}
            return [p for p in found if p.holder is None or p.key not in entries]
        parent, _, leaf = g.rpartition(".")
        would = [] if parent else [g]
        if parent and not parent.endswith(".$"):
            psegs = parent.split(".")
            for k, (op, _) in self.ents.items():
                ks = k.split(".")
                if op in _VALUE_OPS and len(ks) > len(psegs) and all(map(_seg_match, psegs, ks)):
                    would.append(".".join(ks[: len(psegs)] + [leaf]))
        if not would and not self.upsert:
            would = [g]
        return [_Position(k, "$set", None, False, k) for k in dict.fromkeys(would)]

    def run(self, g: str, fn: Callable) -> None:
        """Run ``fn`` at each position of ``g`` and write its result there:
        ``ctx.unset()`` removes the value, and any return but ``UNCHANGED``
        is then set; a pseudo-modifier (``{"$inc": 1}``) replaces the
        position with an entry of its operator."""
        for pos in self.positions(g):
            row = {k: v for k, (op, v) in self.ents.items() if op in _VALUE_OPS}
            if pos.holder is not None:
                # parent_field() and sibling_field() read the position's object
                row[pos.key.rpartition(".")[0]] = pos.holder
            ctx = FieldContext(pos.key, pos.value, row, is_set=pos.is_set,
                               operator=pos.op, is_upsert=self.upsert)
            res = fn(ctx)
            pseudo = [p for p in res if str(p).startswith("$")] if isinstance(res, dict) else []
            if ctx.unset_called or pseudo:
                self.remove(pos)
            if res is ctx.UNCHANGED:
                continue
            if pseudo:
                self.ents[pos.key] = [pseudo[0], copy.deepcopy(res[pseudo[0]])]
                self.dirty.add(pos.key)
            else:
                self.put(pos, copy.deepcopy(res))
        for items in self.dropped:
            items[:] = [it for it in items if it is not _Dropped]
        self.dropped.clear()

    def remove(self, pos: _Position) -> None:
        if pos.holder is None:
            self.ents.pop(pos.entry, None)
            return
        if isinstance(pos.holder, dict):
            pos.holder.pop(pos.slot, None)
        elif pos.drops:
            # an unset pushed item is not pushed, as an unset plain $push
            # entry goes
            pos.holder[pos.slot] = _Dropped
            self.dropped.append(pos.holder)
        else:
            # an element of an array being set is nulled in place: removing
            # it would shift its siblings
            pos.holder[pos.slot] = None
        self.dirty.add(pos.entry)

    def put(self, pos: _Position, value: Any) -> None:
        if pos.holder is None:
            self.ents[pos.entry] = [pos.op if pos.op in _VALUE_OPS else "$set", value]
        else:
            pos.holder[pos.slot] = value
        self.dirty.add(pos.entry)

    def acts(self) -> list[dict]:
        """Each entry whose ``(op, JSON)`` differs from the original: its
        key's entries are dropped and, unless it was removed, it is added."""
        out = []
        for k, (op, val) in self.ents.items():
            tok = _encode_json_value(val) if k in self.dirty else self.orig[k][1]
            if (op, tok) != self.orig.get(k):
                out.append({"key": k, "drop": k in self.orig, "op": op, "value": tok})
        out += [{"key": k, "drop": True, "op": None, "value": None}
                for k in self.orig if k not in self.ents]
        return out


def _modifier_auto_values(schema: SimpleSchema) -> "tuple | None":
    """How ``clean_modifier_table`` runs autoValues (None when the schema
    has none).  A defaultValue is the autoValue its definition synthesizes
    (getDefaultAutoValueFunction, SimpleSchema.ts:1148-1167) and runs like
    any other.

    Per document the fns run parents first (setAutoValues.ts:15-36), each
    at every position of its key (:meth:`_Doc.positions`): a top-level
    key's entry, a place inside ``$set`` values and pushed items, or a
    would-be ``$set`` entry.  A fn gets the ``FieldContext`` of document
    mode, plus ``operator``, ``is_upsert`` and an ``is_set`` that is true
    wherever the position holds a value, JSON null and ``$unset``'s ``""``
    included; its row is the document's entries as they stand, so a later
    fn reads an earlier one's result.  ``ctx.UNCHANGED`` leaves the value,
    ``ctx.unset()`` removes it, any other return sets it (``None`` as JSON
    null), a PSEUDO-MODIFIER return (``{"$inc": 1}``, AutoValueRunner.ts:
    112-142) replaces the position with an entry of its operator, and a
    plain return at an entry whose operator carries no value makes it
    ``$set``.  ``@spark_auto_value`` fns are skipped: they compile to
    Columns over a typed row.

    Shape: ONE groupBy(doc) collecting the (bounded, schema-sized) operator
    entries (the returned aggregates) + ONE Arrow-batched UDF evaluating
    every autoValue fn per doc (the returned ``acts`` column); in the
    projection above it (the returned generator) the doc's entries whose
    key the UDF dropped are filtered out, the rows it added are appended,
    and the result is exploded — no join, no persist, the table evaluated
    once."""
    fns = sorted(
        (
            (k, fn)
            for k, fn in schema.auto_value_functions()
            if ("$" not in k or ".$" in k) and not getattr(fn, "_is_spark_auto_value", False)
        ),
        key=lambda kv: kv[0].count("."),
    )
    if not fns:
        return None

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

    def run(entries, upsert):
        doc = _Doc(entries, upsert)
        for k, fn in fns:
            doc.run(k, fn)
        return doc.acts()

    udf = arrow_udf(partial(map, run), act_t)

    # each entry carries its row's own upsert flag, so kept rows come back
    # unchanged; the document's flag (any row upsert) goes to the UDF and to
    # the rows it adds
    aggs = [
        F.collect_list(
            F.struct(
                F.col("op"),
                F.col("key_path").alias("key"),
                F.col("value"),
                F.col("upsert"),
            )
        ).alias("entries"),
        F.max(F.col("upsert").cast("int")).cast("boolean").alias("upsert"),
    ]
    # the UDF result is a column of its own: HOF lambdas below may not
    # reference a Python UDF
    acts = udf(F.col("entries"), F.col("upsert")).alias("acts")
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
    return aggs, acts, F.inline(F.concat(kept, added))


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
