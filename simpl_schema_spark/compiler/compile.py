"""Schema → Spark expression compiler: the one key traversal.

Compiles a :class:`~simpl_schema_spark.schema.SimpleSchema` into ONE
Catalyst projection producing an ``array<violation>`` column per row.  No
shuffles, no row-at-a-time Python: the entire validator chain — required
decision table, per-type checks (bounds/regex/NaN/integer), allowedValues,
oneOf dispatch, array-item recursion with per-index violation naming — is
pure Spark SQL expressions (higher-order functions for arrays), so
whole-stage codegen fuses it with the scan.

:class:`RuleCompiler` owns the traversal (keys, objects, arrays, required,
custom validators, unknown keys) and walks a view of the document, asking
it for each child (``field``), whether a value is missing (``missing``),
an array's items (``items``/``item``) and an object's member names
(``names``):

- a typed table is a :class:`~.rules.ColumnView` of its columns;
- a JSON document is a :class:`~.rules.TokenView` of its parsed variant
  (``jsondoc``), whose declared keys are read once in decode projections.

The per-value decision tables — type, string/number/date/array rules,
allowedValues, oneOf — live in :mod:`.rules`, written once over both views.
Python validators are inline Arrow UDF Columns (``validators.value_udf``,
``validators.item_udf``) fed by the mode's shipping function.  A key
under arrays gets one UDF over its outermost array, whose per-item results
are zipped (``arrays_zip``) into each ``transform`` level: a Python UDF
cannot be referenced inside a lambda.

Semantics parity map (reference = longshotlabs/simpl-schema):

- validator chain order [required, type, allowedValues, custom, schema
  validators, global validators]: ``src/validation/validateField.ts:192-226``
  → per-key ordered ``F.coalesce`` (first non-null violation wins, which also
  reproduces the one-error-per-key dedupe of ``src/doValidation.ts:115-124``).
- required decision table: ``src/validation/requiredValidator.ts:13-61``;
  missing-object promotion (required descendants of a missing *required*
  object fire; of a missing *optional* object don't):
  ``src/validation/validateField.ts:313-321`` → the ``opt_gate`` conjunction
  of presence over *optional* ancestors only.
- type checks and oneOf: :mod:`.rules` (``src/validation/typeValidator/*.ts``,
  ``src/validation/validateField.ts:171-256``); a column whose dtype does not
  conform fails at compile time, one ``expectedType`` per non-null value.
- ``SimpleSchema.Any`` / ``blackbox: true`` subtrees: no rules compiled
  (``src/validation/validateField.ts:112-113,174-175``).
- per-item array violations named with concrete indexes (``friends.0.name``):
  ``src/validation/validateField.ts:293-306`` → ``F.transform`` with index
  lambda; flatten.
- unknown keys (``src/validation/validateField.ts:262-279``): a JSON object's
  member names minus the declared ones, per document; a typed table's
  top-level columns at compile time, under ``extra_key_policy``.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Optional

from pyspark.sql import Column, functions as F, types as T

from ..arrowsafe import arrow_inputs
from ..errors import ErrorTypes, VIOLATION_SCHEMA
from ..schema.definition import make_key_generic
from ..schema.schema import SimpleSchema
from ..schema.types import AnyType, ArrayType, ObjectType
from . import rules
from .rules import ColumnView, View, check, violation
from .validators import (
    RuleContext,
    array_levels,
    is_spark_rule,
    item_udf,
    spark_rule,
    value_udf,
    wants_context,
)

__all__ = ["RuleCompiler", "compile_violations", "spark_rule", "violation"]

#: ``ship(view, path, fn, whole_array)`` → the input Columns of a Python
#: validator on the value of ``view`` (at the dotted ``path``; for an item
#: key, the whole outermost array) and ``unpack(*inputs) -> (value, row)``
Ship = Callable[[View, str, Callable, bool], tuple[list[Column], Callable]]


def _empty() -> Column:
    return F.array().cast(T.ArrayType(VIOLATION_SCHEMA))


class RuleCompiler:
    """Compile one SimpleSchema over one root view.

    With ``compact`` the caller drops the NULL violations of
    :meth:`key_violations` (``array_compact``), so a key's error goes in
    as a one-item array and its chain is evaluated once: the JSON forest
    runs in an interpreted ``Generate``, where no common subexpression is
    eliminated."""

    def __init__(
        self,
        schema: SimpleSchema,
        root: View,
        ship: Ship,
        *,
        compact: bool = False,
        keys: Optional[list[str]] = None,
        ignore: Optional[list[str]] = None,
        extra_key_policy: str = "violation",  # violation | ignore | error
    ) -> None:
        self.schema = schema
        self.root = root
        self.ship = ship
        self.compact = compact
        self.keys = [make_key_generic(k) for k in keys] if keys else None
        self.ignore = list(ignore or [])
        self.extra_key_policy = extra_key_policy
        self.merged = schema.merged_schema()
        # (generic key, fn) → the error Column of a row-level Python
        # validator: its chain is compiled for both the value-present and
        # the value-missing branch, and shares one UDF
        self._udfs: dict[tuple[str, Callable], Column] = {}
        # per enclosing item lambda: (item key, fn) → its Python validator's
        # result for the current item, zipped along the array
        self._frames: list[dict[tuple[str, Callable], Column]] = []
        # while the items of an outermost array are first compiled: the
        # Python validators found under it
        self._found: Optional[list[tuple[str, Callable]]] = None

    # -------------------------------------------------------------- public

    def key_violations(self) -> list[Column]:
        """The ``array<violation>`` Columns of every key under the root
        (with ``compact``, NULL violations among them)."""
        return self._compile_children("", self.root, None, None)

    def violations_column(self) -> Column:
        """The typed table's whole rule forest as one array<violation> Column.

        Assembled with ``concat`` of conditional singleton arrays rather than
        ``array_compact(flatten(...))``: higher-order functions are
        CodegenFallback expressions, and keeping them out of the row-level
        path lets the entire projection stay inside whole-stage codegen
        (HOFs remain only inside array-item subtrees, where they are the
        right tool).
        """
        arrays = self.key_violations() + self._extra_key_violations()
        if not arrays:
            return _empty()
        combined = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
        if self.ignore:
            ig = [F.lit(t) for t in self.ignore]
            combined = F.filter(
                combined, lambda v: ~v.getField("type").isin(*ig)
            )
        return combined

    # ----------------------------------------------------------- traversal

    def _should_emit(self, generic: str) -> bool:
        if self.keys is None:
            return True
        return any(
            generic == k or generic.startswith(f"{k}.") or k.startswith(f"{generic}.")
            for k in self.keys
        )

    def _emit_rules_for(self, generic: str) -> bool:
        if self.keys is None:
            return True
        return any(
            generic == k or generic.startswith(f"{k}.") for k in self.keys
        )

    def _direct_children(self, prefix: str) -> list[str]:
        """Immediate child generic keys of a prefix ('' = top level)."""
        out = []
        seen = set()
        p = f"{prefix}." if prefix else ""
        for k in self.merged:
            if not k.startswith(p):
                continue
            rest = k[len(p):]
            first = rest.split(".")[0]
            if first == "$":
                continue
            child = f"{p}{first}"
            if child not in seen and child in self.merged:
                seen.add(child)
                out.append(child)
        return out

    def _compile_children(
        self,
        prefix: str,
        view: View,
        name_prefix: Optional[Column],
        opt_gate: Optional[Column],
    ) -> list[Column]:
        arrays: list[Column] = []
        children = self._direct_children(prefix)
        for child in children:
            if not self._should_emit(child):
                continue
            leaf = child.split(".")[-1]
            child_name = (
                F.lit(leaf)
                if name_prefix is None
                else F.concat(name_prefix, F.lit("." + leaf))
            )
            arrays.extend(
                self._compile_key(child, view.field(leaf), child_name, opt_gate)
            )
        if view.names is not None:
            declared = [c.split(".")[-1] for c in children]
            arrays.append(self._unknown_keys(view, name_prefix, declared))
        return arrays

    def _compile_key(
        self,
        generic: str,
        view: View,
        name: Column,
        opt_gate: Optional[Column],
    ) -> list[Column]:
        alternatives = self.schema.resolved_alternatives(generic)
        optional = rules.is_optional(alternatives)

        arrays: list[Column] = []

        if self._emit_rules_for(generic):
            key_err = self._key_error(
                generic, view, name, alternatives, optional, opt_gate
            )
            if key_err is not None:
                # an item's violations are compacted in its lambda
                arrays.append(
                    F.array(key_err) if self.compact or self._frames
                    else F.when(key_err.isNotNull(), F.array(key_err)).otherwise(_empty())
                )

        # recursion — objects and arrays
        alt_types = [a.get("type") for a in alternatives]
        has_any = any(t is AnyType for t in alt_types)
        is_blackbox = any(a.get("blackbox") is True for a in alternatives)

        if not has_any and not is_blackbox:
            child_gate = opt_gate
            if optional:
                present = ~view.missing
                child_gate = present if child_gate is None else (child_gate & present)

            if any(t is ObjectType or isinstance(t, SimpleSchema) for t in alt_types):
                arrays.extend(self._compile_children(generic, view, name, child_gate))

            item_generic = f"{generic}.$"
            if ArrayType in alt_types and view.items is not None and item_generic in self.merged:
                arrays.append(self._compile_array_items(item_generic, view, name))
        return arrays

    def _compile_array_items(self, item_generic: str, view: View, name: Column) -> Column:
        """Per-item violations, named with concrete indexes
        (validateField.ts:293-306).

        Python validators of the keys under an outermost array run once
        over the whole array: a first pass over its items finds them, and
        the second zips their results into the lambdas, level by level."""
        if self._frames:
            results = {
                kf: r for kf, r in self._frames[-1].items()
                if kf[0] == item_generic or kf[0].startswith(item_generic + ".")
            }
            return self._items(item_generic, view, name, results)
        self._found = []
        try:
            col = self._items(item_generic, view, name, {})
        finally:
            found, self._found = self._found, None
        if not found:
            return col
        head = item_generic[: -len(".$")]
        results = {}
        for key, fn in found:
            cols, unpack = self.ship(view, head, fn, True)
            results[(key, fn)] = item_udf(fn, key, array_levels(key)[1], unpack)(*cols)
        return self._items(item_generic, view, name, results)

    def _items(
        self,
        item_generic: str,
        view: View,
        name: Column,
        results: dict[tuple[str, Callable], Column],
    ) -> Column:
        arr = view.items
        kfs = list(results)
        src = arr
        if kfs:
            src = F.arrays_zip(
                arr.alias("v"), *[results[kf].alias(f"u{j}") for j, kf in enumerate(kfs)]
            )

        def per_item(x: Column, i: Column) -> Column:
            item = view.item(x.getField("v") if kfs else x)
            self._frames.append({kf: x.getField(f"u{j}") for j, kf in enumerate(kfs)})
            try:
                item_arrays = self._compile_key(
                    item_generic,
                    item,
                    F.concat(name, F.lit("."), i.cast("string")),
                    opt_gate=~item.missing,
                )
            finally:
                self._frames.pop()
            if not item_arrays:
                return _empty()
            return F.array_compact(F.flatten(F.array(*item_arrays)))

        out = F.flatten(F.transform(src, per_item))
        if kfs:
            # NULL where the UDFs got no array: a deep typed array ships a
            # dummy item for an empty one (``arrowsafe``)
            out = F.coalesce(out, _empty())
        return F.when(arr.isNotNull(), out).otherwise(_empty())

    # ------------------------------------------------------------ key rules

    def _key_error(
        self,
        generic: str,
        view: View,
        name: Column,
        alternatives: list[dict],
        optional: bool,
        opt_gate: Optional[Column],
    ) -> Optional[Column]:
        missing = view.missing
        chain: list[Column] = []

        # V1 required (requiredValidator.ts:13-61, doc mode: null==missing)
        if not optional:
            cond = missing
            if opt_gate is not None:
                cond = cond & opt_gate
            chain.append(check(cond, violation(name, ErrorTypes.REQUIRED)))

        # ordered validator tail of one alternative: custom, then
        # schema-level, then global validators (validateField.ts:192-226 /
        # SimpleSchema.ts:825-827, 1059-1061)
        def customs(alt: dict) -> list[Column]:
            custom = alt.get("custom")
            tail = ([custom] if custom is not None else []) + self.schema.all_validators()
            return [
                self._custom_error(generic, view, name, alternatives, alt, fn)
                for fn in tail
            ]

        # value checks only when a value is present; custom validators run on
        # EVERY key visit, set or not (reference validateField.ts:192-226 —
        # typeValidator/allowedValues skip internally when !isSet, custom
        # fns receive isSet=false; conditionally-required depends on this)
        one_of = rules.one_of(
            alternatives, lambda alt: rules.value_rules(view, name, alt) + customs(alt)
        )
        custom_only = rules.one_of(alternatives, customs)
        if one_of is not None:
            chain.append(
                F.when(~missing, one_of).otherwise(
                    custom_only if custom_only is not None else rules.null_violation()
                )
            )
        elif custom_only is not None:
            chain.append(check(missing, custom_only))

        return rules.first(chain)

    def _custom_error(
        self,
        generic: str,
        view: View,
        name: Column,
        alternatives: list[dict],
        alt: dict,
        custom: Callable,
    ) -> Column:
        if is_spark_rule(custom):
            ctx = RuleContext(key=generic, name=name, definition=alt)
            err_type = custom(view.typed(alternatives), ctx)
        else:
            err_type = self._python_error(generic, view, custom)
        return check(err_type.isNotNull(), violation(name, err_type, value=view.display))

    def _python_error(self, generic: str, view: View, fn: Callable) -> Column:
        """A Python validator's error type: an inline Arrow UDF at row
        level, or inside item lambdas its zipped result for the item."""
        kf = (generic, fn)
        if self._found is not None:
            if kf not in self._found:
                self._found.append(kf)
            return F.lit(None).cast("string")
        if self._frames:
            return self._frames[-1][kf]
        if kf not in self._udfs:
            cols, unpack = self.ship(view, generic, fn, False)
            self._udfs[kf] = value_udf(fn, generic, unpack)(*cols)
        return self._udfs[kf]

    # --------------------------------------------------------- extra keys

    def _unknown_keys(self, view: View, name: Optional[Column], declared: list[str]) -> Column:
        """KEY_NOT_IN_SCHEMA for the object's members found at runtime
        minus the declared (and blackbox) names; below the root only for a
        JSON object (an extended-JSON date is none)."""
        declared_arr = F.array(*map(F.lit, sorted(declared))).cast("array<string>")
        unknown = F.transform(
            F.coalesce(F.array_except(view.names, declared_arr), F.array().cast("array<string>")),
            lambda nm: violation(
                nm if name is None else F.concat(name, F.lit("."), nm),
                ErrorTypes.KEY_NOT_IN_SCHEMA,
            ),
        )
        return unknown if name is None else F.when(view.is_object, unknown).otherwise(_empty())

    def _extra_key_violations(self) -> list[Column]:
        """KEY_NOT_IN_SCHEMA for DataFrame columns the schema doesn't allow
        (allowsKey: SimpleSchema.ts:594-624; emission validateField.ts:262-279).

        With a fixed table schema, presence is per-row non-null; unknown
        columns that are entirely absent can't occur.
        """
        if self.extra_key_policy == "ignore":
            return []
        out: list[Column] = []
        for f in self.root.dtype.fields:
            if not self.schema.allows_key(f.name):
                if self.extra_key_policy == "error":
                    raise ValueError(
                        f"column {f.name!r} is not allowed by the schema"
                    )
                out.append(
                    F.when(
                        F.col(f.name).isNotNull(),
                        F.array(
                            violation(
                                F.lit(f.name),
                                ErrorTypes.KEY_NOT_IN_SCHEMA,
                                value=rules.stringify(F.col(f.name), f.dataType),
                            )
                        ),
                    ).otherwise(_empty())
                )
        return out


def _ship_columns(
    df_schema: T.StructType, view: View, path: str, fn: Callable, whole_array: bool
) -> tuple[list[Column], Callable]:
    """A typed table's shipping: ``arrowsafe.arrow_inputs`` of the column
    at ``path`` (a NULL when absent), with the row's columns for a
    two-argument validator."""
    absent = isinstance(view.dtype, T.NullType)
    context = fn if wants_context(fn) else None
    return arrow_inputs(df_schema, None if absent else path, context, whole_array=whole_array)


def compile_violations(
    schema: SimpleSchema,
    df_schema: T.StructType,
    **kwargs: Any,
) -> Column:
    root = ColumnView(None, df_schema)
    return RuleCompiler(schema, root, partial(_ship_columns, df_schema), **kwargs).violations_column()
