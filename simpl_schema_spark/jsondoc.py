"""Dynamic/JSON document mode: validate a JSON string column row-by-row.

The fixed-column validator (compiler/compile.py) enforces KEY_NOT_IN_SCHEMA
at compile time — right for tables, impossible for a ``json_blob`` column of
heterogeneous crawl payloads.  This module reproduces the reference's
present-key iteration (``validateField.ts:262-279``: unknown keys flagged
per document; ``typeValidator`` on each declared key) over JSON text:

- each document parsed once (``try_parse_json`` into a variant column of
  a decode projection, :class:`DocReads`), then per declared key one
  ``try_variant_get``/``to_json`` extraction into a column of the same
  projection, which PRESERVES JSON token types (strings stay quoted); the
  forest reads those columns, checked by the shared rule table
  (``compiler/rules.py``) over its JSON-token view: type, min/max, regex,
  allowedValues, minCount/maxCount, oneOf
- required: key absent or JSON null (doc mode, requiredValidator.ts:28,34)
- KEY_NOT_IN_SCHEMA: ``json_object_keys`` at the root and inside each
  declared (non-blackbox) object subtree, minus declared/blackbox names
- blackbox / Any subtrees skipped (validateField.ts:112-113,174-175)

The plan is the decode projection (codegen, fused with the scan) under one
``inline`` of the forest, which Spark runs as an interpreted ``Generate``
— no shuffle, no Python; at 10^12 docs it scales like the fixed-column
path.

Custom validators run through the JSON-token chain shared with modifier
rows (``compiler/validators.py``): Python field/item validators are
Arrow-batched pandas UDFs over decoded JSON tokens (cross-field fns get a
FieldContext whose row is the parsed document), and ``@spark_rule``
validators get the token typed by the key's alternatives (a VARIANT for
object- and mixed-type keys).  Malformed documents yield exactly one
``malformedJson`` violation per row (``try_parse_json``).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, functions as F

from .compiler.compile import is_spark_rule
from .compiler.rules import (
    TokenView,
    is_json_null,
    null_violation,
    check,
    first,
    is_any,
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

__all__ = ["json_violations_column", "validate_json_column"]


def _variant_path(key: str) -> str:
    return "$" + "".join(f"['{seg}']" for seg in key.split("."))


def _doc_row(doc) -> dict:
    """Context row of a two-argument validator: the parsed document."""
    row = decode_token(doc)
    return row if isinstance(row, dict) else {}


#: name of the parsed document in the decode projection
_PARSED = "__jv_doc"


class DocReads:
    """What the forest reads of a document: the parsed variant, each
    declared key's JSON token and each declared array's elements.

    Inline (``named=False``) every read is an expression over the JSON
    column, for a caller that puts the forest in its own projection;
    Catalyst then repeats each read at every reference.  Named, every read
    is a column of the decode projection under the forest: ``parsed``
    (the variant) first, then ``columns`` (the extractions), so each
    document is parsed once and each key extracted once."""

    def __init__(self, json_col: Column, *, named: bool) -> None:
        # try_parse_json: heterogeneous crawl payloads WILL contain malformed
        # rows; a null variant yields one malformedJson violation instead of
        # failing the whole job
        var = F.try_parse_json(json_col)
        self.named = named
        self.parsed = var.alias(_PARSED)
        self.var = F.col(_PARSED) if named else var
        self.columns: list[Column] = []
        self._reads: dict[tuple[str, str], Column] = {}

    def _read(self, key: str, ddl: str) -> Column:
        if (key, ddl) not in self._reads:
            expr = F.try_variant_get(self.var, _variant_path(key), ddl)
            if ddl == "variant":
                expr = F.to_json(expr)
            if self.named:
                name = f"__jv_{len(self.columns)}"
                self.columns.append(expr.alias(name))
                expr = F.col(name)
            self._reads[(key, ddl)] = expr
        return self._reads[(key, ddl)]

    def token(self, key: str) -> Column:
        """The key's value as a JSON token (NULL when absent)."""
        return self._read(key, "variant")

    def elements(self, key: str) -> Column:
        """The key's array elements as variants (NULL when not an array)."""
        return self._read(key, "array<variant>")


def json_violations_column(
    schema: SimpleSchema, json_col: Column, *, reads: DocReads | None = None
) -> Column:
    """``array<violation>`` for one JSON-document column.

    ``reads`` says where the forest reads the parsed document and its
    tokens; by default they are expressions over ``json_col``."""
    merged = schema.merged_schema()
    reads = reads or DocReads(json_col, named=False)
    var = reads.var
    blackbox = set(schema.blackbox_keys())
    context = (json_col, _doc_row)
    empty = F.array().cast(f"array<{VIOLATION_SCHEMA.simpleString()}>")

    def is_blackboxed(key: str) -> bool:
        return any(key == b or key.startswith(b + ".") for b in blackbox)

    arrays: list[Column] = []
    object_keys: list[str] = []
    for k in merged:
        if ".$" in k or is_blackboxed(k):
            continue
        alts = schema.resolved_alternatives(k)
        if is_any(alts):
            continue
        extracted = reads.token(k)
        view = TokenView(extracted)
        name = F.lit(k)
        chain: list[Column] = []
        if not is_optional(alts):
            chain.append(
                check(
                    extracted.isNull() | is_json_null(extracted),
                    violation(name, ErrorTypes.REQUIRED),
                )
            )
        err = value_error(view, name, alts)
        if err is not None:
            chain.append(check(extracted.isNotNull() & ~is_json_null(extracted), err))
        # custom validators run even when the key is absent (value None),
        # like the fixed-column compiler
        chain += token_custom_rules(
            view, name, k, alts, token_customs(schema, alts), context=context
        )
        if chain:
            arrays.append(F.array(first(chain)))
        # per-ELEMENT item checks for declared arrays: array<variant>
        # extraction keeps each element's JSON token; violations get
        # concrete-index names (validateField.ts:293-306); custom item
        # validators (Python + @spark_rule) coalesce with the built-in
        # rules so each concrete element key keeps one error
        item_key = f"{k}.$"
        if item_key in merged and not is_blackboxed(item_key):
            item_alts = schema.resolved_alternatives(item_key)
            item_fns = token_customs(schema, item_alts)
            if not is_any(item_alts) or item_fns:
                spark_fns = [fn for fn in item_fns if is_spark_rule(fn)]
                py_fns = [fn for fn in item_fns if not is_spark_rule(fn)]
                elems = reads.elements(k)

                # expression-form rules (built-in + @spark_rule) evaluate
                # inside ONE transform lambda, one coalesced error per element
                def elem_err(e: Column, i: Column) -> Column:
                    elem_name = F.concat(F.lit(k + "."), i.cast("string"))
                    ev = TokenView(F.to_json(e))
                    err = first(
                        [value_error(ev, elem_name, item_alts)]
                        + token_custom_rules(ev, elem_name, item_key, item_alts, spark_fns)
                    )
                    return null_violation() if err is None else err

                expr_arr = F.transform(elems, elem_err)
                if py_fns:
                    # Python item validators cannot be referenced inside a
                    # higher-order-function lambda (Spark analyzer:
                    # LAMBDA_FUNCTION_WITH_PYTHON_UDF), so the per-element
                    # merge happens in ONE Arrow-batched UDF over the array
                    tokens = F.transform(elems, lambda e: F.to_json(e))
                    per_elem = item_merge_udf(py_fns, item_key, _doc_row, indexed=True)(
                        expr_arr, tokens, F.lit(k), json_col
                    )
                else:
                    per_elem = F.filter(expr_arr, lambda x: x.isNotNull())
                arrays.append(F.when(elems.isNotNull(), per_elem).otherwise(empty))
        if is_object_key(alts):
            object_keys.append(k)

    # ---- KEY_NOT_IN_SCHEMA: root + every declared object subtree ----------
    def unknown_in(obj_json: Column, prefix: str) -> Column:
        declared = sorted(
            {
                k[len(prefix):].split(".")[0]
                for k in merged
                if (k.startswith(prefix) if prefix else True) and ".$" not in k
            }
            | {
                b[len(prefix):].split(".")[0]
                for b in blackbox
                if (b.startswith(prefix) if prefix else True)
            }
        )
        declared_arr = (
            F.array(*[F.lit(n) for n in declared])
            if declared
            else F.array().cast("array<string>")
        )
        return F.transform(
            F.coalesce(
                F.array_except(F.json_object_keys(obj_json), declared_arr),
                F.array().cast("array<string>"),
            ),
            lambda nm: violation(
                F.concat(F.lit(prefix), nm), ErrorTypes.KEY_NOT_IN_SCHEMA
            ),
        )

    arrays.append(unknown_in(json_col, ""))
    for k in object_keys:
        sub = reads.token(k)
        arrays.append(F.when(sub.isNotNull(), unknown_in(sub, k + ".")).otherwise(empty))

    combined = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    # malformed document: one malformedJson violation, nothing else (the
    # per-key chains would otherwise cascade spurious `required` rows)
    return F.when(
        json_col.isNotNull() & var.isNull(),
        F.array(violation(F.lit("$"), ErrorTypes.MALFORMED_JSON)),
    ).otherwise(F.array_compact(combined))


def validate_json_column(
    df: DataFrame,
    schema: SimpleSchema,
    json_col: str = "json_blob",
    id_cols: Iterable[str] = ("doc_id",),
) -> DataFrame:
    """Exploded violations table for a JSON string column.

    Shape: a decode projection parses each document once and extracts each
    declared key once; the violation forest above it reads those columns.
    Both are pure unbound Columns over the named column — memoized together
    on the schema instance like the modifier/document forests (building
    them is py4j-round-trip-bound; invalidated on definition change via
    ``SimpleSchema._rebuild_caches``, keyed on the active validator
    identities)."""
    id_cols = list(id_cols)
    memo_key = (
        "json_violations",
        json_col,
        tuple(id(fn) for fn in schema.all_validators()),
    )
    memo = schema.__dict__.setdefault("_compiled_memo", {})
    if memo_key not in memo:
        reads = DocReads(F.col(json_col), named=True)
        forest = json_violations_column(schema, F.col(json_col), reads=reads)
        memo[memo_key] = (reads.parsed, reads.columns, forest)
    parsed, decoded, forest = memo[memo_key]
    keep = list(dict.fromkeys([*id_cols, json_col]))
    return (
        df.select(*keep, parsed)
        .select(*keep, _PARSED, *decoded)
        .select(*id_cols, F.inline(forest))
    )
