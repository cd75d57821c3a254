"""Dynamic/JSON document mode: validate a JSON string column row-by-row.

The fixed-column validator (compiler/compile.py) enforces KEY_NOT_IN_SCHEMA
at compile time — right for tables, impossible for a ``json_blob`` column of
heterogeneous crawl payloads.  This module reproduces the reference's
present-key iteration (``validateField.ts:262-279``: unknown keys flagged
per document; ``typeValidator`` on each declared key) over JSON text:

- each document parsed once (``try_parse_json`` into a variant column of
  a decode projection, :class:`DocReads`), then per declared key one
  ``try_variant_get`` extraction of its variant, its kind code and its
  typed reads, in projections above; the forest reads those columns,
  checked by the shared rule table (``compiler/rules.py``) over its
  JSON-token view: type, min/max, regex, allowedValues,
  minCount/maxCount, oneOf
- required: key absent or JSON null (doc mode, requiredValidator.ts:28,34),
  where every optional ancestor object is there and not null, as in tables
- KEY_NOT_IN_SCHEMA: ``json_object_keys`` at the root and the variant's
  keys inside each declared (non-blackbox) object subtree, minus
  declared/blackbox names
- blackbox / Any subtrees skipped (validateField.ts:112-113,174-175)

The plan is the decode projections (codegen, fused with the scan) under
one ``inline`` of the forest, which Spark runs as an interpreted
``Generate`` — no shuffle, no Python; at 10^12 docs it scales like the
fixed-column path.

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

from .compiler.memo import compiled
from .compiler.rules import (
    TokenView,
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
    token_custom_rules,
    token_customs,
    token_item_rules,
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
    declared key's value (a :class:`TokenView`) and each declared array's
    elements.

    Inline (``named=False``) every read is an expression over the JSON
    column, for a caller that puts the forest in its own projection;
    Catalyst then repeats each read at every reference.  Named, every read
    is a column of the decode projections under the forest: ``parsed``
    (the variant) first, then the ``levels`` in order (the extractions,
    the values' kind codes, the typed reads), so each document is parsed
    once and each key extracted and classified once."""

    def __init__(self, json_col: Column, *, named: bool) -> None:
        # try_parse_json: heterogeneous crawl payloads WILL contain malformed
        # rows; a null variant yields one malformedJson violation instead of
        # failing the whole job
        var = F.try_parse_json(json_col)
        self.named = named
        self.parsed = var.alias(_PARSED)
        self.var = F.col(_PARSED) if named else var
        self.levels: list[list[Column]] = [[], [], []]
        self._reads: dict[tuple[str, str], Column] = {}
        self._views: dict[str, TokenView] = {}

    def _read(self, key: str, ddl: str) -> Column:
        if (key, ddl) not in self._reads:
            expr = F.try_variant_get(self.var, _variant_path(key), ddl)
            if self.named:
                name = f"__jv_{len(self.levels[0])}"
                self.levels[0].append(expr.alias(name))
                expr = F.col(name)
            self._reads[(key, ddl)] = expr
        return self._reads[(key, ddl)]

    def view(self, key: str) -> TokenView:
        """The key's value (its variant NULL when absent)."""
        if key not in self._views:
            view = TokenView(self._read(key, "variant"))
            if self.named:
                kinds, reads = view.named_reads(f"__jk{len(self._views)}_")
                self.levels[1] += kinds
                self.levels[2] += reads
            self._views[key] = view
        return self._views[key]

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
        view = reads.view(k)
        name = F.lit(k)
        chain: list[Column] = []
        if not is_optional(alts):
            # as in typed tables: not under a missing or null optional object
            missing = view.var.isNull() | view.is_null
            segs = k.split(".")
            for anc in (".".join(segs[:n]) for n in range(1, len(segs))):
                if anc in merged and is_optional(schema.resolved_alternatives(anc)):
                    parent = reads.view(anc)
                    missing = missing & parent.var.isNotNull() & ~parent.is_null
            chain.append(check(missing, violation(name, ErrorTypes.REQUIRED)))
        err = value_error(view, name, alts)
        if err is not None:
            chain.append(check(view.var.isNotNull() & ~view.is_null, err))
        # custom validators run even when the key is absent (value None),
        # like the fixed-column compiler
        chain += token_custom_rules(
            view, name, k, alts, token_customs(schema, alts), context=context
        )
        if chain:
            arrays.append(F.array(first(chain)))
        # per-ELEMENT item checks for declared arrays: array<variant>
        # extraction keeps each element's JSON token; violations get
        # concrete-index names (validateField.ts:293-306)
        item_key = f"{k}.$"
        if item_key in merged and not is_blackboxed(item_key):
            item_alts = schema.resolved_alternatives(item_key)
            item_fns = token_customs(schema, item_alts)
            if not is_any(item_alts) or item_fns:
                elems = reads.elements(k)
                per_elem = token_item_rules(
                    elems, name, item_key, item_alts, item_fns, indexed=True, context=context
                )
                arrays.append(F.when(elems.isNotNull(), per_elem).otherwise(empty))
        if is_object_key(alts):
            object_keys.append(k)

    # ---- KEY_NOT_IN_SCHEMA: root + every declared object subtree ----------
    def unknown_in(names: Column, prefix: str) -> Column:
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
        declared_arr = F.array(*map(F.lit, declared)).cast("array<string>")
        return F.transform(
            F.coalesce(
                F.array_except(names, declared_arr),
                F.array().cast("array<string>"),
            ),
            lambda nm: violation(
                F.concat(F.lit(prefix), nm), ErrorTypes.KEY_NOT_IN_SCHEMA
            ),
        )

    arrays.append(unknown_in(F.json_object_keys(json_col), ""))
    for k in object_keys:
        # only a JSON object has children: an extended-JSON date is not one
        view = reads.view(k)
        names = F.map_keys(F.try_variant_get(view.var, "$", "map<string,variant>"))
        arrays.append(F.when(view.is_object, unknown_in(names, k + ".")).otherwise(empty))

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

    Shape: decode projections parse each document once, then extract,
    classify and read each declared key once; the violation forest above
    them reads those columns.  All are pure unbound Columns over the named
    column, taken from the compile cache (``compiler/memo.py``)."""
    id_cols = list(id_cols)
    parsed, levels, forest = compiled(
        schema, "json_violations", json_col, (), lambda: _json_forest(schema, json_col)
    )
    df = df.select(*dict.fromkeys([*id_cols, json_col]), parsed)
    for cols in levels:
        df = df.select("*", *cols)
    return df.select(*id_cols, F.inline(forest))


def _json_forest(schema: SimpleSchema, json_col: str) -> tuple:
    """The decode projections' columns and the forest over them."""
    reads = DocReads(F.col(json_col), named=True)
    forest = json_violations_column(schema, F.col(json_col), reads=reads)
    return reads.parsed, reads.levels, forest
