"""Dynamic/JSON document mode: validate a JSON string column row-by-row.

A JSON document goes through the typed tables' key traversal
(``compiler/compile.RuleCompiler``): its root is a JSON-token view of the
parsed document, so required (absent or JSON null, under present optional
objects), the value rules of the shared rule table (``compiler/rules.py``),
custom validators, array items at any depth and unknown keys are decided
as for typed tables.  Only the runtime differs:

- each document is parsed once (``try_parse_json`` into a variant column
  of a decode projection, :class:`DocReads`), then per declared key one
  ``try_variant_get`` extraction of its variant, its kind code and its
  typed reads, in projections above; the forest reads those columns.
  Array items are read from their array's elements inside the
  ``transform`` lambdas.
- KEY_NOT_IN_SCHEMA comes per document (``validateField.ts:262-279``):
  ``json_object_keys`` at the root and the variant's member names in each
  declared, non-blackbox object (array items included), minus the
  declared and blackbox names.
- Python validators ship the value's JSON text, decoded in the UDF; a
  two-argument validator's ``FieldContext`` row is the parsed document.
  ``@spark_rule`` validators get the token typed by the key's alternatives
  (a VARIANT for object- and mixed-type keys).

This module adds the malformed-document wrapper: a document that does not
parse yields exactly one ``malformedJson`` violation (``try_parse_json``).
The plan is the decode projections (codegen, fused with the scan) under
one ``inline`` of the forest, which Spark runs as an interpreted
``Generate`` — no shuffle; Python only where a Python validator is
declared.
"""

from __future__ import annotations

from functools import cached_property, partial
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, functions as F

from .compiler.compile import RuleCompiler
from .compiler.memo import compiled
from .compiler.rules import TokenView, View, violation
from .compiler.validators import decode_token, wants_context
from .errors import ErrorTypes
from .schema.schema import SimpleSchema

__all__ = ["json_violations_column", "validate_json_column"]


def _variant_path(key: str) -> str:
    return "$" + "".join(f"['{seg}']" for seg in key.split("."))


def _doc_row(doc) -> dict:
    """Context row of a two-argument validator: the parsed document."""
    row = decode_token(doc)
    return row if isinstance(row, dict) else {}


def _ship(json_col: Column, view: View, path: str, fn: Callable, whole_array: bool) -> tuple:
    """A document's shipping: the value's JSON text, decoded, and for a
    two-argument validator the document as its row."""
    context = [json_col] if wants_context(fn) else []
    return [view.json, *context], lambda tok, doc=None: (decode_token(tok), _doc_row(doc))


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
        self.json_col = json_col
        self.named = named
        self.parsed = var.alias(_PARSED)
        self.var = F.col(_PARSED) if named else var
        self.levels: list[list[Column]] = [[], [], []]
        self._reads: dict[tuple[str, str], Column] = {}
        self._views: dict[str, TokenView] = {}
        self.root = _DocView(self, "")

    def read(self, key: str, ddl: str) -> Column:
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
            view = _DocView(self, key)
            if self.named:
                kinds, reads = view.named_reads(f"__jk{len(self._views)}_")
                self.levels[1] += kinds
                self.levels[2] += reads
            self._views[key] = view
        return self._views[key]


class _DocView(TokenView):
    """A declared key of a document (``''``: the document itself), whose
    members and elements are the :class:`DocReads` reads of their dotted
    keys."""

    def __init__(self, reads: DocReads, key: str) -> None:
        super().__init__(reads.read(key, "variant") if key else reads.var)
        self.reads = reads
        self.key = key

    def field(self, name: str) -> TokenView:
        return self.reads.view(f"{self.key}.{name}" if self.key else name)

    @cached_property
    def names(self) -> Column:
        # the document's own names come from its text: the variant's map
        # would be one more extraction of the whole document
        if self.key:
            return super().names
        return F.json_object_keys(self.reads.json_col)

    def elements(self, path: str) -> Column:
        if path == "$":
            return self.reads.read(self.key, "array<variant>")
        return super().elements(path)


def json_violations_column(
    schema: SimpleSchema, json_col: Column, *, reads: DocReads | None = None
) -> Column:
    """``array<violation>`` for one JSON-document column.

    ``reads`` says where the forest reads the parsed document and its
    tokens; by default they are expressions over ``json_col``."""
    reads = reads or DocReads(json_col, named=False)
    compiler = RuleCompiler(schema, reads.root, partial(_ship, json_col), compact=True)
    arrays = compiler.key_violations()
    combined = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    # malformed document: one malformedJson violation, nothing else (the
    # per-key chains would otherwise cascade spurious `required` rows)
    return F.when(
        json_col.isNotNull() & reads.var.isNull(),
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
