"""Arrow-safe shipping of typed columns to the engine's Python callbacks.

Shipping a column whose type nests THREE or more list levels (e.g.
``array<struct<array<struct<array<string>>>>>``) to a pandas UDF SEGFAULTS
the Python worker inside ``arrow_to_pandas`` whenever the TOP-LEVEL array
of a row is NULL or EMPTY — the serialized batch then carries a
zero-length struct child whose grandchild list buffers pyarrow 16 crashes
on.  (Reproduced with an identity ``pandas_udf``; pure
``pyarrow.Array.to_pandas`` on the same logical values is fine, so the
malformed buffers come from Spark's ArrowWriter.)  Inner-level nulls and
empties are unaffected, and a one-element ``[null]`` top-level array
round-trips correctly.  Wrapping such a column in one MORE struct level
(a context struct) crashes the converter even for fully-populated data.

:func:`arrow_inputs` ships every typed value and context the engine hands
to Python, around both crashes: deep values and deep context columns take
a ``to_json`` detour, and a whole deep array ships ``[null]`` for its
null or empty rows, flagged so that no callback ever sees the dummy.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Optional

from pyspark.sql import Column, functions as F, types as T

__all__ = ["list_depth", "needs_arrow_guard", "resolve_dtype", "arrow_inputs"]


def list_depth(dtype: T.DataType) -> int:
    """Maximum number of nested ArrayType levels anywhere in ``dtype``."""
    if isinstance(dtype, T.ArrayType):
        return 1 + list_depth(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return max((list_depth(f.dataType) for f in dtype.fields), default=0)
    if isinstance(dtype, T.MapType):
        return max(list_depth(dtype.keyType), list_depth(dtype.valueType))
    return 0


def needs_arrow_guard(dtype: T.DataType) -> bool:
    return list_depth(dtype) >= 3


def resolve_dtype(schema: T.StructType, path: str) -> T.DataType:
    """DataType of a (possibly dotted) column path in a struct schema."""
    cur: T.DataType = schema
    for seg in path.split("."):
        cur = cur[seg].dataType  # type: ignore[index]
    return cur


def arrow_inputs(
    schema: T.StructType,
    path: Optional[str],
    context: Any = None,
    *,
    whole_array: bool = False,
) -> tuple[list[Column], Callable[..., tuple[Any, dict]]]:
    """The input columns of a Python callback over a DataFrame of
    ``schema``, and ``unpack(*inputs) -> (value, row)`` that restores one
    row of them on the Python side.

    - The value at the dotted column ``path`` (a NULL when None: the column
      is absent) and a JVM-computed NULL flag, since Arrow renders a NULL
      in an integral column as NaN; flagged rows unpack as None.  A
      ``whole_array`` (the outer array of an array-item key) is also
      flagged when empty, and when deep ships ``[null]`` in those rows:
      callers gate the result on the real array.
    - With a ``context`` callback, a struct of the columns it may read:
      its declared ``context_fields``, else every column not starting with
      ``__`` (the engine's helper columns); ``True`` ships every such
      column.  ``row`` is their dict (``{}`` without a context).
    """
    detour = False
    if path is None:
        cols = [F.lit(None).cast("string"), F.lit(True)]
    else:
        col, dtype = F.col(path), resolve_dtype(schema, path)
        deep = needs_arrow_guard(dtype)
        if whole_array:
            # ANSI size(NULL) is NULL: the coalesce flags null arrays too
            dummy = F.array(F.lit(None).cast(dtype.elementType))
            cols = [
                F.when(F.size(col) > 0, col).otherwise(dummy) if deep else col,
                F.coalesce(F.size(col) <= 0, F.lit(True)),
            ]
        else:
            detour = deep
            cols = [F.to_json(col) if deep else col, col.isNull()]
    jsonified = []
    if context is not None:
        declared = getattr(context, "context_fields", None)
        names = list(declared) if declared else [c for c in schema.fieldNames() if not c.startswith("__")]
        fields = []
        for c in names:
            if needs_arrow_guard(resolve_dtype(schema, c)):
                fields.append(F.to_json(F.col(c)).alias(c))
                jsonified.append(c)
            else:
                fields.append(F.col(c).alias(c))
        cols.append(F.struct(*fields))

    def unpack(value, flag, ctx=None):
        # JSON-detoured context columns come back as dicts and lists, the
        # shapes Arrow gives structs (datetimes inside them as ISO strings)
        row = ctx or {}
        if jsonified:
            row = {**row, **{c: json.loads(row[c]) for c in jsonified if isinstance(row.get(c), str)}}
        if flag:
            return None, row
        return (json.loads(value) if detour else value), row

    return cols, unpack
