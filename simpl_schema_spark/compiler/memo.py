"""One bounded compile cache for every entry point.

Rule forests and cleaning projections are unbound Columns: they depend
only on the schema's content, the input shape and the call's options, and
they outlive the Spark session that built them.  The key is a canonical
form of all three, with each merged key's resolved alternatives
(function-valued props evaluated on every call) standing for the content,
so equal schemas share an entry and a redefined one gets a new entry.
Functions are held by reference: an entry keeps them alive, so no reused
address can give a stale hit.
"""

from __future__ import annotations

import re
import threading
import types
from collections import OrderedDict
from typing import Any, Callable

from ..schema.definition import TypeGroup
from ..schema.schema import SimpleSchema

__all__ = ["MAX_ENTRIES", "compiled"]

#: entries kept, least recently used evicted first
MAX_ENTRIES = 64

_entries: "OrderedDict[tuple, Any]" = OrderedDict()
_lock = threading.Lock()


def compiled(schema: SimpleSchema, kind: str, shape: Any, opts: Any, build: Callable[[], Any]) -> Any:
    """The cached ``build()`` for (``kind``, the schema's content, the input
    ``shape``, the call's ``opts``); ``build`` runs only on a miss."""
    key = (kind, _freeze(shape), _freeze(opts), _schema_form(schema))
    with _lock:
        if key in _entries:
            _entries.move_to_end(key)
            return _entries[key]
    value = build()
    with _lock:
        _entries[key] = value
        _entries.move_to_end(key)
        while len(_entries) > MAX_ENTRIES:
            _entries.popitem(last=False)
    return value


def _schema_form(schema: SimpleSchema) -> tuple:
    """The schema's content as a hashable value: equal for two instances
    that compile alike."""
    return (
        tuple((k, _freeze(schema.resolved_alternatives(k))) for k in schema.merged_schema()),
        _freeze(schema._options),
        _freeze(schema.all_validators()),
    )


def _freeze(x: Any) -> Any:
    """Canonical hashable form.  Every value is tagged with its type, so
    ``1``, ``1.0`` and ``True`` differ; anything that is not a container,
    a regex, a type group or a subschema (functions, type tokens) is held
    by reference."""
    if isinstance(x, dict):
        return (dict, frozenset((_freeze(k), _freeze(v)) for k, v in x.items()))
    if isinstance(x, (list, tuple)):
        return (tuple, tuple(map(_freeze, x)))
    if isinstance(x, (set, frozenset)):
        return (frozenset, frozenset(map(_freeze, x)))
    if isinstance(x, TypeGroup):
        return (TypeGroup, _freeze(x.definitions))
    if isinstance(x, SimpleSchema):
        return (SimpleSchema, _schema_form(x))
    if isinstance(x, re.Pattern):
        return (re.Pattern, x.pattern, x.flags)
    if isinstance(x, types.FunctionType) and getattr(x, "is_default", False):
        # the autoValue each instance synthesizes from its defaultValue
        return ("defaultValue", _freeze(x.default_value))
    return (type(x), x)
