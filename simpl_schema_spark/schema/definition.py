"""Schema definition language: shorthand expansion, standardization, scrub.

Reproduces the reference's definition pipeline (all driver-side, no Spark):

- ``expand_shorthand``: ``/root/reference/src/expandShorthand.ts:8-60``
- ``TypeGroup`` (ordered oneOf alternatives):
  ``/root/reference/src/SimpleSchemaGroup.ts:5-43``
- ``standardize_definition``: ``/root/reference/src/SimpleSchema.ts:1170-1196``
- ``check_and_scrub_definition``: ``/root/reference/src/SimpleSchema.ts:1206-1321``
  (required→optional inversion, defaultValue→autoValue synthesis, ``.$``
  forced optional, label inflection, option-name validation, array-item-def
  enforcement)

A schema is a flat dict of dot-notation key paths → definitions; nesting via
dots (``'sub.number'``), array items via a ``$`` segment (``'friends.$.name'``).
"""

from __future__ import annotations

import copy
from typing import Any, Callable, Optional

from .humanize import humanize
from .types import (
    AnyType,
    ArrayType,
    String,
    TypeToken,
    is_regex,
    normalize_type,
)

__all__ = [
    "SCHEMA_DEFINITION_OPTIONS",
    "ONE_OF_PROPS",
    "PROPS_THAT_CAN_BE_FUNCTION",
    "SchemaValidationError",
    "TypeGroup",
    "oneOf",
    "expand_shorthand",
    "standardize_definition",
    "check_and_scrub_definition",
    "make_key_generic",
    "key_ancestors",
    "default_auto_value_function",
]

# reference SimpleSchema.ts:30-37
SCHEMA_DEFINITION_OPTIONS = frozenset(
    ["autoValue", "defaultValue", "label", "optional", "required", "type"]
)

# reference SimpleSchema.ts:39-53
ONE_OF_PROPS = frozenset(
    [
        "allowedValues",
        "blackbox",
        "custom",
        "exclusiveMax",
        "exclusiveMin",
        "max",
        "maxCount",
        "min",
        "minCount",
        "regEx",
        "skipRegExCheckForEmptyStrings",
        "trim",
        "type",
    ]
)

# reference SimpleSchema.ts:55-67
PROPS_THAT_CAN_BE_FUNCTION = frozenset(
    [
        "allowedValues",
        "exclusiveMax",
        "exclusiveMin",
        "label",
        "max",
        "maxCount",
        "min",
        "minCount",
        "optional",
        "regEx",
        "skipRegExCheckForEmptyStrings",
    ]
)


class SchemaValidationError(Exception):
    """Raised for invalid schema definitions (reference throws Error)."""


def _is_basic_mapping(value: Any) -> bool:
    return isinstance(value, dict)


def _is_simple_schema(value: Any) -> bool:
    # duck-typed to avoid a circular import with schema.py
    return getattr(value, "_is_simpl_schema", False)


class TypeGroup:
    """Ordered list of alternative single-type definitions (oneOf).

    Value is valid if it matches ANY alternative, tried in order, first
    match wins; errors reported only from the LAST tried alternative
    (reference validateField.ts:171-256).
    """

    __slots__ = ("definitions",)

    def __init__(self, *definitions: Any) -> None:
        defs: list[dict] = []
        for definition in definitions:
            if _is_basic_mapping(definition):
                d = dict(definition)
                if "type" in d:
                    d["type"] = _normalize_group_type(d["type"])
                defs.append(d)
            elif is_regex(definition):
                defs.append({"type": String, "regEx": definition})
            else:
                defs.append({"type": _normalize_group_type(definition)})
        self.definitions = defs

    @property
    def single_type(self) -> Any:
        return self.definitions[0].get("type")

    def clone(self) -> "TypeGroup":
        g = TypeGroup()
        g.definitions = [dict(d) for d in self.definitions]
        return g

    def extend(self, other: "TypeGroup") -> None:
        """Merge positionally by index (SimpleSchemaGroup.ts:33-40)."""
        merged = []
        for index, d in enumerate(self.definitions):
            if index < len(other.definitions):
                merged.append({**d, **other.definitions[index]})
            else:
                merged.append(d)
        self.definitions = merged

    def __repr__(self) -> str:  # pragma: no cover
        return f"TypeGroup({self.definitions!r})"


def _normalize_group_type(t: Any) -> Any:
    if is_regex(t) or _is_simple_schema(t):
        return t
    return normalize_type(t)


def oneOf(*alternatives: Any) -> TypeGroup:
    """Public oneOf constructor (reference SimpleSchema.ts:1053-1055)."""
    if len(alternatives) < 2:
        raise SchemaValidationError("oneOf requires at least two types")
    return TypeGroup(*alternatives)


def expand_shorthand(schema: dict[str, Any]) -> dict[str, Any]:
    """Clone a schema dict, expanding shorthand (expandShorthand.ts:8-60).

    - ``{key: <dict>}``       → shallow-cloned longhand
    - ``{key: [ItemType]}``   → ``{key: {type: Array}}`` + ``{key.$: {type: Item}}``
    - ``{key: <regex>}``      → ``{key: {type: String, regEx: regex}}``
    - ``{key: <type>}``       → ``{key: {type: type}}``
    """
    out: dict[str, Any] = {}
    for key, definition in schema.items():
        if _is_basic_mapping(definition):
            out[key] = dict(definition)
            continue

        if isinstance(definition, (list, tuple)):
            if len(definition) != 1:
                raise SchemaValidationError(
                    f"Array shorthand for {key} must contain exactly one type"
                )
            item_type = definition[0]
            if isinstance(item_type, (list, tuple)):
                raise SchemaValidationError(
                    f"Array shorthand may only be used to one level of depth ({key})"
                )
            out[key] = {"type": ArrayType}
            item_key = f"{key}.$"
            if item_key in schema:
                raise SchemaValidationError(
                    f"Array shorthand used for {key} field but {item_key} key is "
                    "already in the schema"
                )
            if is_regex(item_type):
                out[item_key] = {"type": String, "regEx": item_type}
            else:
                out[item_key] = {"type": item_type}
            continue

        if is_regex(definition):
            out[key] = {"type": String, "regEx": definition}
            continue

        out[key] = {"type": definition}
    return out


def standardize_definition(definition: dict[str, Any]) -> dict[str, Any]:
    """Split a raw longhand def into outer props + a TypeGroup.

    Mirrors standardizeDefinition (SimpleSchema.ts:1170-1196): all oneOf-level
    props move into a single-alternative group unless ``type`` already is a
    group, in which case the group is cloned and the remaining oneOf props
    stay with it per-alternative.
    """
    standardized: dict[str, Any] = {
        k: v for k, v in definition.items() if k not in ONE_OF_PROPS
    }
    t = definition.get("type")
    if isinstance(t, TypeGroup):
        standardized["type"] = t.clone()
    else:
        group_props = {k: v for k, v in definition.items() if k in ONE_OF_PROPS}
        if "type" in group_props:
            group_props["type"] = _normalize_group_type(group_props["type"])
        standardized["type"] = TypeGroup(group_props)
    return standardized


def default_auto_value_function(default_value: Any) -> Callable:
    """Synthesize an autoValue from defaultValue (SimpleSchema.ts:1148-1167)."""

    def default_auto_value(ctx):
        if ctx.is_set:
            return ctx.UNCHANGED
        if ctx.operator is None:
            return default_value
        if ctx.operator == "$pull":
            return ctx.UNCHANGED
        if ctx.operator == "$push":
            return default_value
        if ctx.parent_field() is not None:
            return default_value
        if ctx.is_upsert:
            return {"$setOnInsert": default_value}
        return ctx.UNCHANGED

    default_auto_value.is_default = True  # type: ignore[attr-defined]
    default_auto_value.default_value = default_value  # type: ignore[attr-defined]
    return default_auto_value


def check_and_scrub_definition(
    field_name: str,
    definition: dict[str, Any],
    options: dict[str, Any],
    all_keys: set[str],
) -> None:
    """Validate + normalize a standardized definition in place.

    Mirrors checkAndScrubDefinition (SimpleSchema.ts:1206-1321).
    ``options`` keys used: requiredByDefault (default True), defaultLabel,
    humanizeAutoLabels (default True).
    """
    group = definition.get("type")
    if group is None:
        raise SchemaValidationError(f'{field_name} key is missing "type"')

    for key in definition:
        if key not in SCHEMA_DEFINITION_OPTIONS:
            raise SchemaValidationError(
                f'Invalid definition for {field_name} field: "{key}" is not a '
                "supported property"
            )

    could_be_array = False
    for alt in group.definitions:
        t = alt.get("type")
        if t is None:
            raise SchemaValidationError(
                f'Invalid definition for {field_name} field: "type" option is required'
            )
        if isinstance(t, (list, tuple)):
            raise SchemaValidationError(
                f'Invalid definition for {field_name} field: "type" may not be an '
                "array. Change it to Array."
            )
        if t is ArrayType:
            could_be_array = True
        if _is_simple_schema(t):
            for sub_key in t._schema:  # noqa: SLF001
                new_key = f"{field_name}.{sub_key}"
                if new_key in all_keys:
                    raise SchemaValidationError(
                        f'The type for "{field_name}" is set to a SimpleSchema '
                        f'instance that defines "{new_key}", but the parent '
                        f'SimpleSchema instance also tries to define "{new_key}"'
                    )

    if could_be_array and f"{field_name}.$" not in all_keys:
        raise SchemaValidationError(
            f'"{field_name}" is Array type but the schema does not include a '
            f'"{field_name}.$" definition for the array items"'
        )

    # defaultValue → autoValue
    if "defaultValue" in definition:
        existing_av = definition.get("autoValue")
        if existing_av is not None and not getattr(existing_av, "is_default", False):
            pass  # reference warns and ignores defaultValue
        else:
            if field_name.endswith(".$"):
                raise SchemaValidationError(
                    'An array item field (one that ends with ".$") cannot have '
                    "defaultValue."
                )
            definition["autoValue"] = default_auto_value_function(
                definition["defaultValue"]
            )

    # REQUIREDNESS: required inverted into optional and deleted
    if field_name.endswith(".$"):
        definition["optional"] = True
    elif "optional" not in definition:
        if "required" in definition:
            required = definition["required"]
            if callable(required):
                definition["optional"] = _invert_fn(required)
            else:
                definition["optional"] = required is not True
        else:
            definition["optional"] = options.get("requiredByDefault", True) is False
    definition.pop("required", None)

    # LABELS
    if "label" not in definition:
        if options.get("defaultLabel") is not None:
            definition["label"] = options["defaultLabel"]
        else:
            definition["label"] = inflected_label(
                field_name, options.get("humanizeAutoLabels", True)
            )


def _invert_fn(fn: Callable) -> Callable:
    def optional(*args, **kwargs):
        try:
            return not fn(*args, **kwargs)
        except TypeError:
            return not fn()

    return optional


def inflected_label(field_name: str, should_humanize: bool = True) -> str:
    """Last non-``$`` path segment, humanized (SimpleSchema.ts:1136-1146)."""
    pieces = field_name.split(".")
    label: Optional[str] = None
    while pieces:
        label = pieces.pop()
        if label != "$":
            break
    if label is None:
        return ""
    return humanize(label) if should_humanize else label


def make_key_generic(key: str) -> str:
    """Replace numeric path segments with ``$`` (``a.0.b`` → ``a.$.b``).

    Parity with mongo-object's makeKeyGeneric (used at reference
    SimpleSchema.ts:189,235,273).
    """
    return ".".join("$" if seg.isdigit() else seg for seg in key.split("."))


def key_ancestors(key: str) -> list[str]:
    """All proper ancestors of a dot key, nearest last: a.b.c → [a, a.b]."""
    parts = key.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts) - 1)]
