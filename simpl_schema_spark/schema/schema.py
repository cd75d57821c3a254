"""The SimpleSchema class: declarative schema surface, driver-side only.

Reimplements the reference's schema object model (WHAT, not HOW):

- construction & caches: ``/root/reference/src/SimpleSchema.ts:131,749-794``
- extend (key-by-key merge, positional group merge):
  ``SimpleSchema.ts:693-797``, ``SimpleSchemaGroup.ts:33-40``
- pick/omit (subtree-aware): ``SimpleSchema.ts:1323-1344``
- allowsKey / objectKeys / blackboxKeys / keyIsInBlackBox:
  ``SimpleSchema.ts:594-662,547-589``
- getObjectSchema / mergedSchema: ``SimpleSchema.ts:503-517,326-343``
- labels & messages: ``SimpleSchema.ts:923-1011``
- validator registries: ``SimpleSchema.ts:825-831,1059-1065``

No Spark imports here — compilation to Spark expressions lives in
``simpl_schema_spark.compiler``.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Iterable, Optional

from ..errors import ErrorTypes, default_error_message
from .definition import (
    ONE_OF_PROPS,
    PROPS_THAT_CAN_BE_FUNCTION,
    SchemaValidationError,
    TypeGroup,
    check_and_scrub_definition,
    expand_shorthand,
    key_ancestors,
    make_key_generic,
    oneOf as _oneOf,
    standardize_definition,
)
from .types import (
    AnyType,
    ArrayType,
    Binary,
    Boolean,
    DateType,
    Integer,
    Number,
    ObjectType,
    String,
    TypeToken,
)

__all__ = ["SimpleSchema"]


class SimpleSchema:
    """A compiled, flat dict of generic key paths → standardized definitions."""

    _is_simpl_schema = True

    # type sentinels (reference SimpleSchema.ts:777-783, 1103)
    Integer = Integer
    Any = AnyType
    String = String
    Number = Number
    Boolean = Boolean
    Date = DateType
    Array = ArrayType
    Object = ObjectType
    Binary = Binary

    ErrorTypes = ErrorTypes
    oneOf = staticmethod(_oneOf)

    # global (static) validators / doc validators (SimpleSchema.ts:1059-1065)
    _global_validators: list[Callable] = []
    _global_doc_validators: list[Callable] = []

    def __init__(
        self,
        schema: Optional[dict[str, Any]] = None,
        *,
        required_by_default: bool = True,
        default_label: Optional[str] = None,
        humanize_auto_labels: bool = True,
        clean_options: Optional[dict[str, Any]] = None,
        get_error_message: Optional[Callable[[dict, Optional[str]], Optional[str]]] = None,
    ) -> None:
        self._options = {
            "requiredByDefault": required_by_default,
            "defaultLabel": default_label,
            "humanizeAutoLabels": humanize_auto_labels,
        }
        self._clean_options = dict(clean_options or {})
        self._get_error_message = get_error_message
        self._schema: dict[str, dict[str, Any]] = {}
        self._validators: list[Callable] = []
        self._doc_validators: list[Callable] = []
        if schema:
            self.extend(schema)

    # ------------------------------------------------------------------ build

    def extend(self, schema: "SimpleSchema | dict[str, Any]") -> "SimpleSchema":
        """Merge keys into this schema; returns self.

        Definitions may omit ``type`` when extending an existing key; type
        groups merge positionally (reference SimpleSchema.ts:693-797).
        """
        if isinstance(schema, SimpleSchema):
            raw = {k: _redefine(d) for k, d in schema._schema.items()}
            self._validators.extend(schema._validators)
            self._doc_validators.extend(schema._doc_validators)
            # clean options merge across extend (SimpleSchema.ts:705)
            self._clean_options.update(schema._clean_options)
        else:
            raw = expand_shorthand(schema)

        for key, definition in raw.items():
            generic = make_key_generic(key)
            standardized = standardize_definition(definition)
            existing = self._schema.get(generic)
            if existing is not None:
                merged = {
                    k: v for k, v in existing.items() if k != "type"
                }
                for k, v in standardized.items():
                    if k != "type":
                        merged[k] = v
                group = existing["type"].clone()
                new_group = standardized["type"]
                if any("type" in d or d for d in new_group.definitions):
                    group.extend(new_group)
                merged["type"] = group
                # 'required' in an extension overrides a previously computed
                # 'optional' (reference deletes optional when required given)
                if "required" in definition or "optional" in definition:
                    merged.pop("optional", None)
                    if "required" in definition:
                        merged["required"] = definition["required"]
                    if "optional" in definition:
                        merged["optional"] = definition["optional"]
                self._schema[generic] = merged
            else:
                self._schema[generic] = standardized

        self._recheck()
        return self

    def _recheck(self) -> None:
        all_keys = set(self._schema.keys())
        # Parents must be declared before children ("No implied objects!",
        # reference SimpleSchema.ts:757-767)
        for key in all_keys:
            for ancestor in key_ancestors(key):
                if ancestor.endswith(".$"):
                    continue
                if ancestor not in all_keys:
                    raise SchemaValidationError(
                        f'"{key}" is in the schema but "{ancestor}" is not. '
                        "All parent keys must be defined."
                    )
        for key, definition in self._schema.items():
            check_and_scrub_definition(key, definition, self._options, all_keys)
        self._rebuild_caches()

    def _rebuild_caches(self) -> None:
        # compiled Column forests memoized on this instance (e.g. the
        # modifier-rule forest) are schema-content-derived — drop them
        # whenever the definition changes
        self.__dict__.pop("_compiled_memo", None)
        self._schema_keys = list(self._schema.keys())
        self._first_level_keys = sorted(
            {k.split(".")[0] for k in self._schema_keys},
            key=lambda k: [sk.split(".")[0] for sk in self._schema_keys].index(k),
        )
        self._blackbox_keys: set[str] = set()
        for key, definition in self._schema.items():
            for alt in definition["type"].definitions:
                if alt.get("blackbox") is True or alt.get("type") is AnyType:
                    self._blackbox_keys.add(key)

    # --------------------------------------------------------------- queries

    _CLEAN_OPTION_ALIASES = {
        "filter": "filter",
        "auto_convert": "autoConvert",
        "trim_strings": "trimStrings",
        "remove_empty_strings": "removeEmptyStrings",
        "remove_nulls_from_arrays": "removeNullsFromArrays",
        "get_auto_values": "getAutoValues",
    }

    def clean_option(self, name: str, default: bool) -> bool:
        """Constructor-level clean default (SimpleSchema.ts:155-160) —
        ``clean()``'s kwargs override per call; snake_case and the
        reference's camelCase spellings both resolve."""
        opts = self._clean_options
        if name in opts:
            return bool(opts[name])
        camel = self._CLEAN_OPTION_ALIASES.get(name, name)
        return bool(opts.get(camel, default))

    @property
    def schema_keys(self) -> list[str]:
        return list(self._schema_keys)

    def get_definition_raw(self, generic_key: str) -> Optional[dict[str, Any]]:
        return self._schema.get(make_key_generic(generic_key))

    def get_definition(
        self,
        key: str,
        prop_list: Optional[Iterable[str]] = None,
        function_context: Optional[dict[str, Any]] = None,
    ) -> Optional[dict[str, Any]]:
        """Resolved definition: function-valued props evaluated.

        Mirrors getDefinition/resolveValidationFunctions
        (SimpleSchema.ts:353-441): props in PROPS_THAT_CAN_BE_FUNCTION may be
        callables evaluated with a context object.
        """
        raw = self.get_definition_raw(key)
        if raw is None:
            return None
        ctx = _FunctionPropContext(key, function_context or {})
        out = {}
        for k, v in raw.items():
            if k == "type":
                continue
            if prop_list is not None and k not in prop_list:
                continue
            out[k] = _resolve_prop(k, v, ctx)
        group = raw["type"]
        out["type"] = [
            {
                k: _resolve_prop(k, v, ctx)
                for k, v in alt.items()
            }
            for alt in group.definitions
        ]
        return out

    def resolved_alternatives(self, key: str) -> list[dict[str, Any]]:
        """Per-alternative effective definitions: outer props merged under
        each alternative's own props (validateField.ts:181-190 merge order:
        alternative wins).  Keys contributed by a subschema-typed ancestor
        (``merged_schema``) resolve through that subschema."""
        resolved = self.get_definition(key)
        if resolved is None:
            generic = make_key_generic(key)
            for ancestor in reversed(key_ancestors(generic)):
                anc_def = self._schema.get(ancestor)
                for alt in anc_def["type"].definitions if anc_def else ():
                    sub = alt.get("type")
                    if isinstance(sub, SimpleSchema):
                        alts = sub.resolved_alternatives(generic[len(ancestor) + 1:])
                        if alts:
                            return alts
            return []
        outer = {k: v for k, v in resolved.items() if k != "type"}
        return [{**outer, **alt} for alt in resolved["type"]]

    def allows_key(self, key: str) -> bool:
        """Is this key path allowed? (SimpleSchema.ts:594-624)

        True if it's a declared key, a descendant of a blackbox/Any key, a
        descendant of a subschema-typed key that allows it, or the special
        ``<datekey>.$type`` form under $currentDate is handled by the
        modifier layer.
        """
        generic = make_key_generic(key)
        if generic in self._schema:
            return True
        for ancestor in reversed(key_ancestors(generic)):
            if ancestor in self._blackbox_keys:
                return True
            anc_def = self._schema.get(ancestor)
            if anc_def is not None:
                rest = generic[len(ancestor) + 1:]
                for alt in anc_def["type"].definitions:
                    t = alt.get("type")
                    if isinstance(t, SimpleSchema) and t.allows_key(rest):
                        return True
        return False

    def object_keys(self, key_prefix: str = "") -> list[str]:
        """Immediate child key names under a prefix (SimpleSchema.ts:634-662)."""
        out: list[str] = []
        if key_prefix == "":
            seen: set[str] = set()
            for k in self._schema_keys:
                first = k.split(".")[0]
                if first not in seen:
                    seen.add(first)
                    out.append(first)
            return out
        prefix = make_key_generic(key_prefix) + "."
        seen = set()
        for k in self._expanded_keys():
            if k.startswith(prefix):
                rest = k[len(prefix):]
                child = rest.split(".")[0]
                if child != "$" and child not in seen:
                    seen.add(child)
                    out.append(child)
        return out

    def _expanded_keys(self) -> list[str]:
        """Schema keys with subschema-typed keys flattened in (mergedSchema,
        SimpleSchema.ts:326-343)."""
        out: list[str] = []
        for k, definition in self._schema.items():
            out.append(k)
            for alt in definition["type"].definitions:
                t = alt.get("type")
                if isinstance(t, SimpleSchema):
                    out.extend(f"{k}.{sub}" for sub in t._expanded_keys())
        return out

    def merged_schema(self) -> dict[str, dict[str, Any]]:
        """Flat dict incl. subschema keys prefixed under their parent key."""
        out: dict[str, dict[str, Any]] = {}
        for k, definition in self._schema.items():
            out[k] = definition
            for alt in definition["type"].definitions:
                t = alt.get("type")
                if isinstance(t, SimpleSchema):
                    for sub, sub_def in t.merged_schema().items():
                        out[f"{k}.{sub}"] = sub_def
        return out

    def blackbox_keys(self) -> list[str]:
        keys = set(self._blackbox_keys)
        for k, definition in self._schema.items():
            for alt in definition["type"].definitions:
                t = alt.get("type")
                if isinstance(t, SimpleSchema):
                    keys.update(f"{k}.{sub}" for sub in t.blackbox_keys())
        return sorted(keys)

    def key_is_in_blackbox(self, key: str) -> bool:
        """True if key is INSIDE a blackbox subtree (SimpleSchema.ts:567-589)."""
        generic = make_key_generic(key)
        for ancestor in key_ancestors(generic):
            if ancestor in self._blackbox_keys:
                return True
            anc_def = self._schema.get(ancestor)
            if anc_def is not None:
                rest = generic[len(ancestor) + 1:]
                for alt in anc_def["type"].definitions:
                    t = alt.get("type")
                    if isinstance(t, SimpleSchema) and t.key_is_in_blackbox(rest):
                        return True
        return False

    # ------------------------------------------------------------ composition

    def clone(self) -> "SimpleSchema":
        # deep-copies definitions (_redefine), so an extend() on the clone
        # can never mutate this schema's defaults (SimpleSchema.ts:672-674;
        # autoValue.tests.ts:1030 'autoValues do not bleed over')
        return self._copy_with_schema(
            {k: _redefine(d) for k, d in self._schema.items()}
        )

    def pick(self, *keys: str) -> "SimpleSchema":
        return self._pick_or_omit(keys, keep=True)

    def omit(self, *keys: str) -> "SimpleSchema":
        return self._pick_or_omit(keys, keep=False)

    def _pick_or_omit(self, keys: Iterable[str], keep: bool) -> "SimpleSchema":
        keys = list(keys)
        new_raw: dict[str, Any] = {}
        for key, definition in self._schema.items():
            in_set = any(key == k or key.startswith(f"{k}.") for k in keys)
            if in_set == keep:
                new_raw[key] = _redefine(definition)
        return self._copy_with_schema(new_raw)

    def get_object_schema(self, key: str) -> "SimpleSchema":
        """New schema of the keys under ``key`` (SimpleSchema.ts:503-517)."""
        generic = make_key_generic(key)
        prefix = generic + "."
        new_raw: dict[str, Any] = {}
        for k, definition in self.merged_schema().items():
            if k.startswith(prefix):
                new_raw[k[len(prefix):]] = _redefine(definition)
        return self._copy_with_schema(new_raw)

    def _copy_with_schema(self, raw: dict[str, Any]) -> "SimpleSchema":
        out = SimpleSchema(
            required_by_default=self._options["requiredByDefault"],
            default_label=self._options["defaultLabel"],
            humanize_auto_labels=self._options["humanizeAutoLabels"],
            clean_options=self._clean_options,
            get_error_message=self._get_error_message,
        )
        out._validators = list(self._validators)
        out._doc_validators = list(self._doc_validators)
        for key, definition in raw.items():
            out._schema[make_key_generic(key)] = standardize_definition(
                definition if "type" in definition else definition
            ) if not _is_standardized(definition) else definition
        if raw:
            out._recheck()
        else:
            out._rebuild_caches()
        return out

    # ------------------------------------------------------------- validators

    def add_validator(self, fn: Callable) -> None:
        self._validators.append(fn)

    def add_doc_validator(self, fn: Callable) -> None:
        self._doc_validators.append(fn)

    @classmethod
    def add_global_validator(cls, fn: Callable) -> None:
        cls._global_validators.append(fn)

    @classmethod
    def add_global_doc_validator(cls, fn: Callable) -> None:
        cls._global_doc_validators.append(fn)

    def all_validators(self) -> list[Callable]:
        return list(self._validators) + list(SimpleSchema._global_validators)

    def all_doc_validators(self) -> list[Callable]:
        return list(self._doc_validators) + list(SimpleSchema._global_doc_validators)

    # --------------------------------------------------------------- contexts

    def named_context(self, name: str = "default", id_cols=("url",)):
        """Cached named ValidationContext (reference SimpleSchema.ts:813-823):
        the same name returns the same context, which retains prior errors on
        ``keys`` revalidation (ValidationContext.ts:115-125)."""
        from ..validation import ValidationContext

        if not hasattr(self, "_named_contexts"):
            self._named_contexts: dict[str, ValidationContext] = {}
        if name not in self._named_contexts:
            self._named_contexts[name] = ValidationContext(self, id_cols=id_cols)
        return self._named_contexts[name]

    def new_context(self, id_cols=("url",)):
        """Uncached context (reference newContext())."""
        from ..validation import ValidationContext

        return ValidationContext(self, id_cols=id_cols)

    # ----------------------------------------------------------------- labels

    def label(self, key: str) -> Optional[str]:
        definition = self.get_definition_raw(key)
        if definition is None:
            return None
        label = definition.get("label")
        return label() if callable(label) else label

    def labels(self) -> dict[str, str]:
        return {k: self.label(k) for k in self._schema_keys}

    def message_for_error(self, error: dict) -> str:
        """Message resolution order: schema getErrorMessage → global config →
        built-in defaults (SimpleSchema.ts:994-1011)."""
        label = self.label(error.get("name", "")) or error.get("name")
        if self._get_error_message is not None:
            msg = self._get_error_message(error, label)
            if msg is not None:
                return msg
        if SimpleSchema._global_get_error_message is not None:
            msg = SimpleSchema._global_get_error_message(error, label)
            if msg is not None:
                return msg
        return default_error_message(error, label)

    _global_get_error_message: Optional[Callable] = None

    @classmethod
    def set_global_error_message_fn(cls, fn: Optional[Callable]) -> None:
        cls._global_get_error_message = fn

    # ------------------------------------------------------------- misc access

    def get(self, key: str, prop: str) -> Any:
        definition = self.get_definition(key)
        if definition is None:
            return None
        if prop in ONE_OF_PROPS and prop != "type":
            for alt in definition["type"]:
                if prop in alt:
                    return alt[prop]
            return None
        return definition.get(prop)

    def default_value(self, key: str) -> Any:
        definition = self.get_definition_raw(key)
        if definition is None:
            return None
        av = definition.get("autoValue")
        if av is not None and getattr(av, "is_default", False):
            return getattr(av, "default_value", None)
        return None

    def get_quick_type_for_key(self, key: str) -> Optional[str]:
        """First-type string for form builders (SimpleSchema.ts:453-496)."""
        definition = self.get_definition_raw(key)
        if definition is None:
            return None
        t = definition["type"].single_type
        if t is String:
            return "string"
        if t is Number or t is Integer:
            return "number"
        if t is Boolean:
            return "boolean"
        if t is DateType:
            return "date"
        if t is ArrayType:
            item = self.get_definition_raw(f"{key}.$")
            if item is not None:
                inner = self.get_quick_type_for_key(f"{key}.$")
                if inner is not None:
                    return f"{inner}Array"
            return "objectArray"
        if t is ObjectType or isinstance(t, SimpleSchema):
            return "object"
        return None

    def auto_value_functions(self) -> list[tuple[str, Callable]]:
        """(key, fn) pairs incl. subschema-contributed ones
        (SimpleSchema.ts:521-544)."""
        out = []
        for key, definition in self.merged_schema().items():
            av = definition.get("autoValue")
            if av is not None:
                out.append((key, av))
        return out

    def __contains__(self, key: str) -> bool:
        return make_key_generic(key) in self._schema

    def __repr__(self) -> str:  # pragma: no cover
        return f"SimpleSchema({self._schema_keys!r})"


def _is_standardized(definition: dict[str, Any]) -> bool:
    return isinstance(definition.get("type"), TypeGroup)


def _redefine(definition: dict[str, Any]) -> dict[str, Any]:
    """Shallow-copy a standardized definition back into extendable raw form."""
    out = {k: v for k, v in definition.items() if k != "type"}
    t = definition.get("type")
    out["type"] = t.clone() if isinstance(t, TypeGroup) else t
    return out


class _FunctionPropContext:
    """Context handed to function-valued definition props.

    In the reference these run per-field-visit with data access; at Spark
    compile time there is no row, so ``value`` is None and field access
    returns unset markers. Pure functions (the common case: feature flags,
    computed bounds) work unchanged.
    """

    def __init__(self, key: str, extra: dict[str, Any]) -> None:
        self.key = key
        for k, v in extra.items():
            setattr(self, k, v)

    def field(self, _name: str):  # pragma: no cover - compile-time stub
        return _UnsetField()

    def sibling_field(self, _name: str):  # pragma: no cover
        return _UnsetField()


class _UnsetField:
    is_set = False
    value = None
    operator = None


def _call_flexible(fn: Callable, ctx: _FunctionPropContext) -> Any:
    """Call a function-valued prop with the context, tolerating zero-arg fns
    (the reference passes variadic args through; Python fns declare arity)."""
    try:
        return fn(ctx)
    except TypeError:
        return fn()


def _resolve_prop(name: str, value: Any, ctx: _FunctionPropContext) -> Any:
    if name in PROPS_THAT_CAN_BE_FUNCTION and callable(value) and not is_type_like(value):
        return _call_flexible(value, ctx)
    return value


def is_type_like(value: Any) -> bool:
    return isinstance(value, (TypeToken, SimpleSchema))
