"""The ``small_batches`` request stream: a seeded pool of schema shapes,
driver-side record batches, and a plain-Python check of each batch.

Every shape's dirtiness is chosen so that its violations are a pure function
of each record; ``expected(records)`` replays the schema's rules in Python
and returns the ``(name, type)`` multiset the engine must report.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from collections import Counter
from typing import Callable

from pyspark.sql import functions as F

from simpl_schema_spark import SimpleSchema, oneOf
from simpl_schema_spark.compiler import spark_rule

__all__ = ["SHAPES", "Shape", "documents_schema_def", "request_plan"]

_UTC = dt.timezone.utc
_TS_MIN = dt.datetime(2024, 1, 1, tzinfo=_UTC)
_TS_MAX = dt.datetime(2025, 1, 1, tzinfo=_UTC)
_LANGS = ["en", "de", "fr", "es", "zh"]
_URL_RE = re.compile(r"^https?://[^\s]+$")


def documents_schema_def() -> dict:
    """The 5-key documents schema (FIXTURES.md F1)."""
    return {
        "url": {"type": str, "regEx": _URL_RE, "max": 2048},
        "warc_ts": {"type": SimpleSchema.Date, "min": _TS_MIN, "max": _TS_MAX},
        "html": {"type": SimpleSchema.Binary},
        "text": {"type": str, "optional": True},
        "lang": {"type": str, "optional": True, "allowedValues": list(_LANGS)},
    }


class Shape:
    """One schema shape: ``schema(rng)`` builds a new instance (with seeded
    parameters), ``records(schema_params, n, rng)`` makes a batch, and
    ``expected(schema_params, records)`` replays the rules in Python."""

    name: str
    ddl: Callable[[dict], str]

    def params(self, rng: random.Random) -> dict:
        return {}


# ---- 1. the documents schema -----------------------------------------------


class Documents(Shape):
    name = "documents"

    def ddl(self, p):
        return "url string, warc_ts timestamp, html binary, text string, lang string"

    def schema(self, p):
        return SimpleSchema(documents_schema_def())

    def records(self, p, n, rng):
        out = []
        for i in range(n):
            url = f"https://host{rng.randrange(50)}.example/p/{rng.randrange(10**6)}"
            if rng.random() < 0.03:
                url = url.replace("/p/", "/p/ ")
            ts = _TS_MIN + dt.timedelta(seconds=rng.randrange(360 * 86400))
            if rng.random() < 0.03:
                ts = ts - dt.timedelta(days=3650)
            text = " ".join(rng.choice(["a", "bb", "ccc"]) for _ in range(rng.randint(0, 30)))
            if rng.random() < 0.05:
                text = "  " + text + " "
            lang = rng.choice(_LANGS + ["xx", None, "EN"])
            html = None if rng.random() < 0.02 else f"<p>{text}</p>".encode()
            out.append((url, ts, html, text, lang))
        return out

    def expected(self, p, records):
        got = Counter()
        for url, ts, html, _text, lang in records:
            if not _URL_RE.match(url):
                got["url", "regEx"] += 1
            if ts < _TS_MIN:
                got["warc_ts", "minDate"] += 1
            if html is None:
                got["html", "required"] += 1
            if lang is not None and lang not in _LANGS:
                got["lang", "notAllowed"] += 1
        return got


# ---- 2. a wide flat schema ---------------------------------------------------

_CODE_RE = re.compile(r"^[a-z]+-[0-9]+$")
_COLORS = ["red", "green", "blue"]


class Wide(Shape):
    """20-40 keys cycling regEx / allowedValues / inclusive int bounds /
    exclusive float bounds."""

    name = "wide"

    def params(self, rng):
        return {"n_keys": rng.randint(20, 40)}

    def ddl(self, p):
        kinds = ("string", "string", "bigint", "double")
        return ", ".join(f"k{i} {kinds[i % 4]}" for i in range(p["n_keys"]))

    def schema(self, p):
        d = {}
        for i in range(p["n_keys"]):
            kind = i % 4
            if kind == 0:
                d[f"k{i}"] = {"type": str, "regEx": _CODE_RE}
            elif kind == 1:
                d[f"k{i}"] = {"type": str, "allowedValues": list(_COLORS)}
            elif kind == 2:
                d[f"k{i}"] = {"type": SimpleSchema.Integer, "min": 0, "max": 100}
            else:
                d[f"k{i}"] = {
                    "type": float, "min": 0.0, "max": 1.0,
                    "exclusiveMin": True, "exclusiveMax": True,
                }
        return SimpleSchema(d)

    def records(self, p, n, rng):
        out = []
        for _ in range(n):
            row = []
            for i in range(p["n_keys"]):
                dirty = rng.random() < 0.02
                kind = i % 4
                if kind == 0:
                    row.append("BAD VALUE" if dirty else f"abc-{rng.randrange(1000)}")
                elif kind == 1:
                    row.append("pink" if dirty else rng.choice(_COLORS))
                elif kind == 2:
                    row.append(rng.choice([-1, 101]) if dirty else rng.randint(0, 100))
                else:
                    row.append(rng.choice([0.0, 1.0]) if dirty else rng.uniform(0.01, 0.99))
            out.append(tuple(row))
        return out

    def expected(self, p, records):
        got = Counter()
        for row in records:
            for i, v in enumerate(row):
                key, kind = f"k{i}", i % 4
                if kind == 0 and not _CODE_RE.match(v):
                    got[key, "regEx"] += 1
                elif kind == 1 and v not in _COLORS:
                    got[key, "notAllowed"] += 1
                elif kind == 2 and (v < 0 or v > 100):
                    got[key, "minNumber" if v < 0 else "maxNumber"] += 1
                elif kind == 3 and (v <= 0.0 or v >= 1.0):
                    got[key, "minNumberExclusive" if v <= 0.0 else "maxNumberExclusive"] += 1
        return got


# ---- 3. nested arrays of objects --------------------------------------------


class Nested(Shape):
    """``friends.$.a.b``: an array of objects with a nested object, plus a
    seeded number of optional per-item and top-level string keys."""

    name = "nested"

    def params(self, rng):
        return {"n_item_keys": rng.randint(6, 12), "n_top_keys": rng.randint(6, 12)}

    def ddl(self, p):
        extra = "".join(f", x{k}:string" for k in range(p["n_item_keys"]))
        tops = "".join(f", t{k} string" for k in range(p["n_top_keys"]))
        return f"name string, friends array<struct<name:string, a:struct<b:bigint>{extra}>>{tops}"

    def schema(self, p):
        d = {
            "name": str,
            "friends": {"type": SimpleSchema.Array, "minCount": 1},
            "friends.$": dict,
            "friends.$.name": {"type": str, "max": 8},
            "friends.$.a": {"type": dict, "optional": True},
            "friends.$.a.b": {"type": SimpleSchema.Integer, "optional": True, "max": 10},
        }
        for k in range(p["n_item_keys"]):
            d[f"friends.$.x{k}"] = {"type": str, "optional": True, "max": 20}
        for k in range(p["n_top_keys"]):
            d[f"t{k}"] = {"type": str, "optional": True, "max": 20}
        return SimpleSchema(d)

    def records(self, p, n, rng):
        out = []
        for _ in range(n):
            friends = []
            for _ in range(0 if rng.random() < 0.03 else rng.randint(1, 4)):
                name = rng.choice(["ann", "bob", "cy"])
                if rng.random() < 0.03:
                    name = "bartholomew"
                elif rng.random() < 0.02:
                    name = None
                a = None if rng.random() < 0.3 else {"b": 50 if rng.random() < 0.03 else rng.randint(0, 10)}
                extras = [rng.choice(["p", "q", None]) for _ in range(p["n_item_keys"])]
                friends.append((name, a, *extras))
            tops = [rng.choice(["u", "v", None]) for _ in range(p["n_top_keys"])]
            out.append(("me", friends, *tops))
        return out

    def expected(self, p, records):
        got = Counter()
        for row in records:
            friends = row[1]
            if not friends:
                got["friends", "minCount"] += 1
            for k, (name, a, *_x) in enumerate(friends):
                if name is None:
                    got[f"friends.{k}.name", "required"] += 1
                elif len(name) > 8:
                    got[f"friends.{k}.name", "maxString"] += 1
                if a is not None and a["b"] > 10:
                    got[f"friends.{k}.a.b", "maxNumber"] += 1
        return got


# ---- 4. oneOf groups ----------------------------------------------------------

_TLA_RE = re.compile(r"^[A-Z]{3}$")


class OneOf(Shape):
    """Keys whose type is a ``oneOf`` of constrained alternatives; a value
    failing every alternative reports the last alternative's error."""

    name = "oneof"

    def ddl(self, p):
        return "code string, n bigint, level bigint, label string"

    def schema(self, p):
        return SimpleSchema(
            {
                "code": {"type": oneOf(
                    {"type": str, "regEx": _TLA_RE},
                    {"type": str, "allowedValues": ["n/a", "none"]},
                )},
                "n": {"type": oneOf(
                    {"type": SimpleSchema.Integer, "min": 5},
                    {"type": SimpleSchema.Integer, "min": 10},
                )},
                "level": {"type": oneOf(
                    {"type": SimpleSchema.Integer, "max": 3},
                    {"type": SimpleSchema.Integer, "min": 100, "max": 200},
                )},
                "label": {"type": str, "optional": True, "max": 12},
            }
        )

    def records(self, p, n, rng):
        out = []
        for _ in range(n):
            code = rng.choice(["ABC", "XYZ", "n/a", "none"]) if rng.random() > 0.03 else "abc"
            num = rng.randint(5, 50) if rng.random() > 0.03 else 3
            level = rng.choice([0, 1, 3, 100, 150, 200]) if rng.random() > 0.04 else rng.choice([50, 300])
            label = rng.choice(["short", None, "x" * 20 if rng.random() < 0.1 else "ok"])
            out.append((code, num, level, label))
        return out

    def expected(self, p, records):
        got = Counter()
        for code, num, level, label in records:
            if not (_TLA_RE.match(code) or code in ("n/a", "none")):
                got["code", "notAllowed"] += 1
            if num < 5:
                got["n", "minNumber"] += 1
            if not (level <= 3 or 100 <= level <= 200):
                got["level", "minNumber" if level < 100 else "maxNumber"] += 1
            if label is not None and len(label) > 12:
                got["label", "maxString"] += 1
        return got


# ---- 5. custom validators: @spark_rule and a Python (Arrow UDF) fn ----------


@spark_rule
def _email_rule(value, ctx):
    return F.when(~value.contains("@"), F.lit("invalidEmail"))


def _email_py(value):
    if value is not None and "@" not in value:
        return "invalidEmail"
    return None


class Custom(Shape):
    def __init__(self, name: str, validator) -> None:
        self.name = name
        self._validator = validator

    def ddl(self, p):
        return "email string, user string, age bigint"

    def schema(self, p):
        return SimpleSchema(
            {
                "email": {"type": str, "custom": self._validator},
                "user": {"type": str, "max": 16},
                "age": {"type": SimpleSchema.Integer, "min": 0, "optional": True},
            }
        )

    def records(self, p, n, rng):
        out = []
        for i in range(n):
            email = f"u{i}@example.org" if rng.random() > 0.05 else f"u{i}.example.org"
            user = f"user{rng.randrange(1000)}" if rng.random() > 0.03 else "u" * 20
            age = rng.choice([None, rng.randint(0, 90), -1 if rng.random() < 0.1 else 30])
            out.append((email, user, age))
        return out

    def expected(self, p, records):
        got = Counter()
        for email, user, age in records:
            if "@" not in email:
                got["email", "invalidEmail"] += 1
            if len(user) > 16:
                got["user", "maxString"] += 1
            if age is not None and age < 0:
                got["age", "minNumber"] += 1
        return got


SHAPES: list[Shape] = [
    Documents(),
    Wide(),
    Nested(),
    OneOf(),
    Custom("spark_rule", _email_rule),
    Custom("python_udf", _email_py),
]


#: one measured round: the documents schema is half of the traffic, each
#: other shape appears once; batch sizes are 50, 100, ..., 500 records
ROUND = ["documents"] * 5 + [s.name for s in SHAPES[1:]]
SIZES = [50 * (k + 1) for k in range(len(ROUND))]


def request_rounds(seed: int):
    """Endless seeded stream of request rounds.

    The first round (the warm-up) builds one schema of every shape.  Every
    later round is ``ROUND`` in seeded order with ``SIZES`` in seeded
    order; exactly half of its requests reuse an earlier schema instance of
    their shape and the rest build a new one.  Rounds hold the same mix of
    shapes, sizes and reuse, so runs at different seeds measure the same
    traffic.  Each request is ``(shape, params, instance_key, reuse,
    records)``."""
    rng = random.Random(seed)
    by_name = {s.name: s for s in SHAPES}
    pool: dict[str, list[tuple[int, dict]]] = {s.name: [] for s in SHAPES}
    next_key = 0
    names, sizes = list(by_name), [rng.choice(SIZES) for _ in SHAPES]
    reuse_flags = [False] * len(SHAPES)
    while True:
        requests = []
        for name, n, reuse in zip(names, sizes, reuse_flags):
            shape = by_name[name]
            if reuse:
                key, params = rng.choice(pool[name])
            else:
                key, params = next_key, shape.params(rng)
                next_key += 1
                pool[name].append((key, params))
            requests.append((shape, params, key, reuse, shape.records(params, n, rng)))
        yield requests
        names, sizes = rng.sample(ROUND, len(ROUND)), rng.sample(SIZES, len(SIZES))
        half = len(ROUND) // 2
        reuse_flags = rng.sample([True] * half + [False] * (len(ROUND) - half), len(ROUND))
