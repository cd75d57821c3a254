"""Seeded input generators.

Every table is a pure function of ``(seed, size)``.  Dirtiness is injected by
residue class of a seed-shifted row index, after the pattern of
``simpl_schema_spark.datagen.generate_documents``, so each violation class
has a predictable share of the rows; the exact counts are computed
independently by ``oracle.py`` (DuckDB SQL over the written parquet) or by
``batches.py`` (plain Python per request).  The engine only ever sees the
generated tables and records.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = [
    "LANGS",
    "write_documents",
    "write_hosts",
    "write_modifiers",
    "write_json_docs",
]

LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = [
    "data", "query", "table", "row", "scan", "join", "hash", "sort", "spark",
    "batch", "stream", "merge", "filter", "agg", "window", "column", "value",
    "key", "part", "order", "line", "customer", "small", "big", "fast",
    "slow", "the", "a",
]
_EPOCH_2024 = 1704067200
_YEAR_S = 365 * 24 * 3600
#: JS String.prototype.trim whitespace the cleaner must strip (incl. BOM)
_JS_PAD = ("   ", "\t ﻿")


#: files per table, like a sharded crawl, so Spark reads each input with
#: several tasks
FILES = 8


def _write(table: pa.Table, path: Path) -> None:
    """Write ``table`` as a directory of ``FILES`` parquet files."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // FILES)
    for k in range(FILES):
        pq.write_table(table.slice(k * step, step), path / f"part-{k:05d}.parquet")


def _offset(seed: int) -> int:
    """Seed-dependent shift of the residue classes."""
    return (seed * 7919) % 1_000_003


def _corpus(rng: random.Random, n_words: int = 20000) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def write_documents(path: Path, n: int, seed: int, *, n_hosts: int) -> None:
    """Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``.

    Residue classes of ``j = i + offset(seed)``:

    - ``j % 97``: 13 NULL text, 14 empty text, 15 JS-whitespace-padded text
    - ``j % 23 == 7`` lang 'xx'; ``j % 29 == 11`` NULL lang;
      ``j % 31 == 30`` 'EN' (wrong case); else a seeded draw from LANGS
    - ``j % 101 == 42`` url repeats the previous row's url
    - ``j % 211 == 5`` url contains a space (fails the url regex)
    - ``j % 89 == 88`` warc_ts before the schema window; ``j % 233 == 100``
      after it
    - ``j % 307 == 17`` NULL html (required)
    - 30% of rows on host0, the rest spread over ``n_hosts``
    """
    rng = random.Random(seed)
    corpus = _corpus(rng)
    gen = np.random.default_rng(seed)
    off = _offset(seed)
    starts = gen.integers(0, len(corpus) - 1000, n)
    lengths = gen.integers(40, 700, n)
    hosts = gen.integers(0, n_hosts, n)
    lang_draw = gen.choice(len(LANGS), n, p=gen.dirichlet(np.ones(len(LANGS)) * 20))
    ts_off = gen.integers(0, _YEAR_S, n)

    urls, tss, htmls, texts, langs = [], [], [], [], []
    prev_url = None
    for i in range(n):
        j = i + off
        host = 0 if j % 100 < 30 else int(hosts[i])
        url = f"https://host{host}.example/p/{j}"
        if j % 211 == 5:
            url = f"https://host{host}.example/p/ {j}"
        if j % 101 == 42 and prev_url is not None:
            url = prev_url
        prev_url = url

        if j % 89 == 88:
            secs = _EPOCH_2024 - 10 * _YEAR_S + int(ts_off[i])
        elif j % 233 == 100:
            secs = _EPOCH_2024 + 2 * _YEAR_S + int(ts_off[i])
        else:
            secs = _EPOCH_2024 + int(ts_off[i])
        tss.append(secs * 1_000_000)

        s = int(starts[i])
        body = corpus[s: s + int(lengths[i])].strip()
        r97 = j % 97
        text = (
            None if r97 == 13 else "" if r97 == 14
            else _JS_PAD[0] + body + _JS_PAD[1] if r97 == 15 else body
        )
        html = None if j % 307 == 17 else (
            f"<html><head><title>Doc {j}</title></head><body><p>{text or ''}"
            "</p></body></html>"
        ).encode()

        if j % 23 == 7:
            lang = "xx"
        elif j % 29 == 11:
            lang = None
        elif j % 31 == 30:
            lang = "EN"
        else:
            lang = LANGS[int(lang_draw[i])]
        urls.append(url)
        htmls.append(html)
        texts.append(text)
        langs.append(lang)

    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(tss, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    _write(table, path)


def write_hosts(path: Path, n_hosts: int, seed: int) -> None:
    """The host dimension: every host except a seeded twelfth of them
    (host0, the skewed one, is always present)."""
    missing = seed % 12
    names = [
        f"host{h}.example" for h in range(n_hosts) if h == 0 or h % 12 != missing
    ]
    pq.write_table(pa.table({"host": pa.array(names, pa.string())}), path)


# ---- updates: long-format modifier rows + heterogeneous JSON documents ------

#: rows per modifier document; documents with ``doc % 8 == 1`` are upserts
ROWS_PER_DOC = 5


def _modifier_row(r: int, cls: int, rng: random.Random) -> tuple[str, str, str]:
    """``(op, key_path, json value)`` of non-upsert row ``r`` in class ``cls``."""
    word = rng.choice(_WORDS)
    if cls == 0:
        if r % 53 == 7:
            return "$set", "title", json.dumps("x" * 100)
        if r % 59 == 3:
            return "$set", "title", "null"
        if r % 83 == 13:
            return "$set", "title", json.dumps("   ")
        return "$set", "title", json.dumps(f"{word} page {r}")
    if cls == 1:
        if r % 41 == 5:
            return "$set", "status", json.dumps("deleted")
        return "$set", "status", json.dumps(rng.choice(["draft", "live", "archived"]))
    if cls == 2:
        if r % 43 == 9:
            return "$inc", "views", json.dumps("many")
        return "$inc", "views", str(rng.randint(-5, 50))
    if cls == 3:
        if r % 47 == 11:
            return "$unset", "title", '""'
        return "$unset", "summary", '""'
    if cls == 4:
        items = [rng.choice(_WORDS) for _ in range(rng.randint(1, 3))]
        if r % 37 == 4:
            items.append("y" * 20)
        return "$push", "tags", json.dumps({"$each": items})
    if cls == 5:
        return "$addToSet", "tags", json.dumps("z" * 20 if r % 67 == 1 else word)
    if cls in (6, 7):
        op = "$min" if cls == 6 else "$max"
        if r % 61 == 8:
            return op, "score", "1.5"
        return op, "score", json.dumps(round(rng.random(), 3))
    if cls == 8:
        obj = {"lang": rng.choice(["en", "de"]), "rank": rng.randint(0, 100)}
        if r % 67 == 10:
            obj["rank"] = 500
        if r % 71 == 12:
            obj["zzz"] = 1
        return "$set", "meta", json.dumps(obj)
    if cls == 9:
        return "$set", "meta.rank", str(-1 if r % 73 == 6 else rng.randint(0, 100))
    if cls == 10:
        day = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randint(0, 360))
        return "$set", "created", json.dumps({"$date": f"{day.isoformat()}T00:00:00.000Z"})
    if r % 79 == 2:
        return "$set", "views", "2.5"
    return "$set", "views", str(rng.randint(0, 1000))


def _upsert_row(doc: int, slot: int, r: int, rng: random.Random) -> tuple[str, str, str]:
    """Upsert documents set every required key except ``score`` when
    ``doc % 16 == 9`` (the injected ``required``)."""
    if slot == 0:
        return "$set", "title", json.dumps(f"{rng.choice(_WORDS)} page {r}")
    if slot == 1:
        return "$set", "status", json.dumps("draft")
    if slot == 2:
        return "$setOnInsert", "views", "0"
    if slot == 3:
        return "$set", "summary", json.dumps(rng.choice(_WORDS))
    if doc % 16 == 9:
        return "$set", "meta.rank", "1"
    return "$setOnInsert", "score", "0.5"


def write_modifiers(path: Path, n_rows: int, seed: int) -> None:
    """Long-format update table ``(doc_id, op, key_path, value, upsert)``."""
    rng = random.Random(seed)
    off = _offset(seed)
    doc_ids, ops, keys, values, upserts = [], [], [], [], []
    for i in range(n_rows):
        r = i + off
        doc, slot = divmod(r, ROWS_PER_DOC)
        upsert = doc % 8 == 1
        if upsert:
            op, key, value = _upsert_row(doc, slot, r, rng)
        else:
            op, key, value = _modifier_row(r, rng.randrange(12), rng)
        doc_ids.append(doc)
        ops.append(op)
        keys.append(key)
        values.append(value)
        upserts.append(upsert)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "op": pa.array(ops, pa.string()),
            "key_path": pa.array(keys, pa.string()),
            "value": pa.array(values, pa.string()),
            "upsert": pa.array(upserts, pa.bool_()),
        }
    )
    _write(table, path)


def write_json_docs(path: Path, n: int, seed: int) -> None:
    """Heterogeneous JSON blobs ``(doc_id, json_blob)``: a seeded subset of
    the optional keys per document, plus independent dirtiness classes."""
    rng = random.Random(seed ^ 0x5EED)
    off = _offset(seed)
    ids, blobs = [], []
    for i in range(n):
        j = i + off
        doc: dict = {"name": f"{rng.choice(_WORDS)}-{j}"}
        if rng.random() < 0.5:
            doc["age"] = rng.randint(0, 130)
        if rng.random() < 0.5:
            doc["lang"] = rng.choice(["en", "de", "fr"])
        if rng.random() < 0.3:
            doc["meta"] = {"k": rng.choice(_WORDS)}
        if rng.random() < 0.3:
            doc["bag"] = {"anything": [1, {"x": rng.random()}]}
        if rng.random() < 0.4:
            doc["tags"] = [rng.choice(_WORDS) for _ in range(rng.randint(0, 3))]
        if j % 29 == 3:
            del doc["name"]
        elif j % 31 == 4:
            doc["name"] = None
        elif j % 37 == 5:
            doc["name"] = "a"
        if j % 41 == 6:
            doc["age"] = 999
        elif j % 43 == 7:
            doc["age"] = "old"
        if j % 47 == 8:
            doc["zzz"] = 1
        if j % 53 == 9:
            doc["meta"] = {"k": "v", "bad": 1}
        if j % 59 == 10:
            doc["tags"] = ["a", "b", "c", "d"]
        if j % 61 == 11:
            doc["lang"] = "xx"
        blob = json.dumps(doc)
        if j % 101 == 1:
            blob = blob[: len(blob) // 2]
        ids.append(j)
        blobs.append(blob)
    table = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "json_blob": pa.array(blobs, pa.string())}
    )
    _write(table, path)
