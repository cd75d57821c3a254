"""Independent expected results: DuckDB SQL replays of each schema's rules
over the same generated parquet the engine reads.

Each function returns plain Python values (``{(name, type): count}`` dicts or
scalars) computed without Spark, so a wrong answer from the engine shows up
as a mismatch in ``workloads.py``'s output checks.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

__all__ = ["Oracle"]

_ALLOWED_LANGS = "('en', 'de', 'fr', 'es', 'zh')"
#: host of a page url, the referential foreign key (same pattern in Spark)
HOST_PATTERN = r"^https?://([^/]+)/"


class Oracle:
    def __init__(self, threads: int, work: Path) -> None:
        # DuckDB creates its extension directory on connect; keep it in the
        # work directory rather than the user's home
        self.con = duckdb.connect(
            config={"threads": threads, "extension_directory": str(work / "duckdb")}
        )

    def close(self) -> None:
        self.con.close()

    def _counts(self, sql: str, params=None) -> dict[tuple[str, str], int]:
        rows = self.con.execute(sql, params or []).fetchall()
        return {(name, typ): int(n) for name, typ, n in rows}

    # ---- bulk_docs -----------------------------------------------------------

    def document_violations(self, docs: Path) -> dict[tuple[str, str], int]:
        """documents schema after clean: url regEx/max, warc_ts window, html
        required, lang allowedValues (text is optional; clean turns empty
        text into NULL, which is allowed)."""
        return self._counts(
            f"""
            with d as (select * from read_parquet('{docs}/*.parquet'))
            select name, type, count(*) from (
              select 'url' as name, 'required' as type from d where url is null
              union all select 'url', 'regEx' from d
                where url is not null and not regexp_full_match(url, '^https?://[^\\s]+$')
              union all select 'url', 'maxString' from d
                where regexp_full_match(url, '^https?://[^\\s]+$') and length(url) > 2048
              union all select 'warc_ts', 'minDate' from d
                where warc_ts < TIMESTAMPTZ '2024-01-01 00:00:00+00'
              union all select 'warc_ts', 'maxDate' from d
                where warc_ts > TIMESTAMPTZ '2025-01-01 00:00:00+00'
              union all select 'html', 'required' from d where html is null
              union all select 'lang', 'notAllowed' from d
                where lang is not null and lang not in {_ALLOWED_LANGS}
            ) group by all
            """
        )

    def duplicate_urls(self, docs: Path) -> tuple[int, int]:
        """``(duplicate keys, rows carrying them)``."""
        n, rows = self.con.execute(
            f"""
            select count(*), coalesce(sum(c), 0) from (
              select url, count(*) c from read_parquet('{docs}/*.parquet')
              group by url having count(*) > 1)
            """
        ).fetchone()
        return int(n), int(rows)

    def broken_host_refs(self, docs: Path, hosts: Path) -> int:
        return int(
            self.con.execute(
                f"""
                select count(*) from read_parquet('{docs}/*.parquet')
                where regexp_extract(url, '{HOST_PATTERN}', 1) not in
                  (select host from read_parquet('{hosts}'))
                """
            ).fetchone()[0]
        )

    def lang_chi2(self, docs: Path, baseline: Path) -> tuple[float, int, int]:
        """``categorical_drift``'s statistic over non-NULL lang: expected
        counts scaled from baseline shares, 0.5 for unseen categories."""
        stat, dof, n_cur = self.con.execute(
            f"""
            with cur as (select lang category, count(*) cnt from read_parquet('{docs}/*.parquet')
                         where lang is not null group by 1),
                 base as (select lang category, count(*) cnt from read_parquet('{baseline}/*.parquet')
                          where lang is not null group by 1),
                 j as (select coalesce(cur.cnt, 0) obs, coalesce(base.cnt, 0) base_cnt
                       from cur full outer join base on cur.category = base.category),
                 t as (select sum(obs) n_cur, sum(base_cnt) n_base from j)
            select sum(power(obs - e, 2) / e), count(*) - 1, max(n_cur) from (
              select obs, case when base_cnt > 0 then base_cnt / n_base * n_cur
                               else 0.5 end e, n_cur
              from j, t)
            """
        ).fetchone()
        return float(stat), int(dof), int(n_cur)

    def n_chars_ks(self, docs: Path, baseline: Path) -> float:
        """Exact two-sample KS statistic of ``length(text)``."""
        return float(
            self.con.execute(
                f"""
                with c as (select length(text) x, count(*) n from read_parquet('{docs}/*.parquet')
                           where text is not null group by 1),
                     b as (select length(text) x, count(*) n from read_parquet('{baseline}/*.parquet')
                           where text is not null group by 1),
                     m as (select coalesce(c.x, b.x) x, coalesce(c.n, 0) nc,
                                  coalesce(b.n, 0) nb
                           from c full outer join b on c.x = b.x),
                     s as (select sum(nc) over (order by x) cc,
                                  sum(nb) over (order by x) cb from m),
                     t as (select sum(nc) tc, sum(nb) tb from m)
                select max(abs(cc / tc - cb / tb)) from s, t
                """
            ).fetchone()[0]
        )

    # ---- updates -------------------------------------------------------------

    def modifier_violations(self, mods: Path) -> dict[tuple[str, str], int]:
        """The update schema's rules per operator row, plus the upsert
        required-key injection (required keys: title, status, views, score)."""
        return self._counts(
            f"""
            with m as (select *, json_type(value) jt from read_parquet('{mods}/*.parquet')),
            per_row as (
              select key_path as name, 'required' as type from m
                where key_path in ('title', 'status', 'views', 'score')
                  and (op in ('$unset', '$rename')
                       or (op in ('$set', '$setOnInsert') and jt = 'NULL'))
              union all select 'title', 'maxString' from m
                where key_path = 'title' and jt = 'VARCHAR'
                  and length(value ->> '$') > 80
              union all select 'status', 'notAllowed' from m
                where key_path = 'status' and jt = 'VARCHAR'
                  and (value ->> '$') not in ('draft', 'live', 'archived')
              union all select 'views', 'expectedType' from m
                where key_path = 'views' and op <> '$unset'
                  and jt not in ('BIGINT', 'UBIGINT', 'DOUBLE')
              union all select 'views', 'noDecimal' from m
                where key_path = 'views' and jt = 'DOUBLE'
                  and try_cast(value as double) <> floor(try_cast(value as double))
              union all select 'views', 'minNumber' from m
                where key_path = 'views' and op <> '$inc'
                  and jt in ('BIGINT', 'UBIGINT') and try_cast(value as bigint) < 0
              union all select 'score', 'maxNumber' from m
                where key_path = 'score' and jt in ('BIGINT', 'UBIGINT', 'DOUBLE')
                  and try_cast(value as double) > 1
              union all select 'score', 'minNumber' from m
                where key_path = 'score' and jt in ('BIGINT', 'UBIGINT', 'DOUBLE')
                  and try_cast(value as double) < 0
              union all select 'tags', 'maxString' from m
                where key_path = 'tags' and op in ('$push', '$addToSet') and (
                  (jt = 'VARCHAR' and length(value ->> '$') > 12)
                  or (jt = 'OBJECT' and len(list_filter(
                        value ->> '$."$each"[*]', x -> length(x) > 12)) > 0))
              union all select 'meta.rank', 'maxNumber' from m
                where key_path = 'meta' and jt = 'OBJECT'
                  and try_cast(value ->> '$.rank' as bigint) > 100
              union all select 'meta.rank', 'minNumber' from m
                where key_path = 'meta.rank' and try_cast(value as bigint) < 0
              union all select 'meta.' || k, 'keyNotInSchema' from (
                select unnest(json_keys(value)) k from m
                where key_path = 'meta' and jt = 'OBJECT')
                where k not in ('lang', 'rank')
            ),
            upsert_docs as (select distinct doc_id from m where upsert),
            present as (
              select distinct doc_id, key_path from m
              where upsert and op in ('$set', '$setOnInsert')),
            injected as (
              select r.k as name, 'required' as type
              from upsert_docs u,
                   (select unnest(['title', 'status', 'views', 'score']) k) r
              where not exists (select 1 from present p
                                where p.doc_id = u.doc_id and p.key_path = r.k)
            )
            select name, type, count(*) from
              (select * from per_row union all select * from injected)
            group by all
            """
        )

    def cleaned_modifier_ops(self, mods: Path) -> dict[str, int]:
        """Rows per operator after clean: a ``$set`` whose string trims to
        empty becomes ``$unset``; every upsert document gains one
        ``$setOnInsert`` row for the ``source`` default."""
        rows = self.con.execute(
            f"""
            with m as (select * from read_parquet('{mods}/*.parquet')),
            c as (
              select case when op = '$set' and json_type(value) = 'VARCHAR'
                               and trim(value ->> '$') = '' then '$unset'
                          else op end op from m
              union all select '$setOnInsert' from (select distinct doc_id from m where upsert)
            )
            select op, count(*) from c group by op
            """
        ).fetchall()
        return {op: int(n) for op, n in rows}

    def json_violations(self, docs: Path) -> dict[tuple[str, str], int]:
        """The JSON-document schema's rules per blob (malformed blobs yield
        exactly one ``$``/``malformedJson``)."""
        return self._counts(
            f"""
            with raw as (select json_blob b from read_parquet('{docs}/*.parquet')),
            d as (select b::json j from raw where json_valid(b))
            select name, type, count(*) from (
              select '$' as name, 'malformedJson' as type from raw where not json_valid(b)
              union all select 'name', 'required' from d
                where json_type(j, '$.name') is null or json_type(j, '$.name') = 'NULL'
              union all select 'name', 'minString' from d
                where json_type(j, '$.name') = 'VARCHAR' and length(j ->> '$.name') < 2
              union all select 'age', 'expectedType' from d
                where json_type(j, '$.age') not in ('BIGINT', 'UBIGINT', 'NULL')
              union all select 'age', 'maxNumber' from d
                where json_type(j, '$.age') in ('BIGINT', 'UBIGINT')
                  and try_cast(j ->> '$.age' as bigint) > 130
              union all select 'lang', 'notAllowed' from d
                where json_type(j, '$.lang') = 'VARCHAR'
                  and (j ->> '$.lang') not in ('en', 'de', 'fr')
              union all select 'tags', 'maxCount' from d
                where json_type(j, '$.tags') = 'ARRAY' and json_array_length(j, '$.tags') > 3
              union all select k, 'keyNotInSchema' from (select unnest(json_keys(j)) k from d)
                where k not in ('name', 'age', 'lang', 'meta', 'bag', 'tags')
              union all select 'meta.' || k, 'keyNotInSchema' from (
                select unnest(json_keys(j, '$.meta')) k from d
                where json_type(j, '$.meta') = 'OBJECT')
                where k <> 'k'
            ) group by all
            """
        )
