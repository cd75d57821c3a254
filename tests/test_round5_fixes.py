"""Round-5 fixes: scale-safe defaults, ANSI-overflow-proof ordering,
narrow prefix-sum persists, explicit null-ordering flags, y4m bit-depth
rejection, and per-row decode error policy."""

import pytest

from pyspark.sql import functions as F


class TestKeepBestAnsiSafety:
    def test_long_min_value_score_no_overflow(self, spark):
        # Long.MIN_VALUE negation throws ARITHMETIC_OVERFLOW under ANSI
        # mode; the decimal(20,0) widening must make it exact instead
        from simpl_schema_spark.dedup import keep_best

        lo = -(1 << 63)  # Long.MIN_VALUE
        df = spark.createDataFrame(
            [("u", lo, 3), ("u", lo + 1, 2), ("u", None, 1)],
            "url string, score bigint, doc_id int",
        )
        rows = keep_best(df, "url", "score", "doc_id").collect()
        assert len(rows) == 1
        r = rows[0]
        # highest score wins (lo+1 > lo), nulls lose to any scored row
        assert (r.keep_id, r.keep_score, r.n_dups) == (2, lo + 1, 3)

    def test_double_scores_unchanged(self, spark):
        from simpl_schema_spark.dedup import keep_best

        df = spark.createDataFrame(
            [("u", 1.5, 1), ("u", 2.5, 2), ("u", 2.5, 3)],
            "url string, score double, doc_id int",
        )
        r = keep_best(df, "url", "score", "doc_id").collect()[0]
        # max score, tie to smallest id
        assert (r.keep_id, r.keep_score, r.n_dups) == (2, 2.5, 3)


class TestRemoveCommonLinesJoinStrategy:
    def test_no_forced_broadcast_by_default(self, spark):
        # at min_df=2 on a web corpus the hot-line set is NOT small —
        # the join strategy must be AQE's call, not a forced hint
        from simpl_schema_spark.dedup import remove_common_lines

        df = spark.createDataFrame(
            [(1, "a\nb"), (2, "a\nc")], "doc_id bigint, text string"
        )
        out = remove_common_lines(df, min_df=2)
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in optimized
        out.unpersist()

    def test_opt_in_broadcast_still_available(self, spark):
        from simpl_schema_spark.dedup import remove_common_lines

        df = spark.createDataFrame(
            [(1, "a\nb"), (2, "a\nc")], "doc_id bigint, text string"
        )
        out = remove_common_lines(df, min_df=2, hint_broadcast=True)
        got = {r.doc_id: (r.text, r.n_removed) for r in out.collect()}
        assert got == {1: ("b", 1), 2: ("c", 1)}
        out.unpersist()

    def test_results_identical_either_way(self, spark):
        from simpl_schema_spark.dedup import remove_common_lines

        df = spark.createDataFrame(
            [(1, "x\ny\nz"), (2, " x \nw"), (3, "x\nq"), (4, None)],
            "doc_id bigint, text string",
        )
        a = remove_common_lines(df, min_df=3)
        b = remove_common_lines(df, min_df=3, hint_broadcast=True)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
        a.unpersist(); b.unpersist()


class TestPrefixSumNarrowPersist:
    def test_wide_input_persists_only_narrow_columns(self, spark):
        # a direct caller on a wide table must not cache the corpus: the
        # persisted prefix intermediate carries order+value+out cols only
        from simpl_schema_spark.cache import release_tracked
        from simpl_schema_spark.packing import prefix_sums

        wide = spark.createDataFrame(
            [(i, i % 5, "payload" * 50, f"url{i}") for i in range(20)],
            "id bigint, v bigint, big_text string, url string",
        )
        out = prefix_sums(wide, "id", ["v"], ["cum_v"])
        rows = {r.id: r.cum_v for r in out.collect()}
        assert rows[0] == 0 and rows[19] == sum(i % 5 for i in range(19))
        # all original columns survive the join-back
        assert out.columns == ["id", "v", "big_text", "url", "cum_v"]
        # the persisted plan (the tracked narrow totals) must not carry
        # the wide payload columns
        sc = spark.sparkContext._jsc.sc()
        infos = sc.getRDDStorageInfo()
        cached_names = " | ".join(str(i.name()) for i in infos)
        assert "big_text" not in cached_names
        released = release_tracked()
        assert released >= 1

    def test_narrow_input_unchanged(self, spark):
        from simpl_schema_spark.packing import prefix_sums

        df = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id bigint, v bigint"
        )
        out = prefix_sums(df, "id", ["v"], ["c"])
        assert {r.id: r.c for r in out.collect()} == {1: 0, 2: 10, 3: 30}
        out.unpersist()

    def test_sequence_chunks_releases_prefix_cache(self, spark):
        from simpl_schema_spark.packing import sequence_chunks

        df = spark.createDataFrame(
            [(1, 3), (2, 5), (3, 4)], "id bigint, n bigint"
        )
        out = sequence_chunks(df, "id", "n", capacity=4)
        got = {r.id: (r.tok_start, r.chunk_first, r.chunk_last)
               for r in out.collect()}
        assert got == {1: (0, 0, 0), 2: (3, 0, 1), 3: (8, 2, 2)}
        out.unpersist()


class TestStratifiedSampleNullOrdering:
    def test_null_keys_sort_first_explicit_flag(self, spark):
        # NULL keys must beat EVERY real key — including ones whose hash
        # would have collided with the old -1 sentinel
        from simpl_schema_spark.sampling import stratified_sample

        df = spark.createDataFrame(
            [("en", None, 1), ("en", "k1", 2), ("en", "k2", 3)],
            "lang string, key string, id int",
        )
        picked = {r.id for r in stratified_sample(df, "lang", "key", 2).collect()}
        assert 1 in picked and len(picked) == 2

    def test_item_struct_has_leading_null_flag(self, spark):
        # pin the shape: comparator orders by (nn, hk, k) with nn the
        # explicit is-not-null flag, so no hash value can tie a real key
        # with a NULL key
        from simpl_schema_spark.sampling import stratified_sample

        df = spark.createDataFrame(
            [("en", "a", 1)], "lang string, key string, id int"
        )
        plan = (
            stratified_sample(df, "lang", "key", 1)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert "nn" in plan and "isnotnull" in plan.lower()


class TestY4mBitDepthRejection:
    def test_10bit_tag_rejected_explicitly(self):
        from simpl_schema_spark.multimodal.y4m import Y4mError, parse_header

        payload = b"YUV4MPEG2 W4 H4 F25:1 C420p10\n" + b"FRAME\n" + b"\x00" * 24
        with pytest.raises(Y4mError, match="420p10"):
            parse_header(payload)

    @pytest.mark.parametrize("tag", ["422p12", "444p14", "420p16"])
    def test_all_depth_suffixes_rejected(self, tag):
        from simpl_schema_spark.multimodal.y4m import Y4mError, parse_header

        payload = f"YUV4MPEG2 W4 H4 F25:1 C{tag}\n".encode()
        with pytest.raises(Y4mError, match="8-bit"):
            parse_header(payload)

    def test_8bit_tags_still_parse(self):
        from simpl_schema_spark.multimodal.y4m import parse_header

        info = parse_header(b"YUV4MPEG2 W4 H2 F25:1 C420jpeg\nFRAME\n" + b"\x00" * 12)
        assert info.frame_size == 12


class TestMediaOnErrorPolicy:
    def test_video_skip_drops_bad_payload(self, spark):
        from simpl_schema_spark.multimodal.media import sample_video_frames

        good = (
            b"YUV4MPEG2 W2 H2 F25:1 C420jpeg\n"
            + (b"FRAME\n" + bytes([10, 20, 30, 40, 1, 2])) * 2
        )
        bad = b"\x00\x00\x00\x18ftypmp42 garbage"
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(bad))],
            "id bigint, payload binary",
        )
        rows = sample_video_frames(
            df, use_stub=False, n_frames=2, on_error="skip"
        ).collect()
        assert {r.id for r in rows} == {1}

    def test_video_raise_still_default(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        from simpl_schema_spark.multimodal.media import sample_video_frames

        df = spark.createDataFrame(
            [(1, bytearray(b"not a video"))], "id bigint, payload binary"
        )
        with pytest.raises((PythonException, Py4JJavaError)):
            sample_video_frames(df, use_stub=False).collect()

    def test_image_skip_drops_bad_payload(self, spark):
        from simpl_schema_spark.multimodal.media import decode_image_features

        df = spark.createDataFrame(
            [(1, bytearray(b"\xff\xd8\xffnot-a-real-jpeg")), (2, None)],
            "id bigint, payload binary",
        )
        rows = decode_image_features(
            df, use_stub=False, on_error="skip"
        ).collect()
        # row 2 (NULL payload) keeps its zero-feature row; row 1 decode
        # fails and is skipped — unless pillow decodes truncated jpegs,
        # in which case both survive; either way no job abort
        assert 2 in {r.id for r in rows}

    def test_audio_skip_drops_bad_payload(self, spark):
        import io
        import wave

        from simpl_schema_spark.multimodal.media import decode_audio_features

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
            w.writeframes(b"\x00\x01" * 100)
        df = spark.createDataFrame(
            [(1, bytearray(buf.getvalue())), (2, bytearray(b"mp3junk"))],
            "id bigint, payload binary",
        )
        rows = decode_audio_features(
            df, use_stub=False, on_error="skip"
        ).collect()
        assert {r.id for r in rows} == {1}
        assert rows[0].sample_rate == 8000

    def test_invalid_on_error_rejected(self, spark):
        from simpl_schema_spark.multimodal.media import decode_image_features

        df = spark.createDataFrame([(1, None)], "id bigint, payload binary")
        with pytest.raises(ValueError, match="on_error"):
            decode_image_features(df, on_error="ignore")


class TestPortableHashFamilies:
    """md5-family minhash/simhash — the engine-portable variants behind the
    hash-gated contract oracles (dedup/minhash.py, dedup/simhash.py)."""

    def test_md5_long64_matches_hashlib(self, spark):
        import hashlib

        from simpl_schema_spark.dedup.minhash import md5_long64

        vals = ["alpha", "beta", "needs-sign-wrap", "x" * 50]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {r.s: r.h for r in df.select("s", md5_long64(F.col("s")).alias("h")).collect()}
        saw_negative = False
        for v in vals:
            u = int(hashlib.md5(v.encode()).hexdigest()[:16], 16)
            want = u - (1 << 64) if u >= (1 << 63) else u
            assert got[v] == want
            saw_negative = saw_negative or want < 0
        # the sample must actually exercise the two's-complement wrap
        assert saw_negative

    def test_md5_permutation_family_deterministic(self):
        from simpl_schema_spark.dedup.minhash import (
            MERSENNE61, md5_permutation_family,
        )

        a1, b1 = md5_permutation_family(64)
        a2, b2 = md5_permutation_family(64)
        assert (a1, b1) == (a2, b2)
        assert all(1 <= x < (1 << 30) for x in a1)
        assert all(0 <= x < MERSENNE61 for x in b1)
        # different seeds -> different family
        assert md5_permutation_family(64, seed=8)[0] != a1

    def test_minhash_md5_family_finds_exact_dups(self, spark):
        from simpl_schema_spark.dedup import minhash_near_duplicates

        texts = [
            (i, f"doc number {i} with its own distinct words "
                f"{'padding words here ' * 5}{i}")
            for i in range(12)
        ]
        texts.append((100, texts[0][1]))  # exact copy of doc 0
        df = spark.createDataFrame(texts, "doc_id bigint, text string")
        out = minhash_near_duplicates(df, threshold=0.9, hash_family="md5")
        pairs = {(r.id_a, r.id_b): r.jaccard_est for r in out.collect()}
        assert pairs.get((0, 100)) == 1.0
        out.unpersist()

    def test_simhash_md5_family_finds_exact_dups(self, spark):
        from simpl_schema_spark.dedup import simhash_near_duplicates

        texts = [
            (i, f"document {i} talks about entirely different topic "
                f"{'filler ' * 8}{i}")
            for i in range(12)
        ]
        texts.append((100, texts[3][1]))
        df = spark.createDataFrame(texts, "doc_id bigint, text string")
        out = simhash_near_duplicates(df, max_hamming=3, hash_family="md5")
        pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
        assert pairs.get((3, 100)) == 0
        out.unpersist()

    def test_invalid_family_rejected(self, spark):
        import pytest as _pytest

        from simpl_schema_spark.dedup.minhash import minhash_signature
        from simpl_schema_spark.dedup.simhash import simhash

        with _pytest.raises(ValueError, match="hash_family"):
            minhash_signature(F.col("x"), hash_family="sha1")
        with _pytest.raises(ValueError, match="hash_family"):
            simhash(F.col("x"), hash_family="sha1")


class TestStreamingLateData:
    """Watermark semantics under out-of-order arrival — the failure mode
    real streams hit first.  Each parquet file is one micro-batch
    (maxFilesPerTrigger=1, ordered by mtime); append mode emits a window
    only once the watermark passes its end, and a too-late event is
    DROPPED, not re-aggregated.

    Timing detail (SPARK-40925, Spark >= 3.4): late-record FILTERING in
    batch N uses the watermark of batch N-1, while state EVICTION uses
    the watermark computed at batch N's start.  So an event landing in
    the very next batch after the watermark crossed its window is still
    merged (and emitted with it); only events arriving >= 2 batches after
    the watermark-advancing event are dropped.  The fixtures below place
    the too-late row two batches after the advancing event."""

    @staticmethod
    def _write_batch(spark, path, rows, ddl):
        import time as _time

        spark.createDataFrame(rows, ddl).repartition(1).write.mode(
            "append"
        ).parquet(path)
        _time.sleep(1.1)  # distinct mtimes => deterministic batch order

    def _run_stream(self, spark, src, build, name):
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.sql(f"select * from {name}").collect()

    def test_pii_rates_drop_beyond_watermark(self, spark, tmp_path):
        import datetime

        from simpl_schema_spark.streaming import streaming_pii_rates

        src = str(tmp_path / "pii_late")
        ddl = "doc_id long, warc_ts timestamp, text string"
        ts = lambda h, m=0: datetime.datetime(2026, 1, 1, h, m)  # noqa: E731
        # batch 1: window [0,1) gets one emailed doc; the 06:00 event
        # will advance the eviction watermark to 04:00 for batch 2
        self._write_batch(spark, src, [
            (1, ts(0, 30), "mail a@b.com"),
            (2, ts(6, 0), "clean"),
        ], ddl)
        # batch 2: eviction watermark 04:00 finalizes+emits [0,1) with
        # ONLY doc 1; the 12:00 event moves the next watermark to 10:00
        self._write_batch(spark, src, [(5, ts(12, 0), "clean")], ddl)
        # batch 3: late-filter watermark is now 04:00 — doc 3 (00:45) is
        # beyond it -> dropped entirely; doc 4 (05:30) is late-but-inside
        # -> lands in [5,6), which eviction (10:00) then emits
        self._write_batch(spark, src, [
            (3, ts(0, 45), "late x@y.com"),
            (4, ts(5, 30), "ok c@d.com"),
            (6, ts(20, 0), "clean"),
        ], ddl)

        rows = self._run_stream(
            spark, src,
            lambda s: streaming_pii_rates(s, window_duration="1 hour"),
            "pii_late",
        )
        by_start = {r.window.start.hour: r for r in rows}
        # the too-late doc 3 appears NOWHERE: [0,1) keeps batch-1 counts
        assert by_start[0].n_docs == 1
        assert by_start[0].docs_email == 1
        assert by_start[0].matches_email == 1
        # the within-horizon late doc 4 IS counted
        assert by_start[5].n_docs == 1
        assert by_start[5].docs_email == 1
        total_docs = sum(r.n_docs for r in rows)
        total_emails = sum(r.matches_email for r in rows)
        assert total_emails == 2  # doc 3's email never lands
        assert total_docs <= 5    # doc 3 in no window

    def test_category_counts_drop_beyond_watermark(self, spark, tmp_path):
        import datetime

        from simpl_schema_spark.streaming import streaming_category_counts

        src = str(tmp_path / "cat_late")
        ddl = "doc_id long, warc_ts timestamp, lang string"
        ts = lambda h, m=0: datetime.datetime(2026, 1, 1, h, m)  # noqa: E731
        self._write_batch(spark, src, [
            (1, ts(0, 10), "en"),
            (2, ts(0, 20), "de"),
            (3, ts(6, 0), "en"),
        ], ddl)
        # batch 2 evicts+emits [0,1) (watermark 04:00) and advances the
        # next watermark to 10:00
        self._write_batch(spark, src, [(5, ts(12, 0), "en")], ddl)
        # batch 3: 'fr' at 00:50 is beyond the late-filter watermark
        # (04:00): dropped — the drift profile for [0,1) must NOT change
        self._write_batch(spark, src, [
            (4, ts(0, 50), "fr"),
            (6, ts(20, 0), "en"),
        ], ddl)

        rows = self._run_stream(
            spark, src,
            lambda s: streaming_category_counts(s, "lang",
                                                window_duration="1 hour"),
            "cat_late",
        )
        w0 = {r.category: r.cnt for r in rows if r.window.start.hour == 0}
        assert w0 == {"en": 1, "de": 1}  # no 'fr' — late row dropped


class TestArrowNanNullGuard:
    """Arrow renders NULL in an integral column as float NaN inside pandas
    UDFs — autoValue fns and Python rules must see None, and genuine NaN in
    double columns must NOT be masked (cleaning.py `_apply_python_auto_value`
    null-flag; compiler/validators.py `typed_value` null-flag)."""

    def test_auto_value_sees_none_for_null_bigint(self, spark):
        from simpl_schema_spark.cleaning import clean
        from simpl_schema_spark.schema import SimpleSchema

        def default5(ctx):
            if not ctx.is_set:
                return 5
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "name": {"type": str},
                "n": {"type": int, "autoValue": default5},
            }
        )
        df = spark.createDataFrame(
            [("a", None), ("b", 20)], "name string, n bigint"
        )
        got = {r.name: r.n for r in clean(df, ss).collect()}
        assert got == {"a": 5, "b": 20}

    def test_python_rule_sees_none_for_null_int_but_real_nan(self, spark):
        import math

        from simpl_schema_spark.validation import with_violations
        from simpl_schema_spark.schema import SimpleSchema

        def classify(v):
            if v is None:
                return "wasNull"
            if isinstance(v, float) and math.isnan(v):
                return "wasNaN"
            return None

        ss = SimpleSchema(
            {"x": {"type": float, "optional": True, "custom": classify}}
        )
        df = spark.createDataFrame(
            [(1, None), (2, float("nan")), (3, 1.5)], "i bigint, x double"
        )
        out = with_violations(df.drop("i"), ss).collect()
        kinds = sorted(
            v["type"] for r in out for v in (r.violations or [])
        )
        # null → custom fn saw None (NOT NaN); genuine NaN → the built-in
        # number check fires first (`expectedType`, one error per key) —
        # which also proves the NaN was not masked to null by the guard
        assert kinds == ["expectedType", "wasNull"]
