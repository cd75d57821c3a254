"""Round-4 fixes: bounded stratified sampling, capped group member lists,
connected-components guards, tf-idf join strategy, partition-path escaping,
metrics schema migration, pseudo-modifier datetime encoding."""

import datetime

import pytest

from pyspark.sql import Window, functions as F


class TestStratifiedTwoStage:
    def test_no_window_in_plan(self, spark):
        # the r3 shape (row_number over partitionBy(stratum)) funnels every
        # row of a stratum through ONE task — the two-stage shape must not
        # plan a Window at all
        from simpl_schema_spark.sampling import stratified_sample

        df = spark.createDataFrame(
            [("en", i) for i in range(100)] + [("de", i) for i in range(10)],
            "g string, k bigint",
        )
        plan = (
            stratified_sample(df, "g", "k", 5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan

    def test_matches_window_semantics(self, spark):
        # selected set identical to row_number() over (partition by stratum
        # order by hash, key) <= n
        from simpl_schema_spark.sampling import hash_key, stratified_sample

        rows = [(f"g{i % 3}", f"key-{i}", i) for i in range(200)]
        df = spark.createDataFrame(rows, "g string, k string, payload bigint")
        got = sorted(
            (r.g, r.k, r.payload)
            for r in stratified_sample(df, "g", "k", 7).collect()
        )
        w = Window.partitionBy("g").orderBy(hash_key(F.col("k")), F.col("k"))
        want = sorted(
            (r.g, r.k, r.payload)
            for r in df.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= 7)
            .drop("__r")
            .collect()
        )
        assert got == want

    def test_rejects_nonpositive_n(self, spark):
        from simpl_schema_spark.sampling import stratified_sample

        df = spark.createDataFrame([("a", 1)], "g string, k bigint")
        with pytest.raises(ValueError):
            stratified_sample(df, "g", "k", 0)


class TestBoundedGroupMembers:
    def test_member_ids_capped_count_exact(self, spark):
        from simpl_schema_spark.dedup import dedup_groups_from_pairs

        # one 30-member clique (star edges suffice for connectivity)
        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 30)] + [(100, 101)],
            "id_a bigint, id_b bigint",
        )
        rows = {
            r.component: r
            for r in dedup_groups_from_pairs(
                edges, max_group_ids=5
            ).collect()
        }
        big = rows[0]
        assert big.n_members == 30  # exact despite the cap
        assert big.member_ids == [0, 1, 2, 3, 4]  # smallest ids kept
        assert rows[100].member_ids == [100, 101]

    def test_uncapped_unchanged(self, spark):
        from simpl_schema_spark.dedup import dedup_groups_from_pairs

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a bigint, id_b bigint"
        )
        [r] = dedup_groups_from_pairs(edges).collect()
        assert (r.component, r.n_members, sorted(r.member_ids)) == (
            1, 3, [1, 2, 3],
        )


class TestComponentsGuards:
    def test_zero_max_iter_raises_runtime_error(self, spark):
        # regression: formatted `changed` before the loop ever bound it
        from simpl_schema_spark.dedup import connected_components

        edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(
                edges, max_iter=0, small_graph_threshold=0
            )

    def test_small_graph_threshold_forwarded(self, spark):
        # threshold 0 forces the distributed path through the groups API
        from simpl_schema_spark.dedup import dedup_groups_from_pairs

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
        )
        got = sorted(
            (r.component, r.n_members)
            for r in dedup_groups_from_pairs(
                edges, small_graph_threshold=0
            ).collect()
        )
        assert got == [(1, 3), (10, 2)]


class TestTfidfJoinStrategy:
    def test_no_forced_broadcast_hint(self, spark):
        # the df-side join must not carry an unconditional broadcast hint —
        # web-scale vocabularies don't fit the driver; AQE may still CHOOSE
        # a broadcast at small scale, which is fine
        from simpl_schema_spark.text import tf_idf_top_terms

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b"), (3, "a")], "doc_id bigint, text string"
        )
        optimized = (
            tf_idf_top_terms(df)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "ResolvedHint" not in optimized

    def test_min_df_caps_vocabulary(self, spark):
        from simpl_schema_spark.text import tf_idf_top_terms

        df = spark.createDataFrame(
            [(1, "common rare1"), (2, "common rare2"), (3, "common")],
            "doc_id bigint, text string",
        )
        out = tf_idf_top_terms(df, min_df=2).collect()
        assert {r.token for r in out} == {"common"}
        assert all(r.df == 3 for r in out)


class TestPartitionPathEscaping:
    def test_escape_matches_spark_writer(self, spark, tmp_path):
        # the escaped name we build for stale-partition deletes must be the
        # directory Spark's partitioned writer actually creates
        from simpl_schema_spark.lineage import _escape_partition_value

        val = "2024-01-01 00:00"
        df = spark.createDataFrame([(val, 1)], "p string, x bigint")
        out = str(tmp_path / "esc")
        df.write.partitionBy("p").parquet(out)
        import os

        dirs = [d for d in os.listdir(out) if d.startswith("p=")]
        assert dirs == [f"p={_escape_partition_value(val)}"]
        # and reading back recovers the original value
        assert spark.read.parquet(out).collect()[0].p == val

    def test_escape_basics(self):
        from simpl_schema_spark.lineage import _escape_partition_value

        assert _escape_partition_value("2024-01-01") == "2024-01-01"
        # space is NOT in Hive's charToEscape set on POSIX — Spark writes
        # it literally (the writer-parity test above pins this)
        assert _escape_partition_value("a:b c%d") == "a%3Ab c%25d"
        assert _escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"
        assert _escape_partition_value("") == "__HIVE_DEFAULT_PARTITION__"

    def test_single_pass_clears_stale_escaped_partition(self, spark, tmp_path):
        # stale files under an ESCAPED partition dir (from a crashed earlier
        # attempt) must be deleted even when the rerun produces zero
        # violations for that partition
        from simpl_schema_spark.lineage import (
            _escape_partition_value,
            run_partitioned_validation,
        )
        from simpl_schema_spark.schema import SimpleSchema

        out = str(tmp_path / "run")
        part_val = "day: 01"  # colon → %-escaped directory name
        stale_dir = (
            f"{out}/violations/part_key={_escape_partition_value(part_val)}"
        )
        assert ":" not in stale_dir.rsplit("/", 1)[1]
        spark.createDataFrame(
            [("u0", "stale")], "url string, type string"
        ).write.parquet(stale_dir)

        ss = SimpleSchema(
            {
                "url": {"type": str},
                "text": {"type": str},
                "warc_ts": {"type": datetime.datetime},
            }
        )
        df = spark.createDataFrame(
            [("u1", "ok", datetime.datetime(2024, 1, 1))],
            "url string, text string, warc_ts timestamp",
        )
        run = run_partitioned_validation(
            df,
            ss,
            out,
            partition_expr=F.concat(
                F.lit("day: "), F.date_format("warc_ts", "dd")
            ),
            single_pass=True,
        )
        assert run.completed == [part_val]
        # zero violations → the stale rows must NOT survive
        try:
            n = spark.read.parquet(f"{out}/violations").count()
        except Exception:
            n = 0
        assert n == 0


class TestReadMetricsMergeSchema:
    def test_old_rows_surface_with_backfill(self, spark, tmp_path):
        from simpl_schema_spark.lineage import read_metrics

        out = str(tmp_path / "m")
        # pre-wall_scope generation: column absent entirely
        spark.createDataFrame(
            [("r1", "p1", 10, 2, 1, 0.5)],
            "run_id string, part_key string, n_rows bigint, "
            "n_violations bigint, n_invalid_rows bigint, wall_sec double",
        ).write.mode("append").parquet(f"{out}/metrics")
        spark.createDataFrame(
            [("r2", "p2", 20, 0, 0, 0.7, "batch")],
            "run_id string, part_key string, n_rows bigint, "
            "n_violations bigint, n_invalid_rows bigint, wall_sec double, "
            "wall_scope string",
        ).write.mode("append").parquet(f"{out}/metrics")
        got = {r.run_id: r.wall_scope for r in read_metrics(spark, out).collect()}
        assert got == {"r1": "partition", "r2": "batch"}


class TestReviewFixes:
    """Round-4 self-review findings."""

    def test_arrowsafe_dummy_never_reaches_validator_fn(self, spark):
        # a null-UNSAFE item validator must not be invoked on the [null]
        # dummy substituted for null/empty deep arrays
        from tests.helpers import run_validation
        from simpl_schema_spark.schema import SimpleSchema

        def null_unsafe(v):
            return "bad" if v.startswith("x") else None  # raises on None

        ss = SimpleSchema(
            {
                "orgs": {"type": SimpleSchema.Array, "optional": True},
                "orgs.$": {"type": dict},
                "orgs.$.teams": {"type": SimpleSchema.Array},
                "orgs.$.teams.$": {"type": dict},
                "orgs.$.teams.$.tags": {"type": SimpleSchema.Array},
                "orgs.$.teams.$.tags.$": {"type": str, "custom": null_unsafe},
            }
        )
        ddl = "orgs array<struct<teams array<struct<tags array<string>>>>>"
        rows = [
            {"orgs": None},
            {"orgs": []},
            {"orgs": [{"teams": [{"tags": ["ok", "xbad"]}]}]},
        ]
        out = run_validation(spark, ss, ddl, rows)
        assert out[0] == [] and out[1] == []
        assert [(v["name"], v["type"]) for v in out[2]] == [
            ("orgs.0.teams.0.tags.1", "bad")
        ]

    def test_arrowsafe_dummy_never_reaches_autovalue_fn(self, spark):
        from simpl_schema_spark.cleaning import clean
        from simpl_schema_spark.schema import SimpleSchema

        def null_unsafe(ctx):
            return ctx.value.upper()  # raises on None

        ss = SimpleSchema(
            {
                "cube": {"type": SimpleSchema.Array, "optional": True},
                "cube.$": {"type": SimpleSchema.Array},
                "cube.$.$": {"type": SimpleSchema.Array},
                "cube.$.$.$": {"type": str, "autoValue": null_unsafe},
            }
        )
        df = spark.createDataFrame(
            [(None,), ([],), ([[["a"]]],)],
            "cube array<array<array<string>>>",
        )
        got = sorted(
            (r.cube is None, str(r.cube)) for r in clean(df, ss).collect()
        )
        want = sorted(
            [(True, str(None)), (False, str([])), (False, str([[["A"]]]))]
        )
        assert got == want

    def test_positional_is_set_distinguishes_explicit_null(self, spark):
        import json
        from simpl_schema_spark.modifiers import clean_modifier_table
        from simpl_schema_spark.schema import SimpleSchema

        def fill(ctx):
            if not ctx.is_set:
                return "filled"
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "arr": {"type": SimpleSchema.Array, "optional": True},
                "arr.$": {"type": dict},
                "arr.$.note": {
                    "type": str, "optional": True, "autoValue": fill
                },
            }
        )
        df = spark.createDataFrame(
            [
                (1, "$set", "arr", '[{"note": null}]', False),
                (2, "$set", "arr", "[{}]", False),
            ],
            "doc_id bigint, op string, key_path string, value string, "
            "upsert boolean",
        )
        got = {
            r.doc_id: r.value
            for r in clean_modifier_table(df, ss).collect()
            if r.key_path == "arr"
        }
        # explicit null IS set (reference isSet = value !== undefined)
        assert json.loads(got[1]) == [{"note": None}]
        # absent key is not set → filled
        assert json.loads(got[2]) == [{"note": "filled"}]

    def test_push_unset_consistent_between_syntaxes(self, spark):
        import json
        from simpl_schema_spark.modifiers import clean_modifier_table
        from simpl_schema_spark.schema import SimpleSchema

        def drop_bad(ctx):
            if ctx.value == "drop":
                ctx.unset()
                return ctx.UNCHANGED
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "autoValue": drop_bad},
            }
        )
        ddl = (
            "doc_id bigint, op string, key_path string, value string, "
            "upsert boolean"
        )
        df = spark.createDataFrame(
            [
                (1, "$push", "tags", '{"$each": ["keep", "drop"]}', False),
                (2, "$push", "tags", '"drop"', False),
            ],
            ddl,
        )
        got = {
            (r.doc_id, r.op, r.key_path): r.value
            for r in clean_modifier_table(df, ss).collect()
        }
        # $each: the dropped item vanishes, keeps the rest
        assert json.loads(got[(1, "$push", "tags")]) == {"$each": ["keep"]}
        # plain push of a dropped item: the entry vanishes entirely
        assert (2, "$push", "tags") not in got

    def test_extraction_null_html_conditions(self, spark):
        from simpl_schema_spark.checks import extraction_mismatches

        df = spark.createDataFrame(
            [
                ("u1", None, None),        # nothing to check → no row
                ("u2", None, "text!"),     # payload missing → its own type
                ("u3", b"<p>x</p>", "x"),  # matches → no row
            ],
            "url string, html binary, text string",
        )
        rows = {r.url: r.type for r in extraction_mismatches(df).collect()}
        assert rows == {"u2": "missingHtmlPayload"}

    def test_streaming_psi_still_matches_batch_after_refactor(self, spark):
        from simpl_schema_spark.checks import (
            categorical_counts,
            categorical_drift_psi,
        )
        from simpl_schema_spark.streaming import psi_per_window

        cur = spark.createDataFrame(
            [("en",)] * 60 + [("de",)] * 40, "lang string"
        )
        base = spark.createDataFrame(
            [("en",)] * 80 + [("de",)] * 20, "lang string"
        )
        bc = categorical_counts(base, "lang")
        expected = categorical_drift_psi(cur, bc, "lang").collect()[0].psi
        win = spark.createDataFrame(
            [("w", "en", 60), ("w", "de", 40)],
            "window string, category string, cnt bigint",
        )
        [r] = psi_per_window(win, bc).collect()
        assert abs(r.psi - expected) < 1e-12


class TestRepetitionMetrics:
    def _one(self, spark, text):
        from simpl_schema_spark.text import repetition_metrics

        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        return repetition_metrics(df).collect()[0]

    def test_duplicate_lines(self, spark):
        r = self._one(spark, "nav bar\ncontent here\nnav bar\nnav bar")
        assert abs(r.dup_line_frac - 0.5) < 1e-12  # 2 repeats of 4 lines

    def test_stuttered_bigram(self, spark):
        r = self._one(spark, "buy now buy now buy now buy now")
        # 7 bigrams: 'buy now' x4, 'now buy' x3 → top coverage 4/7
        assert abs(r.top_bigram_cov - 4 / 7) < 1e-12

    def test_natural_text_low(self, spark):
        r = self._one(
            spark, "the quick brown fox jumps over the lazy sleeping dog"
        )
        assert r.dup_line_frac == 0.0
        assert r.top_bigram_cov <= 1 / 9 + 1e-12  # all bigrams distinct

    def test_degenerate_docs(self, spark):
        assert self._one(spark, "").top_bigram_cov == 0.0
        assert self._one(spark, "single").top_bigram_cov == 0.0
        assert self._one(spark, "single").dup_line_frac == 0.0

    def test_token_cap_bounds_work(self, spark):
        from simpl_schema_spark.text import repetition_metrics

        df = spark.createDataFrame(
            [(1, "a b " * 5000)], "doc_id bigint, text string"
        )
        [r] = repetition_metrics(df, max_tokens=100).collect()
        # capped stream: 99 bigrams, 'a b' x50, 'b a' x49 → 50/99
        assert abs(r.top_bigram_cov - 50 / 99) < 1e-12


class TestStreamingDrift:
    def test_psi_per_window_matches_batch(self, spark):
        # the foreachBatch half: per-window PSI over already-windowed
        # counts must equal the batch categorical_drift_psi on one window
        from simpl_schema_spark.checks import (
            categorical_counts,
            categorical_drift_psi,
        )
        from simpl_schema_spark.streaming import psi_per_window

        cur = spark.createDataFrame(
            [("en",)] * 70 + [("de",)] * 30, "lang string"
        )
        base = spark.createDataFrame(
            [("en",)] * 50 + [("de",)] * 40 + [("fr",)] * 10, "lang string"
        )
        base_counts = categorical_counts(base, "lang")
        batch_psi = categorical_drift_psi(cur, base_counts, "lang").collect()[
            0
        ].psi

        win = spark.createDataFrame(
            [("w1", "en", 70), ("w1", "de", 30)],
            "window string, category string, cnt bigint",
        )
        [r] = psi_per_window(win, base_counts).collect()
        assert abs(r.psi - batch_psi) < 1e-12
        assert r.n_current == 100 and r.n_categories == 3

    def test_streaming_counts_through_foreach_batch(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from simpl_schema_spark.checks import categorical_counts
        from simpl_schema_spark.datagen import generate_documents
        from simpl_schema_spark.streaming import (
            psi_per_window,
            streaming_category_counts,
        )

        src = str(tmp_path / "drift_src")
        generate_documents(spark, 500).write.mode("overwrite").parquet(src)
        static = spark.read.parquet(src)
        baseline = categorical_counts(static, "lang").persist()
        baseline.count()

        stream = spark.readStream.schema(static.schema).parquet(src)
        counts = streaming_category_counts(
            stream, "lang", window_duration="720 days", watermark="1 hour"
        )
        results = []

        def sink(batch_df, batch_id):
            results.extend(psi_per_window(batch_df, baseline).collect())

        q = (
            counts.writeStream.outputMode("update")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert results, "no drift rows emitted"
        # datagen's out-of-window warc_ts bucket splits the corpus into
        # two windows; each window's streaming PSI must equal the batch
        # PSI computed on exactly that time slice (null-safe categories)
        assert sum(r.n_current for r in results) == 500
        for r in results:
            slice_df = static.where(
                (F.col("warc_ts") >= r.window.start)
                & (F.col("warc_ts") < r.window.end)
            ).withColumn("lang", F.coalesce(F.col("lang"), F.lit("\0null")))
            base_safe = baseline.withColumn(
                "category", F.coalesce(F.col("category"), F.lit("\0null"))
            )
            from simpl_schema_spark.checks import categorical_drift_psi

            expected = categorical_drift_psi(
                slice_df, base_safe, "lang"
            ).collect()[0].psi
            assert abs(r.psi - expected) < 1e-9


class TestExtractionQA:
    """North-rule invariant check: stored text == fresh extraction."""

    def test_clean_corpus_has_zero_mismatches(self, spark):
        from simpl_schema_spark.checks import extraction_mismatches
        from simpl_schema_spark.datagen import generate_documents

        docs = generate_documents(spark, 500)
        assert extraction_mismatches(docs).count() == 0

    def test_corrupted_row_flagged(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.checks import extraction_mismatches
        from simpl_schema_spark.datagen import generate_documents

        docs = generate_documents(spark, 100).withColumn(
            "text",
            F.when(
                F.col("url").endswith("/p/7"), F.lit("TAMPERED")
            ).otherwise(F.col("text")),
        )
        rows = extraction_mismatches(docs).collect()
        assert len(rows) >= 1
        assert all(r.type == "extractionMismatch" for r in rows)
        assert all(r.url.endswith("/p/7") for r in rows)

    def test_zero_shuffle_plan(self, spark):
        from simpl_schema_spark.checks import extraction_mismatches
        from simpl_schema_spark.datagen import generate_documents

        plan = (
            extraction_mismatches(generate_documents(spark, 10))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestHtmlToText:
    def _one(self, spark, html):
        from pyspark.sql import functions as F
        from simpl_schema_spark.text import html_to_text

        df = spark.createDataFrame([(html,)], "h string")
        return df.select(html_to_text(F.col("h")).alias("t")).collect()[0].t

    def test_strips_tags_scripts_comments(self, spark):
        html = (
            '<html><head><script>var x = "1 < 2";</script>'
            "<style>p { color: red; }</style></head>"
            "<body><!-- nav --><h1>Title</h1>\n<p>Hello   world</p></body></html>"
        )
        assert self._one(spark, html) == "Title Hello world"

    def test_decodes_entities(self, spark):
        assert (
            self._one(spark, "<p>a &amp; b &lt;c&gt; &quot;d&quot;&nbsp;e</p>")
            == 'a & b <c> "d" e'
        )

    def test_case_insensitive_script_block(self, spark):
        assert self._one(spark, "<SCRIPT>bad()</SCRIPT><b>ok</b>") == "ok"


class TestNgramOverlap:
    def test_contaminated_docs_flagged(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.text import ngram_overlap

        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different words here and there today"),
                (3, "quick brown fox jumps over something else entirely"),
            ],
            "doc_id bigint, text string",
        )
        ev = spark.createDataFrame(
            [(100, "the quick brown fox jumps over a fence")],
            "doc_id bigint, text string",
        )
        got = {
            r.doc_id: r.n_shared
            for r in ngram_overlap(train, ev, k=3).collect()
        }
        # doc 1 shares 'the quick brown', 'quick brown fox',
        # 'brown fox jumps', 'fox jumps over'; doc 3 shares 3 of those;
        # doc 2 shares none → absent
        assert got[1] == 4 and got[3] == 3 and 2 not in got

    def test_broadcast_eval_side(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.text import ngram_overlap

        train = spark.createDataFrame(
            [(1, "a b c d e")], "doc_id bigint, text string"
        )
        plan = (
            ngram_overlap(train, train, k=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestWavAudioDecode:
    """Real PCM-WAV decode path (stdlib wave + numpy) — closes the
    audio half of the multimodal stub; compressed codecs stay stubbed."""

    @staticmethod
    def _wav_bytes(rate=16000, seconds=1.0, loud_second_half=True):
        import io
        import math
        import wave

        n = int(rate * seconds)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            frames = bytearray()
            for i in range(n):
                if loud_second_half and i >= n // 2:
                    v = int(20000 * math.sin(2 * math.pi * 440 * i / rate))
                else:
                    v = 0
                frames += int(v).to_bytes(2, "little", signed=True)
            w.writeframes(bytes(frames))
        return buf.getvalue()

    def test_real_wav_features(self, spark):
        from simpl_schema_spark.multimodal import decode_audio_features

        df = spark.createDataFrame(
            [(1, bytearray(self._wav_bytes())), (2, None)],
            "id bigint, payload binary",
        )
        rows = {
            r.id: r
            for r in decode_audio_features(
                df, embedding_dim=4, use_stub=False
            ).collect()
        }
        r1 = rows[1]
        assert r1.sample_rate == 16000 and r1.n_channels == 1
        assert abs(r1.duration_sec - 1.0) < 1e-9
        # energy profile: silent first half, loud second half
        assert r1.embedding[0] < 0.01 and r1.embedding[1] < 0.01
        assert r1.embedding[2] > 0.5 and r1.embedding[3] > 0.5
        assert rows[2].sample_rate == 0 and rows[2].embedding == [0.0] * 4

    def test_non_wav_raises_marked_not_implemented(self, spark):
        import pytest
        from simpl_schema_spark.multimodal import decode_audio_features

        df = spark.createDataFrame(
            [(1, bytearray(b"\xff\xfb\x90\x00 mp3-ish payload"))],
            "id bigint, payload binary",
        )
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            decode_audio_features(df, use_stub=False).collect()

    def test_stub_shape_matches(self, spark):
        from simpl_schema_spark.multimodal import decode_audio_features

        df = spark.createDataFrame(
            [(1, bytearray(b"anything"))], "id bigint, payload binary"
        )
        [r] = decode_audio_features(df, embedding_dim=3).collect()
        assert len(r.embedding) == 3 and r.sample_rate in (16000, 24000, 32000)

    def test_media_meta_sniffs_wav_riff(self, spark):
        from simpl_schema_spark.multimodal import with_media_meta

        df = spark.createDataFrame(
            [(bytearray(self._wav_bytes(seconds=0.01)),)], "payload binary"
        )
        [r] = with_media_meta(df).select("media_meta.*").collect()
        assert r.magic == "riff" and r.media_type == "audio"


class TestRegisteredDomainSuffixes:
    def test_injected_suffix_set(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.text import url_registered_domain

        df = spark.createDataFrame(
            [
                ("https://www.foo.co.uk/x",),
                ("https://a.b.example.com/",),
                ("https://deep.pref.aichi.jp/",),
                ("https://co.uk/",),  # bare suffix: no registrable label
            ],
            "u string",
        )
        sfx = {"co.uk", "com.au", "pref.aichi.jp"}
        got = [
            r.d
            for r in df.select(
                url_registered_domain(F.col("u"), sfx).alias("d")
            ).collect()
        ]
        assert got == ["foo.co.uk", "example.com", "deep.pref.aichi.jp", ""]

    def test_default_unchanged(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.text import url_registered_domain

        df = spark.createDataFrame([("https://www.foo.co.uk/x",)], "u string")
        [r] = df.select(url_registered_domain(F.col("u")).alias("d")).collect()
        assert r.d == "co.uk"  # documented PSL-free approximation


class TestVariantSparkRules:
    """@spark_rule validators on object-/oneOf-typed keys in JSON and
    modifier modes — previously NotImplementedError guards; now the rule
    receives the value as a VARIANT column and extracts fields itself
    (reference runs custom validators uniformly, validateField.ts:192-226)."""

    def test_json_object_typed_key(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.compiler.compile import spark_rule
        from simpl_schema_spark.jsondoc import validate_json_column
        from simpl_schema_spark.schema import SimpleSchema

        @spark_rule
        def count_cap(value, ctx):
            return F.when(
                F.try_variant_get(value, "$.count", "bigint") > 5,
                F.lit("countTooBig"),
            )

        ss = SimpleSchema(
            {
                "meta": {"type": dict, "optional": True, "custom": count_cap},
                "meta.count": {"type": int, "optional": True},
            }
        )
        df = spark.createDataFrame(
            [(0, '{"meta": {"count": 9}}'), (1, '{"meta": {"count": 2}}'),
             (2, "{}")],
            "doc_id bigint, json_blob string",
        )
        got = sorted(
            (r.doc_id, r.name, r.type)
            for r in validate_json_column(df, ss).collect()
        )
        assert got == [(0, "meta", "countTooBig")]

    def test_json_oneof_scalar_key(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.compiler.compile import spark_rule
        from simpl_schema_spark.jsondoc import validate_json_column
        from simpl_schema_spark.schema import SimpleSchema

        @spark_rule
        def never_13(value, ctx):
            # value is a variant: numeric 13 or string "13" both rejected
            return F.when(
                F.try_variant_get(value, "$", "string") == "13",
                F.lit("unlucky"),
            )

        # oneOf props (incl. custom) attach PER ALTERNATIVE — key-level
        # props next to a group type are ignored, as in the reference
        # (standardizeDefinition, SimpleSchema.ts:1170-1196)
        ss = SimpleSchema(
            {
                "v": {
                    "type": SimpleSchema.oneOf(
                        {"type": str, "custom": never_13},
                        {"type": int, "custom": never_13},
                    ),
                    "optional": True,
                },
            }
        )
        df = spark.createDataFrame(
            [(0, '{"v": 13}'), (1, '{"v": "13"}'), (2, '{"v": 7}')],
            "doc_id bigint, json_blob string",
        )
        got = sorted(
            (r.doc_id, r.name, r.type)
            for r in validate_json_column(df, ss).collect()
        )
        # no alternative passes, so the LAST one's error is reported
        # (validateField.ts:253-255), as for typed tables: the string "13"
        # fails the Integer alternative's type check
        assert got == [(0, "v", "unlucky"), (1, "v", "expectedType")]

    def test_modifier_object_typed_key(self, spark):
        from pyspark.sql import functions as F
        from simpl_schema_spark.compiler.compile import spark_rule
        from simpl_schema_spark.modifiers import validate_modifier_table
        from simpl_schema_spark.schema import SimpleSchema

        @spark_rule
        def count_cap(value, ctx):
            return F.when(
                F.try_variant_get(value, "$.count", "bigint") > 5,
                F.lit("countTooBig"),
            )

        ss = SimpleSchema(
            {
                "meta": {
                    "type": dict, "optional": True, "blackbox": True,
                    "custom": count_cap,
                },
            }
        )
        df = spark.createDataFrame(
            [
                (1, "$set", "meta", '{"count": 9}', False),
                (2, "$set", "meta", '{"count": 1}', False),
            ],
            "doc_id bigint, op string, key_path string, value string, "
            "upsert boolean",
        )
        got = sorted(
            (r.doc_id, r.name, r.type)
            for r in validate_modifier_table(df, ss).collect()
        )
        assert got == [(1, "meta", "countTooBig")]


class TestDepth3NestedPaths:
    """Python validators and autoValues under THREE nested array levels —
    the reference recurses arbitrarily (validateField.ts:293-306,
    getPositionsForAutoValue.ts:43-148); rounds 1-3 special-cased depths
    1-2 and guarded deeper keys with NotImplementedError."""

    def test_python_validator_depth3(self, spark):
        from tests.helpers import expect_errors, expect_valid
        from simpl_schema_spark.schema import SimpleSchema

        def no_zz(v):
            return "noZZ" if v == "zz" else None

        ss = SimpleSchema(
            {
                "orgs": {"type": SimpleSchema.Array, "optional": True},
                "orgs.$": {"type": dict},
                "orgs.$.teams": {"type": SimpleSchema.Array},
                "orgs.$.teams.$": {"type": dict},
                "orgs.$.teams.$.tags": {"type": SimpleSchema.Array},
                "orgs.$.teams.$.tags.$": {"type": str, "custom": no_zz},
            }
        )
        ddl = "orgs array<struct<teams array<struct<tags array<string>>>>>"
        expect_errors(
            spark, ss, ddl,
            {
                "orgs": [
                    {"teams": [{"tags": ["ok", "zz"]}, {"tags": ["zz"]}]},
                    {"teams": [{"tags": ["fine"]}]},
                ]
            },
            [
                ("orgs.0.teams.0.tags.1", "noZZ"),
                ("orgs.0.teams.1.tags.0", "noZZ"),
            ],
        )
        expect_valid(
            spark, ss, ddl, {"orgs": [{"teams": [{"tags": ["a"]}]}]}
        )
        # null AND empty top-level arrays: both shapes segfault pyspark's
        # Arrow input conversion without the arrowsafe [null] substitution
        expect_valid(spark, ss, ddl, {"orgs": None})
        expect_valid(spark, ss, ddl, {"orgs": []})

    def test_python_validator_depth3_with_context(self, spark):
        from tests.helpers import expect_errors
        from simpl_schema_spark.schema import SimpleSchema

        def below_cap(v, ctx):
            cap = ctx.field("cap")
            if v is not None and cap is not None and v > cap:
                return "overCap"
            return None

        ss = SimpleSchema(
            {
                "cap": int,
                "cube": {"type": SimpleSchema.Array, "optional": True},
                "cube.$": {"type": SimpleSchema.Array},
                "cube.$.$": {"type": SimpleSchema.Array},
                "cube.$.$.$": {"type": int, "custom": below_cap},
            }
        )
        ddl = "cap bigint, cube array<array<array<bigint>>>"
        expect_errors(
            spark, ss, ddl,
            {"cap": 5, "cube": [[[1, 9], [2]], [[8]]]},
            [("cube.0.0.1", "overCap"), ("cube.1.0.0", "overCap")],
        )

    def test_python_auto_value_depth3(self, spark):
        from simpl_schema_spark.cleaning import clean
        from simpl_schema_spark.schema import SimpleSchema

        def clamp(ctx):
            if ctx.value is not None and ctx.value > 10:
                return 10
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "orgs": {"type": SimpleSchema.Array, "optional": True},
                "orgs.$": {"type": dict},
                "orgs.$.teams": {"type": SimpleSchema.Array},
                "orgs.$.teams.$": {"type": dict},
                "orgs.$.teams.$.scores": {"type": SimpleSchema.Array},
                "orgs.$.teams.$.scores.$": {"type": int, "autoValue": clamp},
            }
        )
        df = spark.createDataFrame(
            [([{"teams": [{"scores": [5, 99]}, {"scores": [12]}]},
               {"teams": [{"scores": [3]}]}],)],
            "orgs array<struct<teams array<struct<scores array<bigint>>>>>",
        )
        out = clean(df, ss).collect()[0].orgs
        assert [
            [list(t.scores) for t in o.teams] for o in out
        ] == [[[5, 10], [10]], [[3]]]

    def test_spark_auto_value_depth3(self, spark):
        from simpl_schema_spark.cleaning import clean, spark_auto_value
        from simpl_schema_spark.schema import SimpleSchema

        @spark_auto_value
        def double_it(ctx):
            return ctx.value * 2

        ss = SimpleSchema(
            {
                "cube": {"type": SimpleSchema.Array, "optional": True},
                "cube.$": {"type": SimpleSchema.Array},
                "cube.$.$": {"type": SimpleSchema.Array},
                "cube.$.$.$": {"type": int, "autoValue": double_it},
            }
        )
        df = spark.createDataFrame(
            [([[[1, 2], [3]], [[4]]],)], "cube array<array<array<bigint>>>"
        )
        out = clean(df, ss).collect()[0].cube
        assert [[list(i) for i in m] for m in out] == [[[2, 4], [6]], [[8]]]

    def test_null_inner_arrays_depth3(self, spark):
        from simpl_schema_spark.cleaning import clean
        from simpl_schema_spark.schema import SimpleSchema

        def bang(ctx):
            if ctx.value is None:
                return ctx.UNCHANGED
            return ctx.value + "!"

        ss = SimpleSchema(
            {
                "orgs": {"type": SimpleSchema.Array, "optional": True},
                "orgs.$": {"type": dict},
                "orgs.$.teams": {
                    "type": SimpleSchema.Array, "optional": True
                },
                "orgs.$.teams.$": {"type": dict},
                "orgs.$.teams.$.tags": {
                    "type": SimpleSchema.Array, "optional": True
                },
                "orgs.$.teams.$.tags.$": {"type": str, "autoValue": bang},
            }
        )
        df = spark.createDataFrame(
            [([{"teams": None}, {"teams": [{"tags": None},
                                           {"tags": ["a"]}]}],)],
            "orgs array<struct<teams array<struct<tags array<string>>>>>",
        )
        out = clean(df, ss).collect()[0].orgs
        assert out[0].teams is None
        assert out[1].teams[0].tags is None
        assert list(out[1].teams[1].tags) == ["a!"]


class TestModifierArrayAutoValues:
    """Positional autoValues in MODIFIER mode — ported from the reference's
    test/clean/autoValue.tests.ts array cases ('array of objects
    autoValues', 'objects in arrays', 'updates existing objects when deeply
    nested (modifier)'); reference getPositionsForAutoValue.ts:43-148."""

    MOD_DDL = (
        "doc_id bigint, op string, key_path string, value string, "
        "upsert boolean"
    )

    def _clean(self, spark, ss, rows):
        from simpl_schema_spark.modifiers import clean_modifier_table

        df = spark.createDataFrame(rows, self.MOD_DDL)
        return {
            (r.doc_id, r.op, r.key_path): r.value
            for r in clean_modifier_table(df, ss).collect()
        }

    def _array_of_objects_schema(self):
        from simpl_schema_spark.schema import SimpleSchema

        def bar(ctx):
            return "bar"

        return SimpleSchema(
            {
                "avArrayOfObjects": {
                    "type": SimpleSchema.Array, "optional": True
                },
                "avArrayOfObjects.$": {"type": dict},
                "avArrayOfObjects.$.a": {"type": str},
                "avArrayOfObjects.$.foo": {"type": str, "autoValue": bar},
            }
        )

    def test_push_item_gets_autovalue_field(self, spark):
        import json

        got = self._clean(
            spark,
            self._array_of_objects_schema(),
            [(1, "$push", "avArrayOfObjects", '{"a": "b"}', False)],
        )
        val = json.loads(got[(1, "$push", "avArrayOfObjects")])
        assert val == {"a": "b", "foo": "bar"}

    def test_set_whole_array_each_element(self, spark):
        import json

        got = self._clean(
            spark,
            self._array_of_objects_schema(),
            [(1, "$set", "avArrayOfObjects",
              '[{"a": "b"}, {"a": "c"}]', False)],
        )
        val = json.loads(got[(1, "$set", "avArrayOfObjects")])
        assert val == [{"a": "b", "foo": "bar"}, {"a": "c", "foo": "bar"}]

    def test_positional_set_key_overridden(self, spark):
        # reference 'objects in arrays': $set {'children.$.value': x} with
        # an autoValue on children.$.value replaces the value in place
        from simpl_schema_spark.schema import SimpleSchema

        def override(ctx):
            assert ctx.is_set
            assert ctx.operator == "$set"
            return "autoValue"

        ss = SimpleSchema(
            {
                "children": {"type": SimpleSchema.Array, "optional": True},
                "children.$": {"type": dict},
                "children.$.value": {"type": str, "autoValue": override},
            }
        )
        got = self._clean(
            spark,
            ss,
            [(1, "$set", "children.$.value", '"will be overridden"', False)],
        )
        assert got[(1, "$set", "children.$.value")] == '"autoValue"'

    def test_push_each_items(self, spark):
        import json
        from simpl_schema_spark.schema import SimpleSchema

        def lower(ctx):
            if ctx.value is not None:
                return ctx.value.lower()
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "autoValue": lower},
            }
        )
        got = self._clean(
            spark,
            ss,
            [(1, "$push", "tags", '{"$each": ["FOO", "BAR"]}', False)],
        )
        val = json.loads(got[(1, "$push", "tags")])
        assert val == {"$each": ["foo", "bar"]}

    def test_deeply_nested_push_default(self, spark):
        # reference 'updates existing objects when deeply nested
        # (modifier)': integer filled in inside the pushed item
        import json
        from simpl_schema_spark.schema import SimpleSchema

        def five(ctx):
            if ctx.value is None:
                return 5
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "nested": {"type": SimpleSchema.Array, "optional": True},
                "nested.$": {"type": dict},
                "nested.$.doubleNested": {"type": dict},
                "nested.$.doubleNested.integer": {
                    "type": int, "autoValue": five
                },
            }
        )
        got = self._clean(
            spark,
            ss,
            [(1, "$push", "nested", '{"doubleNested": {}}', False)],
        )
        val = json.loads(got[(1, "$push", "nested")])
        assert val == {"doubleNested": {"integer": 5}}

    def test_concrete_index_key(self, spark):
        from simpl_schema_spark.schema import SimpleSchema

        def bang(ctx):
            if ctx.value is not None:
                return ctx.value + "!"
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "tags": {"type": SimpleSchema.Array, "optional": True},
                "tags.$": {"type": str, "autoValue": bang},
            }
        )
        got = self._clean(
            spark, ss, [(1, "$set", "tags.0", '"hi"', False)]
        )
        assert got[(1, "$set", "tags.0")] == '"hi!"'

    def test_pseudo_modifier_each_return(self, spark):
        # reference '$each in autoValue pseudo modifier': a $set of the
        # whole array converts to $push {$each: [...]}
        import json
        from simpl_schema_spark.schema import SimpleSchema

        def pseudo_each(ctx):
            if ctx.is_set and ctx.operator == "$set":
                return {"$push": {"$each": ctx.value}}
            return ctx.UNCHANGED

        ss = SimpleSchema(
            {
                "pseudoEach": {
                    "type": SimpleSchema.Array, "optional": True,
                    "autoValue": pseudo_each,
                },
                "pseudoEach.$": {"type": str},
            }
        )
        got = self._clean(
            spark, ss, [(1, "$set", "pseudoEach", '["foo", "bar"]', False)]
        )
        assert (1, "$set", "pseudoEach") not in got
        assert json.loads(got[(1, "$push", "pseudoEach")]) == {
            "$each": ["foo", "bar"]
        }

    def test_operator_correct_for_pull(self, spark):
        # reference 'operator correct for $pull': the autoValue ctx sees
        # $pull as the operator and an unset value
        from simpl_schema_spark.schema import SimpleSchema

        def watch(ctx):
            # encode the observation in the OUTPUT (the fn runs in a
            # Python worker — driver-side side channels don't survive)
            if ctx.operator == "$pull" and not ctx.is_set:
                return ctx.UNCHANGED
            return "WRONG_CONTEXT"

        ss = SimpleSchema(
            {
                "foo": {
                    "type": SimpleSchema.Array, "optional": True,
                    "autoValue": watch,
                },
                "foo.$": {"type": str},
            }
        )
        got = self._clean(
            spark, ss, [(1, "$pull", "foo", '"bar"', False)]
        )
        assert (1, "$pull", "foo") in got
        assert not any(v == '"WRONG_CONTEXT"' for v in got.values())

    def test_untouched_entries_pass_through(self, spark):
        got = self._clean(
            spark,
            self._array_of_objects_schema(),
            [(1, "$set", "avArrayOfObjects.0.a", '"x"', False)],
        )
        # the sibling-leaf entry passes through untouched...
        assert got[(1, "$set", "avArrayOfObjects.0.a")] == '"x"'
        # ...and the autoValue still runs ONCE against the synthesized
        # would-be position.  Reference trace: positions for
        # 'avArrayOfObjects.$.foo' are empty (the $set leaf diverges at
        # 'a'), the parent path 'avArrayOfObjects.$' ends in '.$' so no
        # creating-position branch applies, and the final would-be block
        # (getPositionsForAutoValue.ts:135-147) pushes
        # $set[avArrayOfObjects.$.foo]; the plain return lands at that
        # position verbatim (AutoValueRunner.ts:146), keeping the
        # generic '$' in the emitted key.
        assert got[(1, "$set", "avArrayOfObjects.$.foo")] == '"bar"'

    def test_unrelated_update_runs_fn_once_unset(self, spark):
        # the ADVICE no-entry case: an items.$.updatedAt-style autoValue
        # fires on an update that never mentions the array at all
        from simpl_schema_spark.schema import SimpleSchema

        def stamp(ctx):
            if ctx.is_set:
                return ctx.UNCHANGED
            return "STAMPED"

        ss = SimpleSchema(
            {
                "name": {"type": str, "optional": True},
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": {"type": dict},
                "items.$.updatedAt": {
                    "type": str, "optional": True, "autoValue": stamp,
                },
            }
        )
        got = self._clean(spark, ss, [(1, "$set", "name", '"x"', False)])
        assert got[(1, "$set", "name")] == '"x"'
        assert got[(1, "$set", "items.$.updatedAt")] == '"STAMPED"'

    def test_would_be_position_skipped_for_upserts(self, spark):
        # getPositionsForAutoValue.ts:137 gates the would-be on
        # isUpsert !== true
        got = self._clean(
            spark,
            self._array_of_objects_schema(),
            [(1, "$set", "avArrayOfObjects.0.a", '"x"', True)],
        )
        assert got[(1, "$set", "avArrayOfObjects.0.a")] == '"x"'
        assert (1, "$set", "avArrayOfObjects.$.foo") not in got

    def test_would_be_position_suppressed_by_matching_entry(self, spark):
        # a whole-array $set reaches the subtree, so the positional runs
        # replace the would-be — no extra generic entry appears
        got = self._clean(
            spark,
            self._array_of_objects_schema(),
            [(1, "$set", "avArrayOfObjects", '[{"a": "b"}]', False)],
        )
        assert got[(1, "$set", "avArrayOfObjects")] == (
            '[{"a": "b", "foo": "bar"}]'
        )
        assert (1, "$set", "avArrayOfObjects.$.foo") not in got

    def test_would_be_unchanged_returns_no_entry(self, spark):
        # fn returning UNCHANGED at the would-be position adds nothing
        from simpl_schema_spark.schema import SimpleSchema

        def only_when_set(ctx):
            if not ctx.is_set:
                return ctx.UNCHANGED
            return "SEEN"

        ss = SimpleSchema(
            {
                "name": {"type": str, "optional": True},
                "items": {"type": SimpleSchema.Array, "optional": True},
                "items.$": {"type": dict},
                "items.$.flag": {
                    "type": str, "optional": True,
                    "autoValue": only_when_set,
                },
            }
        )
        got = self._clean(spark, ss, [(1, "$set", "name", '"x"', False)])
        assert got == {(1, "$set", "name"): '"x"'}


class TestPseudoModifierDatetime:
    def test_setOnInsert_datetime_extended_json(self, spark):
        # reference canonical createdAt pattern (AutoValueRunner.ts:112-142):
        # fn returns {"$setOnInsert": new Date()} — must encode via the
        # extended-JSON path, not raw json.dumps (TypeError)
        from simpl_schema_spark.modifiers import clean_modifier_table
        from simpl_schema_spark.schema import SimpleSchema

        stamp = datetime.datetime(2024, 3, 1, 12, 0, 0)

        def created_at(ctx):
            if ctx.is_set:
                return ctx.UNCHANGED
            return {"$setOnInsert": stamp}

        ss = SimpleSchema(
            {
                "name": {"type": str},
                "createdAt": {
                    "type": datetime.datetime,
                    "optional": True,
                    "autoValue": created_at,
                },
            }
        )
        df = spark.createDataFrame(
            [(1, "$set", "name", '"x"', True)],
            "doc_id bigint, op string, key_path string, value string, "
            "upsert boolean",
        )
        rows = {
            (r.op, r.key_path): r.value
            for r in clean_modifier_table(df, ss).collect()
        }
        assert ("$setOnInsert", "createdAt") in rows
        import json as _json

        val = _json.loads(rows[("$setOnInsert", "createdAt")])
        assert val == {"$date": stamp.isoformat()}
