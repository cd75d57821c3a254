"""Training-data pipeline operators: dedup family, text analysis, ANN."""

import pytest

from pyspark.sql import functions as F

from simpl_schema_spark.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
)
from simpl_schema_spark.sim import (
    cosine,
    cosine_topk_bruteforce,
    embedding_near_duplicates,
)
from simpl_schema_spark.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from simpl_schema_spark.multimodal import (
    decode_image_features,
    sample_video_frames,
    with_media_meta,
)

SF_DIR = "/root/testdata/sf0.001"

DOC = (
    "the quick brown fox jumps over the lazy dog and it is a fine day "
    "for running in the park with friends"
)
DOC_NEAR = DOC.replace("fine day", "great day")
DOC_OTHER = "completely different content about database query engines and columnar execution"


@pytest.fixture(scope="module")
def docs3(spark):
    return spark.createDataFrame(
        [
            (1, DOC),
            (2, DOC),          # exact dup of 1
            (3, DOC_NEAR),     # near dup of 1
            (4, DOC_OTHER),
            (5, None),
        ],
        "doc_id bigint, text string",
    )


class TestExactDedup:
    def test_groups(self, spark, docs3):
        groups = exact_duplicate_groups(docs3).collect()
        assert len(groups) == 1
        assert groups[0].doc_ids == [1, 2]

    def test_normalization_catches_case_and_punct(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, World!"), (2, "hello world"), (3, "HELLO  world.")],
            "doc_id bigint, text string",
        )
        groups = exact_duplicate_groups(df).collect()
        assert len(groups) == 1 and groups[0].doc_ids == [1, 2, 3]

    def test_dedup_keeps_lowest_id_and_nulls(self, spark, docs3):
        kept = sorted(r.doc_id for r in dedup_exact(docs3).collect())
        assert kept == [1, 3, 4, 5]

    def test_bounded_groups_cap_degenerate_group(self, spark):
        # one boilerplate page duplicated far beyond the cap: output row
        # stays bounded (cap smallest ids) while n_docs is the exact count
        n, cap = 5000, 8
        rows = [(i, DOC) for i in range(n)] + [(n, DOC_OTHER), (n + 1, DOC_OTHER)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(16)
        groups = {
            r.n_docs: r.doc_ids
            for r in exact_duplicate_groups(df, max_group_ids=cap).collect()
        }
        assert groups[n] == list(range(cap))
        assert groups[2] == [n, n + 1]

    def test_bounded_groups_match_unbounded_when_under_cap(self, spark, docs3):
        bounded = exact_duplicate_groups(docs3, max_group_ids=100).collect()
        assert len(bounded) == 1 and bounded[0].doc_ids == [1, 2]
        assert bounded[0].n_docs == 2


class TestMinHash:
    def test_near_dups_found(self, spark, docs3):
        pairs = minhash_near_duplicates(docs3, threshold=0.5).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 3) in got and (2, 3) in got and (1, 2) in got
        assert not any(4 in p for p in got)

    def test_exact_dup_estimate_is_one(self, spark, docs3):
        pairs = {
            (r.id_a, r.id_b): r.jaccard_est
            for r in minhash_near_duplicates(docs3, threshold=0.5).collect()
        }
        assert pairs[(1, 2)] == 1.0


class TestSimHash:
    def test_identical_same_hash(self, spark, docs3):
        rows = docs3.where(F.col("text").isNotNull()).select(
            "doc_id", simhash(F.col("text")).alias("sh")
        ).collect()
        by_id = {r.doc_id: r.sh for r in rows}
        assert by_id[1] == by_id[2]
        assert by_id[1] != by_id[4]

    def test_near_dup_pairs(self, spark, docs3):
        pairs = simhash_near_duplicates(docs3, max_hamming=6).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 2) in got
        assert not any(4 in p or 5 in p for p in got)


class TestNgramJaccard:
    def test_pairs(self, spark, docs3):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs3, threshold=0.4).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
        assert not any(4 in p for p in pairs)


class TestTextAnalysis:
    def test_token_count(self, spark):
        df = spark.createDataFrame(
            [("a b  c",), ("",), ("   ",), (None,)], "t string"
        )
        out = df.select(token_count(F.col("t")).alias("n")).collect()
        assert [r.n for r in out] == [3, 0, 0, None]

    def test_bpe_ish_counts_more_than_words(self, spark):
        df = spark.createDataFrame([("don't stop, it's 2024!",)], "t string")
        r = df.select(
            token_count(F.col("t")).alias("w"),
            bpe_ish_token_count(F.col("t")).alias("b"),
        ).collect()[0]
        assert r.b > r.w

    def test_quality_score_ordering(self, spark):
        df = spark.createDataFrame(
            [
                ("good", DOC * 3),
                ("junk", "@@@@ ###### !!!! $$$$$ %%%%"),
                ("short", "hi"),
            ],
            "k string, t string",
        )
        scores = {r.k: r.q for r in df.select("k", quality_score(F.col("t")).alias("q")).collect()}
        assert scores["good"] > scores["junk"]
        assert scores["good"] > scores["short"]
        assert all(0.0 <= s <= 1.0 for s in scores.values())

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                ("en", "the cat and the dog went to the park and it is fine"),
                ("de", "der hund und die katze sind nicht zu hause mit der maus"),
                ("fr", "le chat et le chien sont dans la maison et il est pas la"),
                ("es", "el perro y el gato no es una casa de los amigos"),
                ("zh", "数据库查询引擎的列式执行非常快速高效"),
                ("und", "zzz qqq xxx"),
            ],
            "expected string, t string",
        )
        rows = df.select("expected", lang_id(F.col("t")).alias("got")).collect()
        for r in rows:
            assert r.got == r.expected, f"{r.expected}: got {r.got}"

    def test_fingerprint_stable(self, spark):
        df = spark.createDataFrame([("Hello, World!",), ("hello world",)], "t string")
        fps = [r.fp for r in df.select(fingerprint(F.col("t")).alias("fp")).collect()]
        assert fps[0] == fps[1]


class TestANN:
    @pytest.fixture(scope="class")
    def embeddings(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()

    def test_bruteforce_topk_self_query(self, spark, embeddings):
        queries = embeddings.limit(3)
        out = cosine_topk_bruteforce(
            embeddings, queries, k=5, exclude_self=False
        )
        rows = out.where(F.col("rank") == 1).collect()
        # rank-1 neighbor of a vector (self included) is itself with score ~1
        for r in rows:
            assert r.query_id == r.neighbor_id
            assert r.score == pytest.approx(1.0, abs=1e-5)

    def test_topk_matches_duckdb_oracle(self, spark, embeddings):
        import duckdb

        out = cosine_topk_bruteforce(
            embeddings, embeddings.where(F.col("vec_id") == 0), k=3
        ).collect()
        got = [(r.neighbor_id, round(r.score, 6)) for r in sorted(out, key=lambda r: r.rank)]
        want = duckdb.sql(
            f"""
            with q as (select embedding from '{SF_DIR}/embeddings.parquet' where vec_id = 0)
            select vec_id, round(list_cosine_similarity(e.embedding, q.embedding), 6) s
            from '{SF_DIR}/embeddings.parquet' e, q
            where e.vec_id != 0
            order by s desc, vec_id limit 3
            """
        ).fetchall()
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-5)

    def test_lsh_near_dups_find_duplicated_vectors(self, spark, embeddings):
        dim = len(embeddings.first().embedding)
        dup = embeddings.limit(5).withColumn("vec_id", F.col("vec_id") + 100000)
        with_dups = embeddings.unionByName(dup)
        pairs = embedding_near_duplicates(
            with_dups, dim=dim, threshold=0.999
        ).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        for i in range(5):
            assert (i, i + 100000) in got


class TestMultimodal:
    def test_media_meta_sniffing(self, spark):
        df = spark.createDataFrame(
            [
                (1, bytearray(b"\x89PNG\r\n\x1a\n" + b"x" * 10)),
                (2, bytearray(b"\xff\xd8\xff\xe0" + b"y" * 10)),
                (3, bytearray(b"\x1aE\xdf\xa3" + b"z" * 10)),
            ],
            "id bigint, payload binary",
        )
        out = {r.id: r.media_meta for r in with_media_meta(df).collect()}
        assert out[1].magic == "png" and out[1].media_type == "image"
        assert out[2].magic == "jpeg"
        assert out[3].magic == "webm" and out[3].media_type == "video"
        assert out[1].byte_size == 18

    def test_image_feature_stub_shape(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNG" + b"a" * 100)), (2, bytearray(b"\xff\xd8\xff" + b"b" * 50))],
            "id bigint, payload binary",
        )
        out = decode_image_features(df, embedding_dim=4).collect()
        assert len(out) == 2
        for r in out:
            assert len(r.embedding) == 4
        # deterministic
        again = decode_image_features(df, embedding_dim=4).collect()
        assert sorted(map(str, out)) == sorted(map(str, again))

    def test_frame_sampling_stub(self, spark):
        df = spark.createDataFrame(
            [(7, bytearray(b"\x00\x00\x00\x18ftyp" + b"v" * 30))],
            "id bigint, payload binary",
        )
        out = sample_video_frames(df, n_frames=3).collect()
        assert [(r.id, r.frame_idx) for r in out] == [(7, 0), (7, 1), (7, 2)]


class TestBoundedBuckets:
    """Hot-bucket regression (round 2): a key duplicated far beyond the cap
    must be counted out BEFORE collect_list — the pipeline completes with
    bounded reducer state and the hot bucket contributes no candidates,
    while genuine near-dups elsewhere still surface."""

    def test_hot_bucket_excluded_but_real_dups_found(self, spark):
        hot = [(i, "boilerplate navigation menu copyright footer terms")
               for i in range(100, 400)]  # 300 identical docs, one hot bucket
        rows = [(1, DOC), (2, DOC), (3, DOC_NEAR)] + hot
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, max_shingle_df=50
        ).collect()
        ids = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 2) in ids and (1, 3) in ids
        # nothing from the hot cluster (every one of its shingles > cap)
        assert all(a < 100 and b < 100 for a, b in ids)

    def test_bounded_buckets_matches_naive(self, spark):
        from simpl_schema_spark.dedup.buckets import bounded_buckets

        df = spark.createDataFrame(
            [(k, i) for k in ("a", "b", "c") for i in range(ord(k) - 96)],
            "k string, v int",
        )
        got = {
            (r.k, tuple(sorted(r.ids)))
            for r in bounded_buckets(
                df, ["k"], F.col("v"), max_bucket_size=2, members_alias="ids"
            ).collect()
        }
        # a:1 member (dropped, < min 2), b:2 (kept), c:3 (dropped, > max 2)
        assert got == {("b", (0, 1))}

    def test_minhash_hot_bucket(self, spark):
        hot = [(i, "same page same page same page same page") for i in range(100, 300)]
        rows = [(1, DOC), (2, DOC)] + hot
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        pairs = minhash_near_duplicates(
            df, "doc_id", "text", threshold=0.9, max_bucket_size=50
        ).collect()
        ids = {(r.id_a, r.id_b) for r in pairs}
        assert ids == {(1, 2)}


class TestRealImageDecode:
    """Non-stub decode path: pillow when importable, else the vendored
    pure-Python PNG decoder (multimodal/minipng.py) — runs in CI either way."""

    @staticmethod
    def _png(width, height, rgb):
        from simpl_schema_spark.multimodal.minipng import encode_png

        row = bytes(rgb) * width
        return encode_png(width, height, [row] * height)

    def test_real_decode_png_vendored_or_pil(self, spark):
        from simpl_schema_spark.multimodal.media import decode_image_features

        png = self._png(13, 7, (200, 10, 10))
        df = spark.createDataFrame([(1, bytearray(png))],
                                   "id bigint, payload binary")
        row = decode_image_features(df, use_stub=False).collect()[0]
        assert (row.width, row.height) == (13, 7)
        assert len(row.embedding) == 8 and abs(sum(row.embedding) - 1.0) < 1e-6

    def test_real_decode_matches_pil_when_present(self, spark):
        from simpl_schema_spark.multimodal.media import pil_available

        if not pil_available():
            pytest.skip("pillow not installed in this environment")
        import io
        from PIL import Image
        from simpl_schema_spark.multimodal.minipng import luminance_histogram

        buf = io.BytesIO()
        Image.new("RGB", (5, 4), (10, 20, 30)).save(buf, format="PNG")
        w, h, hist = luminance_histogram(buf.getvalue())
        assert (w, h) == (5, 4)
        assert hist == Image.open(io.BytesIO(buf.getvalue())).convert("L").histogram()

    def test_real_decode_raises_cleanly_for_non_png_without_pil(self, spark):
        from simpl_schema_spark.multimodal.media import (
            decode_image_features,
            pil_available,
        )

        if pil_available():
            pytest.skip("pillow IS installed; fallback path not reachable")
        df = spark.createDataFrame(
            [(1, bytearray(b"\xff\xd8\xff\xe0fakejpeg"))],
            "id bigint, payload binary",
        )
        with pytest.raises(Exception) as exc:
            decode_image_features(df, use_stub=False).collect()
        assert "pillow" in str(exc.value) or "NotImplementedError" in str(exc.value)

    def test_minipng_roundtrip_and_filters(self, spark):
        import struct, zlib
        from simpl_schema_spark.multimodal.minipng import (
            decode_png,
            encode_png,
        )

        rows = [bytes((x % 256, (x * 2) % 256, (x * 3) % 256) [i % 3]
                      for i, x in enumerate(range(9)))
                for _ in range(2)]
        rows = [bytes(range(0, 12)), bytes(range(100, 112))]  # 4px RGB rows
        data = encode_png(4, 2, rows)
        w, h, out, nch = decode_png(data)
        assert (w, h, nch) == (4, 2, 3)
        assert out == rows

        # hand-craft Sub(1) + Up(2) filtered scanlines and verify unfiltering
        width, nchan = 3, 3
        row0 = bytes([10, 20, 30, 11, 21, 31, 12, 22, 32])
        row1 = bytes([13, 23, 33, 14, 24, 34, 15, 25, 35])
        sub = bytearray([1]) + bytearray(
            [row0[i] if i < nchan else (row0[i] - row0[i - nchan]) & 0xFF
             for i in range(len(row0))]
        )
        up = bytearray([2]) + bytearray(
            [(row1[i] - row0[i]) & 0xFF for i in range(len(row1))]
        )
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr_body = struct.pack(">IIBBBBB", width, 2, 8, 2, 0, 0, 0)

        def chunk(t, b):
            return (struct.pack(">I", len(b)) + t + b
                    + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

        data = (sig + chunk(b"IHDR", ihdr_body)
                + chunk(b"IDAT", zlib.compress(bytes(sub) + bytes(up)))
                + chunk(b"IEND", b""))
        w, h, out, nch = decode_png(data)
        assert out == [row0, row1]


class TestIVF:
    """IVF ANN: full probing ≡ brute force (exact); partial probing recall."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def test_full_probe_equals_bruteforce(self, spark, emb):
        from simpl_schema_spark.sim.ivf import ivf_topk, train_centroids

        cents = train_centroids(emb, n_centroids=8, sample_size=500)
        queries = emb.where(F.col("vec_id") < 3)
        ivf = ivf_topk(emb, queries, cents, k=5, nprobe=8)
        bf = cosine_topk_bruteforce(emb, queries, k=5)
        got = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf.collect())
        want = sorted((r.query_id, r.rank, r.neighbor_id) for r in bf.collect())
        assert got == want

    def test_partial_probe_recall(self, spark, emb):
        from simpl_schema_spark.sim.ivf import ivf_topk, train_centroids

        cents = train_centroids(emb, n_centroids=8, sample_size=500)
        queries = emb.where(F.col("vec_id") < 5)
        ivf = ivf_topk(emb, queries, cents, k=5, nprobe=3)
        bf = cosine_topk_bruteforce(emb, queries, k=5)
        got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        want = {(r.query_id, r.neighbor_id) for r in bf.collect()}
        recall = len(got & want) / len(want)
        assert recall >= 0.6, f"recall {recall}"

    def test_deterministic_centroids(self, spark, emb):
        from simpl_schema_spark.sim.ivf import train_centroids
        import numpy as np

        c1 = train_centroids(emb, n_centroids=4, sample_size=200)
        c2 = train_centroids(emb, n_centroids=4, sample_size=200)
        assert np.allclose(c1, c2)


class TestHyperplaneSignatureParity:
    def test_arrow_matches_expression(self, spark):
        from simpl_schema_spark.sim.ann import (
            hyperplane_signature_udf,
            random_hyperplane_signature,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(500)
        dim = len(emb.first().embedding)
        udf = hyperplane_signature_udf(dim)
        rows = emb.select(
            random_hyperplane_signature(F.col("embedding"), dim).alias("a"),
            udf(F.col("embedding")).alias("b"),
        ).collect()
        assert all(r.a == r.b for r in rows)


class TestMinhashSignatureParity:
    def test_arrow_matches_expression(self, spark):
        from simpl_schema_spark.dedup.minhash import (
            minhash_signature,
            minhash_signature_udf,
            shingles,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
        sh = docs.select(shingles(F.col("text")).alias("sh"))
        udf = minhash_signature_udf(64)
        rows = sh.select(
            minhash_signature(F.col("sh"), 64).alias("a"),
            udf(F.transform(F.col("sh"), lambda s: F.xxhash64(s))).alias("b"),
        ).collect()
        assert len(rows) == 100
        for r in rows:
            assert (r.a is None) == (r.b is None)
            if r.a is not None:
                assert list(r.a) == list(r.b)


class TestConnectedComponents:
    def test_chain_and_clique(self, spark):
        from simpl_schema_spark.dedup import connected_components

        # chain 1-2-3 (1,3 never paired directly) + clique 10-11-12 + pair 20-21
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
            "id_a bigint, id_b bigint",
        )
        for thresh in (0, 1_000_000):  # distributed AND driver-side paths
            got = {
                r.id: r.component
                for r in connected_components(
                    edges, small_graph_threshold=thresh
                ).collect()
            }
            assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
                           20: 20, 21: 20}

    def test_long_chain_converges(self, spark):
        from simpl_schema_spark.dedup import connected_components

        n = 24
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
        )
        # distributed path (threshold 0) must converge over the long chain
        got = connected_components(
            edges, max_iter=30, small_graph_threshold=0
        ).collect()
        assert all(r.component == 0 for r in got) and len(got) == n + 1
        # driver-side union-find agrees
        got2 = connected_components(edges, max_iter=30).collect()
        assert sorted((r.id, r.component) for r in got) == sorted(
            (r.id, r.component) for r in got2
        )

    def test_groups_from_pairs(self, spark):
        from simpl_schema_spark.dedup import dedup_groups_from_pairs

        edges = spark.createDataFrame(
            [(5, 9), (9, 7), (30, 31)], "id_a bigint, id_b bigint"
        )
        got = {
            r.component: (r.n_members, list(r.member_ids))
            for r in dedup_groups_from_pairs(edges).collect()
        }
        assert got == {5: (3, [5, 7, 9]), 30: (2, [30, 31])}

    def test_unconverged_raises(self, spark):
        from simpl_schema_spark.dedup import connected_components

        # 10-hop chain cannot converge in 2 hash-min iterations
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=2, small_graph_threshold=0)

    def test_byte_budget_forces_distributed_path(self, spark):
        """A graph under the ROW threshold but over the BYTE budget must
        fall through to the distributed hash-min loop (same labels), for
        fixed-width and string vertex keys alike."""
        from simpl_schema_spark.dedup import connected_components

        long_edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
        )
        got = {
            r.id: r.component
            for r in connected_components(
                long_edges, driver_byte_budget=1  # < one row's footprint
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

        str_edges = spark.createDataFrame(
            [("a.com", "b.com"), ("b.com", "c.com")],
            "id_a string, id_b string",
        )
        got = {
            r.id: r.component
            for r in connected_components(
                str_edges, driver_byte_budget=1
            ).collect()
        }
        assert got == {"a.com": "a.com", "b.com": "a.com", "c.com": "a.com"}

    def test_byte_budget_counts_bytes_of_string_ids(self, spark):
        """Non-ASCII URL ids take 3 bytes a character here: a budget the
        edges fit by character count but not by bytes must take the
        distributed path (its labels come back persisted)."""
        from simpl_schema_spark.dedup import connected_components

        ids = [f"https://{'記事' * 20}.jp/{i}" for i in range(4)]
        edges = spark.createDataFrame(
            list(zip(ids, ids[1:])), "id_a string, id_b string"
        )
        # 6 symmetrized rows of two 53-character, 133-byte ids, plus the
        # estimate's fixed 218 bytes a row: 1,944 bytes by characters,
        # 2,904 by bytes
        got = connected_components(edges, driver_byte_budget=2_000)
        try:
            assert got.is_cached
            assert {r.id: r.component for r in got.collect()} == {i: ids[0] for i in ids}
        finally:
            got.unpersist()


class TestIVFIndexIO:
    def test_write_read_prune_and_equivalence(self, spark, tmp_path):
        from simpl_schema_spark.sim import cosine_topk_bruteforce
        from simpl_schema_spark.sim.ivf import (
            ivf_topk,
            read_ivf_index,
            train_centroids,
            write_ivf_index,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = train_centroids(emb, n_centroids=8, sample_size=500)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, cents, path)

        indexed, cents2 = read_ivf_index(spark, path)
        assert (cents2 == cents).all()
        assert "cluster_id" in indexed.columns

        queries = emb.limit(3)
        # probe-limited search over the stored index prunes partitions
        probed = ivf_topk(emb, queries, cents2, k=3, nprobe=2, indexed=indexed)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "cluster_id" in plan
        rows = probed.collect()
        assert len(rows) > 0

        # full probing over the stored index == exact brute force
        full = ivf_topk(
            emb, queries, cents2, k=3, nprobe=8, indexed=indexed
        ).collect()
        bf = cosine_topk_bruteforce(emb, queries, k=3).collect()
        key = lambda r: (r.query_id, r.rank)
        assert sorted([(r.query_id, r.rank, r.neighbor_id) for r in full]) == \
               sorted([(r.query_id, r.rank, r.neighbor_id) for r in bf])
