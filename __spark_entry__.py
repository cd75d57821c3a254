"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation query on sf0.001;
``queries()``/``oracle_sql()`` pair each implemented operator from
SURVEY.md §2 (+ the training-data operators) with an ANSI-SQL oracle DuckDB
runs on the same parquet tables.  Every query is oracle-gated except
``embedding_near_dups`` (random-hyperplane LSH over xxhash64 seeds has no
DuckDB-reproducible hash; the md5-family minhash/simhash/winnow variants
cover the portable-dedup ground) — that one stays a rows-only check by
documented design (COVERAGE.md).
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

UTC = datetime.timezone.utc

# validation rules for the driver-provided documents table
# (doc_id bigint, text string, lang string, source string, n_chars bigint);
# thresholds chosen so each rule actually fires on the clean synthetic data
_ALLOWED_LANGS = ["en", "de", "fr", "es"]           # 'zh' rows → notAllowed
_SOURCE_RE = r"^src[0-9]$"                           # src10..19 → regEx
_TEXT_MIN = 100                                      # short docs → minString
_NCHARS_MAX = 400                                    # long docs → maxNumber


def _doc_schema():
    """The documents schema; the compile cache keys on its content."""
    from simpl_schema_spark.schema import SimpleSchema

    return SimpleSchema(
        {
            "doc_id": {"type": int, "min": 0},
            "text": {"type": str, "min": _TEXT_MIN},
            "lang": {"type": str, "allowedValues": _ALLOWED_LANGS},
            "source": {"type": str, "regEx": re.compile(_SOURCE_RE)},
            "n_chars": {"type": int, "min": 0, "max": _NCHARS_MAX},
        }
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across the cluster: the sf* inputs are single small
    parquet files (one scan partition), which would serialize CPU-heavy
    per-row operators (minhash/simhash signatures) onto one core. A 100 TB
    table has thousands of splits; emulate that with an explicit
    repartition — tiny shuffle, full parallelism."""
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ copies of doc_id<20 shifted by +10000 — deterministic
    duplicate injection so dedup queries have non-trivial output."""
    d = _docs_par(spark, sf_dir)
    dup = d.where(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return d.unionByName(dup)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full constraint suite → violations table (V1-V7, V12/V14)."""
    from simpl_schema_spark.validation import violations_table

    return violations_table(
        _docs(spark, sf_dir), _doc_schema(), id_cols=["doc_id"]
    ).select("doc_id", "name", "type", "value")


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column stats profile (§2.6) — null counts, min/max."""
    from simpl_schema_spark.checks import column_profile

    return column_profile(_docs(spark, sf_dir)).select(
        "column", "n_rows", "null_count", "min_value", "max_value"
    )


def q_duplicate_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness check (§2.6): keys with >1 row, salted two-stage agg."""
    from simpl_schema_spark.checks import duplicate_keys

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return duplicate_keys(li, ["l_orderkey"], salt_buckets=8).select(
        "l_orderkey", "dup_count"
    )


def q_referential_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity (§2.6): events.user_id → customer subset."""
    from simpl_schema_spark.checks import referential_violations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where(F.col("c_custkey") < 100)
        .select("c_custkey")
    )
    bad = referential_violations(ev, dim, "user_id", "c_custkey")
    return bad.select("event_id", "user_id")


def q_lang_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared categorical drift (§2.6): src0 slice vs full corpus."""
    from simpl_schema_spark.checks import categorical_counts, categorical_drift

    d = _docs(spark, sf_dir)
    base = categorical_counts(d, "lang")
    cur = d.where(F.col("source") == "src0")
    return categorical_drift(cur, base, "lang").select(
        F.round("statistic", 4).alias("statistic"),
        "dof",
        "n_current",
    )


def q_lang_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift (§2.6 family): src1 slice vs full
    corpus — the production-standard drift score alongside chi²/KS."""
    from simpl_schema_spark.checks import (
        categorical_counts,
        categorical_drift_psi,
    )

    d = _docs(spark, sf_dir)
    base = categorical_counts(d, "lang")
    cur = d.where(F.col("source") == "src1")
    return categorical_drift_psi(cur, base, "lang").select(
        F.round("psi", 6).alias("psi"),
        "n_current",
        "n_categories",
    )


def q_nchars_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric PSI over FIXED bin edges (deterministic, SQL-reproducible,
    unlike approximate-percentile binning)."""
    from simpl_schema_spark.checks import numeric_drift_psi

    d = _docs(spark, sf_dir)
    cur = d.where(F.col("source") == "src2")
    return numeric_drift_psi(
        cur, d, "n_chars", bin_edges=[100.0, 200.0, 300.0, 400.0]
    ).select(
        F.round("psi", 6).alias("psi"), "n_current", "n_baseline"
    )


def q_ks_drift_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift (§2.6): src0 slice vs full corpus."""
    from simpl_schema_spark.checks import numeric_drift_ks_exact

    d = _docs(spark, sf_dir)
    cur = d.where(F.col("source") == "src0")
    return numeric_drift_ks_exact(cur, d, "n_chars").select(
        F.round("ks_statistic", 6).alias("ks_statistic")
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-content hash groups."""
    d = _docs_with_dups(spark, sf_dir)
    from simpl_schema_spark.text.analysis import normalized_text

    keyed = d.where(F.col("text").isNotNull()).select(
        F.col("doc_id"), F.md5(normalized_text(F.col("text"))).alias("fp")
    )
    return (
        keyed.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token counting."""
    from simpl_schema_spark.text import token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


def q_quality_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: quality-score integer components (exact-matchable)."""
    from simpl_schema_spark.text.analysis import word_tokens, _LANG_STOPWORDS

    d = _docs(spark, sf_dir)
    toks = word_tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in _LANG_STOPWORDS["en"]])
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_text"),
        F.length(F.regexp_replace(F.col("text"), "[^\\p{L} ]", ""))
        .cast("long")
        .alias("alpha_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
        .cast("long")
        .alias("n_stopwords"),
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: exact cosine top-3 for the first 5 vectors."""
    from simpl_schema_spark.sim import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    return cosine_topk_bruteforce(emb, queries, k=3).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with FULL probing — must equal brute-force top-k exactly
    (the approximation knob nprobe<k_centroids is pytest-gated on recall)."""
    from simpl_schema_spark.sim import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids(emb, n_centroids=8, sample_size=2000)
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, cents, k=3, nprobe=8).select(
        "query_id", "neighbor_id", "rank"
    )


def q_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean() pipeline (C1-C4) over dirtied documents: trim + empty-string
    removal + autoConvert stay byte-faithful."""
    from simpl_schema_spark.cleaning import clean
    from simpl_schema_spark.schema import SimpleSchema

    d = _docs(spark, sf_dir).select(
        "doc_id",
        # deterministic dirt: pad every 7th doc's text, blank every 13th lang
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("  "), F.col("text"), F.lit("\t")))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 13 == 0, F.lit("")).otherwise(F.col("lang")).alias("lang"),
    )
    ss = SimpleSchema(
        {
            "doc_id": {"type": int, "optional": True},
            "text": {"type": str, "optional": True},
            "lang": {"type": str, "optional": True},
        }
    )
    return clean(d, ss).select("doc_id", "text", "lang")


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — run with the engine-portable md5
    multiply-add permutation family so the DuckDB oracle replays the
    WHOLE pipeline (shingle → signature → band buckets → verified pairs)
    bit-for-bit.  Production default stays xxhash64 (cheaper)."""
    from simpl_schema_spark.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _docs_with_dups(spark, sf_dir), threshold=0.7, hash_family="md5"
    ).orderBy("id_a", "id_b")


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — portable md5 token hash so the DuckDB
    oracle replays fingerprints, chunk buckets, and verified pairs
    bit-for-bit (SimHash itself is pure integer arithmetic).  Production
    default stays xxhash64."""
    from simpl_schema_spark.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        _docs_with_dups(spark, sf_dir), max_hamming=3, hash_family="md5"
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs; exact Jaccard — oracle-checkable on
    the injected exact dups."""
    from simpl_schema_spark.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.999, max_shingle_df=50
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: iterative hash-min connected components over the
    exact-Jaccard pair edges (dedup/components.py).  On the dup-seeded
    corpus the threshold keeps only exact-duplicate edges, so components
    must equal the normalized-content groups — an SQL-derivable ground
    truth for an iterative graph algorithm."""
    from simpl_schema_spark.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(
        _docs_with_dups(spark, sf_dir), threshold=0.999, max_shingle_df=50
    )
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (rows-only; scoring is engine-defined)."""
    from simpl_schema_spark.text import lang_id

    d = _docs_par(spark, sf_dir)
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane LSH (rows-only)."""
    from simpl_schema_spark.sim import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    dup = emb.where(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return embedding_near_duplicates(
        emb.unionByName(dup), dim=dim, threshold=0.999
    ).select("id_a", "id_b")


def q_validate_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-modifier semantics (§2.4): $set value checks, $inc bounds
    exemption, $unset required — over a modifier table derived
    deterministically from documents."""
    from simpl_schema_spark.modifiers import validate_modifier_table

    d = _docs(spark, sf_dir)
    mods = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("$set").alias("op"),
                    F.lit("lang").alias("key_path"),
                    F.concat(F.lit('"'), F.col("lang"), F.lit('"')).alias("value"),
                ),
                F.struct(
                    F.lit("$set").alias("op"),
                    F.lit("n_chars").alias("key_path"),
                    F.col("n_chars").cast("string").alias("value"),
                ),
                F.struct(
                    F.lit("$inc").alias("op"),
                    F.lit("n_chars").alias("key_path"),
                    F.lit("100000").alias("value"),  # bounds skipped under $inc
                ),
                F.struct(
                    F.lit("$unset").alias("op"),
                    F.lit("text").alias("key_path"),
                    F.lit('""').alias("value"),
                ),
                F.struct(
                    F.lit("$set").alias("op"),
                    F.lit("source").alias("key_path"),
                    F.concat(F.lit('"'), F.col("source"), F.lit('"')).alias("value"),
                ),
            )
        ).alias("m"),
    ).select("doc_id", "m.op", "m.key_path", "m.value", F.lit(False).alias("upsert"))
    return validate_modifier_table(mods, _doc_schema()).select(
        "doc_id", "name", "type", "value"
    )


def q_validate_object_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-valued $set recursion (§2.4, reference doValidation.ts:64-70):
    descendant keys of one $set object value are validated — child value
    checks, required for missing/null children, keyNotInSchema for unknown
    children."""
    from simpl_schema_spark.modifiers import validate_modifier_table
    from simpl_schema_spark.schema import SimpleSchema

    ss = SimpleSchema(
        {
            "meta": {"type": dict},
            "meta.lang": {"type": str, "allowedValues": _ALLOWED_LANGS},
            "meta.n": {"type": int, "min": 0, "max": _NCHARS_MAX},
        }
    )
    d = _docs(spark, sf_dir)
    # deterministic variety: doc_id%7==0 adds an undeclared child;
    # doc_id%11==0 omits the required 'lang' child
    val = F.concat(
        F.lit("{"),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("")
        ).otherwise(F.concat(F.lit('"lang": "'), F.col("lang"), F.lit('", '))),
        F.lit('"n": '),
        F.col("n_chars").cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(', "extra": 1')).otherwise(F.lit("")),
        F.lit("}"),
    )
    mods = d.select(
        "doc_id",
        F.lit("$set").alias("op"),
        F.lit("meta").alias("key_path"),
        val.alias("value"),
        F.lit(False).alias("upsert"),
    )
    return validate_modifier_table(mods, ss).select("doc_id", "name", "type", "value")


def q_validate_json_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON document mode (reference validateField.ts:262-279):
    per-row key scan over a heterogeneous json_blob column — required,
    type conformance, value rules, keyNotInSchema all from JSON text."""
    from simpl_schema_spark.jsondoc import validate_json_column
    from simpl_schema_spark.schema import SimpleSchema

    ss = SimpleSchema(
        {
            "lang": {"type": str, "allowedValues": _ALLOWED_LANGS},
            "n": {"type": int, "min": 0, "max": _NCHARS_MAX},
            "tags": {"type": SimpleSchema.Array, "optional": True},
            "tags.$": {"type": str, "max": 4},
        }
    )
    d = _docs(spark, sf_dir)
    # deterministic heterogeneity: %7 adds an unknown key, %11 omits required
    # lang, %13 makes n a wrong-typed string, %5 adds a tags array whose
    # elements get per-element value rules (concrete-index names: tags.1
    # maxString for 5-char sources, tags.2 expectedType for the %10 numeric)
    blob = F.concat(
        F.lit("{"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit('"lang": "'), F.col("lang"), F.lit('", '))
        ),
        F.lit('"n": '),
        F.when(F.col("doc_id") % 13 == 0, F.lit('"oops"')).otherwise(
            F.col("n_chars").cast("string")
        ),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(
                   F.lit(', "tags": ["'), F.col("lang"), F.lit('", "'),
                   F.col("source"), F.lit('"'),
                   F.when(F.col("doc_id") % 10 == 0,
                          F.concat(F.lit(", "), F.col("n_chars").cast("string"))
                          ).otherwise(F.lit("")),
                   F.lit("]"),
               )).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(', "extra": 1')).otherwise(F.lit("")),
        F.lit("}"),
    )
    docs = d.select("doc_id", blob.alias("json_blob"))
    return validate_json_column(docs, ss).select("doc_id", "name", "type")


def _messy_url() -> F.Column:
    """Deterministic messy URL per document: mixed-case scheme/host, a
    default :443 port (%3), tracking params utm_source (%2) and gclid (%5),
    and a fragment (%4) — every normalization rule is exercised."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://WWW."), F.upper(F.col("source")), F.lit(".Example.COM"),
        F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Page/"), did.cast("string"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit("?utm_source=feed&id="), did.cast("string")),
        ).otherwise(F.concat(F.lit("?id="), did.cast("string"))),
        F.when(did % 5 == 0, F.lit("&gclid=Abc123")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )


def q_url_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (text/urls.py): lowercase scheme+authority,
    default-port strip, fragment drop, tracking-param removal, plus host
    and registered-domain extraction.  The oracle derives the EXPECTED
    canonical form independently from the underlying columns."""
    from simpl_schema_spark.text import (
        url_host,
        url_normalize,
        url_registered_domain,
    )

    d = _docs(spark, sf_dir).select("doc_id", "source")
    messy = d.select("doc_id", _messy_url().alias("url"))
    return messy.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        url_host(F.col("url")).alias("host"),
        url_registered_domain(F.col("url")).alias("domain"),
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (text/html.py html_to_text): the query
    builds a deterministic HTML page per document (entity-escaped text,
    a script block, a comment) and re-extracts; the ORACLE derives the
    expected visible text independently from the base columns."""
    from simpl_schema_spark.text import html_to_text

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id", "source", "text"
    )
    esc = F.col("text")
    for raw, ent in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]:
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    html = F.concat(
        F.lit('<html><head><title>T</title><script type="text/javascript">'
              "var x = 1 < 2;</script></head><body><!-- nav -->\n<h1>"),
        F.col("source"),
        F.lit("</h1>\n<p>"),
        esc,
        F.lit("</p></body></html>"),
    )
    return d.select("doc_id", html_to_text(html).alias("extracted"))


def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (text/contamination.py): train docs
    sharing distinct 5-gram shingles with the doc_id<20 'eval set'.
    Broadcast eval shingle set; the corpus text never shuffles."""
    from simpl_schema_spark.text import ngram_overlap

    d = _docs_par(spark, sf_dir).select("doc_id", "text")
    return ngram_overlap(d, d.where(F.col("doc_id") < 20), k=5)


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics (text/repetition.py): the
    query synthesizes line structure (two duplicated prefix lines per doc)
    so duplicate-line fraction is non-trivial; the oracle replicates both
    metrics with DuckDB list comprehensions."""
    from simpl_schema_spark.text import repetition_metrics

    d = _docs_par(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"),
            F.substring(F.col("text"), 1, 40), F.lit("\n"),
            F.substring(F.col("text"), 1, 40),
        ).alias("text"),
    )
    return repetition_metrics(d)


def q_url_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-aware registrable-domain extraction (text/urls.py
    url_registered_domain with a caller-supplied public-suffix set):
    hosts cycle through .com / .co.uk / .com.au by doc_id; the oracle
    derives the expected domain independently from doc_id."""
    from simpl_schema_spark.text import url_registered_domain

    d = _docs(spark, sf_dir).select("doc_id", "source")
    did = F.col("doc_id")
    tld = (
        F.when(did % 3 == 0, F.lit("co.uk"))
        .when(did % 3 == 1, F.lit("com.au"))
        .otherwise(F.lit("com"))
    )
    url = F.concat(
        F.lit("https://www."), F.lower(F.col("source")), F.lit(".site."),
        tld, F.lit("/p/"), did.cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        url_registered_domain(
            F.col("url"), {"co.uk", "com.au"}
        ).alias("domain"),
    )


def q_hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (sampling.py): md5-keyed so the
    DuckDB oracle reproduces the selection bit-for-bit."""
    from simpl_schema_spark.sampling import hash_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return hash_sample(d, "doc_id", 0.25)


def q_lang_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per language, chosen by hash order (sampling.py)."""
    from simpl_schema_spark.sampling import stratified_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(d, "lang", "doc_id", 5)


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k (text/vocab.py): global token counts with a
    bounded TakeOrderedAndProject top-k, deterministic tie-break."""
    from simpl_schema_spark.text import top_tokens

    return top_tokens(_docs_par(spark, sf_dir), "text", k=20)


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed end-to-end training-data pipeline: exact dedup (keep lowest
    doc_id per normalized content) → language + length filter → 50%
    deterministic hash sample.  The shape that matters at 100 TB: dedup is
    one hash shuffle with map-side combine, the filters are scan-level
    predicates, the sample is a shuffle-free projection — so the whole
    pipeline is ONE shuffle end-to-end."""
    from simpl_schema_spark.dedup import dedup_exact
    from simpl_schema_spark.sampling import hash_sample

    d = _docs(spark, sf_dir)
    deduped = dedup_exact(d, "doc_id", "text")
    filtered = deduped.where(
        F.col("text").isNotNull()
        & F.col("lang").isin(*_ALLOWED_LANGS)
        & (F.col("n_chars") <= _NCHARS_MAX)
    )
    return hash_sample(filtered, "doc_id", 0.5).select(
        "doc_id", "lang", "n_chars"
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tf-idf top terms (text/vocab.py): the df table
    broadcasts back onto per-doc term counts; rank excludes the float
    score from the compared columns (tf/df are exact integers)."""
    from simpl_schema_spark.text import tf_idf_top_terms

    return tf_idf_top_terms(_docs_par(spark, sf_dir), k=3).select(
        "doc_id", "token", "tf", "df", "rank"
    )


def q_vector_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column validation (checks/vectors.py): wrong-dim /
    non-finite / zero-vector violation rows.  Corruption is synthesized
    deterministically (%13 truncates, %17 plants a NaN, %19 zeroes the
    vector) so the oracle derives expected violations independently."""
    from simpl_schema_spark.checks import vector_violations

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vid = F.col("vec_id")
    dim = len(emb.select("embedding").first().embedding)
    corrupted = emb.select(
        "vec_id",
        F.when(vid % 13 == 0, F.slice("embedding", 1, dim - 1))
        .when(
            vid % 17 == 0,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.slice("embedding", 2, dim - 1),
            ),
        )
        .when(
            vid % 19 == 0,
            F.array_repeat(F.lit(0.0).cast("float"), dim),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    return vector_violations(corrupted, "embedding", dim)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (text/pii.py): deterministic emails /
    IPv4s / phone numbers are planted by doc_id arithmetic (the base text
    contains no digits or '@', so no accidental matches), then counted
    per class and redacted with typed placeholders.  Patterns are RE2-and-
    Java-compatible, so the DuckDB oracle replays them bit-for-bit."""
    from simpl_schema_spark.text import pii_counts, redact_pii

    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@mail.example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" from 10."), (did % 200).cast("string"),
                F.lit(".0."), (did % 250).cast("string"), F.lit(" seen"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call +1 555 010 "),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    d = _docs_par(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id", planted.alias("text")
    )
    return pii_counts(d, "text").select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        redact_pii(F.col("text")).alias("redacted"),
    )


def q_sequence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence layout (packing.py): whitespace
    token counts in doc_id order, 512-token chunks, via the DISTRIBUTED
    exclusive prefix sum (range shuffle + per-partition cumsum + broadcast
    offsets — no single-task global window)."""
    from simpl_schema_spark.packing import sequence_chunks
    from simpl_schema_spark.text import token_count

    d = _docs_par(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return sequence_chunks(d, "doc_id", "n_tokens", capacity=512)


def q_url_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best URL dedup (dedup/keepbest.py): recrawl groups are
    synthesized by collapsing doc_id mod 97 onto one canonical url; the
    survivor is the longest document (ties → smallest doc_id), computed in
    ONE map-side-combining hash aggregation via min(struct(-score, id))."""
    from simpl_schema_spark.dedup import keep_best

    d = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://example.com/page/"),
            (F.col("doc_id") % 97).cast("string"),
        ).alias("url"),
        "doc_id",
        "n_chars",
    )
    return keep_best(d, "url", "n_chars", "doc_id")


def q_remove_common_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus line dedup (dedup/lines.py): every document gains a
    shared boilerplate footer line (3 variants, ~167 docs each) plus a
    mostly-unique 25-char prefix line; lines whose trimmed form occurs in
    >= 5 distinct documents are removed, original order and whitespace
    preserved."""
    from simpl_schema_spark.dedup import remove_common_lines

    did = F.col("doc_id")
    t2 = F.concat(
        F.col("text"),
        F.lit("\n  footer line "), (did % 3).cast("string"),
        F.lit("\n"), F.substring(F.col("text"), 1, 25),
    )
    d = _docs_par(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id", t2.alias("text")
    )
    return remove_common_lines(d, min_df=5)


def _mojibake_suffix() -> str:
    """EVERY artifact from MOJIBAKE_MAP space-joined, plus a BEL control --
    built from the table itself so the query and the generated oracle
    plant byte-identical input."""
    from simpl_schema_spark.text.encoding import MOJIBAKE_MAP

    return " " + " ".join(MOJIBAKE_MAP.keys()) + " \x07end"


def q_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (text/encoding.py): every mojibake artifact in the
    table plus a BEL control char is planted per document, then fixed and
    stripped.  The oracle replays the SAME replace chain generated from
    MOJIBAKE_MAP -- table and oracle cannot drift."""
    from simpl_schema_spark.text import fix_mojibake, strip_control_chars

    planted = F.concat(F.col("text"), F.lit(_mojibake_suffix()))
    d = _docs_par(spark, sf_dir).where(F.col("text").isNotNull()).select(
        "doc_id", planted.alias("text")
    )
    return d.select(
        "doc_id",
        strip_control_chars(fix_mojibake(F.col("text"))).alias("fixed"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile quality filter (ranking.py): keep docs at or above
    the 0.8 percent-rank of n_chars — per-distinct-score counts + the
    distributed prefix sum over the score grid, NO global ordered window;
    exact-integer outputs (n_below/n_total), ties share rank like SQL
    PERCENT_RANK."""
    from simpl_schema_spark.ranking import percentile_filter

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return percentile_filter(d, "n_chars", min_percentile=0.8).select(
        "doc_id", "n_chars", "n_below", "n_total"
    )


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level filtering (text/urlfilter.py): deterministic URL
    synthesis covering every drop reason — spam keyword, raw-IP host,
    blocklisted registrable domain (incl. a ccSLD resolved via a
    caller-supplied public-suffix entry), parameter-chain overflow —
    with two shapes surviving."""
    from simpl_schema_spark.text import filter_urls

    did = F.col("doc_id")
    m = did % 7
    url = (
        F.when(m == 0, F.concat(F.lit("https://news.example.com/articles/"), did))
        .when(m == 1, F.concat(F.lit("https://spamhub.biz/casino/"), did))
        .when(m == 2, F.concat(F.lit("http://10.0.0."), did % 250, F.lit("/r/"), did))
        .when(m == 3, F.concat(F.lit("https://blocked-one.com/p/"), did))
        .when(m == 4, F.concat(F.lit("https://ok.org/p?"), F.repeat(F.lit("a=1&"), 20), F.lit("z=1")))
        .when(m == 5, F.concat(F.lit("https://shop.example.co.uk/item/"), did))
        .otherwise(F.concat(F.lit("https://fine.org/a/b/c/"), did))
    ).cast("string")
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    blocked = spark.createDataFrame(
        [("blocked-one.com",), ("example.co.uk",)], "domain string"
    )
    return filter_urls(
        d,
        blocked_domains=blocked,
        blocked_keywords=["casino", "viagra"],
        public_suffixes={"co.uk"},
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain volume cap (text/urlfilter.cap_per_domain): 97
    synthetic registrable domains, at most 3 documents each, selected by
    content-hash order — the two-stage bounded top-n, no per-domain
    window."""
    from simpl_schema_spark.text import cap_per_domain

    did = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://h"), did % 97, F.lit(".site"), did % 97,
            F.lit(".com/p/"), did,
        ).alias("url"),
    )
    return cap_per_domain(d, "url", "doc_id", 3)


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness filter (text/robots.py, RFC 9309 from
    scratch): three synthesized policies — Allow-overrides-Disallow,
    $-anchored wildcard, unknown-domain default-allow — decided per
    document by arithmetic the oracle replays."""
    from simpl_schema_spark.text import filter_allowed, robots_rules

    bodies = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nDisallow: /\nAllow: /public/"),
            ("b.com", "User-agent: *\nDisallow: /*.pdf$"),
        ],
        "domain string, robots_txt string",
    )
    rules = robots_rules(bodies)
    did = F.col("doc_id")
    m = did % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://a.com/public/p"), did))
        .when(m == 1, F.concat(F.lit("https://a.com/priv/p"), did))
        .when(m == 2, F.concat(F.lit("https://b.com/f"), did, F.lit(".pdf")))
        .otherwise(F.concat(F.lit("https://unknown.org/x"), did))
    ).cast("string")
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return filter_allowed(d, rules)


def q_webtext_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed round-5 web-text pipeline: URL filtering → scan-level
    quality gate (length + token floor) → domain-mixture resampling →
    context-length chunking.  The 100-TB shape: every filter is a scan
    predicate, the mixture rate table is one group-count shuffle
    broadcast back, chunking is shuffle-free — the whole pipeline is ONE
    shuffle end-to-end (plus the tiny 1-row feasibility min)."""
    from simpl_schema_spark.sampling import mixture_sample
    from simpl_schema_spark.text import filter_urls
    from simpl_schema_spark.text.analysis import token_count
    from simpl_schema_spark.text.chunking import chunk_documents

    did = F.col("doc_id")
    m = did % 7
    url = (
        F.when(m == 1, F.concat(F.lit("https://spamhub.biz/casino/"), did))
        .when(m == 3, F.concat(F.lit("https://blocked-one.com/p/"), did))
        .otherwise(F.concat(F.lit("https://ok.org/a/"), did))
    ).cast("string")
    d = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "lang", "text", url.alias("url"))
    )
    blocked = spark.createDataFrame([("blocked-one.com",)], "domain string")
    kept = filter_urls(
        d, blocked_domains=blocked, blocked_keywords=["casino"]
    ).where(
        (F.length("text") >= 200) & (token_count(F.col("text")) >= 30)
    )
    mixed = mixture_sample(kept, "lang", "doc_id", _MIXTURE_WEIGHTS)
    return chunk_documents(
        mixed.select("doc_id", "text"), max_tokens=32
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking (text/chunking.py): every document split
    into consecutive 16-token windows, zero-shuffle scan-side layout."""
    from simpl_schema_spark.text.chunking import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir).select("doc_id", "text"), max_tokens=16
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (dedup/winnow.py, Schleimer et al.
    2003): per-window minima of positional 5-gram hashes, window 4 —
    one fused scan-side projection, zero shuffle; md5 hash family so the
    oracle reproduces every selected hash bit-exactly."""
    from simpl_schema_spark.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _docs_par(spark, sf_dir), k=5, w=4, hash_family="md5"
    ).select(F.col("id").alias("doc_id"), "fp")


def q_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-detection pairs from shared winnowing fingerprints
    (dedup/winnow.fingerprint_overlap_pairs): bounded inverted index —
    hot fingerprints dropped before any posting-list collect — on the
    dup-seeded corpus; the oracle replays selection, hot-cap, and pair
    counts exactly."""
    from simpl_schema_spark.dedup import fingerprint_overlap_pairs

    return fingerprint_overlap_pairs(
        _docs_with_dups(spark, sf_dir),
        k=5,
        w=4,
        min_common=3,
        max_fp_df=60,
        hash_family="md5",
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (sessions.py): 30-minute inactivity gap
    over the events table, per-session rollups.  ONE user-keyed shuffle —
    the (user, session_idx) aggregation reuses the window's hash
    partitioning (plan-pinned in tests).  Micro-exact epoch arithmetic so
    the oracle replays every boundary decision."""
    from simpl_schema_spark.sessions import epoch_micros, session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    st = session_stats(ev, gap_minutes=30)
    return st.select(
        "user_id",
        "session_idx",
        "n_events",
        epoch_micros(st, "session_start").alias("start_us"),
        epoch_micros(st, "session_end").alias("end_us"),
        "duration_us",
        "first_event_id",
    )


def _synth_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, html): a deterministic page per document whose hrefs
    exercise every resolve_link branch — absolute, protocol-relative,
    root-relative, path-relative, query-only, plus mailto:/#fragment
    links that must be dropped."""
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 41).cast("string"), F.lit(".example"))
    url = F.concat(
        F.lit("https://"), host, F.lit("/a/b/p"), did, F.lit(".html?q=1")
    )
    abs_h = F.concat(
        F.lit("h"), ((did * 7 + 1) % 41).cast("string"), F.lit(".example")
    )
    rel_h = F.concat(
        F.lit("h"), ((did * 7 + 14) % 41).cast("string"), F.lit(".example")
    )
    html = F.concat(
        F.lit('<html><body><a href="https://'), abs_h, F.lit("/x"), did,
        F.lit('">abs</a>\n<link href="//'), rel_h,
        F.lit('/lib.css" rel="x"><a href="/r'), did,
        F.lit('">root</a><a href = "s'), did,
        F.lit('.html">sib</a><a href="?page=2">q</a>'),
        F.lit('<a href="mailto:a@b.c">m</a><a href="#top">t</a></body></html>'),
    )
    return _docs(spark, sf_dir).select("doc_id", url.alias("url"), html.alias("html"))


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + resolution (text/links.py): href harvesting
    via one regexp_extract_all pass and CASE-shaped RFC-style resolution,
    all scan-fused JVM expressions (zero shuffles — plan-pinned in
    tests).  The ORACLE derives every expected absolute link
    independently from doc_id, so each resolution branch is
    cross-engine-pinned."""
    from simpl_schema_spark.text import extract_outlinks

    return extract_outlinks(_synth_page(spark, sf_dir)).select(
        "doc_id", "outlink"
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (text/links.host_edges + graph.pagerank):
    weighted host edges from a deterministic link table (sources ≡3 mod 7
    emit nothing → real dangling mass), 3 damped power iterations with
    dangling redistribution.  The edge table is hash-partitioned by src
    once; iterations shuffle only the vertex-sized rank table.  The
    ORACLE unrolls the same 3 iterations as chained CTEs."""
    from simpl_schema_spark.graph import pagerank
    from simpl_schema_spark.text import host_edges

    did = F.col("doc_id")
    s = did % 41
    links = None
    for k in range(3):
        d = (did * 7 + 13 * k + 1) % 41
        part = _docs(spark, sf_dir).select(
            F.concat(F.lit("https://h"), s.cast("string"),
                     F.lit(".example/p"), did).alias("url"),
            F.concat(F.lit("https://h"), d.cast("string"),
                     F.lit(".example/q")).alias("outlink"),
        ).where((s % 7) != 3)
        links = part if links is None else links.unionByName(part)
    edges = host_edges(links)
    ranks = pagerank(edges, weight="n_links", iterations=3, checkpoint_every=0)
    return ranks.select(
        F.col("id").alias("host"), F.round("rank", 9).alias("rank")
    )


def q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming anchor-term profiles (text/links.extract_anchors +
    anchor_term_profile): per-doc synthetic pages carry two <a> elements
    (one with nested markup to exercise tag stripping), anchors explode
    to terms, and each TARGET host keeps its top-3 terms by (count desc,
    term asc) via the two-stage bounded top-n — no per-host window.
    The ORACLE derives hosts/terms independently from doc_id and ranks
    with a QUALIFY window, pinning both extraction and tie-breaks."""
    from simpl_schema_spark.text import anchor_term_profile, extract_anchors

    did = F.col("doc_id")
    a_h = ((did * 7 + 1) % 41).cast("string")
    b_h = ((did * 3 + 2) % 41).cast("string")
    w = (did % 13).cast("string")
    v = (did % 5).cast("string")
    html = F.concat(
        F.lit('<p><a href="https://h'), a_h, F.lit('.example/x"><b>w'), w,
        F.lit("</b> v"), v, F.lit('</a><a href="https://h'), b_h,
        F.lit('.example/y">w'), w, F.lit("</a></p>"),
    )
    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("https://src"), did, F.lit(".example/p")).alias("url"),
        html.alias("html"),
    )
    return anchor_term_profile(extract_anchors(pages), k=3)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table
    (sim/kmeans.py): k=8, two assignment passes (one centroid update).
    Assignment is a broadcast crossJoin + min(struct) argmin — no
    corpus window; the update is a posexplode re-average, k·d-sized
    reduce.  Deterministic everywhere the oracle needs: md5-hash init,
    left-fold distance sums, cid tie-breaks, 9-dp centroid rounding.
    The ORACLE unrolls both passes in DuckDB."""
    from simpl_schema_spark.sim import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_assign(emb, "vec_id", "embedding", k=8, iterations=2)


def q_nchars_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram profile (checks/histogram.py): auto-ranged
    12-bin counts of n_chars — one lazy min/max broadcast + one
    bins-row-sized aggregation.  Bin arithmetic is accumulation-free
    double ops, so the ORACLE reproduces assignments bit-for-bit."""
    from simpl_schema_spark.checks import histogram

    return histogram(_docs(spark, sf_dir), "n_chars", bins=12)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab sizing curve point (text/vocab.vocab_coverage):
    what fraction of token occurrences a top-500 frequency vocabulary
    covers.  One count aggregation, a TakeOrdered top-V cut with
    deterministic ties, two 1-row sums — integer-exact until the final
    rounded ratio."""
    from simpl_schema_spark.text import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), vocab_size=500)


def q_host_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-farm signal (text/links.host_reciprocity): fraction of each
    host's distinct outlink targets that link back — one reversed-key
    self-join over the host graph + a map-side-combinable rollup,
    nothing corpus-sized.  Same deterministic 41-host link table as the
    pagerank queries (offsets 1/14 give a reciprocity mix)."""
    from simpl_schema_spark.text import host_edges, host_reciprocity

    did = F.col("doc_id")
    s = did % 41
    links = None
    for off in (1, 14):
        d = (did * 7 + off) % 41
        part = _docs(spark, sf_dir).select(
            F.concat(F.lit("https://h"), s.cast("string"),
                     F.lit(".example/p"), did).alias("url"),
            F.concat(F.lit("https://h"), d.cast("string"),
                     F.lit(".example/q")).alias("outlink"),
        )
        links = part if links is None else links.unionByName(part)
    return host_reciprocity(host_edges(links))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule battery (text/gopher.py, Rae et al. §A1.1): all
    seven hard gates + per-rule components in ONE scan-fused projection
    (token/line arrays staged per the lambda-CSE rule).  min_words=30
    so the synthetic corpus yields a real pass/fail mix.  The ORACLE
    recomputes every component and the conjunction in DuckDB; ratios
    compare ROUNDED so boundary cuts can't flip cross-engine."""
    from simpl_schema_spark.text.gopher import gopher_quality

    return gopher_quality(
        _docs(spark, sf_dir), min_words=30, min_stopwords=1
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (sim/semdedup.py): k-means first,
    cosine pairs ONLY within clusters — the O(N²) global search becomes
    bounded per-cluster self-joins.  Dup-seeded input (exact copies of
    vec_id<10 shifted +100000, the embedding_near_dups convention) so
    the pair set is non-trivial; the ORACLE replays clustering, the
    within-cluster join, and the exact cosine float sequence, filtering
    on the ROUNDED cosine so the threshold cut can't flip cross-engine."""
    from simpl_schema_spark.sim import semantic_dedup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.where(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return semantic_dedup_pairs(
        emb.unionByName(dup), k=8, iterations=2, threshold=0.95
    )


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-frontier scheduling — the link-graph operators
    end-to-end: extract+resolve outlinks → drop URLs the previous crawl
    (docs < 250) already discovered (left-anti) → robots politeness
    (every host ≡1 mod 3 disallows /r; unknown hosts default-allow) →
    rank each candidate by its target host's PageRank → global top-200
    by (rank desc, url asc).  Scale shape: extraction is scan-fused, the
    anti-join and the rank join are AQE-decided, PageRank iterates over
    the host-sized graph, and the final top-200 is TakeOrderedAndProject
    (per-partition heads, no global sort materialization)."""
    from simpl_schema_spark.graph import pagerank
    from simpl_schema_spark.text import (
        extract_outlinks,
        filter_allowed,
        host_edges,
        robots_rules,
        url_host,
    )

    pages = _synth_page(spark, sf_dir)
    # ONE extraction pass: `out` feeds the candidate set, the prev-crawl
    # anti-join side (extraction is row-wise, so filtering the extracted
    # rows ≡ extracting from filtered pages) and the PageRank edge table
    # — persisted so the HTML parse runs once, not once per consumer
    from simpl_schema_spark.cache import track

    out = track(extract_outlinks(pages).persist())
    prev = out.where(F.col("doc_id") < 250).select("outlink")
    new = (
        out.select("outlink").distinct().join(prev, "outlink", "left_anti")
    )
    bodies = (
        spark.range(41)
        .where(F.col("id") % 3 == 1)
        .select(
            F.concat(F.lit("h"), F.col("id").cast("string"),
                     F.lit(".example")).alias("domain"),
            F.lit("User-agent: *\nDisallow: /r").alias("robots_txt"),
        )
    )
    allowed = filter_allowed(new, robots_rules(bodies), url_col="outlink")
    pr = pagerank(
        host_edges(out), weight="n_links", iterations=3, checkpoint_every=0
    ).withColumnRenamed("id", "host")
    ranked = allowed.join(
        pr, url_host(F.col("outlink")) == F.col("host")
    )
    return (
        ranked.select(
            "outlink", "host", F.round("rank", 9).alias("rank")
        )
        .orderBy(F.desc("rank"), "outlink")
        .limit(200)
    )


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (text/unicodenorm.py): the repo's
    one genuinely-Python text operator, as a vectorized pandas UDF
    (Arrow batches — never row-at-a-time).  Each document gets a
    decomposed combining-mark suffix appended (e+U+0301, A+U+030A,
    e+U+0308+U+0301) so the query exercises real canonical composition,
    not an ASCII identity; the ORACLE is DuckDB's nfc_normalize over
    the same construction."""
    from simpl_schema_spark.text import nfc_normalize

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    decomposed = F.concat(
        F.col("text"),
        # explicit escapes: decomposed on the wire, never silently
        # precomposed by a source-file normalizer
        F.lit(" e\u0301 A\u030A e\u0308\u0301"),
    )
    return d.select(
        "doc_id",
        nfc_normalize(decomposed).alias("nfc_text"),
        F.length(nfc_normalize(decomposed)).alias("nfc_len"),
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (text/lm.py): train an
    add-k smoothed bigram model on the doc_id%10<8 slice, score EVERY
    document's average negative log-likelihood under it.  Training is
    two map-side-combinable counts; scoring joins the (small) model
    tables — AQE broadcasts them (plan-pinned in tests) so the corpus
    never shuffles on the skewed bigram key.  The ORACLE replays
    tokenization, counts, and the exact smoothing-formula float sequence
    in DuckDB; round(…, 6) absorbs sum-order and ln() ulp noise."""
    from simpl_schema_spark.text import lm_avg_nll, train_bigram_lm

    d = _docs(spark, sf_dir)
    lm = train_bigram_lm(d.where(F.col("doc_id") % 10 < 8))
    out = lm_avg_nll(d, lm)
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_nll", 6).alias("avg_nll")
    )


def q_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup (dedup/incremental.new_rows):
    batch = every document's synthetic url, seen = the first 250 — with
    a deliberately saturated 512-bit Bloom (≈45% false positives) so
    BOTH routes carry real traffic and the oracle proves the result is
    exact regardless of filter sizing."""
    from simpl_schema_spark.dedup import new_rows

    url = F.concat(F.lit("https://ex.org/p/"), F.col("doc_id")).alias("url")
    batch = _docs(spark, sf_dir).select(url, "doc_id")
    seen = batch.where(F.col("doc_id") < 250).select("url")
    return new_rows(batch, seen, "url", bloom_bits=512, n_hashes=3)


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (text/classifier.py):
    256-bucket weight table (weights derived from the bucket id in
    integer milli-units so the per-doc sum is exact), md5 hash family
    for engine portability; null/empty docs score exactly the bias."""
    from simpl_schema_spark.text import classifier_score

    d = _docs(spark, sf_dir).select("doc_id", "text")
    weights = spark.range(256).select(
        F.col("id").alias("bucket"),
        ((F.col("id") % 13) - 6).alias("weight"),
    )
    return classifier_score(
        d, weights, n_buckets=256, bias=0.0, hash_family="md5"
    )


#: target mixture for the contract query — 'de' intentionally absent
#: (groups outside the target mixture are dropped)
_MIXTURE_WEIGHTS = {"en": 0.6, "zh": 0.15, "es": 0.15, "fr": 0.1}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture resampling (sampling.mixture_sample):
    downsample-only reweighting of the corpus toward target language
    proportions, content-keyed on doc_id so re-runs select identical
    rows; 'de' has no target weight and is dropped entirely."""
    from simpl_schema_spark.sampling import mixture_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return mixture_sample(d, "lang", "doc_id", _MIXTURE_WEIGHTS)


def _webtext_pipeline_oracle_sql() -> str:
    """DuckDB replay of q_webtext_pipeline: url-filter arithmetic →
    quality gate → the mixture algebra (same ::double literal discipline
    as _mixture_oracle_sql, counted over the FILTERED corpus) → 32-token
    chunking."""
    total_w = float(sum(_MIXTURE_WEIGHTS.values()))
    vals = ", ".join(
        f"('{g}', {w!r}::double)" for g, w in _MIXTURE_WEIGHTS.items()
    )
    return rf"""
        with q as (
            select doc_id, lang, text,
                   list_filter(regexp_split_to_array(text, '\s+'),
                               x -> x <> '') as w
              from documents
             where text is not null
               and doc_id % 7 not in (1, 3)
               and length(text) >= 200
        ), f as (
            select doc_id, lang, w from q where len(w) >= 30
        ), c as (
            select lang as g, count(*) as n from f group by 1
        ), wt (g, wt) as (
            values {vals}
        ), p as (
            select c.g, c.n, wt / {total_w!r}::double as p
              from c join wt using (g)
        ), t as (
            select min(n / p) as t from p
        ), r as (
            select g,
                   floor(least(1.0::double, (p * t.t * 1.0::double) / n)
                         * 4294967296.0::double) as thr
              from p, t
        ), mixed as (
            select f.doc_id, f.w
              from f join r on f.lang = r.g
             where ('0x' || substring(md5(cast(f.doc_id as varchar)), 1, 8))::uint64
                   < r.thr
        ), ch as (
            select doc_id, w,
                   unnest(generate_series(0, (len(w) + 31) // 32 - 1))
                       as chunk_idx
              from mixed where len(w) > 0
        )
        select doc_id,
               chunk_idx::bigint as chunk_idx,
               len(w[chunk_idx*32+1 : chunk_idx*32+32])::bigint as n_tokens,
               array_to_string(w[chunk_idx*32+1 : chunk_idx*32+32], ' ')
                   as chunk_text
          from ch
    """


def _mixture_oracle_sql() -> str:
    """DuckDB replay of q_mixture_sample, generated from the SAME weight
    dict; every numeric literal is ::double so DuckDB follows the exact
    IEEE sequence Spark executes (bare decimal literals are DECIMAL
    there, and decimal arithmetic would diverge in the last bit)."""
    total_w = float(sum(_MIXTURE_WEIGHTS.values()))
    vals = ", ".join(
        f"('{g}', {w!r}::double)" for g, w in _MIXTURE_WEIGHTS.items()
    )
    return f"""
        with c as (
            select lang as g, count(*) as n from documents group by 1
        ), w (g, wt) as (
            values {vals}
        ), p as (
            select c.g, c.n, wt / {total_w!r}::double as p
              from c join w using (g)
        ), t as (
            select min(n / p) as t from p
        ), r as (
            select g,
                   floor(least(1.0::double, (p * t.t * 1.0::double) / n)
                         * 4294967296.0::double) as thr
              from p, t
        )
        select d.doc_id, d.lang
          from documents d join r on d.lang = r.g
         where ('0x' || substring(md5(cast(d.doc_id as varchar)), 1, 8))::uint64
               < r.thr
    """


_BOILER = (
    "subscribe to our newsletter for updates terms of service "
    "privacy policy all rights reserved"
)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span removal (dedup/spans.py, Lee-et-al-style
    substring dedup as hot anchor k-grams): every third document gains a
    shared 14-token boilerplate suffix (partial spans), and documents
    with doc_id < 20 are duplicated verbatim under shifted ids (full-doc
    spans); runs of >= 12 tokens occurring >= 2 times anywhere in the
    corpus are removed from every occurrence."""
    from simpl_schema_spark.dedup import remove_duplicate_spans

    base = (
        _docs_par(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0, F.lit(" " + _BOILER)
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    d = base.unionAll(
        base.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    return remove_duplicate_spans(d, k=12, min_count=2)


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingestion edge (warc.py): documents serialized into WET
    archives (8 gzip files — the deterministic stand-in for a crawl
    segment, cached per input) → ``read_wet`` distributed parse →
    (doc_id, url, text).  Fixture synthesis collects driver-side BY
    DESIGN: it fabricates the external input files; the measured operator
    is the binaryFile + mapInPandas parse, which is file-parallel exactly
    as it is on a real 90k-file crawl."""
    import hashlib
    import os
    import tempfile

    from simpl_schema_spark.warc import build_wet, read_wet

    rows = sorted(
        (
            (r.doc_id, r.text)
            for r in _docs(spark, sf_dir)
            .select("doc_id", "text")
            .where(F.col("text").isNotNull())
            .collect()
        ),
    )
    key = hashlib.md5(f"{sf_dir}:{len(rows)}".encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"sss_wet_{key}")
    os.makedirs(d, exist_ok=True)
    n_files = 8
    per = max(1, -(-len(rows) // n_files))
    for i in range(0, len(rows), per):
        final = os.path.join(d, f"seg-{i // per:05d}.wet.gz")
        if os.path.exists(final):
            continue
        blob = build_wet(
            (
                (f"http://ex.test/doc/{doc_id}", "2017-01-01T00:00:00Z", text)
                for doc_id, text in rows[i : i + per]
            )
        )
        tmp = final + f".tmp.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, final)  # atomic: concurrent builders converge
    recs = read_wet(spark, d, path_glob="*.wet.gz")
    return recs.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "url",
        "text",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_validate_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_documents": q_validate_documents,
        "column_stats": q_column_stats,
        "duplicate_orderkeys": q_duplicate_orderkeys,
        "referential_events": q_referential_events,
        "lang_chi2_drift": q_lang_chi2_drift,
        "lang_psi_drift": q_lang_psi_drift,
        "nchars_psi_drift": q_nchars_psi_drift,
        "ks_drift_nchars": q_ks_drift_nchars,
        "exact_dup_groups": q_exact_dup_groups,
        "token_counts": q_token_counts,
        "quality_components": q_quality_components,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "clean_documents": q_clean_documents,
        "ngram_jaccard_dups": q_ngram_jaccard_dups,
        "near_dup_components": q_near_dup_components,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "lang_id": q_lang_id,
        "embedding_near_dups": q_embedding_near_dups,
        "validate_modifiers": q_validate_modifiers,
        "validate_object_set": q_validate_object_set,
        "validate_json_docs": q_validate_json_docs,
        "url_normalized": q_url_normalized,
        "url_psl_domains": q_url_psl_domains,
        "html_extract": q_html_extract,
        "repetition_metrics": q_repetition_metrics,
        "ngram_contamination": q_ngram_contamination,
        "hash_sample_docs": q_hash_sample_docs,
        "lang_stratified_sample": q_lang_stratified_sample,
        "top_tokens": q_top_tokens,
        "training_pipeline": q_training_pipeline,
        "vector_violations": q_vector_violations,
        "tfidf_top_terms": q_tfidf_top_terms,
        "pii_redaction": q_pii_redaction,
        "sequence_chunks": q_sequence_chunks,
        "url_keep_best": q_url_keep_best,
        "remove_common_lines": q_remove_common_lines,
        "fix_encoding": q_fix_encoding,
        "quality_filter": q_quality_filter,
        "wet_roundtrip": q_wet_roundtrip,
        "duplicate_spans": q_duplicate_spans,
        "mixture_sample": q_mixture_sample,
        "url_filter": q_url_filter,
        "domain_cap": q_domain_cap,
        "classifier_score": q_classifier_score,
        "incremental_new": q_incremental_new,
        "chunk_documents": q_chunk_documents,
        "webtext_pipeline": q_webtext_pipeline,
        "robots_filter": q_robots_filter,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_dups": q_winnow_dups,
        "user_sessions": q_user_sessions,
        "outlinks": q_outlinks,
        "host_pagerank": q_host_pagerank,
        "lm_perplexity": q_lm_perplexity,
        "anchor_profile": q_anchor_profile,
        "nfc_normalize": q_nfc_normalize,
        "crawl_frontier": q_crawl_frontier,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
        "gopher_quality": q_gopher_quality,
        "nchars_histogram": q_nchars_histogram,
        "vocab_coverage": q_vocab_coverage,
        "host_reciprocity": q_host_reciprocity,
    }


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), "
    "' +', ' ', 'g'))"
)

_DUP_DOCS_SQL = (
    "select * from documents union all "
    "select doc_id + 10000 as doc_id, text, lang, source, n_chars "
    "from documents where doc_id < 20"
)


def _pii_oracle_sql() -> str:
    """DuckDB replay of q_pii_redaction, with the patterns taken from
    text/pii.PII_PATTERNS (single source of truth — the oracle cannot
    drift from the implementation).  The patterns avoid every Java/RE2
    dialect divergence (no lookarounds/backrefs), so regexp_extract_all +
    chained regexp_replace('g') reproduce Spark bit-for-bit."""
    from simpl_schema_spark.text import PII_PATTERNS

    redacted = "t"
    for pat, repl in PII_PATTERNS.values():
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ",\n                   ".join(
        f"length(regexp_extract_all(t, '{pat}'))::bigint as n_{name}"
        for name, (pat, _) in PII_PATTERNS.items()
    )
    return f"""
            with p as (
                select doc_id,
                       text
                       || case when doc_id % 2 = 0
                               then ' contact user' || cast(doc_id as varchar)
                                    || '@mail.example.com now'
                               else '' end
                       || case when doc_id % 3 = 0
                               then ' from 10.' || cast(doc_id % 200 as varchar)
                                    || '.0.' || cast(doc_id % 250 as varchar)
                                    || ' seen'
                               else '' end
                       || case when doc_id % 5 = 0
                               then ' call +1 555 010 ' ||
                                    lpad(cast(doc_id % 10000 as varchar), 4, '0')
                               else '' end
                         as t
                  from documents
                 where text is not null
            )
            select doc_id,
                   {counts},
                   {redacted} as redacted
              from p
        """


def _fix_encoding_oracle_sql() -> str:
    """DuckDB replay of q_fix_encoding, generated from MOJIBAKE_MAP and
    the same _mojibake_suffix() — one source of truth for the table, the
    planted input, and the expected output."""
    from simpl_schema_spark.text.encoding import _CONTROL_RE, MOJIBAKE_MAP

    fixed = "t"
    for bad, good in MOJIBAKE_MAP.items():
        fixed = f"replace({fixed}, '{bad}', '{good}')"
    suffix = _mojibake_suffix().replace("'", "''")
    return f"""
            with p as (
                select doc_id, text || '{suffix}' as t
                  from documents
                 where text is not null
            )
            select doc_id,
                   regexp_replace({fixed}, '{_CONTROL_RE}', '', 'g') as fixed
              from p
        """


def _lang_id_oracle() -> str:
    """DuckDB replication of text.analysis.lang_id — generated from the
    SAME stopword profiles so the two can't drift.  Every step mirrors the
    Spark expression: lowercase whitespace tokens (empties dropped),
    hits/n_tok per language as IEEE double division, lexicographic max of
    (score, lang) structs (ties -> greatest lang string, matching Spark's
    array_max), CJK codepoint ratio > 0.3 -> 'zh', best score >= 0.05 ->
    its lang, else 'und'."""
    from simpl_schema_spark.text.analysis import _LANG_STOPWORDS

    structs = ",\n      ".join(
        "struct_pack(score := len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + f"], t))) / n_tok, lang := '{lang}')"
        for lang, words in _LANG_STOPWORDS.items()
    )
    return f"""
        with base as (
          select doc_id,
                 text,
                 list_filter(
                   regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                   t -> t <> '') as toks
            from documents
        ), scored as (
          select doc_id, text, toks,
                 greatest(len(toks), 1) as n_tok,
                 length(coalesce(text, '')) as n_chars,
                 length(regexp_replace(coalesce(text, ''),
                   '[^\\x{{4E00}}-\\x{{9FFF}}\\x{{3040}}-\\x{{30FF}}]',
                   '', 'g')) as n_cjk
            from base
        ), best as (
          select doc_id, text, n_chars, n_cjk,
                 list_max([
      {structs}
                 ]) as b
            from scored
        )
        select doc_id,
               case
                 when text is null then 'und'
                 when n_chars > 0 and n_cjk / n_chars > 0.3 then 'zh'
                 when b.score >= 0.05 then b.lang
                 else 'und'
               end as lang_pred
          from best
    """


def _winnow_cte(corpus_sql: str, k: int = 5, w: int = 4) -> str:
    """Shared DuckDB CTE chain replaying dedup/winnow.py bit-exactly:
    normalized tokens -> positional k-gram md5_long60 hashes -> per-window
    minima -> distinct fingerprints, exploded as fps(id, fp)."""
    return f"""
        with corpus as ({corpus_sql}
        ), norm as (
          select id,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^\\p{{L}}\\p{{N}} ]', ' ', 'g'), '\\s+', ' ', 'g')) as t
            from corpus
        ), tokd as (
          select id, list_filter(regexp_split_to_array(t, '\\s+'),
                                 x -> x <> '') as toks
            from norm
        ), hashed as (
          select id, case
            when len(toks) >= {k} then
              list_transform(range(1, len(toks) - {k} + 2),
                j -> ('0x' || substring(md5(
                       array_to_string(toks[j:j+{k - 1}], ' ')),
                     1, 15))::UBIGINT::BIGINT)
            when len(toks) > 0 then
              [('0x' || substring(md5(array_to_string(toks, ' ')),
                1, 15))::UBIGINT::BIGINT]
            else [] end as hs
            from tokd
        ), winnowed as (
          select id, list_distinct(case
            when len(hs) >= {w} then
              list_transform(range(1, len(hs) - {w} + 2),
                             j -> list_min(hs[j:j+{w - 1}]))
            when len(hs) > 0 then [list_min(hs)]
            else [] end) as sel
            from hashed
        ), fps as (
          select id, fp from winnowed, unnest(sel) as u(fp)
        )
    """


def _winnow_fingerprints_oracle() -> str:
    corpus = (
        "select doc_id as id, text from documents where text is not null"
    )
    return _winnow_cte(corpus) + "select id as doc_id, fp from fps"


def _winnow_dups_oracle(min_common: int = 3, max_fp_df: int = 60) -> str:
    corpus = """
          select doc_id as id, text from documents where text is not null
          union all
          select doc_id + 10000, text from documents
           where doc_id < 20 and text is not null"""
    return _winnow_cte(corpus) + f""",
        hot as (
          select fp from fps group by fp having count(*) > {max_fp_df}
        ), live as (
          select id, fp from fps where fp not in (select fp from hot)
        )
        select a.id as id_a, b.id as id_b, count(*)::bigint as n_common
          from live a join live b on a.fp = b.fp and a.id < b.id
         group by 1, 2 having count(*) >= {min_common}
    """


def _minhash_oracle(
    *,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 200,
) -> str:
    """DuckDB replay of the FULL md5-family minhash pipeline — generated
    from the same md5_permutation_family coefficients as the Spark
    operator (dedup/minhash.py), so signature, band bucketing (incl. the
    2..max_bucket_size bound applied before collection), candidate pairs,
    and the jaccard_est verification are all bit-identical."""
    from simpl_schema_spark.dedup.minhash import (
        MERSENNE61,
        md5_permutation_family,
    )

    a, b = md5_permutation_family(num_perm)
    rpb = num_perm // bands
    sig_mins = ",\n        ".join(
        f"min(({a[p]}::HUGEINT * h + {b[p]}) % {MERSENNE61})::BIGINT"
        for p in range(num_perm)
    )
    band_rows = "\n          union all\n".join(
        f"""          select id, {bi} as band_idx,
            ('0x' || substring(md5('{bi}_' ||
              array_to_string(sig[{bi * rpb + 1}:{(bi + 1) * rpb}], '_')),
              1, 15))::UBIGINT::BIGINT as band_hash
          from sigs"""
        for bi in range(bands)
    )
    return f"""
        with corpus as (
          select doc_id as id, text from documents where text is not null
          union all
          select doc_id + 10000, text from documents
           where doc_id < 20 and text is not null
        ), norm as (
          select id,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^\\p{{L}}\\p{{N}} ]', ' ', 'g'), '\\s+', ' ', 'g')) as t
            from corpus
        ), tokd as (
          select id,
                 list_filter(regexp_split_to_array(t, '\\s+'),
                             x -> x <> '') as toks
            from norm
        ), shingled as (
          select id,
                 list_distinct(case
                   when len(toks) >= {k} then
                     list_transform(range(1, len(toks) - {k} + 2),
                       j -> array_to_string(toks[j:j+{k - 1}], ' '))
                   when len(toks) > 0 then [array_to_string(toks, ' ')]
                   else [] end) as sh
            from tokd
        ), hashes as (
          select id,
                 ('0x' || substring(md5(s), 1, 15))::UBIGINT::BIGINT as h
            from shingled, unnest(sh) as t(s)
        ), sigs as (
          select id, [
        {sig_mins}
          ] as sig
            from hashes group by id
        ), bandtbl as (
{band_rows}
        ), kept as (
          select band_idx, band_hash from bandtbl
           group by 1, 2 having count(*) between 2 and {max_bucket}
        ), cands as (
          select distinct x.id as id_a, y.id as id_b
            from bandtbl x
            join bandtbl y using (band_idx, band_hash)
            join kept using (band_idx, band_hash)
           where x.id < y.id
        )
        select c.id_a, c.id_b,
               len(list_filter(range(1, {num_perm + 1}),
                   i -> sa.sig[i] = sb.sig[i]))::DOUBLE / {num_perm}
                 as jaccard_est
          from cands c
          join sigs sa on sa.id = c.id_a
          join sigs sb on sb.id = c.id_b
         where len(list_filter(range(1, {num_perm + 1}),
                   i -> sa.sig[i] = sb.sig[i]))::DOUBLE / {num_perm}
               >= {threshold}
    """


def _simhash_oracle(
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 500,
) -> str:
    """DuckDB replay of the md5-family simhash pipeline (dedup/simhash.py):
    per-token full-64-bit md5 hash (UNSIGNED here — same bit pattern as
    Spark's two's-complement signed long), per-bit majority vote with the
    strict 2·ones > n rule, 16-bit chunk bucketing with the 2..max bound,
    and bit_count-verified pairs."""
    chunk_bits = 64 // bands
    mask = (1 << chunk_bits) - 1
    counts = ",\n          ".join(
        f"sum((h >> {b}) & 1) as c{b}" for b in range(64)
    )
    word = " + ".join(
        f"(case when 2*c{b} > n then {1 << b}::UBIGINT else 0::UBIGINT end)"
        for b in range(64)
    )
    chunk_rows = "\n          union all\n".join(
        f"""          select id, w, {c} as chunk_idx,
            ((w >> {c * chunk_bits}) & {mask})::BIGINT as chunk_val
          from words"""
        for c in range(bands)
    )
    return f"""
        with corpus as (
          select doc_id as id, text from documents where text is not null
          union all
          select doc_id + 10000, text from documents
           where doc_id < 20 and text is not null
        ), norm as (
          select id,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^\\p{{L}}\\p{{N}} ]', ' ', 'g'), '\\s+', ' ', 'g')) as t
            from corpus
        ), tokd as (
          select id,
                 list_filter(regexp_split_to_array(t, '\\s+'),
                             x -> x <> '') as toks
            from norm
        ), hashes as (
          select id,
                 ('0x' || substring(md5(tok), 1, 16))::UBIGINT as h
            from tokd, unnest(toks) as u(tok)
        ), bitcounts as (
          select id, count(*) as n,
          {counts}
            from hashes group by id
        ), words as (
          select id, {word} as w
            from bitcounts
        ), chunked as (
{chunk_rows}
        ), kept as (
          select chunk_idx, chunk_val from chunked
           group by 1, 2 having count(*) between 2 and {max_bucket}
        )
        select distinct x.id as id_a, y.id as id_b,
               bit_count(xor(x.w, y.w))::INTEGER as hamming
          from chunked x
          join chunked y using (chunk_idx, chunk_val)
          join kept using (chunk_idx, chunk_val)
         where x.id < y.id
           and bit_count(xor(x.w, y.w)) <= {max_hamming}
    """


_OUTLINKS_ORACLE = """
    with d as (select doc_id, (doc_id % 41)::varchar as m from documents)
    select doc_id,
           'https://h' || ((doc_id*7 + 1) % 41)::varchar
               || '.example/x' || doc_id::varchar as outlink
      from d
    union all
    select doc_id,
           'https://h' || ((doc_id*7 + 14) % 41)::varchar
               || '.example/lib.css'
      from d
    union all
    select doc_id, 'https://h' || m || '.example/r' || doc_id::varchar from d
    union all
    select doc_id,
           'https://h' || m || '.example/a/b/s' || doc_id::varchar || '.html'
      from d
    union all
    select doc_id, 'https://h' || m || '.example/a/b/?page=2' from d
"""


def _pagerank_ctes(iterations: int = 3) -> str:
    """CTE chain replaying graph.pagerank in DuckDB — expects a prior
    CTE ``links(s, d)`` of raw (possibly self-loop / parallel) edges;
    defines ``edges → outw → trans → verts → nn → r0 … r{iterations}``.
    host_edges' self-loop drop and weight aggregation live in ``edges``;
    each ``r{i}`` unrolls one damped power step with dangling-mass
    redistribution.  Every float op (init 1/N, (1-0.85)/N base, per-edge
    fractions, dm/N) mirrors the Spark expression sequence; sums differ
    only in accumulation order, absorbed by callers' round(rank, 9)."""
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""
    r{i} as (
      select v.id,
             (cast(1 as double) - cast(0.85 as double)) / nn.n
             + cast(0.85 as double)
               * (coalesce(c.contrib, cast(0 as double)) + dg.dm / nn.n)
               as rank
        from verts v
        left join (
          select t.d as id, sum(r.rank * t.frac) as contrib
            from trans t join {prev} r on r.id = t.s
           group by t.d
        ) c using (id)
        cross join (
          select coalesce(sum(rank), cast(0 as double)) as dm
            from {prev} where id not in (select s from outw)
        ) dg
        cross join nn
    )""")
        prev = f"r{i}"
    return f"""
    edges as (
      select s, d, count(*)::double as w
        from links where s <> d group by s, d
    ),
    outw as (select s, sum(w) as ow from edges group by s),
    trans as (
      select e.s, e.d, e.w / o.ow as frac
        from edges e join outw o using (s)
    ),
    verts as (
      select s as id from edges union select d from edges
    ),
    nn as (select count(*)::double as n from verts),
    r0 as (
      select id, cast(1 as double) / nn.n as rank from verts cross join nn
    ),{",".join(its)}"""


def _host_pagerank_oracle(iterations: int = 3, n_hosts: int = 41) -> str:
    """DuckDB replay of q_host_pagerank: its deterministic dangling-host
    link table + the shared :func:`_pagerank_ctes` unrolled iteration."""
    link_branches = "\n      union all\n".join(
        f"""      select (doc_id % {n_hosts}) as s,
             ((doc_id*7 + {13 * k + 1}) % {n_hosts}) as d
        from documents where (doc_id % {n_hosts}) % 7 <> 3"""
        for k in range(3)
    )
    return f"""
    with links as (
{link_branches}
    ),
    {_pagerank_ctes(iterations)}
    select 'h' || id::varchar || '.example' as host,
           round(rank, 9) as rank
      from r{iterations}
"""


_EMB_PTS_SQL = """
      select vec_id as id,
             list_transform(embedding, x -> x::double) as v
        from embeddings
       where vec_id is not null and embedding is not null
"""


def _kmeans_ctes(
    k: int = 8,
    iterations: int = 2,
    dim: int = 64,
    pts_sql: str = _EMB_PTS_SQL,
) -> str:
    """DuckDB replay of sim/kmeans.kmeans_assign — md5-hash init, one
    unrolled CTE per assignment pass, centroid re-average with the same
    9-dp rounding.  Distances are identical left-fold sums over the
    same positions, so the argmin (ties -> smallest cid) matches
    bit-for-bit; centroid means differ only in accumulation order,
    absorbed by the 9-dp rounding before the next pass.  Emits CTEs
    ``pts, c0, a1 [, c1, a2, …]``; callers append their final select
    over ``a{iterations}`` (columns id, v, cid, d)."""
    dist = ("list_sum(list_transform(list_zip(p.v, c.c), "
            "z -> (z[1]-z[2])*(z[1]-z[2])))")
    parts = [f"""
    with pts as ({pts_sql}),
    c0 as (
      select (row_number() over (
                order by ('0x' || substring(md5(id::varchar), 1, 8))::ubigint,
                         id
              ) - 1)::int as cid,
             v as c
        from pts
      qualify cid < {k}
    )"""]
    for i in range(1, iterations + 1):
        parts.append(f""",
    a{i} as (
      select p.id, p.v, c.cid, {dist} as d
        from pts p cross join c{i - 1} c
      qualify row_number() over (partition by p.id order by d, c.cid) = 1
    )""")
        if i < iterations:
            parts.append(f""",
    c{i} as (
      select cid, list(round(m, 9) order by pos) as c
        from (
          select a.cid, g.pos, avg(a.v[g.pos]) as m
            from a{i} a, unnest(generate_series(1, {dim})) as g(pos)
           group by a.cid, g.pos
        )
       group by cid
    )""")
    return "".join(parts)


def _kmeans_oracle(k: int = 8, iterations: int = 2, dim: int = 64) -> str:
    return (
        _kmeans_ctes(k, iterations, dim)
        + f"\n    select id, cid as cluster, round(d, 6) as dist"
          f" from a{iterations}\n"
    )


def _semantic_dedup_oracle(
    k: int = 8, iterations: int = 2, dim: int = 64, threshold: float = 0.95
) -> str:
    """DuckDB replay of q_semantic_dedup: the kmeans CTE chain over the
    dup-seeded embedding table, then the within-cluster self-join with
    the SAME cosine float sequence (left-fold dot and norms), filtered
    on the ROUNDED cosine so the threshold cut is cross-engine-stable."""
    pts_sql = f"""
      select vec_id as id,
             list_transform(embedding, x -> x::double) as v
        from embeddings
       where vec_id is not null and embedding is not null
      union all
      select vec_id + 100000 as id,
             list_transform(embedding, x -> x::double) as v
        from embeddings
       where vec_id < 10
         and vec_id is not null and embedding is not null
"""
    cos = """(
        case when (sqrt(list_sum(list_transform(x.v, e -> e*e)))
                   * sqrt(list_sum(list_transform(y.v, e -> e*e)))) > 0
             then list_sum(list_transform(list_zip(x.v, y.v),
                                          z -> z[1]*z[2]))
                  / (sqrt(list_sum(list_transform(x.v, e -> e*e)))
                     * sqrt(list_sum(list_transform(y.v, e -> e*e))))
             else cast(0 as double) end
    )"""
    return (
        _kmeans_ctes(k, iterations, dim, pts_sql)
        + f"""
    select x.id as id_a, y.id as id_b, x.cid as cluster,
           round({cos}, 6) as cos
      from a{iterations} x join a{iterations} y
        on x.cid = y.cid and x.id < y.id
     where round({cos}, 6) >= {threshold}
"""
    )


def _crawl_frontier_oracle(iterations: int = 3) -> str:
    """DuckDB replay of q_crawl_frontier: the outlinks oracle as a CTE,
    anti-join against the doc_id<250 crawl, the ≡1-mod-3 robots
    disallow-/r policy as arithmetic, the frontier link table, the
    shared pagerank CTE chain, and the same (rank desc, url asc)
    top-200 cut — deterministic because ranks are rounded BEFORE the
    order/limit and outlink is unique after the distinct."""
    return f"""
    with ol as ({_OUTLINKS_ORACLE}),
    newl as (
      select distinct outlink from ol
       where outlink not in (select outlink from ol where doc_id < 250)
    ),
    allowed as (
      select outlink,
             lower(regexp_extract(outlink, '^[^/?#]*//([^/?#]*)', 1)) as host
        from newl
       where not (
         (regexp_extract(outlink, '^https://h([0-9]+)\\.example', 1)::bigint
            % 3 = 1)
         and regexp_matches(outlink, '^https://[^/?#]*/r')
       )
    ),
    links as (
      select (doc_id % 41) as s, ((doc_id*7 + 1) % 41) as d from documents
      union all
      select (doc_id % 41), ((doc_id*7 + 14) % 41) from documents
    ),
    {_pagerank_ctes(iterations)},
    pr as (
      select 'h' || id::varchar || '.example' as host,
             round(rank, 9) as rank
        from r{iterations}
    )
    select a.outlink, a.host, pr.rank
      from allowed a join pr using (host)
     order by pr.rank desc, a.outlink
     limit 200
"""


_LM_PERPLEXITY_ORACLE = """
    with tok as (
      select doc_id,
             list_filter(
               regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
               t -> t <> '') as toks
        from documents
    ),
    train_bi as (
      select u.z[1] as w1, u.z[2] as w2
        from tok, unnest(list_zip(toks[:-2], toks[2:])) as u(z)
       where doc_id % 10 < 8
    ),
    c2 as (select w1, w2, count(*) as c2 from train_bi group by w1, w2),
    c1 as (
      select u.w as w1, count(*) as c1
        from tok, unnest(toks) as u(w)
       where doc_id % 10 < 8
       group by u.w
    ),
    vv as (select count(*)::double as v from c1),
    score_bi as (
      select doc_id, u.z[1] as w1, u.z[2] as w2
        from tok, unnest(list_zip(toks[:-2], toks[2:])) as u(z)
    )
    select s.doc_id,
           count(*) as n_bigrams,
           round(avg(-ln(
             (coalesce(c2.c2, 0)::double + cast(0.1 as double))
             / (coalesce(c1.c1, 0)::double + cast(0.1 as double) * vv.v)
           )), 6) as avg_nll
      from score_bi s
      left join c2 using (w1, w2)
      left join c1 using (w1)
      cross join vv
     group by s.doc_id
"""


def oracle_sql() -> dict[str, str]:
    langs = ", ".join(f"'{l}'" for l in _ALLOWED_LANGS)
    return {
        "outlinks": _OUTLINKS_ORACLE,
        "host_pagerank": _host_pagerank_oracle(),
        "lm_perplexity": _LM_PERPLEXITY_ORACLE,
        "crawl_frontier": _crawl_frontier_oracle(),
        "kmeans_clusters": _kmeans_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "host_reciprocity": """
            with links as (
              select 'h' || (doc_id % 41)::varchar || '.example' as a,
                     'h' || ((doc_id*7 + 1) % 41)::varchar || '.example' as b
                from documents
              union all
              select 'h' || (doc_id % 41)::varchar || '.example',
                     'h' || ((doc_id*7 + 14) % 41)::varchar || '.example'
                from documents
            ),
            e as (select distinct a, b from links where a <> b),
            r as (
              select e.a, case when ex.a is not null then 1 else 0 end as rr
                from e left join e ex on ex.a = e.b and ex.b = e.a
            )
            select a as host,
                   count(*) as n_out,
                   sum(rr)::bigint as n_reciprocal,
                   round(sum(rr) / count(*)::double, 6) as reciprocity
              from r group by a
        """,
        "nchars_histogram": """
            with base as (
              select n_chars::double as x from documents
               where n_chars is not null
            ),
            rng as (select min(x) as lo, max(x) as hi from base),
            binned as (
              select case when r.hi <= r.lo then 0
                          else greatest(0, least(11,
                            floor((b.x - r.lo)
                                  / ((r.hi - r.lo) / cast(12 as double)))::int))
                     end as bin,
                     r.lo as lo, r.hi as hi
                from base b cross join rng r
            )
            select bin,
                   round(lo + bin * ((hi - lo) / cast(12 as double)), 6)
                     as bin_lo,
                   round(lo + (bin + 1) * ((hi - lo) / cast(12 as double)), 6)
                     as bin_hi,
                   count(*) as n
              from binned
             group by bin, lo, hi
        """,
        "vocab_coverage": r"""
            with toks as (
              select u.t as token
                from documents,
                     unnest(list_filter(
                       regexp_split_to_array(text, '\s+'), x -> x <> ''))
                     as u(t)
               where text is not null
            ),
            freqs as (select token, count(*) as n from toks group by token),
            top as (select n from freqs order by n desc, token limit 500),
            agg as (
              select count(*) as n_vocab,
                     coalesce(sum(n), 0)::bigint as covered
                from top
            ),
            tot as (
              select coalesce(sum(n), 0)::bigint as total from freqs
            )
            select 500 as vocab_size, n_vocab, covered, total,
                   round(case when total > 0
                              then covered / total::double
                              else cast(0 as double) end, 6) as coverage
              from agg cross join tot
        """,
        "gopher_quality": """
            with base as (
              select doc_id, text,
                     list_transform(
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> ''),
                       w -> lower(w)) as toks,
                     list_filter(
                       list_transform(regexp_split_to_array(text, '\\n'),
                                      l -> trim(l)),
                       l -> l <> '') as lines
                from documents where text is not null
            ), c as (
              select doc_id,
                     len(toks)::int as n_words,
                     round(case when len(toks) > 0
                       then list_sum(list_transform(toks, w -> length(w)))::double
                            / len(toks) else cast(0 as double) end, 6)
                       as mean_word_len,
                     round(case when len(toks) > 0
                       then len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::double
                            / len(toks) else cast(0 as double) end, 6)
                       as symbol_ratio,
                     round(case when len(lines) > 0
                       then len(list_filter(lines,
                              l -> regexp_matches(l, '^[-*•]')))::double
                            / len(lines) else cast(0 as double) end, 6)
                       as bullet_frac,
                     round(case when len(lines) > 0
                       then len(list_filter(lines,
                              l -> regexp_matches(l, '(\\.\\.\\.|…)$')))::double
                            / len(lines) else cast(0 as double) end, 6)
                       as ellipsis_frac,
                     round(case when len(toks) > 0
                       then len(list_filter(toks,
                              w -> regexp_matches(w, '\\p{L}')))::double
                            / len(toks) else cast(0 as double) end, 6)
                       as alpha_frac,
                     len(list_filter(
                       ['the','be','to','of','and','that','have','with'],
                       s -> list_contains(toks, s)))::int as n_stopwords
                from base
            )
            select doc_id, n_words, mean_word_len, symbol_ratio,
                   bullet_frac, ellipsis_frac, alpha_frac, n_stopwords,
                   (n_words between 30 and 100000
                    and mean_word_len between 3.0 and 10.0
                    and symbol_ratio <= 0.1
                    and bullet_frac <= 0.9
                    and ellipsis_frac <= 0.3
                    and alpha_frac >= 0.8
                    and n_stopwords >= 1) as passes
              from c
        """,
        "nfc_normalize": """
            select doc_id,
                   nfc_normalize(
                     text || ' e' || chr(769) || ' A' || chr(778)
                          || ' e' || chr(776) || chr(769)
                   ) as nfc_text,
                   length(nfc_normalize(
                     text || ' e' || chr(769) || ' A' || chr(778)
                          || ' e' || chr(776) || chr(769)
                   )) as nfc_len
              from documents
             where text is not null
        """,
        "anchor_profile": """
            with a as (
              select 'h' || ((doc_id*7 + 1) % 41)::varchar || '.example'
                         as dst_host,
                     'w' || (doc_id % 13)::varchar as term
                from documents
              union all
              select 'h' || ((doc_id*7 + 1) % 41)::varchar || '.example',
                     'v' || (doc_id % 5)::varchar
                from documents
              union all
              select 'h' || ((doc_id*3 + 2) % 41)::varchar || '.example',
                     'w' || (doc_id % 13)::varchar
                from documents
            ), c as (
              select dst_host, term, count(*) as n
                from a group by dst_host, term
            )
            select dst_host, term, n from c
            qualify row_number() over (
              partition by dst_host order by n desc, term
            ) <= 3
        """,
        "lang_id": _lang_id_oracle(),
        "minhash_near_dups": _minhash_oracle(),
        "simhash_near_dups": _simhash_oracle(),
        "winnow_fingerprints": _winnow_fingerprints_oracle(),
        "winnow_dups": _winnow_dups_oracle(),
        "user_sessions": """
            with s as (
              select user_id, event_id, ts,
                     case when lag(epoch_us(ts)) over w is null
                            or epoch_us(ts) - lag(epoch_us(ts)) over w
                               <= 1800000000
                          then 0 else 1 end as brk
                from events
              window w as (partition by user_id order by ts, event_id)
            ), sx as (
              select user_id, event_id, ts,
                     sum(brk) over (
                       partition by user_id order by ts, event_id
                       rows between unbounded preceding and current row
                     ) as session_idx
                from s
            )
            select user_id,
                   session_idx::bigint as session_idx,
                   count(*)::bigint as n_events,
                   min(epoch_us(ts))::bigint as start_us,
                   max(epoch_us(ts))::bigint as end_us,
                   (max(epoch_us(ts)) - min(epoch_us(ts)))::bigint
                       as duration_us,
                   min(event_id)::bigint as first_event_id
              from sx group by 1, 2
        """,
        "validate_modifiers": f"""
            select doc_id, 'lang' as name, 'notAllowed' as type, lang as value
              from documents where lang not in ({langs})
            union all
            select doc_id, 'n_chars', 'maxNumber', cast(n_chars as varchar)
              from documents where n_chars > {_NCHARS_MAX}
            union all
            select doc_id, 'text', 'required', cast(null as varchar)
              from documents
            union all
            select doc_id, 'source', 'regEx', source
              from documents where not regexp_matches(source, '{_SOURCE_RE}')
        """,
        "validate_object_set": f"""
            select doc_id, 'meta.lang' as name, 'notAllowed' as type,
                   lang as value
              from documents
             where doc_id % 11 <> 0 and lang not in ({langs})
            union all
            select doc_id, 'meta.lang', 'required', cast(null as varchar)
              from documents where doc_id % 11 = 0
            union all
            select doc_id, 'meta.n', 'maxNumber', cast(n_chars as varchar)
              from documents where n_chars > {_NCHARS_MAX}
            union all
            select doc_id, 'meta.extra', 'keyNotInSchema', 'null'
              from documents where doc_id % 7 = 0
        """,
        "validate_json_docs": f"""
            select doc_id, 'lang' as name, 'required' as type
              from documents where doc_id % 11 = 0
            union all
            select doc_id, 'lang', 'notAllowed'
              from documents
             where doc_id % 11 <> 0 and lang not in ({langs})
            union all
            select doc_id, 'n', 'expectedType'
              from documents where doc_id % 13 = 0
            union all
            select doc_id, 'n', 'maxNumber'
              from documents
             where doc_id % 13 <> 0 and n_chars > {_NCHARS_MAX}
            union all
            select doc_id, 'extra', 'keyNotInSchema'
              from documents where doc_id % 7 = 0
            union all
            select doc_id, 'tags.1', 'maxString'
              from documents where doc_id % 5 = 0 and length(source) > 4
            union all
            select doc_id, 'tags.2', 'expectedType'
              from documents where doc_id % 10 = 0
        """,
        "validate_documents": f"""
            select doc_id, 'text' as name, 'minString' as type, text as value
              from documents where length(text) < {_TEXT_MIN}
            union all
            select doc_id, 'lang', 'notAllowed', lang
              from documents where lang not in ({langs})
            union all
            select doc_id, 'source', 'regEx', source
              from documents where not regexp_matches(source, '{_SOURCE_RE}')
            union all
            select doc_id, 'n_chars', 'maxNumber', cast(n_chars as varchar)
              from documents where n_chars > {_NCHARS_MAX}
        """,
        "column_stats": """
            select 'doc_id' as column, count(*) as n_rows,
                   sum(case when doc_id is null then 1 else 0 end)::bigint as null_count,
                   cast(min(doc_id) as varchar) as min_value,
                   cast(max(doc_id) as varchar) as max_value
              from documents
            union all
            select 'text', count(*),
                   sum(case when text is null then 1 else 0 end)::bigint,
                   min(text), max(text) from documents
            union all
            select 'lang', count(*),
                   sum(case when lang is null then 1 else 0 end)::bigint,
                   min(lang), max(lang) from documents
            union all
            select 'source', count(*),
                   sum(case when source is null then 1 else 0 end)::bigint,
                   min(source), max(source) from documents
            union all
            select 'n_chars', count(*),
                   sum(case when n_chars is null then 1 else 0 end)::bigint,
                   cast(min(n_chars) as varchar), cast(max(n_chars) as varchar)
              from documents
        """,
        "duplicate_orderkeys": """
            select l_orderkey, count(*) as dup_count
              from lineitem group by l_orderkey having count(*) > 1
        """,
        "referential_events": """
            select e.event_id, e.user_id
              from events e
             where e.user_id is not null
               and not exists (
                   select 1 from customer c
                    where c.c_custkey < 100 and c.c_custkey = e.user_id)
        """,
        "lang_chi2_drift": """
            with base as (
                select lang as category, count(*) as cnt from documents group by 1
            ), cur as (
                select lang as category, count(*) as obs
                  from documents where source = 'src0' group by 1
            ), joined as (
                select coalesce(b.category, c.category) as category,
                       coalesce(c.obs, 0) as obs, coalesce(b.cnt, 0) as base_cnt
                  from base b full outer join cur c using (category)
            ), tot as (
                select sum(obs) as n_cur, sum(base_cnt) as n_base from joined
            ), per as (
                select obs,
                       case when base_cnt > 0
                            then base_cnt / t.n_base * t.n_cur
                            else 0.5 end as expected
                  from joined, tot t
            )
            select round(sum((obs - expected) * (obs - expected) / expected), 4)
                     as statistic,
                   count(*) - 1 as dof,
                   sum(obs)::bigint as n_current
              from per
        """,
        "lang_psi_drift": """
            with base as (
                select lang as category, count(*) as cnt from documents group by 1
            ), cur as (
                select lang as category, count(*) as obs
                  from documents where source = 'src1' group by 1
            ), joined as (
                select coalesce(b.category, c.category) as category,
                       coalesce(c.obs, 0) as obs, coalesce(b.cnt, 0) as base_cnt
                  from base b full outer join cur c using (category)
            ), tot as (
                select sum(obs) as n_cur, sum(base_cnt) as n_base from joined
            ), per as (
                select obs,
                       greatest(obs / t.n_cur, 1e-4) as p_cur,
                       greatest(base_cnt / t.n_base, 1e-4) as p_base
                  from joined, tot t
            )
            select round(sum((p_cur - p_base) * ln(p_cur / p_base)), 6) as psi,
                   sum(obs)::bigint as n_current,
                   count(*)::bigint as n_categories
              from per
        """,
        "nchars_psi_drift": """
            with binned as (
                select case when n_chars >= 400 then 4
                            when n_chars >= 300 then 3
                            when n_chars >= 200 then 2
                            when n_chars >= 100 then 1
                            else 0 end as bin,
                       case when source = 'src2' then 1 else 0 end as is_cur
                  from documents where n_chars is not null
            ), c as (
                select bin,
                       sum(is_cur) as obs,
                       count(*) as base_cnt
                  from binned group by 1
            ), tot as (
                select sum(obs) as n_cur, sum(base_cnt) as n_base from c
            ), per as (
                select greatest(obs / t.n_cur, 1e-4) as p_cur,
                       greatest(base_cnt / t.n_base, 1e-4) as p_base,
                       obs, base_cnt
                  from c, tot t
            )
            select round(sum((p_cur - p_base) * ln(p_cur / p_base)), 6) as psi,
                   sum(obs)::bigint as n_current,
                   sum(base_cnt)::bigint as n_baseline
              from per
        """,
        "ks_drift_nchars": """
            with cur as (
                select cast(n_chars as double) x, count(*) c
                  from documents where source = 'src0' and n_chars is not null
                 group by 1
            ), base as (
                select cast(n_chars as double) x, count(*) c
                  from documents where n_chars is not null group by 1
            ), merged as (
                select coalesce(cur.x, base.x) as x,
                       coalesce(cur.c, 0) as c_cur, coalesce(base.c, 0) as c_base
                  from cur full outer join base on cur.x = base.x
            ), tot as (
                select sum(c_cur) n_cur, sum(c_base) n_base from merged
            ), e as (
                select sum(c_cur) over (order by x) as cum_cur,
                       sum(c_base) over (order by x) as cum_base
                  from merged
            )
            select round(max(abs(cum_cur * 1.0 / t.n_cur
                                 - cum_base * 1.0 / t.n_base)), 6)
                     as ks_statistic
              from e, tot t
        """,
        "exact_dup_groups": f"""
            with dd as ({_DUP_DOCS_SQL}),
            keyed as (
                select doc_id, md5({_NORM_SQL}) as fp
                  from dd where text is not null
            )
            select fp, count(*) as n_docs,
                   min(doc_id) as min_doc_id, max(doc_id) as max_doc_id
              from keyed group by fp having count(*) > 1
        """,
        "token_counts": """
            select doc_id,
                   case when text is null then null
                        when trim(text) = '' then 0
                        else length(regexp_split_to_array(trim(text), '\\s+'))
                   end::bigint as n_tokens
              from documents
        """,
        "quality_components": """
            with toks as (
                select doc_id,
                       length(text)::bigint as n_chars_text,
                       length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::bigint
                         as alpha_chars,
                       case when trim(text) = '' then []
                            else regexp_split_to_array(trim(text), '\\s+')
                       end as t
                  from documents
            )
            select doc_id, n_chars_text, alpha_chars,
                   length(t)::bigint as n_tokens,
                   len(list_filter(t, x -> list_contains(
                       ['the','and','of','to','a','in','is','that','it','for'],
                       lower(x))))::bigint as n_stopwords
              from toks
        """,
        "ivf_topk": """
            with q as (
                select vec_id as query_id, embedding as q_vec
                  from embeddings where vec_id < 5
            ), scored as (
                select q.query_id, e.vec_id as neighbor_id,
                       list_cosine_similarity(e.embedding, q.q_vec) as score
                  from embeddings e, q
                 where e.vec_id != q.query_id
            ), ranked as (
                select query_id, neighbor_id,
                       row_number() over (partition by query_id
                                          order by score desc, neighbor_id) as rank
                  from scored
            )
            select query_id, neighbor_id, rank from ranked where rank <= 3
        """,
        "ann_topk": """
            with q as (
                select vec_id as query_id, embedding as q_vec
                  from embeddings where vec_id < 5
            ), scored as (
                select q.query_id, e.vec_id as neighbor_id,
                       list_cosine_similarity(e.embedding, q.q_vec) as score
                  from embeddings e, q
                 where e.vec_id != q.query_id
            ), ranked as (
                select query_id, neighbor_id,
                       row_number() over (partition by query_id
                                          order by score desc, neighbor_id) as rank
                  from scored
            )
            select query_id, neighbor_id, rank from ranked where rank <= 3
        """,
        "clean_documents": """
            with dirty as (
                select doc_id,
                       case when doc_id % 7 = 0
                            then '  ' || text || chr(9) else text end as text,
                       case when doc_id % 13 = 0 then '' else lang end as lang
                  from documents
            )
            select doc_id,
                   nullif(trim(text, ' ' || chr(9) || chr(10) || chr(11)
                               || chr(12) || chr(13)), '') as text,
                   nullif(trim(lang, ' ' || chr(9) || chr(10) || chr(11)
                               || chr(12) || chr(13)), '') as lang
              from dirty
        """,
        "ngram_jaccard_dups": f"""
            with dd as ({_DUP_DOCS_SQL})
            select a.doc_id as id_a, b.doc_id as id_b, cast(1.0 as double) as jaccard
              from dd a join dd b
                on {_NORM_SQL.replace('text', 'a.text')} =
                   {_NORM_SQL.replace('text', 'b.text')}
               and a.doc_id < b.doc_id
             where a.text is not null and b.text is not null
        """,
        # independent EXPECTED derivation (not a re-run of the normalizer):
        # the synthesized messy URL canonicalizes to exactly this form
        "url_normalized": """
            select doc_id,
                   'https://www.' || lower(source) || '.example.com/Page/'
                       || cast(doc_id as varchar) || '?id='
                       || cast(doc_id as varchar) as url_norm,
                   'www.' || lower(source) || '.example.com' as host,
                   'example.com' as domain
              from documents
        """,
        "html_extract": """
            select doc_id,
                   trim(regexp_replace(
                       'T ' || source || ' ' || text, '\\s+', ' ', 'g'
                   )) as extracted
              from documents
             where text is not null
        """,
        "repetition_metrics": r"""
            with mod as (
                select doc_id,
                       text || chr(10) || substring(text, 1, 40)
                            || chr(10) || substring(text, 1, 40) as t
                  from documents where text is not null
            ), lined as (
                select doc_id, t,
                       list_filter([trim(x) for x in string_split(t, chr(10))],
                                   x -> x <> '') as lines,
                       list_filter(string_split_regex(t, '\s+'),
                                   x -> x <> '')[1:2000] as w
                  from mod
            ), grams as (
                select doc_id, lines, w,
                       case when len(w) >= 2 then
                           [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
                       else null end as gs
                  from lined
            )
            select doc_id,
                   case when len(lines) > 1 then
                       (len(lines) - len(list_distinct(lines)))::double
                           / len(lines)
                   else 0.0 end as dup_line_frac,
                   case when len(w) >= 2 then
                       list_max([len(list_filter(gs, x -> x = g))
                                 for g in list_distinct(gs)])::double
                           / (len(w) - 1)
                   else 0.0 end as top_bigram_cov
              from grams
        """,
        "ngram_contamination": f"""
            with norm as (
                select doc_id, {_NORM_SQL} as t
                  from documents where text is not null
            ), toks as (
                select doc_id, string_split(t, ' ') as w
                  from norm where t <> ''
            ), grams as (
                select doc_id,
                       case when len(w) >= 5 then
                           list_distinct([array_to_string(w[i:i+4], ' ')
                                          for i in range(1, len(w) - 3)])
                       else [array_to_string(w, ' ')] end as gs
                  from toks
            ), ev as (
                select distinct unnest(gs) as g from grams where doc_id < 20
            ), tr as (
                select doc_id, unnest(gs) as g from grams
            )
            select tr.doc_id, count(*) as n_shared
              from tr join ev using (g)
             group by tr.doc_id
        """,
        "url_psl_domains": """
            select doc_id,
                   case when doc_id % 3 = 0 then 'site.co.uk'
                        when doc_id % 3 = 1 then 'site.com.au'
                        else 'site.com' end as domain
              from documents
        """,
        "hash_sample_docs": """
            select doc_id, lang from documents
             where ('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))::uint64
                   < 1073741824
        """,
        "lang_stratified_sample": """
            select doc_id, lang from (
                select doc_id, lang,
                       row_number() over (
                           partition by lang
                           order by ('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))::uint64,
                                    doc_id
                       ) as rn
                  from documents
            ) where rn <= 5
        """,
        "top_tokens": r"""
            select token, n from (
                select token, count(*) as n
                  from (
                    select unnest(string_split_regex(text, '\s+')) as token
                      from documents where text is not null
                  )
                 where token <> ''
                 group by token
            )
            order by n desc, token
            limit 20
        """,
        "tfidf_top_terms": r"""
            with toks as (
                select doc_id, unnest(string_split_regex(text, '\s+')) as token
                  from documents where text is not null
            ), tt as (
                select doc_id, token from toks where token <> ''
            ), tf as (
                select doc_id, token, count(*) as tf from tt group by 1, 2
            ), dfreq as (
                select token, count(distinct doc_id) as df from tt group by 1
            ), n as (
                select count(*) as n_docs from documents where text is not null
            ), scored as (
                select tf.doc_id, tf.token, tf.tf, dfreq.df,
                       tf.tf * ln(n.n_docs / dfreq.df) as tf_idf
                  from tf join dfreq using (token), n
            ), ranked as (
                select doc_id, token, tf, df,
                       row_number() over (partition by doc_id
                                          order by round(tf_idf * 1e6)::bigint desc,
                                                   token) as rank
                  from scored
            )
            select doc_id, token, tf, df, rank from ranked where rank <= 3
        """,
        "near_dup_components": f"""
            with dd as ({_DUP_DOCS_SQL}),
            g as (
                select doc_id,
                       min(doc_id) over (partition by {_NORM_SQL}) as component,
                       count(*) over (partition by {_NORM_SQL}) as n
                  from dd where text is not null
            )
            select doc_id, component from g where n > 1
        """,
        "vector_violations": """
            select vec_id, 'embedding' as name,
                   case when vec_id % 13 = 0 then 'expectedDim'
                        when vec_id % 17 = 0 then 'nonFinite'
                        when vec_id % 19 = 0 then 'zeroVector' end as type
              from embeddings
             where vec_id % 13 = 0 or vec_id % 17 = 0 or vec_id % 19 = 0
        """,
        "training_pipeline": f"""
            with kept as (
                select min(doc_id) as doc_id
                  from documents
                 where text is not null
                 group by {_NORM_SQL}
            )
            select d.doc_id, d.lang, d.n_chars
              from documents d join kept k using (doc_id)
             where d.lang in ({langs}) and d.n_chars <= {_NCHARS_MAX}
               and ('0x' || substring(md5(cast(d.doc_id as varchar)), 1, 8))::uint64
                   < 2147483648
        """,
        "pii_redaction": _pii_oracle_sql(),
        "quality_filter": """
            with r as (
                select doc_id, n_chars,
                       (rank() over (order by n_chars) - 1)::bigint
                         as n_below,
                       (count(*) over ())::bigint as n_total
                  from documents
                 where n_chars is not null
            )
            select doc_id, n_chars, n_below, n_total
              from r
             where n_total > 1 and n_below >= 0.8 * (n_total - 1)
        """,
        "fix_encoding": _fix_encoding_oracle_sql(),
        "remove_common_lines": """
            with d as (
                select doc_id,
                       text || chr(10) || '  footer line ' ||
                       cast(doc_id % 3 as varchar) || chr(10) ||
                       substring(text, 1, 25) as t
                  from documents
                 where text is not null
            ), l as (
                select doc_id,
                       unnest(string_split(t, chr(10))) as line,
                       unnest(generate_series(
                           1, len(string_split(t, chr(10))))) as ord
                  from d
            ), hot as (
                select trim(line) as k
                  from l
                 where trim(line) <> ''
                 group by 1
                having count(distinct doc_id) >= 5
            )
            select l.doc_id,
                   coalesce(
                       string_agg(l.line, chr(10) order by l.ord)
                           filter (where h.k is null),
                       ''
                   ) as text,
                   (count(*) filter (where h.k is not null))::bigint
                     as n_removed
              from l left join hot h on trim(l.line) = h.k
             group by l.doc_id
        """,
        "sequence_chunks": r"""
            with t as (
                select doc_id,
                       case when text is null then 0
                            when trim(text) = '' then 0
                            else length(regexp_split_to_array(trim(text), '\s+'))
                       end::bigint as n_tokens
                  from documents
            ), p as (
                select doc_id, n_tokens,
                       coalesce(sum(n_tokens) over (
                           order by doc_id
                           rows between unbounded preceding and 1 preceding
                       ), 0)::bigint as tok_start
                  from t
            )
            select doc_id, n_tokens, tok_start,
                   (tok_start // 512)::bigint as chunk_first,
                   ((tok_start + greatest(n_tokens, 1) - 1) // 512)::bigint
                     as chunk_last,
                   ((tok_start + greatest(n_tokens, 1) - 1) // 512
                    - tok_start // 512 + 1)::bigint as n_chunks
              from p
        """,
        "url_keep_best": """
            with u as (
                select 'https://example.com/page/' ||
                       cast(doc_id % 97 as varchar) as url,
                       doc_id, n_chars
                  from documents
            ), r as (
                select url, doc_id, n_chars,
                       count(*) over (partition by url) as n_dups,
                       row_number() over (
                           partition by url order by n_chars desc, doc_id
                       ) as rn
                  from u
            )
            select url, doc_id as keep_id, n_chars as keep_score,
                   n_dups::bigint as n_dups
              from r where rn = 1
        """,
        "mixture_sample": _mixture_oracle_sql(),
        "webtext_pipeline": _webtext_pipeline_oracle_sql(),
        "robots_filter": """
            select doc_id,
                   case doc_id % 4
                     when 0 then 'https://a.com/public/p'
                                 || cast(doc_id as varchar)
                     when 3 then 'https://unknown.org/x'
                                 || cast(doc_id as varchar)
                   end as url
              from documents
             where doc_id % 4 in (0, 3)
        """,
        "chunk_documents": r"""
            with t as (
                select doc_id,
                       list_filter(regexp_split_to_array(text, '\s+'),
                                   x -> x <> '') as w
                  from documents where text is not null
            ), tk as (
                select doc_id, w, len(w) as n from t where len(w) > 0
            ), c as (
                select doc_id, w,
                       unnest(generate_series(0, (n + 15) // 16 - 1))
                           as chunk_idx
                  from tk
            )
            select doc_id,
                   chunk_idx::bigint as chunk_idx,
                   len(w[chunk_idx*16+1 : chunk_idx*16+16])::bigint
                       as n_tokens,
                   array_to_string(w[chunk_idx*16+1 : chunk_idx*16+16], ' ')
                       as chunk_text
              from c
        """,
        "incremental_new": """
            select 'https://ex.org/p/' || cast(doc_id as varchar) as url,
                   doc_id
              from documents
             where doc_id >= 250
        """,
        "classifier_score": r"""
            with norm as (
                select doc_id,
                       coalesce(trim(regexp_replace(regexp_replace(
                           lower(text), '[^\p{L}\p{N} ]', ' ', 'g'),
                           '\s+', ' ', 'g')), '') as t
                  from documents
            ), tk as (
                select doc_id,
                       list_filter(string_split(t, ' '), x -> x <> '') as w
                  from norm
            ), tokrows as (
                select doc_id, unnest(w) as tok from tk
            ), bk as (
                select doc_id,
                       cast(('0x' || substring(md5(tok), 1, 8))::uint64
                            % 256 as bigint) as b
                  from tokrows
            ), agg as (
                select doc_id, count(*) as cnt,
                       sum((b % 13) - 6) as s
                  from bk group by doc_id
            )
            select n.doc_id,
                   coalesce(a.cnt, 0)::bigint as n_tokens,
                   (0.0 + coalesce(a.s, 0)
                          / greatest(coalesce(a.cnt, 0), 1))::double
                       as score
              from norm n left join agg a using (doc_id)
        """,
        "url_filter": """
            with u as (
                select doc_id, doc_id % 7 as m,
                       case doc_id % 7
                         when 0 then 'https://news.example.com/articles/'
                                     || cast(doc_id as varchar)
                         when 1 then 'https://spamhub.biz/casino/'
                                     || cast(doc_id as varchar)
                         when 2 then 'http://10.0.0.'
                                     || cast(doc_id % 250 as varchar)
                                     || '/r/' || cast(doc_id as varchar)
                         when 3 then 'https://blocked-one.com/p/'
                                     || cast(doc_id as varchar)
                         when 4 then 'https://ok.org/p?'
                                     || repeat('a=1&', 20) || 'z=1'
                         when 5 then 'https://shop.example.co.uk/item/'
                                     || cast(doc_id as varchar)
                         else 'https://fine.org/a/b/c/'
                              || cast(doc_id as varchar)
                       end as url
                  from documents
            )
            select doc_id, url from u where m in (0, 6)
        """,
        "domain_cap": """
            with u as (
                select doc_id,
                       'https://h' || cast(doc_id % 97 as varchar)
                       || '.site' || cast(doc_id % 97 as varchar)
                       || '.com/p/' || cast(doc_id as varchar) as url,
                       'site' || cast(doc_id % 97 as varchar) || '.com'
                           as dom
                  from documents
            ), r as (
                select doc_id, url,
                       row_number() over (
                           partition by dom
                           order by ('0x' || substring(
                                       md5(cast(doc_id as varchar)), 1, 8
                                     ))::uint64,
                                    doc_id
                       ) as rn
                  from u
            )
            select doc_id, url from r where rn <= 3
        """,
        "wet_roundtrip": """
            select doc_id,
                   'http://ex.test/doc/' || cast(doc_id as varchar) as url,
                   text
              from documents
             where text is not null
        """,
        "duplicate_spans": rf"""
            with base as (
                select doc_id,
                       text || case when doc_id % 3 = 0
                                    then ' {_BOILER}' else '' end as t
                  from documents where text is not null
            ), d as (
                select doc_id, t from base
                union all
                select doc_id + 10000 as doc_id, t from base
                 where doc_id < 20
            ), toks as (
                select doc_id,
                       list_filter(regexp_split_to_array(t, '\s+'),
                                   x -> x <> '') as w
                  from d
            ), tk as (
                select doc_id, w from toks where len(w) > 0
            ), g as (
                select doc_id,
                       unnest([array_to_string(w[i:i+11], chr(31))
                               for i in range(1, len(w) - 10)]) as gram,
                       unnest(generate_series(0, len(w) - 12)) as i
                  from tk where len(w) >= 12
            ), hot as (
                select gram from g group by gram having count(*) >= 2
            ), hits as (
                select doc_id, i from g join hot using (gram)
            ), isl as (
                select doc_id, i,
                       case when lag(i) over w is null
                                 or i - lag(i) over w > 12
                            then 1 else 0 end as nw
                  from hits
                window w as (partition by doc_id order by i)
            ), sp as (
                select doc_id, i,
                       sum(nw) over (partition by doc_id order by i
                                     rows unbounded preceding) as sid
                  from isl
            ), spans as (
                select doc_id, sid, min(i) as s, max(i) + 11 as e
                  from sp group by doc_id, sid
            ), removed as (
                select doc_id, sid,
                       unnest(generate_series(s, e)) as ri
                  from spans
            ), tokrows as (
                select doc_id,
                       unnest(w) as tok,
                       unnest(generate_series(0, len(w) - 1)) as idx
                  from tk
            )
            select t.doc_id,
                   coalesce(string_agg(t.tok, ' ' order by t.idx)
                            filter (where r.ri is null), '')
                       as text_deduped,
                   count(*)::bigint as n_tokens,
                   count(r.ri)::bigint as n_dup_tokens,
                   count(distinct r.sid)::bigint as n_spans
              from tokrows t
              left join removed r
                on t.doc_id = r.doc_id and t.idx = r.ri
             group by t.doc_id
        """,
    }
