"""Regression tests for edge cases outside the synthetic fixture's value
range (round-4 advice): zero-weight docs in the weighted reservoir,
out-of-window events in decayed scoring, NULL build keys in the bloom
join, and degenerate parquet files in the manifest harvest. Each builds
a hostile mini-fixture and re-runs the Spark query against its own
DuckDB oracle — same comparison the driver does."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from stream_processing_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle_util import compare


def _duck_on(tmpdir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmpdir}/{t}.parquet')"
        )
    return con


def test_weighted_reservoir_handles_zero_weight_docs(spark, tmp_path):
    # n_chars=0 → wt=0; Spark's sequence(0, -1) yields [0, -1] (step
    # defaults to -1) while DuckDB's range(0, 0) is empty — the query
    # must exclude zero-weight rows in BOTH engines
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT CAST(i AS BIGINT) AS doc_id,
                   repeat('x', CAST(i * 40 AS INT)) AS text,
                   'en' AS lang, 'web' AS source,
                   CAST(i * 40 AS BIGINT) AS n_chars
            FROM range(0, 30) t(i)
        ) TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    spec = REGISTRY["weighted_reservoir_sample"]
    got = spec.spark(spark, str(tmp_path))
    oracle = _duck_on(str(tmp_path), ["documents"])
    compare(got, oracle.sql(spec.oracle), "weighted_reservoir_zero_wt")
    # the zero-weight doc (i=0) must not appear at all
    assert got.filter(F.col("doc_id") == 0).count() == 0
    oracle.close()


def test_decayed_activity_clamps_out_of_window_events(spark, tmp_path):
    # events before anchor-30d or after the anchor would drive the
    # shift count negative (Spark masks mod 64; DuckDB HUGEINT
    # differs) — both engines must agree by filtering to the window
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT CAST(i AS BIGINT) AS event_id,
                   CASE
                     WHEN i % 4 = 0 THEN TIMESTAMP '2023-11-15 12:00:00'
                     WHEN i % 4 = 1 THEN TIMESTAMP '2024-02-20 12:00:00'
                     ELSE TIMESTAMP '2024-01-10 08:00:00'
                          + (i || ' hours')::INTERVAL
                   END AS ts,
                   CAST(i % 5 AS BIGINT) AS user_id,
                   'click' AS event_type,
                   ROUND(0.5 + i * 0.25, 2) AS value,
                   '{{}}' AS props
            FROM range(0, 40) t(i)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    spec = REGISTRY["decayed_user_activity"]
    got = spec.spark(spark, str(tmp_path))
    oracle = _duck_on(str(tmp_path), ["events"])
    compare(got, oracle.sql(spec.oracle), "decayed_out_of_window")
    oracle.close()


def test_bloom_build_ignores_null_keys(spark):
    from stream_processing_spark.operators import bloomjoin

    build = spark.createDataFrame(
        [(1,), (2,), (None,), (3,), (None,)], "k long"
    )
    big = spark.createDataFrame(
        [(1, "a"), (2, "b"), (4, "d"), (None, "n")], "k long, v string"
    )
    # must not raise on the NULL build keys
    words = bloomjoin.bloom_bitset(build, "k", m_bits=256)
    assert any(words)
    got = sorted(
        map(
            tuple,
            bloomjoin.bloom_join(big, build.distinct(), big_key="k")
            .select("k", "v")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, big.join(build.distinct(), on="k").select("k", "v").collect())
    )
    assert got == want == [(1, "a"), (2, "b")]


def test_manifest_tolerates_empty_and_schema_evolved_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_spark.sources import manifest as mf

    d = tmp_path / "tbl"
    d.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                  "v": pa.array([10, 20, 30], pa.int64())}),
        str(d / "part-000.parquet"),
    )
    # empty file: zero row groups
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64()), "v": pa.array([], pa.int64())}),
        str(d / "part-001.parquet"),
    )
    # schema-evolved old file missing column v
    pq.write_table(
        pa.table({"k": pa.array([100, 200], pa.int64())}),
        str(d / "part-002.parquet"),
    )
    man = mf.build_manifest(spark, str(d), ["k", "v"])
    assert man.count() == 6  # 3 files x 2 columns, none crashed
    # pruning on v must keep BOTH degenerate files (stats-less → kept)
    kept = mf.prune_files(man, {"v": (25, None)})
    names = {k.rsplit("/", 1)[-1] for k in kept}
    assert {"part-000.parquet", "part-001.parquet", "part-002.parquet"} <= names
    # pruning on k may drop part-000 (max 3 < 50) but keeps the others
    kept_k = {
        k.rsplit("/", 1)[-1] for k in mf.prune_files(man, {"k": (50, None)})
    }
    assert "part-000.parquet" not in kept_k
    assert {"part-002.parquet"} <= kept_k


def test_empty_corpus_degenerates_gracefully(spark, tmp_path):
    # round-4 self-audit: an EMPTY table (a day-slice with no data) must
    # yield empty results, not compile/driver errors. Previously the
    # k-means family crashed on array_max(array()) (VOID type) and
    # ivf_topk on a missing query row (NoneType subscript).
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT CAST(1 AS BIGINT) AS vec_id,
                       [0.1, 0.2]::DOUBLE[] AS embedding, 1 AS label
                WHERE false)
           TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT CAST(1 AS BIGINT) AS doc_id, '' AS text,
                       'en' AS lang, 'web' AS source, CAST(0 AS BIGINT) AS n_chars
                WHERE false)
           TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    oracle = _duck_on(str(tmp_path), ["embeddings", "documents"])
    for name in [
        "ann_ivf_topk", "ann_ivfpq_topk", "kmeans_cluster_assignments",
        "semantic_dedup_stats", "embedding_label_centroids",
        "dedup_connected_components", "curation_pipeline_yield",
        # round 8: empty corpus must not crash the iterative trainers
        # (classifier descent, MMR greedy loop, EM/power ladders)
        "dedup_exact_substring_spans", "mixture_dsir_weights",
        "mixture_dsir_resample", "quality_classifier_train",
        "quality_classifier_scores", "unigram_lm_train",
        "embedding_power_iteration_pc1", "retrieval_mmr_rerank_topk",
        "wordpiece_train_merges",
        # round 9: encode passes over an empty corpus
        "wordpiece_encode_source_stats", "unigram_encode_source_stats",
        # round 10: new doc/embedding operators over an empty corpus
        "ngram_novelty_scores", "mixture_temperature_resample",
        "embedding_dim_variance_topk", "source_similarity_minhash",
        "quality_ccnet_buckets",
        # round 10 third batch: empty corpus through the SNM blocking
        # window and the benchmark-decontamination broadcast
        "dedup_sorted_neighborhood_pairs",
        "decontaminate_embedding_neighbors",
        # round 10 fifth batch: empty corpus through the Zipf ln-ln fit
        "zipf_token_fit",
        # round 11: empty corpus through the packing walk, the chunk
        # explode, the preference-pair ranks, the Heaps fit, and the
        # JS pair frame
        "context_window_packing", "rag_chunk_offsets",
        "dpo_preference_pairs", "heaps_vocab_growth_fit",
        "corpus_js_divergence_sources",
    ]:
        spec = REGISTRY[name]
        got = spec.spark(spark, str(tmp_path))
        if spec.oracle:
            compare(got, oracle.sql(spec.oracle), f"empty:{name}")
        else:
            assert got.count() == 0, name
    oracle.close()


def test_null_bearing_fixture_matches_oracle(spark, tmp_path):
    # the synthetic testdata has no NULLs, so engine/oracle null
    # semantics were untested: sweep the core query classes over a
    # fixture with NULL text/lang/user_id/event_type/value (plus empty
    # strings) and require exact agreement with DuckDB.
    con = duckdb.connect()
    con.execute(
        f"""
    COPY (
      SELECT CAST(i AS BIGINT) AS doc_id,
             CASE WHEN i % 7 = 0 THEN NULL
                  WHEN i % 5 = 0 THEN ''
                  ELSE 'alpha beta gamma delta epsilon zeta eta theta '
                       || 'iota kappa tok' || CAST(i % 9 AS VARCHAR)
             END AS text,
             CASE WHEN i % 6 = 0 THEN NULL
                  ELSE (['en','de','fr'])[(i % 3) + 1] END AS lang,
             'src' || CAST(i % 3 AS VARCHAR) AS source,
             CAST(i * 11 AS BIGINT) AS n_chars
      FROM range(0, 60) t(i)
    ) TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""
    COPY (
      SELECT CAST(i AS BIGINT) AS event_id,
             TIMESTAMP '2024-01-10 00:00:00' + (i || ' hours')::INTERVAL AS ts,
             CASE WHEN i % 8 = 0 THEN NULL ELSE CAST(i % 5 AS BIGINT) END AS user_id,
             CASE WHEN i % 9 = 0 THEN NULL
                  ELSE (['view','click','purchase'])[(i % 3) + 1] END AS event_type,
             CASE WHEN i % 10 = 0 THEN NULL
                  ELSE ROUND(0.5 + i * 0.25, 2) END AS value,
             '{{"k": 1}}' AS props
      FROM range(0, 80) t(i)
    ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    oracle = _duck_on(str(tmp_path), ["documents", "events"])
    for name in [
        "dedup_exact_groups", "dedup_jaccard_pairs", "dedup_minhash_signatures",
        "dedup_simhash", "dedup_connected_components", "text_quality_stats",
        "text_lang_id", "text_token_counts", "sample_hash_pct",
        "sample_stratified_per_lang", "curation_pipeline_yield",
        "bpe_encode_source_stats", "t5_count_by_category", "t6_word_count",
        "funnel_view_click_purchase", "sessionize_user_sessions",
        "event_transition_matrix", "cohort_retention_daily",
        "decayed_user_activity", "weighted_reservoir_sample",
        "observed_ingest_metrics",
        # round 8: NULL text/lang/user_id through the new operators
        "dedup_exact_substring_spans", "mixture_dsir_weights",
        "mixture_dsir_resample", "quality_classifier_scores",
        "unigram_lm_train", "wordpiece_train_merges",
        "changepoint_cusum_daily_events", "quality_char_entropy",
        # round 9: NULL/empty text through the encode passes; NULL
        # user_id/value through the SCD2 history (null-safe collapse)
        "wordpiece_encode_source_stats", "unigram_encode_source_stats",
        "scd2_user_value_history",
        # round 10: NULL lang through the mixture/tercile paths, NULL
        # user_id/event_type through t-closeness and the nearest
        # as-of, NULL text through novelty and the source audit
        "ngram_novelty_scores", "mixture_temperature_resample",
        "t_closeness_report", "asof_nearest_click_to_purchase",
        "quality_ccnet_buckets", "seasonal_decompose_hourly_events",
        "source_similarity_minhash", "funnel_attribution_last_touch",
        "heartbeat_gap_report",
        # round 10 third batch: NULL text through the SNM key
        # (coalesce-to-'' blocking) and NULL value/user through the
        # day-spine ACF
        "dedup_sorted_neighborhood_pairs", "acf_daily_event_counts",
        # round 10 fourth batch: NULL value through the drift splits,
        # NULL event_type as a first-class MI group
        "ks_value_drift_report", "psi_value_drift", "mi_event_type_hour",
        # round 10 fifth batch: NULL text through the Zipf token
        # explode, NULL event_type as its own EWMA series
        "zipf_token_fit", "ewma_daily_forecast",
        # round 10 sixth batch: NULL user_id excluded from the survival
        # risk set and the A/B assignment
        "kaplan_meier_user_lifetime", "ab_conversion_ztest",
        # round 10 seventh batch: NULL user_id excluded from the
        # register stream and the exact count alike
        "hll_manual_distinct_users",
        # round 10 eighth batch: NULL text through the CMS token explode
        "cms_token_frequency_report",
        # round 11: NULL text excluded from packing/chunking/pairs/fits,
        # NULL event_type as a first-class chi2 level, NULL value/user
        # through the rank and CUPED splits, NULL user_id out of the
        # hazard risk set
        "context_window_packing", "rag_chunk_offsets",
        "dpo_preference_pairs", "heaps_vocab_growth_fit",
        "corpus_js_divergence_sources", "mann_whitney_value_drift",
        "cuped_adjusted_ab_metric", "chi2_event_type_drift",
        "nelson_aalen_cumulative_hazard",
    ]:
        spec = REGISTRY[name]
        compare(spec.spark(spark, str(tmp_path)), oracle.sql(spec.oracle),
                f"nulls:{name}")
    oracle.close()


def test_null_ts_and_null_embedding_matches_oracle(spark, tmp_path):
    # ADVICE r10: the null-bearing sweep above has no NULL timestamps
    # and no NULL embeddings, leaving three divergences untested —
    # (1) streaming_ks_drift_monitor's live filter must send NULL-ts
    # rows to the second half like the oracle's CASE, (2) the
    # Kaplan–Meier cumulative windows must pin NULL-lifetime placement
    # identically in both engines, (3) decontaminate must treat NULL
    # embeddings as cosine-NULL (unflagged) instead of crashing.
    con = duckdb.connect()
    con.execute(
        f"""
    COPY (
      SELECT CAST(i AS BIGINT) AS event_id,
             CASE WHEN i % 7 = 0 OR i >= 80 THEN NULL
                  ELSE TIMESTAMP '2024-01-10 00:00:00'
                       + (i * 3 || ' hours')::INTERVAL END AS ts,
             CASE WHEN i % 8 = 0 THEN NULL
                  WHEN i >= 80 THEN 77
                  ELSE CAST(i % 5 AS BIGINT) END AS user_id,
             CASE WHEN i % 9 = 0 THEN NULL
                  ELSE (['view','click','purchase'])[(i % 3) + 1]
             END AS event_type,
             CAST(CASE WHEN i % 10 = 0 THEN NULL
                  ELSE ROUND(0.5 + i * 0.25, 2) END AS DOUBLE) AS value,
             '{{}}' AS props
      FROM range(0, 85) t(i)
    ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"""
    )
    # user 77's every event has NULL ts → a NULL lifetime level in the
    # survival curve; NULL embeddings land both inside the pinned eval
    # slice (vec_id 0) and in the train split (multiples of 11)
    con.execute(
        f"""
    COPY (
      SELECT CAST(i AS BIGINT) AS vec_id,
             CASE WHEN i % 11 = 0 THEN NULL
                  ELSE [ROUND(SIN(i * 1.0), 6), ROUND(COS(i * 2.0), 6),
                        ROUND(SIN(i * 0.5), 6), ROUND(COS(i * 0.25), 6),
                        ROUND(SIN(i * 3.0), 6), ROUND(COS(i * 1.5), 6),
                        ROUND(SIN(i * 0.1), 6), ROUND(COS(i * 0.7), 6)
                       ]::DOUBLE[] END AS embedding,
             CAST(i % 3 AS INT) AS label
      FROM range(0, 120) t(i)
    ) TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    oracle = _duck_on(str(tmp_path), ["events", "embeddings"])
    for name in [
        "ks_value_drift_report", "psi_value_drift",
        "streaming_ks_drift_monitor", "kaplan_meier_user_lifetime",
        "decontaminate_embedding_neighbors",
        # round 11: NULL ts through the rank/CUPED/chi2 splits, the
        # hazard lifetime levels, and the streaming PSI live filter
        "mann_whitney_value_drift", "cuped_adjusted_ab_metric",
        "chi2_event_type_drift", "nelson_aalen_cumulative_hazard",
        "streaming_psi_drift_monitor",
    ]:
        spec = REGISTRY[name]
        compare(spec.spark(spark, str(tmp_path)), oracle.sql(spec.oracle),
                f"null_ts:{name}")
    oracle.close()


def test_unicode_text_matches_oracle(spark, tmp_path):
    # CJK / emoji / Arabic / Cyrillic / combining-char text through the
    # text-centric queries: length(), split, regexp, and md5 must agree
    # codepoint-for-codepoint between Spark and DuckDB.
    texts = [
        "héllo wörld naïve café résumé über schön",
        "日本語 テキスト 処理 エンジン です ね 漢字 かな まじり",
        "数据 处理 引擎 测试 文本 一 二 三 四 五",
        "🚀 emoji 🎉 test 🌍 tokens 🤖 here 🔥 ok",
        "مرحبا بالعالم هذا نص عربي للاختبار هنا الآن",
        "mixed 日本 ascii テスト emoji 🚀 combine é́ zalgo",
        "русский текст для проверки обработки языка здесь",
        "plain ascii text for the control group here now",
    ]
    con = duckdb.connect()
    rows = ", ".join(
        f"({i}, '{t}', 'xx', 'src{i % 3}', {len(t)})"
        for i, t in enumerate(texts * 5)
    )
    con.execute(
        f"""COPY (SELECT CAST(c0 AS BIGINT) doc_id, c1 AS text, c2 AS lang,
                        c3 AS source, CAST(c4 AS BIGINT) n_chars
                 FROM (VALUES {rows}) t(c0, c1, c2, c3, c4))
           TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    oracle = _duck_on(str(tmp_path), ["documents"])
    for name in [
        "text_quality_stats", "text_lang_id", "text_token_counts",
        "dedup_exact_groups", "dedup_jaccard_pairs",
        "dedup_minhash_signatures", "dedup_simhash",
        "bpe_encode_source_stats", "curation_pipeline_yield",
        "weighted_reservoir_sample", "sample_hash_pct",
        # round 8: codepoint-exact md5/split/substr through the new ops
        "dedup_exact_substring_spans", "mixture_dsir_resample",
        "quality_classifier_scores", "unigram_lm_train",
        "wordpiece_train_merges", "quality_char_entropy",
        # round 9: codepoint-exact substr/length through the greedy walk
        # and the Viterbi encode
        "wordpiece_encode_source_stats", "unigram_encode_source_stats",
        # round 10: codepoint-exact shingles/md5 through the novelty,
        # source-audit, mixture, and tercile paths
        "ngram_novelty_scores", "source_similarity_minhash",
        "mixture_temperature_resample", "quality_ccnet_buckets",
        # round 10 third batch: codepoint-exact lower()/substr through
        # the SNM sort key and shingle verification
        "dedup_sorted_neighborhood_pairs",
        # round 10 fifth batch: codepoint-exact token split through the
        # Zipf frequency table
        "zipf_token_fit",
        # round 10 eighth batch: codepoint-exact md5 row hashes through
        # the CMS counters
        "cms_token_frequency_report",
        # round 11: codepoint-exact length/substr/md5 through the chunk
        # offsets, token splits through packing, preference pairs, the
        # Heaps walk, and the JS histograms
        "context_window_packing", "rag_chunk_offsets",
        "dpo_preference_pairs", "heaps_vocab_growth_fit",
        "corpus_js_divergence_sources",
    ]:
        spec = REGISTRY[name]
        compare(spec.spark(spark, str(tmp_path)), oracle.sql(spec.oracle),
                f"unicode:{name}")
    oracle.close()


def test_minhash_signatures_rejects_bigint_shingles(spark):
    # md5-seeded min-hash is value-bearing: a hash64 shingle frame would
    # be cast to decimal text and give silently different signatures
    from stream_processing_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="string shingles"):
        dd.minhash_signatures(dd.shingles(docs, n=3, hash64=True), k=4)
    sigs = dd.minhash_signatures(dd.shingles(docs, n=3), k=4)
    assert sigs.count() == 2


@pytest.mark.parametrize("algorithm", ["auto", "star", "propagation"])
@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_rejects_nonpositive_max_iter(
    spark, algorithm, max_iter
):
    # every algorithm refuses a zero round budget up front, instead of
    # auto/propagation answering identity labels and star answering
    # whatever its seed edges say
    from stream_processing_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=max_iter, algorithm=algorithm)


@pytest.mark.parametrize("fn", ["jaccard_pairs", "containment_pairs"])
@pytest.mark.parametrize("dtype", ["double", "int"])
def test_pair_overlap_rejects_unhashable_shingle_types(spark, fn, dtype):
    # ADVICE r14 #2: sh is string shingles or shingles(hash64=True)
    # bigints; anything else is refused instead of sniffed
    from stream_processing_spark.functions import dedup as dd

    sh = spark.createDataFrame([(1, 1.0), (2, 1.0)], "doc_id int, sh double")
    sh = sh.withColumn("sh", F.col("sh").cast(dtype))
    with pytest.raises(ValueError, match="string shingles or bigint"):
        getattr(dd, fn)(sh, 0.5)


def test_value_hash_matches_its_duckdb_twin(spark):
    from stream_processing_spark.functions.keys import value_hash

    words = ["", "a", "near-dup", "ünïcode"]
    df = spark.createDataFrame([(w,) for w in words], "x string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?::VARCHAR[]) AS x", [words])
    for n in (1, 8, 15):
        got = sorted(
            (r.x, r.v) for r in df.select("x", value_hash("x", n).alias("v"))
            .collect()
        )
        want = sorted(con.execute(
            f"SELECT x, CAST('0x' || substr(md5(x), 1, {n}) AS BIGINT) FROM t"
        ).fetchall())
        assert got == want, n
    con.close()
    for n in (0, 16):
        with pytest.raises(ValueError, match="n_hex"):
            value_hash("x", n)


@pytest.mark.parametrize(
    "algorithm,max_iter", [("propagation", 50), ("auto", 2)]
)
def test_connected_components_raises_when_rounds_run_out(
    spark, algorithm, max_iter
):
    # a 60-node path needs 59 propagation rounds: an exhausted budget
    # must fail loudly, not return the unconverged labels (10
    # components for propagation, 57 for auto)
    from stream_processing_spark.operators.graph import connected_components

    path = spark.range(59).selectExpr("id AS src", "id + 1 AS dst")
    budget = f"{algorithm!r}.*{max_iter} rounds"
    with pytest.raises(RuntimeError, match=budget):
        connected_components(path, max_iter=max_iter, algorithm=algorithm)


@pytest.mark.parametrize(
    "name", ["streaming_ks_drift_monitor", "streaming_psi_drift_monitor"]
)
def test_drift_monitor_releases_cache_when_drain_fails(
    spark, monkeypatch, name
):
    # the control-period histogram is cached before the live stream
    # drains; a drain timeout must not leave it cached in the session
    from stream_processing_spark.queries import streaming_queries as sq

    def _timeout(*_a, **_k):
        raise TimeoutError("drain did not finish")

    monkeypatch.setattr(sq, "_drain_memory", _timeout)
    # both monitors cache the same plan: start from an empty cache so a
    # histogram leaked by one cannot hide the other's
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(TimeoutError):
        REGISTRY[name].spark(spark, SF_SMOKE)
    assert persistent().size() == before


def test_query_docs_have_no_unformatted_placeholders():
    # a doc line that names a module constant in braces but lacks its f
    # prefix prints the placeholder itself into QUERIES.md
    import re

    pat = re.compile(r"\{_[A-Z][A-Z_]*\}")
    bad = sorted(n for n, s in REGISTRY.items() if pat.search(s.doc))
    assert bad == []
