"""Plan lint: mechanical scale-discipline checks over the WHOLE query
registry. Catches regressions where an innocent-looking change degrades
a query into a plan that cannot survive 100 TB:

- BroadcastNestedLoopJoin / CartesianProduct, except where a cross
  product is the declared algorithm (brute-force ANN baselines, scalar
  broadcast);
- row-at-a-time Python UDFs (BatchEvalPython) — everything must stay
  JVM-side or Arrow-batched;
- NON-PARTITIONED windows (empty PARTITION BY — Spark moves the whole
  frame to ONE task), except (a) the prefix-sum operator's own P-row
  offset scan (ordered by _psum_bucket, bounded by the cut-count
  constant ≤ 3·P)
  and (b) queries whose windowed frame has a DOCUMENTED domain bound
  (WINDOW_OK below). Anything data-sized must use
  operators/prefixsum.range_prefix_sum or a TakeOrderedAndProject
  limit instead (VERDICT r11 weak #1).

The bans apply to the final plan AND to the plan of every frame put
behind a materialization barrier while the query is built: an eager
barrier runs its job inside ``spec.spark()``, so the final plan only
shows a scan of the stored copy.

Streaming queries are exempt (they execute on .start(), not lazily, and
their plans are asserted in their own tests).

A source lint keeps ``runtime.materialize`` the only barrier: no other
code in the package calls ``localCheckpoint`` or ``checkpoint``. Another
keeps ``functions/keys.py`` the only module that chooses a hash: no
other code calls ``xxhash64`` or ``conv``, in Python or in SQL text. A
third keeps ``metrics.noop_walls`` the only query timer: bench.py and
tools/ write to the noop sink only through it. A fourth keeps Spark out
of the store's driver-held paths: in ``store.py`` only ``get`` and
``append_df`` use the session.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import stream_processing_spark
from stream_processing_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

# cross products that ARE the algorithm: a 1-row or broadcast-tiny side
CROSS_OK = {
    "ann_brute_force_topk",   # 1-row query vector broadcast
    "ann_cosine_pairs",       # declared O(n²) baseline (LSH is the scale path)
    "ann_ivf_topk",           # 1-row query vector broadcast
    "q22_global_sales_opportunity",  # 1-row scalar average broadcast
    "hybrid_search_topk",     # 1-row max_tf scalar + 1-row query vector
    "sample_weighted_by_length",  # 1-row max(n_chars) scalar broadcast
    "rfm_user_features",          # 1-row max(ts) 'now' scalar broadcast
    "mixture_equalize_langs",     # 1-row min-lang-count target broadcast
    "bm25_topk_docs",             # 1-row (N, avgdl) stats broadcast
    "ann_quantized_topk",         # 1-row query-norm scalar broadcast
    "token_cooccurrence_lift",    # 1-row corpus-count scalar broadcast
    "funnel_time_bounded",        # three 1-row stage-count broadcasts
    "events_anomaly_days",        # 1-row median/MAD scalar broadcasts
    "heavy_hitter_tokens",        # 1-row total-token-count scalar broadcast
    "ann_pq_topk",                # 1-row query vector broadcast (ADC + re-rank)
    "ann_ivfpq_topk",             # 1-row query vector broadcast (IVFADC)
    "nb_lang_model_train",        # 1-row vocab-size + doc-count broadcasts
    "association_rules_parts",    # 1-row order-count scalar broadcast
    "contrastive_triplets",       # 1-row corpus-count scalar broadcast
    "user_profile_similarity",    # 1-row query-profile broadcast
    "similar_docs_minhash_topk",  # 1-row query-signature broadcast
    "similar_docs_lsh_pruned_topk",  # 1-row query-signature broadcast
    "q11_important_part_values",  # 1-row global-threshold scalar broadcast
    # 1-row broadcasts inherited from BOTH fused arms: the BM25 (N,
    # avgdl) stats row and the dense query vector row
    "retrieval_rrf_hybrid_topk",
    "tsmatch_topk_windows",       # 1-row query-window broadcast
    "ann_matryoshka_overlap",     # 1-row query vector broadcast (both arms)
    "mixture_dsir_weights",       # 1-row (raw_total, target_total) broadcast
    "mixture_dsir_resample",      # same 1-row totals broadcast, inherited
    "unigram_lm_train",           # 1-row normalizer-total broadcast per EM round
    "unigram_encode_source_stats",  # the same 1-row EM normalizer
                                    # total, in its barrier plans
    "embedding_power_iteration_pc1",  # 1-row norm scalar broadcast per iteration
    "changepoint_cusum_daily_events",  # 1-row (mu, sigma) stats broadcast
    "retrieval_mmr_rerank_topk",   # 1-row query vector broadcast; all
                                   # later joins are depth-bounded (20)
    "mixture_temperature_resample",  # two 1-row broadcasts (decimal
                                     # sqrt-sum + doc total)
    "t_closeness_report",            # 1-row corpus-total broadcast
    "conformal_linreg_intervals",    # two 1-row broadcasts (fit stats,
                                     # calibration quantile row)
    "ks_value_drift_report",         # 1-row day-span midpoint broadcast
    "psi_value_drift",               # same 1-row midpoint broadcast
    "ewma_daily_forecast",           # 1-row anchor-day broadcast
    "kaplan_meier_user_lifetime",    # 1-row stream-horizon broadcast
    "fk_integrity_audit",            # four 1-row orphan-count broadcasts
    "bootstrap_mean_ci_orders",      # 1-row CI-frame broadcast
    "hll_manual_distinct_users",     # 1-row exact-distinct broadcast
    "user_activity_gini",            # 1-row (nu, total) scalar broadcast
    # round 12: domain-bounded cell-pair join (≤ ~550² quantity ×
    # discount cells) + three 1-row tie/total broadcasts
    "kendall_tau_quantity_discount",
    "bm25f_topk_docs",               # 1-row doc-count broadcast
    # operators/prefixsum joins a 1-row (min,max) key-extent frame to
    # derive its deterministic bucket cuts; Spark folds the constant
    # join key away, leaving a 1-row-build nested loop by design
    "spearman_quantity_price",
    "vocab_top_tokens",
    # day-DOMAIN-bounded daily pair join (~n_days²) + 1-row broadcasts
    "mann_kendall_daily_trend",
    "stratified_dr_ate",             # 1-row n_users broadcast
    "bh_fdr_type_drift",             # 1-row totals + 1-row BH threshold
    "median_ci_orders",              # 1-row (n, rank) broadcast
    "markov_steady_state_event_types",  # 1-row state-count broadcast
    # 10-row decile frame × activity-LEVEL histogram (domain-bounded)
    "lorenz_user_activity_deciles",
    # prefix-sum key-extent broadcast + 1-row (n, lo, hi) broadcasts
    "winsorized_mean_price",
    # domain-bounded broadcast: the per-quantity-value group means
    # (≤ value-domain rows) pairwise-joined for Theil–Sen slopes
    "theil_sen_grouped_slope",
    # round 11: 1-row day-span midpoint / horizon / pooled-stats
    # broadcasts in the experimentation tier
    "mann_whitney_value_drift",       # 1-row midpoint broadcast (split)
    "cuped_adjusted_ab_metric",       # 1-row midpoint + 1-row pooled stats
    "chi2_event_type_drift",          # 1-row midpoint broadcast
    "nelson_aalen_cumulative_hazard", # 1-row stream-horizon broadcast
    # source-DOMAIN-bounded pair construction (totals ⋈< totals, a few
    # rows per side); all corpus-sized joins are equi-joins
    "corpus_js_divergence_sources",
    # round 13: 1-row broadcasts only (n totals, fit stats, HLL exact
    # count, funnel step counters); every corpus-sized join is equi
    "tdigest_value_quantiles",        # 1-row n broadcast (+ scan extent)
    "seasonal_mann_kendall_weekday",  # 1-row varn/ties broadcasts; the
                                      # day-pair join is EQUI on weekday
    "quantile_regression_pinball",    # 11-row candidate-grid broadcast
                                      # + 1-row fit broadcast
    "hllpp_sparse_distinct_users",    # 1-row exact-distinct broadcast
    "sessionized_funnel_timeout",     # three 1-row step-count broadcasts
    "kmv_distinct_users",             # 1-row exact-distinct broadcast
    "cramer_von_mises_drift",         # 1-row midpoint + totals broadcasts
    "funnel_time_to_convert",         # 1-row total + picks broadcasts
    "did_value_estimate",             # 1-row midpoint broadcast
    "ab_minimum_detectable_effect",   # (none expected — single agg)
    "classifier_calibration_ece",     # 1-row total + ECE broadcasts;
                                      # inherits the clf weight join
    "james_stein_type_means",         # 1-row grand/SSB broadcasts
    "logrank_lifetime_by_cohort",     # 1-row horizon + O-E broadcasts
}

_SKIP = tuple(
    name for name in REGISTRY if name.startswith("streaming_")
)

# Non-partitioned windows whose frame carries a documented DOMAIN bound
# (never the corpus row count). Every entry must say what bounds it —
# a new query with a data-sized global window belongs in
# operators/prefixsum, not here.
WINDOW_OK = {
    "ann_matryoshka_overlap",     # rank over the 10 kept top-k rows
    "benford_first_digit_audit",  # 9-row first-digit frame
    "bootstrap_mean_ci_orders",   # 64 bootstrap replicate means
    "changepoint_cusum_daily_events",  # day-domain daily counts
    "chi2_event_type_drift",      # (event-type × 2 halves) dense grid
    "cumulative_new_users_daily",  # day-domain daily counts
    "gini_split_quantity_return",  # quantity-cents domain (≤ ~5k)
    "kaplan_meier_user_lifetime",  # lifetime-days domain
    "mi_event_type_hour",          # event-type × 24-hour grid
    "mixture_temperature_weights",  # language-domain frame
    "nelson_aalen_cumulative_hazard",  # lifetime-days domain
    "bh_fdr_type_drift",           # BH rank windows over ≤ type-domain
    "page_hinkley_value_drift",    # day-domain daily frame (r12)
    "rolling_median_daily_revenue",  # day-domain daily frame (r12)
    "psi_value_drift",             # ≤ 10-bucket PSI frame (post-scan)
    "retrieval_rrf_hybrid_topk",   # ranks over ≤ depth kept rows
    "revenue_share_per_nation",    # 25-nation frame
    "seasonal_decompose_hourly_events",  # 24-hour frame
    "theil_sen_grouped_slope",     # pairwise slopes of ≤ value-domain
                                   # group means (≤ ~1.2k rows)
    "zipf_token_fit",              # rank over ≤ 500 kept rows
    "tdigest_value_quantiles",     # δ-bounded centroid frame (≤ 52
                                   # rows at δ=100) cumulative
    "logrank_lifetime_by_cohort",  # lifetime-days domain suffix
                                   # cumulative (the KM class)
}


def _nonpartitioned_windows(plan: str) -> list[str]:
    """First argument of every windowspecdefinition whose spec has NO
    partition columns: an order spec (… ASC/DESC …) or a bare frame
    spec means Spark will move the whole input to one task."""
    hits = []
    for line in plan.splitlines():
        s = line
        while "windowspecdefinition(" in s:
            spec = s.split("windowspecdefinition(", 1)[1]
            first = spec.split(",", 1)[0].strip()
            nonpart = (
                " ASC" in first
                or " DESC" in first
                or first.startswith("specifiedwindowframe")
            )
            # the prefix-sum operator's own offset scan is bounded by
            # its bucket-count constant by construction
            if nonpart and not first.startswith("_psum_bucket"):
                hits.append(first[:80])
            s = spec
    return hits


@pytest.fixture
def barrier_plans(monkeypatch):
    """Physical plan of every frame that reaches a barrier while the
    fixture is active, recorded before the barrier runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []

    def _spy(barrier):
        def recorded(self, *args, **kwargs):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return barrier(self, *args, **kwargs)

        return recorded

    for meth in ("localCheckpoint", "checkpoint"):
        monkeypatch.setattr(DataFrame, meth, _spy(getattr(DataFrame, meth)))
    return plans


def _assert_scale_safe(name: str, plan: str, where: str) -> None:
    if name not in CROSS_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{where}:\n{plan}"
        assert "CartesianProduct" not in plan, f"{where}:\n{plan}"
    # no row-at-a-time UDFs
    assert "BatchEvalPython" not in plan, f"{where}:\n{plan}"
    if name not in WINDOW_OK:
        hits = _nonpartitioned_windows(plan)
        assert not hits, (
            f"{name}: non-partitioned window(s) over an undocumented "
            f"frame {hits} — use operators/prefixsum.range_prefix_sum "
            "for data-sized cumulatives, orderBy().limit() for top-k, "
            f"or add a WINDOW_OK entry with the domain bound ({where}):\n"
            + plan
        )


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if n not in _SKIP]
)
def test_plan_is_scale_safe(spark, barrier_plans, name):
    df = REGISTRY[name].spark(spark, SF)
    for i, plan in enumerate(barrier_plans):
        _assert_scale_safe(name, plan, f"barrier {i + 1} of {name}")
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_scale_safe(name, plan, f"final plan of {name}")


def test_barriers_go_through_materialize():
    # one spelling for the materialization barrier: how a frame is
    # stored (local or reliable, eager or lazy) is decided in one place
    root = pathlib.Path(stream_processing_spark.__file__).parent
    direct = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        todo = [ast.parse(path.read_text(), rel)]
        while todo:
            node = todo.pop()
            if (
                rel == "runtime.py"
                and isinstance(node, ast.FunctionDef)
                and node.name == "materialize"
            ):
                continue
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                direct.append((rel, node.lineno))
            todo.extend(ast.iter_child_nodes(node))
    assert not direct, (
        "call runtime.materialize instead of localCheckpoint/checkpoint: "
        + ", ".join(f"{rel}:{line}" for rel, line in sorted(direct))
    )


def test_timers_go_through_noop_walls():
    # one spelling for timing a query: bench.py and tools/ time through
    # metrics.noop_walls, which decides what is on the clock and when
    # memory is released
    repo = pathlib.Path(stream_processing_spark.__file__).parent.parent
    direct = []
    for path in [repo / "bench.py", *sorted((repo / "tools").glob("*.py"))]:
        rel = path.relative_to(repo).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "format"
                and any(getattr(a, "value", None) == "noop" for a in node.args)
            ):
                direct.append((rel, node.lineno))
    assert not direct, (
        "time queries with metrics.noop_walls instead of a noop write: "
        + ", ".join(f"{rel}:{line}" for rel, line in sorted(direct))
    )


def test_session_confs_set_in_two_places():
    # who may set session confs: start_with_confs pins them around one
    # query start and restores them, events_ts_layout pins what every
    # events consumer needs; nothing else changes a caller's session
    allowed = {("streaming/job.py", "start_with_confs"), ("catalog.py", "events_ts_layout")}
    root = pathlib.Path(stream_processing_spark.__file__).parent
    direct = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        todo = [ast.parse(path.read_text(), rel)]
        while todo:
            node = todo.pop()
            if isinstance(node, ast.FunctionDef) and (rel, node.name) in allowed:
                continue
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and getattr(node.func.value, "attr", None) == "conf"
            ):
                direct.append((rel, node.lineno))
            todo.extend(ast.iter_child_nodes(node))
    assert not direct, (
        "set session confs through streaming.job.start_with_confs: "
        + ", ".join(f"{rel}:{line}" for rel, line in sorted(direct))
    )


def test_store_spark_only_in_scale_paths():
    # the store's driver-held paths (append, merge, get_lines) read and
    # write parquet with pyarrow; only the lazy read `get` and the scale
    # write `append_df` may touch the session and start Spark jobs
    allowed = {"get", "append_df"}
    path = pathlib.Path(stream_processing_spark.__file__).parent / "store.py"
    direct = []
    todo = [ast.parse(path.read_text(), "store.py")]
    while todo:
        node = todo.pop()
        if isinstance(node, ast.FunctionDef) and node.name in allowed:
            continue
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and node.attr == "spark"
            and getattr(node.value, "id", None) == "self"
        ):
            direct.append(node.lineno)
        todo.extend(ast.iter_child_nodes(node))
    assert not direct, (
        "store.py uses self.spark outside get/append_df at lines "
        + ", ".join(map(str, sorted(direct)))
    )


def test_hashes_go_through_keys():
    # one spelling for hash keys: functions/keys.py decides between an
    # equality-only key (eq_key) and an oracle-mirrored value hash
    # (value_hash); nothing else calls the hash primitives or spells
    # them inside expr/selectExpr/sql text
    hashes = ("xxhash64", "conv")
    root = pathlib.Path(stream_processing_spark.__file__).parent
    direct = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/keys.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "attr", getattr(func, "id", None))
            text = "".join(
                part.value
                for arg in node.args
                for part in ast.walk(arg)
                if isinstance(getattr(part, "value", None), str)
            )
            if name in hashes or (
                name in ("expr", "selectExpr", "sql")
                and any(f"{h}(" in text for h in hashes)
            ):
                direct.append((rel, node.lineno))
    assert not direct, (
        "use functions/keys.py eq_key/value_hash instead of xxhash64/conv: "
        + ", ".join(f"{rel}:{line}" for rel, line in sorted(direct))
    )


# ---------------------------------------------------------------------
# Streaming tier: streams execute on .start() (no lazy executedPlan),
# so the drain helpers capture each query's last MICRO-BATCH physical
# plan (explainInternal survives termination) and this test lints the
# capture under the same bans. foreachBatch-internal batch plans (the
# ingest/upsert sinks' own jobs) are not part of the stream's plan —
# those modules' plan shapes are asserted in their own tests. The run
# is the oracle test's sf0.01 drain (conftest.streaming_run): none of
# these bans depends on data size, since a join without equi keys
# plans as BroadcastNestedLoopJoin or CartesianProduct at any size and
# a row-at-a-time UDF is BatchEvalPython at any size.


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if n.startswith("streaming_")]
)
def test_streaming_microbatch_plan_is_scale_safe(streaming_run, name):
    _, plans = streaming_run(name)
    assert plans, f"{name}: no micro-batch plan captured"
    for plan in plans:
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan, plan
