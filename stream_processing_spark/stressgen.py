"""Adversarial skew/scale stress fixtures (VERDICT r2 next-round #1).

The sf* testdata is benign: uniform keys, natural vocabulary, smooth
sizes. Every 100 TB claim about bucket bounds and df caps therefore
rested on plan reading. This module synthesizes a HOSTILE dataset —
~10× sf0.1 volume, deterministic to the byte — so bench.py can measure
that the guards hold when the data fights back:

- ``events_skew``    (1 M rows)  — Zipf-hot users: one user owns ~30 %
  of all events (the viral-account shape that turns a groupBy into a
  straggler), four more own ~5-15 % each, a 20 k-user tail.
- ``documents_skew`` (50 k docs) — every document opens with the SAME
  10-token boilerplate (stop-shingles with df = corpus size: one such
  shingle is 2.5e9 join rows uncapped), 5 % share a promo sentence
  (df ≈ 2 500), and 1 % are planted near-duplicates of their
  predecessor (the recall ground truth).
- ``embeddings_skew`` (20 k × 64) — 85 % of vectors share one dominant
  direction (mode collapse: all of them land in ONE sign-LSH bucket
  per band → 2.9e8 candidate pairs per band uncapped), 15 % spread,
  with 2.5 % planted near-dup pairs inside the spread region.
- ``media_skew``     (20 k blobs) — 0.5 % of payloads are 256 KB
  (4K-frame-sized), the rest 256 B: the blob-skew shape that starves
  a Python decode stage if partitioning follows bytes, not blobs.

Everything derives from md5(id)-style expressions — no Python RNG, no
Date.now — so two generations are bit-identical and any engine could
reproduce the fixture from this file.

Fixtures are written once under a root dir (default
``$SPARK_GRAFT_STRESS_DIR`` or ``.stressdata/`` in the repo) and keyed
by a version marker; bump _VERSION when changing any recipe.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.functions.keys import value_hash

_VERSION = "stress-v3"

DEFAULT_ROOT = os.environ.get(
    "SPARK_GRAFT_STRESS_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".stressdata"),
)

# full-size (bench) and mini (pytest) row counts
FULL = {"events": 1_000_000, "documents": 50_000, "embeddings": 20_000, "media": 20_000}
MINI = {"events": 50_000, "documents": 2_000, "embeddings": 3_000, "media": 2_000}

BOILERPLATE = (
    "the common corpus boilerplate header every single document shares verbatim"
)
PROMO = "shared promo sentence appears in many documents"
_VOCAB_N = 400
EMB_DIM = 64


def _h(salt: str, *cols: Column) -> Column:
    """Uniform 24-bit integer from md5 — deterministic, engine-portable."""
    parts = [F.lit(salt)] + [c.cast("string") for c in cols]
    return value_hash(F.concat_ws(":", *parts), 6)


# ------------------------------------------------------------------ events
def events_skew(spark: SparkSession, n: int) -> DataFrame:
    """Zipf-hot events: user 0 ≈ 30 %, users 1-4 ≈ 5-15 %, 20 k tail."""
    e = spark.range(n).select(F.col("id").alias("event_id"))
    r = _h("u", F.col("event_id")) % 1000
    user = (
        F.when(r < 300, 0)
        .when(r < 450, 1)
        .when(r < 550, 2)
        .when(r < 620, 3)
        .when(r < 680, 4)
        .otherwise(_h("u2", F.col("event_id")) % 20_000 + 5)
    )
    # 30 days of wall-clock starting 2026-01-01 UTC
    ts = F.timestamp_seconds(
        F.lit(1_767_225_600) + _h("t", F.col("event_id")) % 2_592_000
    )
    etype = F.element_at(
        F.array(*[F.lit(t) for t in ("view", "click", "purchase", "scroll", "login")]),
        (_h("e", F.col("event_id")) % 5 + 1).cast("int"),
    )
    return e.select(
        "event_id",
        ts.alias("ts"),
        user.cast("long").alias("user_id"),
        etype.alias("event_type"),
        ((_h("v", F.col("event_id")) % 10_000) / 100.0).alias("value"),
        F.to_json(F.struct((_h("p", F.col("event_id")) % 100).alias("k"))).alias(
            "props"
        ),
    )


# --------------------------------------------------------------- documents
def documents_skew(spark: SparkSession, n: int) -> DataFrame:
    """Stop-shingle-saturated docs with 1 % planted near-dup pairs.

    doc_id ≡ 1 (mod 100) is a near-copy of doc_id-1: same body except
    the final token — ground truth for dedup recall is the pair set
    {(100k, 100k+1)}.
    """
    d = spark.range(n).select(F.col("id").alias("doc_id"))
    is_dup = (F.col("doc_id") % 100 == 1) & (F.col("doc_id") > 0)
    base = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    vocab = F.array(*[F.lit(f"tok{i:03d}") for i in range(_VOCAB_N)])
    body = F.transform(
        F.sequence(F.lit(1), F.lit(35)),
        lambda i: F.element_at(
            vocab, (_h("b", base, i) % _VOCAB_N + 1).cast("int")
        ),
    )
    # the near-copy differs in exactly one trailing token
    body = F.when(
        is_dup,
        F.concat(F.slice(body, 1, 34), F.array(F.lit("mutatedtail"))),
    ).otherwise(body)
    promo = F.when(F.col("doc_id") % 20 == 3, F.lit(PROMO)).otherwise(F.lit(None))
    text = F.concat_ws(
        " ", F.lit(BOILERPLATE), promo, F.array_join(body, " ")
    )
    return d.select(
        "doc_id",
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
        F.length(text).alias("n_chars"),
    )


def planted_doc_pairs(n: int) -> set[tuple[int, int]]:
    return {(k, k + 1) for k in range(0, n - 1, 100) if k + 1 < n}


# -------------------------------------------------------------- embeddings
def embeddings_skew(spark: SparkSession, n: int) -> DataFrame:
    """Mode-collapsed embedding corpus: ids < 0.85n share one dominant
    direction (every coordinate ≈ 1.0-1.1 → identical sign-LSH
    signature); the rest are sign-random. The last 2.5 % of ids are
    near-copies of id - 0.025n (cosine ≈ 1), both inside the spread
    region, giving the ANN recall ground truth."""
    spread_start = int(n * 0.85)
    dup_n = int(n * 0.025)
    v = spark.range(n).select(F.col("id").alias("vec_id"))
    base = F.when(F.col("vec_id") >= n - dup_n, F.col("vec_id") - dup_n).otherwise(
        F.col("vec_id")
    )
    is_spread = base >= spread_start

    def elem(j: Column) -> Column:
        # hot-region noise is 1e-5-scale: tiny vs the hyperplane dot's
        # spread, so no marginal plane splits the mode — the collapse
        # into ONE bucket per band is decisive (the adversarial point)
        hot = 1.0 + (_h("x", base, j) % 100) / 100_000.0
        spread = ((_h("y", base, j) % 2000) - 1000) / 1000.0
        eps = F.when(
            F.col("vec_id") >= n - dup_n,
            ((_h("z", F.col("vec_id"), j) % 3) - 1) / 2000.0,
        ).otherwise(F.lit(0.0))
        return F.when(is_spread, spread).otherwise(hot) + eps

    emb = F.transform(F.sequence(F.lit(0), F.lit(EMB_DIM - 1)), elem)
    return v.select(
        "vec_id",
        emb.alias("embedding"),
        (_h("l", F.col("vec_id")) % 10).cast("int").alias("label"),
    )


def planted_vec_pairs(n: int) -> set[tuple[int, int]]:
    dup_n = int(n * 0.025)
    return {(i - dup_n, i) for i in range(n - dup_n, n)}


# ------------------------------------------------------------------- media
_HEX = "0123456789abcdef"
_HEX_BRIGHT = "123456789:bcdefg"  # every char +1 ascii = +1 brightness


def media_skew(spark: SparkSession, n: int) -> DataFrame:
    """Blob-skewed media table: 1 in 200 payloads is 256 KB, rest 256 B.

    meta_json carries REAL raster dims (payload length = width*height
    bytes: 16x16 for the cold blobs, 512x512 for the hot ones) so the
    pHash tier exercises the metadata path, not the content-hash
    ``_fake_dims`` fallback. Planted near-dup pairs (media_id % 100 ==
    6, +1): the second member is the first's payload with every byte
    shifted +1 — a uniform brightness shift, which pHash must survive
    (it only moves the DC coefficient; the AC sign pattern is
    invariant). planted_img_pairs() lists them for recall checks."""
    m = spark.range(n).select(F.col("id").alias("media_id"))
    hot = F.col("media_id") % 200 == 0
    reps = F.when(hot, 8192).otherwise(8)
    pos = F.col("media_id") % 100
    is_pair = pos.isin(6, 7)
    base_id = F.when(is_pair, F.col("media_id") - pos + 6).otherwise(
        F.col("media_id")
    )
    raw = F.repeat(F.md5(F.concat(F.lit("m:"), base_id.cast("string"))), reps)
    text = F.when(pos == 7, F.translate(raw, _HEX, _HEX_BRIGHT)).otherwise(raw)
    return m.select(
        "media_id",
        F.lit("image").alias("media_type"),
        F.encode(text, "UTF-8").alias("payload"),
        F.to_json(
            F.struct(
                F.when(hot, 262_144).otherwise(256).alias("n_bytes"),
                F.when(hot, 512).otherwise(16).alias("width"),
                F.when(hot, 512).otherwise(16).alias("height"),
            )
        ).alias("meta_json"),
    )


def planted_img_pairs(n: int) -> set[tuple[int, int]]:
    """(a, a+1) brightness-shift pairs planted by media_skew."""
    return {(k + 6, k + 7) for k in range(0, n - 7, 100)}


# -------------------------------------------------------------- generation
_TABLES = {
    "events_skew": ("events", events_skew),
    "documents_skew": ("documents", documents_skew),
    "embeddings_skew": ("embeddings", embeddings_skew),
    "media_skew": ("media", media_skew),
}


def ensure_stress_data(
    spark: SparkSession, root: str = DEFAULT_ROOT, sizes: dict | None = None
) -> dict[str, str]:
    """Generate (once) and return {table: parquet_path}. A version
    marker keyed by (recipe version, sizes) makes regeneration
    automatic when either changes."""
    sizes = sizes or FULL
    tag = f"{_VERSION}-" + "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    marker = os.path.join(root, "_GENERATED")
    paths = {t: os.path.join(root, f"{t}.parquet") for t in _TABLES}
    if os.path.exists(marker) and open(marker).read().strip() == tag:
        return paths
    os.makedirs(root, exist_ok=True)
    par = spark.sparkContext.defaultParallelism
    for t, (size_key, gen) in _TABLES.items():
        # repartition before write: spark.range yields narrow splits and
        # the fixture must read back wide (like a real multi-file corpus)
        gen(spark, sizes[size_key]).repartition(par).write.mode(
            "overwrite"
        ).parquet(paths[t])
    with open(marker, "w") as f:
        f.write(tag)
    return paths
