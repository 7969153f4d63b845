"""Round-6 curation operators — the Gopher repetition-signal family.

Rae et al. (Gopher, 2021) §A.1 and the FineWeb/Dolma reproductions
filter documents on *character-coverage* repetition signals: the
fraction of a document's characters covered by its most frequent
word n-gram (n = 2..4) and by all *duplicated* word n-grams
(n = 5..8).  The existing ``quality_bigram_repetition`` reports the
top-bigram share of bigram *occurrences*; this module adds the
character-fraction form the published filters actually threshold on.

The reference corpus (documents.parquet) is single-line text, so the
line/paragraph dedup rules of the same paper would be degenerate on
raw docs (one line per doc). ``quality_gopher_line_para_dedup``
therefore DERIVES a deterministic multi-line page fixture from the
documents table inside the query (the same derivation spelled in both
engines, since the oracle can only see the shared views): grouped
truncated texts as lines, a planted boilerplate line for ids ≡ 1
(mod 3) to create genuine duplicate lines, every third paragraph
emitted twice to create genuine duplicate paragraphs — then computes
the paper's duplicated-line/paragraph fractions from the assembled
multi-line text itself (split on newline / blank line).

Determinism rules as elsewhere in the registry: integer counts and
coverage products end-to-end, ONE double division per output column,
ROUND(…, 6) on the final fractions only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.catalog import load_table
from stream_processing_spark.queries import register
from stream_processing_spark.runtime import materialize, rebalance_for_expansion

# Gopher thresholds use the most-frequent-gram char fraction for
# n=2..4 and the duplicated-gram char fraction for n=5..8 (the paper
# runs 5..10; 8 keeps the explode factor bounded while preserving the
# signal shape on ≤100-token synthetic docs).
_TOP_NS = (2, 3, 4)
_DUP_NS = (5, 6, 7, 8)


def _frac_cols_sql() -> str:
    cols = []
    for n in _TOP_NS:
        cols.append(
            f"ROUND(LEAST(1.0, CAST(COALESCE(MAX(CASE WHEN n = {n} "
            f"THEN top_cover END), 0) AS DOUBLE) / CAST(nc AS DOUBLE)), 6) "
            f"AS top{n}_char_frac"
        )
    for n in _DUP_NS:
        cols.append(
            f"ROUND(LEAST(1.0, CAST(COALESCE(MAX(CASE WHEN n = {n} "
            f"THEN dup_cover END), 0) AS DOUBLE) / CAST(nc AS DOUBLE)), 6) "
            f"AS dup{n}_char_frac"
        )
    return ",\n           ".join(cols)


@register(
    "quality_gopher_repetition",
    f"""
    WITH base AS (
        SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, nc, ns.n,
               array_to_string(t[i : i + ns.n - 1], ' ') AS g
        FROM base
        CROSS JOIN (VALUES {",".join(f"({n})" for n in _TOP_NS + _DUP_NS)})
            AS ns(n),
        UNNEST(range(1, len(t) - ns.n + 2)) AS u(i)
        WHERE len(t) >= ns.n
    ),
    cnt AS (
        SELECT doc_id, nc, n, g, COUNT(*) AS c, length(g) AS lg
        FROM g GROUP BY doc_id, nc, n, g
    ),
    per_n AS (
        SELECT doc_id, nc, n,
               MAX(c * lg) AS top_cover,
               SUM(CASE WHEN c >= 2 THEN c * lg ELSE 0 END) AS dup_cover
        FROM cnt GROUP BY doc_id, nc, n
    )
    SELECT doc_id,
           {_frac_cols_sql()}
    FROM per_n GROUP BY doc_id, nc
    """,
    doc="Gopher-style repetition signals as character fractions: for "
    "each doc, the share of characters covered by the single most-"
    "covering word n-gram (n=2..4) and by all duplicated n-grams "
    "(n=5..8) — the quantities the published quality filters "
    "threshold on (top-2-gram > 0.20 → drop, dup-5-gram > 0.15 → "
    "drop, etc.). 'Covered' = occurrences × gram length (spaces "
    "included), capped at 1.0 since overlapping occurrences can "
    "double-count. Plan: one scan, one explode producing "
    f"{len(_TOP_NS + _DUP_NS)}× ~token-count rows, then two "
    "aggregations both keyed by doc_id — map-side partial aggregation "
    "absorbs the within-doc duplicate mass before the shuffle, and "
    "no operator ever joins across documents, so the query scales "
    "linearly in corpus size with per-doc-bounded state. Integer "
    "coverage products, one double division per column, round 6dp.",
)
def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # spread the 7-way explode across cores only when the scan itself
    # is narrower than the cluster (no unconditional full-text shuffle)
    docs = rebalance_for_expansion(docs)
    base = docs.select(
        "doc_id",
        F.length("text").alias("nc"),
        F.split(F.col("text"), " ").alias("t"),
    )
    ns = F.array(*[F.lit(n) for n in _TOP_NS + _DUP_NS])
    grams = (
        base.select("doc_id", "nc", "t", F.explode(ns).alias("n"))
        .filter(F.size("t") >= F.col("n"))
        .select(
            "doc_id",
            "nc",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - n + 1), "
                    "i -> array_join(slice(t, i, n), ' '))"
                )
            ).alias("g"),
        )
    )
    cnt = grams.groupBy("doc_id", "nc", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    cover = F.col("c") * F.length("g")
    per_n = cnt.groupBy("doc_id", "nc", "n").agg(
        F.max(cover).alias("top_cover"),
        F.sum(F.when(F.col("c") >= 2, cover).otherwise(0)).alias(
            "dup_cover"
        ),
    )

    def _frac(agg_col):
        return F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(agg_col, F.lit(0)).cast("double")
                / F.col("nc").cast("double"),
            ),
            6,
        )

    return per_n.groupBy("doc_id", "nc").agg(
        *[
            _frac(
                F.max(F.when(F.col("n") == n, F.col("top_cover")))
            ).alias(f"top{n}_char_frac")
            for n in _TOP_NS
        ],
        *[
            _frac(
                F.max(F.when(F.col("n") == n, F.col("dup_cover")))
            ).alias(f"dup{n}_char_frac")
            for n in _DUP_NS
        ],
    ).drop("nc")


_BOILER = "click here to subscribe to our newsletter today"
# page assembly knobs (shared by both engines): docs per page group,
# lines per paragraph, and the paragraph-duplication stride
_PAGE_GROUPS = 40
_LINES_PER_PARA = 4
_PARA_DUP_STRIDE = 3


@register(
    "quality_gopher_line_para_dedup",
    f"""
    WITH src AS (
        SELECT doc_id % {_PAGE_GROUPS} AS grp, doc_id,
               CASE WHEN doc_id % 3 = 1 THEN '{_BOILER}'
                    ELSE substr(text, 1, 80) END AS line
        FROM documents
    ),
    numbered AS (
        SELECT grp, line,
               row_number() OVER (PARTITION BY grp ORDER BY doc_id) - 1 AS rn
        FROM src
    ),
    paras0 AS (
        SELECT grp, rn // {_LINES_PER_PARA} AS pid,
               string_agg(line, chr(10) ORDER BY rn) AS para
        FROM numbered GROUP BY grp, rn // {_LINES_PER_PARA}
    ),
    paras AS (
        SELECT grp, pid, u.k, para
        FROM paras0,
             UNNEST(CASE WHEN pid % {_PARA_DUP_STRIDE} = 0
                         THEN [0, 1] ELSE [0] END) AS u(k)
    ),
    page AS (
        SELECT grp, string_agg(para, chr(10) || chr(10) ORDER BY pid, k) AS text
        FROM paras GROUP BY grp
    ),
    line_grp AS (
        SELECT grp, l AS line, COUNT(*) AS c, length(l) AS ln
        FROM page, UNNEST(string_split(text, chr(10))) AS t(l)
        WHERE l <> ''
        GROUP BY grp, l
    ),
    line_agg AS (
        SELECT grp, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
               SUM(c * ln) AS total_chars,
               SUM(CASE WHEN c >= 2 THEN c * ln ELSE 0 END) AS dup_chars
        FROM line_grp GROUP BY grp
    ),
    para_grp AS (
        SELECT grp, p AS para, COUNT(*) AS c, length(p) AS ln
        FROM page, UNNEST(string_split(text, chr(10) || chr(10))) AS t(p)
        GROUP BY grp, p
    ),
    para_agg AS (
        SELECT grp, SUM(c) AS n_paras, COUNT(*) AS pn_distinct,
               SUM(c * ln) AS p_total_chars,
               SUM(CASE WHEN c >= 2 THEN c * ln ELSE 0 END) AS p_dup_chars
        FROM para_grp GROUP BY grp
    )
    SELECT l.grp AS page_id,
           CAST(l.n_lines AS BIGINT) AS n_lines,
           ROUND(CAST(l.n_lines - l.n_distinct AS DOUBLE)
                 / CAST(l.n_lines AS DOUBLE), 6) AS dup_line_frac,
           ROUND(CAST(l.dup_chars AS DOUBLE)
                 / CAST(l.total_chars AS DOUBLE), 6) AS dup_line_char_frac,
           CAST(p.n_paras AS BIGINT) AS n_paras,
           ROUND(CAST(p.n_paras - p.pn_distinct AS DOUBLE)
                 / CAST(p.n_paras AS DOUBLE), 6) AS dup_para_frac,
           ROUND(CAST(p.p_dup_chars AS DOUBLE)
                 / CAST(p.p_total_chars AS DOUBLE), 6) AS dup_para_char_frac
    FROM line_agg l JOIN para_agg p USING (grp)
    """,
    doc="Gopher §A.1 line/paragraph dedup signals over a derived "
    "multi-line page fixture (the raw corpus is single-line, so the "
    "fixture is assembled in-query, identically in both engines): "
    f"pages = documents grouped by doc_id % {_PAGE_GROUPS}, lines = "
    "80-char text prefixes with a planted boilerplate line (ids ≡ 1 "
    f"mod 3), paragraphs = runs of {_LINES_PER_PARA} lines with every "
    f"{_PARA_DUP_STRIDE}rd paragraph emitted twice. Signals are then "
    "computed FROM THE ASSEMBLED TEXT (split on newline / blank "
    "line): dup_*_frac = occurrences beyond the first of an identical "
    "unit / total units; dup_*_char_frac = ALL characters of units "
    "whose content appears ≥2 times / total unit characters (the "
    "paper's 'characters contained within duplicated lines'). Plan: "
    "one scan, one narrow shuffle on the page key (80-char "
    "truncations, not full texts), per-page-bounded state, no "
    "cross-page joins — linear in corpus size. Integer counts, one "
    "double division per fraction, round 6dp.",
)
def quality_gopher_line_para_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lines = docs.select(
        (F.col("doc_id") % _PAGE_GROUPS).alias("grp"),
        F.struct(
            F.col("doc_id"),
            F.when(F.col("doc_id") % 3 == 1, F.lit(_BOILER))
            .otherwise(F.substring("text", 1, 80))
            .alias("line"),
        ).alias("x"),
    )
    # deterministic line order inside a page: sort the collected
    # structs by the unique doc_id (collect_list alone is
    # partition-order-dependent)
    arr = lines.groupBy("grp").agg(
        F.sort_array(F.collect_list("x")).alias("xs")
    )
    para_sql = (
        f"array_join(transform(slice(xs, pid * {_LINES_PER_PARA} + 1, "
        f"{_LINES_PER_PARA}), x -> x.line), '\\n')"
    )
    page = materialize(arr.select(
        "grp",
        F.expr(
            f"""array_join(flatten(transform(
                sequence(0, cast(floor((size(xs) - 1) / {_LINES_PER_PARA}) as int)),
                pid -> CASE WHEN pid % {_PARA_DUP_STRIDE} = 0
                            THEN array({para_sql}, {para_sql})
                            ELSE array({para_sql}) END)), '\\n\\n')"""
        ).alias("text"),
    ))  # feeds the line AND paragraph branches

    def _unit_agg(unit_col: str, sep: str, prefix: str) -> DataFrame:
        occ = page.select(
            "grp", F.explode(F.split("text", sep)).alias(unit_col)
        )
        if unit_col == "line":  # blank separators between paragraphs
            occ = occ.filter(F.col(unit_col) != "")
        grpd = occ.groupBy("grp", unit_col).agg(
            F.count(F.lit(1)).alias("c")
        )
        ln = F.length(unit_col)
        return grpd.groupBy("grp").agg(
            F.sum("c").alias(f"{prefix}n"),
            F.count(F.lit(1)).alias(f"{prefix}distinct"),
            F.sum(F.col("c") * ln).alias(f"{prefix}chars"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * ln).otherwise(0)
            ).alias(f"{prefix}dup_chars"),
        )

    la = _unit_agg("line", "\n", "l_")
    pa = _unit_agg("para", "\n\n", "p_")

    def _frac(num, den):
        return F.round(num.cast("double") / den.cast("double"), 6)

    return la.join(pa, "grp").select(
        F.col("grp").alias("page_id"),
        F.col("l_n").cast("bigint").alias("n_lines"),
        _frac(F.col("l_n") - F.col("l_distinct"), F.col("l_n")).alias(
            "dup_line_frac"
        ),
        _frac(F.col("l_dup_chars"), F.col("l_chars")).alias(
            "dup_line_char_frac"
        ),
        F.col("p_n").cast("bigint").alias("n_paras"),
        _frac(F.col("p_n") - F.col("p_distinct"), F.col("p_n")).alias(
            "dup_para_frac"
        ),
        _frac(F.col("p_dup_chars"), F.col("p_chars")).alias(
            "dup_para_char_frac"
        ),
    )


@register(
    "dedup_c4_crossdoc_lines",
    f"""
    WITH src AS (
        SELECT doc_id % {_PAGE_GROUPS} AS grp, doc_id,
               CASE WHEN doc_id % 3 = 1 THEN '{_BOILER}'
                    ELSE substr(text, 1, 80) END AS line
        FROM documents
    ),
    npages AS (
        SELECT line, COUNT(DISTINCT grp) AS np FROM src GROUP BY line
    )
    SELECT s.grp AS page_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN np >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossdoc_dup_lines,
           ROUND(CAST(SUM(CASE WHEN np >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS crossdoc_dup_line_frac,
           ROUND(CAST(SUM(CASE WHEN np >= 2 THEN length(s.line)
                          ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(length(s.line)) AS DOUBLE), 6)
               AS crossdoc_dup_char_frac
    FROM src s JOIN npages USING (line)
    GROUP BY s.grp
    """,
    doc="C4-style CROSS-DOCUMENT line dedup signals (Raffel et al. "
    "2020 removed any line occurring more than once in the corpus) "
    "over the same derived page fixture as "
    "quality_gopher_line_para_dedup — but counting a line as "
    "duplicated when it appears in ≥2 DISTINCT pages, the corpus-wide "
    "rule, not the within-page one (the planted boilerplate line hits "
    "every page; shared 80-char prefixes surface real exact-dup "
    "text). Per page: line count, cross-doc duplicated lines, and the "
    "line/char fractions C4's filter would strip. Plan: one shuffle "
    "keyed by the 80-char line (the corpus-wide line-frequency table "
    "every C4 implementation materializes) + one page-keyed agg — "
    "both linear; no cross-page pair join ever forms. Integer counts, "
    "one double division per fraction.",
)
def dedup_c4_crossdoc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.select(
        (F.col("doc_id") % _PAGE_GROUPS).alias("grp"),
        F.when(F.col("doc_id") % 3 == 1, F.lit(_BOILER))
        .otherwise(F.substring("text", 1, 80))
        .alias("line"),
    )
    npages = src.groupBy("line").agg(
        F.countDistinct("grp").alias("np")
    )
    dup = F.when(F.col("np") >= 2, 1).otherwise(0)
    dup_chars = F.when(F.col("np") >= 2, F.length("line")).otherwise(0)
    return (
        src.join(npages, "line")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(dup).alias("__nd"),
            F.sum(F.length("line")).alias("__chars"),
            F.sum(dup_chars).alias("__dchars"),
        )
        .select(
            F.col("grp").alias("page_id"),
            F.col("__n").cast("bigint").alias("n_lines"),
            F.col("__nd").cast("bigint").alias("n_crossdoc_dup_lines"),
            F.round(
                F.col("__nd").cast("double") / F.col("__n").cast("double"),
                6,
            ).alias("crossdoc_dup_line_frac"),
            F.round(
                F.col("__dchars").cast("double")
                / F.col("__chars").cast("double"),
                6,
            ).alias("crossdoc_dup_char_frac"),
        )
    )
