"""Distributed grep (LogQuerier parity, SURVEY.md §2.6).

The reference fans out one TCP thread per machine and shells out to grep
with the client's raw arguments (src/LogQuerier/client.py:113-152,
src/LogQuerier/server.py:30-33 — so -i/-v/-c/-n/-w/-x/-F/-A/-B all
work). On Spark the fan-out *is* the partitioned scan: one `read.text`
over a glob, `input_file_name()` as the machine identity, `rlike` as the
regex engine. No custom scheduling; the filter runs inside whole-stage
codegen.

File identity is the FULL path through every reduction; the displayed
``source_file`` basename is taken after it (once per file for -c/-l, per
selected line otherwise), so two same-named files in different
directories are two rows under -c/-l, as GNU grep prints them. The
per-file -c/-l results sort inside one partition: no range-sampling job.

Flag support and the scale story:
- -i / -v / -F / -w / -x are pure predicate rewrites — still a single
  codegen'd scan+filter, zero shuffle.
- -o (only-matching) is a regexp_extract_all + posexplode over selected
  lines — codegen'd, zero shuffle; -l (files-with-matches) is a
  distinct over the full path (one tiny shuffle).
- -n / -A / -B / -C / -m need per-file line order. Spark rows carry no intrinsic
  order, so in these modes only the scan materializes (input_file_block_start(),
  monotonically_increasing_id()) AT READ TIME: block start is the
  in-file byte offset of the split and the id is increasing in read
  order within a split, so ordering by (offset, id) within each file
  reconstructs exact file order for ANY split layout — including files
  larger than one split and many small files packed into one partition.
  Line numbers and context flags then cost exactly one shuffle
  (window partitioned by file), which is the minimum possible: a
  global per-file numbering is inherently an exchange.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _lines(spark: SparkSession, path_glob: str, numbered: bool = False) -> DataFrame:
    df = spark.read.text(path_glob).withColumn("__path", F.input_file_name())
    if not numbered:
        return df
    # file-order witnesses — MUST be evaluated at scan time (both
    # functions return garbage after an exchange)
    df = df.withColumn("__off", F.input_file_block_start())
    return df.withColumn("__id", F.monotonically_increasing_id())


def _basename() -> Column:
    # matches the reference's "machine.{id}.log: " prefix (server.py:30-33)
    return F.element_at(F.split("__path", "/"), -1).alias("source_file")


def _by_file(df: DataFrame) -> DataFrame:
    # a global orderBy would sample range bounds in extra jobs for a few
    # rows; __path breaks basename ties deterministically
    return df.coalesce(1).sortWithinPartitions("source_file", "__path").drop("__path")


def _selected(pattern: str | list[str], invert: bool, *flags) -> tuple[str, Column]:
    """(regex, selection predicate); ``flags`` are compile_pattern's
    (ignore_case, fixed, word, line); a list is -e p1 -e p2 (any-match)."""
    compile_ = compile_patterns if isinstance(pattern, list) else compile_pattern
    pat = compile_(pattern, *flags)
    sel = F.col("value").rlike(pat)
    return pat, ~sel if invert else sel


def compile_pattern(
    pattern: str,
    ignore_case: bool = False,
    fixed: bool = False,
    word: bool = False,
    line: bool = False,
) -> str:
    """grep flag semantics as a single Java regex (Spark's rlike).

    fixed → -F (literal), word → -w, line → -x, ignore_case → -i.

    -w uses negative lookarounds, not \\b: GNU grep's -w requires the
    ADJACENT characters (or line edges) to be non-word — a match whose
    own edge chars are non-word, e.g. the literal "(y)" under -F -w,
    still counts. Java's \\b needs a word char on exactly one side of
    the boundary, so it silently never matches such patterns (caught by
    the differential fuzz vs real GNU grep). (?<!\\w)/(?!\\w) encode
    the GNU rule exactly and degenerate to \\b behavior for ordinary
    word-edged patterns. Dialect note: lookarounds are Java-regex-only
    (RE2 engines lack them) — fine here, the only consumer is rlike.
    """
    pat = re.escape(pattern) if fixed else pattern
    if word:
        pat = rf"(?<!\w)(?:{pat})(?!\w)"
    if line:
        pat = rf"^(?:{pat})$"
    if ignore_case:
        pat = f"(?i){pat}"
    return pat


def compile_patterns(
    patterns: list[str],
    ignore_case: bool = False,
    fixed: bool = False,
    word: bool = False,
    line: bool = False,
) -> str:
    """``grep -e p1 -e p2 ...``: a line is selected if ANY pattern
    matches. -w/-x/-F apply per pattern (GNU grep semantics), then the
    compiled patterns are OR'd into one alternation — so the engine
    still runs a single regex scan, not one pass per pattern."""
    compiled = [
        compile_pattern(p, ignore_case=False, fixed=fixed, word=word, line=line)
        for p in patterns
    ]
    pat = "|".join(f"(?:{p})" for p in compiled)
    if ignore_case:
        pat = f"(?i){pat}"
    return pat


def dgrep(
    spark: SparkSession,
    pattern: str | list[str],
    path_glob: str,
    ignore_case: bool = False,
    invert: bool = False,
    word: bool = False,
    line: bool = False,
    fixed: bool = False,
    line_numbers: bool = False,
    after: int = 0,
    before: int = 0,
    context: int = 0,
    max_count: int | None = None,
    only_matching: bool = False,
) -> DataFrame:
    """Matched lines with their source file — `grep` over all logs.

    invert → -v, line_numbers → -n (adds a 1-based ``line_no`` column),
    after/before → -A/-B context lines (context is measured around
    SELECTED lines, i.e. after -v if given, exactly like grep),
    context → -C (symmetric shorthand: max with any explicit -A/-B),
    max_count → -m (first m selected lines per FILE, in file order;
    context still prints around those m lines), only_matching → -o
    (one row per pattern OCCURRENCE within each selected line; like
    GNU grep, -o suppresses context lines, and with -v it yields no
    rows since selected lines contain no matches by definition).
    """
    if context:
        after, before = max(after, context), max(before, context)
    pat, sel = _selected(pattern, invert, ignore_case, fixed, word, line)
    numbered = bool(line_numbers or after or before or max_count is not None)
    df = _lines(spark, path_glob, numbered)
    cols = ["line_no"] if line_numbers else []

    def _emit(kept: DataFrame) -> DataFrame:
        out = kept.select(_basename(), *cols, "value")
        if not only_matching:
            return out
        # -o: every occurrence on its own row, left-to-right order kept
        # via posexplode (grep prints occurrences in line order)
        return out.select(
            "source_file",
            *cols,
            F.posexplode(
                F.regexp_extract_all(F.col("value"), F.lit(pat), F.lit(0))
            ).alias("__mpos", "value"),
        ).drop("__mpos")

    if not numbered:
        return _emit(df.filter(sel))

    w = Window.partitionBy("__path").orderBy("__off", "__id")
    df = df.withColumn("line_no", F.row_number().over(w))
    df = df.withColumn("__sel", sel.cast("int"))
    if max_count is not None:
        # -m: only the first m selected lines per file stay selected —
        # a running count over the SAME per-file window the numbering
        # uses (one shuffle total, shared by all window functions)
        run = F.sum("__sel").over(w.rowsBetween(Window.unboundedPreceding, 0))
        df = df.withColumn(
            "__sel",
            F.when((F.col("__sel") == 1) & (run <= max_count), 1).otherwise(0),
        )
    keep = F.col("__sel") == 1
    if only_matching:  # -o suppresses context lines, like GNU grep
        return _emit(df.filter(keep))
    if after:  # a selected line at m prints m..m+A → look back A rows
        df = df.withColumn("__a", F.max("__sel").over(w.rowsBetween(-after, 0)))
        keep = keep | (F.col("__a") == 1)
    if before:  # a selected line at m prints m-B..m → look ahead B rows
        df = df.withColumn("__b", F.max("__sel").over(w.rowsBetween(0, before)))
        keep = keep | (F.col("__b") == 1)
    return _emit(df.filter(keep))


def dgrep_files(
    spark: SparkSession,
    pattern: str | list[str],
    path_glob: str,
    ignore_case: bool = False,
    invert: bool = False,
    word: bool = False,
    line: bool = False,
    fixed: bool = False,
) -> DataFrame:
    """`grep -l` mode: names of files with at least one selected line.

    Plan: scan+filter in codegen, then a distinct on the full path —
    the shuffle carries one short string per matching FILE, and
    AQE collapses it to almost nothing. (grep -l also stops reading a
    file at its first match; a declarative scan can't early-exit per
    file, but the filter prunes everything but the winners immediately.)
    """
    _, sel = _selected(pattern, invert, ignore_case, fixed, word, line)
    paths = _lines(spark, path_glob).filter(sel).select("__path").distinct()
    return _by_file(paths.select(_basename(), "__path"))


def dgrep_count(
    spark: SparkSession,
    pattern: str | list[str],
    path_glob: str,
    ignore_case: bool = False,
    invert: bool = False,
    word: bool = False,
    line: bool = False,
    fixed: bool = False,
    max_count: int | None = None,
) -> DataFrame:
    """`grep -c` mode: per-file match counts (reference:
    src/LogQuerier/client.py:103-111). Counts SELECTED lines (grep -c
    ignores context flags); ``max_count`` caps each file's count at m
    exactly like `grep -c -m`. The cluster TOTAL is `df.agg(sum(...))` —
    computed by the caller (cli.py prints it like client.py:151-152).
    """
    _, sel = _selected(pattern, invert, ignore_case, fixed, word, line)
    cnt = F.sum(sel.cast("long"))
    if max_count is not None:
        cnt = F.least(cnt, F.lit(max_count).cast("long"))
    counts = _lines(spark, path_glob).groupBy("__path").agg(cnt.alias("match_count"))
    return _by_file(counts.select(_basename(), "match_count", "__path"))
