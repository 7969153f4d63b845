"""Distributed grep golden-count tests mirroring the reference's only
asserted suite (tests/Log Querier/test.py: 600/300/100 per-machine
frequencies + 350 for the /product/\\d+ regex; generator shape from
tests/Log Querier/generate_log.py via FIXTURES.md §3)."""

from __future__ import annotations

import os
import random

import pytest

from stream_processing_spark.sources.grep import dgrep, dgrep_count

FREQ_IP, MED_IP, RARE_IP = "192.168.1.100", "192.168.1.150", "10.0.0.50"
N_MACHINES, LINES = 4, 1000


def _gen_machine_log(path: str, seed: int) -> None:
    rng = random.Random(seed)
    ips = [FREQ_IP] * 600 + [MED_IP] * 300 + [RARE_IP] * 100
    product = [True] * 350 + [False] * 650
    rng.shuffle(ips)
    rng.shuffle(product)
    lines = []
    for ip, prod in zip(ips, product):
        url = f"/product/{rng.randint(1, 101)}" if prod else rng.choice(
            ["/home", "/about", "/contact", "/login", "/logout"]
        )
        method = rng.choice(["GET", "POST", "PUT", "DELETE"])
        status = rng.choice([200, 301, 404, 500])
        size = rng.randint(500, 5000)
        lines.append(
            f'{ip} - - [01/Jan/2026:00:00:00 ] "{method} {url} HTTP/1.1" {status} {size}'
        )
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("logs")
    for i in range(1, N_MACHINES + 1):
        _gen_machine_log(str(d / f"machine.{i}.log"), seed=42 + i)
    return str(d)


def test_frequent_pattern_counts(spark, logdir):
    rows = dgrep_count(spark, FREQ_IP, f"{logdir}/machine.*.log").collect()
    assert len(rows) == N_MACHINES
    assert all(r.match_count == 600 for r in rows)


def test_medium_and_rare_counts(spark, logdir):
    med = dgrep_count(spark, MED_IP, f"{logdir}/machine.*.log").collect()
    rare = dgrep_count(spark, RARE_IP, f"{logdir}/machine.*.log").collect()
    assert all(r.match_count == 300 for r in med)
    assert all(r.match_count == 100 for r in rare)


def test_regex_product_counts(spark, logdir):
    rows = dgrep_count(spark, r"/product/\d+", f"{logdir}/machine.*.log").collect()
    assert all(r.match_count == 350 for r in rows)
    total = sum(r.match_count for r in rows)
    assert total == 350 * N_MACHINES


def test_dgrep_lines_carry_source(spark, logdir):
    df = dgrep(spark, RARE_IP, f"{logdir}/machine.*.log")
    rows = df.collect()
    assert len(rows) == 100 * N_MACHINES
    assert {r.source_file for r in rows} == {
        f"machine.{i}.log" for i in range(1, N_MACHINES + 1)
    }
    assert all(RARE_IP in r.value for r in rows)


def test_ignore_case(spark, logdir):
    up = dgrep(spark, "get ", f"{logdir}/machine.*.log", ignore_case=True)
    lo = dgrep(spark, "GET ", f"{logdir}/machine.*.log")
    assert up.count() == lo.count() > 0


def test_grep_gzipped_logs(spark, tmp_path):
    """Compressed rotated logs: read.text decompresses .gz transparently —
    grep works over mixed plain + gzipped sources (real log dirs rotate)."""
    import gzip

    d = tmp_path / "gzlogs"
    d.mkdir()
    (d / "machine.1.log").write_text("hit alpha\nmiss beta\nhit gamma\n")
    with gzip.open(d / "machine.2.log.gz", "wt") as f:
        f.write("hit delta\nmiss epsilon\n")

    out = dgrep_count(spark, "hit", str(d / "*"))
    counts = {r["source_file"]: r["match_count"] for r in out.collect()}
    assert counts == {"machine.1.log": 2, "machine.2.log.gz": 1}


def test_csv_quoting_aware_read(spark, tmp_path):
    """The reference splits CSV rows with value.split(',') — quoted commas
    corrupt columns (SURVEY.md §1.2, tests/sample1_op2.py). Our CSV source
    must parse quoting correctly (Traffic_Signs.csv has quoted fields)."""
    p = tmp_path / "signs.csv"
    p.write_text(
        'OBJECTID,Sign_Type,Notes\n'
        '1,Stop,"plain note"\n'
        '2,Yield,"note, with comma"\n'
        '3,"Speed, Limit","a ""quoted"" word"\n'
    )
    df = spark.read.csv(str(p), header=True, quote='"', escape='"')
    rows = {r["OBJECTID"]: (r["Sign_Type"], r["Notes"]) for r in df.collect()}
    assert rows["2"] == ("Yield", "note, with comma")
    assert rows["3"] == ("Speed, Limit", 'a "quoted" word')
    # the reference's naive split would have produced 4 columns for row 2
    naive = "2,Yield,note, with comma".split(",")
    assert len(naive) == 4


def _flagdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("flaglogs")
    (d / "machine.1.log").write_text(
        "error: disk full\n"
        "warning: retry\n"
        "errors were logged\n"
        "ERROR: mount failed\n"
        "all ok\n"
        "preerror suffix\n"
        "error\n"
    )
    (d / "machine.2.log").write_text(
        "ok\nok\nerror: net down\nok\nok\n"
    )
    return str(d)


@pytest.fixture(scope="module")
def flagdir(tmp_path_factory):
    return _flagdir(tmp_path_factory)


def test_grep_word_anchor(spark, flagdir):
    # -w: 'error' as a whole word — not 'errors', not 'preerror'
    counts = {
        r.source_file: r.match_count
        for r in dgrep_count(spark, "error", f"{flagdir}/*", word=True).collect()
    }
    assert counts == {"machine.1.log": 2, "machine.2.log": 1}


def test_grep_line_anchor_and_fixed(spark, flagdir):
    # -x: whole-line match only
    xc = dgrep_count(spark, "error", f"{flagdir}/*", line=True).collect()
    assert {r.source_file: r.match_count for r in xc} == {
        "machine.1.log": 1,
        "machine.2.log": 0,
    }
    # -F: regex metacharacters are literal
    fc = dgrep_count(spark, "disk full", f"{flagdir}/*", fixed=True).collect()
    assert sum(r.match_count for r in fc) == 1
    dot = dgrep_count(spark, "error.", f"{flagdir}/*", fixed=True).collect()
    assert sum(r.match_count for r in dot) == 0  # literal dot, no match


def test_grep_line_numbers(spark, flagdir):
    # -n: 1-based per-file line numbers in file order
    rows = dgrep(
        spark, "error", f"{flagdir}/*", word=True, line_numbers=True
    ).collect()
    got = {(r.source_file, r.line_no) for r in rows}
    # case-sensitive, so line 4 ('ERROR: mount failed') is excluded
    assert got == {
        ("machine.1.log", 1),
        ("machine.1.log", 7),
        ("machine.2.log", 3),
    }
    # -i -n together picks up the upper-case line too
    with_i = dgrep(
        spark, "error", f"{flagdir}/*",
        word=True, line_numbers=True, ignore_case=True,
    ).collect()
    assert {(r.source_file, r.line_no) for r in with_i} == got | {
        ("machine.1.log", 4)
    }


def test_grep_context_after_before(spark, flagdir):
    # -A 1: each match plus the following line
    rows = dgrep(
        spark, "warning", f"{flagdir}/*", line_numbers=True, after=1
    ).collect()
    assert {(r.source_file, r.line_no) for r in rows} == {
        ("machine.1.log", 2),
        ("machine.1.log", 3),
    }
    # -B 2: each match plus the two preceding lines
    rows = dgrep(
        spark, "net down", f"{flagdir}/*", line_numbers=True, before=2
    ).collect()
    assert {(r.source_file, r.line_no) for r in rows} == {
        ("machine.2.log", 1),
        ("machine.2.log", 2),
        ("machine.2.log", 3),
    }


def test_grep_invert_with_context_selects_inverted(spark, flagdir):
    # grep -v -c: count NON-matching lines
    rows = dgrep_count(spark, "^ok$", f"{flagdir}/*", invert=True).collect()
    assert {r.source_file: r.match_count for r in rows} == {
        "machine.1.log": 7,
        "machine.2.log": 1,
    }


def test_grep_cli_flag_passthrough(spark, flagdir, capsys):
    from stream_processing_spark import cli

    rc = cli.main(["dgrep", "-cw", "error", f"{flagdir}/*"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "machine.1.log: 2" in out
    assert "machine.2.log: 1" in out
    assert "TOTAL: 3" in out

    rc = cli.main(["dgrep", "-n", "-A", "1", "warning", f"{flagdir}/*"])
    out = capsys.readouterr().out
    assert "machine.1.log:2: warning: retry" in out
    assert "machine.1.log:3: errors were logged" in out


def test_grep_only_matching(spark, flagdir):
    # -o: one row per OCCURRENCE; 'error: disk full' has one 'error',
    # 'preerror suffix' contains the substring too
    rows = dgrep(spark, "error", f"{flagdir}/*", only_matching=True).collect()
    assert all(r.value == "error" for r in rows)
    counts = {}
    for r in rows:
        counts[r.source_file] = counts.get(r.source_file, 0) + 1
    # m1: 'error:'(1) + 'errors'(1) + 'preerror'(1) + 'error'(1) = 4
    # ('ERROR:' excluded — case-sensitive)
    assert counts == {"machine.1.log": 4, "machine.2.log": 1}
    # multiple occurrences in ONE line each become their own row:
    # machine.2.log 'error: net down' has 'o' in 'error' AND 'down'
    rows = dgrep(spark, "o", f"{flagdir}/*", only_matching=True).collect()
    n_in_m2 = sum(1 for r in rows if r.source_file == "machine.2.log")
    assert n_in_m2 == 6  # ok,ok,(error+down)=2,ok,ok
    # -o with line numbers keeps the source line's number per occurrence
    rows = dgrep(
        spark, "o", f"{flagdir}/*", only_matching=True, line_numbers=True
    ).collect()
    m2 = sorted((r.line_no, r.value) for r in rows if r.source_file == "machine.2.log")
    assert m2 == [(1, "o"), (2, "o"), (3, "o"), (3, "o"), (4, "o"), (5, "o")]


def test_grep_only_matching_with_invert_is_empty(spark, flagdir):
    # GNU grep -v -o prints nothing: selected lines contain no matches
    rows = dgrep(
        spark, "error", f"{flagdir}/*", invert=True, only_matching=True
    ).collect()
    assert rows == []


def test_grep_max_count(spark, flagdir):
    # -m 1: only the FIRST selected line per file (in file order)
    rows = dgrep(
        spark, "error", f"{flagdir}/*", max_count=1, line_numbers=True
    ).collect()
    assert {(r.source_file, r.line_no) for r in rows} == {
        ("machine.1.log", 1),
        ("machine.2.log", 3),
    }
    # -m 2 takes the first two per file in order
    rows = dgrep(
        spark, "error", f"{flagdir}/*", max_count=2, line_numbers=True
    ).collect()
    assert {(r.source_file, r.line_no) for r in rows} == {
        ("machine.1.log", 1),
        ("machine.1.log", 3),
        ("machine.2.log", 3),
    }
    # -c -m: counts cap at m per file
    counts = {
        r.source_file: r.match_count
        for r in dgrep_count(spark, "error", f"{flagdir}/*", max_count=2).collect()
    }
    assert counts == {"machine.1.log": 2, "machine.2.log": 1}


def test_grep_max_count_with_context(spark, flagdir):
    # context prints around the first m matches only
    rows = dgrep(
        spark, "error", f"{flagdir}/*", max_count=1, after=1, line_numbers=True
    ).collect()
    assert {(r.source_file, r.line_no) for r in rows} == {
        ("machine.1.log", 1),
        ("machine.1.log", 2),
        ("machine.2.log", 3),
        ("machine.2.log", 4),
    }


def test_grep_symmetric_context(spark, flagdir):
    # -C 1 == -A 1 -B 1
    from stream_processing_spark.sources.grep import dgrep as g

    sym = g(spark, "warning", f"{flagdir}/*", line_numbers=True, context=1).collect()
    explicit = g(
        spark, "warning", f"{flagdir}/*", line_numbers=True, after=1, before=1
    ).collect()
    assert sorted(map(tuple, sym)) == sorted(map(tuple, explicit))
    assert {(r.source_file, r.line_no) for r in sym} == {
        ("machine.1.log", 1),
        ("machine.1.log", 2),
        ("machine.1.log", 3),
    }


def test_grep_files_with_matches(spark, flagdir):
    from stream_processing_spark.sources.grep import dgrep_files

    # -l: 'warning' appears only in machine.1.log
    rows = dgrep_files(spark, "warning", f"{flagdir}/*").collect()
    assert [r.source_file for r in rows] == ["machine.1.log"]
    # both files contain 'error'
    rows = dgrep_files(spark, "error", f"{flagdir}/*").collect()
    assert [r.source_file for r in rows] == ["machine.1.log", "machine.2.log"]


def test_grep_cli_new_flags(spark, flagdir, capsys):
    from stream_processing_spark import cli

    rc = cli.main(["dgrep", "-l", "warning", f"{flagdir}/*"])
    assert rc == 0
    assert capsys.readouterr().out.strip() == "machine.1.log"

    rc = cli.main(["dgrep", "-n", "-m", "1", "error", f"{flagdir}/*"])
    out = capsys.readouterr().out
    assert "machine.1.log:1: error: disk full" in out
    assert "machine.1.log:3:" not in out

    rc = cli.main(["dgrep", "-o", "error", f"{flagdir}/*"])
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5 and all(l.endswith("error") for l in out)

    rc = cli.main(["dgrep", "-n", "-C", "1", "warning", f"{flagdir}/*"])
    out = capsys.readouterr().out
    assert "machine.1.log:1: error: disk full" in out
    assert "machine.1.log:2: warning: retry" in out
    assert "machine.1.log:3: errors were logged" in out


def test_line_numbers_distinct_dirs_same_basename(spark, tmp_path):
    # two files named app.log in different directories must be numbered
    # independently (partition identity is the full path, display name
    # is the basename)
    for sub, body in [("dirA", "m1\nm2\nhit\n"), ("dirB", "hit\nx\n")]:
        d = tmp_path / sub
        d.mkdir()
        (d / "app.log").write_text(body)
    rows = dgrep(
        spark, "hit", f"{tmp_path}/*/app.log", line_numbers=True
    ).collect()
    got = {(r.source_file, r.line_no) for r in rows}
    assert got == {("app.log", 3), ("app.log", 1)}


def test_count_and_files_distinct_dirs_same_basename(spark, tmp_path):
    # -c and -l give one row per FILE (as GNU grep does), not one per
    # basename: the two app.log files are grouped by full path and ordered
    # by it, so dirA's row comes first on every run
    for sub, body in [("dirA", "hit\nx\nhit\n"), ("dirB", "hit\n")]:
        (tmp_path / sub).mkdir()
        (tmp_path / sub / "app.log").write_text(body)
    glob = f"{tmp_path}/*/app.log"
    rows = dgrep_count(spark, "hit", glob).collect()
    assert [tuple(r) for r in rows] == [("app.log", 2), ("app.log", 1)]
    assert dgrep_count(spark, "hit", glob).columns == ["source_file", "match_count"]
    from stream_processing_spark.sources.grep import dgrep_files

    files = dgrep_files(spark, "hit", glob).collect()
    assert [tuple(r) for r in files] == [("app.log",), ("app.log",)]
    # a file without a hit still gets its 0 under -c, and none under -l
    rows = dgrep_count(spark, "x", glob).collect()
    assert [tuple(r) for r in rows] == [("app.log", 1), ("app.log", 0)]
    assert len(dgrep_files(spark, "x", glob).collect()) == 1


def test_dgrep_count_runs_at_most_two_jobs(spark, logdir):
    # one scan+partial-aggregate job and one final job; a global orderBy
    # would add range-bound sampling jobs on top
    sc, gid = spark.sparkContext, "test-grep-count-jobs"
    sc.setJobGroup(gid, "dgrep_count job budget")
    try:
        rows = dgrep_count(spark, FREQ_IP, f"{logdir}/machine.*.log").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r.match_count for r in rows] == [600] * N_MACHINES
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(gid)) <= 2


def test_dgrep_count_plan_takes_basename_after_aggregate(spark, logdir):
    df = dgrep_count(spark, FREQ_IP, f"{logdir}/machine.*.log")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    # the tree prints top-down: everything after the first aggregate line
    # runs below it, i.e. once per scanned line
    below = plan[plan.index("HashAggregate"):]
    assert "split(" not in below and "element_at(" not in below, plan


def test_grep_multi_pattern_any_match(spark, logdir):
    # -e MED -e RARE: every machine has 300 + 100 = 400 selected lines
    # (the two IPs never share a line), and the count equals the sum of
    # the single-pattern counts — the OR-alternation really is any-match
    rows = dgrep_count(
        spark, [MED_IP, RARE_IP], f"{logdir}/machine.*.log", fixed=True
    ).collect()
    assert len(rows) == N_MACHINES
    assert all(r.match_count == 400 for r in rows)


def test_grep_multi_pattern_flags_apply_per_pattern(spark, logdir):
    # -w with multiple patterns: word anchoring wraps EACH alternative.
    # '68.1' sits mid-token in every IP ('...168.1...' is preceded by a
    # word char), so its \b-wrapped alternative can never fire and only
    # the RARE_IP alternative contributes. (NB: a dot-flanked substring
    # like '192.168.1' WOULD match under -w — '.' is a non-word char —
    # exactly as GNU grep treats it.)
    rows = dgrep_count(
        spark, ["68.1", RARE_IP], f"{logdir}/machine.*.log", word=True
    ).collect()
    assert all(r.match_count == 100 for r in rows)


def test_grep_cli_multi_pattern(spark, logdir, capsys):
    from stream_processing_spark import cli

    cli.main(["dgrep", "-c", "-F", "-e", MED_IP, "-e", RARE_IP,
              f"{logdir}/machine.*.log"])
    out = capsys.readouterr().out
    assert "TOTAL: 1600" in out  # 400 x 4 machines
