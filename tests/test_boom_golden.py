"""Golden parity tests: decode the reference repo's own .bm test file and
reproduce the expected outputs of its logsearch test script
(``/root/reference/testcases/logsearch/logsearch.test.script.sh``) against
``reference-files/*.txt`` byte-for-byte.
"""

from __future__ import annotations

import os

import pytest

from bb_bigdata_log_tools_spark.operators import logops
from bb_bigdata_log_tools_spark.sources.boom import (
    read_boom,
    read_boom_local,
    write_boom_local,
)

REF = "/root/reference/testcases/logsearch"
BM_FILE = (
    f"{REF}/logsearch-testservice/logs/20120228/10/logsearch-test/data/"
    "part-m-00000.00000.2012-02-28-10.bm"
)
# Feb 28 2012 10:00 .. 11:00 UTC
START = 1330423200000
END = 1330426800000

pytestmark = [pytest.mark.slow,  # heavy tier, see pytest.ini
              pytest.mark.skipif(
    not os.path.exists(BM_FILE), reason="reference testdata not present"
)]


def golden(name: str) -> list[str]:
    with open(f"{REF}/reference-files/{name}", encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def fmt(rows) -> list[str]:
    """RFC5424-format sorted rows the way the reference pipeline does."""
    from datetime import datetime, timezone

    out = []
    for ts, message, *_ in sorted(rows):
        dt = datetime.fromtimestamp(ts / 1000, tz=timezone.utc)
        ms = ts % 1000
        out.append(
            dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}+00:00 " + message.rstrip("\n")
        )
    return out


def test_boom_local_decode_matches_logcat_golden():
    rows = read_boom_local(BM_FILE)
    assert len(rows) > 0
    assert fmt(rows) == golden("logcat-reference.txt")


def test_boom_spark_read_matches_local(spark):
    sdf = read_boom(spark, os.path.dirname(BM_FILE))
    srows = sorted(tuple(r) for r in sdf.collect())
    assert srows == sorted(read_boom_local(BM_FILE))


def _search_script_outputs(rows, searches) -> list[str]:
    out = []
    for term, ci in searches:
        matched = [
            r
            for r in rows
            if (term.lower() in r[1].lower() if ci else term in r[1])
            and START <= r[0] < END
        ]
        out.extend(fmt(matched))
    return out


def test_search_semantics_match_logsearch_golden():
    """Replays every logtoolsearch invocation of the reference test
    script (same terms, same case flags) and compares the concatenated
    output to logsearch-reference.txt."""
    rows = read_boom_local(BM_FILE)
    searches = [
        ("test", False), ("TEST", False), ("ä", False), ("Ä", False),
        ("ä", True), ("fenêtre", False), ("FENÊTRE", False), ("feNêtRe", True),
        ("человек", False), ("ЧЕЛОВЕК", False), ("ЧЕЛовЕК", True),
        ("رجل", False), ("رجل", True), ("αβγδε", False), ("ΑΒΓΔΕ", False),
        ("αβγΔΕ", True), ("#!A", False), ("#!a", True), ("^X", False),
        ("^x", True), ("3.14159265358979", False), ("1.602E-19", False),
        ("1.602x10^-19", False), ("123,456,789.00", False),
        ("2012-02-28T10:00:01Z", False),
    ]
    assert _search_script_outputs(rows, searches) == golden("logsearch-reference.txt")


def test_spark_search_matches_golden_subset(spark):
    """Same searches through the actual Spark operator (not the local
    replay) for a representative unicode subset."""
    df = read_boom(spark, os.path.dirname(BM_FILE))
    for term, ci, expect_count in [
        ("test", False, 1), ("ЧЕЛовЕК", True, 2), ("fenêtre", False, 1),
        ("#!a", True, 1),
    ]:
        got = logops.search(df, term, START, END, case_insensitive=ci).collect()
        assert len(got) == expect_count, (term, ci, len(got))


def test_grep_semantics_match_loggrep_golden(spark):
    df = read_boom(spark, os.path.dirname(BM_FILE))
    greps = [
        ("^THIS IS A TEST MESSAGE", True),
        ("^This", False),
        ("c?n", False),
        ("c*n", False),
        ("αβγδε|человек|fenêtre|ä|رجل", False),
    ]
    out = []
    for regex, ci in greps:
        rows = [tuple(r) for r in logops.grep(df, regex, START, END, ci).collect()]
        out.extend(fmt(rows))
    assert out == golden("loggrep-reference.txt")


def test_multisearch_semantics_match_golden(spark):
    df = read_boom(spark, os.path.dirname(BM_FILE))

    def terms(fname):
        with open(f"{REF}/{fname}", encoding="utf-8") as f:
            return [line.strip() for line in f if line.strip()]

    out = []
    for fname, ci, match_all in [
        ("logmultisearch-strings-OR.txt", False, False),
        ("logmultisearch-strings-OR.txt", True, False),
        ("logmultisearch-strings-AND.txt", False, True),
        ("logmultisearch-strings-AND.txt", True, True),
    ]:
        rows = [
            tuple(r)
            for r in logops.multisearch(
                df, terms(fname), START, END, ci, match_all
            ).collect()
        ]
        out.extend(fmt(rows))
    assert out == golden("logmultisearch-reference.txt")


def test_boom_write_roundtrip(tmp_path):
    rows = read_boom_local(BM_FILE)
    out = tmp_path / "roundtrip.bm"
    write_boom_local(str(out), [(r[0], r[1], r[2]) for r in rows])
    back = read_boom_local(str(out))
    assert [(r[0], r[1], r[2]) for r in back] == sorted(
        (r[0], r[1], r[2]) for r in rows
    )


def test_compact_boom_dir(spark, tmp_path):
    from bb_bigdata_log_tools_spark.sources.boom import compact_boom_dir

    n = compact_boom_dir(spark, os.path.dirname(BM_FILE), str(tmp_path / "merged.bm"))
    merged = read_boom_local(str(tmp_path / "merged.bm"))
    orig = read_boom_local(BM_FILE)
    assert n == len(orig)
    assert [(r[0], r[1]) for r in merged] == sorted((r[0], r[1]) for r in orig)


def test_pushdown_scan_equals_read_then_filter():
    """FastSearch-parity pushdown (block byte-scan before record decode)
    must return EXACTLY the read-everything-then-filter rows for every
    term/flag combination the golden search script exercises, including
    the unicode case-insensitive fallback path."""
    from bb_bigdata_log_tools_spark.sources.boom import scan_boom_bytes

    with open(BM_FILE, "rb") as f:
        data = f.read()
    rows = read_boom_local(BM_FILE)
    cases = [
        (["test"], False, False), (["TEST"], False, True),
        (["ä"], False, True), (["fenêtre"], False, False),
        (["ЧЕЛовЕК"], False, True), (["#!a"], False, True),
        (["line", "case"], True, False), (["contains", "Greek"], False, False),
        (["3.14159265358979"], False, False), (["nosuchterm"], False, False),
    ]
    for terms, match_all, ci in cases:
        agg = all if match_all else any
        want = sorted(
            r for r in rows
            if agg(
                (t.upper() in r[1].upper()) if ci else (t in r[1])
                for t in terms
            )
        )
        got = sorted(
            scan_boom_bytes(
                data, terms, match_all=match_all, case_insensitive=ci
            )
        )
        assert got == want, (terms, match_all, ci, len(got), len(want))


def test_pushdown_time_bounds_match_reference_semantics():
    """start/end bound on block seconds, [start, end) on second*1000 —
    logdriver.search.start.time/end.time semantics."""
    from bb_bigdata_log_tools_spark.sources.boom import scan_boom_bytes

    with open(BM_FILE, "rb") as f:
        data = f.read()
    rows = read_boom_local(BM_FILE)
    matches = sorted(r for r in rows if "line" in r[1])
    # cut strictly above the first match's second so the bound excludes it
    mid = (matches[0][0] // 1000) * 1000 + 1000
    got = sorted(scan_boom_bytes(data, ["line"], start_ms=mid))
    want = sorted(
        r for r in matches if (r[0] // 1000) * 1000 >= mid
    )
    assert got == want and 0 < len(got) < len(matches)


def test_spark_pushdown_read_matches_unpushed(spark):
    """The distributed read with search_terms= must equal read-then-
    filter through the DataFrame API (drop-in accelerator contract)."""
    d = os.path.dirname(BM_FILE)
    base = read_boom(spark, d)
    for terms, ci in [(["test"], False), (["ЧЕЛовЕК"], True)]:
        pushed = sorted(
            tuple(r)
            for r in read_boom(
                spark, d, search_terms=terms, case_insensitive=ci
            ).collect()
        )
        import pyspark.sql.functions as F

        cond = None
        for t in terms:
            c = (
                F.upper(F.col("message")).contains(t.upper())
                if ci
                else F.col("message").contains(t)
            )
            cond = c if cond is None else (cond | c)
        want = sorted(tuple(r) for r in base.filter(cond).collect())
        assert pushed == want and len(pushed) > 0, (terms, ci)
