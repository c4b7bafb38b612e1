"""CLI output order without reference goldens: every tool's stdout is
checked line for line against the same query computed in plain Python
over a synthetic hourly .bm tree, in the order the CLI promises
(formatAndSort's total order). Runs in-process on the shared session."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys
from datetime import datetime, timezone

import pytest

from bb_bigdata_log_tools_spark import cli
from bb_bigdata_log_tools_spark.sources.boom import (
    _parse_boom_header,
    _try_block,
    write_boom_local,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_MS = 1704448800000  # 2024-01-05T10:00Z
HOUR_MS = 3600 * 1000
LINES_PER_HOUR = 60
USERS = ["Alice", "bob", "carol", "alice", "dave"]
# the window cuts the first and last hour in half
WINDOW = ["-start=2024-01-05 10:30", "-end=2024-01-05 12:30"]
START_MS, END_MS = BASE_MS + HOUR_MS // 2, BASE_MS + 5 * HOUR_MS // 2


def _write_tree(root, log_types: list[str]) -> list[tuple]:
    """3 hourly files per log type; every ts in the tree is unique (the
    type sets the ms parity), so ts alone fixes the expected order."""
    lines = []
    for t, log_type in enumerate(log_types):
        for h in range(3):
            hour = [
                (
                    BASE_MS + h * HOUR_MS + i * 60000 + (i * 137) % 500 * 2 + t,
                    f"GET /p{i} code={(200, 404, 500)[(i + h) % 3]} "
                    f"user={USERS[(i + t) % len(USERS)]}",
                    i,
                )
                for i in range(LINES_PER_HOUR)
            ]
            d = root / "dc1" / "svc1" / log_type / "20240105" / f"{10 + h}" / "comp1" / "data"
            d.mkdir(parents=True)
            write_boom_local(str(d / "part-00000.bm"), hour)
            lines += hour
    return lines


def _expected(lines: list[tuple], keep) -> list[str]:
    """Plain-Python logcat/search: window, predicate, total order,
    RFC5424 rendering."""
    out = []
    for ts, msg, _ in sorted(lines):
        if START_MS <= ts < END_MS and keep(msg):
            stamp = datetime.fromtimestamp(ts // 1000, tz=timezone.utc)
            out.append(f"{stamp:%Y-%m-%dT%H:%M:%S}.{ts % 1000:03d}+00:00 {msg}")
    return out


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("order_tree")
    lines = _write_tree(root, ["logs", "audit"])
    strings = root / "terms.txt"
    strings.write_text("code=500\r\n\nAlice\n", encoding="utf-8")
    return root, lines, strings


@pytest.fixture
def run_cli(spark, monkeypatch, capsys):
    monkeypatch.setattr(cli, "_spark", lambda: spark)

    def run(tool: str, args: list[str]) -> str:
        capsys.readouterr()
        cli.TOOLS[tool](args)
        return capsys.readouterr().out

    return run


CASES = {
    "logcat": ([], lambda m: True),
    "logsearch": (["-string=code=500"], lambda m: "code=500" in m),
    "logsearch_i": (["-string=ALICE", "--i"], lambda m: "alice" in m.lower()),
    "loggrep": (["-regex=user=(bob|carol)$"], lambda m: re.search("user=(bob|carol)$", m)),
    "logmultisearch": ([], lambda m: "code=500" in m or "Alice" in m),
    "logmultisearch_a": (["--a"], lambda m: "code=500" in m and "Alice" in m),
}


@pytest.mark.parametrize("case", list(CASES))
def test_cli_order_matches_python(case, tree, run_cli, tmp_path):
    """stdout equals the plain-Python answer in order; --r and --l
    (accepted no-ops) give byte-identical stdout; the --out part files,
    concatenated, equal stdout."""
    root, lines, strings = tree
    tool = case.split("_")[0]
    extra, keep = CASES[case]
    if tool == "logmultisearch":
        extra = [*extra, f"-strings={strings}"]
    args = ["-dc=dc1", "-svc=svc1", "-comp=comp1", *WINDOW, f"-root={root}", *extra]

    want = _expected(lines, keep)
    assert want
    out = run_cli(tool, args)
    assert out.splitlines() == want
    assert run_cli(tool, [*args, "--r"]) == out
    assert run_cli(tool, [*args, "--l"]) == out

    target = tmp_path / "out"
    assert run_cli(tool, [*args, f"--out={target}"]) == ""
    parts = sorted(glob.glob(str(target / "part-*")))
    assert parts
    assert "".join(open(p, encoding="utf-8").read() for p in parts) == out


def test_cli_skip_corrupt_multi_hour_window(tmp_path, run_cli, capsys):
    """One damaged block in the middle hour of a 3-hour window: the
    strict default fails with no output at all; --skipCorrupt emits
    every other line of the window, intact hours included, in order."""
    lines = _write_tree(tmp_path, ["logs"])
    path = tmp_path / "dc1/svc1/logs/20240105/11/comp1/data/part-00000.bm"
    data = path.read_bytes()
    _, sync, pos, codec = _parse_boom_header(data)
    for _ in range(2):
        _, _, pos = _try_block(data, pos, sync, codec)
    bad = bytearray(data)
    for k in range(6):
        bad[pos + k] ^= 0xFF  # wreck block 3's count/size varints
    path.write_bytes(bytes(bad))
    # one line per second, so block 3 of the 11:00 file is its 3rd line
    lost = sorted(ln for ln in lines if BASE_MS + HOUR_MS <= ln[0] < BASE_MS + 2 * HOUR_MS)[2]

    args = ["-dc=dc1", "-svc=svc1", "-comp=comp1", *WINDOW, f"-root={tmp_path}"]
    capsys.readouterr()
    with pytest.raises(Exception):
        cli.logcat(args)
    captured = capsys.readouterr()
    assert captured.out == ""
    assert cli.DATA_MARKER not in captured.err

    out = run_cli("logcat", [*args, "--skipCorrupt"])
    want = _expected([ln for ln in lines if ln != lost], lambda m: True)
    assert out.splitlines() == want
    assert len(want) == len(_expected(lines, lambda m: True)) - 1


@pytest.mark.parametrize("content", [None, "\n  \n\r\n"], ids=["missing", "empty"])
def test_logmultisearch_strings_checked_before_session(content, tree, tmp_path, monkeypatch):
    """A missing or term-less -strings file exits 1 with the CLI's
    ERROR banner, before any Spark session is asked for."""
    root, _, _ = tree
    strings = tmp_path / "terms.txt"
    if content is not None:
        strings.write_text(content, encoding="utf-8")
    args = [
        "-dc=dc1", "-svc=svc1", "-comp=comp1", *WINDOW, f"-root={root}",
        f"-strings={strings}",
    ]

    def no_session():
        raise AssertionError("session started before -strings was read")

    monkeypatch.setattr(cli, "_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.logmultisearch(args)
    assert re.match(r";\*+ ERROR: ", str(exc.value.code))

    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "bb_bigdata_log_tools_spark/cli.py"),
         "logmultisearch", *args],
        capture_output=True, text=True, timeout=120,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert res.returncode == 1
    assert re.match(r";\*+ ERROR: ", res.stderr)
    assert "Traceback" not in res.stderr
