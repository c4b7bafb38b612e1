"""Boom container tests that need no reference data: compaction, ranged
and split reads, salvage of damaged blocks, the strict reader on every
path, and the writers' on-disk bytes. The block reader these guard
(strict, salvage and ranged modes) is ``sources/boom.py:_blocks``."""

from __future__ import annotations

import hashlib
import json

import pytest

from bb_bigdata_log_tools_spark.sources import avro_generic as ag
from bb_bigdata_log_tools_spark.sources.boom import (
    _parse_boom_header,
    _try_block,
    read_boom,
    read_boom_local,
    read_boom_split,
    scan_boom_range,
    write_boom_local,
    write_boom_stream,
    write_reboom_stream,
)


@pytest.mark.slow
def test_compact_boom_dir_multi_partition(spark, tmp_path):
    """Compaction over several part files with interleaved seconds: the
    merged file must be totally (ts, message)-ordered with monotonically
    increasing block numbers, and the executor-side streaming writer
    must produce one block per distinct second."""
    from bb_bigdata_log_tools_spark.sources.boom import (
        compact_boom_dir,
        read_container,
        write_boom_local,
    )

    src = tmp_path / "parts"
    src.mkdir()
    all_lines = []
    for i in range(4):
        lines = [
            (1000 * (i + 4 * j) + (j * 37) % 1000, f"msg-{i}-{j}", j)
            for j in range(50)
        ]
        write_boom_local(str(src / f"part-{i:05d}.bm"), lines)
        all_lines.extend(lines)

    out = tmp_path / "merged.bm"
    n = compact_boom_dir(spark, str(src), str(out))
    assert n == len(all_lines)
    merged = read_boom_local(str(out))
    assert [(r[0], r[1], r[2]) for r in merged] == sorted(
        (ts, m, e) for ts, m, e in all_lines
    )
    with open(out, "rb") as f:
        blocks = list(read_container(f.read()))
    assert [b["blockNumber"] for b in blocks] == list(range(len(blocks)))
    assert [b["second"] for b in blocks] == sorted({ts // 1000 for ts, _, _ in all_lines})


@pytest.mark.slow
def test_sync_split_ranges_partition_all_blocks(tmp_path):
    """Every (start, end) range partition of a multi-block .bm must
    reproduce the full decode exactly — including splits landing inside
    blocks, inside sync markers, and at block boundaries — and the
    pushed search must agree with read-then-filter through the ranged
    path."""
    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom_local,
        scan_boom_range,
        write_boom_stream,
    )

    path = str(tmp_path / "big.bm")
    lines = [
        (1_700_000_000_000 + s * 1000 + (i % 1000),
         f"second {s} line {i} payload {'x' * (i % 37)}", i)
        for s in range(60)
        for i in range(25)
    ]
    write_boom_stream(path, iter(lines), create_time=7)
    want = sorted(read_boom_local(path))
    size = __import__("os").path.getsize(path)

    for split in [size, size // 2, 1024, 777, 131]:
        got = []
        start = 0
        n_ranges = 0
        while start < size:
            end = min(start + split, size)
            got.extend(scan_boom_range(path, start, end))
            n_ranges += 1
            start += split
        assert sorted(got) == want, (split, len(got), len(want))
        if split == 131:
            assert n_ranges > 20  # genuinely many ranges

    # pushdown through ranges == read-then-filter
    term = "line 7 "
    got = []
    start = 0
    while start < size:
        got.extend(
            scan_boom_range(path, start, min(start + 997, size),
                            search_terms=[term])
        )
        start += 997
    assert sorted(got) == sorted(r for r in want if term in r[1])


@pytest.mark.slow
def test_read_boom_split_distributed(spark, tmp_path):
    """The ranged DataFrame reader equals read_boom on the same tree and
    actually fans a single large file across multiple tasks."""
    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom,
        read_boom_split,
        write_boom_stream,
    )

    d = tmp_path / "data"
    d.mkdir()
    path = str(d / "part-00000.bm")
    lines = [
        (1_700_000_000_000 + s * 1000, f"s{s} line {i}", i)
        for s in range(40)
        for i in range(20)
    ]
    write_boom_stream(path, iter(lines))
    full = sorted(tuple(r) for r in read_boom(spark, str(d)).collect())
    split = read_boom_split(spark, str(d), split_bytes=1500)
    got = sorted(tuple(r) for r in split.collect())
    assert got == full and len(got) == len(lines)
    assert split.rdd.getNumPartitions() > 3


@pytest.mark.slow
def test_read_boom_skip_corrupt_salvages_blocks(spark, tmp_path):
    """skip_corrupt=True resyncs past a damaged container block via the
    Avro sync markers (block-granularity ignoreCorruptFiles): the four
    intact blocks' lines survive, the wrecked block's are dropped, and
    the strict default still fails loudly. A header-wrecked file
    yields zero rows instead of killing the task."""
    import pytest

    from bb_bigdata_log_tools_spark.sources.boom import (
        _parse_boom_header,
        _try_block,
        read_boom,
        write_boom_local,
    )

    d = tmp_path / "tree"
    d.mkdir()
    p = d / "t.bm"
    lines = [
        (s * 1000 + i, f"line s{s} i{i}", s * 10 + i)
        for s in range(5)
        for i in range(3)
    ]
    write_boom_local(str(p), lines)
    data = p.read_bytes()
    schema, sync, header_end, codec = _parse_boom_header(data)
    pos = header_end
    for _ in range(2):
        _, _, pos = _try_block(data, pos, sync, codec)
    bad = bytearray(data)
    for k in range(6):
        bad[pos + k] ^= 0xFF  # wreck block 3's count/size varints
    p.write_bytes(bytes(bad))
    # strict default: the decode task fails loudly
    with pytest.raises(Exception):
        read_boom(spark, str(d)).collect()
    # salvage: 12 of 15 lines, exactly the intact seconds
    rows = read_boom(spark, str(d), skip_corrupt=True).collect()
    msgs = {r["message"] for r in rows}
    assert len(rows) == 12
    assert not any(" s2 " in m for m in msgs)
    for s in (0, 1, 3, 4):
        for i in range(3):
            assert any(f"s{s} i{i}" in m for m in msgs)
    # salvage + push-down search is an explicit usage error
    with pytest.raises(ValueError):
        read_boom(spark, str(d), search_terms=["x"], skip_corrupt=True)
    # unreadable header: zero rows under salvage
    p.write_bytes(b"Obj\x01" + b"\x00" * 10)
    assert read_boom(spark, str(d), skip_corrupt=True).count() == 0


@pytest.mark.slow
def test_cli_logcat_skip_corrupt_flag(tmp_path):
    """--skipCorrupt lets logcat serve a tree containing one damaged
    .bm (salvaging the intact blocks); the strict default fails."""
    import os
    import subprocess
    import sys

    from bb_bigdata_log_tools_spark.sources.boom import (
        _parse_boom_header,
        _try_block,
        write_boom_local,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = tmp_path / "service"
    d = root / "99" / "svc" / "logs" / "20240105" / "10" / "comp" / "data"
    d.mkdir(parents=True)
    base_ms = 1704448800000  # 2024-01-05T10:00Z
    lines = [
        (base_ms + s * 1000 + i, f"line s{s} i{i}", s * 10 + i)
        for s in range(5)
        for i in range(3)
    ]
    p = d / "x.bm"
    write_boom_local(str(p), lines)
    data = p.read_bytes()
    schema, sync, header_end, codec = _parse_boom_header(data)
    pos = header_end
    for _ in range(2):
        _, _, pos = _try_block(data, pos, sync, codec)
    bad = bytearray(data)
    for k in range(6):
        bad[pos + k] ^= 0xFF
    p.write_bytes(bytes(bad))
    from test_cli_streaming_misc import run_tools_batch

    args = [
        "logcat", "-dc=99", "-svc=svc", "-comp=comp",
        "-start=Jan 5, 2024 09:00", "-end=Jan 5, 2024 11:00",
        f"-root={root}",
    ]
    # one subprocess, both legs (strict then salvage) — JVM startup
    # was most of the two per-leg subprocesses' wall time
    strict, salvage = run_tools_batch([args, args + ["--skipCorrupt"]])
    assert strict["code"] != 0  # loud failure by default
    assert salvage["code"] == 0, salvage["err"][-1500:]
    out = [ln for ln in salvage["out"].splitlines() if ln.strip()]
    assert len(out) == 12
    assert not any(" s2 " in ln for ln in out)


def _wreck_block(path, block: int) -> int:
    """XOR the count/size varints of block ``block`` (0-based) of a .bm
    file; returns the file size."""
    data = path.read_bytes()
    _, sync, pos, codec = _parse_boom_header(data)
    for _ in range(block):
        _, _, pos = _try_block(data, pos, sync, codec)
    bad = bytearray(data)
    for k in range(6):
        bad[pos + k] ^= 0xFF
    path.write_bytes(bytes(bad))
    return len(bad)


@pytest.mark.parametrize("block", [2, 4], ids=["middle", "last"])
def test_whole_file_reads_raise_on_damaged_block(spark, tmp_path, block):
    """A ranged read over the whole file follows the block chain from
    the header, so a damaged block fails it loudly, like the strict
    reader; it must not silently stop (last block) or skip ahead
    (middle block). Salvage still serves every intact block."""
    d = tmp_path / "tree"
    d.mkdir()
    p = d / "t.bm"
    lines = [
        (s * 1000 + i, f"line s{s} i{i}", s * 10 + i)
        for s in range(5)
        for i in range(3)
    ]
    write_boom_local(str(p), lines)
    size = _wreck_block(p, block)
    with pytest.raises(ValueError):
        list(scan_boom_range(str(p), 0, size))
    with pytest.raises(Exception):
        read_boom_split(spark, str(d), split_bytes=size).collect()
    rows = read_boom(spark, str(d), skip_corrupt=True).collect()
    assert sorted(r["message"] for r in rows) == sorted(
        m for ts, m, _ in lines if ts // 1000 != block
    )


PIN_BASE = 1_700_000_000_000
PIN_LINES = [
    (PIN_BASE + s * 1000 + (i * 389) % 1000, f"pin s{s} i{i} café {'x' * (i * 7)}", s * 3 + i)
    for s in (0, 1, 1, 3)
    for i in range(3)
]
PIN_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "pin",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "note", "type": ["null", "string"]},
            {"name": "gone", "type": "null"},
            {
                "name": "inner",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "score", "type": "double"},
                        {"name": "tags", "type": {"type": "array", "items": "string"}},
                        {"name": "attrs", "type": {"type": "map", "values": ["null", "long"]}},
                    ],
                },
            },
        ],
    }
)
PIN_ROWS = [
    {
        "id": i,
        "note": None if i % 2 else f"n{i}",
        "gone": None,
        "inner": {
            "score": i / 4,
            "tags": [f"t{j}" for j in range(i % 3)],
            "attrs": {"a": i, "b": None},
        },
    }
    for i in range(5)
]
# sha256 of each file as the writers produced it before their container
# code was merged; the deflate ones also depend on zlib's output, which
# is stable within a zlib version
PIN_SHA256 = {
    "write_boom_local": "c3f121def8bc5abddbb5782fb4e69582bd2cf96d7b52cc5dcfbe6c7389ead232",
    "write_boom_stream": "3b89dc927f43c3ec86a335b0081c05ebd0409cd222a895e0c8b2a343fd43664f",
    "write_reboom_stream": "7cead42956c822f4e9ff8c7c45dcffaa414bec907ee2a3e133f4f530bb146668",
    "write_avro_local[deflate]": "df04217223876ec3eaae69b9e6a9d99feaa4237862202552a0b9d290391b6b36",
    "write_avro_local[null]": "9995ad939a5275738f3e773f08447ddcbd00e9acec74d87fd2be253c940caf3f",
}


def test_writers_on_disk_bytes_pinned(tmp_path):
    """The four container writers produce the same bytes as before the
    header, framing and flush-loop code was shared: round-trip tests
    cannot see a byte change, ``stored_bytes_per_byte`` can."""
    p = tmp_path / "pin"

    def sha() -> str:
        return hashlib.sha256(p.read_bytes()).hexdigest()

    got = {}
    # out of order, with a 2-tuple line: the local writer sorts by second
    write_boom_local(
        str(p),
        [PIN_LINES[5], PIN_LINES[0], (PIN_BASE + 2500, "two-tuple")]
        + PIN_LINES[1:5]
        + PIN_LINES[6:],
        create_time=42,
    )
    got["write_boom_local"] = sha()
    write_boom_stream(str(p), iter(PIN_LINES), create_time=7, sync=bytes(range(16)))
    got["write_boom_stream"] = sha()
    write_reboom_stream(
        str(p), iter((ts, m, e, 100 + e // 4, e // 2) for ts, m, e in PIN_LINES)
    )
    got["write_reboom_stream"] = sha()
    for codec in ("deflate", "null"):
        ag.write_avro_local(str(p), PIN_SCHEMA, PIN_ROWS, codec=codec, records_per_block=2)
        got[f"write_avro_local[{codec}]"] = sha()
    assert got == PIN_SHA256
