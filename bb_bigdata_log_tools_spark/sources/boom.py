"""Boom (.bm) log-file source: a from-scratch reader/writer for the
reference's Avro-container log format, and the one Avro container codec
every container reader and writer in the package shares.

Format parity (re-derived from the PUBLIC Avro 1.x container spec +
the schema embedded in the files themselves):

- Avro object-container file: magic ``Obj\\x01``, metadata map with
  ``avro.schema`` / ``avro.codec`` (deflate), 16-byte sync marker,
  then blocks of ``(record_count, byte_size, payload, sync)``.
- Record schema (the reference's ``boom/schema/LogBlock.java``):
  ``logBlock{second:long, createTime:long, blockNumber:long,
  logLines:array<messageWithMillis{ms:long, eventId:int,
  message:string}>}``.
- Flattened line (``logdriver/boom/LogLineData.java``):
  ``timestamp = second*1000 + ms``; ``line_no`` is the index of the
  line within its block.

The container codec has one copy of each piece: one header parser
(:func:`read_header`), one header serializer (:func:`_header_bytes`),
one block framer (:func:`_block_bytes`), one block reader
(:func:`_blocks`), one record-decode loop (:func:`_records`) and one
line-to-block flush loop (:func:`_write_log_blocks`). The block reader
has three modes that combine freely:

- strict (the default): a damaged block reached by following the
  block chain raises ``ValueError``;
- salvage: damaged blocks are skipped by resyncing on the next
  validated sync marker, and a record that fails to decode drops the
  rest of its block only;
- ranged: only the blocks a byte range ``[start, end)`` owns, under the
  Avro split rule (a block belongs to the range holding its preceding
  sync marker); the whole file is the default range.

``sources/avro_generic.py`` reads and writes arbitrary-schema
containers through the same codec; its raw-block paths take payloads
as stored, whatever the codec. The record decoder is generic (driven by
the embedded writer schema), so files with or without ``eventId``
decode correctly.

Spark integration: ``read_boom`` uses the built-in ``binaryFile`` source
+ ``mapInPandas`` — each .bm file is decoded Arrow-batched on an
executor. Parallelism is per-file, which matches the reference layout
(hourly part files); ``read_boom_split`` additionally splits multi-GB
files on sync markers (the Avro ``DataFileReader.sync/pastSync``
contract, with candidate-validation against false marker matches), so a
consolidated archive fans out across size/split tasks.
"""

from __future__ import annotations

import json
import struct
import zlib
from collections.abc import Iterator
from itertools import groupby

from pyspark.sql import DataFrame, SparkSession

from bb_bigdata_log_tools_spark.schema import LOG_COLUMNS, LOG_SCHEMA

MAGIC = b"Obj\x01"


class _Decoder:
    """Minimal Avro binary decoder (spec-complete for the types boom
    files use: record/long/int/string/array/map/union/null/bytes)."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    read_int = read_long

    def read_bytes(self) -> bytes:
        # STRICT bounds: python slicing silently truncates past the end
        # and a corrupt NEGATIVE varint length would move pos BACKWARD
        # (fuzz-found: count=huge + length=-1 elements net zero forward
        # progress = an effectively infinite decode loop); out-of-range
        # lengths must raise so both the strict reader (loud failure)
        # and the salvage reader (skip to next sync) terminate.
        n = self.read_long()
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError("bytes length out of range")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")

    def read_fixed(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError("fixed read out of range")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_map_of_bytes(self) -> dict[str, bytes]:
        out: dict[str, bytes] = {}
        while True:
            count = self.read_long()
            if count == 0:
                break
            if count < 0:
                count = -count
                self.read_long()  # block byte size, unused
            for _ in range(count):
                # assignment RHS evaluates first in Python — read key/value
                # into locals to keep stream order
                key = self.read_string()
                out[key] = self.read_bytes()
        return out

    def decode(self, schema) -> object:
        """Decode one value of ``schema`` (parsed JSON avro schema)."""
        if isinstance(schema, str):
            kind = schema
        elif isinstance(schema, list):  # union: index then value
            idx = self.read_long()
            return self.decode(schema[idx])
        else:
            kind = schema["type"]
        if kind == "record":
            return {f["name"]: self.decode(f["type"]) for f in schema["fields"]}
        if kind == "array":
            items = []
            while True:
                count = self.read_long()
                if count == 0:
                    break
                if count < 0:
                    count = -count
                    self.read_long()
                for _ in range(count):
                    items.append(self.decode(schema["items"]))
            return items
        if kind == "map":
            out: dict[str, object] = {}
            while True:
                count = self.read_long()
                if count == 0:
                    break
                if count < 0:
                    count = -count
                    self.read_long()
                for _ in range(count):
                    key = self.read_string()
                    out[key] = self.decode(schema["values"])
            return out
        if kind == "long":
            return self.read_long()
        if kind == "int":
            return self.read_int()
        if kind == "string":
            return self.read_string()
        if kind == "bytes":
            return self.read_bytes()
        if kind == "null":
            return None
        if kind == "boolean":
            b = self.buf[self.pos]
            self.pos += 1
            return b == 1
        if kind == "float":
            (v,) = struct.unpack_from("<f", self.buf, self.pos)
            self.pos += 4
            return v
        if kind == "double":
            (v,) = struct.unpack_from("<d", self.buf, self.pos)
            self.pos += 8
            return v
        raise ValueError(f"unsupported avro type: {schema!r}")


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ---------------------------------------------------------------------------
# container codec: header, block framing, the block reader, record decode
# ---------------------------------------------------------------------------


def read_header(data) -> tuple[dict, str, bytes, int]:
    """(schema, codec, sync, header_end) of an Avro container held in
    ``data`` (bytes or a mmap) — the one header parser; any codec.
    Raises ValueError on a bad magic; other damage raises whatever the
    decode hits. Never touches block payloads."""
    dec = _Decoder(data)
    if dec.read_fixed(4) != MAGIC:
        raise ValueError("not an Avro container file (bad magic)")
    meta = dec.read_map_of_bytes()
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = dec.read_fixed(16)
    return schema, codec, sync, dec.pos


def _parse_boom_header(data) -> tuple[dict, bytes, int, str]:
    """(schema, sync, header_end, codec): :func:`read_header` for the
    decoding readers, which also reject a codec other than
    deflate/null with ValueError."""
    schema, codec, sync, header_end = read_header(data)
    if codec not in ("deflate", "null"):
        raise ValueError(f"unsupported codec: {codec}")
    return schema, sync, header_end, codec


def _header_bytes(schema_json: str, codec: str, sync: bytes) -> bytes:
    """Serialize a container header (AvroFileHeader.toBytes role)."""
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out += _zigzag(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag(len(kb)) + kb + _zigzag(len(v)) + v
    out += _zigzag(0)
    out += sync
    return bytes(out)


def _block_bytes(count: int, body: bytes, codec: str, sync: bytes) -> bytes:
    """Frame one container block: ``body`` (``count`` encoded records)
    is raw-deflated for ``deflate`` or stored as given for ``null``."""
    if codec == "deflate":
        body = zlib.compress(body, 6)[2:-4]
    elif codec != "null":
        raise ValueError(f"unsupported codec: {codec}")
    return _zigzag(count) + _zigzag(len(body)) + body + sync


# what a damaged block raises while being parsed
_DAMAGE = (ValueError, IndexError, zlib.error)


def _read_block(dec: _Decoder, sync: bytes, codec: str) -> tuple[int, bytes]:
    """(count, payload) of the block at ``dec.pos``, inflated for
    ``deflate``; ``dec`` moves past its trailing sync marker. A real
    block parses as (count > 0, size > 0, payload, sync); anything else
    raises one of ``_DAMAGE``."""
    count = dec.read_long()
    size = dec.read_long()
    start = dec.pos
    stop = start + size
    if count <= 0 or size <= 0 or dec.buf[stop : stop + 16] != sync:
        raise ValueError("not a container block")
    dec.pos = stop + 16
    payload = dec.buf[start:stop]
    if codec == "deflate":
        payload = zlib.decompress(payload, -15)
    return count, payload


def _try_block(mm, pos: int, sync: bytes, codec: str):
    """(payload, count, next_pos) of the block starting at ``pos``, or
    None if ``pos`` is not a real block boundary (a damaged block, or a
    false sync match inside a payload)."""
    dec = _Decoder(mm)
    dec.pos = pos
    try:
        count, payload = _read_block(dec, sync, codec)
    except _DAMAGE:
        return None
    return payload, count, dec.pos


def _next_block(mm, search_from: int, limit: int, sync: bytes, codec: str):
    """Offset of the first VALIDATED block whose preceding sync marker
    starts in ``[search_from, limit)``, or None. A real boundary must
    parse as (count, size, payload, trailing sync); marker bytes that
    happen to occur inside a payload are skipped."""
    while True:
        hit = mm.find(sync, search_from)
        if hit < 0 or hit >= limit:
            return None
        if _try_block(mm, hit + 16, sync, codec) is not None:
            return hit + 16
        search_from = hit + 1


def _blocks(
    data,
    start: int = 0,
    end: int | None = None,
    salvage: bool = False,
    raw: bool = False,
) -> Iterator[tuple[dict, int, bytes]]:
    """The one block reader: (writer_schema, record_count, payload) for
    each block of the container in ``data`` (bytes or a mmap) that the
    byte range ``[start, end)`` owns; the whole file by default.

    Ownership (the Avro ``DataFileReader.sync/pastSync`` contract): a
    block belongs to the range holding its PRECEDING sync marker's
    offset, so ranges that tile a file partition its blocks with no gap
    or overlap. A range holding the header's sync marker starts at
    block 1 and follows the block chain; any other range first finds
    the first validated block after a marker at/after ``start``
    (:func:`_next_block`).

    Strict by default: a block reached along the chain that does not
    parse raises ValueError. ``salvage`` resyncs past it on the next
    validated block instead, and an unreadable header yields nothing —
    the ``spark.sql.files.ignoreCorruptFiles`` posture at block
    granularity. Payloads are inflated, and a codec other than
    deflate/null is rejected before any block; ``raw`` instead yields
    payloads as stored, whatever the codec (the block-level Avro
    paths, which never decompress)."""
    try:
        if raw:
            schema, _codec, sync, header_end = read_header(data)
            codec = "null"  # payloads are passed on as stored
        else:
            schema, sync, header_end, codec = _parse_boom_header(data)
    except Exception:  # noqa: BLE001 — any header damage
        if salvage:
            return
        raise
    n = len(data)
    end = n if end is None else min(end, n)
    dec = _Decoder(data)
    if start <= header_end - 16:
        dec.pos = header_end
    else:
        dec.pos = _next_block(data, start, end, sync, codec)
        if dec.pos is None:
            return
    # continue while the preceding sync offset (pos - 16) is ours
    while dec.pos < n and dec.pos - 16 < end:
        at = dec.pos
        try:
            count, payload = _read_block(dec, sync, codec)
        except _DAMAGE as e:
            if not salvage:
                raise ValueError(f"corrupt container block at byte {at}") from e
            dec.pos = _next_block(data, at, end, sync, codec)
            if dec.pos is None:
                return
            continue
        yield schema, count, payload


def _records(blocks, salvage: bool = False) -> Iterator[dict]:
    """The one record-decode loop over (schema, count, payload) blocks.
    Under ``salvage`` a record that fails to decode drops the REST of
    its block only (varint streams cannot re-align mid-block; the next
    sync is the recovery point)."""
    for schema, count, payload in blocks:
        dec = _Decoder(payload)
        try:
            for _ in range(count):
                yield dec.decode(schema)
        except Exception:  # noqa: BLE001 — any record damage
            if not salvage:
                raise


def read_container(data: bytes) -> Iterator[dict]:
    """Yield decoded records from an Avro object-container byte string;
    strict: any damage raises."""
    return _records(_blocks(data))


def read_container_resync(data: bytes) -> Iterator[dict]:
    """:func:`read_container` in salvage mode: never raises on damaged
    blocks or records, dropping only what cannot be read."""
    return _records(_blocks(data, salvage=True), salvage=True)


def _term_matcher(search_terms: list[str], match_all: bool, case_insensitive: bool):
    """FastSearch's two tests for ``search_terms``, mirroring the
    reference's ``util/FastSearch.java:76`` SearchMapper (with
    ``mapred/boom/BoomFilterMapper.java``'s per-line string match):
    ``block_ok(payload)`` byte-scans a DECOMPRESSED block payload for
    the UTF-8 term bytes (False ⇒ no line of the block can match, so
    its record decode is skipped), ``line_ok(message)`` is the exact
    per-line match. ``match_all`` requires every term (a line holding
    all terms puts each term's bytes in its block, so requiring all of
    them at block level is a safe prefilter); default is match-any.
    Case-insensitive mode upper-cases both sides; non-ASCII terms can
    change byte LENGTH when cased (the reference's ``unicode`` flag), so
    they disable the byte prefilter."""
    pick = all if match_all else any
    if not case_insensitive:
        raw = [t.encode("utf-8") for t in search_terms]
        return (
            lambda payload: pick([t in payload for t in raw]),
            lambda msg: pick([t in msg for t in search_terms]),
        )
    upper = [t.upper() for t in search_terms]

    def line_ok(msg: str) -> bool:
        m = msg.upper()
        return pick([t in m for t in upper])

    if not all(t.isascii() for t in search_terms):
        return (lambda payload: True), line_ok

    def block_ok(payload: bytes) -> bool:
        # ASCII terms match both cases on an upper-cased latin-1 view
        hay = payload.decode("latin-1").upper()
        return pick([t in hay for t in upper])

    return block_ok, line_ok


def _search_blocks(
    blocks,
    search_terms: list[str] | None,
    match_all: bool = False,
    case_insensitive: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
    salvage: bool = False,
) -> Iterator[tuple]:
    """Flattened lines of (schema, count, payload) blocks; with
    ``search_terms``, blocks failing the byte prefilter are never
    record-decoded and lines are filtered exactly (:func:`_term_matcher`).
    ``start_ms``/``end_ms`` bound block seconds; ``salvage`` is
    :func:`_records`'."""
    if search_terms is not None:
        block_ok, line_ok = _term_matcher(search_terms, match_all, case_insensitive)
        blocks = (b for b in blocks if block_ok(b[2]))
    records = _records(blocks, salvage)
    if start_ms is not None:
        records = (r for r in records if r["second"] * 1000 >= start_ms)
    if end_ms is not None:
        records = (r for r in records if r["second"] * 1000 < end_ms)
    rows = flatten_log_blocks(records)
    if search_terms is not None:
        rows = (row for row in rows if line_ok(row[1]))
    return rows


def scan_boom_bytes(
    data: bytes,
    search_terms: list[str],
    match_all: bool = False,
    case_insensitive: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> Iterator[tuple]:
    """FastSearch-parity filtered scan of one .bm byte string: flattened
    (ts, message, event_id, create_time, block_no, line_no) tuples for
    lines containing the search term(s) (match-any, or every term with
    ``match_all``; see :func:`_term_matcher`). Only blocks whose payload
    bytes can match are record-decoded — on low-hit-rate greps this
    skips the expensive Avro record walk for most blocks.
    ``start_ms``/``end_ms`` bound block seconds like
    ``logdriver.search.start.time``/``end.time``.
    """
    return _search_blocks(
        _blocks(data),
        search_terms,
        match_all,
        case_insensitive,
        start_ms,
        end_ms,
    )


def flatten_log_blocks(records: Iterator[dict]) -> Iterator[tuple]:
    """logBlock records → flattened (ts, message, event_id, create_time,
    block_no, line_no) tuples (LogLineData semantics)."""
    for rec in records:
        second = rec["second"]
        create_time = rec["createTime"]
        block_no = rec["blockNumber"]
        for line_no, line in enumerate(rec["logLines"]):
            yield (
                second * 1000 + line["ms"],
                line["message"],
                int(line.get("eventId", 0) or 0),
                create_time,
                block_no,
                line_no,
            )


def read_boom_local(path: str) -> list[tuple]:
    """Driver-side read of one .bm file (tests / small files)."""
    with open(path, "rb") as f:
        return list(flatten_log_blocks(read_container(f.read())))


def count_boom_lines(path: str) -> int:
    """Full-decode line count of one .bm file — the integrity check the
    maintenance jobs run before deleting their source (the
    ``fs/FileManager.java`` checksum-verified-move analog: a truncated
    or corrupt container fails the Avro parse or yields a short count).
    Streaming fold over the block generator; only the raw bytes are
    held, never the decoded rows."""
    with open(path, "rb") as f:
        return sum(1 for _ in flatten_log_blocks(read_container(f.read())))


def read_boom(
    spark: SparkSession,
    path: str | list[str],
    search_terms: list[str] | None = None,
    case_insensitive: bool = False,
    skip_corrupt: bool = False,
    recursive: bool = False,
) -> DataFrame:
    """Distributed .bm read: binaryFile source → per-file Arrow-batched
    decode in executors → canonical log schema. Each file goes through
    the one block reader (:func:`_blocks`) over its whole byte range.

    ``path`` is one directory (or file/glob) or a LIST of them, read in
    ONE scan: the CLI passes every hourly directory of its window, and
    Spark packs their files into about ``defaultParallelism`` splits
    instead of one scan (and one task) per directory.

    ``search_terms`` pushes a substring search INTO the decoder
    (``scan_boom_bytes``): non-matching container blocks are skipped on
    a byte-scan of the compressed-block payload before any Avro record
    decode — the reference's FastSearch fast path
    (``util/FastSearch.java:76``), matching any term (case-folded with
    ``case_insensitive``). Semantically identical to reading
    everything then filtering (``log_search``'s contract), so callers
    may use it as a drop-in accelerator. On parquet-resident logs
    Catalyst's pushdown covers this; the seam exists for legacy .bm
    trees where the scan cost lives inside our own decoder.

    Reads are strict by default: a damaged block fails the task.
    ``skip_corrupt=True`` opts into the block reader's SALVAGE mode for
    damaged trees: corrupt container blocks are resynced past via the
    Avro sync markers instead of failing the task, and a file whose
    header (or schema) cannot be read yields zero rows — the
    ``spark.sql.files.ignoreCorruptFiles`` posture at block
    granularity, for when one flipped block must not kill a
    1000-executor ingest. Default OFF: silent data loss is the wrong
    default, and the maintenance integrity checks rely on strict
    reads. Mutually exclusive with ``search_terms`` (the push-down
    byte-scan assumes intact containers — salvage first, then search).
    """
    import pandas as pd

    if skip_corrupt and search_terms is not None:
        raise ValueError(
            "skip_corrupt and search_terms are mutually exclusive: the "
            "FastSearch byte-scan assumes intact containers — salvage "
            "the tree first, then search"
        )

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for content in pdf["content"]:
                try:
                    rows = list(
                        _search_blocks(
                            _blocks(bytes(content), salvage=skip_corrupt),
                            search_terms,
                            case_insensitive=case_insensitive,
                            salvage=skip_corrupt,
                        )
                    )
                except Exception:  # noqa: BLE001
                    # file-level fallback on top of block-level resync:
                    # a mutated header can even yield a DIFFERENT valid
                    # schema whose records don't flatten — under salvage
                    # semantics that file contributes zero rows, it
                    # never kills the task
                    if not skip_corrupt:
                        raise
                    rows = []
                yield pd.DataFrame(rows, columns=LOG_COLUMNS)

    # recursive=True reads a whole tree from ONE root path: a glob that
    # expands to many leaf dirs (an hourly tree is thousands) pushes
    # Spark's InMemoryFileIndex over
    # spark.sql.sources.parallelPartitionDiscovery.threshold and the
    # listing itself becomes a cluster job with one task per leaf dir
    # (r12 profile: a 720-task, multi-second "load" job to list 1251
    # tiny files); a single recursive root is listed driver-side in
    # milliseconds. Same file set either way (pathGlobFilter applies).
    reader = spark.read.format("binaryFile").option("pathGlobFilter", "*.bm")
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    binary = reader.load(path).select("content")
    return binary.mapInPandas(decode, schema=LOG_SCHEMA)


# ---------------------------------------------------------------------------
# writer (boom_write / text_to_boom parity)
# ---------------------------------------------------------------------------


BOOM_SCHEMA_JSON = (
    '{"type":"record","name":"logBlock","fields":['
    '{"name":"second","type":"long"},'
    '{"name":"createTime","type":"long"},'
    '{"name":"blockNumber","type":"long"},'
    '{"name":"logLines","type":{"type":"array","items":'
    '{"type":"record","name":"messageWithMillis","fields":['
    '{"name":"ms","type":"long"},'
    '{"name":"eventId","type":"int","default":0},'
    '{"name":"message","type":"string"}]}}}]}'
)


def _second(line) -> int:
    return line[0] // 1000


def _write_log_blocks(path: str, blocks, sync: bytes) -> int:
    """The one line-to-block writer: one deflate container block per
    (second, create_time, block_no, lines) item of ``blocks``, each
    line (ts, message[, event_id]) with ts // 1000 == second. Memory is
    bounded by one block. Returns the line count."""
    n = 0
    with open(path, "wb") as f:
        f.write(_header_bytes(BOOM_SCHEMA_JSON, "deflate", sync))
        for second, create_time, block_no, lines in blocks:
            lines = list(lines)
            body = bytearray()
            body += _zigzag(second) + _zigzag(create_time) + _zigzag(block_no)
            body += _zigzag(len(lines))
            for line in lines:
                mb = line[1].encode("utf-8")
                event_id = line[2] if len(line) > 2 else 0
                body += _zigzag(line[0] % 1000) + _zigzag(event_id)
                body += _zigzag(len(mb)) + mb
            body += _zigzag(0)  # array terminator
            f.write(_block_bytes(1, bytes(body), "deflate", sync))
            n += len(lines)
    return n


def write_boom_stream(
    path: str,
    lines,
    create_time: int = 0,
    sync: bytes = b"\x00" * 16,
) -> int:
    """Streaming .bm writer over an ITERATOR of (ts, message[, event_id])
    tuples whose seconds (ts // 1000) arrive in non-decreasing order.

    One logBlock (= one deflate container block) is flushed per distinct
    second, numbered from 0, so memory is bounded by one second of lines
    regardless of input size — this is what lets compaction run
    executor-side over an arbitrarily large sorted partition. Returns
    the line count.
    """
    seconds = groupby(lines, key=_second)
    return _write_log_blocks(
        path,
        ((sec, create_time, no, blk) for no, (sec, blk) in enumerate(seconds)),
        sync,
    )


def write_reboom_stream(
    path: str,
    lines,
    sync: bytes = b"\x00" * 16,
) -> int:
    """ReBoom writer: re-assemble PREVIOUSLY-READ boom lines into a .bm
    file preserving each line's original provenance metadata.

    Parity: ``boom/ReBoomWriter.java`` — used when boom files are
    disassembled and reassembled (e.g. to remove or alter log lines in
    the filter/archive job). Input is an iterator of
    ``(ts, message, event_id, create_time, block_no)`` tuples; a block
    is flushed whenever second, createTime, OR blockNumber changes
    (exactly the reference's writeLine flush rule), so the original
    (createTime, blockNumber) pairs survive the round trip. Streaming:
    memory is bounded by one block. Returns the line count.
    """
    runs = groupby(lines, key=lambda line: (line[0] // 1000, line[3], line[4]))
    return _write_log_blocks(path, ((*key, blk) for key, blk in runs), sync)


def write_boom_local(
    path: str,
    lines: list[tuple],
    create_time: int = 0,
    sync: bytes = b"\x00" * 16,
) -> None:
    """Write flattened (ts, message[, event_id]) lines to a .bm file.

    Lines are grouped into one logBlock per distinct second (the
    reference writer's second-level blocking), blocks ordered by second,
    within-second input order preserved (a stable sort); delegates to
    the streaming writer for the container encoding.
    """
    write_boom_stream(
        path, sorted(lines, key=_second), create_time=create_time, sync=sync
    )


# ---------------------------------------------------------------------------
# text → boom conversion (convert2bm.pg / TextToBoomConverter parity)
# ---------------------------------------------------------------------------


def text_to_boom(
    spark: SparkSession, text_path: str, out_dir: str, create_time: int = 0
) -> int:
    """Convert raw RFC5424-prefixed text logs into .bm files — the
    ``pig/convert2bm.pg`` + ``pig/TextToBoomConverter.java`` pipeline.

    Each line is split at the first space (Rfc5424TimestampParser.splitLine
    semantics), the timestamp parsed to epoch ms, and the remainder kept
    as the message. One .bm file is written per partition by executors
    (``foreachPartition``) — distributed, driver never sees the data.
    Returns the number of lines converted.
    """
    import os as _os

    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.functions.timestamps import parse_rfc5424

    _os.makedirs(out_dir, exist_ok=True)
    raw = spark.read.text(text_path)
    parsed = raw.select(
        parse_rfc5424(F.split_part(F.col("value"), F.lit(" "), F.lit(1))).alias("ts"),
        F.expr("substring(value, instr(value, ' ') + 1)").alias("message"),
    ).filter(F.col("ts").isNotNull())

    def write_partition(idx_rows):
        idx, rows = idx_rows
        rows = list(rows)
        if rows:
            write_boom_local(
                _os.path.join(out_dir, f"part-{idx:05d}.bm"),
                [(r["ts"], r["message"], 0) for r in rows],
                create_time=create_time,
            )
        return [len(rows)]

    counts = (
        parsed.rdd.mapPartitionsWithIndex(lambda i, it: write_partition((i, it)))
        .collect()
    )
    return sum(counts)


def compact_boom_dir(
    spark: SparkSession, in_dir: str, out_path: str, create_time: int = 0
) -> int:
    """LogMaintenance-style compaction: merge a directory of hourly .bm
    part files into one file, lines re-sorted by (ts, message).

    The reference's LogMaintenance merges per-hour part files before
    archiving (``admin/LogMaintenance.java``). Fully distributed: the
    read is the parallel boom source, the order comes from
    ``repartition(1).sortWithinPartitions`` (no range-sampling re-read,
    no driver collect), and the single output file is written by the
    EXECUTOR holding that partition via the streaming writer — memory
    stays bounded at one second of lines even for a multi-GB hour.
    ``out_path`` must be on a filesystem that executor and driver share
    (as for ``write_boom_tree``). Returns the line count.
    """
    sorted_one = (
        read_boom(spark, in_dir)
        .select("ts", "message", "event_id")
        .repartition(1)
        .sortWithinPartitions("ts", "message")
    )

    def write_part(rows) -> Iterator[int]:
        tuples = ((r["ts"], r["message"], r["event_id"]) for r in rows)
        yield write_boom_stream(out_path, tuples, create_time=create_time)

    counts = sorted_one.rdd.mapPartitions(write_part).collect()
    return sum(counts)


def write_boom_tree(
    logs: DataFrame,
    root: str,
    dc: str,
    service: str,
    log_type: str,
    component: str,
    create_time: int = 0,
    file_tag: str = "",
) -> int:
    """Write canonical log lines into the reference's hourly .bm tree:
    ``<root>/<dc>/<svc>/<type>/<yyyyMMdd>/<HH>/<comp>/data/part-*.bm``
    — the ``PigBoomHourlyOutputFormat`` / ``BoomHourlyStoreFunc`` role
    (``mapreduce/boom/PigBoomHourlyOutputFormat.java``).

    One EXECUTOR TASK writes one hourly file (``applyInPandas`` over
    the (date, hour) groups — the same one-task-per-output-file shape
    as the WebDataset sink): the only exchange is the group hash any
    hourly layout needs, parallelism is |hours touched| (full cluster
    width on a month of logs; the previous per-partition form serially
    wrote ~hours/partitions files per task), and memory per task is
    one hour of lines. Lines are sorted (ts, message, event_id) before
    encoding so each hourly file's BYTES are deterministic across
    runs, retries, and cluster sizes; the write lands on an
    attempt-unique temp name and publishes via atomic rename, so a
    retried/speculative attempt cannot interleave into a published
    file. ``root`` must be a filesystem all executors share (local FS
    in local mode, NFS/fuse mount on a cluster — for object stores
    prefer ``write_log_store``'s parquet layout). ``file_tag``
    namespaces the part files (e.g. a streaming micro-batch id) so
    repeated appends into the same hour land on distinct names and a
    recovery re-run of the SAME batch overwrites its own file rather
    than duplicating lines. Returns the number of lines written.
    """
    import os as _os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    with_dh = logs.select(
        "ts",
        "message",
        F.coalesce(F.col("event_id"), F.lit(0)).alias("event_id"),
        F.date_format(F.timestamp_millis(F.col("ts")), "yyyyMMdd").alias("date"),
        F.date_format(F.timestamp_millis(F.col("ts")), "HH").alias("hour"),
    )
    tag = f"{file_tag}." if file_tag else ""
    count_schema = T.StructType([T.StructField("n", T.LongType())])

    def write_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from pyspark import TaskContext

        d, h = str(pdf["date"].iloc[0]), str(pdf["hour"].iloc[0])
        dirp = _os.path.join(root, dc, service, log_type, d, h, component, "data")
        _os.makedirs(dirp, exist_ok=True)
        path = _os.path.join(dirp, f"part-{tag}00000.{d}-{h}.bm")
        lines = sorted(
            (int(t), str(m), int(e))
            for t, m, e in zip(pdf["ts"], pdf["message"], pdf["event_id"])
        )
        tc = TaskContext.get()
        attempt = tc.taskAttemptId() if tc is not None else _os.getpid()
        tmp = f"{path}.inprogress.{attempt}"
        write_boom_local(tmp, lines, create_time=create_time)
        _os.replace(tmp, path)
        return pd.DataFrame({"n": [len(lines)]})

    # explicit repartition on the group key: hour groups are tiny, and
    # under AQE partition coalescing the groupBy exchange collapsed to
    # a couple of partitions (r12 profile: 1251 hourly files written
    # serially from 3 tasks). A user-specified partition count is not
    # coalesced, and defaultParallelism scales with the cluster rather
    # than pinning a local constant. The groupBy reuses the exchange
    # (same keys), so this adds no extra shuffle.
    par = logs.sparkSession.sparkContext.defaultParallelism
    counts = (
        with_dh.repartition(par, "date", "hour")
        .groupBy("date", "hour")
        .applyInPandas(write_group, schema=count_schema)
    )
    return sum(r["n"] for r in counts.collect())


# ---------------------------------------------------------------------------
# sync-marker splitting (large-file parallelism)
# ---------------------------------------------------------------------------


def scan_boom_range(
    path: str,
    start: int,
    end: int,
    search_terms: list[str] | None = None,
    match_all: bool = False,
    case_insensitive: bool = False,
) -> Iterator[tuple]:
    """Decode the blocks of one BYTE RANGE ``[start, end)`` of a .bm
    file — the Avro split algorithm (the reference reads whole files per
    mapper via ``AvroBlockInputFormat``; real Avro readers split): the
    block reader in ranged, strict mode (:func:`_blocks`), so a range
    owns the blocks whose preceding sync marker it holds and ranges
    that tile a file partition its blocks with no gap or overlap — the
    upstream ``DataFileReader.sync/pastSync`` contract.

    False-positive sync matches (the 16-byte marker appearing inside a
    compressed payload) are handled by VALIDATING each candidate: a
    real boundary must parse as (count, size, payload, trailing sync).
    mmap keeps memory at the touched pages, not the file size. The
    optional ``search_terms`` push the FastSearch block byte-scan into
    each range (see :func:`scan_boom_bytes`).
    """
    import mmap

    with open(path, "rb") as f:
        with mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            yield from _search_blocks(
                _blocks(mm, start, end),
                search_terms,
                match_all,
                case_insensitive,
            )


def read_boom_split(
    spark: SparkSession,
    path: str,
    split_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Distributed .bm read with SYNC-MARKER SPLITTING: multi-GB files
    fan out across ``ceil(size / split_bytes)`` tasks instead of one
    task per file (``read_boom``'s per-file parallelism, which matches
    the reference's hourly part files but not a consolidated archive).
    Parity target: the reference's splittable reader
    ``mapreduce/boom/BoomIndividualInputFormat.java:1`` /
    ``BoomIndividualRecordReader.java:1`` (isSplitable=true, FileSplit
    ranges) — same ownership rule, Spark-side.

    The driver lists files and fabricates byte ranges; each task mmap's
    its file and decodes only its range's blocks with the strict block
    reader (:func:`scan_boom_range`). Paths must be reachable from
    executors (shared FS / mount — the same contract as the tree
    writers).

    Strictness: the range holding the header follows the block chain,
    so a damaged block on it fails the task, and so does a damaged
    block that a range reaches by following the chain from its first
    block. A range that starts mid-file finds that first block by a
    validated sync search, so a damaged block right after its first
    marker cannot be told from a false marker match: it is passed over.
    Only ``split_bytes`` ≥ the file size reads every block along the
    chain.
    """
    import os as _os

    import pandas as pd

    files = []
    if _os.path.isdir(path):
        for root, _dirs, names in _os.walk(path):
            files += [
                _os.path.join(root, f) for f in names if f.endswith(".bm")
            ]
    else:
        files = [path]
    ranges = []
    for f in sorted(files):
        size = _os.path.getsize(f)
        start = 0
        while start < size:
            ranges.append((f, start, min(start + split_bytes, size)))
            start += split_bytes
    rdf = spark.createDataFrame(ranges, "path string, start long, end long")
    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for p, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                rows = list(scan_boom_range(str(p), int(s), int(e)))
                yield pd.DataFrame(rows, columns=LOG_COLUMNS)

    return rdf.repartition(max(len(ranges), 1)).mapInPandas(
        decode, schema=LOG_SCHEMA
    )
