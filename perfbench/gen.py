"""Seeded inputs for the benchmark and the answers the CLI must give.

The tree is the hourly Boom layout the CLI tools query:
``<root>/<dc>/<svc>/<type>/<yyyyMMdd>/<HH>/<comp>/data/part-00000.bm``.
It spans ``DAYS`` x 24 hours, two log types and two components, so
``resolve_paths`` prunes by hour and by component. It holds about 1000
lines per hour, 500 per component: the rate of a 720k-line tree over 30
days. Volume follows a daily cycle of 3x between the quiet and the busy
hour, and one incident hour (14:00 on the middle day) carries 10x the
lines of its neighbours (one hot file). Messages are syslog-like, with
numbers, hex ids and ``k=v`` or JSON tails. The seed draws the messages,
their times within the hour and the exact query start times. The line
count of each file and which hours the windows and the incident fall on
are fixed, so that every seed gives a run the same amount of work and the
same share of hot and quiet hours.

Timestamps are unique within a component, so ``ts`` alone fixes the order
the CLI promises and the expected output can be computed in plain Python.
"""

from __future__ import annotations

import bisect
import hashlib
import math
import os
import random
import re
import time
from dataclasses import dataclass

DC = "dc1"
SVC = "payments"
LOG_TYPES = ("app", "audit")
COMPONENTS = ("api", "worker")
QUERY_COMP = "api"
HOUR_MS = 3_600_000
EPOCH_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z
# Three days: the windows start on the first two, the middle one holds the
# incident hour, and one set-up (about 1 s per day of lines through the
# encoder on a 4-core host) is repeated three times in every run.
DAYS = 3
# Mean lines per hourly file: 1000 lines per hour over the whole tree.
MEAN_LINES = {"app": 330, "audit": 170}
INCIDENT_FACTOR = 10

RARE = "quota exceeded"
COMMON = "status=200"
GREP_REGEX = "status=5[0-9][0-9]"


def _message(rng: random.Random, comp: str) -> str:
    host = f"host={comp}-{rng.randrange(8)}"
    req = f"[req-{rng.getrandbits(32):08x}]"
    r = rng.random()
    if r < 0.45:
        return (
            f"INFO {req} GET /v1/orders/{rng.randrange(10**6)} status=200 "
            f"latency_ms={rng.randrange(2, 900)} {host}"
        )
    if r < 0.55:
        return (
            f"INFO {req} POST /v1/payments status={rng.choice((201, 400, 409))} "
            f"latency_ms={rng.randrange(5, 2000)} {host}"
        )
    if r < 0.61:
        return (
            f"ERROR {req} upstream status={rng.choice((500, 502, 503))} "
            f"retry={rng.randrange(4)} {host}"
        )
    if r < 0.69:
        return (
            f"WARN worker-{rng.randrange(32)} timeout after {rng.randrange(100, 30000)}ms "
            f"id=0x{rng.getrandbits(48):012x} "
            f'{{"shard": "s{rng.randrange(64)}", "attempt": {rng.randrange(1, 6)}}}'
        )
    if r < 0.89:
        return (
            f"DEBUG cache hit key=user:{rng.randrange(10**5)} "
            f"ttl={rng.randrange(1, 3600)}s size={rng.randrange(64, 65536)}"
        )
    if r < 0.99:
        return (
            f"INFO audit user={rng.randrange(10**5)} "
            f"action={rng.choice(('login', 'logout', 'refund'))} result=ok "
            f"src=10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"
        )
    return (
        f"CRIT disk {RARE} volume=vol-{rng.randrange(100)} "
        f"used_pct={rng.randrange(95, 101)} {host}"
    )


def generate(seed: int) -> dict[tuple[str, str, int], list[tuple]]:
    """Lines per hourly file: ``{(log_type, comp, hour): [(ts, msg, 0), ...]}``,
    each list sorted by ts."""
    rng = random.Random(seed)
    hours = DAYS * 24
    incident = DAYS // 2 * 24 + 14
    files: dict[tuple[str, str, int], list[tuple]] = {}
    for h in range(hours):
        cycle = 1 + 0.5 * math.cos(2 * math.pi * ((h % 24) - 14) / 24)
        t0 = EPOCH_MS + h * HOUR_MS
        for comp in COMPONENTS:
            counts = {}
            for log_type in LOG_TYPES:
                n = round(MEAN_LINES[log_type] * cycle)
                if h == incident and comp == QUERY_COMP and log_type == "app":
                    n *= INCIDENT_FACTOR
                counts[log_type] = max(1, n)
            offsets = rng.sample(range(HOUR_MS), sum(counts.values()))
            i = 0
            for log_type in LOG_TYPES:
                n = counts[log_type]
                files[(log_type, comp, h)] = sorted(
                    (t0 + off, _message(rng, comp), 0) for off in offsets[i : i + n]
                )
                i += n
    return files


def hour_dir(root: str, log_type: str, comp: str, hour: int) -> str:
    stamp = time.strftime("%Y%m%d/%H", time.gmtime((EPOCH_MS + hour * HOUR_MS) // 1000))
    return os.path.join(root, DC, SVC, log_type, stamp, comp, "data")


def format_line(ts: int, message: str) -> str:
    """The CLI's default RFC5424 rendering in UTC, e.g.
    ``2024-03-01T00:00:01.250+00:00 <message>``."""
    stamp = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ts // 1000))
    return f"{stamp}.{ts % 1000:03d}+00:00 {message}"


def digest(lines: list[str]) -> str:
    """Order-sensitive digest of output lines."""
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Tool:
    name: str
    args: tuple[str, ...]
    label: str


def tool_mix(terms_dir: str) -> list[tuple[Tool, object]]:
    """The seven query shapes, each with the predicate it must match.

    Rare and common terms, case folding, a regex, and OR/AND term lists:
    the term-selectivity dimension the workloads vary."""
    or_file = os.path.join(terms_dir, "or.txt")
    and_file = os.path.join(terms_dir, "and.txt")
    grep = re.compile(GREP_REGEX)
    return [
        (Tool("logcat", (), "cat"), lambda m: True),
        (Tool("logsearch", (f"-string={RARE}",), "search_rare"), lambda m: RARE in m),
        (Tool("logsearch", (f"-string={COMMON}",), "search_common"), lambda m: COMMON in m),
        (
            Tool("logsearch", ("-string=TIMEOUT", "--i"), "search_ci"),
            lambda m: "timeout" in m.lower(),
        ),
        (Tool("loggrep", (f"-regex={GREP_REGEX}",), "grep"), lambda m: grep.search(m) is not None),
        (
            Tool("logmultisearch", (f"-strings={or_file}",), "multi_or"),
            lambda m: RARE in m or COMMON in m,
        ),
        (
            Tool("logmultisearch", (f"-strings={and_file}", "--a"), "multi_and"),
            lambda m: RARE in m and "host=" in m,
        ),
    ]


def write_terms(terms_dir: str) -> None:
    os.makedirs(terms_dir, exist_ok=True)
    with open(os.path.join(terms_dir, "or.txt"), "w", encoding="utf-8") as f:
        f.write(f"{RARE}\n{COMMON}\n")
    with open(os.path.join(terms_dir, "and.txt"), "w", encoding="utf-8") as f:
        f.write(f"{RARE}\nhost=\n")


@dataclass
class Query:
    tool: Tool
    pred: object
    start_ms: int
    end_ms: int
    to_out: bool  # write through ``--out`` rather than to stdout

    def argv(self, root: str, out_dir: str | None) -> list[str]:
        argv = [
            f"-root={root}",
            f"-dc={DC}",
            f"-svc={SVC}",
            f"-comp={QUERY_COMP}",
            f"-start={self.start_ms}",
            f"-end={self.end_ms}",
            *self.tool.args,
        ]
        if out_dir:
            argv.append(f"--out={out_dir}")
        return argv

    def hour_dirs(self) -> int:
        """Hourly directories the window overlaps, over all log types."""
        first = (self.start_ms - EPOCH_MS) // HOUR_MS
        last = (self.end_ms - 1 - EPOCH_MS) // HOUR_MS
        return (last - first + 1) * len(LOG_TYPES)


def round_queries(seed: int, widths_h: list[int], terms_dir: str, use_out: bool) -> list[Query]:
    """One round: each of the seven query shapes once. Query k uses width
    k mod len(widths_h) and starts on day 3k and in hour 5k of the day
    (both wrapped to fit), so every seed spreads its windows over the
    daily cycle alike. The offset within the hour is seeded, so starts are
    not hour-aligned. With ``use_out`` the even queries write through
    ``--out``: cat, search_common, grep and multi_and, the two biggest
    outputs among them."""
    rng = random.Random(f"queries-{seed}")
    mix = tool_mix(terms_dir)
    out = []
    for k, (tool, pred) in enumerate(mix):
        width = widths_h[k % len(widths_h)] * HOUR_MS
        last_day = (DAYS * 24 * HOUR_MS - width - 24 * HOUR_MS) // (24 * HOUR_MS)
        start = (
            EPOCH_MS
            + (3 * k % (last_day + 1)) * 24 * HOUR_MS
            + (5 * k % 24) * HOUR_MS
            + rng.randrange(HOUR_MS)
        )
        out.append(Query(tool, pred, start, start + width, use_out and k % 2 == 0))
    return out


class Oracle:
    """Expected CLI answers, from the generator's lines."""

    def __init__(self, files: dict[tuple[str, str, int], list[tuple]], comp: str):
        lines = sorted(
            (ts, msg) for (_, c, _), rows in files.items() if c == comp for ts, msg, _ in rows
        )
        self._ts = [ts for ts, _ in lines]
        self._lines = lines

    def window(self, start_ms: int, end_ms: int) -> list[tuple[int, str]]:
        lo = bisect.bisect_left(self._ts, start_ms)
        hi = bisect.bisect_left(self._ts, end_ms)
        return self._lines[lo:hi]

    def expect(self, q: Query) -> tuple[int, str, int]:
        """(line count, digest, lines scanned in the window)."""
        window = self.window(q.start_ms, q.end_ms)
        out = [format_line(ts, msg) for ts, msg in window if q.pred(msg)]
        return len(out), digest(out), len(window)
