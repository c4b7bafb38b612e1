"""Benchmark: LogTools CLI queries over a seeded hourly Boom tree.

Run from the repository root::

    python3 perfbench/run.py --workload cli_narrow --seed 1 --seconds 10 --trace 0

Each workload is one closed-loop client in a single process on
``local[<cores>]``: the next query starts when the previous one returned.

- ``cli_narrow``: 1-6 hour windows, output to stdout. Each query reads a
  500-3000 lines from about nine hourly directories, so its fixed
  cost dominates: the path walk, one ``read_boom`` per directory, the
  eager ``small_sort`` checkpoint and the hand-off to the driver.
- ``cli_wide``: 12 hour windows, four of the seven queries written
  through ``--out``. Twenty-six hourly directories per query put the
  weight on the per-path union, the decode tasks and the sort and sink.

Both time rounds of the seven query shapes (``gen.tool_mix``), each shape
once per round; every round repeats the same seven queries. On
``cli_wide`` four shapes write through ``--out`` (cat, search_common, grep,
multi_and) and three to stdout.

Set-up runs three times; ``setup_s`` is the median. Each time it generates
the lines, rewrites every file of the tree through the program's own
``write_boom_local`` and (re)starts the Spark session; the first time
includes the JVM launch. A warm-up then runs each query shape once on a
1 hour window, on ``cli_wide`` four of them through ``--out``, before the
timed loop starts. Every output, warm-up included, is checked after the
loop against an answer computed from the generator's lines: the line
count and an order-sensitive digest.

The last line on stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``. The traced run also
writes its spans to ``.perfbench_work/<workload>/spans.jsonl``.

End-to-end metrics: ``setup_s`` as above; ``op_mean_s``, the mean wall
time of a timed query (a mean, not a median: the seven queries of a
narrow round have seven distinct costs, so their median follows a single
query); ``lines_per_s``, the log lines inside the timed
query windows per second of query wall time; ``stored_bytes_per_byte``,
``.bm`` bytes per byte of message text over the files set-up wrote.
Per-layer metrics are medians over the timed queries of per-query sums,
unless their name says otherwise; ``mem.peak_rss_mb`` is the high-water RSS of this process plus
the JVM.

Everything the run writes stays under ``.perfbench_work`` in the
repository root: the tree, rewritten by every set-up, and one directory
per workload for Spark's files and ``--out`` results, cleared at the start
of each run.
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import redirect_stderr, redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import Tracer, parse_event_log, self_times  # noqa: E402

# Timed queries run in rounds of the same seven queries, and a round starts
# only while the run's seconds are not used up. A round takes about 10 s
# (narrow) or 30 s (wide) on a 4-core host, so a 10 s run times one or
# two; as every round repeats the same queries, the mix behind the median
# does not depend on how many fit.
WORKLOADS = {
    "cli_narrow": {"widths_h": [1, 2, 3, 4, 5, 6], "use_out": False},
    "cli_wide": {"widths_h": [12], "use_out": True},
}
SETUP_REPS = 3
DECODE_SLICE_HOURS = 48

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_mean_s": "s",
    "lines_per_s": "1/s",
    "stored_bytes_per_byte": "ratio",
}
PER_LAYER_UNITS = {
    "cli.resolve_paths_s": "s",
    "cli.paths_per_query": "count",
    "cli.self_s": "s",
    "boom.read_calls_per_query": "count",
    "boom.read_build_s": "s",
    "boom.decode_lines_per_s": "1/s",
    "boom.encode_lines_per_s": "1/s",
    "boom.files_written": "count",
    "logops.build_s": "s",
    "small_sort.s": "s",
    "small_sort.jobs": "count",
    "session.launch_s": "s",
    "session.create_s": "s",
    "cli.cold_query_s": "s",
    "exec.action_s": "s",
    "exec.tasks_per_scan": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.op_mean_s": "s",
}


def log(msg: str) -> None:
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


# ---------------------------------------------------------------------------
# environment and processes
# ---------------------------------------------------------------------------


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark writes under ``work`` and give the Python
    workers the package path (they do not inherit ``sys.path``)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end.
    The JVM ends when its stdin closes; it stops the Python workers."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def set_up(boom, seed: int, tree: str, terms_dir: str) -> dict:
    """Generate the lines and write the hourly tree through the program's
    encoder, overwriting every file of the tree in place. The tree is kept
    between runs on purpose: on ext4, rounds of deleting and re-creating
    thousands of files made each later write slower (0.3 s grew to 1.4 s
    over twelve rounds), while overwriting stayed level. Returns the lines
    and the timings of this set-up."""
    t0 = time.perf_counter()
    files = gen.generate(seed)
    encode_s = 0.0
    for (log_type, comp, hour), lines in files.items():
        d = gen.hour_dir(tree, log_type, comp, hour)
        os.makedirs(d, exist_ok=True)
        t = time.perf_counter()
        boom.write_boom_local(os.path.join(d, "part-00000.bm"), lines)
        encode_s += time.perf_counter() - t
    gen.write_terms(terms_dir)
    return {"files": files, "setup_s": time.perf_counter() - t0, "encode_s": encode_s}


def stored_bytes_per_byte(tree: str, files: dict) -> float:
    stored = sum(
        os.path.getsize(os.path.join(gen.hour_dir(tree, t, c, h), "part-00000.bm"))
        for t, c, h in files
    )
    text = sum(len(msg.encode()) for lines in files.values() for _, msg, _ in lines)
    return stored / text


def decode_lines_per_s(boom, tree: str, reps: int = 3) -> float:
    """Single-process ``read_boom_local`` over the first
    ``DECODE_SLICE_HOURS`` hours of the queried component."""
    paths = [
        os.path.join(gen.hour_dir(tree, t, gen.QUERY_COMP, h), "part-00000.bm")
        for h in range(DECODE_SLICE_HOURS)
        for t in gen.LOG_TYPES
    ]
    rates = []
    for _ in range(reps):
        t = time.perf_counter()
        n = sum(len(boom.read_boom_local(p)) for p in paths)
        rates.append(n / (time.perf_counter() - t))
    return statistics.median(rates)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def run_query(cli, q: gen.Query, out_dir, tree: str, tracer: Tracer | None, op_id: str):
    """Run one CLI query in-process. Returns (seconds, stdout, error)."""
    fn = getattr(cli, q.tool.name)
    argv = q.argv(tree, out_dir)
    out, err = io.StringIO(), None
    t = time.perf_counter()
    try:
        with redirect_stdout(out), redirect_stderr(io.StringIO()):
            if tracer is None:
                fn(argv)
            else:
                with tracer.span(f"cli.{q.tool.name}", op_id):
                    fn(argv)
    except (Exception, SystemExit) as e:  # noqa: BLE001 — a failed query is counted, not fatal
        err = "".join(traceback.format_exception(e))
    return time.perf_counter() - t, out.getvalue(), err


def check(oracle: gen.Oracle, q: gen.Query, out_dir, stdout: str, err: str | None) -> bool:
    if err is not None:
        log(f"{q.tool.label} failed:\n{err}")
        return False
    if out_dir:
        lines = []
        for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            with open(part, encoding="utf-8") as f:
                lines.extend(f.read().splitlines())
    else:
        lines = stdout.splitlines()
    n, want, _ = oracle.expect(q)
    if len(lines) != n or gen.digest(lines) != want:
        log(f"{q.tool.label} [{q.start_ms}, {q.end_ms}): got {len(lines)} lines, want {n}")
        return False
    return True


# ---------------------------------------------------------------------------
# per-layer figures
# ---------------------------------------------------------------------------


def layer_metrics(tracer: Tracer, op_ids: list[str], event_dir: str) -> dict[str, float]:
    """Per-operation sums over the traced spans, then the median over the
    timed operations; GC time is the mean, as most queries see none, and
    so is the traced query time, as for ``op_mean_s``."""
    selfs = self_times(tracer.spans)
    events = parse_event_log(event_dir)
    per_op: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_op.setdefault(name, []).append(value)

    by_op: dict[str, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op_id, []).append(s)
    for op_id in op_ids:
        spans = by_op.get(op_id, [])
        root = next(s for s in spans if s.parent is None)

        def total(prefix: str, what=lambda s: s.end - s.start) -> float:
            return sum(what(s) for s in spans if s.name.startswith(prefix))

        resolve = [s for s in spans if s.name == "cli.resolve_paths"]
        add("cli.resolve_paths_s", total("cli.resolve_paths"))
        add("cli.paths_per_query", sum(s.items or 0 for s in resolve))
        add("cli.self_s", selfs[root.span_id])
        add("boom.read_calls_per_query", sum(1 for s in spans if s.name == "boom.read_boom"))
        add("boom.read_build_s", total("boom.read_boom"))
        add("logops.build_s", total("logops."))
        add("small_sort.s", total("small_sort"))
        add("small_sort.jobs", total("small_sort", lambda s: len(s.jobs)))
        add("spark.jobs", sum(len(s.jobs) for s in spans))
        add("spark.stages", sum(s.stages for s in spans))
        add("spark.tasks", sum(s.tasks for s in spans))
        add("exec.tasks_per_scan", max(s.max_stage_tasks for s in spans))
        ex = events.get(op_id)
        if ex is None:
            raise RuntimeError(f"no event-log entries for {op_id}")
        add("exec.action_s", ex.action_s())
        add("exec.executor_run_s", ex.run_ms / 1000)
        add("exec.executor_cpu_s", ex.cpu_ns / 1e9)
        add("exec.gc_s", ex.gc_ms / 1000)
        add("exec.shuffle_write_bytes", ex.shuffle_write)
        add("exec.spill_bytes", ex.spill)
        add("exec.task_skew", ex.task_skew())
        add("trace.op_mean_s", root.end - root.start)
    out = {name: statistics.median(values) for name, values in per_op.items()}
    out["exec.gc_s"] = statistics.fmean(per_op["exec.gc_s"])
    out["trace.op_mean_s"] = statistics.fmean(per_op["trace.op_mean_s"])
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def import_program():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import bb_bigdata_log_tools_spark as pkg
        from bb_bigdata_log_tools_spark import cli, session
        from bb_bigdata_log_tools_spark.operators import logops, util
        from bb_bigdata_log_tools_spark.sources import boom
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the program from {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: program imported from {pkg.__file__}, not {ROOT}")
    return cli, session, logops, util, boom


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spec = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # the file set is the same in every run, so every file is rewritten
    tree = os.path.join(ROOT, ".perfbench_work", "tree")
    terms_dir = os.path.join(work, "terms")
    configure_env(work, bool(args.trace))
    cli, session, logops, util, boom = import_program()
    out_root = os.path.join(work, "out")

    spark, tracer = None, None
    setups = []
    results = []  # (query, out_dir, seconds, stdout, error, timed)
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                # untimed: stop() waits for a socket server that polls
                # every 0.5 s, which would quantise the set-up time
                spark.stop()
            s = set_up(boom, args.seed, tree, terms_dir)
            t = time.perf_counter()
            spark = session.get_spark("perfbench")
            s["session_s"] = time.perf_counter() - t
            s["setup_s"] += s["session_s"]
            setups.append(s)
        files = setups[-1]["files"]
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tracer.wrap(cli, "resolve_paths", "cli.resolve_paths")
            tracer.wrap(cli, "read_boom", "boom.read_boom")
            for name in ("cat", "search", "grep", "multisearch", "format_and_sort"):
                tracer.wrap(logops, name, f"logops.{name}")
            tracer.wrap(util, "small_sort", "small_sort")
            tracer.wrap(session, "get_spark", "session.get_spark")

        def run(q: gen.Query, op_id: str, timed: bool) -> None:
            out_dir = os.path.join(out_root, op_id) if q.to_out else None
            results.append((q, out_dir, *run_query(cli, q, out_dir, tree, tracer, op_id), timed))

        # Warm-up: every query shape once, on 1 hour windows.
        for k, q in enumerate(gen.round_queries(args.seed, [1], terms_dir, spec["use_out"])):
            run(q, f"warm{k}", False)

        # Timed: the same round of queries again and again.
        timed_round = gen.round_queries(args.seed, spec["widths_h"], terms_dir, spec["use_out"])
        deadline = time.perf_counter() + args.seconds
        k = 0
        while time.perf_counter() < deadline:
            for q in timed_round:
                run(q, f"op{k}", True)
                k += 1
        peak_rss = rss_mb(os.getpid()) + rss_mb(jvm_pid())
    finally:
        if spark is not None:
            stop_spark(spark)

    oracle = gen.Oracle(files, gen.QUERY_COMP)
    failed = sum(not check(oracle, q, out_dir, out, err) for q, out_dir, _, out, err, _ in results)
    timed = [(q, dt) for q, _, dt, _, _, is_timed in results if is_timed]
    op_s = [dt for _, dt in timed]
    log(
        f"{args.workload}: {len(timed)} timed queries after {len(results) - len(timed)} "
        f"warm-up, {failed} failed; tree {len(files)} files; set-up seconds: "
        + " ".join(f"{s['setup_s']:.2f}({s['session_s']:.2f})" for s in setups)
        + "; query seconds: "
        + " ".join(f"{q.tool.label}={dt:.2f}" for q, dt in timed)
        + "; warm-up seconds: "
        + " ".join(f"{r[2]:.2f}" for r in results if not r[-1])
    )

    if args.trace:
        values = layer_metrics(tracer, [f"op{i}" for i in range(len(timed))], os.path.join(work, "eventlog"))
        n_lines = sum(len(v) for v in files.values())
        values["session.launch_s"] = setups[0]["session_s"]
        values["session.create_s"] = statistics.median(s["session_s"] for s in setups)
        values["cli.cold_query_s"] = results[0][2]
        values["boom.decode_lines_per_s"] = decode_lines_per_s(boom, tree)
        values["boom.encode_lines_per_s"] = statistics.median(n_lines / s["encode_s"] for s in setups)
        values["boom.files_written"] = len(files)
        values["mem.peak_rss_mb"] = peak_rss
        tracer.dump(os.path.join(work, "spans.jsonl"))
        reads = Counter(s.op_id for s in tracer.spans if s.name == "boom.read_boom")
        same = sum(reads[f"op{i}"] == q.hour_dirs() for i, (q, _) in enumerate(timed))
        log(f"read_boom calls equal the window's hourly directories in {same} of {len(timed)} queries")
        units = PER_LAYER_UNITS
    else:
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "op_mean_s": statistics.fmean(op_s),
            "lines_per_s": sum(oracle.expect(q)[2] for q, _ in timed) / sum(op_s),
            "stored_bytes_per_byte": stored_bytes_per_byte(tree, files),
        }
        units = END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
