"""``course_replay``: drain a seeded backlog through the chapter topologies.

Closed loop, one caller: each timed pass drains the same backlog through
the four topologies one after another, each in its own streaming query
with a fresh checkpoint and ``availableNow``. The JVM-only topologies take
one file per micro-batch, the Python-state ones the whole backlog in one
(see TOPOLOGIES). Work per pass is fixed, so throughput is input rows over
the pass's wall time and never depends on how many batches fit a duration.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pandas as pd

import gen
import reference
import spans
from stats import m
from apache_flink_datastream_api_spark.examples import course_use_case, keyed_streams, stateful
from apache_flink_datastream_api_spark.functions.parse import (
    parse_audit_trail,
    parse_browser_events,
)

FILES = 6
ROWS_PER_FILE = 3000
LATE_FROM_FILE = 2  # the watermark needs two batches before it can drop rows
PASS_S = 12.5  # seconds of --seconds per timed pass: 2 passes (about 11 s each) at 25
# Backlog of the cold warm-up pass and of the streaming probe in other
# workloads' traced runs: a pass over it pays the one-time costs (code
# generation, Python worker start) on a third of the full pass's rows.
SMALL_FILES = 2
DELAY_MS = int(gen.WATERMARK_DELAY.split()[0]) * 1000


def _counts_with_watermark(parsed):
    return course_use_case.action_counts_10s(
        parsed.withWatermark("event_ts", gen.WATERMARK_DELAY))


# topology -> (stream it reads, parser, function building it on the parsed
# stream, files per trigger). The JVM-only topologies make a micro-batch per
# file; the Python-state ones one micro-batch per drain, so that their cost
# is per row and per key, not per trigger. A pass then makes 13 JVM-only
# micro-batches and 2 Python-state ones, and the pooled median and tail of
# two passes both lie inside the JVM-only batches (README.md, Steadiness rules).
TOPOLOGIES = {
    "running_duration_totals": ("audit", parse_audit_trail,
                                keyed_streams.running_duration_totals, 1),
    "action_counts_10s": ("browser", parse_browser_events, _counts_with_watermark, 1),
    "user_session_durations": ("browser", parse_browser_events,
                               course_use_case.user_session_durations, FILES),
    "delete_alerts": ("audit", parse_audit_trail, stateful.delete_alerts, FILES),
}


class Drain:
    """One availableNow run of a topology: its wall time, progress and the
    rows it wrote (every update, in no particular order)."""

    def __init__(self, name: str, wall_s: float, progress: list[dict],
                 output: pd.DataFrame) -> None:
        self.name = name
        self.wall_s = wall_s
        self.progress = progress
        self.output = output

    @property
    def input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.progress)

    @property
    def late_dropped(self) -> int:
        return sum(so.get("numRowsDroppedByWatermark", 0)
                   for p in self.progress for so in p.get("stateOperators", []))


def drain(spark, df, checkpoint: str,
          collect: bool = True) -> tuple[float, list[dict], pd.DataFrame | None]:
    """Run ``df`` to the end of its input; returns the wall time, the progress
    reports and, with ``collect``, every row written to the memory sink (the
    noop sink otherwise). The rows are read after the wall time is taken."""
    name = f"perfbench_{os.path.basename(checkpoint)}_{time.time_ns()}"
    writer = (df.writeStream.outputMode("update")
              .option("checkpointLocation", checkpoint)
              .trigger(availableNow=True))
    writer = writer.format("memory").queryName(name) if collect else writer.format("noop")
    t0 = time.perf_counter()
    q = writer.start()
    q.awaitTermination()
    wall = time.perf_counter() - t0
    exc = q.exception()
    if exc is not None:
        raise RuntimeError(str(exc))
    out = None
    if collect:
        out = spark.table(name).toPandas()
        spark.catalog.dropTempView(name)
    return wall, [json.loads(p.json) for p in q.recentProgress], out


def run_topology(spark, name: str, dirs: dict[str, str], checkpoint: str) -> Drain:
    stream, parse, build, files_per_trigger = TOPOLOGIES[name]
    lines = spark.readStream.option("maxFilesPerTrigger", files_per_trigger).text(dirs[stream])
    return Drain(name, *drain(spark, build(parse(lines)), checkpoint))


def parse_only(spark, dirs: dict[str, str], checkpoint_root: str) -> float:
    """Rows per second of the two parsers alone, drained to the noop sink."""
    rows, wall = 0, 0.0
    for i, (stream, parse) in enumerate((("audit", parse_audit_trail),
                                         ("browser", parse_browser_events))):
        lines = spark.readStream.option("maxFilesPerTrigger", 1).text(dirs[stream])
        w, progress, _ = drain(spark, parse(lines), os.path.join(checkpoint_root, f"parse{i}"),
                               collect=False)
        wall += w
        rows += sum(p["numInputRows"] for p in progress)
    return rows / wall


class Reference:
    """Expected outputs, from the generated files alone."""

    def __init__(self, dirs: dict[str, str]) -> None:
        def read(name: str) -> pd.DataFrame:  # batched as the topology's source
            stream, files_per_trigger = TOPOLOGIES[name][0], TOPOLOGIES[name][3]
            cols = reference.AUDIT_COLS if stream == "audit" else reference.BROWSER_COLS
            return reference.read_stream(dirs[stream], cols, files_per_trigger)

        browser = read("action_counts_10s")
        late = reference.late_mask(browser, DELAY_MS)
        self.late_rows = int(late.sum())
        self.expected = {
            "running_duration_totals": reference.running_totals(read("running_duration_totals")),
            "action_counts_10s": reference.window_counts(browser, late),
            "user_session_durations": reference.session_durations(read("user_session_durations")),
            "delete_alerts": reference.delete_alerts(read("delete_alerts")),
        }

    def check(self, d: Drain) -> list[str]:
        """Problems with a drain's output; empty when it matches."""
        want = self.expected[d.name]
        got = d.output
        if d.name in ("running_duration_totals", "action_counts_10s") and len(got):
            # update mode emits a key again whenever it changes; its counts
            # only grow, so the last update is the one with the largest count
            keys, count = ((["user"], "n_records") if d.name == "running_duration_totals"
                           else (["user", "action", "window_start_ms"], "cnt"))
            got = got.sort_values(count, kind="mergesort").drop_duplicates(keys, keep="last")
        problems = []
        if len(got) == 0 or not reference.same_rows(got, want):
            problems.append(f"{d.name}: output differs from the reference "
                            f"({len(got)} rows, expected {len(want)})")
        if d.name == "action_counts_10s" and d.late_dropped != self.late_rows:
            problems.append(f"{d.name}: {d.late_dropped} rows dropped as late, "
                            f"expected {self.late_rows}")
        return problems


def run_pass(spark, dirs: dict[str, str], checkpoint_root: str,
             tracer: spans.Tracer) -> tuple[float, list[Drain]]:
    """Drain every topology once; returns the pass's wall time and drains.
    A drain that raises is kept with no output, so the check fails it."""
    t0 = time.perf_counter()
    drains = []
    for name in TOPOLOGIES:
        n = len(os.listdir(checkpoint_root))
        trace_id = f"{name}#{n}"
        with tracer.span(f"examples.{name}", trace_id) as sid:
            start = time.perf_counter()
            try:
                d = run_topology(spark, name, dirs, os.path.join(checkpoint_root, str(n)))
            except Exception as e:  # counted as a failed drain by Reference.check
                print(f"[perfbench] {name} raised: {e!r}"[:400], file=sys.stderr)
                d = Drain(name, time.perf_counter() - start, [], pd.DataFrame())
        tracer.add_progress(d.progress, trace_id, sid)
        drains.append(d)
    wall = time.perf_counter() - t0
    print(f"[perfbench] pass: {wall:.2f} s", file=sys.stderr)
    return wall, drains


def streaming_layers(drains: list[Drain], passes: int, python: dict,
                     parse_rows_per_s: float) -> dict[str, dict]:
    """Layer metrics of the file source, micro-batch engine, state store,
    Python state runner and watermark, from the drains' progress."""
    progress = [p for d in drains for p in d.progress]
    dur = [p["durationMs"] for p in progress]
    ops = [p.get("stateOperators", []) for p in progress]
    med = statistics.median
    out = {
        "sources.list_ms": m(med(x.get("latestOffset", 0) for x in dur), "ms"),
        "parse.rows_per_s": m(parse_rows_per_s, "1/s"),
        "streaming.batches": m(len(progress) / passes, "count"),
        "streaming.rows_per_batch": m(statistics.fmean(
            p["numInputRows"] for p in progress if p["numInputRows"]), "count"),
        "streaming.trigger_fixed_ms": m(med(x["triggerExecution"] - x.get("addBatch", 0)
                                            for x in dur), "ms"),
        "streaming.planning_ms": m(med(x.get("queryPlanning", 0) for x in dur), "ms"),
        "streaming.commit_ms": m(med(x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                     for x in dur), "ms"),
        "streaming.addbatch_ms": m(med(x.get("addBatch", 0) for x in dur), "ms"),
        "state.rows_peak": m(max(sum(o["numRowsTotal"] for o in b) for b in ops), "count"),
        "state.bytes_peak": m(max(sum(o["memoryUsedBytes"] for o in b) for b in ops), "bytes"),
        "state.commit_ms": m(med(sum(o["commitTimeMs"] for o in b) for b in ops if b), "ms"),
        "state.python_rows_per_s": m(1000 * python["rows"] / python["ms"], "1/s"),
        "state.python_bytes_returned": m(python["bytes_returned"] / passes, "bytes"),
        "state.rows_dropped_late": m(sum(d.late_dropped for d in drains) / passes, "count"),
    }
    for name in TOPOLOGIES:
        out[f"examples.{name}_ms"] = m(
            med(d.wall_s * 1000 for d in drains if d.name == name), "ms")
    return out


def traced_streaming_layers(spark, dirs: dict[str, str], tmp: str, drains: list[Drain],
                            passes: int, executions: tuple[int, int]) -> dict[str, dict]:
    """streaming_layers, with the Python runner's SQL metrics read for the
    executions in ``executions`` (the drains' passes) and a parse-only drain."""
    python = spans.python_runner_metrics(spark, *executions)
    return streaming_layers(drains, passes, python,
                            parse_only(spark, dirs, os.path.join(tmp, "parse")))


def run(spark, seed: int, passes: int, trace: bool, tmp: str, tracer: spans.Tracer,
        setup_done) -> dict:
    """The course_replay workload; see the module docstring."""
    import registry_mix

    dirs = gen.make_backlog(os.path.join(tmp, "backlog"), seed, FILES, ROWS_PER_FILE,
                            LATE_FROM_FILE)
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(ckpt)
    # Fixed warm-up: a cold pass over a small backlog, then a whole pass; the
    # first whole pass after a cold one still ran up to 15% slower than later ones.
    small = gen.make_backlog(os.path.join(tmp, "small_backlog"), seed, SMALL_FILES,
                             ROWS_PER_FILE, LATE_FROM_FILE)
    run_pass(spark, small, ckpt, spans.Tracer(False))
    run_pass(spark, dirs, ckpt, spans.Tracer(False))
    setup_s = setup_done()

    plan = spans.pass_plan(trace, passes)
    timed = []  # (traced, wall_s, drains, last SQL execution id before the pass)
    for traced in plan:
        before = spans.last_execution_id(spark) if trace else 0
        timed.append((traced,) + run_pass(spark, dirs, ckpt,
                                          tracer if traced else spans.Tracer(False))
                     + (before,))

    ref = Reference(dirs)
    failed = 0
    for _, _, drains, _ in timed:
        for d in drains:
            problems = ref.check(d)
            failed += bool(problems)
            for p in problems:
                print(f"[perfbench] {p}", file=sys.stderr)

    kept = [(s, ds) for traced, s, ds, _ in timed if traced == trace]
    print("[perfbench] batch ms: " + "; ".join(
        f"{name}=" + "/".join(",".join(str(p["durationMs"]["triggerExecution"])
                                       for p in d.progress)
                              for _, ds in kept for d in ds if d.name == name)
        for name in TOPOLOGIES), file=sys.stderr)
    result = {
        "attempted": sum(len(ds) for _, _, ds, _ in timed), "failed": failed,
        "setup_s": setup_s,
        "throughput_per_s": statistics.median(sum(d.input_rows for d in ds) / s
                                              for s, ds in kept),
        "latency_ms": [p["durationMs"]["triggerExecution"]
                       for _, ds in kept for d in ds for p in d.progress],
    }
    if trace:
        drains = [d for _, ds in kept for d in ds]
        # ABBA: the traced passes are the middle two, so their SQL executions
        # lie between the ids taken before the second and the fourth pass.
        layers = traced_streaming_layers(spark, dirs, tmp, drains, len(kept),
                                         (timed[1][3], timed[3][3]))
        names = registry_mix.order(seed)[:registry_mix.PROBE_QUERIES]
        registry_mix.run_pass(spark, names, spans.Tracer(False), {})  # warm the probe
        layers.update(registry_mix.registry_layers(spark, names, tracer))
        layers["trace.overhead_share"] = m(
            spans.overhead([s for _, s, _, _ in timed], plan), "share")
        result["layers"] = layers
    return result


def stream_probe(spark, seed: int, tmp: str, tracer: spans.Tracer) -> dict[str, dict]:
    """Streaming layer metrics from one traced pass over a small backlog,
    for workloads that do not exercise the streaming layers themselves."""
    dirs = gen.make_backlog(os.path.join(tmp, "small_backlog"), seed, SMALL_FILES,
                            ROWS_PER_FILE, LATE_FROM_FILE)
    ckpt = os.path.join(tmp, "probe_ckpt")
    os.makedirs(ckpt)
    before = spans.last_execution_id(spark)
    _, drains = run_pass(spark, dirs, ckpt, tracer)
    return traced_streaming_layers(spark, dirs, tmp, drains, 1,
                                   (before, spans.last_execution_id(spark)))
