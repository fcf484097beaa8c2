"""``registry_mix``: a fixed sample of oracle-bearing batch queries.

Closed loop, one caller: each timed pass runs every sampled query once, in
an order drawn from the workload seed, and forces it with the noop sink as
``bench.py`` does. The warm-up pass collects each result instead; those
results are hash-compared against the query's DuckDB oracle after the
timed passes, with the normalisation and dtype-kind check of
``tests/conftest.py::assert_matches_oracle``.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

import duckdb

import spans
from stats import m
from apache_flink_datastream_api_spark.registry import all_queries
from apache_flink_datastream_api_spark.schemas import ALL_TABLES
from tests.conftest import assert_matches_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Same rows as the sf0.1 test data (TESTDATA.md), committed with the repository.
SF_DIR = os.path.join(REPO, "testdata_scaled", "sf0.1x")

# The first five of random.Random(2).sample(eligible, 30), where
# eligible is the sorted names of the oracle-bearing queries without the
# "streaming" tag whose committed budget (BENCH_DETAIL.json, 32 cores) is
# at most 1 s. Five queries in six passes give 30 samples in clusters of
# six: the median falls inside the three light queries' samples, and the
# tail (the 11th slowest sample, p66.7) inside the 12 samples of the two
# heaviest, tpch_q18_large_volume (shuffle-heavy) and emb_power_iteration
# (eager driver-side iterations inside fn). Seven queries in four passes
# put the tail on a query whose time moved between 0.6 and 1.2 s from run
# to run. Fixed here so that a budget refresh cannot change the workload.
QUERIES = [
    "tpch_q18_large_volume", "topk_users_by_value", "dq_k_anonymity",
    "emb_power_iteration", "emb_pool_arrow_grouped",
]
PASS_S = 4.0  # seconds of --seconds per timed pass: 6 passes (about 4 s each) at 25
PROBE_QUERIES = 3  # queries other workloads' traced runs read these layers from


def order(seed: int) -> list[str]:
    """The pass order for ``seed``: QUERIES rotated to start at a seeded
    position.

    Passes run back to back, so every seed executes the same cyclic
    sequence and only where it starts varies. Free permutations would
    differ in which query follows which, and that changes timings: two
    orders of the same ten queries measured 1.07-1.17 and 1.38-1.43
    queries/s, two runs each.
    """
    k = random.Random(seed).randrange(len(QUERIES))
    return QUERIES[k:] + QUERIES[:k]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Sample:
    """Time inside the query function and in the force, per query."""

    def __init__(self, name: str, build_s: float, force_s: float) -> None:
        self.name = name
        self.build_s = build_s
        self.force_s = force_s


def run_pass(spark, names: list[str], tracer: spans.Tracer,
             layers: dict[str, list[float]]) -> tuple[list[Sample], list[str]]:
    """Build and force each query; returns samples and the failed names.

    When tracing, each query runs under its own job group, and its job,
    stage and task counts, plan phase times and session changes are
    appended to ``layers``.
    """
    specs = all_queries()
    sc = spark.sparkContext
    samples, failed = [], []
    for name in names:
        if tracer.enabled:
            sc.setJobGroup(f"perfbench.{name}", name)
            before = session_snapshot(spark)
        try:
            with tracer.span("registry.fn", name):
                t0 = time.perf_counter()
                df = specs[name].fn(spark, SF_DIR)
                t1 = time.perf_counter()
            if tracer.enabled:
                phases = spans.plan_phase_ms(df)
            with tracer.span("force", name):
                t2 = time.perf_counter()
                force(df)
                t3 = time.perf_counter()
        except Exception as e:  # a failing query counts; the pass goes on
            failed.append(name)
            print(f"[perfbench] {name} failed: {e!r}"[:400], file=sys.stderr)
            continue
        samples.append(Sample(name, t1 - t0, t3 - t2))
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in spans.job_counts(spark, f"perfbench.{name}").items():
                layers.setdefault(k, []).append(v)
            layers.setdefault("optimize_ms", []).append(phases.get("optimization", 0.0))
            layers.setdefault("planning_ms", []).append(phases.get("planning", 0.0))
            layers.setdefault("session_leaks", []).append(
                session_changes(before, session_snapshot(spark)))
    return samples, failed


def collect_pass(spark, names: list[str]) -> tuple[dict, list[str]]:
    """The warm-up pass: each result collected to pandas for the oracle check."""
    specs = all_queries()
    results, failed = {}, []
    for name in names:
        try:
            results[name] = specs[name].fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"[perfbench] {name} failed: {e!r}"[:400], file=sys.stderr)
    return results, failed


class _Collected:
    """Hands a collected result to assert_matches_oracle as if it were a
    Spark DataFrame."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def oracle_connection() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ALL_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(results: dict) -> list[str]:
    """Names whose collected result does not match the oracle."""
    specs = all_queries()
    con = oracle_connection()
    mismatched = []
    try:
        for name, pdf in results.items():
            try:
                assert_matches_oracle(_Collected(pdf), con, specs[name].oracle)
            except AssertionError as e:
                mismatched.append(name)
                print(f"[perfbench] {name} mismatches its oracle: {e}"[:400], file=sys.stderr)
    finally:
        con.close()
    return mismatched


def session_snapshot(spark) -> dict:
    """What a query could leave behind in the session."""
    return {
        "conf": dict(spark.conf.getAll),
        "cached": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
        "streams": len(spark.streams.active),
    }


def session_changes(a: dict, b: dict) -> int:
    keys = set(a["conf"]) | set(b["conf"])
    return (sum(a["conf"].get(k) != b["conf"].get(k) for k in keys)
            + abs(b["cached"] - a["cached"]) + len(a["views"] ^ b["views"])
            + abs(b["streams"] - a["streams"]))


def registry_layers(spark, names: list[str], tracer: spans.Tracer) -> dict[str, dict]:
    """One traced pass over ``names``: the registry, operator and plan layers."""
    layers: dict[str, list[float]] = {}
    samples, _ = run_pass(spark, names, tracer, layers)
    return registry_layers_from(layers, samples)


def registry_layers_from(layers: dict[str, list[float]],
                         samples: list[Sample]) -> dict[str, dict]:
    """Summarise what traced passes appended to ``layers``, per query."""
    if not samples:
        raise RuntimeError("no query of the traced passes succeeded")
    mean = statistics.fmean
    return {
        "registry.build_ms": m(statistics.median(s.build_s * 1000 for s in samples), "ms"),
        "registry.force_ms": m(statistics.median(s.force_s * 1000 for s in samples), "ms"),
        "operators.jobs": m(mean(layers["jobs"]), "count"),
        "operators.stages": m(mean(layers["stages"]), "count"),
        "operators.tasks": m(mean(layers["tasks"]), "count"),
        "operators.empty_task_share": m(sum(layers["empty_tasks"])
                                        / max(sum(layers["tasks"]), 1), "share"),
        "operators.shuffle_write_bytes": m(mean(layers["shuffle_write_bytes"]), "bytes"),
        "operators.spill_bytes": m(mean(layers["spill_bytes"]), "bytes"),
        "plans.optimize_ms": m(statistics.median(layers["optimize_ms"]), "ms"),
        "plans.planning_ms": m(statistics.median(layers["planning_ms"]), "ms"),
        "registry.session_leaks": m(sum(layers["session_leaks"]), "count"),
    }


def run(spark, seed: int, passes: int, trace: bool, tmp: str, tracer: spans.Tracer,
        setup_done) -> dict:
    """The registry_mix workload; see the module docstring."""
    import course

    names = order(seed)
    results, failed_warm = collect_pass(spark, names)  # fixed warm-up: one whole pass
    setup_s = setup_done()

    plan = spans.pass_plan(trace, passes)
    timed, layers = [], {}
    for traced in plan:
        t0 = time.perf_counter()
        samples, failed = run_pass(spark, names, tracer if traced else spans.Tracer(False),
                                   layers if traced else {})
        timed.append((traced, time.perf_counter() - t0, samples, failed))

    mismatched = check(results)
    kept = [(s, smp) for traced, s, smp, _ in timed if traced == trace]
    per_query = {}
    for _, smp in kept:
        for x in smp:
            per_query.setdefault(x.name, []).append((x.build_s + x.force_s) * 1000)
    print("[perfbench] per-query median ms: " + ", ".join(
        f"{n}={statistics.median(v):.0f}" for n, v in per_query.items()), file=sys.stderr)
    result = {
        "attempted": len(names) + sum(len(names) for _ in timed),
        "failed": len(set(failed_warm) | set(mismatched))
        + sum(len(f) for *_, f in timed),
        "setup_s": setup_s,
        "throughput_per_s": statistics.median(len(smp) / s for s, smp in kept),
        "latency_ms": [(x.build_s + x.force_s) * 1000 for _, smp in kept for x in smp],
    }
    if trace:
        out = registry_layers_from(layers, [x for t, _, smp, _ in timed if t for x in smp])
        out.update(course.stream_probe(spark, seed, tmp, tracer))
        out["trace.overhead_share"] = m(spans.overhead([s for _, s, _, _ in timed], plan),
                                        "share")
        result["layers"] = out
    return result
