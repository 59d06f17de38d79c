#!/usr/bin/env python
"""Benchmark runner (driver contract): run every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Per-query timing forces full materialization without driver transfer via a
``noop``-format write -- every column of every row is computed and handed to
the sink, the honest analog of the reference's read_sql wall-clock
(conecta-benchmark/benchmark.py methodology).  A bare ``.count()`` would let
Catalyst prune scan queries down to parquet footer metadata and report
fantasy numbers.

Each query runs >=4 consecutive times with the cache cleared in between;
the first run is warm-up (Janino codegen compilation of large SQL
expressions costs ~10s once per session; tiered JIT takes 2-3 executions
to compile the heavy stages) and the recorded number is the MEDIAN of the
remaining runs: this shared 32-core host carries external load that
perturbs single runs by 2-3x, so a min is a lucky draw and a single run
is a lottery -- the warm-median is the number that is comparable ACROSS
rounds (the round-4 verdict's request; measured on x40, the all-runs
median still carried +40% of first-touch, the warm median matched steady
state).  The sum of per-query minima is still emitted as ``value_min``
so the r1-r4 min-based artifacts stay interpretable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _warm_worker(batches):
    import numpy  # noqa: F401  (forces the heavy import in the worker)

    for batch in batches:
        yield batch


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from conecta_spark.session import get_session

    spark = get_session(
        app_name="conecta-spark-bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
            # JVM unified logging writes [warning][gc,...] lines to STDOUT
            # (observed: a GCLocker retry warning corrupting a sibling
            # script's JSON artifact).  The driver parses this script's
            # stdout tail, so keep the channel clean.
            "spark.driver.extraJavaOptions": "-Xlog:disable",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from conecta_spark.queries import queries

    qs = queries()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not first-touch class loading.
    run(next(iter(qs.values()))(spark, sf_dir))

    # Fork and warm the full Python worker pool before timing anything.
    # Workers are forked lazily per concurrently-running task, and each
    # fresh worker imports pandas+numpy (~1 s, and they contend when ~30
    # fork at once): the first *wide* mapInPandas stage of the session
    # pays ~10 s of cold-start that belongs to the pool, not the query.
    # With spark.python.worker.reuse (default on) the warmed pool serves
    # every later Arrow-batched stage; a long-running cluster is always
    # in that state.
    run(
        spark.range(int(cpus) * 4, numPartitions=int(cpus)).mapInPandas(
            _warm_worker, "id long"
        )
    )

    # External load on this shared box moves identical-code medians by
    # 2-3x (r7: five same-code runs spanned 66.4-82.4 s); recording the
    # 1-minute load average at start and end lets the driver artifact
    # distinguish a code regression from box noise without a re-run.
    # When the first pass FINISHES under heavy external load, the whole
    # sample is suspect (the r8 driver artifact's 75.96 s median ran at
    # load 6.2-10.6 vs 68.6 s quiet): re-run the timed pass ONCE and keep
    # the lower-load sample.  Pure sampling policy -- the timed code path
    # is byte-identical for both passes.
    samples: list[tuple[dict, dict, dict, list]] = []
    for _ in range(2):
        load_start = round(os.getloadavg()[0], 1)
        timings, minima, all_runs = timed_pass(spark, qs, sf_dir, run)
        load = [load_start, round(os.getloadavg()[0], 1)]
        samples.append((timings, minima, all_runs, load))
        if not should_resample(load):
            break
        print(
            f"bench: end load {load[1]} > {LOAD_RERUN_THRESHOLD}; "
            "re-running timed pass once (load-aware sampling policy)",
            file=sys.stderr,
        )
    timings, minima, all_runs, load = samples[choose_sample(
        [s[3] for s in samples]
    )]
    total, total_min = total_of(timings), total_of(minima)
    extra = {"samples": len(samples)} if len(samples) > 1 else None
    emit_result(timings, total, total_min, sf, all_runs, load, extra)


def total_of(values: dict) -> float | None:
    """Sum of the per-query seconds, or None when any query failed: a
    failure is stored as -1.0, and a sum that skipped it would read as a
    saving."""
    if any(v < 0 for v in values.values()):
        return None
    return round(sum(values.values()), 4)


#: 1-min load average above which a finished bench pass is considered
#: noise-contaminated and worth one re-roll.  The box has 32 cores; our
#: own bench contributes ~2-5 to the 1-min average at its END (trailing
#: light queries), so an end load of 8+ means several external cores of
#: contention all through the tail.
LOAD_RERUN_THRESHOLD = 8.0


def should_resample(load: list) -> bool:
    """True when the pass ENDED under external load heavy enough that its
    medians overstate steady state (end load only: the start load may be
    a dying previous process that no longer perturbs anything)."""
    return load[1] > LOAD_RERUN_THRESHOLD


def choose_sample(loads: list[list]) -> int:
    """Index of the sample to keep: lowest max(start, end) load -- the
    least noise-contaminated roll.  Ties keep the EARLIEST sample (maximal
    JIT-warm-up distance from session start favors the later pass, so a
    tie means load didn't distinguish them and first-come is simplest)."""
    return min(range(len(loads)), key=lambda i: (max(loads[i]), i))


#: Registry entries the bench does NOT time (r11 verdict task 7).  They
#: stay in queries()/oracle_sql() -- the driver's correctness gate and
#: the twin/sweep still check them every round -- but they are
#: deliberately NON-production baselines whose cost is quadratic by
#: construction: x06 is the brute-force n-gram Jaccard anchor the miners
#: are semantically pinned against (already slice-bounded to
#: BASELINE_SLICE docs), kept as a test-only reference, not a path any
#: 100 TB pipeline would run.  Charging the headline wall ~1.4 s for it
#: every round masked regressions in the operators that matter (x07).
#: The emitted JSON lists what was skipped so the artifact can't read
#: as "timed everything".
BENCH_EXCLUDE = ("x06_dedup_ngram_jaccard",)


def timed_pass(spark, qs, sf_dir, run):
    """One full timed pass over the registry (the r5+ methodology:
    >=4 consecutive runs per query, cache cleared between runs, run 1 is
    warm-up, record the median of the rest).  BENCH_EXCLUDE entries are
    skipped (correctness-only baselines)."""
    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    qs = {n: f for n, f in qs.items() if n not in BENCH_EXCLUDE}
    for name, fn in sorted(qs.items()):
        try:
            runs: list[float] = []
            for attempt in range(6):
                # Isolate queries from each other: operators persist
                # intermediates (shingle relations, label frontiers) that
                # would otherwise pressure later queries' memory.
                spark.catalog.clearCache()
                start = time.perf_counter()
                run(fn(spark, sf_dir))
                runs.append(time.perf_counter() - start)
                # Adaptive steady-state: four runs minimum (warm-up plus
                # three timed -- a median of fewer is a min or a mean),
                # then keep rerunning (cap 6) while the latest run still
                # improved the best by >20%; light queries converge in
                # four runs and pay little extra.
                if attempt >= 3 and min(runs) > 0.8 * min(runs[:-1]):
                    break
            timed = sorted(runs[1:])  # run 1 is warm-up
            timings[name] = round(statistics.median(timed), 4)
            minima[name] = round(min(runs), 4)
            all_runs[name] = [round(r, 4) for r in runs]
        except Exception as e:  # never let one query kill the whole bench
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0
            minima[name] = -1.0
    return timings, minima, all_runs


def render_json_line(
    timings: dict, total: float | None, total_min: float | None, sf,
    load: list | None = None, budget: int = 1900,
    extra_fields: dict | None = None,
) -> str:
    """Render the driver-facing JSON line within ``budget`` chars.

    Progressive degradation: full 4dp per-query values, then 2dp, then
    1dp; as a last resort the per-query map keeps only the slowest
    entries (plus an "omitted" count) -- the line must PARSE inside the
    driver's ~2000-char stdout tail no matter how the registry grows."""
    short = {n.split("_", 1)[0]: v for n, v in timings.items()}
    assert len(short) == len(timings), "registry prefixes must stay unique"
    failed = sum(v < 0 for v in timings.values())  # stored as -1.0

    def emit(
        q: dict, extra: dict | None = None, with_excluded: bool = True
    ) -> str:
        payload = {
            "metric": "total_query_wall_seconds",
            "value": total,
            "unit": "sec",
            "stat": "median",
            "value_min": total_min,
            "queries": q,
            "sf": float(sf),
            "failed": failed,
        }
        if with_excluded and BENCH_EXCLUDE:
            # correctness-only baselines the bench deliberately skips
            # (still oracle-checked by the driver/twin/sweep every
            # round); droppable before query coverage is
            payload["excluded"] = [
                n.split("_", 1)[0] for n in BENCH_EXCLUDE
            ]
        if load is not None:
            # [start, end] 1-min load averages: the box-noise context for
            # this run's medians (r7 spanned 66-82 s on load alone).
            payload["load"] = load
        if extra_fields:
            # e.g. {"samples": 2}: the load-aware policy re-rolled the
            # timed pass and this line carries the lower-load sample.
            payload.update(extra_fields)
        if extra:
            payload.update(extra)
        return json.dumps(payload, separators=(",", ":"))

    for with_excluded in (True, False):
        # the excluded-list field drops before any query coverage does:
        # per-query numbers are the artifact's point, the skip list is
        # derivable from bench.BENCH_EXCLUDE in-repo
        for ndigits in (4, 2, 1, 0):
            # ndigits=0 renders whole seconds as ints ("124", not
            # "124.0"): at ~150 entries the 1dp worst case overflows the
            # window, and integer seconds still beat dropping coverage
            q = {
                k: (int(round(v)) if ndigits == 0 else round(v, ndigits))
                for k, v in short.items()
            }
            line = emit(q, with_excluded=with_excluded)
            if len(line) <= budget:
                return line
    ranked = sorted(short.items(), key=lambda kv: -kv[1])
    keep = len(ranked)
    while keep > 1:
        line = emit(
            {k: round(v, 1) for k, v in ranked[:keep]},
            {"omitted": len(ranked) - keep},
            with_excluded=False,
        )
        if len(line) <= budget:
            return line
        keep -= max(1, keep // 10)
    return emit({}, {"omitted": len(ranked)}, with_excluded=False)


def emit_result(
    timings, total, total_min, sf, all_runs, load=None, extra_fields=None
) -> None:
    # The driver records only the LAST 2000 chars of stdout and tries to
    # parse the JSON line out of it -- with 86 full-name queries the line is
    # ~3 KB and has been truncated (BENCH_r01..r03 all show parsed: null).
    # Key the queries dict by the unique registry prefix ("q01", "x07" --
    # the contract's own example form) and emit compact separators so the
    # whole line fits the capture window; the full-name map goes to stderr
    # for humans.
    line = render_json_line(
        timings, total, total_min, sf, load, extra_fields=extra_fields
    )
    print(json.dumps({"query_names": sorted(timings)}), file=sys.stderr)
    print(json.dumps({"all_runs": all_runs}), file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
