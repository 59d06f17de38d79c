"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload jdbc_load --seed 1 --seconds 12 --trace 0

Runs in one process on ``local[N]`` (N = min(4, usable cores)).  Set-up
(session start, data generation, Derby load, catalog registration, warm-up)
is timed separately from the measured loop.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` the loop
alternates traced and untraced rounds and reports the per-layer metrics,
and the spans are written to ``.perfbench_tmp/`` at the checkout root.
A human-readable summary goes to stderr.  Every file a run writes lives
under ``.perfbench_tmp/`` and the run's own directory there is removed
when it ends.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from measure import (
    FAILED_OP_S, CpuMeter, Tracer, cpu_ticks, peak_rss_mb, reset_peak_rss,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Set-up repetitions per run; ``setup_s`` takes their median.
SETUPS = 3
#: Operations run before the measured loop, rounded up to whole rounds:
#: after the cold first operation, the CPU an operation uses outside the
#: JIT compiler settles within about this many.
WARMUP_OPS = 6
#: Driver JVM heap: well under physical memory, leaves room for the
#: Python driver's Arrow tables.
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "plans.create_plan_s": "s",
    "sources.parquet.read_partitioned_s": "s",
    "sources.parquet.scan_s": "s",
    "sources.jdbc.read_partitioned_s": "s",
    "sources.jdbc.scan_s": "s",
    "io.export_s": "s",
    "io.export_bytes": "bytes",
    "io.record_batches": "count",
    "sinks.upsert_s": "s",
    "sinks.bytes_written_per_update_byte": "ratio",
    "sinks.files_written": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(run_dir: str, cores: int):
    from conecta_spark.session import get_session

    java_opts = " ".join([
        "-Xlog:disable",  # JVM logging would otherwise reach stdout
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}/derby",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
    ])
    spark = get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": f"{run_dir}/local",
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Loop:
    """The measured closed loop: whole rounds until the time is up."""

    def __init__(self, spark, wl, trace: bool) -> None:
        self.spark, self.wl, self.trace = spark, wl, trace
        self.tracer = Tracer()
        self.cpu = CpuMeter((jvm_pid(), os.getpid()))
        self.bus = spark.sparkContext._jsc.sc().listenerBus() if trace else None
        self.ops: list[dict] = []
        self.next_id = 0

    def round(self, traced: bool, record: bool) -> None:
        for shape in self.wl.shapes:
            self.one(shape, traced, record)

    def one(self, shape: str, traced: bool, record: bool) -> None:
        i = self.next_id
        self.next_id += 1
        self.wl.stage(i)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"op-{i}", shape)
        self.tracer.op = i
        t0, c0 = time.perf_counter(), self.cpu.read()
        try:
            if traced:
                with self.tracer.span(f"op.{shape}"), self.wl.traced(self.tracer):
                    out, rows = self.wl.run(shape, i)
            else:
                out, rows = self.wl.run(shape, i)
            dt, cpu = time.perf_counter() - t0, self.cpu.since(c0)
            ok = self.wl.check(shape, i, out)
            if not ok:
                log(f"op {i} ({shape}): wrong output")
            del out
        except Exception:
            dt, cpu = time.perf_counter() - t0, self.cpu.since(c0)
            ok, rows = False, 0
            log(f"op {i} ({shape}) failed:\n{traceback.format_exc()}")
        if not record:
            if not ok:
                raise RuntimeError(f"warm-up operation {i} ({shape}) failed")
            return
        op = {"id": i, "shape": shape, "wall": dt, "cpu": cpu, "ok": ok,
              "rows": rows if ok else 0, "traced": traced}
        if self.trace:
            # The status tracker is fed asynchronously by the listener bus.
            self.bus.waitUntilEmpty()
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(f"op-{i}")
            stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
            infos = [st.getStageInfo(s) for s in stages]
            op["jobs"] = len(jobs)
            op["tasks"] = sum(s.numCompletedTasks for s in infos if s)
        self.ops.append(op)

    def rounds(self) -> list[list[dict]]:
        n = len(self.wl.shapes)
        return [self.ops[i:i + n] for i in range(0, len(self.ops), n)]

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        rounds = 0
        # The traced run alternates traced and untraced rounds, so it needs
        # at least one of each.
        while rounds < (2 if self.trace else 1) or time.perf_counter() < deadline:
            self.round(traced=self.trace and rounds % 2 == 0, record=True)
            rounds += 1


def end_to_end(loop: Loop, setup_s: float, peak_mb: float) -> dict:
    ops = loop.ops
    done = sum(o["ok"] for o in ops)
    # Wall times go to stderr only: on a shared host they follow the CPU
    # time other tenants take (see NOTES.md).
    lat = [o["wall"] if o["ok"] else FAILED_OP_S for o in ops]
    tail, level = tail_percentile(lat)
    rows_per_s = statistics.median(
        sum(o["rows"] for o in r) / sum(o["wall"] for o in r)
        for r in loop.rounds()
    )
    log(f"wall: op p50 {statistics.median(lat):.4g} s, "
        f"p{100 * level:.0f} {tail:.4g} s ({len(ops)} samples, "
        f"{len(ops) - round(level * len(ops))} beyond it), "
        f"{rows_per_s:.6g} rows/s")
    return {
        "setup_s": setup_s,
        # A failed operation's CPU counts, its completion does not.
        "op_cpu_s": sum(o["cpu"] for o in ops) / done if done else FAILED_OP_S,
        "driver_peak_rss_mb": peak_mb,
    }


def per_layer(loop: Loop, session_s: float) -> dict:
    t = loop.tracer
    traced = [o for o in loop.ops if o["traced"]]
    plain = [o for o in loop.ops if not o["traced"]]

    def per_op(name: str) -> float:
        return sum(s.duration for s in t.named(name)) / len(traced)

    def mean_count(name: str, key: str) -> float:
        spans = t.named(name)
        return sum(s.counts[key] for s in spans) / len(spans) if spans else 0.0

    scan = {o["id"]: 0.0 for o in traced}
    for s in t.named("sources.parquet.scan") + t.named("sources.jdbc.scan"):
        scan[s.op] += s.duration
    overhead = (
        statistics.median(o["wall"] - scan[o["id"]] for o in traced)
        - statistics.median(o["wall"] for o in plain)
    )
    upserts = t.named("sinks.upsert")
    update_bytes = sum(s.counts["update_bytes"] for s in upserts)
    return {
        "session.start_s": session_s,
        "plans.create_plan_s": per_op("plans.create_plan"),
        "sources.parquet.read_partitioned_s": per_op("sources.parquet.read_partitioned"),
        "sources.parquet.scan_s": per_op("sources.parquet.scan"),
        "sources.jdbc.read_partitioned_s": per_op("sources.jdbc.read_partitioned"),
        "sources.jdbc.scan_s": per_op("sources.jdbc.scan"),
        "io.export_s": per_op("io.export"),
        "io.export_bytes": mean_count("io.export", "bytes"),
        "io.record_batches": mean_count("io.export", "batches"),
        "sinks.upsert_s": per_op("sinks.upsert"),
        "sinks.bytes_written_per_update_byte": (
            sum(s.counts["bytes"] for s in upserts) / update_bytes
            if upserts else 0.0
        ),
        "sinks.files_written": mean_count("sinks.upsert", "files"),
        "spark.jobs_per_op": sum(o["jobs"] for o in plain) / len(plain),
        "spark.tasks_per_op": sum(o["tasks"] for o in plain) / len(plain),
        "trace.overhead_s": overhead,
    }


def result(metrics: dict, units: dict, ops: list[dict]) -> dict:
    assert metrics.keys() == units.keys()
    failed = sum(not o["ok"] for o in ops)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": units[k]} for k in units
        },
    }


def run(args, run_dir: str) -> dict:
    import workloads

    cores = min(4, len(os.sched_getaffinity(0)))
    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = start_session(run_dir, cores)
    session_s = time.perf_counter() - t0
    try:
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup(spark, os.path.join(run_dir, f"setup-{k}"), args.seed)
            setups.append(time.perf_counter() - t0)
        wl.prepare()
        loop = Loop(spark, wl, bool(args.trace))
        t0 = time.perf_counter()
        for _ in range(-(-WARMUP_OPS // len(wl.shapes))):
            loop.round(traced=False, record=False)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(setups) + warmup_s
        log(f"session {session_s:.2f}s, set-ups {[round(s, 2) for s in setups]}, "
            f"warm-up {warmup_s:.2f}s")
        gc.collect()
        reset_peak_rss()
        steal0, busy0 = cpu_ticks()
        loop.measure(args.seconds)
        peak_mb = peak_rss_mb()
        steal1, busy1 = cpu_ticks()
        # Host contention slows every operation; report it beside the results.
        log(f"cpu steal during the loop: {(steal1 - steal0) / max(busy1 - busy0, 1):.1%}")
    finally:
        stop_session(spark)
    if args.trace:
        path = os.path.join(
            ROOT, ".perfbench_tmp", f"trace-{args.workload}-seed{args.seed}.jsonl"
        )
        loop.tracer.dump(path)
        log(f"spans written to {path}")
        metrics, units = per_layer(loop, session_s), PER_LAYER
    else:
        metrics, units = end_to_end(loop, setup_s, peak_mb), END_TO_END
    out = result(metrics, units, loop.ops)
    for k, v in out["metrics"].items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    log(f"error_rate = {out['failed'] / out['attempted']:.4g} "
        f"({out['failed']} of {out['attempted']} ops)")
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "conecta_spark")):
        log(f"no conecta_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
