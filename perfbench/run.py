#!/usr/bin/env python3
"""Benchmark of the schemasaurus_spark validation engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload seq_clean --seed 1 --seconds 20 --trace 0

One process, one local Spark session on ``local[<cores>]``, one closed-loop
client: each iteration builds a fresh plan and starts after the previous one
finished. Every iteration's output is checked against an independent
reference; a wrong output or an error counts as a failed operation.

``--trace 0`` reports the end-to-end metrics from untraced iterations.
``--trace 1`` alternates untraced and traced iterations and reports the
per-layer metrics: self times per engine module, py4j round trips, Spark
counters, the unattributed residual and the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
print every metric by name with its unit. The exit code is 0 when every
output was correct, 1 when a check failed, and 2 when the repository's
package or corpus is missing (then nothing is measured). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

from tracing import ROOT, NullTracer, Tracer, self_times

REPO = Path(__file__).resolve().parents[1]
WORK = REPO / ".perfbench_work"
REQUIRED = ["schemasaurus_spark/__init__.py", "bench.py",
            "tests/data/official_draft4/type.json"]

END_TO_END = {
    "throughput_per_s": "1/s",
    "iter_s_p50": "s",
    "setup_s": "s",
    "jvm_peak_rss_mb": "MB",
}
LAYER_TIMES = [
    "compiler.compile_s", "validate.build_s", "validate.verdicts_s",
    "validate.violations_s", "engine.full_validation_call_s",
    "aggregates.uniqueness_s", "aggregates.fused_pass_s",
    "aggregates.referential_s", "aggregates.null_rate_s", "aggregates.drift_s",
    "official_suite.plan_s", "official_suite.run_s",
]
SPARK_COUNTS = ["spark.jobs", "spark.tasks", "spark.scan_count",
                "spark.scan_rows", "spark.scan_bytes",
                "spark.shuffle_write_bytes"]
SPARK_TIMES = ["spark.exec_task_ms", "spark.gc_ms"]
PER_LAYER = {
    **{name: "s" for name in LAYER_TIMES},
    "spark.collect_s": "s",
    "compiler.py4j_calls": "count",
    "driver.py4j_calls": "count",
    "official_suite.batches": "count",
    "validate.violation_rows": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.scan_count": "count",
    "spark.scan_rows": "count",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.exec_task_ms": "ms",
    "spark.gc_ms": "ms",
    "host.calib_s": "s",
    "trace.residual_s": "s",
    "trace.residual_share": "ratio",
    "trace.traced_iter_s_p50": "s",
    "trace.untraced_iter_s_p50": "s",
    "trace.overhead_s": "s",
    "trace.pairs": "count",
    "ops_failed_ratio": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["seq_clean", "seq_dirty", "draft4"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ Spark session


def start_spark(cores: int):
    """The engine's own session factory, sized to this host, with every
    scratch location inside the work directory."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")
    from schemasaurus_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf={
                          "spark.driver.memory": "2g",
                          "spark.ui.showConsoleProgress": "false",
                          # small inputs: split scans into several tasks per
                          # core, as bench.py does, so no core idles on a
                          # straggler
                          "spark.sql.files.maxPartitionBytes": str(8 << 20),
                          # the whole heap from the start, so heap growth does
                          # not differ between runs; no perf-data file in /tmp
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms2g -XX:-UsePerfData",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def calibrate(spark, cores: int) -> float:
    """Fixed-work CPU probe: a diagnostic of host speed, not of the engine.
    The first of two probes warms its code; the second is timed."""
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, cores).selectExpr(
            "sum(pmod(xxhash64(id), 1000)) AS s").collect()
    return time.perf_counter() - t0


class SparkCounters:
    """Per-iteration Spark counters from the status store (served with
    ``spark.ui.enabled=false``): executor totals as deltas, and the SQL
    executions the iteration started, for job and file-scan counts."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def snapshot(self):
        self._sc.listenerBus().waitUntilEmpty()
        totals = [0] * 5
        ex = self._sc.statusStore().executorList(True)
        for i in range(ex.size()):
            e = ex.apply(i)
            for j, v in enumerate((e.totalTasks(), e.totalDuration(),
                                   e.totalGCTime(), e.totalInputBytes(),
                                   e.totalShuffleWrite())):
                totals[j] += v
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return totals, last

    def delta(self, before, after) -> dict:
        (t0, last0), (t1, last1) = before, after
        out = dict(zip(["spark.tasks", "spark.exec_task_ms", "spark.gc_ms",
                        "spark.scan_bytes", "spark.shuffle_write_bytes"],
                       (b - a for a, b in zip(t0, t1))))
        jobs = scans = rows = 0
        for eid in range(last0 + 1, last1 + 1):
            ui = self._sql.execution(eid)
            if not ui.isDefined():
                continue
            jobs += ui.get().jobs().size()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith("Scan parquet"):
                    continue
                scans += 1
                metrics = node.metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += int(v.get().replace(",", ""))
        out.update({"spark.jobs": jobs, "spark.scan_count": scans,
                    "spark.scan_rows": rows})
        return out


# ------------------------------------------------------------ the loop


class Runner:
    """Runs checked iterations of one workload and keeps the tally."""

    def __init__(self, spark, workload):
        self.spark, self.wl = spark, workload
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def _fail(self, i, why):
        self.failed += 1
        self.failures.append(f"iteration {i}: {why}")

    def once(self, i, tracer):
        """One closed-loop operation; returns (wall seconds, items) or None
        when it failed. Only ``run`` is timed; the check is not."""
        self.attempted += 1
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        if not cache.isEmpty():
            # a persisted plan left behind would speed up later iterations
            self._fail(i, "cache manager not empty at iteration start")
            self.spark.catalog.clearCache()
            return None
        try:
            t0 = time.perf_counter()
            with tracer.span(ROOT):
                out = self.wl.run(i, tracer)
            wall = time.perf_counter() - t0
            ok, items, detail = self.wl.check(out)
        except Exception:  # noqa: BLE001 — an engine error is a failed op
            self._fail(i, traceback.format_exc(limit=3))
            return None
        if not ok:
            self._fail(i, "wrong output: " + detail)
            return None
        return wall, items


def untraced_loop(runner, seconds):
    """Iterations until ``seconds`` have passed and at least the workload's
    ``min_samples`` have been taken, so the median of a slow workload is
    always over the same number of samples."""
    tracer, samples, i = NullTracer(), [], 0
    deadline = time.perf_counter() + seconds
    while i < runner.wl.min_samples or time.perf_counter() < deadline:
        r = runner.once(i, tracer)
        if r:
            samples.append(r)
        i += 1
    return samples


def traced_loop(runner, spark, seconds):
    """Pairs of one untraced and one traced iteration on the same input until
    the time is up; the side that runs first alternates, so the warm-up trend
    does not bias the overhead. Returns the untraced samples and one record
    per traced iteration."""
    null, tracer = NullTracer(), Tracer(spark.sparkContext)
    counters = SparkCounters(spark)

    def traced(i):
        before = counters.snapshot()
        tracer.reset()
        tracer.enabled = True
        t = runner.once(i, tracer)
        tracer.enabled = False
        after = counters.snapshot()
        if not t:
            return None
        root = next(s for s in tracer.spans if s.layer == ROOT)
        selfs, collect_s = self_times(tracer.spans)
        span_wall = root.end - root.start
        if abs(sum(selfs.values()) - span_wall) > 1e-6 * max(span_wall, 1.0):
            raise RuntimeError(f"self times {selfs} do not sum to the "
                               f"iteration's {span_wall} s")
        run_span = [s for s in tracer.spans if s.layer == "official_suite.run_s"]
        return {
            "span_wall": span_wall, "selfs": selfs, "collect_s": collect_s,
            "py4j": dict(tracer.py4j),
            "batches": sum(1 for s in tracer.spans
                           if s.layer == "validate.build_s" and s.parent in run_span),
            "violation_rows": getattr(runner.wl, "last_violation_rows", 0),
            "counters": counters.delta(before, after),
        }

    tracer.install()
    untraced, records, i = [], [], 0
    deadline = time.perf_counter() + seconds
    try:
        while i == 0 or time.perf_counter() < deadline:
            if i % 2:
                rec, u = traced(i), runner.once(i, null)
            else:
                u, rec = runner.once(i, null), traced(i)
            if u:
                untraced.append(u)
            if rec:
                records.append(rec)
            i += 1
    finally:
        tracer.enabled = False
        tracer.uninstall()
    return untraced, records


# ------------------------------------------------------------ reporting


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(samples, setup_s, rss_mb) -> dict:
    walls = [w for w, _ in samples]
    p50 = median(walls)
    return {
        "throughput_per_s": median([n for _, n in samples]) / p50 if p50 else 0.0,
        "iter_s_p50": p50,
        "setup_s": setup_s,
        "jvm_peak_rss_mb": rss_mb,
    }


def per_layer(untraced, traced, calib_s, runner) -> dict:
    first = traced[0] if traced else {"py4j": {}, "counters": {}, "batches": 0,
                                       "violation_rows": 0}
    out = {name: median([t["selfs"].get(name, 0.0) for t in traced])
           for name in LAYER_TIMES}
    t50 = median([t["span_wall"] for t in traced])
    u50 = median([w for w, _ in untraced])
    out.update({
        "spark.collect_s": median([t["collect_s"] for t in traced]),
        "compiler.py4j_calls": first["py4j"].get("compiler.compile_s", 0),
        "driver.py4j_calls": sum(first["py4j"].values()),
        "official_suite.batches": first["batches"],
        "validate.violation_rows": first["violation_rows"],
        **{k: first["counters"].get(k, 0) for k in SPARK_COUNTS},
        **{k: median([t["counters"][k] for t in traced]) for k in SPARK_TIMES},
        "host.calib_s": calib_s,
        "trace.residual_s": median([t["selfs"].get(ROOT, 0.0) for t in traced]),
        "trace.residual_share": median([t["selfs"].get(ROOT, 0.0) / t["span_wall"]
                                        for t in traced]),
        "trace.traced_iter_s_p50": t50,
        "trace.untraced_iter_s_p50": u50,
        "trace.overhead_s": t50 - u50,
        "trace.pairs": len(traced),
        "ops_failed_ratio": runner.failed / max(runner.attempted, 1),
    })
    return out


def report(workload, metrics: dict, units: dict, notes: list[str]):
    print(f"perfbench workload={workload.name} ({workload.item} per iteration)")
    for line in notes:
        print("  " + line)
    for name, unit in units.items():
        print(f"  {name:34s} {metrics[name]:>16.6g} {unit}")


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (REPO / p).exists()]
    if missing:
        print(f"perfbench: not a schemasaurus_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from workloads import WORKLOADS

    cores = nproc()
    shutil.rmtree(WORK, ignore_errors=True)
    t_setup = time.perf_counter()
    spark = start_spark(cores)
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wl = WORKLOADS[args.workload](spark, WORK, args.seed, cores)
        runner = Runner(spark, wl)
        phases = {"session": time.perf_counter() - t_setup}
        t = time.perf_counter()
        wl.prepare()
        phases["inputs"] = time.perf_counter() - t
        # JIT warm-up: counted into set-up, excluded from the timed medians
        t = time.perf_counter()
        for i in range(-wl.warmup_iterations, 0):
            runner.once(i, NullTracer())
        phases["warmup"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        calib_s = calibrate(spark, cores)
        if args.trace:
            untraced, traced = traced_loop(runner, spark, args.seconds)
        else:
            untraced, traced = untraced_loop(runner, args.seconds), []
        rss_mb = peak_rss_mb(jvm_pid)
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    e2e = end_to_end(untraced, setup_s, rss_mb)
    notes = [f"cores={cores} seed={args.seed} samples={len(untraced)} "
             f"attempted={runner.attempted} failed={runner.failed}",
             "set-up phases: " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items())
             + f" (host calibration probe {calib_s:.3f}s)",
             "iteration walls: " + " ".join(f"{w:.3f}" for w, _ in untraced)]
    if hasattr(wl, "corpus_summary"):
        notes.append(wl.corpus_summary())
    notes += runner.failures[:5]
    report(wl, e2e, END_TO_END, notes)
    if args.trace:
        layers = per_layer(untraced, traced, calib_s, runner)
        report(wl, layers, PER_LAYER, [])
        metrics, units = layers, PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    correct = runner.failed == 0 and bool(untraced)
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
