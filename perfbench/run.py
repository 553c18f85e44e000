"""Benchmark entry point: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload batch_analytics --seed 1 \
        --seconds 4 --trace 0

Runs from the root of a source checkout, on ``local[N]`` with N from
``$SPARK_GRAFT_CPUS`` or else the CPUs this process may use. Inputs and
their expected outputs are built on the first run of a seed (cached
under ``perfbench/_work/inputs``) or loaded, before the measured session
starts; their time is taken out of set-up. ``setup_s`` is the time from
process start to session ready, plus the workload's fresh state and its
first iteration. Then the op sequence repeats until the ops have run
for ``--seconds`` (at least one iteration). Each op is timed in wall
time and in CPU time (this process and every descendant: the JVM and
its Python workers). Every iteration's outputs are checked against
DuckDB outside the timed region. With ``--trace 1``
a second, traced pass of the same number of iterations follows on a
session with Spark's event log on, and the per-layer metrics come from
it.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
_T0 = time.time()

# The result line's metrics on an untraced run.
END_TO_END = {
    "setup_s": "s",
    "iter_cpu_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MiB",
}


def _cpus() -> int:
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


class Runner:
    """Times ops, keeps per-op samples and failures, and between ops
    releases what the finished op left persisted (outside the timed
    region)."""

    def __init__(self, spark, workload, tracer=None):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {op: [] for op in workload.ops}
        self.iter_cpu: list[float] = []  # CPU seconds of each iteration
        self.op_cpu = 0.0  # CPU seconds of the current iteration's ops
        self.attempted = 0
        self.failed = 0
        self.failed_ops: set[str] = set()  # in the current iteration
        self.cache_bytes = 0.0

    def run_op(self, name: str, fn):
        from perfbench.procs import cpu_seconds

        self.attempted += 1
        tracer = self.tracer
        if tracer is not None:
            tracer.op_id = f"{len(self.samples[name])}:{name}"
            jobs0 = self._jobs()
        out = None
        span = tracer.span(name) if tracer is not None else nullcontext()
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with span:
                out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self._fail(name, traceback.format_exc())
            self.failed_ops.add(name)
        self.samples[name].append(time.perf_counter() - t0)
        self.op_cpu += cpu_seconds() - cpu0
        if tracer is not None:
            self.cache_bytes = max(self.cache_bytes, self._stored_bytes())
            self.wl.traced_op_done(self.spark, name, self._jobs() - jobs0)
            tracer.op_id = None
        if name not in self.wl.keep_after:
            self.release()
        return out

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        sys.stderr.write(f"FAILED {self.wl.name}/{what}\n{detail}\n")

    def iteration(self) -> float:
        """One op sequence, then its output checks; returns the summed
        op time and keeps the summed op CPU time. An op that raised is
        counted failed once, not again for its missing output."""
        before = {op: len(v) for op, v in self.samples.items()}
        self.failed_ops.clear()
        self.op_cpu = 0.0
        self.wl.iteration(self.spark, self.run_op)
        self.iter_cpu.append(self.op_cpu)
        for op, ok in self.wl.check().items():
            if not ok and op not in self.failed_ops:
                self._fail(op, "output check failed")
        return sum(
            sum(v[before[op]:]) for op, v in self.samples.items()
        )

    def finish(self) -> None:
        for what, ok in self.wl.finish(self.spark).items():
            self.attempted += 1
            if not ok:
                self._fail(what, "end-of-pass check failed")

    def release(self) -> None:
        """Unpersist every block still in the block manager and drop the
        n-gram pair cache."""
        from parquet_combiner_spark.functions import clear_ngram_pair_cache

        clear_ngram_pair_cache()
        gc.collect()
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()

    def _jobs(self) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup())

    def _stored_bytes(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return float(sum(i.memSize() + i.diskSize() for i in infos))


def _session(app: str, extra: dict):
    from parquet_combiner_spark.session import get_spark

    return get_spark(
        app_name=app, master=f"local[{_cpus()}]", extra_conf=extra
    )


def _build_spark_inputs(name: str, seed: str, run: str) -> None:
    """Child process: build a workload's Spark-made inputs on a session
    of its own, so the measured session never runs the generator and
    starts equally cold in every run."""
    from perfbench import procs
    from perfbench.workloads import WORKLOADS

    procs.become_subreaper()
    try:
        spark = _session("perfbench-inputs", _base_conf(run))
        WORKLOADS[name](int(seed), WORK, run).build_spark_inputs(spark)
    finally:
        procs.stop_all()


def _build_in_child(name: str, seed: int, run: str) -> None:
    code = (
        "import sys; from perfbench.run import _build_spark_inputs; "
        "_build_spark_inputs(*sys.argv[1:])"
    )
    subprocess.run(
        [sys.executable, "-c", code, name, str(seed), run],
        cwd=ROOT, check=True,
    )


def _base_conf(run: str) -> dict:
    tmp = os.path.join(run, "tmp")
    return {
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp}"
        ),
        "spark.sql.streaming.checkpointLocation": os.path.join(run, "ckpt"),
        "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
        # keep every stage of a run in the status store
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.eventLog.enabled": "false",
    }


def _measure(runner, seconds: float | None = None, iterations: int = 0):
    """Closed loop: iterate until the ops have run ``seconds`` (at least
    one iteration), or exactly ``iterations`` times."""
    times = []
    while True:
        times.append(runner.iteration())
        if iterations:
            if len(times) >= iterations:
                return times
        elif sum(times) >= seconds:
            return times


def _phase(what: str) -> None:
    """Progress line on stderr, seconds since the module loaded."""
    sys.stderr.write(f"perfbench: {what} at {time.time() - _T0:.1f}s\n")


def _p50(v):
    return statistics.median(v) if v else 0.0


def _terminated(signum, frame):
    from perfbench import procs

    procs.exit_now(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import procs

    # every way out stops the JVMs, their Python workers and the input
    # builder, and waits for them to end
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, _terminated)
    try:
        return _bench(p, args)
    finally:
        procs.stop_all()


def _bench(p, args) -> int:
    from perfbench import trace

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("spark-local", "tmp", "trace"):
        os.makedirs(os.path.join(run, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.seed, WORK, run)
    conf = _base_conf(run)

    # --- inputs: built on the first run of a seed, else loaded; their
    # time is taken out of set-up -------------------------------------
    t0 = time.perf_counter()
    if wl.spark_inputs_missing():
        _build_in_child(wl.name, args.seed, run)
    wl.build_inputs()
    built = time.perf_counter() - t0
    trace.reset_peak_rss()
    _phase("inputs and expected outputs ready")

    # --- set-up: process start to session ready, then the workload's
    # fresh state and its first iteration -----------------------------
    spark = _session(f"perfbench-{wl.name}", conf)
    ready = trace.process_age_s() - built
    t1 = time.perf_counter()
    wl.prepare(spark)
    prepared = time.perf_counter() - t1
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    runner = Runner(spark, wl)
    first = runner.iteration()
    _phase("first iteration done")

    # --- measured pass, untraced -------------------------------------
    for v in runner.samples.values():
        v.clear()
    runner.iter_cpu.clear()
    stage0 = trace.last_stage_id(spark)
    files0 = trace.file_state(wl.write_dirs())
    iters = _measure(runner, seconds=args.seconds)
    op_time = {op: list(v) for op, v in runner.samples.items()}
    shuffle_bytes = trace.shuffle_write_bytes_since(spark, stage0)
    _, file_bytes = trace.written_since(files0, wl.write_dirs())
    runner.finish()
    _phase("measured pass done")
    run_s = sum(iters)
    e2e = {
        "setup_s": ready + prepared + first,
        "iter_cpu_s": _p50(runner.iter_cpu),
        "write_amp": (file_bytes + shuffle_bytes)
        / (wl.bytes_per_iter * len(iters)),
        "peak_rss_mb": trace.peak_rss_mb([os.getpid(), jvm_pid]),
    }
    # wall-clock iteration figures: printed, and per-layer in a traced
    # run, but not bounded (see README.md, "Steadiness")
    wall = {
        "iter_p50_s": _p50(iters),
        "rows_per_s": wl.rows_per_iter / _p50(iters),
    }
    layer = {}
    if args.trace:
        layer = _traced_pass(spark, wl, runner, conf, len(iters), run_s)
        layer["session.start_s"] = ready
        layer["session.first_iter_s"] = first
    for op in _ALL_OPS:
        layer[f"op.{op}_p50_s"] = _p50(op_time.get(op, []))
    layer.update(wall)
    layer["mem.peak_rss_mb"] = e2e["peak_rss_mb"]

    _report(wl, args, {**e2e, **wall}, op_time, iters, runner, layer)
    return 0


_ALL_OPS = (
    "top_items", "all_aggs", "ingest", "merge", "delete", "read", "feed",
    "pairs", "clusters", "rrf",
)

PER_LAYER = {
    "session.start_s": "s", "session.first_iter_s": "s",
    "io.read_call_s": "s", "io.scan_bytes": "bytes", "io.write_s": "s",
    "io.files_written": "count", "io.bytes_written": "bytes",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.spill_bytes": "bytes", "exec.core_util": "ratio",
    "exec.stage_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "join.broadcast_s": "s",
    "cache.stored_bytes": "bytes",
    "plan.build_s": "s", "plan.exchanges": "count",
    "txlog.jobs_per_verb": "count", "txlog.build_s": "s",
    "txlog.versions_added": "count", "txlog.files_added": "count",
    "txlog.files_removed": "count", "txlog.log_bytes": "bytes",
    "txlog.files_read": "count", "txlog.prune_ratio": "ratio",
    "txlog.retries": "count",
    "stream.batches": "count", "stream.batch_s": "s",
    "stream.rows_per_batch": "count", "feed.rows": "count",
    "feed.batch_s": "s",
    "pairs.candidates": "count", "pairs.emitted": "count",
    "pairs.yield": "ratio", "clusters.jobs": "count",
    "trace.overhead_s": "s", "mem.peak_rss_mb": "MiB",
    "iter_p50_s": "s", "rows_per_s": "rows/s",
    **{f"op.{op}_p50_s": "s" for op in _ALL_OPS},
}

# Summed per traced op window, then divided by the iteration count.
_PER_ITER_EXEC = {
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.task_run_s": "task_run_s", "exec.task_cpu_s": "task_cpu_s",
    "exec.gc_s": "gc_s", "exec.spill_bytes": "spill_bytes",
    "io.scan_bytes": "scan_bytes",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.records": "shuffle_records",
    "shuffle.fetch_wait_s": "fetch_wait_s",
    "plan.exchanges": "exchanges", "join.broadcast_s": "broadcast_s",
}


def _traced_pass(spark, wl, runner, conf, n: int, untraced_run_s: float):
    """Restart the session with the event log on, warm up once, then run
    ``n`` traced iterations; returns per-iteration layer metrics."""
    from perfbench import trace

    run_dir = wl.run
    log_dir = os.path.join(run_dir, "trace", "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark.stop()
    spark = _session(f"perfbench-{wl.name}-traced", {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    runner.spark = spark
    wl.prepare(spark)
    runner.iteration()

    tracer = trace.Tracer()
    wl.trace_hooks(tracer)
    runner.tracer = tracer
    for v in runner.samples.values():
        v.clear()
    files0 = trace.file_state(wl.write_dirs())
    wl.trace_counters(spark, True)
    try:
        times = _measure(runner, iterations=n)
    finally:
        wl.trace_counters(spark, False)
        runner.tracer = None
        tracer.restore()
    files, fbytes = trace.written_since(files0, wl.write_dirs())
    runner.finish()
    spark.stop()  # flushes the event log
    tracer.write(os.path.join(run_dir, "trace", "spans.jsonl"))

    log = trace.EventLog.from_dir(log_dir)
    per_op = {}
    total = {k: 0.0 for k in _PER_ITER_EXEC.values()}
    run_ms = wall = skew = 0.0
    for s in tracer.op_windows():
        w = log.window(s["start"], s["end"])
        per_op.setdefault(s["name"], []).append(w)
        for k in total:
            total[k] += w[k]
        run_ms += w["task_run_s"]
        wall += s["end"] - s["start"]
        skew = max(skew, w["stage_skew"])
    with open(os.path.join(run_dir, "trace", "ops.json"), "w") as f:
        json.dump({"spans": "spans.jsonl", "ops": per_op}, f, indent=1)

    def op_sum(op, key):
        return sum(w[key] for w in per_op.get(op, []))

    layer = {k: total[v] / n for k, v in _PER_ITER_EXEC.items()}
    cand, emit = op_sum("pairs", "filter_in_rows"), op_sum("pairs", "filter_out_rows")
    layer.update({
        "exec.core_util": run_ms / max(wall * log.cores, 1e-9),
        "exec.stage_skew": skew,
        "io.read_call_s": tracer.total({"io.read_data_a", "io.read_data_b"}) / n,
        "io.write_s": tracer.total({"io.write_parquet"}) / n,
        "io.files_written": files / n,
        "io.bytes_written": fbytes / n,
        "cache.stored_bytes": runner.cache_bytes,
        "plan.build_s": tracer.total(set(wl.plan_spans)) / n,
        "pairs.candidates": cand / n,
        "pairs.emitted": emit / n,
        "pairs.yield": emit / cand if cand else 0.0,
        "clusters.jobs": op_sum("clusters", "jobs") / n,
        "trace.overhead_s": sum(times) - untraced_run_s,
    })
    for k in PER_LAYER:
        if k.startswith(("txlog.", "stream.", "feed.")):
            v = wl.layer.get(k, 0.0)
            per_iter = k not in (
                "txlog.jobs_per_verb", "txlog.prune_ratio",
                "stream.batch_s", "stream.rows_per_batch", "feed.batch_s",
            )
            layer[k] = v / n if per_iter else v
    return layer


def _report(wl, args, e2e, op_time, iters, runner, layer) -> None:
    """A readable table, then the result line."""
    n_ops = sum(len(v) for v in op_time.values())
    print(f"# {wl.name} seed={args.seed} iterations={len(iters)} "
          f"ops={n_ops} cpus={_cpus()}")
    rows = [(k, e2e[k], END_TO_END[k]) for k in END_TO_END]
    rows.append(("iter_p50_s", e2e["iter_p50_s"], "s"))
    rows.append(("rows_per_s", e2e["rows_per_s"], "rows/s"))
    rows.append(("run_s", sum(iters), "s"))
    rows.append(("error_rate", runner.failed / max(runner.attempted, 1),
                 "ratio"))
    for op in wl.ops:
        rows.append((f"{op}_p50_s", _p50(op_time[op]),
                     f"s (n={len(op_time[op])})"))
    for name, value, unit in rows:
        print(f"{name:<24} {value:>14.6g} {unit}")
    if args.trace:
        for k in sorted(layer):
            print(f"{k:<24} {layer[k]:>14.6g} {PER_LAYER[k]}")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    sys.exit(main())
