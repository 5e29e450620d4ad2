"""Governed-lake benchmark: one command per workload run.

    python3 perfbench/run.py --workload governed_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run starts a SparkSession through the
engine's ``get_spark`` defaults (``local[nproc]``), sets the workload up
several times (``setup_s`` is the session start plus the median set-up),
makes one cold pass over every operation shape, which is also the warm-up
(``governed_read`` adds whole warm rounds of its mix), runs the closed-loop
steady phase for ``--seconds``, checks the results,
and prints a readable report and, as its last line, one JSON object.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions, alternates traced and untraced operations, and
reports the per-layer metrics plus the tracing overhead. Everything the run writes stays under
``.bench_work/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "tf_aws_lakeformation_governed_datalake_demo_spark"
SETUP_REPEATS = 3
# JVM heap ceiling for the run. The engine's default (16g) lets the heap
# grow to several GB at GC-timing-dependent moments; 2g sits so close to
# governed_read's live set that GC pressure doubles its latency spread.
DRIVER_MEMORY = "4g"
# The layer spans' self times must account for the traced operations'
# wall time within this share, or the traced run fails.
RECONCILE_TOLERANCE = 0.02


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["governed_read", "lake_commit", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="reduced input sizes, for the benchmark's own smoke tests")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM of the run, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def import_engine():
    """Import the engine package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PKG)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"{PKG} resolved outside the checkout: {pkg.__file__}")
    return pkg


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)


def retained_mb(spark) -> float:
    """Memory the run still holds at its end: the JVM heap in use after a
    full collection plus the Python process's resident set. Python is
    collected first (its cycles pin JVM objects through py4j), and the JVM
    twice, so blocks Spark's cleaner frees after the first collection
    leave too. Free memory the C allocator still holds is returned to the
    system first, so the resident set counts live memory, not how
    fragmented the heap happened to end up."""
    import ctypes
    import gc

    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except OSError:  # not glibc: the resident set as it stands
        pass
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2.0**20
    with open("/proc/self/status", encoding="ascii") as f:
        rss = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return heap + rss / 1024.0


def collect_jobs(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage still in Spark's status store, after draining
    the (asynchronous) listener bus."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30000)
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
            continue
        jobs.append({
            "id": j.jobId(),
            "submit": j.submissionTime().get().getTime() / 1000.0,
            "end": j.completionTime().get().getTime() / 1000.0,
            "stage_ids": list(conv.asJava(j.stageIds())),
        })
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages: dict[int, dict] = {}
    for s in conv.asJava(store.stageList(None, False, False, quantiles, None)):
        agg = stages.setdefault(s.stageId(), dict.fromkeys(
            ("tasks", "run_ms", "cpu_ms", "input_bytes", "shuffle_bytes"), 0.0))
        agg["tasks"] += s.numCompleteTasks()
        agg["run_ms"] += s.executorRunTime()
        agg["cpu_ms"] += s.executorCpuTime() / 1e6
        agg["input_bytes"] += s.inputBytes()
        agg["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
    return jobs, stages


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Executes a workload's phases and keeps one sample per operation."""

    def __init__(self, wl, tracer, trace: bool):
        self.wl = wl
        self.tracer = tracer
        self.trace = trace
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.next_id = 0

    def execute(self, op, phase: str, traced: bool = False) -> dict:
        op_id = self.next_id
        self.next_id += 1
        tracer = self.tracer
        if traced:
            tracer.install()
            from workloads import data_files

            before = data_files(self.wl.table_dirs())
        err = result = None
        t0 = time.perf_counter()
        try:
            with tracer.operation(op_id, op.kind):
                result = op.fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is a sample
            err = exc
        t1 = time.perf_counter()
        sample = {"id": op_id, "phase": phase, "kind": op.kind, "shape": op.shape,
                  "traced": traced, "wall_ms": (t1 - t0) * 1000.0, "info": op.info}
        if traced:
            tracer.uninstall()
            after = data_files(self.wl.table_dirs())
            new = set(after) - set(before)
            sample["files_written"] = len(new)
            sample["bytes_written"] = sum(after[p] for p in new)
        if err is not None:
            ok = op.expect is not None and isinstance(err, op.expect)
            if not ok:
                self.failures.append(f"{op.shape}: {type(err).__name__}: {err}")
        elif op.expect is not None:
            ok = False
            self.failures.append(f"{op.shape}: expected {op.expect.__name__}")
        else:
            verdict = op.check(result)
            ok = verdict is not False
            if not ok:
                self.failures.append(f"{op.shape}: wrong result")
        sample["ok"] = ok
        sample["ms"] = (
            op.latency_ms(result) if (op.latency_ms and err is None and ok)
            else sample["wall_ms"]
        )
        self.samples.append(sample)
        return sample

    def pass_over(self, ops, phase: str) -> float:
        t0 = time.perf_counter()
        for op in ops:
            self.execute(op, phase)
        return time.perf_counter() - t0

    def warm(self, rounds: int) -> None:
        """Whole rounds of the steady mix, checked but not measured."""
        for _ in range(rounds):
            while True:
                self.execute(self.wl.next_op(), "warm")
                if self.wl.round_complete():
                    break

    def steady(self, seconds: float) -> float:
        """The closed loop for ``seconds``; returns the time up to the end
        of its last complete round of the mix. Operations after that round
        stay checked but leave the steady metrics (phase ``overrun``), so
        every run's figures cover whole rounds. In a traced run, primary
        operations alternate between traced and untraced; the operations
        that follow one (a write's read-back) share its state."""
        t0 = time.perf_counter()
        first = len(self.samples)
        rounds_end, measured = first, None
        traced = False
        while time.perf_counter() - t0 < seconds:
            op = self.wl.next_op()
            if op.kind == self.wl.primary:
                traced = not traced
            self.execute(op, "steady", traced=self.trace and traced)
            if self.wl.round_complete():
                rounds_end, measured = len(self.samples), time.perf_counter() - t0
        if measured is None:  # not one whole round: keep everything
            return time.perf_counter() - t0
        for s in self.samples[rounds_end:]:
            s["phase"] = "overrun"
        return measured


def latency_stats(samples: list[dict]) -> dict:
    import stats

    ms = [s["ms"] for s in samples]
    if not ms:
        return {}
    value, p, beyond = stats.tail(ms)
    return {"p50": stats.median(ms), "tail": value, "tail_pct": p,
            "beyond": beyond, "n": len(ms)}


def shape_matched_delta(traced: list[dict], untraced: list[dict]) -> float:
    """Median latency of traced minus untraced operations, compared shape
    by shape (the two halves' mixes differ) and averaged with the traced
    counts as weights."""
    import stats

    total = weight = 0.0
    for shape in {s["shape"] for s in traced}:
        t = [s["ms"] for s in traced if s["shape"] == shape]
        u = [s["ms"] for s in untraced if s["shape"] == shape]
        if u:
            total += len(t) * (stats.median(t) - stats.median(u))
            weight += len(t)
    return total / weight if weight else 0.0


def install_targets(tracer, spark) -> None:
    """The layer functions the traced run wraps (see README.md)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        catalog, engine, governance, statements,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.operators import dedup
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake, txlog
    from tf_aws_lakeformation_governed_datalake_demo_spark.streaming import events

    wrap = tracer.wrap_function
    wrap("statements.parse", statements, "parse_statement", PKG)
    wrap("statements.parse", statements, "extract_as_of", PKG)
    wrap("catalog.table", catalog.GovernedCatalog, "table", PKG)
    wrap("catalog.table", catalog.GovernedCatalog, "view", PKG)
    wrap("catalog.grants_for", catalog.GovernedCatalog, "grants_for", PKG)
    wrap("governance.audit", governance.AuditLog, "record", PKG)
    wrap("engine.sql", engine.Engine, "sql", PKG)
    wrap("engine.refresh_mv", engine.Engine, "refresh_materialized_view", PKG)
    wrap("engine.lake_transaction", engine.Engine, "lake_transaction", PKG)
    for fn in LAKE_FUNCTIONS:
        wrap(f"lake.{fn}", lake, fn, PKG)
    tracer.wrap_lock(lake, "publish_lock", PKG, "lake.lock_wait", "lake.lock_hold")
    wrap("txlog.commit", txlog, "txlog_commit", PKG)
    tracer.wrap_counted("dedup.probe", dedup, "probe_minhash_index", PKG, "dedup.candidates")
    wrap("dedup.index_append", dedup, "append_minhash_index", PKG)
    wrap("streaming.source_bytes", events, "source_bytes", PKG)
    wrap("spark.analyze", type(spark), "sql", "pyspark")


LAKE_FUNCTIONS = ("read_manifest", "read_table", "merge_into", "update_rows",
                  "delete_rows", "append_rows", "optimize_binpack", "vacuum_manifests")

# per-layer metric -> span name whose inclusive time (ms per operation) it is
INCLUSIVE = {
    "statements.parse_ms": "statements.parse",
    "catalog.table_ms": "catalog.table",
    "governance.audit_ms": "governance.audit",
    "engine.refresh_mv_ms": "engine.refresh_mv",
    "engine.lake_transaction_ms": "engine.lake_transaction",
    **{f"lake.{fn}_ms": f"lake.{fn}" for fn in LAKE_FUNCTIONS},
    "lake.lock_wait_ms": "lake.lock_wait",
    "lake.lock_hold_ms": "lake.lock_hold",
    "txlog.commit_ms": "txlog.commit",
    "dedup.sink_ms": "dedup.sink",
    "dedup.probe_ms": "dedup.probe",
    "dedup.index_append_ms": "dedup.index_append",
    "spark.analyze_ms": "spark.analyze",
    "spark.fetch_ms": "spark.fetch",
}
CALLS = {
    "catalog.table_calls": "catalog.table",
    "catalog.grants_for_calls": "catalog.grants_for",
    "lake.read_manifest_calls": "lake.read_manifest",
    "lake.read_table_calls": "lake.read_table",
}
SPARK = ("jobs", "stages", "tasks", "job_busy_ms", "executor_run_ms",
         "executor_cpu_ms", "shuffle_bytes", "input_bytes")
PROGRESS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
}
AGE = ("live_files", "live_bytes", "disk_bytes", "manifest_bytes", "snapshots_retained")


def layer_metrics(runner, spark, session_s: float, setup_s: list[float],
                  rss: float) -> tuple[dict, list]:
    """Per-layer metrics of the traced steady operations, the tracing
    overhead, and a self-time table for the report."""
    import analysis
    from workloads import table_age

    wl, tracer = runner.wl, runner.tracer
    summ = analysis.op_summary(tracer.spans, tracer.epoch_offset)
    steady = [s for s in runner.samples if s["phase"] == "steady" and s["ok"]]
    traced = [s for s in steady if s["traced"] and s["id"] in summ]
    untraced = [s for s in steady if not s["traced"]]
    if not traced:
        raise RuntimeError("no traced operation completed")
    for s in traced:
        # the tracer's own counting is not part of the operation
        s["ms"] -= summ[s["id"]]["overhead_s"] * 1000.0
        s["wall_ms"] -= summ[s["id"]]["overhead_s"] * 1000.0
    # the layers' self times against the wall time measured outside the
    # tracer: time in no layer span, or in overlapping spans, shows here
    reconcile_err = analysis.reconcile_error(
        [(s["wall_ms"] / 1000.0, summ[s["id"]]["layers_s"]) for s in traced])
    n = len(traced)

    def mean(f) -> float:
        return sum(f(s) for s in traced) / n

    m: dict[str, float] = {}
    for name, span in INCLUSIVE.items():
        m[name] = mean(lambda s, k=span: summ[s["id"]]["incl_s"].get(k, 0.0) * 1000.0)
    for name, span in CALLS.items():
        m[name] = mean(lambda s, k=span: summ[s["id"]]["calls"].get(k, 0))
    m["engine.sql_ms"] = mean(lambda s: summ[s["id"]]["incl_s"].get("engine.sql", 0.0) * 1000.0)
    m["engine.sql_self_ms"] = mean(lambda s: summ[s["id"]]["self_s"].get("engine.sql", 0.0) * 1000.0)

    jobs, stages = collect_jobs(spark)
    excluded = [w for s in traced for w in summ[s["id"]]["overhead_windows"]]
    windows = {s["id"]: summ[s["id"]]["window"] for s in traced}
    by_op = analysis.attribute_jobs(windows, jobs, excluded)
    jm = {i: analysis.job_metrics(by_op.get(i, []), stages, w) for i, w in windows.items()}
    for k in SPARK:
        m[f"spark.{k}"] = mean(lambda s, k=k: jm[s["id"]][k])
    m["spark.driver_gap_ms"] = mean(lambda s: s["wall_ms"] - jm[s["id"]]["job_busy_ms"])
    refresh_windows = [w for s in traced
                       for w in summ[s["id"]]["span_windows"].get("engine.refresh_mv", [])]
    refresh_jobs = analysis.attribute_jobs(dict(enumerate(refresh_windows)), jobs, excluded)
    m["spark.refresh_tasks"] = (
        sum(analysis.job_metrics(refresh_jobs.get(i, []), stages, w)["tasks"]
            for i, w in enumerate(refresh_windows)) / len(refresh_windows)
        if refresh_windows else 0.0
    )
    m["spark.session_start_s"] = session_s
    m["memory.peak_rss_mb"] = rss

    progress = getattr(wl, "progress", {})
    triggers = [progress[s["info"]["batch"]] for s in traced if s["info"].get("batch") in progress]
    for name, key in PROGRESS.items():
        m[name] = (sum(p["durationMs"].get(key, 0) for p in triggers) / len(triggers)
                   if triggers else 0.0)
    m["streaming.trigger_self_ms"] = mean(
        lambda s: summ[s["id"]]["self_s"].get("streaming.trigger", 0.0) * 1000.0)
    m["streaming.source_bytes_ms"] = 1000.0 * sum(
        sp.end - sp.start for sp in tracer.spans if sp.name == "streaming.source_bytes"
    )
    candidates = sum(v for (op, k), v in tracer.counts.items()
                     if k == "dedup.candidates" and op in windows)
    verified = 0.0
    if hasattr(wl, "verified_pairs"):
        per_batch = wl.verified_pairs()
        verified = float(sum(len(per_batch.get(s["info"].get("batch"), ())) for s in traced))
    m["dedup.candidates"] = candidates / n
    m["dedup.verified_pairs"] = verified / n
    m["dedup.verified_per_candidate"] = verified / candidates if candidates else 0.0

    m["lake.files_written"] = mean(lambda s: s["files_written"])
    m["lake.bytes_written"] = mean(lambda s: s["bytes_written"])
    age = table_age(wl.table_dirs())
    for k in AGE:
        m[f"lake.{k}"] = age[k]
    txdir = os.path.join(wl.lake, "_txlog")
    m["txlog.records"] = float(
        sum(1 for f in os.listdir(txdir) if f.endswith(".json")) if os.path.isdir(txdir) else 0
    )

    m["trace.reconcile_err_pct"] = 100.0 * reconcile_err
    m["trace.spans_per_op"] = sum(
        1 for sp in tracer.spans if sp.op in windows and sp.parent is not None) / n

    primary_t = [s for s in traced if s["kind"] == wl.primary]
    primary_u = [s for s in untraced if s["kind"] == wl.primary]
    lt, lu = latency_stats(primary_t), latency_stats(primary_u)
    m["trace.overhead_op_p50_ms"] = shape_matched_delta(primary_t, primary_u)
    m["trace.overhead_op_tail_ms"] = lt["tail"] - lu["tail"] if lt and lu else 0.0
    rate_t = len(traced) / (sum(s["wall_ms"] for s in traced) / 1000.0)
    rate_u = (len(untraced) / (sum(s["wall_ms"] for s in untraced) / 1000.0)
              if untraced else rate_t)
    m["trace.overhead_ops_per_s"] = rate_t - rate_u
    m["trace.overhead_setup_s"] = setup_s[-1] - setup_s[-2]

    # self time per layer, for the report
    names = sorted({k for s in traced for k in summ[s["id"]]["self_s"]})
    table = [(k, sum(summ[s["id"]]["self_s"].get(k, 0.0) for s in traced) * 1000.0 / n)
             for k in names]
    table.append(("(operation root)", mean(lambda s: summ[s["id"]]["root_self_s"] * 1000.0)))
    table.append(("(wall)", mean(lambda s: s["wall_ms"])))
    return m, table


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.dont_write_bytecode = True
    try:
        import_engine()
    except ImportError as exc:
        log(f"perfbench: cannot import the engine package {PKG}: {exc}")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    from tf_aws_lakeformation_governed_datalake_demo_spark import get_spark

    import stats
    from tracer import Tracer
    from workloads import WORKLOADS, table_age

    tracer = Tracer()
    t0 = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.small, tracer)
    runner = Runner(wl, tracer, bool(args.trace))
    try:
        wl.prepare()
        setup_s = []
        for i in range(SETUP_REPEATS):
            if args.trace and i == 1:
                install_targets(tracer, spark)
            traced = bool(args.trace) and i == SETUP_REPEATS - 1
            root = os.path.join(work, f"setup{i}")
            if traced:
                tracer.install()
            t = time.perf_counter()
            wl.setup(root)
            setup_s.append(time.perf_counter() - t)
            if traced:
                tracer.uninstall()
            if i < SETUP_REPEATS - 1:
                wl.discard(root)
        # the cold pass runs every operation shape once, so it is also the
        # warm-up before the steady phase
        cold_s = runner.pass_over(wl.shapes(), "cold")
        runner.warm(wl.warm_rounds)
        rows_before = wl.committed_rows() if hasattr(wl, "committed_rows") else 0
        steady_s = runner.steady(args.seconds)
        rows_after = wl.committed_rows() if hasattr(wl, "committed_rows") else 0
        end_failures = wl.finish()
        age = table_age(wl.table_dirs())
        space_samples = getattr(wl, "space_samples", [])
        space_amp = stats.median(space_samples) if space_samples else age["space_amp"]
        rss = peak_rss_mb(spark)
        layer = table = None
        if args.trace:
            layer, table = layer_metrics(runner, spark, session_s, setup_s, rss)
            err = layer["trace.reconcile_err_pct"] / 100.0
            if err > RECONCILE_TOLERANCE:
                end_failures.append(
                    f"layer spans account for the traced wall time only within {err:.2%}, "
                    f"beyond the {RECONCILE_TOLERANCE:.0%} tolerance")
            trace_dir = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        retained = retained_mb(spark)
        extra = wl.extra_report()
    finally:
        wl.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    samples = runner.samples
    steady = [s for s in samples if s["phase"] == "steady"]
    done = [s for s in steady if s["ok"]]
    primary_samples = [s for s in done if s["kind"] == wl.primary and not s["traced"]]
    primary = latency_stats(primary_samples)
    by_shape: dict[str, list[float]] = {}
    for s in primary_samples:
        by_shape.setdefault(s["shape"], []).append(s["ms"])
    attempted = len(samples)
    failed = min(attempted, sum(1 for s in samples if not s["ok"]) + len(end_failures))
    e2e = {
        "setup_s": (session_s + stats.median(setup_s), "s"),
        "cold_pass_s": (cold_s, "s"),
        "ops_per_s": (len(done) / steady_s, "1/s"),
        "op_p50_ms": (stats.shape_median(by_shape) if by_shape else 0.0, "ms"),
        "op_tail_ms": (primary.get("tail", 0.0), "ms"),
        "space_amp": (space_amp, "ratio"),
        "retained_mb": (retained, "MB"),
    }

    out = sys.stdout
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} (closed loop, 1 client)", file=out)
    print(f"  setup_s = spark session start {session_s:.3f} s + median of set-ups "
          f"{', '.join(f'{x:.3f}' for x in setup_s)}", file=out)
    for name, (value, unit) in e2e.items():
        print(f"  {name:<22} {value:14.4f} {unit}", file=out)
    print(f"  (op_p50_ms: geometric mean over {len(by_shape)} {wl.primary} shapes of "
          f"each shape's median; op_tail_ms: pooled p{primary.get('tail_pct', 90):g}, "
          f"{primary.get('beyond', 0)} samples beyond, n={primary.get('n', 0)})", file=out)
    labels = {"read": "read", "write": "write", "trigger": "trigger", "maint": "maintenance"}
    for kind, label in labels.items():
        ls = latency_stats([s for s in done if s["kind"] == kind])
        if ls:
            print(f"  {label + '_p50_ms':<22} {ls['p50']:14.4f} ms", file=out)
            print(f"  {label + '_tail_ms':<22} {ls['tail']:14.4f} ms  "
                  f"(p{ls['tail_pct']:g}, {ls['beyond']} samples beyond, n={ls['n']})", file=out)
    steady_primary = [s["ms"] for s in done if s["kind"] == wl.primary]
    print(f"  steady {wl.primary} samples (ms): "
          f"{' '.join(f'{v:.0f}' for v in steady_primary)}", file=out)
    if wl.name == "stream_ingest":
        print(f"  {'ingest_rows_per_s':<22} {(rows_after - rows_before) / steady_s:14.4f} rows/s",
              file=out)
    print(f"  {'failed_frac':<22} {failed / attempted:14.4f} (failed {failed} of {attempted})",
          file=out)
    for k in AGE:
        print(f"  {'table.' + k:<22} {age[k]:14.0f}", file=out)
    print(f"  {'peak_rss_mb':<22} {rss:14.4f} MB (Python + JVM)", file=out)
    for k, v in extra.items():
        print(f"  {k:<22} {v:14.4f}", file=out)
    for msg in (runner.failures + end_failures)[:20]:
        print(f"  FAILED: {msg}", file=out)
    if table is not None:
        print("  self time per traced operation (ms):", file=out)
        for name, v in table:
            print(f"    {name:<28} {v:10.3f}", file=out)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    values = layer if args.trace else {k: v for k, (v, _) in e2e.items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
