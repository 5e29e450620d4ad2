"""Tests of the benchmark itself: the tail-percentile rule, span self-time
arithmetic, job-to-operation attribution, the table-age counters, the
seeded generators, and a reduced-size smoke run of each workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start a SparkSession each (about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import analysis
import datagen
import run
import stats
from tracer import Span, Tracer
from workloads import LakeCommit, rows_equal, table_age

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


# ------------------------------------------------------------- tail rule
@pytest.mark.parametrize(
    "n, beyond", [(1000, 100), (200, 20), (101, 10), (100, 10), (25, 2), (10, 1), (3, 0)],
)
def test_tail_is_nearest_rank_p90_with_the_samples_beyond_it(n, beyond):
    values = [float(i) for i in range(n, 0, -1)]
    value, p, b = stats.tail(values)
    assert (p, b) == (90.0, beyond)
    assert sum(1 for v in values if v > value) == beyond
    assert value == float(n - beyond)


def test_shape_median_weighs_every_shape_equally():
    groups = {"fast": [1.0, 1.0, 100.0], "slow": [100.0] * 9}
    assert stats.shape_median(groups) == pytest.approx(10.0)
    # doubling one shape's count leaves the figure unchanged
    groups["fast"] = groups["fast"] * 2
    assert stats.shape_median(groups) == pytest.approx(10.0)


# ------------------------------------------------------------- self time
def _spans():
    # op root 0..10: a 1..4 (with grandchild 2..3), b 3..6 (overlaps a)
    return [
        Span("op.read", 0.0, 10.0, None, 7),
        Span("a", 1.0, 4.0, 0, 7),
        Span("g", 2.0, 3.0, 1, 7),
        Span("b", 3.0, 6.0, 0, 7),
        Span("a", 7.0, 8.0, 0, 7),
        Span("a", 7.2, 7.5, 4, 7),  # re-entrant call of the same layer
    ]


def test_self_time_subtracts_the_union_of_children():
    selfs = analysis.self_times(_spans())
    assert selfs[0] == pytest.approx(10.0 - 6.0)  # children cover 1..6 and 7..8
    assert selfs[1] == pytest.approx(3.0 - 1.0)
    assert selfs[2] == pytest.approx(1.0)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(1.0 - 0.3)


def test_union_length_clips_to_the_window():
    assert analysis.union_length([(0, 2), (1, 3), (5, 9)], 1, 6) == pytest.approx(3.0)
    assert analysis.union_length([], 0, 1) == 0.0


def test_outermost_skips_nested_calls_of_the_same_name():
    assert analysis.outermost(_spans()) == [True, True, True, True, True, False]


def test_op_summary_inclusive_self_calls_and_overhead():
    spans = [
        Span("op.trigger", 0.0, 10.0, None, 1),
        Span("lake.append_rows", 1.0, 3.0, 0, 1),
        Span("lake.read_manifest", 1.5, 2.0, 1, 1),
        Span("dedup.probe", 4.0, 5.0, 0, 1),
        Span("trace.dedup.candidates.count", 5.0, 7.0, 0, 1),
    ]
    op = analysis.op_summary(spans, epoch_offset=100.0)[1]
    assert op["overhead_s"] == pytest.approx(2.0)
    assert op["window"] == (100.0, 110.0)
    assert op["overhead_windows"] == [(105.0, 107.0)]
    assert op["incl_s"]["lake.append_rows"] == pytest.approx(2.0)
    assert op["self_s"]["lake.append_rows"] == pytest.approx(1.5)
    assert op["calls"]["lake.read_manifest"] == 1
    assert op["root_self_s"] == pytest.approx(10.0 - 5.0)
    # the layers' self times, without the root's own and the tracer's
    assert op["layers_s"] == pytest.approx(1.5 + 0.5 + 1.0)


def test_reconcile_error_shows_time_outside_layers_and_overlap():
    covered = [(10.0, 10.0), (0.001, 0.001)]
    assert analysis.reconcile_error(covered) == 0.0
    # 2 s of an operation in no layer span
    assert analysis.reconcile_error([(10.0, 8.0), (10.0, 10.0)]) == pytest.approx(0.1)
    # two concurrent 3 s spans in a 4 s operation count 6 s
    assert analysis.reconcile_error([(4.0, 6.0)]) == pytest.approx(0.5)


# ---------------------------------------------------------- attribution
def test_jobs_are_attributed_by_submission_time_window():
    windows = {1: (10.0, 11.0), 2: (11.5, 13.0)}
    jobs = [
        {"id": 0, "submit": 9.0, "end": 9.5, "stage_ids": [0]},     # before any op
        {"id": 1, "submit": 10.2, "end": 10.4, "stage_ids": [1]},
        {"id": 2, "submit": 10.9995, "end": 11.2, "stage_ids": [2]},  # inside the slack
        {"id": 3, "submit": 11.6, "end": 11.9, "stage_ids": [3]},   # tracer's own count
        {"id": 4, "submit": 12.0, "end": 12.5, "stage_ids": [4, 5]},
    ]
    by_op = analysis.attribute_jobs(windows, jobs, excluded=[(11.55, 11.95)])
    assert [j["id"] for j in by_op[1]] == [1, 2]
    assert [j["id"] for j in by_op[2]] == [4]


def test_job_metrics_skip_unrun_stages_and_clip_busy_time():
    stages = {
        4: {"tasks": 3, "run_ms": 30.0, "cpu_ms": 20.0, "input_bytes": 100.0, "shuffle_bytes": 7.0},
        5: {"tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "input_bytes": 0.0, "shuffle_bytes": 0.0},
    }
    jobs = [{"id": 4, "submit": 12.0, "end": 13.5, "stage_ids": [4, 5]}]
    m = analysis.job_metrics(jobs, stages, (11.5, 13.0))
    assert m["jobs"] == 1 and m["stages"] == 1 and m["tasks"] == 3
    assert m["job_busy_ms"] == pytest.approx(1000.0)
    assert (m["executor_run_ms"], m["input_bytes"], m["shuffle_bytes"]) == (30.0, 100.0, 7.0)


# -------------------------------------------------------------- tracer
def test_tracer_wraps_and_restores_module_functions():
    import types

    mod = types.ModuleType("fakepkg.mod")
    user = types.ModuleType("fakepkg.user")

    def f(x):
        return x + 1

    mod.f = f
    user.f = f  # a from-import of the same function
    sys.modules.update({"fakepkg.mod": mod, "fakepkg.user": user})
    try:
        tr = Tracer()
        tr.wrap_function("layer.f", mod, "f", "fakepkg")
        tr.install()
        with tr.operation(3, "read"):
            assert user.f(1) == 2 and mod.f(2) == 3
        tr.uninstall()
        assert mod.f is f and user.f is f
        assert [s.name for s in tr.spans] == ["op.read", "layer.f", "layer.f"]
        assert all(s.op == 3 for s in tr.spans)
        assert tr.spans[1].parent == 0
    finally:
        del sys.modules["fakepkg.mod"], sys.modules["fakepkg.user"]


def test_other_threads_spans_hang_under_the_operation_threads_open_span():
    import threading

    tr = Tracer()
    tr.recording = True

    def on_thread(name):
        def body():
            with tr.span(name):
                pass
        t = threading.Thread(target=body)
        t.start()
        t.join()

    with tr.operation(5, "trigger"):
        with tr.span("streaming.trigger"):
            on_thread("dedup.sink")
        on_thread("late")
    names = {s.name: s for s in tr.spans}
    assert names["dedup.sink"].parent == tr.spans.index(names["streaming.trigger"])
    assert names["late"].parent == 0
    assert all(s.op == 5 for s in tr.spans)


def test_tracer_records_nothing_when_not_installed():
    tr = Tracer()
    with tr.operation(1, "read"), tr.span("x"):
        pass
    assert tr.spans == []


# ------------------------------------------------------------ table age
def test_table_age_counts_live_and_retained_bytes(tmp_path):
    t = tmp_path / "t"
    (t / "p=a").mkdir(parents=True)
    (t / "_manifests").mkdir()
    (t / "p=a" / "new.parquet").write_bytes(b"x" * 100)
    (t / "p=a" / "old.parquet").write_bytes(b"x" * 300)
    snap = json.dumps({"files": ["p=a/new.parquet"]})
    (t / "_manifest.json").write_text(snap)
    (t / "_manifests" / "v0000000001.json").write_text(snap)
    (t / "_manifests" / "v0000000002.json").write_text(snap)
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "part-0.parquet").write_bytes(b"y" * 50)
    (plain / "_SUCCESS").write_bytes(b"")
    age = table_age([str(t), str(plain)])
    manifest = 3 * len(snap)
    assert age["live_files"] == 2
    assert age["live_bytes"] == 150
    assert age["snapshots_retained"] == 2
    assert age["manifest_bytes"] == manifest
    assert age["disk_bytes"] == 450 + manifest
    assert age["space_amp"] == pytest.approx((450 + manifest) / 150)


def test_rows_equal_tolerates_float_rounding_only():
    assert rows_equal([(1, 0.1 + 0.2)], [(1, 0.3)], ordered=True)
    assert rows_equal([("b", 2), ("a", 1)], [("a", 1), ("b", 2)], ordered=False)
    assert not rows_equal([("b", 2), ("a", 1)], [("a", 1), ("b", 2)], ordered=True)
    assert not rows_equal([(1, 0.3)], [(1, 0.31)], ordered=True)


def test_lake_commit_writes_touch_partitions_in_rotation():
    wl = LakeCommit(None, "", 3, True, Tracer())
    wl.orders = {k: [("F", "O", "P")[k % 3], 1.0] for k in range(1, 31)}
    wl.next_key, wl.turn = 31, 0
    assert wl._parts(2) == ["F", "O"]
    assert wl._parts(2) == ["P", "F"]
    keys = wl._live_keys(["P", "O"])
    assert [wl.orders[k][0] for k in keys] == ["P", "O"]


# ------------------------------------------------------------ generators
def test_generators_are_seeded():
    a, b = datagen.tpch_tables(5, units=1), datagen.tpch_tables(5, units=1)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(datagen.tpch_tables(6, units=1)["orders"])
    assert datagen.document_batches(5, 3, 10) == datagen.document_batches(5, 3, 10)


def _shingles(text: str) -> set:
    toks = text.split()
    return {tuple(toks[i:i + 5]) for i in range(len(toks) - 4)}


def test_planted_near_duplicates_clear_the_jaccard_threshold():
    batches, planted = datagen.document_batches(3, 6, 30)
    text = {d: t for b in batches for d, _, t in b}
    assert planted
    for a, b in planted:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        assert len(sa & sb) / len(sa | sb) >= 0.8


# ------------------------------------------------------------ smoke runs
def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["governed_read", "lake_commit", "stream_ingest"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    proc = _run(["--workload", workload, "--seed", "7", "--seconds", "2",
                 "--trace", trace, "--small"], ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    if trace == "1":
        tolerance = 100.0 * run.RECONCILE_TOLERANCE
        assert result["metrics"]["trace.reconcile_err_pct"]["value"] <= tolerance
    else:
        assert all(result["metrics"][n]["value"] > 0 for n in names)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(["--workload", "governed_read", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
