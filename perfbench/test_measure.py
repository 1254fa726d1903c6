"""Unit tests for the benchmark's pure helpers (no JVM needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
import run  # noqa: E402

# --------------------------------------------------------------------------
# Tail-percentile rule
# --------------------------------------------------------------------------


@pytest.mark.parametrize("n, pct", [
    (1, 100.0), (19, 100.0), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
])
def test_tail_pct_is_highest_grid_percentile_with_ten_beyond(n, pct):
    assert measure.tail_pct(n) == pct
    if pct < 100.0:
        assert n * (100.0 - pct) / 100.0 >= measure.TAIL_BEYOND


def test_tail_of_too_few_samples_is_the_maximum():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_tail_interpolates_like_numpy():
    xs = [float(i) for i in range(1, 41)]  # 40 samples: p75
    value, pct, n = measure.tail(xs)
    assert (pct, n) == (75.0, 40)
    assert value == pytest.approx(30.25)  # numpy.percentile(xs, 75)


def test_median():
    assert measure.median([5.0, 1.0, 3.0]) == 3.0
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        measure.median([])


# --------------------------------------------------------------------------
# /proc process-tree CPU split
# --------------------------------------------------------------------------


def _stat(pid, comm, ppid, utime, stime, cutime, cstime):
    # fields 3.. after the comm: state ppid pgrp session tty_nr tpgid
    # flags minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0,
            utime, stime, cutime, cstime, 20, 0, 1, 0]
    return f"{pid} ({comm}) " + " ".join(str(v) for v in rest)


def test_parse_stat_handles_parentheses_and_spaces_in_comm():
    text = _stat(42, "a (b) c", 7, 100, 50, 30, 20)
    assert measure.parse_stat(text, 100) == (42, 7, "a (b) c", 2.0)


def test_split_cpu_by_process_kind():
    P = measure.Proc
    procs = [
        P(10, 1, "python3", 2.0, 100.0),  # driver
        P(11, 10, "java", 30.0, 1500.0),  # JVM
        P(12, 11, "python3", 1.0, 50.0),  # pyspark daemon
        P(13, 12, "python3", 4.0, 60.0),  # forked worker
        P(20, 1, "java", 99.0, 9999.0),  # a JVM outside the tree
    ]
    assert measure.split_cpu(procs, 10) == {
        "driver_py": 2.0, "jvm": 30.0, "py_worker": 5.0,
    }
    assert measure.tree_hwm_mb(procs, 10) == 1710.0
    assert measure.split_cpu(procs, 999) == {
        "driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0,
    }


def test_read_procs_sees_this_process():
    me = [p for p in measure.read_procs() if p.pid == os.getpid()]
    assert len(me) == 1 and me[0].cpu_s >= 0.0 and me[0].hwm_mb > 0.0


# --------------------------------------------------------------------------
# Attribution by time window, and self time
# --------------------------------------------------------------------------


def test_attribute_picks_shortest_enclosing_window():
    windows = [("op", 0.0, 10.0), ("build", 1.0, 4.0), ("exec", 4.0, 9.0)]
    stamps = [2.0, 4.0, 9.5, 10.0, 11.0, -1.0]
    # 4.0 is in both inner windows; the shorter one (build) wins
    assert measure.attribute(windows, stamps) == [
        "build", "build", "op", "op", None, None,
    ]


def test_attribute_gives_streaming_jobs_to_their_operation():
    # a job submitted from the stream's own thread carries no job group,
    # only a submission time inside the operation that started it
    ops = [(0, 100.0, 105.0), (1, 105.5, 107.0)]
    assert measure.attribute(ops, [104.9, 105.2, 106.0]) == [0, None, 1]


def test_self_times_subtract_union_of_children_clipped_to_parent():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # past the end
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.0},
    ]
    selfs = measure.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0 - 0.5)
    assert selfs[1] == pytest.approx(2.0)


# --------------------------------------------------------------------------
# Spark metric strings
# --------------------------------------------------------------------------


@pytest.mark.parametrize("text, value", [
    ("81 ms", 0.081),
    ("2.6 MiB", 2.6),
    ("1,024.0 KiB", 1.0),
    ("total (min, med, max (stageId: taskId))\n"
     "4.7 s (1.1 s, 1.2 s, 1.3 s (stage 1.0: task 3))", 4.7),
])
def test_parse_sql_metric(text, value):
    assert measure.parse_sql_metric(text) == pytest.approx(value)


# --------------------------------------------------------------------------
# Metric names
# --------------------------------------------------------------------------


def _spec():
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_declared_name_matches_the_name_pattern():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]] + [
        m["name"] for kind in ("end_to_end", "per_layer") for m in spec[kind]
    ]
    assert len(names) == len(set(names))
    for name in names:
        assert measure.METRIC_NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads.WORKLOADS)


def _pass(traced: bool, wall: float) -> dict:
    op = {"op": "k", "start": 0.0, "end": wall, "wall_s": wall, "error": None,
          "windows": [("registry.build", 0.0, 1.0),
                      ("operators.exec", 1.0, wall)],
          "released": 1}
    if traced:
        op.update(stage_spans={1: "registry.build", 2: "operators.exec"},
                  jobs=[{"span": 1, "task_cpu_s": 0.5},
                        {"span": 2, "tasks": 4, "task_run_s": 2.0}],
                  execs=[{"span": 2, "py_run_s": 0.1}],
                  persisted_mb=3.0, fixture_builds=0, in_bytes=0,
                  files_written=0, bytes_written=0,
                  triggers=[{"input_rows": 10, "trigger_s": 0.2,
                             "add_batch_s": 0.1, "planning_s": 0.0,
                             "offsets_s": 0.0, "commit_s": 0.05,
                             "state_mb": 1.5}])
    return {"traced": traced, "wall_s": wall, "ops": [op],
            "cpu": {"driver_py": 1.0, "jvm": 5.0, "py_worker": 0.5}}


def test_emitted_metric_sets_equal_the_declared_ones(tmp_path):
    spec = _spec()
    declared = {kind: {m["name"] for m in spec[kind]}
                for kind in ("end_to_end", "per_layer")}

    settling = [5.0] * (run.WARMUP_PASSES - 1)
    untraced = [_pass(False, w) for w in (9.0, *settling, 3.0, 2.0, 4.0)]
    e2e, notes = run.end_to_end(untraced, setup_s=8.0, peak_rss_mb=900.0)
    assert set(e2e) == declared["end_to_end"]
    assert e2e["cpu_s"] == 6.5
    assert notes == {"pass_s": 3.0, "cold_pass_s": 9.0, "op_p50_s": 3.0,
                     "op_tail_s": 4.0, "op_tail_pct": 100.0, "op_samples": 3,
                     "peak_rss_mb": 900.0, "warm_passes": 3}

    runner = types.SimpleNamespace(
        passes=[_pass(i % 2 == 0, w) for i, w in enumerate((9.0, *settling))]
        + [_pass(True, 3.5), _pass(False, 3.0)],
        spans=[], fixture_root=str(tmp_path),
    )
    session = {"session.import_s": 1.0, "session.get_spark_s": 5.0,
               "session.warm_s": 2.0}
    layers = run.per_layer(runner, session, nproc=4)
    assert set(layers) == declared["per_layer"]
    assert layers["trace.overhead_s"] == pytest.approx(0.5)
    assert layers["registry.build_jobs"] == 1
    assert layers["operators.core_busy_frac"] == pytest.approx(2.0 / (4 * 2.5))
    assert layers["streaming.outside_trigger_s"] == pytest.approx(3.3)
