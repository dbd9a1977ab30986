"""Tests of the benchmark's own rules, plus a tiny smoke run of each
workload.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import gen, stats
from perfbench.loadgen import SegmentReleaser, due_time, segment_of
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import lag_grew

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------ percentile rule


def test_tail_percentile_reports_p99_with_enough_samples():
    vals = list(range(1, 2001))
    p, v = stats.tail_percentile(vals)
    assert p == 0.99 and v == 1980
    assert sum(1 for x in vals if x > v) >= stats.TAIL_SAMPLES


def test_tail_percentile_steps_down_to_keep_ten_samples_beyond():
    vals = list(range(1, 201))  # p99 would leave only 2 samples beyond
    p, v = stats.tail_percentile(vals)
    assert p == 0.95 and v == 190
    assert sum(1 for x in vals if x > v) == 10


def test_tail_percentile_counts_ties_as_not_beyond():
    vals = [1.0] * 900 + [5.0] * 95 + [9.0] * 5
    p, v = stats.tail_percentile(vals)
    # p99 and every percentile down to p90 sit on a tie with < 10 above
    assert v == 1.0 and p == 0.9
    assert sum(1 for x in vals if x > v) >= stats.TAIL_SAMPLES


def test_tail_percentile_falls_back_to_median_when_too_few():
    p, v = stats.tail_percentile([4.0, 1.0, 3.0, 2.0])
    assert p == 0.5 and v == 2.5


def test_iqr_share_matches_statistics_quantiles():
    import statistics

    vals = [10, 11, 12, 13, 30]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / q2)


# ------------------------------------------- open loop and due times


def test_block_timestamp_maps_to_its_segment():
    seg = 100
    for rid in (0, 99, 100, 250, 999):
        ts = gen.T0_NS + rid * gen.STEP_NS
        assert segment_of(ts, gen.T0_NS, gen.STEP_NS, seg) == rid // seg


def test_due_time_is_schedule_not_arrival():
    assert due_time(100.0, 0.5, 0) == 100.0
    assert due_time(100.0, 0.5, 7) == 103.5


def test_releaser_is_open_loop_and_reports_lateness(tmp_path):
    staged, live = tmp_path / "staged", tmp_path / "live"
    n = 6
    for t in ("a", "b"):
        (staged / t).mkdir(parents=True)
        for k in range(n):
            (staged / t / f"seg-{k:05d}.bin").write_bytes(b"x")
    rel = SegmentReleaser(str(staged), str(live), ["a", "b"], n, 0.05)
    t0 = time.time() + 0.05
    rel.start(t0)
    rel.join(10)
    assert sorted(os.listdir(live / "a")) == [f"seg-{k:05d}.bin" for k in range(n)]
    assert os.listdir(staged / "b") == []
    assert len(rel.late) == n
    assert all(0 <= x < 0.5 for x in rel.late)
    # the schedule was kept: the run took about (n-1) periods
    assert time.time() - t0 >= (n - 1) * 0.05


def test_releaser_keeps_schedule_after_a_stall(tmp_path):
    """A segment released late does not shift the due times after it."""
    staged, live = tmp_path / "staged", tmp_path / "live"
    (staged / "a").mkdir(parents=True)
    for k in range(4):
        (staged / "a" / f"seg-{k:05d}.bin").write_bytes(b"x")
    rel = SegmentReleaser(str(staged), str(live), ["a"], 4, 0.1)
    rel.start(time.time() - 0.25)  # the first three are already overdue
    rel.join(10)
    assert rel.late[0] > rel.late[1] > rel.late[2] > 0
    assert rel.late[3] < 0.1


def test_lag_growth_detects_falling_behind():
    steady = [(float(k), 10.0 + (k % 3), 0) for k in range(30)]
    growing = [(float(k), 10.0 + 2 * k, 0) for k in range(30)]
    assert not lag_grew(steady, 0.5)
    assert lag_grew(growing, 0.5)


# ---------------------------------------------------------- tracing


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a: union is 1..6
        Span(3, "c", 2.0, 3.0, 1, "r"),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(5.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(1.0)


def test_tracer_nests_and_disabled_tracer_records_nothing(tmp_path):
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert all(s.run_id == "run-1" and s.end >= s.start for s in tr.spans)
    tr.write(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 2
    off = Tracer("run-2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# -------------------------------------------------------- generator


def test_generator_is_seeded():
    a, b, c = gen.NearInputs(500, 1), gen.NearInputs(500, 1), gen.NearInputs(500, 2)
    assert a.topic_rows("action_receipt_actions") == b.topic_rows("action_receipt_actions")
    assert a.expected_balances() == b.expected_balances()
    assert a.topic_rows("action_receipt_actions") != c.topic_rows("action_receipt_actions")


def test_generator_keeps_testgen_proportions():
    g = gen.NearInputs(20_000, 7)
    assert 0.68 < g.is_token.mean() < 0.72
    assert 0.04 < g.failed.mean() < 0.06
    assert 0.04 < g.dup.mean() < 0.06
    assert 0.48 < (g.method < 5).mean() < 0.52
    assert g.n_records() == 3 * (20_000 + int(g.dup.sum()))
    assert g.n_records(10_000) == 3 * (10_000 + int(g.dup[10_000:].sum()))


def test_segment_rows_carry_their_own_duplicates():
    g = gen.NearInputs(300, 3)
    rows = g.topic_rows("receipts", 100, 200)
    ids = [r["receipt_id"] for r in rows]
    assert set(ids) == {f"r{i}" for i in range(100, 200)}
    assert len(ids) == 100 + int(g.dup[100:200].sum())


# ------------------------------------------------------------ smoke


def _run(args, cwd, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["live_stream", "registry_mix", "backfill_batch"])
def test_smoke_run_prints_a_correct_result(workload):
    out = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", "1", "--scale", "0.05"], REPO)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(res["metrics"]) == names
    assert not os.path.exists(os.path.join(REPO, ".perfbench_tmp"))


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "live_stream", "--seed", "1", "--seconds", "1",
                "--trace", "0"], str(tmp_path), timeout=60)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
