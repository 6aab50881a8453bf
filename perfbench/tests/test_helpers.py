"""Tests for the benchmark's own helpers. No Spark session is started.

Run from the root of a checkout: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import loadgen  # noqa: E402
import stats  # noqa: E402
from procs import RssSampler, pss_bytes, tree_pids  # noqa: E402
from tracing import Tracer, self_time_by_span  # noqa: E402


# --- the ">= 10 samples beyond" tail rule -----------------------------------

@pytest.mark.parametrize("support,expected", [
    (19, None), (20, 50), (40, 75), (100, 90), (200, 95), (1000, 99), (100_000, 99)])
def test_tail_percentile_examples(support, expected):
    assert stats.tail_percentile(support) == expected


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(20, 3000):
        p = stats.tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9
        assert p == 99 or n * (1 - (p + 1) / 100) < 10


def test_median_and_tail_counts_support_not_samples():
    # 30 batches of 100 events each: the tail percentile follows the
    # batch count (30 -> p66), not the 3,000 events (which would be p99).
    values = [float(b) for b in range(30) for _ in range(100)]
    med, tail, p = stats.median_and_tail(values, support=30)
    assert p == 66
    assert tail == stats.percentile(values, 66)
    assert med == pytest.approx(14.5, abs=0.5)
    assert stats.median_and_tail(values)[2] == 99


def test_median_and_tail_without_support_reports_no_percentile():
    med, tail, p = stats.median_and_tail([1.0, 2.0, 3.0])
    assert (med, tail, p) == (2.0, 2.0, None)


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 100) == 100
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_quartile_spread():
    s = stats.quartile_spread([10.0] * 9 + [20.0])
    assert s["median"] == 10.0 and s["spread"] == 0.0 and s["max_rel_dev"] == 1.0


# --- cross-process lag join on the system-wide monotonic clock ----------------

def test_monotonic_clock_is_shared_across_processes():
    before = time.monotonic()
    out = subprocess.run([sys.executable, "-c", "import time; print(repr(time.monotonic()))"],
                         capture_output=True, text=True, check=True, timeout=60)
    after = time.monotonic()
    child = float(out.stdout)
    assert before <= child <= after


def test_join_lags_takes_first_delete_at_or_after_the_change():
    dels = {"a": [1.0, 5.0, 9.0], "b": [2.0]}
    lags, missing = stats.join_lags([("a", 4.0), ("a", 5.0), ("b", 1.5), ("b", 3.0), ("c", 0.0)], dels)
    assert lags == [1.0, 0.0, 0.5]
    assert missing == ["b", "c"]  # b's only DEL came before its change


def test_join_lags_against_a_generator_process():
    # A child process stamps changes; this process records DELs later.
    code = "import json, time; print(json.dumps([('k%d' % i, time.monotonic()) for i in range(5)]))"
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         check=True, timeout=60)
    changes = [tuple(c) for c in json.loads(out.stdout)]
    dels = {k: [time.monotonic()] for k, _ in changes}
    lags, missing = stats.join_lags(changes, dels)
    assert missing == [] and len(lags) == 5
    assert all(0 <= lag < 60 for lag in lags)


# --- RSS process-tree sampler ---------------------------------------------------

def test_rss_sampler_counts_children_and_excludes_the_generator(tmp_path):
    hog = "x = b'\\x01' * (48 << 20); import sys; sys.stdout.write('ready\\n'); sys.stdout.flush(); sys.stdin.read()"
    kids = [subprocess.Popen([sys.executable, "-c", hog], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True) for _ in range(2)]
    try:
        for k in kids:
            assert k.stdout.readline() == "ready\n"
        pids = tree_pids(os.getpid(), exclude={kids[1].pid})
        assert os.getpid() in pids and kids[0].pid in pids and kids[1].pid not in pids
        assert pss_bytes(kids[0].pid) >= 48 << 20
        sampler = RssSampler(str(tmp_path / "rss.json"), interval=0.01)
        sampler.exclude(kids[1].pid)
        time.sleep(0.3)
        sampler.stop()
        assert kids[0].pid in sampler.counted and kids[1].pid not in sampler.counted
        assert kids[1].pid in sampler.excluded
        assert sampler.peak >= pss_bytes(os.getpid()) + (48 << 20)
        assert sampler.peak_mb == sampler.peak / 2**20
    finally:
        for k in kids:
            k.stdin.close()
            k.wait(timeout=30)


def test_tree_pids_parses_command_names_with_parentheses(tmp_path):
    for pid, ppid, comm in [(1, 0, "init"), (10, 1, "a) (b"), (11, 10, "c"), (12, 1, "d")]:
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(f"{pid} ({comm}) S {ppid} 0 0\n")
    assert sorted(tree_pids(1, proc=str(tmp_path))) == [1, 10, 11, 12]
    assert sorted(tree_pids(1, exclude={10}, proc=str(tmp_path))) == [1, 12]


# --- tracer self time -----------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [(1, "api", 0.0, 10.0, None, None),
             (2, "serving", 1.0, 4.0, 1, None),
             (3, "serving", 3.0, 5.0, 1, None),  # overlaps the first child
             (4, "kv", 1.5, 2.0, 2, None)]
    st = self_time_by_span(spans)
    assert st["api"] == [pytest.approx(6.0)]
    assert sorted(st["serving"]) == [pytest.approx(2.0), pytest.approx(2.5)]


def test_tracer_nests_spans_and_is_inert_when_off():
    tr = Tracer(True)
    with tr.span("outer", tag=7):
        with tr.span("inner"):
            pass
    (inner, outer) = tr.spans
    assert inner[4] == outer[0] and outer[4] is None and outer[5] == 7
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_patch_times_calls_and_unpatch_restores(tmp_path):
    import types

    import workloads

    class Service:
        def read(self, k):
            return k * 2

    def helper(x):
        return x + 1

    module = types.SimpleNamespace(helper=helper)
    service = Service()
    args = types.SimpleNamespace(seed=1, seconds=1, trace=1, workload="w")
    ctx = workloads.Context(args, str(tmp_path), str(tmp_path / "out"), str(tmp_path))
    try:
        seen = []
        ctx.patch(module, "helper", "m.helper", lambda call: seen.append(call()) or seen[-1])
        ctx.patch(service, "read", "s.read")
        assert module.helper(1) == 2 and service.read(3) == 6 and seen == [2]
        assert [s[1] for s in ctx.tracer.spans] == ["m.helper", "s.read"]
        ctx.unpatch()
        assert module.helper is helper and "read" not in vars(service)
    finally:
        ctx.rss.stop()


# --- generator inputs -------------------------------------------------------------

def test_backlog_events_form_a_valid_changelog():
    state: dict[int, dict] = {}
    for line, code, after in loadgen.backlog_events(5, 5000, 200):
        p = json.loads(line)["payload"]
        assert p["before"] == state.get(code)
        assert (p["op"] == "c") == (code not in state)
        assert p["after"] == after
        if after is None:
            state.pop(code)
        else:
            state[code] = after


# --- the command's contract ---------------------------------------------------------

def test_units_match_benchmark_json():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "view_catchup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert out.stdout == ""
