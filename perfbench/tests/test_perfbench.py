"""Tests of the benchmark itself: the digest check trips, the metric and
workload names agree with BENCHMARK.json, and one short end-to-end run
with a wrong expected digest reports failures.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_wrong_expected_digest_fails_every_job():
    c = run.Checker(expected="not-the-digest")
    for i in range(4):
        c.job("abc123", f"job{i}")
    assert c.failed == 4 and c.attempted == 4
    assert c.failed_frac > 0


def test_without_expected_digest_jobs_must_match_the_first():
    c = run.Checker(expected=None)
    c.job("abc", "cold")
    c.job("abc", "warm0")
    assert c.failed_frac == 0
    c.job("abd", "warm1")
    assert c.failed == 1 and c.attempted == 3


def test_raising_job_and_failed_check_count():
    c = run.Checker(expected=None)
    c.job(None, "cold")
    c.check(False, "brute-force pip sample")
    assert c.failed == 2 and c.attempted == 2


def test_merged_pass_check_trips_on_a_differing_pass():
    # the other chains of a traced run: without a recorded digest the
    # second pass must match the first
    passes = run.Checker(expected=None)
    passes.job("aaa", "pass0")
    passes.job("bbb", "pass1")
    c = run.Checker(expected=None)
    c.job("x", "cold")
    c.merge(passes)
    assert c.attempted == 3 and c.failed == 1
    assert c.reference == "x"


def test_trace_overhead_uses_the_untraced_run(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    args = run.parse_args(["--workload", "tiles_pip", "--seed", "3"])
    result = {"traced_s": [1.2, 1.2, 1.2], "plain_s": [1.1, 1.1]}
    frac, vs, _ = run._trace_overhead(args, result)
    assert vs == "plain jobs of this traced run"
    assert abs(frac - (1.2 / 1.1 - 1)) < 1e-12
    os.makedirs(os.path.dirname(run._untraced_path(args)))
    with open(run._untraced_path(args), "w") as f:
        json.dump({"run_id": "r1", "warm_s": 1.0, "time": 0.0}, f)
    frac, vs, age = run._trace_overhead(args, result)
    assert vs == "r1" and abs(frac - 0.2) < 1e-12 and age > 0


def test_expected_digest_applies_only_to_its_seed_and_size():
    exp = json.load(open(os.path.join(BENCH, "expected_digests.json")))
    seed = exp["seed"]
    assert seed == run.DEFAULT_SEED
    for images, digests in exp["digests"].items():
        n = int(images)
        for key, digest in digests.items():
            assert run.expected_digest(seed, n, key) == digest
            assert run.expected_digest(seed + 1, n, key) is None
            assert run.expected_digest(seed, n + 1, key) is None


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER


def test_workloads_match_benchmark_json():
    import workloads

    names = [w["name"] for w in _spec()["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS)
    assert sorted(workloads.DIGESTS) == sorted(workloads.CHAINS)
    # every chain has a recorded digest at each size it runs on
    digests = json.load(
        open(os.path.join(BENCH, "expected_digests.json")))["digests"]
    assert sorted(digests[str(workloads.OTHER_CHAIN_IMAGES)]) \
        == sorted(workloads.CHAINS)
    for name, chain in workloads.WORKLOADS.items():
        assert chain in digests[str(workloads.IMAGES[name])]


def test_wrong_digest_end_to_end_reports_failures():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"),
         "--workload", "tiles_pip", "--images", "40", "--seconds", "1",
         "--seed", "7", "--trace", "0", "--expect-digest", "0"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is False
    # every job fails; the independent brute-force check still passes
    assert last["failed"] == last["attempted"] - 1 > 0
