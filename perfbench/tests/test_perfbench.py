"""The benchmark's own tests: seeded inputs, the latency-tail rule, metric
names, and a toy-size run of every workload with its output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.probe import tail_percentile  # noqa: E402
from perfbench.run import E2E, PRINTED  # noqa: E402
from perfbench.workloads import LAYER_METRICS, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
TOY = {"cohort_interactive": 60, "corpus_dedup": 120}


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["cohort_interactive", "corpus_dedup"])
def test_inputs_are_a_function_of_the_seed(tmp_path, workload):
    size = TOY[workload]
    a = inputs.generate(str(tmp_path / "a"), workload, 3, size)
    b = inputs.generate(str(tmp_path / "b"), workload, 3, size)
    c = inputs.generate(str(tmp_path / "c"), workload, 4, size)
    assert _files(a["dir"]) == _files(b["dir"])
    assert _files(a["dir"]) != _files(c["dir"])
    assert a["rows"] == b["rows"] and a["fact_rows"] > 0


def test_interactive_queries_are_seeded():
    groups = [["Female", 5066], ["Female", 5068], ["Male", 5066], ["Male", 5067]]
    a, b = inputs.interactive_queries(5, groups, 40), inputs.interactive_queries(6, groups, 40)
    assert a == inputs.interactive_queries(5, groups, 40)
    key = lambda q: tuple(sorted(q.items()))  # noqa: E731
    # Another seed draws other parameters, not just another order.
    assert {key(q) for q in a} != {key(q) for q in b}
    # Cohort and gender mode are balanced in every block of four.
    kinds = sorted((c, g) for c in ("week", "month") for g in (False, True))
    for i in range(0, 40, 4):
        assert sorted((q["cohort"], q["gender"] == "all") for q in a[i : i + 4]) == kinds
    for q in a:
        assert q["max_age"] - q["min_age"] == inputs.AGE_BAND and 18 <= q["min_age"] and q["max_age"] <= 72
        assert q["gender"] == "all" or [q["gender"], q["clinic_id"]] in groups


def test_corpus_plants_near_duplicates(tmp_path):
    man = inputs.generate(str(tmp_path), "corpus_dedup", 9, 200)
    assert man["planted"] == 40
    assert 0 < len(man["must_find"]) <= man["planted"]
    assert 0 < len(man["curated_ids"]) < 200
    assert {tuple(p) for p in man["must_find"]} <= {(a, b) for a, b, _ in man["pairs"]}


def test_similar_pairs_is_the_brute_force_answer():
    rng = random.Random(2)
    sets = [{rng.randrange(12) for _ in range(rng.randint(1, 6))} for _ in range(40)]
    ids = rng.sample(range(1000), 40)
    brute = sorted(
        [*sorted((ids[i], ids[j])), inputs.jaccard(sets[i], sets[j])]
        for i in range(40)
        for j in range(i + 1, 40)
        if inputs.jaccard(sets[i], sets[j]) >= inputs.TAU
    )
    assert brute and inputs.similar_pairs(ids, sets) == brute


@pytest.mark.parametrize("n", [11, 12, 25, 40, 137])
def test_tail_percentile_keeps_ten_beyond(n):
    samples = random.Random(n).sample(range(10_000), n)
    value, pct, count = tail_percentile(samples)
    assert count == n
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_percentile_needs_more_than_ten():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for name in [*E2E, *PRINTED, *LAYER_METRICS, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name), name
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", str(TOY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_toy_run_passes_its_output_checks(workload, trace):
    res = _run(workload, trace)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(LAYER_METRICS if trace else E2E)
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
