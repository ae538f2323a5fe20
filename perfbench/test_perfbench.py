"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The subprocess tests run the real benchmark at a tiny input scale, so
each takes as long as a Spark start-up plus a few operations.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import metric_units  # noqa: E402
from perfbench.workloads import nmi, recall_problems  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    WORKLOADS = sorted(w["name"] for w in json.load(_fh)["workloads"])
END_TO_END, PER_LAYER = metric_units(ROOT)


def bench(*args: str) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "0", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_nmi_matches_known_values():
    perfect = pd.DataFrame({"pred": [0, 1, 2], "truth": [5, 6, 7], "n": [10, 20, 30]})
    assert nmi(perfect) == pytest.approx(1.0)
    independent = pd.DataFrame({"pred": [0, 0, 1, 1], "truth": [0, 1, 0, 1], "n": [5, 5, 5, 5]})
    assert nmi(independent) == pytest.approx(0.0, abs=1e-12)
    # one of two equal classes split in two: MI = H(truth) = ln 2,
    # H(pred) = 1.5 ln 2, so NMI = 1 / 1.25
    split = pd.DataFrame({"pred": [0, 1, 2], "truth": [0, 0, 1], "n": [1, 1, 2]})
    assert nmi(split) == pytest.approx(0.8)


def test_points_are_a_function_of_seed_and_id():
    n = 3 * gen.BLOCK
    ids, x, labels = gen.points_block(7, n, 2)
    ids2, x2, labels2 = gen.points_block(7, n, 2)
    assert (ids == ids2).all() and (x == x2).all() and (labels == labels2).all()
    _, x3, _ = gen.points_block(8, n, 2)
    assert not np.allclose(x, x3)
    # chunk 0 holds only the init clusters; later ids carry drift
    ids0, _, labels0 = gen.points_block(7, n, 0)
    assert set(labels0[ids0 < gen.chunk_bounds(n)[1]]) <= set(range(gen.K))
    assert (labels >= gen.K).any() and (labels == gen.NOISE_LABEL).any()


def test_near_duplicates_span_the_lsh_threshold():
    import re

    def shingles(doc):
        t = re.findall("[a-z0-9]+", doc.lower())
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    docs = [shingles(d) for d in gen._documents(gen._rng(1, gen._S_TABLES), gen.DOCUMENTS)]
    js = [len(a & b) / len(a | b) for i, a in enumerate(docs) for b in docs[:i] if a & b]
    # dedup_minhash_lsh keeps pairs with J >= 0.7: some near-duplicates
    # sit just below it and some just above, where LSH recall is lowest
    assert any(0.6 <= j < 0.7 for j in js)
    assert sum(0.7 <= j < 0.75 for j in js) >= 5


def test_lsh_check_holds_the_key_to_its_recall_contract():
    oracle = [(0, 1, 1.0), (2, 3, 0.9), (4, 5, 0.71)] + [(i, i + 1, 0.8) for i in range(10, 40, 2)]
    assert recall_problems(oracle, oracle) == ([], 0)
    # a near-threshold miss is within the banding's documented recall
    assert recall_problems([r for r in oracle if r[2] != 0.71], oracle) == ([], 1)
    for got in (
        oracle[1:],  # a missed exact duplicate
        [r for r in oracle if r[2] != 0.9],  # a missed pair far above the threshold
        oracle + [(6, 7, 0.75)],  # a pair the oracle lacks
        [(0, 1, 1.0), (2, 3, 0.8999)] + oracle[2:],  # a wrong Jaccard
        oracle + oracle[:1],  # a duplicate row
        oracle[:2] + oracle[8:],  # recall under the floor
    ):
        problems, _ = recall_problems(got, oracle)
        assert problems


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace, names", [(0, END_TO_END), (1, PER_LAYER)])
def test_smoke_prints_every_metric_with_its_unit(workload, trace, names):
    # 15,000 points on bfr_drift
    r = bench("--workload", workload, "--trace", str(trace), "--scale", "0.1")
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == names
    if trace == 0:
        assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload, fault", [
    ("bfr_drift", "drop_id"),
    ("bfr_drift", "flip_cluster"),
    ("registry", "corrupt_row"),
])
def test_a_corrupted_output_counts_as_failed(workload, fault):
    r = bench("--workload", workload, "--scale", "0.1", "--inject", fault)
    assert r["correct"] is False
    assert r["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
