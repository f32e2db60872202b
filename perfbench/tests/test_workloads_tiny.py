"""A tiny-size pass of each workload, untraced and traced: every named
metric is emitted with its unit and every output checks out."""

import json
import os

import numpy as np
import pytest

from perfbench import truth, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TINY = {
    "serve": workloads.ServeSizes(n=600, cells=8, delta=12, tombstones=4, batch=4, batches=3, k=5, nprobe=2),
    "bulk": workloads.BulkSizes(n=800, cells=8, queries=16, k=5, nprobe=2),
}


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
        [w["name"] for w in bench["workloads"]],
    )


def test_declared_metrics_match_the_code():
    e2e, layers, names = _declared()
    assert e2e == workloads.END_TO_END
    assert layers == workloads.PER_LAYER
    assert names == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("traced", [False, True])
def test_tiny_pass_emits_every_metric(workload, traced, tmp_path):
    report = workloads.execute(workload, seed=5, seconds=0.5, traced=traced,
                               work_dir=str(tmp_path), sizes=TINY[workload])
    assert report["failed"] == 0 and report["attempted"] >= 2
    values = report["per_layer"] if traced else report["end_to_end"]
    names = workloads.PER_LAYER if traced else workloads.END_TO_END
    assert set(values) == set(names)
    assert all(isinstance(v, (int, float)) and np.isfinite(v) for v in values.values())
    assert report["end_to_end"]["recall_at_10"] > 0
    assert report["search_ms"]["n"] == len(report["latencies_ms"]) >= 1
    assert report["env"]["nproc"] == workloads.cores()
    if traced:
        assert report["per_layer"]["spark.jobs"] >= 1
        layers = {r["layer"] for r in report["layers"]}
        assert {"session.start", "sources.scan_fvecs", "spark.collect", "search"} <= layers


def test_expected_flags_a_wrong_answer():
    rng = np.random.default_rng(1)
    X = rng.uniform(0, 255, (50, 8))
    ref = truth.Reference(np.arange(50), X)
    Q = X[:2] + 0.5
    exp = workloads.Expected(ref, np.array([0, 1]), Q, 3, lambda q: None)

    def rows(ids_per_q):
        out = []
        for q, ids in enumerate(ids_per_q):
            d = ref.dists(Q[q], ref.rows(ids))
            out += [{"qid": q, "neighbor_id": i, "rank": r + 1, "dist_sq": round(float(x), 4)}
                    for r, (i, x) in enumerate(zip(ids, d))]
        return out

    right = [exp.exact[0][0], exp.exact[1][0]]
    assert exp.check(rows(right), [0, 1]) == (True, 1.0)
    wrong = [right[0], np.array([right[1][0], right[1][2], right[1][1]])]
    ok, _ = exp.check(rows(wrong), [0, 1])
    assert not ok
    ok, rec = exp.check(rows(right[:1]), [0, 1])        # a query missing
    assert not ok and rec == 0.5
