"""The reference top-k, the near-tie rule, recall and the percentile rules."""

import numpy as np
import pytest

from perfbench import truth


def _line_corpus():
    # 1-d points padded to 2-d; query at the origin.  Distances: id 10 -> 1,
    # ids 11 and 12 -> 4 (an exact tie), id 13 -> 9, id 14 -> 16.
    ids = np.array([14, 12, 10, 13, 11])
    X = np.array([[4.0, 0], [0, 2.0], [1.0, 0], [3.0, 0], [-2.0, 0]])
    return truth.Reference(ids, X), np.zeros(2)


def test_topk_orders_by_distance_then_id():
    ref, q = _line_corpus()
    ids, d = ref.topk(q, 3)
    assert ids.tolist() == [10, 11, 12]
    assert d.tolist() == [1.0, 4.0, 4.0]


def test_topk_restricted_to_rows():
    ref, q = _line_corpus()
    ids, _ = ref.topk(q, 2, rows=ref.rows([13, 14, 12]))
    assert ids.tolist() == [12, 13]


def test_tie_swap_at_rank_k_matches():
    ref, q = _line_corpus()
    true_ids, true_d = ref.topk(q, 2)          # [10, 11]: 12 ties 11 at rank 2
    got = np.array([10, 12])
    assert truth.same_topk(got, ref.dists(q, ref.rows(got)), true_ids, true_d)


def test_non_tie_swap_fails():
    ref, q = _line_corpus()
    true_ids, true_d = ref.topk(q, 2)
    got = np.array([10, 13])
    assert not truth.same_topk(got, ref.dists(q, ref.rows(got)), true_ids, true_d)


def test_near_tie_tolerance_is_relative():
    true_ids, true_d = np.array([1, 2]), np.array([1.0, 1e6])
    assert truth.same_topk([1, 3], [1.0, 1e6 * (1 + 0.5e-6)], true_ids, true_d)
    assert not truth.same_topk([1, 3], [1.0, 1e6 * (1 + 2e-6)], true_ids, true_d)


def test_wrong_length_or_duplicates_fail():
    true_ids, true_d = np.array([1, 2]), np.array([1.0, 2.0])
    assert not truth.same_topk([1], [1.0], true_ids, true_d)
    assert not truth.same_topk([1, 1], [1.0, 1.0], true_ids, true_d)


def test_recall_counts_ties_at_k():
    ref, q = _line_corpus()
    true_ids, true_d = ref.topk(q, 2)
    for got, want in (([10, 12], 1.0), ([10, 13], 0.5), ([13, 14], 0.0)):
        got = np.array(got)
        assert truth.recall(got, ref.dists(q, ref.rows(got)), true_ids, true_d) == want


def test_unknown_id_raises():
    ref, _ = _line_corpus()
    with pytest.raises(KeyError):
        ref.rows([10, 99])


def test_returned_distances_allow_output_rounding():
    assert truth.returned_dists_ok([1.2346], [1.23456])
    assert not truth.returned_dists_ok([1.2348], [1.23456])


def test_prefiltered_topk_equals_brute_force():
    rng = np.random.default_rng(0)
    X = np.round(rng.uniform(0, 255, (3000, 16)))
    X[100:110] = X[5]  # duplicates make exact ties
    ref = truth.Reference(np.arange(3000), X)
    for q in (X[5], rng.uniform(0, 255, 16)):
        d = ((X - q) ** 2).sum(axis=1)
        want = np.lexsort((np.arange(3000), d))[:10]
        ids, dd = ref.topk(q, 10)
        assert ids.tolist() == want.tolist()
        np.testing.assert_allclose(dd, d[want], rtol=1e-12)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert truth.percentile(xs, 50) == 50
    assert truth.percentile(xs, 90) == 90
    assert truth.percentile([5.0], 90) == 5.0


@pytest.mark.parametrize("n,want", [(9, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0)])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert truth.tail_percentile(n) == want


def test_summarize_states_sample_count():
    assert truth.summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = truth.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p90"] == 89.0
