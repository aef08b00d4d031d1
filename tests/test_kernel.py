"""Kernel unit tests (SURVEY §5.1): scaled DP vs brute-force enumeration,
gamma/xi identities, M-step invariants, EM monotonicity. No Spark."""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from baum_welch_spark.hmm import HMM, forward_backward, e_step_counts, sequential_baum_welch
from baum_welch_spark.hmm.kernel import m_step


def brute_force_likelihood(pi, A, B, obs):
    """P(O|λ) by full path enumeration — only viable for tiny N, T."""
    N, T = pi.shape[0], len(obs)
    total = 0.0
    for path in itertools.product(range(N), repeat=T):
        p = pi[path[0]] * B[path[0], obs[0]]
        for t in range(1, T):
            p *= A[path[t - 1], path[t]] * B[path[t], obs[t]]
        total += p
    return total


def brute_force_gamma(pi, A, B, obs):
    """Posterior state marginals by enumeration."""
    N, T = pi.shape[0], len(obs)
    gamma = np.zeros((T, N))
    for path in itertools.product(range(N), repeat=T):
        p = pi[path[0]] * B[path[0], obs[0]]
        for t in range(1, T):
            p *= A[path[t - 1], path[t]] * B[path[t], obs[t]]
        for t, q in enumerate(path):
            gamma[t, q] += p
    return gamma / gamma.sum(axis=1, keepdims=True)


MODEL_TINY = HMM.from_distributions(
    pi=[0.6, 0.4],
    A=[[0.7, 0.3], [0.4, 0.6]],
    B=[[0.9, 0.1], [0.2, 0.8]],
)


def test_forward_likelihood_matches_enumeration():
    m = MODEL_TINY
    for obs in ([0, 1, 0], [1, 1, 1, 0], [0], [0, 0, 1, 1, 0]):
        _, _, scale, loglik = forward_backward(m.pi, m.A, m.B, np.array(obs))
        assert np.isclose(np.exp(loglik), brute_force_likelihood(m.pi, m.A, m.B, obs), rtol=1e-12)


def test_gamma_matches_enumeration():
    m = MODEL_TINY
    obs = np.array([0, 1, 1, 0])
    alpha, beta, scale, _ = forward_backward(m.pi, m.A, m.B, obs)
    gamma = alpha * beta
    assert np.allclose(gamma, brute_force_gamma(m.pi, m.A, m.B, obs), atol=1e-12)


def test_gamma_xi_identities():
    """Sum_q gamma_t(q) = 1; Sum_r xi_t(q,r) = gamma_t(q) (SURVEY §5.1)."""
    m = HMM.random(3, 4, seed=7)
    obs = np.random.default_rng(0).integers(0, 4, size=50)
    alpha, beta, scale, _ = forward_backward(m.pi, m.A, m.B, obs)
    gamma = alpha * beta
    assert np.allclose(gamma.sum(axis=1), 1.0, atol=1e-10)
    T = len(obs)
    for t in range(T - 1):
        xi_t = (
            alpha[t][:, None] * m.A * m.B[:, obs[t + 1]][None, :] * beta[t + 1][None, :]
            / scale[t + 1]
        )
        assert np.allclose(xi_t.sum(axis=1), gamma[t], atol=1e-10)
        assert np.isclose(xi_t.sum(), 1.0, atol=1e-10)


def test_e_step_counts_match_direct_sums():
    m = HMM.random(3, 5, seed=11)
    obs = np.random.default_rng(1).integers(0, 5, size=40)
    cpi = np.zeros(3); cA = np.zeros((3, 3)); cB = np.zeros((3, 5))
    e_step_counts(m.pi, m.A, m.B, obs, cpi, cA, cB)

    alpha, beta, scale, _ = forward_backward(m.pi, m.A, m.B, obs)
    gamma = alpha * beta
    assert np.allclose(cpi, gamma[0], atol=1e-12)
    expected_B = np.zeros((3, 5))
    for t, o in enumerate(obs):
        expected_B[:, o] += gamma[t]
    assert np.allclose(cB, expected_B, atol=1e-10)
    expected_A = np.zeros((3, 3))
    for t in range(len(obs) - 1):
        expected_A += (
            alpha[t][:, None] * m.A * m.B[:, obs[t + 1]][None, :] * beta[t + 1][None, :]
            / scale[t + 1]
        )
    assert np.allclose(cA, expected_A, atol=1e-10)


def test_long_sequence_no_underflow():
    """Rabiner scaling handles T far beyond the reference's unscaled ceiling
    (SURVEY §2.6 Q5: unscaled underflows at T of a few hundred)."""
    m = HMM.random(4, 8, seed=3)
    obs = np.random.default_rng(2).integers(0, 8, size=5000)
    alpha, beta, scale, loglik = forward_backward(m.pi, m.A, m.B, obs)
    assert np.isfinite(loglik)
    assert np.all(np.isfinite(alpha)) and np.all(np.isfinite(beta))
    gamma = alpha * beta
    assert np.allclose(gamma.sum(axis=1), 1.0, atol=1e-8)


def test_m_step_row_stochastic_and_zero_rows():
    cA = np.array([[1.0, 3.0], [0.0, 0.0]])
    m = m_step(np.array([2.0, 2.0]), cA, np.array([[5.0, 0.0], [1.0, 1.0]]))
    assert np.allclose(m.A[0], [0.25, 0.75])
    assert np.allclose(m.A[1], [0.5, 0.5])  # zero-mass row -> uniform
    m.validate()


def test_sequential_em_loglik_monotone():
    rng = np.random.default_rng(5)
    seqs = [rng.integers(0, 4, size=rng.integers(5, 60)) for _ in range(20)]
    init = HMM.random(3, 4, seed=9)
    model, trace = sequential_baum_welch(init, seqs, max_iter=15)
    model.validate()
    diffs = np.diff(trace)
    assert np.all(diffs > -1e-8), f"log-likelihood decreased: {trace}"


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(2, 5),
    m=st.integers(2, 6),
    seed=st.integers(0, 10_000),
)
def test_property_em_keeps_models_stochastic(n, m, seed):
    """Property (SURVEY §5.3): every iteration keeps pi/A/B row-stochastic."""
    rng = np.random.default_rng(seed)
    seqs = [rng.integers(0, m, size=rng.integers(1, 30)) for _ in range(8)]
    init = HMM.random(n, m, seed=seed)
    model, trace = sequential_baum_welch(init, seqs, max_iter=3)
    model.validate()
    assert np.all(np.diff(trace) > -1e-8)


def test_single_observation_sequence():
    """Edge: length-1 sequence (FIXTURES.md requires it)."""
    m = MODEL_TINY
    cpi = np.zeros(2); cA = np.zeros((2, 2)); cB = np.zeros((2, 2))
    ll = e_step_counts(m.pi, m.A, m.B, np.array([1]), cpi, cA, cB)
    assert np.isclose(cpi.sum(), 1.0)
    assert cA.sum() == 0.0  # no transitions in a length-1 sequence
    assert np.isclose(cB.sum(), 1.0)
    assert np.isclose(np.exp(ll), m.pi @ m.B[:, 1])


def test_batch_e_step_matches_per_sequence():
    """Batched (packed) kernel == per-sequence kernel to machine precision,
    including length-1 and max-length sequences in the same batch."""
    rng = np.random.default_rng(17)
    m = HMM.random(4, 6, seed=17)
    seqs = [rng.integers(0, 6, size=n) for n in [1, 3, 50, 50, 7, 29, 1, 64]]

    from baum_welch_spark.hmm.kernel import e_step_counts_batch

    p1 = np.zeros(4); A1 = np.zeros((4, 4)); B1 = np.zeros((4, 6))
    ll1 = sum(e_step_counts(m.pi, m.A, m.B, o, p1, A1, B1) for o in seqs)
    p2 = np.zeros(4); A2 = np.zeros((4, 4)); B2 = np.zeros((4, 6))
    ll2 = e_step_counts_batch(m.pi, m.A, m.B, seqs, p2, A2, B2)
    assert np.isclose(ll1, ll2, rtol=1e-12)
    np.testing.assert_allclose(p1, p2, atol=1e-12)
    np.testing.assert_allclose(A1, A2, atol=1e-12)
    np.testing.assert_allclose(B1, B2, atol=1e-12)


def test_batch_e_step_length_skew_bounded_and_exact():
    """VERDICT-r9 #5 (SURVEY §7 hard part #1): a pathological 10⁵-length
    outlier among 10³ short sequences must NOT inflate the whole batch's
    DP cost — the packed layout holds exactly Σ T_s rows and its recursion
    runs max T steps, each over only the sequences still alive — and the
    packed counts must still match the per-sequence kernel."""
    from baum_welch_spark.hmm.kernel import e_step_counts_batch, pack

    rng = np.random.default_rng(23)
    short = [rng.integers(0, 5, size=int(rng.integers(4, 17))) for _ in range(1000)]
    outlier = rng.integers(0, 5, size=100_000)
    seqs = short + [outlier]
    lens = [len(o) for o in seqs]

    # cost: the structural fix, independent of wall-clock noise. Padding
    # to max(T) would cost max(T)·S ≈ 1e8 cells; packed rows are Σ T_s.
    [p] = pack(seqs, 3, n_symbols=5)
    assert len(p.obs) == p.offs[-1] == sum(lens)
    assert len(p.sizes) == max(lens)  # the recursion's Python steps
    assert p.sizes == [sum(t > step for t in lens) for step in range(17)] + [1] * (max(lens) - 17)
    assert sorted(p.idx.tolist()) == list(range(len(seqs)))

    m = HMM.random(3, 5, seed=23)
    p1 = np.zeros(3); A1 = np.zeros((3, 3)); B1 = np.zeros((3, 5))
    ll1 = sum(e_step_counts(m.pi, m.A, m.B, o, p1, A1, B1) for o in seqs)
    p2 = np.zeros(3); A2 = np.zeros((3, 3)); B2 = np.zeros((3, 5))
    ll2 = e_step_counts_batch(m.pi, m.A, m.B, seqs, p2, A2, B2)
    assert np.isclose(ll1, ll2, rtol=1e-10)
    np.testing.assert_allclose(p1, p2, atol=1e-10)
    np.testing.assert_allclose(A1, A2, atol=1e-10)
    np.testing.assert_allclose(B1, B2, rtol=1e-9, atol=1e-10)


def test_batch_e_step_length_skew_weighted_matches():
    """The weights path follows the length-sort permutation: weighted
    packed counts == weighted per-sequence counts with a skewed batch."""
    from baum_welch_spark.hmm.kernel import e_step_counts_batch

    rng = np.random.default_rng(29)
    seqs = [rng.integers(0, 4, size=n) for n in [2, 3, 500, 5, 70, 2, 1033, 9]]
    w = rng.uniform(0.5, 3.0, size=len(seqs))
    m = HMM.random(3, 4, seed=29)
    p1 = np.zeros(3); A1 = np.zeros((3, 3)); B1 = np.zeros((3, 4))
    ll1 = 0.0
    for o, wi in zip(seqs, w):
        pt = np.zeros(3); At = np.zeros((3, 3)); Bt = np.zeros((3, 4))
        ll1 += wi * e_step_counts(m.pi, m.A, m.B, o, pt, At, Bt)
        p1 += wi * pt; A1 += wi * At; B1 += wi * Bt
    p2 = np.zeros(3); A2 = np.zeros((3, 3)); B2 = np.zeros((3, 4))
    ll2 = e_step_counts_batch(m.pi, m.A, m.B, seqs, p2, A2, B2, weights=w)
    assert np.isclose(ll1, ll2, rtol=1e-10)
    np.testing.assert_allclose(p1, p2, atol=1e-10)
    np.testing.assert_allclose(A1, A2, rtol=1e-9, atol=1e-10)
    np.testing.assert_allclose(B1, B2, rtol=1e-9, atol=1e-10)


# -- batched decode kernels: viterbi_batch / loglik_batch ---------------------

# structural zeros: state 0 only at t = 0 and no 0 -> 2 / 1 -> 0 / 2 -> 1
# moves, so some (state, step) cells have every Viterbi candidate at -inf and
# argmax resolves an all -inf tie; B has full support, so every sequence
# keeps a finite likelihood
MODEL_ZEROS = HMM(
    pi=np.array([1.0, 0.0, 0.0]),
    A=np.array([[0.5, 0.5, 0.0], [0.0, 0.5, 0.5], [0.3, 0.0, 0.7]]),
    B=np.array([[0.6, 0.3, 0.1], [0.1, 0.6, 0.3], [0.3, 0.1, 0.6]]),
).validate()

# one skewed batch: octave edges, repeated lengths, and a >1000 tail
SKEW_LENS = [1, 2, 3, 4, 7, 8, 15, 16, 1, 16, 40, 1500, 2]


def _log_model(m: HMM):
    with np.errstate(divide="ignore"):
        return np.log(m.pi), np.log(m.A), np.log(m.B)


def _viterbi(log_pi, log_A, log_B, seqs):
    """kernel.viterbi_batch over every packed chunk of ``seqs``."""
    from baum_welch_spark.hmm.kernel import symbol_emit, viterbi_paths

    return viterbi_paths(log_pi, log_A, symbol_emit(log_B), seqs, log_B.shape[1])


def _logliks(m: HMM, seqs):
    """kernel.loglik_batch over every packed chunk of ``seqs``, summed per
    sequence."""
    from baum_welch_spark.hmm.kernel import loglik_batch, pack, symbol_emit

    out = np.empty(len(seqs))
    for p in pack(seqs, m.n_hidden, n_symbols=m.n_observed):
        out[p.idx] = p.seq_sum(loglik_batch(m.pi, m.A, symbol_emit(m.B)(p.obs), p))
    return out


@pytest.mark.parametrize(
    "model", [MODEL_ZEROS, HMM.random(4, 5, seed=42)], ids=["structural-zeros", "random"]
)
def test_batch_decode_kernels_match_per_sequence(model):
    """viterbi_batch is BITWISE equal to looping decode._viterbi_one (paths,
    path dtype and scores), and loglik_batch agrees with forward_backward's
    loglik to 1e-12 relative, over one length-skewed batch."""
    from baum_welch_spark.hmm.decode import _viterbi_one

    rng = np.random.default_rng(41)
    seqs = [rng.integers(0, model.n_observed, size=t) for t in SKEW_LENS]
    lp, lA, lB = _log_model(model)
    paths, scores = _viterbi(lp, lA, lB, seqs)
    lls = _logliks(model, seqs)
    assert len(paths) == len(scores) == len(lls) == len(seqs)
    for obs, path, score, ll in zip(seqs, paths, scores, lls):
        ref_path, ref_score = _viterbi_one(lp, lA, lB, obs)
        assert path.dtype == ref_path.dtype and np.array_equal(path, ref_path)
        assert score == ref_score  # bitwise, not approx
        ref_ll = forward_backward(model.pi, model.A, model.B, obs)[3]
        assert np.isfinite(ll) and abs(ll - ref_ll) <= 1e-12 * abs(ref_ll)


def test_viterbi_batch_seq_chunk_cap_is_bitwise_invisible(monkeypatch):
    """The cell budget on a chunk's arrays (its psi rows and per-step
    candidate block) must not change results: a budget of 1 cell splits
    the batch into one-sequence chunks."""
    import baum_welch_spark.hmm.kernel as kernel

    rng = np.random.default_rng(43)
    seqs = [rng.integers(0, 3, size=t) for t in SKEW_LENS]
    lp, lA, lB = _log_model(MODEL_ZEROS)
    assert len(list(kernel.pack(seqs, 3, 9, n_symbols=3))) == 1
    full_paths, full_scores = _viterbi(lp, lA, lB, seqs)
    monkeypatch.setattr(kernel, "_CELL_BUDGET", 1)
    assert len(list(kernel.pack(seqs, 3, 9, n_symbols=3))) == len(seqs)
    paths, scores = _viterbi(lp, lA, lB, seqs)
    assert np.array_equal(scores, full_scores)
    assert all(np.array_equal(a, b) for a, b in zip(paths, full_paths))


def test_e_step_chunk_cap_is_invisible(monkeypatch):
    """The cell budget splits the E-step's batch too: one-sequence chunks
    give the same counts and loglik to 1e-12 (only the summation order
    across chunks changes), weighted or not."""
    import baum_welch_spark.hmm.kernel as kernel

    rng = np.random.default_rng(47)
    m = HMM.random(3, 4, seed=47)
    seqs = [rng.integers(0, 4, size=t) for t in SKEW_LENS]
    w = rng.uniform(0.5, 3.0, size=len(seqs))

    def counts(weights):
        c = [np.zeros(3), np.zeros((3, 3)), np.zeros((3, 4))]
        return kernel.e_step_counts_batch(m.pi, m.A, m.B, seqs, *c, weights=weights), c

    full = [counts(None), counts(w)]
    monkeypatch.setattr(kernel, "_CELL_BUDGET", 1)
    assert len(list(kernel.pack(seqs, 3, n_symbols=4))) == len(seqs)
    for (ll_full, c_full), (ll, c) in zip(full, [counts(None), counts(w)]):
        assert ll == pytest.approx(ll_full, rel=1e-12)
        for a, b in zip(c, c_full):
            np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-12)


def test_batch_decode_kernels_zero_probability_sequence():
    """[1, 0, 1] under pi = [1, 0], B[0] = [1, 0] has probability 0: it
    scores -inf in both kernels (forward_backward gives NaN), and its
    batch-mates score bit-for-bit what they score without it."""
    m = HMM(
        pi=np.array([1.0, 0.0]),
        A=np.full((2, 2), 0.5),
        B=np.array([[1.0, 0.0], [0.5, 0.5]]),
    ).validate()
    lp, lA, lB = _log_model(m)
    good = [np.array([0, 0, 1]), np.array([0, 1, 0]), np.array([0, 1, 1])]
    mixed = [good[0], np.array([1, 0, 1]), good[1], good[2]]
    with np.errstate(invalid="raise", divide="raise"):
        lls = _logliks(m, mixed)
        _, scores = _viterbi(lp, lA, lB, mixed)
    assert lls[1] == -np.inf and scores[1] == -np.inf
    keep = [0, 2, 3]
    assert np.array_equal(lls[keep], _logliks(m, good))
    assert np.array_equal(scores[keep], _viterbi(lp, lA, lB, good)[1])
    assert np.all(np.isfinite(lls[keep]))


@pytest.mark.parametrize("bad", [-1, 5])
def test_batch_decode_kernels_reject_out_of_range_symbols(bad):
    m = HMM.random(3, 5, seed=5)
    seqs = [np.array([0, 1, 2]), np.array([0, bad, 0])]
    with pytest.raises(ValueError, match=rf"symbol {bad} .*M=5"):
        _logliks(m, seqs)
    with pytest.raises(ValueError, match=rf"symbol {bad} .*M=5"):
        _viterbi(*_log_model(m), seqs)


# -- the packed time-major layout: property test over length mixes ------------

def _packed_case_lens(case: str, rng) -> np.ndarray:
    return {
        "random": lambda: rng.integers(1, 80, size=40),
        "all_one": lambda: np.ones(30, dtype=np.int64),
        "all_equal": lambda: np.full(20, 17),
        "long_tail": lambda: np.concatenate([rng.integers(1, 9, size=1000), [2000]]),
    }[case]()


@pytest.mark.parametrize("case", ["random", "all_one", "all_equal", "long_tail"])
def test_packed_kernels_match_per_sequence_references(case):
    """Every batched kernel on the packed layout, over a length mix given
    in shuffled order, against the per-sequence references: discrete
    counts (weighted or not) and Gaussian moments and loglik at 1e-12,
    Viterbi bitwise; a zero-probability sequence among batch-mates is
    loud and leaves theirs alone; a symbol -1 or M raises."""
    from baum_welch_spark.hmm.decode import _viterbi_one
    from baum_welch_spark.hmm.gaussian import GaussianHMM, e_step_moments, e_step_moments_batch
    from baum_welch_spark.hmm.kernel import e_step_counts_batch, pack

    rng = np.random.default_rng(53)
    lens = _packed_case_lens(case, rng)
    lens = lens[rng.permutation(len(lens))]
    m = HMM.random(3, 4, seed=53)
    seqs = [rng.integers(0, 4, size=int(t)) for t in lens]

    # the layout: Σ T rows, max T steps, longest first (stable), and its
    # row permutation round-trips
    [p] = pack(seqs, m.n_hidden, n_symbols=m.n_observed)
    assert p.offs[-1] == len(p.obs) == lens.sum() and len(p.sizes) == lens.max()
    assert np.array_equal(p.idx, np.argsort(-lens, kind="stable"))
    assert all(np.array_equal(a, seqs[i]) for a, i in zip(p.unpack(p.obs), p.idx))

    # discrete counts and loglik, unweighted and weighted
    w = rng.uniform(0.5, 3.0, size=len(seqs))
    for weights in (None, w):
        ref = [np.zeros(3), np.zeros((3, 3)), np.zeros((3, 4))]
        ref_ll = 0.0
        for s, o in enumerate(seqs):
            c = [np.zeros(3), np.zeros((3, 3)), np.zeros((3, 4))]
            ws = 1.0 if weights is None else weights[s]
            ref_ll += ws * e_step_counts(m.pi, m.A, m.B, o, *c)
            for r, x in zip(ref, c):
                r += ws * x
        got = [np.zeros(3), np.zeros((3, 3)), np.zeros((3, 4))]
        ll = e_step_counts_batch(m.pi, m.A, m.B, seqs, *got, weights=weights)
        assert ll == pytest.approx(ref_ll, rel=1e-12)
        for a, b in zip(got, ref):
            np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-12)

    # Viterbi, bitwise
    lp, lA, lB = _log_model(m)
    paths, scores = _viterbi(lp, lA, lB, seqs)
    for o, path, score in zip(seqs, paths, scores):
        ref_path, ref_score = _viterbi_one(lp, lA, lB, o)
        assert path.dtype == ref_path.dtype and np.array_equal(path, ref_path)
        assert score == ref_score

    # Gaussian moments and loglik
    g = GaussianHMM.random(3, seed=53, lo=0.0, hi=10.0)
    xs = [rng.uniform(0, 10, size=int(t)) for t in lens]
    ref = [np.zeros(3), np.zeros((3, 3)), np.zeros((3, 3))]
    ref_ll = sum(e_step_moments(g, x, *ref) for x in xs)
    got = [np.zeros(3), np.zeros((3, 3)), np.zeros((3, 3))]
    assert e_step_moments_batch(g, xs, *got) == pytest.approx(ref_ll, rel=1e-12)
    for a, b in zip(got, ref):
        np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-12)

    # a zero-probability sequence among batch-mates: every sequence starts
    # in state 0, which never emits symbol 1
    z = HMM(
        pi=np.array([1.0, 0.0]), A=np.full((2, 2), 0.5), B=np.array([[1.0, 0.0], [0.5, 0.5]])
    ).validate()
    good = [np.concatenate([[0], rng.integers(0, 2, size=int(t) - 1)]) for t in lens]
    bad = int(rng.integers(0, len(good) + 1))
    mixed = good[:bad] + [np.array([1, 0, 1])] + good[bad:]
    with np.errstate(divide="ignore", invalid="ignore"):
        lls = _logliks(z, mixed)
        _, vscores = _viterbi(*_log_model(z), mixed)
        c = [np.zeros(2), np.zeros((2, 2)), np.zeros((2, 2))]
        e_step_counts_batch(z.pi, z.A, z.B, mixed, *c)
    assert lls[bad] == -np.inf and vscores[bad] == -np.inf
    assert not all(np.isfinite(x).all() for x in c)  # em.decode raises on it
    keep = np.arange(len(mixed)) != bad
    ref_lls = np.array([forward_backward(z.pi, z.A, z.B, o)[3] for o in good])
    assert np.isfinite(lls[keep]).all()
    np.testing.assert_allclose(lls[keep], ref_lls, rtol=1e-12)

    # out-of-range symbols raise, wherever the sequence sorts
    for sym in (-1, m.n_observed):
        broken = list(seqs)
        broken[int(rng.integers(0, len(seqs)))] = np.array([0, sym, 0])
        with pytest.raises(ValueError, match=rf"symbol {sym} .*M=4"):
            e_step_counts_batch(m.pi, m.A, m.B, broken, np.zeros(3), np.zeros((3, 3)), np.zeros((3, 4)))
        with pytest.raises(ValueError, match=rf"symbol {sym} .*M=4"):
            _viterbi(lp, lA, lB, broken)
