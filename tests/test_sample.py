"""FFBS posterior path sampling (hmm/sample.py): statistical and structural
checks against the exact forward-backward posterior."""

import numpy as np
from pyspark.sql import functions as F

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.kernel import forward_backward
from baum_welch_spark.hmm.sample import posterior_sample
from baum_welch_spark.operators.sequences import build_sequences
from baum_welch_spark.sources.io import load_table

from conftest import SF0001

N, M = 3, 5


def _seqs(spark, limit=20):
    events = load_table(spark, SF0001, "events")
    return build_sequences(events).orderBy("seq_id").limit(limit)


def test_ffbs_marginals_match_gamma(spark):
    """Empirical per-step state frequencies over many draws must converge
    to the exact posterior marginals gamma_t = alpha_t * beta_t."""
    model = HMM.random(N, M, seed=3)
    seqs = _seqs(spark, limit=8).cache()
    n_samples = 600
    rows = posterior_sample(spark, seqs, model, n_samples=n_samples, seed=7).collect()
    by_seq = {}
    for r in rows:
        by_seq.setdefault(r.seq_id, []).append([int(s) for s in r.path_str.split(",")])
    obs_by_seq = {r.seq_id: np.asarray(r.obs, dtype=np.int64) for r in seqs.collect()}
    assert set(by_seq) == set(obs_by_seq)
    worst = 0.0
    for sid, paths in by_seq.items():
        P = np.array(paths)  # (n_samples, T)
        assert P.shape == (n_samples, len(obs_by_seq[sid]))
        alpha, beta, _, _ = forward_backward(model.pi, model.A, model.B, obs_by_seq[sid])
        gamma = alpha * beta
        gamma /= gamma.sum(axis=1, keepdims=True)
        for t in range(P.shape[1]):
            emp = np.bincount(P[:, t], minlength=N) / n_samples
            worst = max(worst, float(np.abs(emp - gamma[t]).max()))
    # binomial std at p=0.5, n=600 is ~0.02; 0.08 is a ~4-sigma band
    assert worst < 0.08, worst
    seqs.unpersist()


def test_ffbs_transition_structure(spark):
    """Sampled paths must respect structural zeros: under a Bakis model a
    draw can never use a masked transition."""
    mask = HMM.bakis_mask(N, bandwidth=1)
    model = HMM.random_masked(N, M, mask, seed=5)
    seqs = _seqs(spark, limit=10)
    rows = posterior_sample(spark, seqs, model, n_samples=20, seed=11).collect()
    assert rows
    for r in rows:
        path = [int(s) for s in r.path_str.split(",")]
        assert path[0] == 0  # pi = e_0
        for a, b in zip(path, path[1:]):
            assert mask[a, b], (a, b)


def test_ffbs_deterministic_and_partition_invariant(spark):
    """Same (seed, seq_id) -> same draws, independent of partitioning."""
    model = HMM.random(N, M, seed=3)
    seqs = _seqs(spark, limit=10)
    a = sorted(
        (r.seq_id, r.sample_id, r.path_str)
        for r in posterior_sample(spark, seqs, model, n_samples=3, seed=9).collect()
    )
    b = sorted(
        (r.seq_id, r.sample_id, r.path_str)
        for r in posterior_sample(
            spark, seqs.repartition(7), model, n_samples=3, seed=9
        ).collect()
    )
    assert a == b and len(a) == 30


def test_posterior_entropy_matches_enumeration(spark):
    """The O(T N^2) entropy recursion must equal brute-force enumeration
    over all N^T paths (exact posterior entropy) on short sequences."""
    from itertools import product

    from baum_welch_spark.hmm.sample import posterior_entropy

    model = HMM.random(N, M, seed=17)
    rng = np.random.default_rng(0)
    seqs = [(i, [int(x) for x in rng.integers(0, M, size=6)]) for i in range(5)]
    df = spark.createDataFrame(seqs, "seq_id bigint, obs array<int>")
    got = {r.seq_id: (r.loglik, r.entropy) for r in posterior_entropy(spark, df, model).collect()}
    for sid, obs in seqs:
        obs = np.asarray(obs)
        T = len(obs)
        joint = []
        for path in product(range(N), repeat=T):
            p = model.pi[path[0]] * model.B[path[0], obs[0]]
            for t in range(1, T):
                p *= model.A[path[t - 1], path[t]] * model.B[path[t], obs[t]]
            joint.append(p)
        joint = np.asarray(joint)
        Z = joint.sum()
        post = joint / Z
        nz = post > 0
        exact_H = float(-(post[nz] * np.log(post[nz])).sum())
        ll, h = got[sid]
        assert abs(ll - np.log(Z)) < 1e-8
        assert abs(h - exact_H) < 1e-8, (h, exact_H)


def test_posterior_entropy_zero_for_deterministic_chain(spark):
    """A deterministic cycle with state-revealing emissions has exactly one
    possible path -> entropy 0."""
    from baum_welch_spark.hmm.sample import posterior_entropy

    A = np.array([[0.0, 1.0], [1.0, 0.0]])
    B = np.array([[1.0, 0.0], [0.0, 1.0]])
    model = HMM(pi=np.array([1.0, 0.0]), A=A, B=B)
    df = spark.createDataFrame([(1, [0, 1, 0, 1])], "seq_id bigint, obs array<int>")
    r = posterior_entropy(spark, df, model).collect()[0]
    assert abs(r.entropy) < 1e-12 and abs(r.entropy_rate) < 1e-12


def test_ffbs_kernel_clips_unit_uniform():
    """Counter uniforms CAN be exactly 1.0 (a hash in the top 2^7 of 2^60
    rounds up in the int->double conversion); the t = T-1 draw must clip to
    N-1 instead of indexing out of range, and the backward draws' strict-
    less count already tops out at N-1. One packed chunk of lengths 4 and
    5, drawn by the batched kernel."""
    import numpy as np

    from baum_welch_spark.hmm.kernel import forward_batch, pack, symbol_emit
    from baum_welch_spark.hmm.sample import _ffbs_batch

    pi = np.array([0.5, 0.5])
    A = np.array([[0.9, 0.1], [0.1, 0.9]])
    B = np.array([[0.7, 0.3], [0.2, 0.8]])
    [p] = pack([np.array([0, 1, 0, 1]), np.array([1, 1, 0, 0, 1])], 2, n_symbols=2)
    alpha, _ = forward_batch(pi, A, symbol_emit(B)(p.obs), p)
    u = np.ones((9, 3))  # every draw at the extreme
    draws = _ffbs_batch(A, alpha, p, u)
    assert draws.shape == (9, 3)
    assert ((draws >= 0) & (draws <= 1)).all()
    # u = 0 hits the other edge (first bucket everywhere)
    draws0 = _ffbs_batch(A, alpha, p, np.zeros((9, 3)))
    assert ((draws0 >= 0) & (draws0 <= 1)).all()


def test_u01_block_is_the_md5_hex_convention():
    """The counter uniforms (hashed from a per-sample prefix, the digest's
    first 60 bits) are bitwise the MD5(seed:seq:k:t)[:15 hex] / 2^60 that
    ffbs_oracle_sql replays, including t past 9 and 99, negative ids and
    large seeds."""
    import hashlib

    from baum_welch_spark.hmm.sample import _HASH_SCALE, _u01_block

    for seed, seq_id, n_samples, t_len in [(42, 7, 3, 120), (0, -5, 1, 1), (2**40, 2**62, 2, 13)]:
        ref = np.array([
            [int(hashlib.md5(f"{seed}:{seq_id}:{k}:{t}".encode()).hexdigest()[:15], 16) / _HASH_SCALE
             for t in range(t_len)]
            for k in range(n_samples)
        ])
        got = _u01_block(seed, seq_id, n_samples, t_len)
        assert got.shape == ref.shape and got.tobytes() == ref.tobytes()


def test_generate_kernel_clips_unit_uniform():
    import numpy as np

    from baum_welch_spark.hmm.generate import _sample_one

    cum_pi = np.array([0.5, 1.0])
    cum_A = np.array([[0.9, 1.0], [0.1, 1.0]])
    cum_B = np.array([[0.7, 1.0], [0.2, 1.0]])
    states, obs = _sample_one(np.ones(6), np.ones(6), cum_pi, cum_A, cum_B)
    assert ((states >= 0) & (states <= 1)).all()
    assert ((obs >= 0) & (obs <= 1)).all()
    states0, obs0 = _sample_one(np.zeros(6), np.zeros(6), cum_pi, cum_A, cum_B)
    assert ((states0 >= 0) & (states0 <= 1)).all()
