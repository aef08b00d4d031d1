"""Gaussian-emission HMM (hmm/gaussian.py): the batched kernels under the
Gaussian emission term vs brute-force path enumeration and the
per-sequence reference, distributed EM vs the sequential NumPy oracle, and
the DuckDB face parity is covered by tools/check_oracle.py (ghmm_viterbi /
ghmm_score)."""

import numpy as np
import pytest

from baum_welch_spark.hmm.gaussian import (
    GaussianHMM,
    _check_mass,
    _emit,
    build_value_sequences,
    e_step_moments,
    e_step_moments_batch,
    fit_gaussian,
    log_density,
    m_step_gauss,
    score_gauss,
    sequential_gauss_em,
    viterbi_gauss,
)
from baum_welch_spark.hmm.kernel import (
    forward_backward_batch,
    loglik_batch,
    pack,
    viterbi_paths,
)
from baum_welch_spark.sources.io import load_table

from conftest import SF0001

N = 3


def _model():
    return GaussianHMM.random(N, seed=5, lo=0.0, hi=10.0)


def _enum_joint(model, x):
    """All N^T path joint log-densities by brute force."""
    import itertools

    logb = log_density(model)(x)
    with np.errstate(divide="ignore"):
        lpi, lA = np.log(model.pi), np.log(model.A)
    T = len(x)
    out = {}
    for path in itertools.product(range(N), repeat=T):
        ll = lpi[path[0]] + logb[0, path[0]]
        for t in range(1, T):
            ll += lA[path[t - 1], path[t]] + logb[t, path[t]]
        out[path] = ll
    return out


def test_forward_backward_matches_enumeration():
    """The batched forward-backward and forward-only kernels under the
    Gaussian emission term, on one packed chunk of lengths 6 and 4."""
    rng = np.random.default_rng(0)
    model = _model()
    xs = [rng.uniform(0, 10, size=6), rng.uniform(0, 10, size=4)]
    [p] = pack(xs, N)
    E = _emit(model)(p.obs)
    alpha, beta, scale = forward_backward_batch(model.pi, model.A, E, p)
    lls = p.seq_sum(loglik_batch(model.pi, model.A, E, p))
    gammas = p.unpack(alpha * beta)
    for col, i in enumerate(p.idx):
        x = xs[i]
        joint = _enum_joint(model, x)
        total = np.logaddexp.reduce(list(joint.values()))
        assert p.seq_sum(np.log(scale))[col] == pytest.approx(total, abs=1e-10)
        assert lls[col] == pytest.approx(total, abs=1e-10)
        # posterior marginals from enumeration == alpha*beta (gamma)
        gamma = gammas[col]
        for t in range(len(x)):
            for q in range(N):
                marg = np.logaddexp.reduce(
                    [v for p, v in joint.items() if p[t] == q]
                )
                assert gamma[t, q] == pytest.approx(np.exp(marg - total), abs=1e-10)


def test_viterbi_matches_enumeration():
    rng = np.random.default_rng(1)
    model = _model()
    xs = [rng.uniform(0, 10, size=t) for t in (5, 5, 4, 6, 5)]
    with np.errstate(divide="ignore"):
        lpi, lA = np.log(model.pi), np.log(model.A)
    paths, scores = viterbi_paths(lpi, lA, log_density(model), xs)
    for x, path, ll in zip(xs, paths, scores):
        joint = _enum_joint(model, x)
        best = max(joint, key=joint.get)
        assert tuple(path) == best
        assert ll == pytest.approx(joint[best], abs=1e-10)


def test_e_step_moments_batch_matches_per_sequence():
    """The batched Gaussian E-step over one mixed-length batch (one packed
    chunk, sequences ending at many steps) equals e_step_moments summed
    per sequence to 1e-10."""
    rng = np.random.default_rng(3)
    model = _model()
    xs = [rng.uniform(0, 10, size=t) for t in (1, 2, 3, 5, 7, 8, 13, 16, 40, 300, 2, 9)]
    ref = [np.zeros(N), np.zeros((N, N)), np.zeros((N, 3))]
    ref_ll = sum(e_step_moments(model, x, *ref) for x in xs)
    got = [np.zeros(N), np.zeros((N, N)), np.zeros((N, 3))]
    ll = e_step_moments_batch(model, xs, *got)
    assert ll == pytest.approx(ref_ll, rel=1e-10)
    for a, b in zip(got, ref):
        np.testing.assert_allclose(a, b, rtol=1e-10, atol=1e-10)


def test_e_step_moments_identities():
    """Σγ summed over states == T; Σγx summed over states == Σx (γ rows
    are a distribution per t)."""
    rng = np.random.default_rng(2)
    model = _model()
    x = rng.uniform(0, 10, size=40)
    cpi, cA, cm = np.zeros(N), np.zeros((N, N)), np.zeros((N, 3))
    e_step_moments(model, x, cpi, cA, cm)
    assert cpi.sum() == pytest.approx(1.0, abs=1e-10)
    assert cm[:, 0].sum() == pytest.approx(len(x), abs=1e-8)
    assert cm[:, 1].sum() == pytest.approx(x.sum(), abs=1e-8)
    assert cm[:, 2].sum() == pytest.approx((x * x).sum(), abs=1e-6)
    assert cA.sum() == pytest.approx(len(x) - 1, abs=1e-8)


def test_m_step_zero_mass_state_keeps_emission_params():
    model = _model()
    cpi = np.array([1.0, 0.0, 0.0])
    cA = np.zeros((N, N))
    cm = np.zeros((N, 3))
    cm[0] = [10.0, 20.0, 50.0]  # only state 0 has mass
    new = m_step_gauss(model, cpi, cA, cm)
    assert new.mu[0] == pytest.approx(2.0)
    np.testing.assert_allclose(new.mu[1:], model.mu[1:])
    np.testing.assert_allclose(new.sigma2[1:], model.sigma2[1:], atol=1e-12)
    # zero-mass A rows go uniform
    np.testing.assert_allclose(new.A, np.full((N, N), 1.0 / N))


def test_fit_gaussian_matches_sequential_oracle(spark):
    events = load_table(spark, SF0001, "events")
    seqs = build_value_sequences(events)
    init = GaussianHMM.random(3, seed=42, lo=0.0, hi=500.0)
    dist = fit_gaussian(spark, seqs, init, max_iter=4)
    seq_list = [
        np.asarray(r.obs, dtype=np.float64)
        for r in seqs.collect()
        if r.obs
    ]
    ref_model, ref_trace = sequential_gauss_em(init, seq_list, max_iter=4)
    np.testing.assert_allclose(dist.loglik_trace, ref_trace, rtol=1e-8)
    np.testing.assert_allclose(dist.model.pi, ref_model.pi, atol=1e-8)
    np.testing.assert_allclose(dist.model.A, ref_model.A, atol=1e-8)
    np.testing.assert_allclose(dist.model.mu, ref_model.mu, rtol=1e-8)
    np.testing.assert_allclose(dist.model.sigma2, ref_model.sigma2, rtol=1e-8)
    # EM monotonicity
    t = dist.loglik_trace
    assert all(b >= a - 1e-6 for a, b in zip(t, t[1:])), t


def test_value_sequences_total_order(spark):
    events = load_table(spark, SF0001, "events")
    seqs = {r.seq_id: list(r.obs) for r in build_value_sequences(events).collect()}
    rows = events.select("user_id", "ts", "event_id", "value").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    for uid, items in by_user.items():
        expect = [v for _, _, v in sorted(items)]
        assert seqs[uid] == pytest.approx(expect)


def test_decode_score_consistency(spark):
    """Viterbi joint loglik <= marginal loglik per sequence, decode paths
    are valid states, t_len matches."""
    events = load_table(spark, SF0001, "events")
    seqs = build_value_sequences(events)
    model = GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    dec = {r.seq_id: r for r in viterbi_gauss(spark, seqs, model).collect()}
    sc = {r.seq_id: r for r in score_gauss(spark, seqs, model).collect()}
    assert set(dec) == set(sc) and dec
    for sid, d in dec.items():
        states = [int(s) for s in d.path_str.split(",")]
        assert all(0 <= s < 4 for s in states)
        assert len(states) == sc[sid].t_len
        assert d.loglik <= sc[sid].loglik + 1e-9


def test_forward_backward_underflow_raises_not_nan():
    """A far-outlier observation with collapsed variances must raise a
    descriptive error naming the step, not silently NaN every downstream
    alpha/loglik (ADVICE-r8: scale[t] == 0 guard), in the batched E-step
    and the batched scoring pass alike. Only a sequence's own steps count:
    the shorter sequence ending early must not raise."""
    m = GaussianHMM(
        pi=np.array([0.5, 0.5]),
        A=np.array([[0.9, 0.1], [0.1, 0.9]]),
        mu=np.array([10.0, 11.0]),
        sigma2=np.array([1e-6, 1e-6]),
    )

    def run(xs):
        counts = [np.zeros(2), np.zeros((2, 2)), np.zeros((2, 3))]
        ll = e_step_moments_batch(m, xs, *counts)
        [p] = pack(xs, 2)
        log_scale = loglik_batch(m.pi, m.A, _emit(m)(p.obs), p)
        _check_mass(log_scale, p.offs)
        return ll, counts, p.seq_sum(log_scale)

    # in-range observations still work under the floored variance, with
    # the shorter sequence ending a step early
    ll, counts, lls = run([np.array([10.0, 11.0, 10.0]), np.array([10.0, 11.0])])
    assert np.isfinite(ll) and np.isfinite(lls).all()
    assert all(np.isfinite(c).all() for c in counts)
    # an observation ~1e4 sigma away underflows every state's density
    with pytest.raises(FloatingPointError, match="zero forward mass at t=1"):
        e_step_moments_batch(
            m, [np.array([10.0, 11.0, 10.0]), np.array([10.0, 60.0])],
            np.zeros(2), np.zeros((2, 2)), np.zeros((2, 3)),
        )
    with pytest.raises(FloatingPointError, match="zero forward mass at t=1"):
        run([np.array([10.0, 60.0])])


def test_fit_gaussian_resume_from_parquet_equals_straight_run(spark, tmp_path):
    """Checkpoint/restart equivalence for the Gaussian family (the twin of
    the discrete pin in test_fit.py): fit 2 + parquet roundtrip + fit 2 ==
    fit 4, bit-exact — EM is deterministic in (model, corpus) and the
    model roundtrip is exact on doubles."""
    events = load_table(spark, SF0001, "events")
    seqs = build_value_sequences(events).cache()
    init = GaussianHMM.random(3, seed=42, lo=0.0, hi=500.0)
    straight = fit_gaussian(spark, seqs, init, max_iter=4).model

    half = fit_gaussian(spark, seqs, init, max_iter=2).model
    half.write(spark, str(tmp_path / "gm"))
    reloaded = GaussianHMM.read(spark, str(tmp_path / "gm"))
    resumed = fit_gaussian(spark, seqs, reloaded, max_iter=2).model

    np.testing.assert_array_equal(resumed.pi, straight.pi)
    np.testing.assert_array_equal(resumed.A, straight.A)
    np.testing.assert_array_equal(resumed.mu, straight.mu)
    np.testing.assert_array_equal(resumed.sigma2, straight.sigma2)

    # a row of unknown kind is a corrupt model, not one to skip
    spark.createDataFrame(
        [("bogus", 0, 0, 1.0)], schema="kind string, i int, j int, value double"
    ).write.mode("append").parquet(str(tmp_path / "gm"))
    with pytest.raises(ValueError, match="unexpected stripe kind 'bogus'"):
        GaussianHMM.read(spark, str(tmp_path / "gm"))


def test_ghmm_reestimate_matches_numpy_estep(spark):
    """The r10 DuckDB-exact face against the in-memory oracle: one
    distributed soft-EM step's normalized pi/A plus closed-form mu/var must
    equal e_step_moments + m_step_gauss run sequentially (1e-8)."""
    from baum_welch_spark.hmm.gaussian import ghmm_reestimate

    events = load_table(spark, SF0001, "events")
    seqs = build_value_sequences(events)
    model = GaussianHMM.random(N, seed=7, lo=0.0, hi=500.0)
    got = {
        (r.kind, r.i, r.j): r.val
        for r in ghmm_reestimate(spark, seqs, model).collect()
    }

    xs = [np.asarray(r.obs, dtype=np.float64) for r in seqs.collect()]
    cpi, cA, cm = np.zeros(N), np.zeros((N, N)), np.zeros((N, 3))
    for x in xs:
        e_step_moments(model, x, cpi, cA, cm)
    pi = cpi / cpi.sum()
    A = cA / cA.sum(axis=1, keepdims=True)
    mu = cm[:, 1] / cm[:, 0]
    var = np.maximum(cm[:, 2] / cm[:, 0] - mu * mu, 1e-6)
    for j in range(N):
        assert got[("initial", 0, j)] == pytest.approx(pi[j], abs=1e-6)
        assert got[("mu", j, 0)] == pytest.approx(mu[j], abs=1e-5)
        assert got[("var", j, 0)] == pytest.approx(var[j], rel=1e-6)
        for i in range(N):
            assert got[("transition", i, j)] == pytest.approx(A[i][j], abs=1e-6)
    assert len(got) == N + N * N + 2 * N


def _tidy_model(rows, n):
    """The unvalidated GaussianHMM in tidy (kind, i, j, val) rows."""
    from baum_welch_spark.hmm.em import decode

    b, _ = decode(
        rows,
        {"initial": (n,), "transition": (n, n), "mu": (n, 1), "var": (n, 1)},
        "val",
    )
    return GaussianHMM(
        pi=b["initial"], A=b["transition"], mu=b["mu"][:, 0], sigma2=b["var"][:, 0]
    )


def test_ghmm_em_trace_chains_rounded_models_and_matches_duckdb(spark):
    """Gaussian twin of the EM-loop pin: lap 2 of ghmm_em_trace must equal a
    fresh re-estimation step from lap 1's rounded model, and the trace must
    be bit-equal to the composed DuckDB oracle that recomputes lap 2's
    c1/c2 density coefficients from lap 1's own CTE output."""
    import duckdb

    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        _ghmm_reestimate_unchecked,
        build_value_sequences,
        gauss_trace_oracle_sql,
        ghmm_em_trace,
    )

    events = load_table(spark, SF0001, "events")
    seqs = build_value_sequences(events)
    model = GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    trace = ghmm_em_trace(spark, seqs, model, n_iters=2).collect()
    it1 = [r for r in trace if r.iter == 1]
    it2 = {(r.kind, r.i, r.j): r.val for r in trace if r.iter == 2}
    assert it1 and it2

    m1 = _tidy_model(it1, 4)
    fresh = {
        (r.kind, r.i, r.j): r.val
        for r in _ghmm_reestimate_unchecked(spark, seqs, m1).collect()
    }
    assert fresh == it2

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF0001}/events.parquet'")
    want = {
        (it, k, i, j): v
        for it, k, i, j, v in con.execute(gauss_trace_oracle_sql(model, 2)).fetchall()
    }
    got = {(r.iter, r.kind, r.i, r.j): r.val for r in trace}
    assert got == want

    with pytest.raises(ValueError):
        ghmm_em_trace(spark, seqs, model, n_iters=0)


def test_ghmm_loglik_trace_matches_score_chain_and_duckdb(spark):
    """ghmm_loglik_trace's lap 1 must equal score_gauss under the init
    model, lap 2 must equal scoring under lap 1's rounded re-estimate, and
    the whole trace must be bit-equal to the composed DuckDB oracle (the
    driver-exact graduation of ghmm_trace's loglik evidence)."""
    import duckdb

    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        _ghmm_reestimate_unchecked,
        _score_gauss_unchecked,
        build_value_sequences,
        gauss_loglik_trace_oracle_sql,
        ghmm_loglik_trace,
    )
    from pyspark.sql import functions as F

    events = load_table(spark, SF0001, "events")
    seqs = build_value_sequences(events)
    model = GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    trace = ghmm_loglik_trace(spark, seqs, model, n_iters=2).collect()
    got1 = {r.seq_id: r.loglik for r in trace if r.iter == 1}
    got2 = {r.seq_id: r.loglik for r in trace if r.iter == 2}
    assert got1 and set(got1) == set(got2)

    def scored(m):
        return {
            r.seq_id: r.loglik
            for r in _score_gauss_unchecked(spark, seqs, m)
            .select("seq_id", F.round("loglik", 6).alias("loglik"))
            .collect()
        }

    assert scored(model) == got1
    m1 = _tidy_model(_ghmm_reestimate_unchecked(spark, seqs, model).collect(), 4)
    assert scored(m1) == got2

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF0001}/events.parquet'")
    want = {
        (it, sid): ll
        for it, sid, ll in con.execute(
            gauss_loglik_trace_oracle_sql(model, 2)
        ).fetchall()
    }
    got = {(r.iter, r.seq_id): r.loglik for r in trace}
    assert got == want

    with pytest.raises(ValueError):
        ghmm_loglik_trace(spark, seqs, model, n_iters=0)
