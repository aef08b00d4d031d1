"""Distributed fit vs sequential NumPy oracle (SURVEY §5.2, §5.3):
same init + same iteration count -> parameters equal to 1e-8."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from baum_welch_spark.hmm import HMM, sequential_baum_welch
from baum_welch_spark.hmm.em import SOLE_KEY
from baum_welch_spark.hmm.fit import fit, expected_counts, normalize_counts
from baum_welch_spark.operators.sequences import build_sequences, symbol_dict
from baum_welch_spark.sources.io import load_table

from conftest import SF0001

N_HIDDEN, N_OBSERVED = 3, 5


@pytest.fixture(scope="module")
def sequences_df(spark):
    events = load_table(spark, SF0001, "events")
    return build_sequences(events).cache()


@pytest.fixture(scope="module")
def sequences_np(sequences_df):
    rows = sequences_df.orderBy("seq_id").collect()
    return [np.array(r.obs, dtype=np.int64) for r in rows]


def test_sequences_built_correctly(spark, sequences_df):
    events = load_table(spark, SF0001, "events")
    n_users = events.select("user_id").distinct().count()
    assert sequences_df.count() == n_users
    total = sequences_df.select(F.sum(F.size("obs")).alias("n")).collect()[0].n
    assert total == events.count()
    d = symbol_dict(events)
    assert sorted(d.values()) == list(range(len(d)))
    assert list(d) == sorted(d)  # lexicographic coding


def test_fit_preserves_caller_cache(spark, sequences_df):
    """fit() must not evict a cache the caller manages (ADVICE r1): the
    module-scoped sequences_df fixture is .cache()d — after fit it must
    still be persisted."""
    fit(spark, sequences_df, HMM.random(N_HIDDEN, N_OBSERVED, seed=1), max_iter=1)
    assert sequences_df.storageLevel.useMemory or sequences_df.storageLevel.useDisk


def test_distributed_matches_sequential(spark, sequences_df, sequences_np):
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=42)
    expected, expected_trace = sequential_baum_welch(init, sequences_np, max_iter=5)
    result = fit(spark, sequences_df, init, max_iter=5)
    assert result.iterations == 5
    np.testing.assert_allclose(result.model.pi, expected.pi, atol=1e-8)
    np.testing.assert_allclose(result.model.A, expected.A, atol=1e-8)
    np.testing.assert_allclose(result.model.B, expected.B, atol=1e-8)
    np.testing.assert_allclose(result.loglik_trace, expected_trace, rtol=1e-10)


def test_fit_partition_invariant(spark, sequences_df):
    """Repartitioning must not change the result (SURVEY §7 hard part #2)."""
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=7)
    a = fit(spark, sequences_df, init, max_iter=2)
    b = fit(spark, sequences_df.repartition(13), init, max_iter=2)
    np.testing.assert_allclose(a.model.A, b.model.A, atol=1e-10)
    np.testing.assert_allclose(a.model.B, b.model.B, atol=1e-10)
    np.testing.assert_allclose(a.loglik_trace, b.loglik_trace, rtol=1e-12)


def test_fit_loglik_monotone_and_convergence(spark, sequences_df):
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=3)
    result = fit(spark, sequences_df, init, max_iter=8, tol=1e-6)
    assert np.all(np.diff(result.loglik_trace) > -1e-8)
    result.model.validate()


def test_normalize_counts_window(spark, sequences_df):
    """The window-normalize path (A4 as Catalyst, the oracle-checked form)."""
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=1)
    bc = spark.sparkContext.broadcast({SOLE_KEY: (init.pi, init.A, init.B)})
    model_df = normalize_counts(expected_counts(sequences_df, bc)).collect()
    bc.unpersist()
    m = HMM.from_rows([(r.kind, r.i, r.j, r.prob) for r in model_df])
    m.validate()  # rows sum to 1 within each (kind, i)


def test_model_parquet_roundtrip(spark, sequences_df, tmp_path):
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=5)
    out = str(tmp_path / "models")
    result = fit(spark, sequences_df, init, max_iter=2, model_out=out)
    reloaded = HMM.read(spark, f"{out}/model-1")
    np.testing.assert_allclose(reloaded.A, result.model.A, atol=1e-12)
    np.testing.assert_allclose(reloaded.B, result.model.B, atol=1e-12)


def test_fit_restarts_picks_best_loglik(spark):
    from baum_welch_spark.hmm.fit import fit_restarts
    from baum_welch_spark.operators.sequences import build_sequences
    from baum_welch_spark.sources.io import load_table

    events = load_table(spark, SF0001, "events")
    seqs = build_sequences(events)
    best, finals = fit_restarts(spark, seqs, n_hidden=3, n_observed=5,
                                n_restarts=3, max_iter=2, base_seed=7)
    assert len(finals) == 3
    assert best.loglik_trace[-1] == max(finals)
    # deterministic: same seeds, same winner
    best2, finals2 = fit_restarts(spark, seqs, n_hidden=3, n_observed=5,
                                  n_restarts=3, max_iter=2, base_seed=7)
    assert finals == finals2


@pytest.mark.parametrize("max_iter,tol", [(3, 0.0), (40, 1e-2)])
def test_fit_restarts_keys_are_bitwise_standalone_fits(spark, max_iter, tol):
    """fit_restarts trains its restarts as the keys of one EM loop; each
    restart's final loglik, and the winner's model, trace and iteration
    count, are bit for bit a standalone fit from the same init (with a tol,
    keys stop at different iterations and leave the loop one by one)."""
    from baum_welch_spark.hmm.fit import fit_restarts
    from baum_welch_spark.operators.sequences import build_sequences
    from baum_welch_spark.sources.io import load_table

    seqs = build_sequences(load_table(spark, SF0001, "events")).repartition(4, "seq_id")
    best, finals = fit_restarts(spark, seqs, n_hidden=3, n_observed=5, n_restarts=3,
                                max_iter=max_iter, tol=tol, base_seed=7)
    solos = [fit(spark, seqs, HMM.random(3, 5, seed=7 + r), max_iter=max_iter, tol=tol)
             for r in range(3)]
    assert np.array(finals).tobytes() == np.array([s.loglik_trace[-1] for s in solos]).tobytes()
    win = solos[int(np.argmax(finals))]
    assert np.array(best.loglik_trace).tobytes() == np.array(win.loglik_trace).tobytes()
    assert (best.iterations, best.converged) == (win.iterations, win.converged)
    for attr in ("pi", "A", "B"):
        assert getattr(best.model, attr).tobytes() == getattr(win.model, attr).tobytes()
    if tol:  # the restarts leave the loop at different iterations
        assert len({s.iterations for s in solos}) > 1 and any(s.converged for s in solos)


def test_fit_restarts_persists_corpus_exactly_once(spark, monkeypatch):
    # Scale-posture pin (VERDICT-r5 #5): fit_restarts persists the sequence
    # corpus ONCE and its keyed EM loop must respect that caller-managed
    # cache (re-persisting would re-read the corpus at 100 TB; un-persisting
    # would silently recompute per EM iteration). Spy on DataFrame.persist
    # across the whole call.
    from pyspark.sql.classic.dataframe import DataFrame  # concrete class in pyspark 4

    from baum_welch_spark.hmm.fit import fit_restarts
    from baum_welch_spark.operators.sequences import build_sequences
    from baum_welch_spark.sources.io import load_table

    calls = []
    orig = DataFrame.persist

    def spy(self, *a, **k):
        calls.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy)
    from pyspark.sql import functions as FF

    # the no-op filter makes this plan distinct from any frame another test
    # module cached (cache lookup is plan-keyed): fit_restarts must see an
    # UNcached input here, else it correctly skips its own persist
    seqs = build_sequences(load_table(spark, SF0001, "events")).filter(
        FF.col("seq_id") >= -(10**9)
    )
    best, finals = fit_restarts(spark, seqs, n_hidden=3, n_observed=5, n_restarts=2, max_iter=2)
    assert len(finals) == 2
    assert len(calls) == 1, f"expected exactly 1 persist call, saw {len(calls)}"


def test_weighted_fit_equals_replicated_corpus(spark, sequences_df):
    """Multiplicity semantics: training with integer weight_col must equal
    training on the physically replicated corpus (the deduplicated-corpus
    contract of kernel.e_step_counts_batch's weights)."""
    import pyspark.sql.functions as SF

    base = sequences_df.limit(40).cache()
    # weights 1..3 keyed off seq_id; replicate by exploding a range
    weighted = base.withColumn("w", (SF.col("seq_id") % 3 + 1).cast("double"))
    replicated = weighted.select(
        "seq_id", "obs", SF.explode(SF.sequence(SF.lit(1), SF.col("w").cast("int"))).alias("_r")
    ).select("seq_id", "obs")

    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=13)
    got = fit(spark, weighted, init, max_iter=3, weight_col="w")
    ref = fit(spark, replicated, init, max_iter=3)
    np.testing.assert_allclose(got.model.pi, ref.model.pi, atol=1e-9)
    np.testing.assert_allclose(got.model.A, ref.model.A, atol=1e-9)
    np.testing.assert_allclose(got.model.B, ref.model.B, atol=1e-9)
    np.testing.assert_allclose(got.loglik_trace, ref.loglik_trace, rtol=1e-9)
    base.unpersist()


def test_unit_weights_equal_unweighted(spark, sequences_df):
    """weight_col of all-1.0 must reproduce the unweighted fit exactly."""
    import pyspark.sql.functions as SF

    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=5)
    plain = fit(spark, sequences_df, init, max_iter=2)
    ones = fit(
        spark, sequences_df.withColumn("w", SF.lit(1.0)), init,
        max_iter=2, weight_col="w",
    )
    np.testing.assert_allclose(ones.model.A, plain.model.A, atol=1e-12)
    np.testing.assert_allclose(ones.model.B, plain.model.B, atol=1e-12)
    np.testing.assert_allclose(ones.loglik_trace, plain.loglik_trace, rtol=1e-12)


# -- structured (Bakis / left-to-right) topologies (Rabiner 1989 SIV.b) ------


def test_bakis_mask_shape():
    m = HMM.bakis_mask(4, bandwidth=2)
    expect = np.array(
        [
            [1, 1, 1, 0],
            [0, 1, 1, 1],
            [0, 0, 1, 1],
            [0, 0, 0, 1],
        ],
        dtype=bool,
    )
    np.testing.assert_array_equal(m, expect)


def test_masked_fit_preserves_structural_zeros(spark, sequences_df):
    """Masked transition entries stay EXACTLY zero through every EM
    iteration, unmasked rows stay row-stochastic, and pi keeps the
    left-to-right e_0 start."""
    mask = HMM.bakis_mask(N_HIDDEN, bandwidth=1)
    init = HMM.random_masked(N_HIDDEN, N_OBSERVED, mask, seed=7)
    res = fit(spark, sequences_df, init, max_iter=3, topology_mask=mask)
    A = res.model.A
    assert np.all(A[~mask] == 0.0)  # exact, not approx
    np.testing.assert_allclose(A.sum(axis=1), 1.0, atol=1e-12)
    np.testing.assert_allclose(res.model.pi, np.eye(N_HIDDEN)[0], atol=1e-12)
    # monotone EM: masked models are still valid EM fixed-point iterations
    assert all(b >= a - 1e-9 for a, b in zip(res.loglik_trace, res.loglik_trace[1:]))


def test_masked_fit_matches_sequential_oracle(spark, sequences_df, sequences_np):
    """With a reachable topology the mask re-application is a numerical
    no-op, so the masked distributed fit must equal the sequential oracle
    run from the same masked init (EM preserves structural zeros on its
    own: the xi numerator carries a factor of A[i,j])."""
    mask = HMM.bakis_mask(N_HIDDEN, bandwidth=2)
    init = HMM.random_masked(N_HIDDEN, N_OBSERVED, mask, seed=11)
    expected, expected_trace = sequential_baum_welch(init, sequences_np, max_iter=3)
    got = fit(spark, sequences_df, init, max_iter=3, topology_mask=mask)
    assert np.all(expected.A[~mask] == 0.0)  # the oracle itself kept zeros
    np.testing.assert_allclose(got.model.A, expected.A, atol=1e-8)
    np.testing.assert_allclose(got.model.B, expected.B, atol=1e-8)
    np.testing.assert_allclose(got.loglik_trace, expected_trace, rtol=1e-10)


def test_masked_unreachable_state_row_uniform_over_allowed():
    """A state with zero expected mass gets a row uniform over its ALLOWED
    transitions, never the full-row uniform m_step would produce."""
    from baum_welch_spark.hmm.fit import _masked

    mask = HMM.bakis_mask(3, bandwidth=1)
    dead = HMM(
        pi=np.array([1.0, 0.0, 0.0]),
        A=np.array([[0.5, 0.5, 0.0], [0.0, 0.0, 0.0], [0.0, 0.0, 1.0]]),
        B=np.full((3, 2), 0.5),
    )
    # row 1 has zero mass -> must become uniform over {1, 2}, not {0, 1, 2}
    out = _masked(HMM(pi=dead.pi, A=dead.A, B=dead.B), mask)
    np.testing.assert_allclose(out.A[1], [0.0, 0.5, 0.5], atol=1e-12)


def test_random_masked_rejects_dead_rows():
    mask = np.zeros((3, 3), dtype=bool)
    mask[0] = True
    with pytest.raises(ValueError, match="allowed transition"):
        HMM.random_masked(3, 2, mask, seed=1)


def test_fit_resume_from_checkpoint_equals_straight_run(spark, sequences_df, tmp_path):
    """Checkpoint/restart equivalence — the property a long cluster job
    actually needs from the per-iteration model sinks (S4): train 2
    iterations, persist, reload, train 2 more == train 4 straight, to the
    last bit (EM is a deterministic map of (model, corpus); the parquet
    roundtrip is exact on doubles)."""
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=5)
    straight = fit(spark, sequences_df, init, max_iter=4).model

    fit(spark, sequences_df, init, max_iter=2, model_out=str(tmp_path / "m"))
    # fit writes {model_out}/model-{it} per iteration (0-indexed); the
    # CLI's model-final alias is a layer above
    reloaded = HMM.read(spark, str(tmp_path / "m" / "model-1"))
    resumed = fit(spark, sequences_df, reloaded, max_iter=2).model

    np.testing.assert_array_equal(resumed.pi, straight.pi)
    np.testing.assert_array_equal(resumed.A, straight.A)
    np.testing.assert_array_equal(resumed.B, straight.B)


def test_em_trace_chains_rounded_models_and_matches_duckdb(spark, sequences_df):
    """The EM-loop pin (VERDICT r11 #3): iteration 2 of em_trace must equal a
    fresh em_reestimate run from iteration 1's rounded model (the chaining
    contract), and the whole trace must be bit-equal to the composed DuckDB
    oracle whose lap-2 model comes from lap 1's own CTE output."""
    import duckdb

    from baum_welch_spark.hmm.em import block_shapes, decode
    from baum_welch_spark.hmm.fit import (
        em_reestimate,
        em_trace,
        em_trace_oracle_sql,
    )

    model = HMM.random(4, 5, seed=42)
    trace = em_trace(spark, sequences_df, model, n_iters=2).collect()
    it1 = [r for r in trace if r.iter == 1]
    it2 = {(r.kind, r.i, r.j): r.prob for r in trace if r.iter == 2}
    assert it1 and it2

    # chaining contract: lap 2 == one fresh step from lap 1's rounded model
    b1, _ = decode(it1, block_shapes(model.blocks()), "prob")
    m1 = HMM.from_blocks(b1)
    fresh = {
        (r.kind, r.i, r.j): r.prob
        for r in em_reestimate(spark, sequences_df, m1).collect()
    }
    assert fresh == it2

    # composed-oracle agreement (bit-exact at 6 dp, the driver's contract)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF0001}/events.parquet'"
    )
    want = {
        (it, k, i, j): p
        for it, k, i, j, p in con.execute(em_trace_oracle_sql(model, 2)).fetchall()
    }
    got = {(r.iter, r.kind, r.i, r.j): r.prob for r in trace}
    assert got == want


def test_em_trace_one_iter_is_em_reestimate_and_rejects_zero(spark, sequences_df):
    from baum_welch_spark.hmm.fit import em_reestimate, em_trace

    model = HMM.random(3, 5, seed=7)
    one = {
        (r.kind, r.i, r.j): r.prob
        for r in em_trace(spark, sequences_df, model, n_iters=1).collect()
    }
    step = {
        (r.kind, r.i, r.j): r.prob
        for r in em_reestimate(spark, sequences_df, model).collect()
    }
    assert one == step
    with pytest.raises(ValueError):
        em_trace(spark, sequences_df, model, n_iters=0)
