"""Viterbi decode + scoring tests: distributed ops vs NumPy brute force."""

import itertools

import numpy as np
import pytest

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.decode import score_sequences, top_k_sequences, viterbi_decode
from baum_welch_spark.operators.sequences import build_sequences
from baum_welch_spark.sources.io import load_table

from conftest import SF0001

MODEL = HMM.random(3, 5, seed=21)


@pytest.fixture(scope="module")
def sequences_df(spark):
    return build_sequences(load_table(spark, SF0001, "events")).cache()


def brute_best_path(m: HMM, obs):
    best, best_p = None, -1.0
    for path in itertools.product(range(m.n_hidden), repeat=len(obs)):
        p = m.pi[path[0]] * m.B[path[0], obs[0]]
        for t in range(1, len(obs)):
            p *= m.A[path[t - 1], path[t]] * m.B[path[t], obs[t]]
        if p > best_p:
            best, best_p = path, p
    return list(best), np.log(best_p)


def test_viterbi_matches_enumeration(spark):
    seqs = [(0, [0, 1, 2]), (1, [4, 4, 0, 1]), (2, [3])]
    df = spark.createDataFrame(seqs, schema="seq_id bigint, obs array<int>")
    got = {r.seq_id: (list(r.path), r.loglik) for r in viterbi_decode(spark, df, MODEL).collect()}
    for seq_id, obs in seqs:
        path, ll = brute_best_path(MODEL, obs)
        assert got[seq_id][0] == path, f"seq {seq_id}"
        assert np.isclose(got[seq_id][1], ll, atol=1e-10)


def test_score_matches_kernel(spark, sequences_df):
    from baum_welch_spark.hmm.kernel import forward_backward

    got = {r.seq_id: r for r in score_sequences(spark, sequences_df, MODEL).collect()}
    for row in sequences_df.collect():
        _, _, _, ll = forward_backward(MODEL.pi, MODEL.A, MODEL.B, np.array(row.obs))
        assert np.isclose(got[row.seq_id].loglik, ll, atol=1e-10)
        assert np.isclose(got[row.seq_id].avg_loglik, ll / len(row.obs), atol=1e-10)


def test_top_k(spark, sequences_df):
    top = top_k_sequences(spark, sequences_df, MODEL, k=5).collect()
    assert len(top) == 5
    scores = [r.avg_loglik for r in top]
    assert scores == sorted(scores, reverse=True)
    all_scores = sorted(
        (r.avg_loglik for r in score_sequences(spark, sequences_df, MODEL).collect()), reverse=True
    )
    assert np.allclose(scores, all_scores[:5], atol=1e-12)


def test_decode_path_states_in_range(spark, sequences_df):
    paths = viterbi_decode(spark, sequences_df, MODEL).collect()
    assert len(paths) == sequences_df.count()
    for r in paths:
        assert len(r.path) > 0
        assert all(0 <= q < MODEL.n_hidden for q in r.path)


def test_dp_oracle_sql_matches_spark_operators(spark):
    """The recursive-CTE DuckDB oracles for the forward and Viterbi DPs must
    reproduce the Spark operators' faces exactly (paths bitwise — the log
    model is embedded as full-precision literals, so the DP does identical
    IEEE arithmetic; logliks at the shared 6-decimal rounding)."""
    import duckdb

    from baum_welch_spark.hmm.decode import (
        score_oracle_sql,
        score_sequences_face,
        viterbi_decode_face,
        viterbi_oracle_sql,
    )

    model = HMM.random(4, 5, seed=42)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF0001}/events.parquet'")

    events = load_table(spark, SF0001, "events")
    seqs = build_sequences(events)

    got = {r.seq_id: r for r in viterbi_decode_face(spark, seqs, model).collect()}
    vt = con.execute(viterbi_oracle_sql(model)).df().set_index("seq_id")
    assert len(got) == len(vt)
    for seq_id, row in got.items():
        o = vt.loc[seq_id]
        assert row.path_str == o.path_str, seq_id
        assert abs(row.loglik - o.loglik) < 1e-9, seq_id

    sc = con.execute(score_oracle_sql(model)).df().set_index("seq_id")
    got_s = {r.seq_id: r for r in score_sequences_face(spark, seqs, model).collect()}
    assert len(got_s) == len(sc)
    for seq_id, row in got_s.items():
        o = sc.loc[seq_id]
        assert row.t_len == o.t_len and abs(row.loglik - o.loglik) < 1e-9, seq_id


def brute_posterior_states(m: HMM, obs):
    """argmax_q P(s_t = q | O) by full path enumeration."""
    T = len(obs)
    marg = np.zeros((T, m.n_hidden))
    for path in itertools.product(range(m.n_hidden), repeat=T):
        p = m.pi[path[0]] * m.B[path[0], obs[0]]
        for t in range(1, T):
            p *= m.A[path[t - 1], path[t]] * m.B[path[t], obs[t]]
        for t, q in enumerate(path):
            marg[t, q] += p
    return [int(np.argmax(marg[t])) for t in range(T)]


def test_posterior_decode_matches_enumeration(spark):
    from baum_welch_spark.hmm.decode import posterior_decode

    seqs = [(0, [0, 1, 2]), (1, [4, 4, 0, 1]), (2, [3]), (3, [2, 2, 2, 2, 2])]
    df = spark.createDataFrame(seqs, schema="seq_id bigint, obs array<int>")
    got = {r.seq_id: r.path_str for r in posterior_decode(spark, df, MODEL).collect()}
    for seq_id, obs in seqs:
        want = ",".join(str(q) for q in brute_posterior_states(MODEL, obs))
        assert got[seq_id] == want, seq_id


def test_posterior_oracle_sql_matches_spark(spark):
    """The forward+backward recursive-CTE oracle must reproduce
    posterior_decode's argmax path exactly on the real sf0.001 stream."""
    import duckdb

    from baum_welch_spark.hmm.decode import posterior_decode, posterior_oracle_sql

    model = HMM.random(4, 5, seed=42)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF0001}/events.parquet'")
    seqs = build_sequences(load_table(spark, SF0001, "events"))
    got = {r.seq_id: r.path_str for r in posterior_decode(spark, seqs, model).collect()}
    ora = con.execute(posterior_oracle_sql(model)).df().set_index("seq_id")
    assert len(got) == len(ora)
    for seq_id, path_str in got.items():
        assert path_str == ora.loc[seq_id].path_str, seq_id


def test_seq_decode_names_roundtrips_the_encoding(spark):
    """S5 decode join: encoding then name-joining back must reproduce the
    original event_type stream per entity."""
    from baum_welch_spark.operators.markov import seq_decode_names
    from baum_welch_spark.operators.sequences import symbol_dict
    from baum_welch_spark.sources.io import load_table
    from conftest import SF0001

    events = load_table(spark, SF0001, "events")
    inv = {v: k for k, v in symbol_dict(events).items()}
    decoded = {r.seq_id: r.names_str for r in seq_decode_names(events).collect()}
    seqs = build_sequences(events).collect()
    assert len(decoded) == len(seqs)
    for row in seqs:
        assert decoded[row.seq_id] == ",".join(inv[s] for s in row.obs)


def test_viterbi_oracle_sql_valid_with_zero_probabilities():
    """A model with a structural zero (log -> -inf) must still generate
    parseable oracle SQL ('-inf' alone is not a DuckDB literal)."""
    import duckdb
    import numpy as np

    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import (
        score_oracle_sql,
        viterbi_oracle_sql,
        viterbi_topk_oracle_sql,
    )

    m = HMM(
        pi=np.array([1.0, 0.0]),
        A=np.array([[0.5, 0.5], [0.0, 1.0]]),
        B=np.array([[0.9, 0.1], [0.2, 0.8]]),
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE events (user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type VARCHAR)")
    con.sql("INSERT INTO events VALUES (1, 1, '2024-01-01', 'a'), (1, 2, '2024-01-02', 'b')")
    for sql in (viterbi_oracle_sql(m), score_oracle_sql(m), viterbi_topk_oracle_sql(m, k=3)):
        assert "-inf," not in sql and "[-inf" not in sql
        con.sql(sql).fetchall()  # must parse and execute


def test_viterbi_topk_matches_enumeration(spark):
    """k-best paths and scores must equal brute-force enumeration of all
    N^T joint path probabilities (top-k by score)."""
    from itertools import product

    import numpy as np

    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import viterbi_topk

    N, M, T, K = 3, 4, 6, 5
    model = HMM.random(N, M, seed=23)
    rng = np.random.default_rng(1)
    seqs = [(i, [int(x) for x in rng.integers(0, M, size=T)]) for i in range(4)]
    df = spark.createDataFrame(seqs, "seq_id bigint, obs array<int>")
    got = {}
    for r in viterbi_topk(spark, df, model, k=K).collect():
        got.setdefault(r.seq_id, []).append((r.rank, r.loglik, tuple(r.path)))
    with np.errstate(divide="ignore"):
        lp, lA, lB = np.log(model.pi), np.log(model.A), np.log(model.B)
    for sid, obs in seqs:
        scored = []
        for path in product(range(N), repeat=T):
            ll = lp[path[0]] + lB[path[0], obs[0]]
            for t in range(1, T):
                ll += lA[path[t - 1], path[t]] + lB[path[t], obs[t]]
            scored.append((ll, path))
        scored.sort(key=lambda x: -x[0])
        hyp = sorted(got[sid])
        assert len(hyp) == K
        assert [r for r, _, _ in hyp] == list(range(K))
        for (rank, ll, path), (ell, _) in zip(hyp, scored[:K]):
            assert abs(ll - ell) < 1e-10, (rank, ll, ell)
        # every returned path's reported loglik is its true joint score,
        # paths are distinct, and rank 0 is the Viterbi path
        assert len({p for _, _, p in hyp}) == K
        best_ll, best_path = scored[0]
        assert hyp[0][2] == best_path or abs(hyp[0][1] - best_ll) < 1e-10


def test_viterbi_topk_batch_bitwise_equals_serial():
    """The vectorized (S, N, k) list-Viterbi (r11) must be BITWISE equal to
    the serial per-sequence kernel — same adds in the same order, same
    i-major/r-minor candidate ravel, same stable-argsort tiebreaks — across
    mixed lengths in one packed chunk, k > N corners, length-1
    sequences, and a model with structural zeros (-inf log entries)."""
    import numpy as np

    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import _viterbi_topk_batch, _viterbi_topk_one

    rng = np.random.default_rng(7)
    cases = [
        (HMM.random(4, 5, seed=42), 3),
        (HMM.random(3, 4, seed=23), 5),  # k > N: fewer than k finite at t=0
        (
            HMM(
                pi=np.array([1.0, 0.0]),
                A=np.array([[0.5, 0.5], [0.0, 1.0]]),
                B=np.array([[0.9, 0.1], [0.2, 0.8]]),
            ),
            4,
        ),  # structural zeros: -inf candidates must pad identically
    ]
    for model, k in cases:
        with np.errstate(divide="ignore"):
            lp, lA, lB = np.log(model.pi), np.log(model.A), np.log(model.B)
        M = model.n_observed
        lens = [1, 2, 3, 7, 8, 15, 16, 60, 61, 130]
        obs_list = [rng.integers(0, M, size=t).astype(np.int64) for t in lens]
        got = _viterbi_topk_batch(lp, lA, lB, obs_list, k)
        assert len(got) == len(obs_list)
        for obs, hyp in zip(obs_list, got):
            ref = _viterbi_topk_one(lp, lA, lB, obs, k)
            assert len(hyp) == len(ref)
            for (ll_b, p_b), (ll_s, p_s) in zip(hyp, ref):
                assert ll_b == ll_s  # bitwise, not approx
                assert np.array_equal(p_b, p_s)


def test_viterbi_topk_batch_seq_chunk_cap_is_bitwise_invisible(monkeypatch):
    """The cell budget on a chunk's arrays (back-pointers <= kernel.
    _CELL_BUDGET cells) must not change results: force a tiny budget so
    the batch splits into single-sequence core calls and compare against
    the uncapped run."""
    import numpy as np

    import baum_welch_spark.hmm.decode as dec
    import baum_welch_spark.hmm.kernel as kernel
    from baum_welch_spark.hmm import HMM

    model = HMM.random(4, 5, seed=11)
    with np.errstate(divide="ignore"):
        lp, lA, lB = np.log(model.pi), np.log(model.A), np.log(model.B)
    rng = np.random.default_rng(3)
    obs_list = [rng.integers(0, 5, size=t).astype(np.int64) for t in (9, 10, 11, 12, 50, 51)]
    full = dec._viterbi_topk_batch(lp, lA, lB, obs_list, 3)
    calls = []
    monkeypatch.setattr(kernel, "_CELL_BUDGET", 1)
    monkeypatch.setattr(
        dec, "_viterbi_topk_batch_core",
        lambda *a, core=dec._viterbi_topk_batch_core: calls.append(a) or core(*a),
    )
    capped = dec._viterbi_topk_batch(lp, lA, lB, obs_list, 3)
    assert len(calls) == len(obs_list)
    for a, b in zip(full, capped):
        assert len(a) == len(b)
        for (ll_a, p_a), (ll_b, p_b) in zip(a, b):
            assert ll_a == ll_b
            assert np.array_equal(p_a, p_b)


# -- zero-probability and out-of-range sequences -------------------------------

# [1, 0, 1] under pi = [1, 0], B[0] = [1, 0]: t = 0 must be state 0, which
# never emits symbol 1, so P(O | model) = 0
ZERO_MODEL = HMM(
    pi=np.array([1.0, 0.0]),
    A=np.full((2, 2), 0.5),
    B=np.array([[1.0, 0.0], [0.5, 0.5]]),
).validate()
GOOD_SEQS = [(1, [0, 0, 1]), (3, [0, 1, 0, 1, 1]), (4, [0])]


def _one_batch(spark, rows):
    return spark.createDataFrame(rows, "seq_id bigint, obs array<int>").coalesce(1)


def test_zero_probability_sequence_scores_minus_inf(spark):
    """The impossible sequence, mixed into one Arrow batch with normal ones,
    scores -inf (not NULL) in score_sequences and viterbi_decode; every
    other sequence gets exactly the values it gets without it."""
    mixed = _one_batch(spark, GOOD_SEQS + [(2, [1, 0, 1])])
    clean = _one_batch(spark, GOOD_SEQS)
    for op, cols in ((score_sequences, ("loglik", "avg_loglik")), (viterbi_decode, ("loglik",))):
        got = {r.seq_id: r for r in op(spark, mixed, ZERO_MODEL).collect()}
        ref = {r.seq_id: r for r in op(spark, clean, ZERO_MODEL).collect()}
        assert set(got) == {1, 2, 3, 4}
        for c in cols:
            assert getattr(got[2], c) == -np.inf, (op.__name__, c)
        for seq_id, row in ref.items():
            assert got[seq_id] == row, (op.__name__, seq_id)
            assert all(np.isfinite(getattr(row, c)) for c in cols)


def test_zero_probability_sequence_has_null_posterior(spark):
    """posterior_decode, state_occupancy, posterior_sample and
    posterior_entropy give the impossible sequence a NULL result (NULL
    path_str; N rows of NULL occupancy; a NULL path_str per sample; NULL
    entropy and entropy_rate with a -inf loglik), not the argmax of an
    all-NaN posterior (state 0), a plausible sampled path or NaN; every
    other sequence in its Arrow batch gets exactly the rows it gets
    without it."""
    from baum_welch_spark.hmm.decode import posterior_decode, state_occupancy
    from baum_welch_spark.hmm.sample import posterior_entropy, posterior_sample

    mixed = _one_batch(spark, GOOD_SEQS + [(2, [1, 0, 1])])
    clean = _one_batch(spark, GOOD_SEQS)
    for name, op, key, cols, n_rows in (
        ("posterior_decode", posterior_decode, ("seq_id",), ("path_str",), 1),
        ("state_occupancy", state_occupancy, ("seq_id", "state"), ("occupancy",),
         ZERO_MODEL.n_hidden),
        ("posterior_sample",
         lambda s, d, m: posterior_sample(s, d, m, n_samples=3, seed=5),
         ("seq_id", "sample_id"), ("path_str",), 3),
        ("posterior_entropy", posterior_entropy, ("seq_id",),
         ("entropy", "entropy_rate"), 1),
    ):
        got = {tuple(r[k] for k in key): r for r in op(spark, mixed, ZERO_MODEL).collect()}
        ref = {tuple(r[k] for k in key): r for r in op(spark, clean, ZERO_MODEL).collect()}
        bad = [r for k, r in got.items() if k[0] == 2]
        assert len(bad) == n_rows, (name, bad)
        assert all(r[c] is None for r in bad for c in cols), (name, bad)
        assert {k: r for k, r in got.items() if k[0] != 2} == ref, name
        assert all(r[c] is not None for r in ref.values() for c in cols), name
        if name == "posterior_entropy":
            assert bad[0].loglik == -np.inf
            assert all(np.isfinite(r.loglik) for r in ref.values())


@pytest.mark.parametrize("bad", [-1, 5])
def test_out_of_range_symbol_raises(spark, bad):
    """A symbol id outside 0..M-1 fails the decode, top-k, score,
    posterior, sampling and entropy jobs with a ValueError naming it and
    M; before, -1 wrapped to the last symbol."""
    from pyspark.errors import PythonException

    from baum_welch_spark.hmm.decode import posterior_decode, state_occupancy, viterbi_topk
    from baum_welch_spark.hmm.sample import posterior_entropy, posterior_sample

    df = _one_batch(spark, [(1, [0, 1, 2]), (2, [0, bad, 0])])
    for op in (score_sequences, viterbi_decode, viterbi_topk, posterior_decode,
               state_occupancy, posterior_sample, posterior_entropy):
        with pytest.raises(PythonException, match=rf"ValueError: observation symbol {bad} .*M=5"):
            op(spark, df, MODEL).collect()
