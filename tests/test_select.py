"""HMM order selection (BIC/AIC sweep): arithmetic pinned against the
per-candidate fits, argmin marking, unique candidates, and each keyed
candidate bit for bit a standalone fit."""

import numpy as np
import pytest

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.fit import fit
from baum_welch_spark.hmm.select import free_params, select_face, select_n_hidden
from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary
from baum_welch_spark.sources.io import load_table

from conftest import SF0001


@pytest.fixture(scope="module")
def corpus(spark):
    events = load_table(spark, SF0001, "events")
    n_obs = symbol_dictionary(events, "event_type").count()
    return build_sequences(events).cache(), n_obs


def test_free_params():
    # N=3, M=5: 2 + 3*2 + 3*4 = 20
    assert free_params(3, 5) == 20
    assert free_params(1, 2) == 1


def test_select_scores_match_standalone_fits(spark, corpus):
    seqs, n_obs = corpus
    scores, fits = select_n_hidden(
        spark, seqs, n_obs, candidates=(2, 3), max_iter=2
    )
    rows = {r.n_hidden: r for r in scores.collect()}
    assert set(rows) == {2, 3}
    t_total = sum(len(r.obs) for r in seqs.collect())
    for n in (2, 3):
        solo = fit(spark, seqs, HMM.random(n, n_obs, seed=42), max_iter=2)
        ll = solo.loglik_trace[-1]
        # each candidate is one key of the shared loop: bit for bit the
        # standalone fit from the same init
        assert np.array(fits[n].loglik_trace).tobytes() == np.array(solo.loglik_trace).tobytes()
        for attr in ("pi", "A", "B"):
            assert getattr(fits[n].model, attr).tobytes() == getattr(solo.model, attr).tobytes()
        p = free_params(n, n_obs)
        assert rows[n].loglik == ll
        assert abs(rows[n].bic - (p * np.log(t_total) - 2 * ll)) < 1e-6
        assert abs(rows[n].aic - (2 * p - 2 * ll)) < 1e-6
    best = [r for r in rows.values() if r.is_best]
    assert len(best) == 1
    assert best[0].bic == min(r.bic for r in rows.values())


def test_select_rejects_duplicate_candidates(spark, corpus):
    seqs, n_obs = corpus
    with pytest.raises(ValueError, match="duplicate candidates"):
        select_n_hidden(spark, seqs, n_obs, candidates=(2, 2, 3), max_iter=1)


def test_select_face_shape(spark):
    events = load_table(spark, SF0001, "events")
    out = select_face(spark, events, candidates=(2, 3), max_iter=1).collect()
    assert [r.n_hidden for r in out] == [2, 3]
    assert sum(r.is_best for r in out) == 1


def test_cli_select(spark, capsys):
    import json as _json

    from baum_welch_spark.cli import main

    rc = main(["select", "-i", SF0001, "--candidates", "2,3", "--max-iterations", "1"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [c["n_hidden"] for c in out["candidates"]] == [2, 3]
    assert out["best_n_hidden"] in (2, 3)
