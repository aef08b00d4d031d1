"""Grouped (per-key) HMM training tests: each group's distributed result
must equal running the sequential kernel on that group's sequences alone."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from baum_welch_spark.hmm.grouped import fit_grouped, fit_per_event_class
from baum_welch_spark.hmm.kernel import sequential_baum_welch
from baum_welch_spark.hmm.model import HMM
from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary
from baum_welch_spark.sources.io import load_table

from conftest import SF0001


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF0001, "events").cache()


def test_grouped_fit_matches_per_group_sequential(spark, events):
    n_obs = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 3).cast("string"))
    )
    got = fit_grouped(seqs, n_hidden=3, n_observed=n_obs, max_iter=4).collect()
    by_group: dict[str, dict] = {}
    for r in got:
        by_group.setdefault(r["group"], {"rows": [], "ll": r["loglik"], "n": r["n_seqs"]})
        by_group[r["group"]]["rows"].append((r["kind"], r["i"], r["j"], r["weight"]))

    local = seqs.select("group", "seq_id", "obs").collect()
    for g in sorted({r["group"] for r in local}):
        obs = [
            np.asarray(r["obs"])
            for r in sorted(local, key=lambda r: r["seq_id"])
            if r["group"] == g
        ]
        model, trace = sequential_baum_welch(
            HMM.random(3, n_obs, seed=42), obs, max_iter=4
        )
        info = by_group[g]
        assert info["n"] == len(obs)
        assert abs(info["ll"] - trace[-1]) < 1e-8
        # one row per model cell, read back through the model's own codec
        assert len(info["rows"]) == 3 + 3 * 3 + 3 * n_obs
        fitted = HMM.from_rows(info["rows"])
        for attr in ("pi", "A", "B"):
            assert np.abs(getattr(fitted, attr) - getattr(model, attr)).max() < 1e-12


def test_grouped_fit_partitioning_invariant(spark, events):
    out1 = fit_per_event_class(events, max_iter=2).collect()
    out2 = fit_per_event_class(events.repartition(11), max_iter=2).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    # every segment produced a full row-stochastic model
    groups = {r["group"] for r in out1}
    assert groups == {"seg0", "seg1", "seg2"}
    for g in groups:
        pi_sum = sum(r["weight"] for r in out1 if r["group"] == g and r["kind"] == "initial")
        assert abs(pi_sum - 1.0) < 1e-9


def test_decode_grouped_matches_single_model_decoder(spark, events):
    """Each group's cogrouped decode must equal the broadcast single-model
    decoder run with that group's model on that group's sequences."""
    from baum_welch_spark.hmm.decode import viterbi_decode
    from baum_welch_spark.hmm.grouped import decode_grouped

    n_obs = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 3).cast("string"))
    ).cache()
    models = fit_grouped(seqs, n_hidden=3, n_observed=n_obs, max_iter=2).cache()
    got = {
        (r.group, r.seq_id): (r.loglik, r.path_str)
        for r in decode_grouped(seqs, models).collect()
    }
    assert got
    mrows = models.collect()
    for g in ("seg0", "seg1", "seg2"):
        model = HMM.from_rows([(r.kind, r.i, r.j, r.weight) for r in mrows if r.group == g])
        ref = viterbi_decode(
            spark, seqs.filter(F.col("group") == g).select("seq_id", "obs"), model
        ).collect()
        assert ref
        for r in ref:
            ll, path = got[(g, r.seq_id)]
            assert abs(ll - r.loglik) < 1e-9
            assert path == ",".join(str(s) for s in r.path)


def test_decode_grouped_inner_semantics(spark):
    """Groups with sequences but no model (and vice versa) emit nothing."""
    from baum_welch_spark.hmm.grouped import decode_grouped, fit_grouped

    seqs = spark.createDataFrame(
        [("a", 1, [0, 1, 0]), ("orphan", 2, [1, 1, 0])],
        schema="group string, seq_id bigint, obs array<int>",
    )
    models = fit_grouped(seqs.filter(F.col("group") == "a"), 2, 2, max_iter=1)
    out = decode_grouped(seqs, models).collect()
    assert {r.group for r in out} == {"a"}


def test_distributed_grouped_fit_matches_sequential_per_group(spark, events):
    """fit_grouped_distributed is the large-group twin: same init, same
    per-group EM semantics, distributed E-step — models must agree with
    fit_grouped to float-summation order (1e-8, the same tolerance as the
    single-model fit-vs-sequential pin)."""
    from baum_welch_spark.hmm.grouped import fit_grouped_distributed

    n_obs = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 3).cast("string"))
    )
    a = {
        (r.group, r.kind, r.i, r.j): (r.weight, r.loglik, r.n_seqs)
        for r in fit_grouped(seqs, 3, n_obs, max_iter=4).collect()
    }
    b = {
        (r.group, r.kind, r.i, r.j): (r.weight, r.loglik, r.n_seqs)
        for r in fit_grouped_distributed(spark, seqs, 3, n_obs, max_iter=4).collect()
    }
    assert set(a) == set(b)
    assert all(a[k][2] == b[k][2] for k in a)  # n_seqs exact
    assert max(abs(a[k][0] - b[k][0]) for k in a) < 1e-8
    assert max(abs(a[k][1] - b[k][1]) for k in a) < 1e-6  # loglik magnitudes


def test_distributed_grouped_fit_freezes_converged_groups(spark, events):
    """With a loose tol every group converges early and freezes out of the
    loop; the output must still carry one full model per group, and each
    model must equal its sequential run with the same tol."""
    from baum_welch_spark.hmm.grouped import fit_grouped_distributed

    n_obs = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 2).cast("string"))
    )
    out = fit_grouped_distributed(
        spark, seqs, 3, n_obs, max_iter=50, tol=1e-3
    ).collect()
    assert {r.group for r in out} == {"seg0", "seg1"}
    local = seqs.select("group", "seq_id", "obs").collect()
    for g in ("seg0", "seg1"):
        obs = [
            np.asarray(r["obs"])
            for r in sorted(local, key=lambda r: r["seq_id"])
            if r["group"] == g
        ]
        model, _ = sequential_baum_welch(
            HMM.random(3, n_obs, seed=42), obs, max_iter=50, tol=1e-3
        )
        rows = [(r.kind, r.i, r.j, r.weight) for r in out if r.group == g]
        assert len(rows) == 3 + 3 * 3 + 3 * n_obs
        fitted = HMM.from_rows(rows)
        for attr in ("pi", "A", "B"):
            assert np.abs(getattr(fitted, attr) - getattr(model, attr)).max() < 1e-8


def test_grouped_reestimate_rows_match_ungrouped_on_single_group(spark, events):
    """em_reestimate_grouped with ONE group must reproduce em_reestimate's
    probabilities exactly (same kernel, same normalize, plus a constant
    group key)."""
    from baum_welch_spark.hmm.fit import em_reestimate, em_reestimate_grouped

    seqs = build_sequences(events)
    m = HMM.random(4, symbol_dictionary(events, "event_type").count(), seed=7)
    single = {
        (r.kind, r.i, r.j): r.prob for r in em_reestimate(spark, seqs, m).collect()
    }
    grouped = em_reestimate_grouped(
        spark, seqs.withColumn("group", F.lit("all")), m
    ).collect()
    assert {r.group for r in grouped} == {"all"}
    got = {(r.kind, r.i, r.j): r.prob for r in grouped}
    assert got == single


def test_distributed_grouped_fit_edge_parity(spark):
    """Two edges the sf tables can't produce: a group whose sequences are
    all empty (sequential EM still M-steps zero counts -> uniform model,
    loglik 0.0) and a non-string group column (must be cast, not silently
    dropped by the broadcast-dict lookup)."""
    from baum_welch_spark.hmm.grouped import fit_grouped, fit_grouped_distributed

    df = spark.createDataFrame(
        [
            ("g0", 1, [0, 1, 0]),
            ("g0", 2, [1, 1]),
            ("gE", 3, []),
        ],
        "group string, seq_id long, obs array<int>",
    )
    a = {
        (r.group, r.kind, r.i, r.j): (r.weight, r.loglik)
        for r in fit_grouped(df, 2, 2, max_iter=2).collect()
    }
    b = {
        (r.group, r.kind, r.i, r.j): (r.weight, r.loglik)
        for r in fit_grouped_distributed(spark, df, 2, 2, max_iter=2).collect()
    }
    assert set(a) == set(b)
    assert max(abs(a[k][0] - b[k][0]) for k in a) < 1e-12
    for k in a:
        if k[0] == "gE":
            assert a[k][1] == 0.0 and b[k][1] == 0.0

    df_int = spark.createDataFrame(
        [(7, 1, [0, 1, 0]), (7, 2, [1, 1]), (9, 3, [1, 0])],
        "group int, seq_id long, obs array<int>",
    )
    out = fit_grouped_distributed(spark, df_int, 2, 2, max_iter=2).collect()
    assert {r.group for r in out} == {"7", "9"}


def test_grouped_trainers_reject_a_null_group(spark):
    """A null group names no model: both trainers raise instead of training
    it as the group 'None' (fit_grouped) or dropping its rows from the
    E-step and emitting a uniform model for it (fit_grouped_distributed);
    the grouped re-estimation raises too."""
    from pyspark.errors import PythonException

    from baum_welch_spark.hmm.fit import em_reestimate_grouped
    from baum_welch_spark.hmm.grouped import fit_grouped_distributed

    df = spark.createDataFrame(
        [("g0", 1, [0, 1, 0]), ("g0", 2, [1, 1]), (None, 3, [1, 0, 0]), (None, 4, [0, 0])],
        "group string, seq_id long, obs array<int>",
    )
    with pytest.raises(ValueError, match="null group key"):
        fit_grouped_distributed(spark, df, 2, 2, max_iter=2)
    with pytest.raises(PythonException, match="ValueError: null group key"):
        fit_grouped(df, 2, 2, max_iter=2).collect()
    with pytest.raises(PythonException, match="ValueError: null 'group' key"):
        em_reestimate_grouped(spark, df, HMM.random(2, 2, seed=1)).collect()
