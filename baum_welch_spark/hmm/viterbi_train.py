"""Viterbi training (hard EM / segmental k-means) on Spark DataFrames.

The soft Baum-Welch E-step (hmm/fit.py) accumulates EXPECTED counts from the
forward-backward posteriors; Viterbi training replaces that with the single
best state path per sequence (Rabiner 1989 §IV-B "segmental k-means") and
re-estimates from the resulting HARD counts:

    pi_i  = #(sequences whose Viterbi path starts in i)   / #sequences
    A_ij  = #(path transitions i -> j)                    / #(i in path[:-1])
    B_ik  = #(path visits i while emitting symbol k)      / #(i in path)

The distributed trainer runs on the shared EM loop (``em.run_em`` via
``fit.run_discrete_em``); what is specific here is the per-batch hard
counts and their broadcast payload, the log-model. The Viterbi joint
log-likelihood (sum of best-path scores) is the loglik trace.

It converges in far fewer, far cheaper iterations than soft EM (each pass is
a single max-product DP, no backward sweep / xi accumulation) at the cost of
a coarser optimum — the standard large-corpus trade, which is exactly when
the distributed setting matters.

The single re-estimation step is DuckDB-exact (viterbi_reestimate_oracle_sql
reuses decode.viterbi_ctes, whose DP cells are BITWISE equal to the Spark
kernel's, so the hard counts are integer-identical and count/count division
matches without rounding). The multi-iteration loop is pytest-pinned against
a sequential NumPy oracle to 1e-12.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baum_welch_spark.hmm.decode import _viterbi_one, viterbi_ctes
from baum_welch_spark.hmm.em import SOLE_KEY, FitResult, keyed_stripes, sum_stripes
from baum_welch_spark.hmm.fit import _sequences, _zero_counts, normalize_counts, run_discrete_em
from baum_welch_spark.hmm.kernel import m_step, symbol_emit, viterbi_paths
from baum_welch_spark.hmm.model import (
    HMM,
    KIND_EMISSION,
    KIND_INITIAL,
    KIND_TRANSITION,
)


def _hard_counts(log_model, data, c: dict[str, np.ndarray], ll: float) -> float:
    """One hard-EM batch: Viterbi-decode it with one ``kernel.viterbi_paths``
    call, add its path counts into ``c`` and the Viterbi joint
    log-likelihood to ``ll``. Counts are integers, so their summation order
    is immaterial; the loglik is accumulated in sequence order, like the
    sequential loop."""
    log_pi, log_A, log_B = log_model
    obs_list, _ = data
    cpi, cA, cB = c.values()
    paths, scores = viterbi_paths(log_pi, log_A, symbol_emit(log_B), obs_list, log_B.shape[1])
    for score in scores:
        ll += score
    np.add.at(cpi, [p[0] for p in paths], 1.0)
    src = np.concatenate([p[:-1] for p in paths])
    dst = np.concatenate([p[1:] for p in paths])
    np.add.at(cA, (src, dst), 1.0)
    np.add.at(cB, (np.concatenate(paths), np.concatenate(obs_list)), 1.0)
    return ll


def hard_count_stripes(sequences: DataFrame, bc_log_models) -> DataFrame:
    """One hard-EM pass over the corpus under every broadcast ``{key: log
    model}`` -> the unsummed per-partition keyed stripes
    (``em.keyed_stripes``: one count block and loglik row per partition and
    key, the same in-UDF map-side combine as ``fit.e_step_stripes``)."""
    return keyed_stripes(
        sequences.select("obs"), bc_log_models, _sequences, _zero_counts, _hard_counts
    )


def _log_model(model: HMM) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The hard-EM broadcast payload: log pi/A/B (-inf at structural zeros)."""
    with np.errstate(divide="ignore"):
        return np.log(model.pi), np.log(model.A), np.log(model.B)


def viterbi_reestimate(
    spark: SparkSession, sequences: DataFrame, model: HMM
) -> DataFrame:
    """One distributed hard-EM re-estimation step as a tidy DataFrame
    (kind, i, j, prob): Viterbi-decode under ``model``, count path events,
    normalize per (kind, i) row.

    Zero-count (i, j) cells are ABSENT from the output (sparse counts, like
    operators.markov.transition_model) — states the decoded paths never
    visit produce no rows rather than a uniform fallback; the fit_viterbi
    loop applies the uniform fallback driver-side (kernel.m_step).
    Integer-count / integer-count division is one exact IEEE op on both
    engines, so the oracle needs no rounding."""
    bc = spark.sparkContext.broadcast({SOLE_KEY: _log_model(model)})
    counts = sum_stripes(hard_count_stripes(sequences, bc))
    return normalize_counts(counts.filter(F.col("weight") > 0))


def viterbi_reestimate_oracle_sql(model: HMM) -> str:
    """DuckDB oracle for viterbi_reestimate: the shared Viterbi DP CTEs
    (decode.viterbi_ctes — bitwise-equal deltas, identical argmax tiebreak)
    followed by plain relational counting over the per-(seq, t) state rows:
    ``back`` holds the Viterbi state at every step, ``coded`` the emitted
    symbol, so init / transition / emission counts are one GROUP BY each and
    the normalize is the same count/count window as the Spark side."""
    return f"""{viterbi_ctes(model)},
states AS MATERIALIZED (SELECT user_id, t, state FROM back),
raw AS (
  SELECT '{KIND_INITIAL}' AS kind, 0 AS i, state AS j, count(*)::DOUBLE AS weight
  FROM states WHERE t = 0 GROUP BY state
  UNION ALL
  SELECT '{KIND_TRANSITION}', a.state, b.state, count(*)::DOUBLE
  FROM states a JOIN states b ON b.user_id = a.user_id AND b.t = a.t + 1
  GROUP BY a.state, b.state
  UNION ALL
  SELECT '{KIND_EMISSION}', s.state, c.sym, count(*)::DOUBLE
  FROM states s JOIN coded c ON c.user_id = s.user_id AND c.t = s.t
  GROUP BY s.state, c.sym
)
SELECT kind, i::INTEGER AS i, j::INTEGER AS j,
       weight / sum(weight) OVER (PARTITION BY kind, i) AS prob
FROM raw
"""


def fit_viterbi(
    spark: SparkSession,
    sequences: DataFrame,
    init: HMM,
    max_iter: int = 10,
    tol: float = 0.0,
    topology_mask: np.ndarray | None = None,
) -> FitResult:
    """Distributed segmental k-means loop: per iteration broadcast the
    log-model, hard-count via one mapInPandas pass, collect the tiny count
    blocks, normalize driver-side (kernel.m_step — zero-mass rows fall back
    to uniform), and trace the Viterbi joint log-likelihood.

    ``topology_mask``: structural transition topology, same contract as
    ``fit(topology_mask=...)``. Hard EM preserves it on its own even more
    directly than soft EM — log A carries -inf at masked entries, so no
    Viterbi path ever uses one and masked counts are exactly zero — but
    ``m_step``'s uniform fallback for never-visited states must still be
    re-masked (uniform over allowed, not the full row)."""
    # hard EM's loglik is not monotone in general; convergence is on the
    # model-space distance, like the reference's D4 test
    return run_discrete_em(
        spark, sequences, {SOLE_KEY: init}, estep=hard_count_stripes, payload=_log_model,
        max_iter=max_iter, tol=tol, topology_mask=topology_mask,
    )[SOLE_KEY]


def sequential_viterbi_train(
    init: HMM,
    sequences: list[np.ndarray],
    max_iter: int = 10,
    tol: float = 0.0,
) -> tuple[HMM, list[float]]:
    """Single-process segmental k-means — the oracle fit_viterbi must match
    to 1e-12 (hard counts are integers, so the only float ops are the final
    divisions, identical on both sides)."""
    model = init.validate()
    trace: list[float] = []
    for _ in range(max_iter):
        log_pi, log_A, log_B = _log_model(model)
        n, m = model.n_hidden, model.n_observed
        cpi = np.zeros(n)
        cA = np.zeros((n, n))
        cB = np.zeros((n, m))
        ll = 0.0
        for o in sequences:
            path, score = _viterbi_one(log_pi, log_A, log_B, o)
            ll += score
            cpi[path[0]] += 1.0
            if path.shape[0] > 1:
                np.add.at(cA, (path[:-1], path[1:]), 1.0)
            np.add.at(cB, (path, o), 1.0)
        trace.append(ll)
        new_model = m_step(cpi, cA, cB)
        delta = model.distance(new_model)
        model = new_model
        if tol > 0 and delta < tol:
            break
    return model, trace
