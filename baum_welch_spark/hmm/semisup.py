"""Semi-supervised Baum-Welch: train on a corpus where SOME sequences carry
known state paths (a ``states`` array column; null = unlabeled).

The practical training regime the reference's fixed dataflow cannot express
(its driver feeds every sequence through the full E-step,
BaumWelchDriver.java:114-134): annotated sessions, gold alignments, or
heuristic labels pin part of the parameter space while EM fills in the
rest. Standard complete-data/incomplete-data mixture (Rabiner 1989 §V.A's
re-estimation with known paths degenerates to counting; e.g. Nigam et al.
2000 for the semi-supervised EM pattern):

- labeled (obs, states): counts are DETERMINISTIC — pi[s_0] += 1,
  A-counts from consecutive state pairs, B-counts from (state, symbol)
  pairs; the loglik contribution is the complete-data joint
  log P(O, S | lambda).
- unlabeled obs: the usual expected counts (kernel.e_step_counts_batch)
  and marginal log P(O | lambda).

The M-step normalizes the POOLED counts. The objective
sum_labeled log P(O,S) + sum_unlabeled log P(O) is non-decreasing per
iteration (EM monotonicity holds: labeled terms are exact, unlabeled terms
get the usual Q-function bound).

Runs on the shared EM loop (``em.run_em`` via ``fit.run_discrete_em``):
the only trainer-specific piece is the E-step UDF below, which splits each
Arrow batch into its labeled and unlabeled rows and emits one pooled count
block.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baum_welch_spark.hmm.em import COUNTS_SCHEMA, FitResult, encode
from baum_welch_spark.hmm.fit import run_discrete_em
from baum_welch_spark.hmm.kernel import check_symbols, e_step_counts_batch
from baum_welch_spark.hmm.model import HMM


def _labeled_counts(
    log_pi, log_A, log_B, obs_list, states_list, cpi, cA, cB
) -> float:
    """Hard counts + complete-data loglik for labeled sequences. A symbol
    outside ``0..M-1`` raises the E-step's ``ValueError``
    (``kernel.check_symbols``) instead of wrapping or failing bare."""
    ll = 0.0
    for obs, st in zip(obs_list, states_list):
        check_symbols(obs, log_B.shape[1])
        cpi[st[0]] += 1.0
        ll += log_pi[st[0]] + log_B[st[0], obs[0]]
        for t in range(1, len(obs)):
            cA[st[t - 1], st[t]] += 1.0
            cB[st[t], obs[t]] += 1.0
            ll += log_A[st[t - 1], st[t]] + log_B[st[t], obs[t]]
        cB[st[0], obs[0]] += 1.0
    return ll


def _semisup_udf(bc_model):
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc_model.value
        n = A.shape[0]
        with np.errstate(divide="ignore"):
            log_pi, log_A, log_B = np.log(pi), np.log(A), np.log(B)
        c = HMM(*map(np.zeros_like, (pi, A, B)))  # counts in the model's block layout
        ll = 0.0
        saw = False
        for pdf in batches:
            lab_o, lab_s, unlab = [], [], []
            for obs, st in zip(pdf["obs"], pdf["states"]):
                if obs is None or len(obs) == 0:
                    continue
                o = np.asarray(obs, dtype=np.int64)
                if st is not None and len(st) == len(o):
                    s = np.asarray(st, dtype=np.int64)
                    # fail fast on out-of-range labels (mirrors fit()'s
                    # null-weight fail-fast): a negative index — e.g. -1
                    # used as an 'unknown' sentinel by an annotation
                    # source — would silently wrap via numpy indexing and
                    # corrupt the last state's counts; >= n would crash
                    # the executor with an opaque IndexError
                    if s.size and (s.min() < 0 or s.max() >= n):
                        raise ValueError(
                            f"labeled state out of range [0, {n}): "
                            f"min={int(s.min())} max={int(s.max())} — use "
                            "NULL (not a sentinel value) for unlabeled "
                            "sequences"
                        )
                    lab_o.append(o)
                    lab_s.append(s)
                else:
                    unlab.append(o)
            if lab_o:
                saw = True
                ll += _labeled_counts(log_pi, log_A, log_B, lab_o, lab_s, c.pi, c.A, c.B)
            if unlab:
                saw = True
                ll += e_step_counts_batch(pi, A, B, unlab, c.pi, c.A, c.B)
        if saw:
            yield encode(c.blocks(), ll)

    return compute


def fit_semisupervised(
    spark: SparkSession,
    sequences: DataFrame,
    init: HMM,
    states_col: str = "states",
    max_iter: int = 10,
    tol: float = 0.0,
) -> FitResult:
    """EM over a mixed labeled/unlabeled corpus (see module doc).

    ``sequences``: (seq_id, obs, <states_col>) — states null (or
    length-mismatched, treated as unlabeled) for EM rows. The loglik trace
    is the mixed objective."""
    return run_discrete_em(
        spark, sequences, init,
        estep=lambda data, bc: data.select(
            "obs", F.col(states_col).alias("states")
        ).mapInPandas(_semisup_udf(bc), schema=COUNTS_SCHEMA),
        payload=lambda m: (m.pi, m.A, m.B),
        max_iter=max_iter, tol=tol,
    )
