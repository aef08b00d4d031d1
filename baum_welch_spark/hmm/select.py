"""HMM model selection: sweep candidate hidden-state counts and score each
trained model with BIC/AIC — the "how many states does this corpus want"
question the reference leaves to the user (its driver trains exactly one
fixed-N model; SURVEY §2.4 D2).

Statistical shape (standard HMM order selection, e.g. Gassiat & Keribin
2000 on penalized likelihood): for each candidate N train to convergence,
then penalize the final total log-likelihood with the free-parameter count

    p(N) = (N - 1) + N (N - 1) + N (M - 1)
           (pi)      (rows of A)  (rows of B — each row sums to 1)

  BIC = p ln(T_total) - 2 ll      AIC = 2 p - 2 ll

with T_total the total observation count. Smallest BIC wins (BIC's ln T
penalty is consistent for order selection; AIC is reported for the
overfit-tolerant reader).

Spark shape: ONE persist of the sequence corpus shared across every
candidate's EM loop (the fit_restarts cache discipline — each fit reuses
the resident frame, so k candidates cost k EM loops over one cached scan
set, not k re-reads), and T_total is one aggregation. Everything that
leaves the cluster is model-sized.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baum_welch_spark.hmm.em import FitResult, cached
from baum_welch_spark.hmm.fit import fit_many
from baum_welch_spark.hmm.model import HMM


def free_params(n_hidden: int, n_observed: int) -> int:
    """Free parameters of a discrete HMM (each distribution row sums to 1)."""
    n, m = n_hidden, n_observed
    return (n - 1) + n * (n - 1) + n * (m - 1)


def select_n_hidden(
    spark: SparkSession,
    sequences: DataFrame,
    n_observed: int,
    candidates: tuple[int, ...] = (2, 3, 4, 5),
    max_iter: int = 10,
    tol: float = 0.0,
    seed: int = 42,
) -> tuple[DataFrame, dict[int, FitResult]]:
    """Train one model per candidate ``n_hidden`` and score with BIC/AIC.

    Returns (scores DataFrame, {n_hidden: FitResult}). The scores frame has
    one row per candidate: (n_hidden, n_params, loglik, bic, aic, is_best)
    with is_best marking the BIC argmin (first-min tiebreak).
    """
    if not candidates:
        raise ValueError("select_n_hidden: no candidates")
    with cached(sequences) as data:
        t_total = data.select(F.sum(F.size("obs")).alias("t")).collect()[0].t or 0
        if t_total == 0:
            raise ValueError(
                "select_n_hidden: corpus has zero observations (empty frame "
                "or all-empty obs arrays) — BIC's ln(T) term is undefined"
            )
        inits = [HMM.random(n, n_observed, seed=seed) for n in candidates]
        fits = dict(zip(candidates, fit_many(spark, data, inits, max_iter=max_iter, tol=tol)))
    rows = []
    for n in candidates:
        res = fits[n]
        ll = res.loglik_trace[-1] if res.loglik_trace else float("nan")
        p = free_params(n, n_observed)
        rows.append(
            (n, p, float(ll),
             float(p * np.log(t_total) - 2.0 * ll),
             float(2.0 * p - 2.0 * ll))
        )
    best = min(range(len(rows)), key=lambda i: rows[i][3])
    out = [
        (*r, i == best)
        for i, r in enumerate(rows)
    ]
    scores = spark.createDataFrame(
        out,
        "n_hidden int, n_params int, loglik double, bic double, aic double, is_best boolean",
    )
    return scores, fits


def select_face(spark: SparkSession, events: DataFrame,
                candidates: tuple[int, ...] = (2, 3, 4), max_iter: int = 3) -> DataFrame:
    """Driver-contract face: sweep candidate state counts over the event
    corpus. Rows-only by nature (each candidate runs the distributed EM
    loop); pytest pins the BIC/AIC arithmetic against the returned fits and
    the is_best argmin."""
    from baum_welch_spark.functions.columns import round0
    from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary

    n_observed = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events)
    scores, _ = select_n_hidden(
        spark, seqs, n_observed, candidates=candidates, max_iter=max_iter
    )
    # loglik/bic/aic are SIGNED — round0 per the columns.round0 convention so
    # a future DuckDB oracle can never hit the -0.0 hash flip.
    return scores.select(
        "n_hidden", "n_params",
        round0(F.col("loglik"), 6).alias("loglik"),
        round0(F.col("bic"), 6).alias("bic"),
        round0(F.col("aic"), 6).alias("aic"),
        "is_best",
    ).orderBy("n_hidden")
