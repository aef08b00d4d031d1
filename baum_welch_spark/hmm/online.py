"""Online (stepwise) EM for streaming HMM training — the Structured
Streaming face of the batch Baum-Welch loop (beyond-reference: the
reference trains offline only, BaumWelchDriver.java:114-184; algorithm per
Cappe & Moulines 2009, "On-line expectation-maximization algorithm for
latent data models", and Liang & Klein 2009's stepwise-EM formulation).

Per micro-batch t the discrete E-step every soft trainer uses
(``fit.e_step_stripes`` — mapInPandas with in-UDF combine, model
broadcast) produces the batch's per-partition expected counts, in the EM
loop's round trip (``em.e_step``: broadcast, Arrow collect, partition-order
decode); the running sufficient statistics then take a stepwise-decaying
interpolation

    s  <-  (1 - eta_t) * s + eta_t * (batch_counts / batch_sequences)
    eta_t = (t + 2) ** -alpha          (alpha in (0.5, 1])

and the model re-normalizes from s (``kernel.m_step``); s is kept as
count blocks in the model's layout (``HMM.blocks``). On a stationary
stream this converges to the batch-EM fixed point while touching each
record once — the training loop a 100 TB/day corpus needs when "cache the
corpus and iterate" stops being an option.

One update is one iteration of ``em.run_em`` with one key and a stepwise
M-step: one job and one stage over the micro-batch (no shuffle), a
model-sized Arrow collect, a driver-side re-normalize. State is the stats
blocks, O(N^2 + N*M) doubles on the driver (checkpoint-friendly: it is
re-derivable from the written model trail). Nothing batch-sized ever
reaches the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from baum_welch_spark.hmm.em import SOLE_KEY, e_step
from baum_welch_spark.hmm.fit import _count_shapes, _triple, e_step_stripes
from baum_welch_spark.hmm.kernel import m_step
from baum_welch_spark.hmm.model import HMM, KIND_INITIAL


@dataclass
class OnlineEM:
    """Driver-held stepwise-EM state; ``update`` consumes one micro-batch
    (a static DataFrame of (seq_id, obs) rows) and returns the new model."""

    model: HMM
    alpha: float = 0.7
    t: int = 0
    stats: dict[str, np.ndarray] | None = None  # s, in the model's block layout
    loglik_trace: list[float] = field(default_factory=list)

    def update(self, spark: SparkSession, batch: DataFrame) -> HMM:
        counts, ll = e_step(
            spark, batch, {SOLE_KEY: self.model}, e_step_stripes, _triple, _count_shapes
        )[SOLE_KEY]
        n_seqs = float(counts[KIND_INITIAL].sum())  # every sequence adds exactly 1 to pi
        if n_seqs == 0:
            return self.model  # empty micro-batch: state unchanged
        self.loglik_trace.append(ll / n_seqs)
        # per-sequence-normalized batch stats keep s on a fixed scale, so
        # eta controls the mixing rate independently of batch sizing
        eta = (self.t + 2.0) ** -self.alpha
        self.stats = {
            kind: c / n_seqs if self.stats is None
            else (1.0 - eta) * self.stats[kind] + eta * (c / n_seqs)
            for kind, c in counts.items()
        }
        self.t += 1
        self.model = m_step(*self.stats.values())
        return self.model


def fit_stream(
    updates: DataFrame,
    init: HMM,
    alpha: float = 0.7,
    model_out: str | None = None,
    checkpoint: str | None = None,
):
    """Start the streaming trainer over a stream of (seq_id, obs) rows:
    every micro-batch is one stepwise-EM update; the current model is
    optionally written to ``{model_out}/model-{t}`` after each batch (the
    per-iteration sink shape of the batch trainer, reference S4). Returns
    (StreamingQuery, OnlineEM) — the state object exposes the live model
    and per-batch mean log-likelihood trace."""
    spark = updates.sparkSession
    state = OnlineEM(model=init.validate(), alpha=alpha)

    def apply(batch: DataFrame, epoch: int) -> None:
        model = state.update(spark, batch)
        if model_out is not None:
            model.write(spark, f"{model_out}/model-{epoch}")

    writer = updates.writeStream.foreachBatch(apply).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start(), state


def online_fit_face(
    spark: SparkSession,
    events: DataFrame,
    n_hidden: int = 3,
    n_batches: int = 5,
    epochs: int = 2,
    alpha: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Driver-contract face: replay the event-derived sequence corpus
    through :class:`OnlineEM` as ``n_batches`` deterministic micro-batches
    (``portable_hash60(seq_id) % n_batches`` — the same split a partitioned
    stream source would deliver) for ``epochs`` passes, and return the
    final model as the tidy (kind, i, j, prob) frame. Rows-only by nature
    (an iterative trainer); pytest pins the loglik-gain bar vs batch EM
    (tests/test_online.py)."""
    from baum_welch_spark.functions.columns import portable_hash60
    from baum_welch_spark.hmm.em import cached
    from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary
    from pyspark.sql import functions as F

    n_observed = symbol_dictionary(events, "event_type").count()
    state = OnlineEM(model=HMM.random(n_hidden, n_observed, seed=seed), alpha=alpha)
    with cached(
        build_sequences(events)
        .withColumn("_b", (portable_hash60(F.col("seq_id")) % n_batches).cast("int"))
    ) as seqs:
        for _ in range(epochs):
            for b in range(n_batches):
                state.update(spark, seqs.filter(F.col("_b") == b).select("seq_id", "obs"))
    return state.model.to_df(spark)
