"""Grouped HMM training: one independent model per key — the "train a
model per domain / user segment / language" extension of the single-model
reference dataflow (reference trains exactly one HMM; SURVEY §2.4 D2).

Spark shape: ``applyInPandas`` over ``groupBy(group_col)`` — each group's
sequences land in one task, which runs the NumPy batched EM
(``kernel.batched_baum_welch`` — the same packed vectorized E-step
the distributed fit's Arrow batches run, pinned against the per-sequence
``sequential_baum_welch`` oracle in tests). This is the right tool when models are many and
each group's data fits a task (the common per-domain case); the distributed
``fit`` remains the tool for one model over an unbounded corpus.

Scale posture: one shuffle keyed by group; skewed groups are the caveat —
cap per-group sequence counts upstream (``sampling.cap_per_group``) if one
group dominates. Model rows come back as data (a DataFrame of per-group
tidy model rows), never through the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from baum_welch_spark.hmm.em import encode
from baum_welch_spark.hmm.model import HMM

#: output schema: each group's ``HMM.to_rows`` model rows (kinds initial,
#: transition, emission; value in ``weight``) with its loglik and n_seqs
GROUPED_MODEL_SCHEMA = (
    "group string, kind string, i int, j int, weight double, loglik double, n_seqs long"
)


def fit_grouped(
    sequences_with_group: DataFrame,
    n_hidden: int,
    n_observed: int,
    max_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Train one HMM per ``group`` over (group, seq_id, obs) rows.

    Every group starts from the same ``HMM.random(n_hidden, n_observed,
    seed)`` init, so results are deterministic and comparable across groups.
    Output: tidy model rows (group, kind, i, j, weight) plus each group's
    final total log-likelihood and sequence count on every row.
    """
    init = HMM.random(n_hidden, n_observed, seed=seed)
    pi0, A0, B0 = init.pi.copy(), init.A.copy(), init.B.copy()

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        from baum_welch_spark.hmm.kernel import batched_baum_welch

        group = str(pdf["group"].iloc[0])
        # fixed accumulation order: rows reach the task in partition-
        # dependent order, and float count-summation order would otherwise
        # leak ulp differences into the trained model (the batched kernel's
        # stable length sort is deterministic given this sorted order, so the
        # result stays partitioning-invariant)
        pdf = pdf.sort_values("seq_id")
        seqs = [np.asarray(o, dtype=np.int64) for o in pdf["obs"]]
        model, trace = batched_baum_welch(
            HMM(pi=pi0.copy(), A=A0.copy(), B=B0.copy()), seqs, max_iter=max_iter
        )
        return encode(model.blocks(), group=group).assign(
            loglik=trace[-1] if trace else float("nan"), n_seqs=len(seqs)
        )

    return (
        sequences_with_group.select("group", "seq_id", "obs")
        .groupBy("group")
        .applyInPandas(train, schema=GROUPED_MODEL_SCHEMA)
    )


def fit_grouped_distributed(
    spark,
    sequences_with_group: DataFrame,
    n_hidden: int,
    n_observed: int,
    max_iter: int = 5,
    tol: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Train one HMM per group with a DISTRIBUTED E-step — the large-group
    complement of :func:`fit_grouped`.

    ``fit_grouped`` shuffles each group's whole corpus into one task and
    runs sequential EM there: parallelism = group count, wall = the largest
    group. That is right for many small groups, and exactly wrong when a
    few groups hold most of the data (per-domain models over a 100 TB
    corpus with 10 domains: 10 tasks do all the work). This variant keeps
    the single-model ``fit`` posture — per iteration ONE job over ALL
    groups' sequences (parallelism = partitions, wherever the data sits),
    an in-UDF map-side combine per (batch, group), a
    groupBy(group, kind, i, j) count shuffle that is model×groups-sized,
    and a driver M-step per group on the collected tiny counts. The
    single-model trainers (``em.run_em``) skip that shuffle and sum each
    partition's stripes on the driver; here the unsummed frame is
    partitions × groups × model rows, so the shuffle (``em.sum_stripes``)
    stays and the driver receives groups × model rows. Converged
    groups freeze out of later iterations (their sequences are filtered
    before the E-step, so finished groups cost nothing).

    Same init contract as fit_grouped (every group starts from
    ``HMM.random(n_hidden, n_observed, seed)``); per-group results match
    fit_grouped to float-summation order (pinned at 1e-8 in
    tests/test_grouped.py — the grouped analogue of the fit-vs-sequential
    pin). Driver memory is O(groups × N(N+M)): fine for the per-domain /
    per-segment cardinalities this targets; for millions of tiny groups use
    fit_grouped.

    Output: the same tidy GROUPED_MODEL_SCHEMA rows as fit_grouped.
    """
    from baum_welch_spark.hmm.em import KIND_LOGLIK, block_shapes, cached, decode
    from baum_welch_spark.hmm.fit import expected_counts_grouped
    from baum_welch_spark.hmm.kernel import m_step

    init = HMM.random(n_hidden, n_observed, seed=seed)
    shapes = {**block_shapes(init.blocks()), KIND_LOGLIK: (1,)}
    # cast the group key to string up front: the broadcast model dict is
    # keyed by str, and a non-string group column would otherwise miss the
    # lookup inside the E-step UDF and silently drop the group
    with cached(
        sequences_with_group.select(
            F.col("group").cast("string").alias("group"), "seq_id", "obs"
        )
    ) as data:
        # group inventory + sequence counts: one group-cardinality-sized
        # collect (the trainer's output is per-group models, so group count
        # bounds driver memory by definition)
        meta = data.groupBy("group").agg(F.count(F.lit(1)).alias("n_seqs")).collect()
        models: dict[str, HMM] = {str(r.group): init for r in meta}
        n_seqs = {str(r.group): int(r.n_seqs) for r in meta}
        last_ll: dict[str, float] = {}
        active = set(models)
        sc = spark.sparkContext
        for _ in range(max_iter):
            if not active:
                break
            src = (
                data
                if len(active) == len(models)
                else data.filter(F.col("group").isin(sorted(active)))
            )
            bc = sc.broadcast(
                {g: (models[g].pi, models[g].A, models[g].B) for g in active}
            )
            try:
                rows = expected_counts_grouped(src, bc).collect()
            finally:
                bc.unpersist()
            by_group: dict[str, list] = {}
            for r in rows:
                by_group.setdefault(str(r.group), []).append(r)
            # iterate over ACTIVE groups, not just groups that produced
            # counts: a group whose sequences are all empty emits nothing,
            # and sequential EM (fit_grouped) still runs its M-step on zero
            # counts (-> uniform model, loglik 0.0) — parity demands the
            # same here
            for g in sorted(active):
                counts, last_ll[g] = decode(by_group.get(g, []), shapes)
                new_model = m_step(*counts.values())
                delta = models[g].distance(new_model)
                models[g] = new_model
                if tol > 0 and delta < tol:
                    active.discard(g)

    frames = [
        encode(models[g].blocks(), group=g).assign(
            loglik=last_ll.get(g, float("nan")), n_seqs=n_seqs[g]
        )
        for g in sorted(models)
    ]
    return spark.createDataFrame(
        pd.concat(frames, ignore_index=True) if frames else [], schema=GROUPED_MODEL_SCHEMA
    )


def decode_grouped(
    sequences_with_group: DataFrame, grouped_models: DataFrame
) -> DataFrame:
    """Viterbi-decode every sequence under ITS OWN group's model — the
    serving-side complement of fit_grouped (train per domain, then decode
    each domain's traffic under its domain model).

    Spark shape: ``cogroup(...).applyInPandas`` — the tidy model rows and
    the group's sequences are co-shuffled on the group key into one task,
    so each model meets exactly its own data; no model table broadcast, no
    driver round-trip, and model count can scale with group count. (The
    single-model ``decode.viterbi_decode`` broadcast path remains the tool
    when one model serves the whole corpus.)

    Groups present on only one side yield no rows (inner-cogroup
    semantics): a group with sequences but no trained model is not
    decodable, and a model with no traffic has nothing to emit.

    Output: (group, seq_id, loglik, path_str) — Viterbi joint log-prob and
    the comma-joined best path.
    """
    from baum_welch_spark.hmm.kernel import symbol_emit, viterbi_paths

    def decode(models_pdf: pd.DataFrame, seqs_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(models_pdf) or not len(seqs_pdf):
            return pd.DataFrame(
                {"group": [], "seq_id": [], "loglik": [], "path_str": []}
            )
        group = str(models_pdf["group"].iloc[0])
        model = HMM.from_rows(models_pdf.rename(columns={"weight": "prob"}))
        with np.errstate(divide="ignore"):
            log_pi, log_A, log_B = np.log(model.pi), np.log(model.A), np.log(model.B)
        seqs_pdf = seqs_pdf.sort_values("seq_id")
        keep = [o is not None and len(o) > 0 for o in seqs_pdf["obs"]]
        seqs_pdf = seqs_pdf[keep]
        obs_list = list(seqs_pdf["obs"])
        paths, lls = viterbi_paths(
            log_pi, log_A, symbol_emit(log_B), obs_list, model.n_observed
        )
        return pd.DataFrame(
            {
                "group": group,
                "seq_id": seqs_pdf["seq_id"].to_numpy(),
                "loglik": lls,
                "path_str": [",".join(map(str, p.tolist())) for p in paths],
            }
        )

    return (
        grouped_models.groupBy("group")
        .cogroup(sequences_with_group.select("group", "seq_id", "obs").groupBy("group"))
        .applyInPandas(
            decode, schema="group string, seq_id bigint, loglik double, path_str string"
        )
    )


def decode_per_event_class(events: DataFrame, n_hidden: int = 3, max_iter: int = 5) -> DataFrame:
    """Driver-style face: train per-segment models (fit_per_event_class's
    segmentation) and Viterbi-decode every user's sequence under its own
    segment's model. Rows-only in the driver contract (the models come from
    the Python EM loop); pytest pins per-group parity with the single-model
    broadcast decoder."""
    from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary

    n_observed = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 3).cast("string"))
    )
    models = fit_grouped(seqs, n_hidden, n_observed, max_iter=max_iter)
    return decode_grouped(seqs, models).select(
        "group", "seq_id", F.round("loglik", 6).alias("loglik"), "path_str"
    )


def fit_per_event_class(events: DataFrame, n_hidden: int = 3, max_iter: int = 5) -> DataFrame:
    """Driver-style face: segment users by ``user_id % 3`` (a deterministic
    stand-in for a domain column) and train one HMM per segment over each
    user's event-type sequence."""
    from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary

    n_observed = symbol_dictionary(events, "event_type").count()
    seqs = build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 3).cast("string"))
    )
    return fit_grouped(seqs, n_hidden, n_observed, max_iter=max_iter).orderBy(
        "group", "kind", "i", "j"
    )
