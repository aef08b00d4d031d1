"""Discrete Baum-Welch EM on Spark DataFrames: the soft-EM trainers (one
model, restarts) and the faces built on their E-step. The driver loop itself
is ``em.run_em``, over keyed models.

- E-step (reference mapper M2-M6, BaumWelchMapper.java:143-258):
  :func:`e_step_stripes` (every key's model over every sequence) and
  :func:`grouped_stripes` (each sequence under its group's model), whose
  partitions each emit ONE count block per key — the map-side combine the
  reference wrote but disabled (BaumWelchCombiner.java, off at
  BaumWelchDriver.java:171). The reference shuffles O(S*T*(2N+1)) stripe
  records instead (its T-fold duplicate emission included, SURVEY §2.6 Q1).
  The trainers sum the blocks on the driver (``em.e_step``, no shuffle);
  the re-estimation faces sum them with a Catalyst aggregate
  (:func:`expected_counts`, :func:`em_reestimate_grouped`).
- M-step (reference A1-A4, BaumWelchReducer.java:49-149): ``kernel.m_step``
  on the driver for the trainers; :func:`normalize_counts`, a Catalyst
  window, for the DuckDB-exact re-estimation faces (:func:`em_reestimate`,
  :func:`em_trace`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from baum_welch_spark.hmm.decode import (
    _CODED_SQL,
    _PIVOT_TERMS,
    _coded_ctes,
    _count_branch,
    _gamma_xi_ctes,
    _lap_ctes,
    _literal,
    _normalized,
    _pivot_cte,
    _symbol_emis,
)
from baum_welch_spark.hmm.em import (
    KIND_LOGLIK,
    SOLE_KEY,
    FitResult,
    block_shapes,
    decode,
    keyed_stripes,
    lap_trace,
    run_em,
    sum_stripes,
)
from baum_welch_spark.hmm.kernel import e_step_counts_batch, m_step
from baum_welch_spark.hmm.model import HMM, KIND_EMISSION


def _triple(model: HMM) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The soft E-step's broadcast payload: the model's (pi, A, B)."""
    return model.pi, model.A, model.B


def _count_shapes(model: HMM) -> dict[str, tuple[int, ...]]:
    """The shapes of a discrete model's count blocks: its own block layout."""
    return block_shapes(model.blocks())


def _zero_counts(payload) -> dict[str, np.ndarray]:
    """Zero counts in the model's block layout, for a (pi, A, B) payload
    (probabilities or their logs)."""
    return HMM(*map(np.zeros_like, payload)).blocks()


def _sequences(pdf: pd.DataFrame) -> tuple[list[np.ndarray], np.ndarray | None] | None:
    """An Arrow batch's non-empty sequences and, when it carries a
    ``weight`` column, their weights (see :func:`fit`'s ``weight_col``);
    None when every sequence is empty."""
    weighted = "weight" in pdf
    # Fail fast: a null weight survives cast("double") as NaN/None and would
    # silently poison every accumulated count in the batch
    if weighted and pdf["weight"].isna().any():
        raise ValueError(
            "fit(weight_col=...): null/NaN weight encountered — "
            "weights must be non-null finite doubles"
        )
    kept = [
        (np.asarray(o, dtype=np.int64), float(wt))
        for o, wt in zip(pdf["obs"], pdf["weight"] if weighted else [1.0] * len(pdf))
        if o is not None and len(o) > 0
    ]
    if not kept:
        return None
    return [o for o, _ in kept], np.array([wt for _, wt in kept]) if weighted else None


def _soft_counts(payload, data, counts: dict[str, np.ndarray], ll: float) -> float:
    """The soft E-step of one batch under a (pi, A, B) payload: the batched
    packed DP (``kernel.e_step_counts_batch``, O(max_T) Python steps per
    batch), its expected counts added into ``counts``."""
    obs_list, weights = data
    return ll + e_step_counts_batch(*payload, obs_list, *counts.values(), weights=weights)


def e_step_stripes(
    sequences: DataFrame, bc_models, weight_col: str | None = None
) -> DataFrame:
    """One soft E-step over the corpus under every broadcast ``{key: (pi,
    A, B)}`` -> the unsummed keyed stripe frame (``em.keyed_stripes``): per
    partition and key, one count block and loglik row, which ``em.e_step``
    sums on the driver. With ``weight_col`` every sequence's counts and
    loglik scale by its weight (kernel.e_step_counts_batch)."""
    if weight_col is None:
        inp = sequences.select("obs")
    else:
        inp = sequences.select("obs", F.col(weight_col).cast("double").alias("weight"))
    return keyed_stripes(inp, bc_models, _sequences, _zero_counts, _soft_counts)


def grouped_stripes(sequences_with_group: DataFrame, bc_models) -> DataFrame:
    """The grouped soft E-step over (group, obs) rows: each sequence under
    its own group's broadcast (pi, A, B), or under the default key ``None``
    -> keyed stripes whose key is the group (as a string). A null group
    raises ``ValueError``."""
    return keyed_stripes(
        sequences_with_group.select(F.col("group").cast("string").alias("group"), "obs"),
        bc_models,
        _sequences, _zero_counts, _soft_counts, by="group",
    )


def expected_counts(
    sequences: DataFrame, bc_models, weight_col: str | None = None
) -> DataFrame:
    """One E-step over the corpus under a one-key ``{key: (pi, A, B)}``
    broadcast -> aggregated count DataFrame (kind, i, j, weight), including
    the loglik side-channel row."""
    return sum_stripes(e_step_stripes(sequences, bc_models, weight_col))


def em_reestimate_grouped(
    spark: SparkSession, sequences_with_group: DataFrame, model: HMM
) -> DataFrame:
    """One grouped soft-EM re-estimation step: every group's counts under
    the same FIXED ``model`` (the default key of :func:`grouped_stripes`),
    summed per (group, kind, i, j) and normalized per (group, kind, i) —
    the grouped twin of :func:`em_reestimate`, and the DuckDB-exact pin for
    the grouped E-step that ``fit_grouped_distributed`` iterates. Output:
    (group, kind, i, j, prob) rounded to 6 dp."""
    bc = spark.sparkContext.broadcast({None: _triple(model)})
    counts = sum_stripes(grouped_stripes(sequences_with_group, bc), "key")
    return normalize_counts(counts.filter(F.col("weight") > 0), "key").select(
        F.col("key").alias("group"), "kind", "i", "j", F.round(F.col("prob"), 6).alias("prob")
    )


def normalize_counts(counts: DataFrame, *by: str) -> DataFrame:
    """M-step normalize as a Catalyst window over ``(*by, kind, i)`` — the
    DuckDB-checkable face of the reference reducer's normalize
    (BaumWelchReducer.java:133-149)."""
    w = Window.partitionBy(*by, "kind", "i")
    return (
        counts.filter(F.col("kind") != KIND_LOGLIK)
        .withColumn("prob", F.col("weight") / F.sum("weight").over(w))
        .select(*by, "kind", "i", "j", "prob")
    )


def _masked(model: HMM, mask: np.ndarray) -> HMM:
    """Zero masked transition entries and renormalize each row over its
    allowed entries (zero-mass rows become uniform over allowed entries)."""
    if mask.shape != model.A.shape:
        raise ValueError(f"topology_mask shape {mask.shape} != A {model.A.shape}")
    if not mask.any(axis=1).all():
        raise ValueError("every state needs at least one allowed transition")
    A = np.where(mask, model.A, 0.0)
    s = A.sum(axis=1, keepdims=True)
    fallback = mask / mask.sum(axis=1, keepdims=True)
    A = np.where(s > 0, A / np.where(s > 0, s, 1.0), fallback)
    return HMM(
        pi=model.pi, A=A, B=model.B,
        hidden_names=model.hidden_names, observed_names=model.observed_names,
    ).validate()


def run_discrete_em(
    spark: SparkSession,
    sequences: DataFrame,
    inits: dict[str, HMM],
    estep=e_step_stripes,
    payload=_triple,
    max_iter: int = 10,
    tol: float = 0.0,
    topology_mask: np.ndarray | None = None,
    model_out: str | None = None,
) -> dict[str, FitResult]:
    """:func:`em.run_em` for keyed discrete (pi, A, B) models: validated
    (and masked) inits, ``kernel.m_step`` re-estimation (re-masked each
    time). The E-step defaults to soft EM (:func:`e_step_stripes` under
    each key's (pi, A, B))."""
    if topology_mask is not None:
        topology_mask = np.asarray(topology_mask, dtype=bool)

    def masked(model: HMM) -> HMM:
        return model if topology_mask is None else _masked(model, topology_mask)

    return run_em(
        spark, sequences, {key: masked(m.validate()) for key, m in inits.items()},
        estep=estep, payload=payload, mstep=lambda _, blocks: masked(m_step(*blocks.values())),
        shapes=_count_shapes,
        max_iter=max_iter, tol=tol, model_out=model_out,
    )


def fit(
    spark: SparkSession,
    sequences: DataFrame,
    init: HMM,
    max_iter: int = 10,
    tol: float = 0.0,
    model_out: str | None = None,
    weight_col: str | None = None,
    topology_mask: np.ndarray | None = None,
) -> FitResult:
    """Distributed soft EM (reference driver D2, BaumWelchDriver.java:114-134)
    on :func:`em.run_em` as one key: the E-step is :func:`e_step_stripes`
    under the broadcast (pi, A, B) triple, one job and one stage per
    iteration whose per-partition stripes the driver sums. Optionally writes
    ``{model_out}/model-{it}`` parquet per iteration (reference S3/S4 sinks,
    BaumWelchUtils.java:147-226, BaumWelchDriver.java:128,178).

    ``weight_col``: per-sequence multiplicity/importance weights — train on
    a DEDUPLICATED corpus where each kept sequence carries its duplicate
    count (an integer weight w is numerically equivalent to replicating the
    sequence w times; asserted in tests). The loglik trace is the weighted
    total.

    ``topology_mask``: (N, N) bool — structural transition topology (e.g.
    ``HMM.bakis_mask`` for left-to-right models, Rabiner 1989 §IV.b;
    extends the reference's D5 validation invariants, BaumWelchModel.java:
    57-82, to structured models). Applied to the init (masked entries
    zeroed, rows renormalized) and RE-applied after every M-step: EM itself
    provably preserves structural zeros (the xi numerator carries a factor
    of A[i,j], so a zero parameter accumulates zero count), but ``m_step``
    resets zero-mass rows of an unreachable state to uniform — the
    re-application makes those uniform over ALLOWED transitions instead.
    """
    return run_discrete_em(
        spark, sequences, {SOLE_KEY: init},
        estep=lambda data, bc: e_step_stripes(data, bc, weight_col=weight_col),
        max_iter=max_iter, tol=tol, topology_mask=topology_mask, model_out=model_out,
    )[SOLE_KEY]


def fit_restarts(
    spark: SparkSession,
    sequences: DataFrame,
    n_hidden: int,
    n_observed: int,
    n_restarts: int = 4,
    max_iter: int = 10,
    tol: float = 0.0,
    base_seed: int = 42,
) -> tuple[FitResult, list[float]]:
    """Multi-restart EM: train from ``n_restarts`` random initializations
    (seeds ``base_seed + r``) and keep the run with the best
    final-iteration log-likelihood — the standard guard against EM's local
    optima that a single random init cannot give (the reference driver
    trains one init only; this is the robustness wrapper around its D2
    loop).

    The restarts are the keys of one :func:`em.run_em` loop: each
    iteration is one E-step job in which every Arrow batch runs under every
    restart's model, over a corpus persisted once. Each restart's model and
    trace are bit for bit those of a standalone :func:`fit` from its init.

    Selection compares the FINAL log-likelihood of each trained model —
    P(O | λ_r) from the same E-step, but not necessarily at the same
    iteration index: with ``tol > 0`` some restarts may converge (and
    stop) earlier than others, which is the intended semantics (best model
    wins, however long it took). The first best restart wins a tie.

    Restart mode does NOT write per-iteration model checkpoints; callers
    that need the winning restart's checkpoint trail should re-run ``fit``
    with the winning seed and ``model_out`` set. Returns (best FitResult,
    final loglik per restart).
    """
    if n_restarts < 1:
        raise ValueError("n_restarts must be >= 1")
    fits = run_discrete_em(
        spark, sequences,
        {str(r): HMM.random(n_hidden, n_observed, seed=base_seed + r) for r in range(n_restarts)},
        max_iter=max_iter, tol=tol,
    ).values()
    return max(fits, key=lambda f: f.loglik_trace[-1]), [f.loglik_trace[-1] for f in fits]


def em_reestimate(
    spark: SparkSession, sequences: DataFrame, model: HMM
) -> DataFrame:
    """One distributed SOFT-EM re-estimation step as a tidy DataFrame
    (kind, i, j, prob): E-step expected counts (γ at t=0 for pi, Σ_t ξ for
    A, Σ_t γ by symbol for B — kernel.e_step_counts_batch, reference
    M4/M5/M6 stripes, BaumWelchMapper.java:157-240 with the §2.6 Q2/Q3/Q5
    corrections) under a FIXED ``model``, then the Catalyst window
    normalize (normalize_counts, reference reducer A4).

    This is the soft twin of viterbi_train.viterbi_reestimate, and the
    DuckDB-exact pin for the distributed E-step itself: the oracle
    (em_reestimate_oracle_sql) recomputes γ/ξ from the scaled
    forward/backward recursive CTEs and must land on the same 6-dp-rounded
    probabilities — so the mapInPandas accumulation, the count shuffle, and
    the window normalize are checked end-to-end, not just via the pytest
    NumPy oracle. Probabilities are strictly positive here (γ > 0 for a
    dense random model), so plain round needs no signed-zero guard."""
    bc = spark.sparkContext.broadcast({SOLE_KEY: _triple(model)})
    counts = expected_counts(sequences, bc)
    # weight > 0: the E-step UDF emits the DENSE N x (N+M) accumulator
    # including exactly-zero cells (a symbol absent from the corpus, or a
    # fully-underflowed state); the oracle's GROUP BYs only produce rows
    # for observed events, so zero-weight cells must be absent on both
    # sides (the same sparse-output contract as viterbi_reestimate)
    return normalize_counts(counts.filter(F.col("weight") > 0)).select(
        "kind", "i", "j", F.round(F.col("prob"), 6).alias("prob")
    )


def em_reestimate_oracle_sql(model: HMM, group_expr: str | None = None) -> str:
    """ANSI-SQL (DuckDB) oracle for em_reestimate: one literal-model lap of
    :func:`_em_laps` — γ/ξ from the scaled forward/backward recursive CTEs,
    summed by plain GROUP BYs and normalized with the same count/Σcount
    window as the Spark side. The two engines sum γ/ξ in different float
    orders (~1e-12 agreement); both round to 6 dp.

    ``group_expr``: optional SQL expression with a ``{u}`` placeholder for
    the sequence id — when given, the oracle becomes the grouped twin
    (em_reestimate_grouped): every branch additionally groups by it and
    the normalize window partitions by (group, kind, i)."""
    group = '"group", ' if group_expr is not None else ""
    return _em_laps(model, 1, group_expr) + f"\nSELECT {group}kind, i, j, prob FROM m1\n"


def _em_laps(model: HMM, n_iters: int, group_expr: str | None = None) -> str:
    """WITH-prefix of the discrete EM oracles: ``n_iters`` chained laps,
    lap k being alpha{k}/beta{k} (decode._lap_ctes), g{k}/xi{k}/raw{k}
    (decode._gamma_xi_ctes, plus the per-symbol emission branches) and
    ``m{k}``, its re-estimate rounded to 6 dp. Lap 1 embeds ``model`` as
    full-precision literals; every later lap reads the previous lap's m as
    the one-row pivot ``mw{k-1}`` (pi, A) and ``bsym{k-1}``, its emission
    probs pre-joined per (t, state) onto the coded sequence, so the chaining
    runs entirely inside DuckDB. ``group_expr`` (see
    :func:`em_reestimate_oracle_sql`) is for a single lap only."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    n = model.pi.shape[0]
    j1 = range(1, n + 1)
    pi, a = _literal(model.pi, model.A)
    emis, coded, mw = _symbol_emis(model.B), "coded", ""
    ctes = []
    for k in range(1, n_iters + 1):
        if k > 1:
            p = k - 1
            bjoin = "\n  ".join(
                f"LEFT JOIN m{p} e{j} ON e{j}.kind = '{KIND_EMISSION}' AND e{j}.i = {j - 1} AND e{j}.j = c.sym"
                for j in j1
            )
            bcols = ", ".join(f"coalesce(e{j}.prob, 0.0) AS b{j}" for j in j1)
            ctes += [_pivot_cte(n, p, "prob"), f"""bsym{p} AS MATERIALIZED (
  SELECT c.user_id, c.t, c.sym, {bcols}
  FROM coded c
  {bjoin}
)"""]
            pi, a = _PIVOT_TERMS
            emis, coded, mw = (lambda j: f"c.b{j}"), f"bsym{p}", f"mw{p}"
        emission = [
            _count_branch(f"'{KIND_EMISSION}', {j - 1}, c.sym", f"sum(g.g{j})",
                          f"g{k} g JOIN coded c ON c.user_id = g.user_id AND c.t = g.t",
                          group_expr, ("c.sym",))
            for j in j1
        ]
        ctes += [
            _lap_ctes(n, pi, a, emis, k, coded, mw),
            _gamma_xi_ctes(n, a, emis, k, coded, mw, group_expr, emission),
            f"m{k} AS MATERIALIZED (\n{_normalized(k, 'prob', group_expr)}\n)",
        ]
    return _coded_ctes(_CODED_SQL) + ",\n".join(ctes)


def em_trace(
    spark: SparkSession, sequences: DataFrame, model: HMM, n_iters: int = 2
) -> DataFrame:
    """The EM *loop* as a tidy trace: ``n_iters`` chained re-estimation
    steps, iteration k+1's model being iteration k's 6-dp-rounded tidy
    output (the ``modelIn <- modelOut`` chaining the reference drives at
    BaumWelchDriver.java:114-134, one MR job per lap). Output is every
    iteration's model: ``(iter, kind, i, j, prob)``.

    This is the driver-exact pin for the chaining itself, not just one
    step (VERDICT r11 #3): the DuckDB oracle (:func:`em_trace_oracle_sql`)
    derives iteration 2+'s model from iteration 1's OWN CTE output —
    pivoted to a one-row model CTE and joined into the next lap's
    forward/backward recursions — never from the Python driver. The
    6-dp round at each hand-off makes the chain stable: both engines'
    lap-k inputs are bit-identical because lap k-1's rounded output is the
    already-proven ``em_reestimate`` contract, so every lap has the same
    ~1e-12-at-6dp agreement class as the single-step face, with no error
    compounding across laps.

    The laps run on :func:`em.lap_trace`; the per-lap ``collect`` is
    model-sized (N^2 + N*M + N rows) — the same driver-side footprint as
    :func:`fit`'s convergence test.
    """
    shapes = block_shapes(model.blocks())

    def next_model(rows) -> HMM:
        # the rounded rows verbatim: no validate/renormalize — they sum to 1
        # only within ~2e-6, and the oracle does not renormalize either
        return HMM.from_blocks(decode(rows, shapes, "prob")[0])

    return lap_trace(
        spark, sequences, model, n_iters,
        lambda seqs, m: em_reestimate(spark, seqs, m), next_model, "prob",
    )


def em_trace_oracle_sql(model: HMM, n_iters: int = 2) -> str:
    """ANSI-SQL (DuckDB) oracle for :func:`em_trace`: the chained laps of
    :func:`_em_laps` — lap 1 is the :func:`em_reestimate_oracle_sql` lap,
    every later lap takes its model from the previous lap's rounded output
    CTE, mirroring the engine's modelOut -> modelIn hand-off — and every
    lap's model as ``(iter, kind, i, j, prob)``."""
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS iter, kind, i, j, prob FROM m{k}" for k in range(1, n_iters + 1)
    )
    return _em_laps(model, n_iters) + f"\n{union}\n"
