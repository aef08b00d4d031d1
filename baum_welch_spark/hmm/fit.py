"""Discrete Baum-Welch EM on Spark DataFrames: the soft-EM trainer and the
faces built on its E-step. The driver loop itself is ``em.run_em``.

- E-step (reference mapper M2-M6, BaumWelchMapper.java:143-258):
  :func:`e_step_udf`, whose partitions each emit ONE count block — the
  map-side combine the reference wrote but disabled (BaumWelchCombiner.java,
  off at BaumWelchDriver.java:171). The reference shuffles O(S*T*(2N+1))
  stripe records instead (its T-fold duplicate emission included, SURVEY
  §2.6 Q1). The trainers sum the blocks on the driver (``em.run_em``, no
  shuffle); the re-estimation faces sum them with a Catalyst aggregate
  (:func:`expected_counts`).
- M-step (reference A1-A4, BaumWelchReducer.java:49-149): ``kernel.m_step``
  on the driver for the trainers; :func:`normalize_counts`, a Catalyst
  window, for the DuckDB-exact re-estimation faces (:func:`em_reestimate`,
  :func:`em_trace`).
"""

from __future__ import annotations

from typing import Iterator

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
    COUNTS_SCHEMA,
    GROUPED_COUNTS_SCHEMA,
    KIND_LOGLIK,
    FitResult,
    block_shapes,
    cached,
    decode,
    encode,
    lap_trace,
    run_em,
    sum_stripes,
)
from baum_welch_spark.hmm.kernel import e_step_counts_batch, m_step
from baum_welch_spark.hmm.model import HMM, KIND_EMISSION


def e_step_udf(bc_model, weighted: bool = False):
    """Build the mapInPandas function for one E-step pass.

    One stripe block per partition (``em.encode``): the partition's
    expected counts plus its loglik side-channel row.

    ``weighted``: the input carries a ``weight`` column and every
    sequence's counts/loglik scale by it (deduplicated-corpus multiplicity
    semantics — see kernel.e_step_counts_batch).
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc_model.value
        counts = HMM(*map(np.zeros_like, (pi, A, B)))  # the model's block layout
        ll = 0.0
        saw_data = False
        for pdf in batches:
            if weighted:
                wts_in = pdf["weight"]
                # Fail fast: a null weight survives cast("double") as NaN/None
                # and would silently poison every accumulated count in the
                # batch (NaN propagates through the += folds).
                if wts_in.isna().any():
                    raise ValueError(
                        "fit(weight_col=...): null/NaN weight encountered — "
                        "weights must be non-null finite doubles"
                    )
            else:
                wts_in = [1.0] * len(pdf)
            kept = [
                (np.asarray(o, dtype=np.int64), float(wt))
                for o, wt in zip(pdf["obs"], wts_in)
                if o is not None and len(o) > 0
            ]
            if not kept:
                continue
            obs_list = [o for o, _ in kept]
            saw_data = True
            # batched packed DP: Python loop is O(max_T) per Arrow batch,
            # not O(sum T) — see kernel.e_step_counts_batch
            ll += e_step_counts_batch(
                pi, A, B, obs_list, counts.pi, counts.A, counts.B,
                weights=np.array([wt for _, wt in kept]) if weighted else None,
            )
        if saw_data:
            yield encode(counts.blocks(), ll)

    return compute


def e_step_stripes(
    sequences: DataFrame, bc_model, weight_col: str | None = None
) -> DataFrame:
    """One E-step over the corpus -> the unsummed stripe frame
    (kind, i, j, weight): one count block and loglik row per partition,
    which ``em.decode`` sums on the driver."""
    if weight_col is None:
        inp = sequences.select("obs")
    else:
        inp = sequences.select("obs", F.col(weight_col).cast("double").alias("weight"))
    return inp.mapInPandas(
        e_step_udf(bc_model, weighted=weight_col is not None), schema=COUNTS_SCHEMA
    )


def expected_counts(
    sequences: DataFrame, bc_model, weight_col: str | None = None
) -> DataFrame:
    """One E-step over the corpus -> aggregated count DataFrame
    (kind, i, j, weight), including the loglik side-channel row."""
    return sum_stripes(e_step_stripes(sequences, bc_model, weight_col))


def grouped_e_step_udf(bc_models):
    """mapInPandas function for one E-step pass over (group, obs) rows with
    a PER-GROUP model: ``bc_models.value`` is {group: (pi, A, B)}, with an
    optional ``None`` key as the shared default (every group not frozen out
    uses it — the one-step re-estimate case). Groups absent from the dict
    (and no default) are skipped — that is how the driver loop freezes
    converged groups without repartitioning the corpus.

    Emits one stripe block per (Arrow batch, group), keyed by a ``group``
    column: the same in-UDF map-side combine as ``e_step_udf``, so
    per-iteration shuffle volume is O(partitions × groups-per-partition ×
    N(N+M)) — corpus-size independent, exactly the single-model posture
    with a group key added.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        models = bc_models.value
        default = models.get(None)
        acc: dict[str, list] = {}
        for pdf in batches:
            for group, sub in pdf.groupby("group", sort=False):
                triple = models.get(group, default)
                if triple is None:
                    continue
                pi, A, B = triple
                obs_list = [
                    np.asarray(o, dtype=np.int64)
                    for o in sub["obs"]
                    if o is not None and len(o) > 0
                ]
                if not obs_list:
                    continue
                a = acc.setdefault(str(group), [HMM(*map(np.zeros_like, triple)), 0.0])
                a[1] += e_step_counts_batch(pi, A, B, obs_list, a[0].pi, a[0].A, a[0].B)
        if acc:
            yield pd.concat(
                [encode(c.blocks(), ll, group=group) for group, (c, ll) in acc.items()],
                ignore_index=True,
            )

    return compute


def expected_counts_grouped(sequences_with_group: DataFrame, bc_models) -> DataFrame:
    """One grouped E-step over (group, obs) rows -> aggregated counts
    (group, kind, i, j, weight) including each group's loglik row."""
    raw = sequences_with_group.select("group", "obs").mapInPandas(
        grouped_e_step_udf(bc_models), schema=GROUPED_COUNTS_SCHEMA
    )
    return sum_stripes(raw, "group")


def em_reestimate_grouped(
    spark: SparkSession, sequences_with_group: DataFrame, model: HMM
) -> DataFrame:
    """One grouped soft-EM re-estimation step: every group's counts under
    the same FIXED ``model``, normalized per (group, kind, i) — the grouped
    twin of :func:`em_reestimate`, and the DuckDB-exact pin for the grouped
    count shuffle itself (the aggregation path ``fit_grouped_distributed``
    iterates). Output: (group, kind, i, j, prob) rounded to 6 dp."""
    bc = spark.sparkContext.broadcast({None: (model.pi, model.A, model.B)})
    counts = expected_counts_grouped(sequences_with_group, bc)
    return normalize_counts(counts.filter(F.col("weight") > 0), "group").select(
        "group", "kind", "i", "j", F.round(F.col("prob"), 6).alias("prob")
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
    init: HMM,
    estep,
    payload,
    max_iter: int,
    tol: float,
    topology_mask: np.ndarray | None = None,
    model_out: str | None = None,
) -> FitResult:
    """:func:`em.run_em` for a discrete (pi, A, B) model: validated (and
    masked) init, ``kernel.m_step`` re-estimation (re-masked each time)."""
    model = init.validate()
    if topology_mask is not None:
        topology_mask = np.asarray(topology_mask, dtype=bool)
        model = _masked(model, topology_mask)

    def mstep(_, blocks: dict[str, np.ndarray]) -> HMM:
        new = m_step(*blocks.values())
        return new if topology_mask is None else _masked(new, topology_mask)

    return run_em(
        spark, sequences, model, estep=estep, payload=payload, mstep=mstep,
        shapes=block_shapes(model.blocks()),
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
    on :func:`em.run_em`: the E-step is :func:`e_step_stripes` under the
    broadcast (pi, A, B) triple, one job and one stage per iteration whose
    per-partition stripes the driver sums. Optionally writes
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
        spark, sequences, init,
        estep=lambda data, bc: e_step_stripes(data, bc, weight_col=weight_col),
        payload=lambda m: (m.pi, m.A, m.B),
        max_iter=max_iter, tol=tol, topology_mask=topology_mask, model_out=model_out,
    )


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
    """Multi-restart EM: run :func:`fit` from ``n_restarts`` random
    initializations (seeds ``base_seed + r``) and keep the run with the
    best final-iteration log-likelihood — the standard guard against EM's
    local optima that a single random init cannot give (the reference
    driver trains one init only; this is the robustness wrapper around its
    D2 loop).

    The sequence corpus is persisted ONCE here and shared by every restart
    (fit respects a caller-managed cache), so n_restarts costs n_restarts
    EM loops over cached data, not n_restarts corpus reads. Restarts run as
    a small pool of overlapping driver threads (2-3 jobs in flight,
    optimization guide §2.6): FIFO scheduling lets one restart's tiny
    per-iteration stages back-fill executors idled by another's stage
    tail — on a saturated cluster this degrades gracefully to the
    sequential cost, never worse.

    Selection compares the FINAL log-likelihood of each trained model —
    P(O | λ_r) from the same E-step, but not necessarily at the same
    iteration index: with ``tol > 0`` some restarts may converge (and
    stop) earlier than others, which is the intended semantics (best model
    wins, however long it took).

    Restart mode does NOT write per-iteration model checkpoints (``fit`` is
    called without ``model_out``); callers that need the winning restart's
    checkpoint trail should re-run ``fit`` with the winning seed and
    ``model_out`` set. Returns (best FitResult, final loglik per restart).
    """
    if n_restarts < 1:
        raise ValueError("n_restarts must be >= 1")
    inits = [HMM.random(n_hidden, n_observed, seed=base_seed + r) for r in range(n_restarts)]
    results = fit_many(spark, sequences, inits, max_iter=max_iter, tol=tol)
    best: FitResult | None = None
    finals: list[float] = []
    for res in results:
        finals.append(res.loglik_trace[-1])
        if best is None or res.loglik_trace[-1] > best.loglik_trace[-1]:
            best = res
    return best, finals


def fit_many(
    spark: SparkSession, sequences: DataFrame, inits: list[HMM], max_iter: int, tol: float
) -> list[FitResult]:
    """:func:`fit` from each of ``inits`` over ONE cached corpus. The fits
    are independent EM loops, so they overlap as a small pool of driver
    threads (optimization guide §2.6): each fit's tiny per-iteration stages
    back-fill executors idled by another's stage tail. Results come back in
    ``inits`` order and each fit's arithmetic is untouched, so they are
    bit-identical to a sequential sweep."""
    from concurrent.futures import ThreadPoolExecutor

    with cached(sequences) as data, ThreadPoolExecutor(max_workers=min(3, len(inits))) as pool:
        return list(pool.map(lambda m: fit(spark, data, m, max_iter=max_iter, tol=tol), inits))


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
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))
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
