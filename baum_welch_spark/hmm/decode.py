"""Model-application operators: Viterbi decoding, posterior scoring, top-k.

The reference's downstream story (decoding/evaluation lives in Mahout's
sequential HmmEvaluator, outside the reference repo — SURVEY §3.3); here
they are first-class distributed operators over the ``sequences`` corpus:

  * viterbi_decode    — most likely hidden path per sequence (log-space DP)
  * posterior_decode  — per-step most-likely state (argmax gamma_t) — the
                        cheap alternative to Viterbi when per-step marginals,
                        not the jointly-best path, are wanted
  * score_sequences   — per-sequence log-likelihood under a model
  * top_k_sequences   — k most likely sequences under the model (window rank)

All are mapInPandas Arrow-batch operators: the model broadcasts and output
stays distributed. Scale: no shuffle at all for decode/score (narrow map);
top-k is one tiny global sort of the scores projection.

Each Arrow batch runs through the batched kernels of ``hmm/kernel.py``
(viterbi_topk: its own batched list-Viterbi) on the packed time-major
layout (``kernel.pack``): the Python-level loop runs max_T times per batch,
each step over only the sequences still alive, rather than sum(T_s) times.
Their contracts:

  * a sequence with probability 0 under the model scores ``-inf`` (Viterbi
    path arbitrary) and has a NULL posterior, never NaN or a plausible
    path, and does not disturb its batch-mates;
  * a symbol outside ``0..M-1`` raises ``ValueError`` naming it and M.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baum_welch_spark.hmm.kernel import (
    backward_batch,
    forward_batch,
    loglik_batch,
    pack,
    symbol_emit,
    viterbi_paths,
)
from baum_welch_spark.hmm.model import HMM, KIND_INITIAL, KIND_TRANSITION

DECODE_SCHEMA = "seq_id bigint, loglik double, path array<int>"
SCORE_SCHEMA = "seq_id bigint, t_len int, loglik double, avg_loglik double"


def _viterbi_one(log_pi, log_A, log_B, obs):
    """Log-space Viterbi for one sequence: returns (best path, best log-prob).

    The sequential reference: the Spark operators run ``kernel.viterbi_batch``,
    which is pinned bitwise-equal to this (tests/test_kernel.py)."""
    T = obs.shape[0]
    N = log_pi.shape[0]
    delta = log_pi + log_B[:, obs[0]]
    psi = np.zeros((T, N), dtype=np.int32)
    for t in range(1, T):
        cand = delta[:, None] + log_A  # (N prev, N cur)
        psi[t] = np.argmax(cand, axis=0)
        delta = cand[psi[t], np.arange(N)] + log_B[:, obs[t]]
    path = np.empty(T, dtype=np.int32)
    path[T - 1] = int(np.argmax(delta))
    for t in range(T - 2, -1, -1):
        path[t] = psi[t + 1][path[t + 1]]
    return path, float(np.max(delta))


def _nonempty(pdf: pd.DataFrame) -> tuple[list, list]:
    """An Arrow batch's (seq_ids, obs arrays), skipping null/empty sequences."""
    ids, obs_list = [], []
    for seq_id, obs in zip(pdf["seq_id"], pdf["obs"]):
        if obs is not None and len(obs) > 0:
            ids.append(seq_id)
            obs_list.append(obs)
    return ids, obs_list


def viterbi_decode(spark: SparkSession, sequences: DataFrame, model: HMM) -> DataFrame:
    """sequences(seq_id, obs) -> (seq_id, loglik, path) under ``model``.

    loglik here is the joint log-probability of the best path (Viterbi
    score), not the marginal likelihood — use score_sequences for that.
    A sequence the model rules out (probability 0) gets loglik ``-inf`` and
    an arbitrary path; a symbol outside ``0..M-1`` raises ``ValueError``.
    Each Arrow batch is one ``kernel.viterbi_paths`` call.
    """
    with np.errstate(divide="ignore"):
        bc = spark.sparkContext.broadcast(
            (np.log(model.pi), np.log(model.A), np.log(model.B))
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        log_pi, log_A, log_B = bc.value
        log_emit = symbol_emit(log_B)
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            paths, lls = viterbi_paths(log_pi, log_A, log_emit, obs_list, log_B.shape[1])
            yield pd.DataFrame(
                {"seq_id": ids, "loglik": lls, "path": [p.tolist() for p in paths]}
            )

    return sequences.mapInPandas(decode, schema=DECODE_SCHEMA)


def viterbi_decode_face(spark: SparkSession, sequences: DataFrame, model: HMM) -> DataFrame:
    """Scalar driver-contract face of viterbi_decode: the ``path array<int>``
    column is not hashable by the driver's canonicalizer, so emit it as a
    comma-joined string (mirrors operators.markov.seq_build's ``obs_str``)
    and round the log-likelihood to a stable precision."""
    decoded = viterbi_decode(spark, sequences, model)
    return decoded.select(
        "seq_id",
        F.round("loglik", 6).alias("loglik"),
        F.array_join(F.transform("path", lambda x: x.cast("string")), ",").alias("path_str"),
    )


def _posterior_chunks(pi, A, B, obs_list):
    """Yield ``(p, alpha, scale, ok)`` per range-checked ``kernel.pack``
    chunk ``p`` of the non-empty ``obs_list`` (one ``kernel.forward_batch``
    each). ``ok[i]`` is False for a sequence with probability 0, whose NaN
    alpha has no posterior: callers emit NULL for it, never its argmax
    (state 0)."""
    emit = symbol_emit(B)
    for p in pack(obs_list, A.shape[0], n_symbols=B.shape[1]):
        with np.errstate(divide="ignore", invalid="ignore"):
            alpha, scale = forward_batch(pi, A, emit(p.obs), p)
        ok = np.ones(len(p.idx), dtype=bool)
        ok[p.seq[~(scale > 0)]] = False
        yield p, alpha, scale, ok


def _gamma_chunks(pi, A, B, obs_list):
    """Yield ``(p, gamma, ok)`` per chunk of :func:`_posterior_chunks`,
    with the unnormalized posteriors gamma = alpha * beta
    (``kernel.backward_batch``)."""
    emit = symbol_emit(B)
    for p, alpha, scale, ok in _posterior_chunks(pi, A, B, obs_list):
        with np.errstate(divide="ignore", invalid="ignore"):
            beta = backward_batch(A, emit(p.obs), p, scale)
        yield p, alpha * beta, ok


def posterior_decode(spark: SparkSession, sequences: DataFrame, model: HMM) -> DataFrame:
    """Posterior (gamma) decoding: per step t, the state maximizing the
    marginal P(s_t = q | O, λ) = gamma_t(q) from the scaled forward-backward
    kernel — first-max tiebreak (np.argmax), matching the SQL oracle's CASE.

    Unlike Viterbi this picks each step independently (the resulting path
    can even have zero joint probability); it is the right decode when
    per-step accuracy is the loss. Same scale shape as viterbi_decode: the
    model broadcasts, the map is narrow, no shuffle.

    Output: (seq_id, path_str) with path_str the comma-joined argmax states;
    NULL for a sequence with probability 0 under the model, which has no
    posterior (:func:`_gamma_chunks`). A symbol outside ``0..M-1``
    raises ``ValueError``.
    """
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc.value
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            paths = [None] * len(ids)
            for p, gamma, ok in _gamma_chunks(pi, A, B, obs_list):
                for i, good, states in zip(p.idx, ok, p.unpack(gamma.argmax(axis=1))):
                    if good:
                        paths[i] = ",".join(map(str, states.tolist()))
            yield pd.DataFrame({"seq_id": ids, "path_str": paths})

    return sequences.mapInPandas(decode, schema="seq_id bigint, path_str string")


def score_sequences_face(spark: SparkSession, sequences: DataFrame, model: HMM) -> DataFrame:
    """Driver-contract face of score_sequences: log-likelihoods rounded to a
    stable precision so the DuckDB recursive-CTE oracle (score_oracle_sql)
    hashes identically — the two sides accumulate the same scaled-forward
    recursion in different summation orders, equal to ~1e-12 but not bitwise."""
    scored = score_sequences(spark, sequences, model)
    return scored.select(
        "seq_id",
        "t_len",
        F.round("loglik", 6).alias("loglik"),
        F.round("avg_loglik", 6).alias("avg_loglik"),
    )


# ---------------------------------------------------------------------------
# DuckDB-exact oracles: the forward and Viterbi DPs as recursive CTEs over the
# coded events stream, with the model embedded as full-precision literals.
# ---------------------------------------------------------------------------

_CODED_SQL = """
  SELECT user_id,
         (dense_rank() OVER (ORDER BY event_type) - 1) AS sym,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) AS t
  FROM events
"""


def _lit(x: float) -> str:
    """Full-precision double literal in scientific notation: DuckDB lexes
    e-notation as DOUBLE (plain decimals become DECIMAL and break list-literal
    type inference), and 17 significant digits round-trip IEEE doubles, so the
    engine parses the exact bits NumPy computed.

    log-space model rows can contain -inf (log of a zero probability, e.g. a
    transition EM collapsed to 0); the bare token '-inf' is not valid DuckDB
    SQL, so non-finite values emit the typed '-infinity' cast instead."""
    v = float(x)
    if v == float("-inf"):
        return "CAST('-infinity' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('infinity' AS DOUBLE)"
    if v != v:  # NaN (degenerate 0/0 normalization row) — bare 'nan' is
        return "CAST('nan' AS DOUBLE)"  # not a DuckDB literal either
    return f"{v:.17e}"


def _blist(row) -> str:
    """A model row as a DuckDB list literal, indexed by ``[sym + 1]``."""
    return "[" + ", ".join(_lit(v) for v in row) + "]"


def _symbol_emis(table: np.ndarray):
    """The discrete family's SQL emission term of state j (1-based) at the
    coded row ``c``: a lookup into row j of ``table`` (B, or log B)."""
    return lambda j: f"({_blist(table[j - 1])})[c.sym + 1]"


def _literal(pi: np.ndarray, A: np.ndarray):
    """``(pi(j), a(i, j))``: the term builders of a lap whose model is
    embedded as full-precision literals (states 1-based)."""
    return (lambda j: _lit(pi[j - 1])), (lambda i, j: _lit(A[i - 1][j - 1]))


#: the term builders of a chained lap: pi and A read from the one-row
#: model pivot joined as ``m`` (:func:`_pivot_cte`)
_PIVOT_TERMS = ((lambda j: f"m.pi{j}"), (lambda i, j: f"m.a{i}_{j}"))


def _coded_ctes(coded: str) -> str:
    """WITH-prefix of the forward-backward and Viterbi oracles: the
    ``coded`` events query and the per-sequence ``lens``. Ends with a
    comma."""
    return f"""
WITH coded AS MATERIALIZED ({coded}),
lens AS MATERIALIZED (SELECT user_id, count(*) AS t_len FROM coded GROUP BY user_id),
"""


def _lap_ctes(
    n: int, pi, a, emis, k="", coded: str = "coded", mw: str = "",
    ll: bool = False, backward: bool = True,
) -> str:
    """The scaled forward recursion (kernel.forward_batch, reference M2) as
    the recursive CTE ``alpha{k}`` and, if ``backward``, the scaled
    backward recursion (kernel.backward_batch, M3) as ``beta{k}``, over the
    ``coded`` rows of an n-state model. The model enters as SQL term
    builders: ``pi(j)``, ``a(i, j)`` and ``emis(j)``, the emission term of
    state j at the coded row ``c`` (:func:`_symbol_emis`, or the Gaussian
    density) — literals (:func:`_literal`) or the columns of the one-row
    model ``mw`` CROSS JOINed as ``m`` (:data:`_PIVOT_TERMS`).

    Per step alpha carries the unnormalized alphas u_j, their sum s and the
    normalized alphas p_j as plain columns (lateral aliases); ``ll`` adds
    the running log-likelihood ll += ln(s), only for the consumers that read
    it: DuckDB raises on ln(0), so a zero-mass sequence would turn a
    γ-based oracle into an error. Ends at the last CTE's closing
    parenthesis."""
    j1 = range(1, n + 1)
    cj = f" CROSS JOIN {mw} m" if mw else ""
    base_u = ",\n         ".join(f"{pi(j)} * {emis(j)} AS u{j}" for j in j1)
    # recursive member: FRESH alias names (nu/ns/...) — unqualified u1/s/ll
    # would bind to the working table's same-named columns, not the lateral
    # aliases, silently freezing the recursion. Output names are positional.
    step_u = ",\n         ".join(
        "(" + " + ".join(f"a.p{i} * {a(i, j)}" for i in j1) + f") * {emis(j)} AS nu{j}"
        for j in j1
    )
    usum = " + ".join(f"u{j}" for j in j1)
    nusum = " + ".join(f"nu{j}" for j in j1)
    norm = ", ".join(f"u{j} / s AS p{j}" for j in j1)
    nnorm = ", ".join(f"nu{j} / ns AS np{j}" for j in j1)
    lls, nlls = ("ln(s) AS ll, ", "a.ll + ln(ns) AS nll, ") if ll else ("", "")
    # MATERIALIZED on every CTE a recursion references: DuckDB (1.0)
    # otherwise INLINES the referenced CTE into each recursive iteration —
    # coded's window functions would re-run per step, and alpha (a whole
    # recursion) would re-run per step of beta's (quadratic; state_occupancy
    # took 25+ min at sf0.01 before this). The inner WITH RECURSIVE inside a
    # materialized CTE evaluates once; values are bit-identical either way.
    sql = f"""alpha{k} AS MATERIALIZED (
  WITH RECURSIVE alpha{k}_r AS (
    SELECT c.user_id, 0 AS t,
           {base_u},
           ({usum}) AS s, {lls}{norm}
    FROM {coded} c{cj} WHERE c.t = 0
    UNION ALL
    SELECT a.user_id, a.t + 1,
           {step_u},
           ({nusum}) AS ns, {nlls}{nnorm}
    FROM alpha{k}_r a JOIN {coded} c ON c.user_id = a.user_id AND c.t = a.t + 1{cj}
  ) SELECT * FROM alpha{k}_r
)"""
    if not backward:
        return sql
    base_b = ", ".join(f"{_lit(1.0)} AS b{j}" for j in j1)
    step_b = ",\n         ".join(
        "(" + " + ".join(f"{a(i, j)} * {emis(j)} * b.b{j}" for j in j1) + f") / a.s AS nb{i}"
        for i in j1
    )
    return sql + f""",
beta{k} AS MATERIALIZED (
  WITH RECURSIVE beta{k}_r AS (
    SELECT l.user_id, l.t_len - 1 AS t, {base_b}
    FROM lens l
    UNION ALL
    SELECT b.user_id, b.t - 1,
           {step_b}
    FROM beta{k}_r b
    JOIN {coded} c ON c.user_id = b.user_id AND c.t = b.t
    JOIN alpha{k} a ON a.user_id = b.user_id AND a.t = b.t{cj}
    WHERE b.t > 0
  ) SELECT * FROM beta{k}_r
)"""


def _fb_ctes(model: HMM, **lap) -> str:
    """WITH-prefix of the discrete single-lap oracles: :func:`_lap_ctes`
    (keyword options ``lap``) under ``model`` as literals, over the coded
    events. Ends at the last CTE's closing parenthesis."""
    return _coded_ctes(_CODED_SQL) + _lap_ctes(
        model.pi.shape[0], *_literal(model.pi, model.A), _symbol_emis(model.B), **lap
    )


def _count_branch(cols: str, agg: str, src: str, group_expr=None, keys=()) -> str:
    """One UNION ALL branch of a lap's raw counts: ``cols`` and ``agg`` AS
    weight over ``src`` (aliased ``g``), grouped by the optional
    per-sequence ``group_expr`` (``{u}`` is the sequence id) and ``keys``.
    HAVING > 0 on every branch: the Spark faces drop exactly-zero count
    cells (sparse-output contract), so the oracle must too — a branch with
    no GROUP BY would otherwise always emit a row."""
    grp = "" if group_expr is None else group_expr.format(u="g.user_id") + " AS grp, "
    by = ", ".join((["1"] if group_expr is not None else []) + list(keys))
    gby = f"GROUP BY {by} " if by else ""
    return f"  SELECT {grp}{cols}, {agg} AS weight FROM {src} {gby}HAVING {agg} > 0"


def _gamma_xi_ctes(
    n: int, a, emis, k="", coded: str = "coded", mw: str = "",
    group_expr=None, extra=(),
) -> str:
    """Lap k's E-step over alpha{k}/beta{k} (:func:`_lap_ctes`, same term
    builders): ``g{k}``, γ = p_j·b_j (the kernel's convention — not per-step
    renormalized, it already sums to 1); ``xi{k}``, ξ_t(i,j) = p_i(t)·a(i,j)
    ·emis_j(t+1)·b_j(t+1)/s(t+1) (kernel.py module doc); and ``raw{k}``, the
    initial (γ at t = 0) and transition (Σ_t ξ) count branches
    (:func:`_count_branch`) followed by the family's ``extra`` branches."""
    j1 = range(1, n + 1)
    gcols = ",\n         ".join(f"al.p{j} * bt.b{j} AS g{j}" for j in j1)
    xcols = ",\n         ".join(
        f"al.p{i} * {a(i, j)} * {emis(j)} * bt.b{j} / a2.s AS x{i}_{j}"
        for i in j1
        for j in j1
    )
    branches = [
        _count_branch(f"'{KIND_INITIAL}' AS kind, 0 AS i, {j - 1} AS j", f"sum(g.g{j})",
                      f"g{k} g WHERE g.t = 0", group_expr)
        for j in j1
    ] + [
        _count_branch(f"'{KIND_TRANSITION}', {i - 1}, {j - 1}", f"sum(g.x{i}_{j})",
                      f"xi{k} g", group_expr)
        for i in j1
        for j in j1
    ]
    raw = "\n  UNION ALL\n".join(branches + list(extra))
    cj = f" CROSS JOIN {mw} m" if mw else ""
    return f"""g{k} AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {gcols}
  FROM alpha{k} al JOIN beta{k} bt ON bt.user_id = al.user_id AND bt.t = al.t
),
xi{k} AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {xcols}
  FROM alpha{k} al
  JOIN alpha{k} a2 ON a2.user_id = al.user_id AND a2.t = al.t + 1
  JOIN {coded} c ON c.user_id = al.user_id AND c.t = al.t + 1
  JOIN beta{k} bt ON bt.user_id = al.user_id AND bt.t = al.t + 1{cj}
),
raw{k} AS (
{raw}
)"""


def _normalized(k, col: str, group_expr=None) -> str:
    """The M-step normalize of ``raw{k}``: the same count/Σcount window over
    ([group,] kind, i) as the Spark side (fit.normalize_counts), rounded to
    6 dp into column ``col``."""
    out, win = ('grp AS "group", ', "grp, ") if group_expr is not None else ("", "")
    return (
        f"SELECT {out}kind, i::INTEGER AS i, j::INTEGER AS j,\n"
        f"       round(weight / sum(weight) OVER (PARTITION BY {win}kind, i), 6) AS {col}\n"
        f"FROM raw{k}"
    )


def _pick(col: str, kind: str, **at: int) -> str:
    """The ``col`` value of a lap output's (kind, i, j) cell as a pivot
    aggregate, 0 when the sparse output has no such row."""
    cond = " AND ".join([f"kind = '{kind}'"] + [f"{c} = {v}" for c, v in at.items()])
    return f"coalesce(max(CASE WHEN {cond} THEN {col} END), 0.0)"


def _pivot_cte(n: int, p, col: str, extra=()) -> str:
    """``mw{p}``: lap p's rounded output ``m{p}`` (value column ``col``)
    pivoted into the one-row model of lap p+1 — columns pi{j} and a{i}_{j},
    read by :data:`_PIVOT_TERMS`, then the family's ``extra`` columns."""
    j1 = range(1, n + 1)
    cols = [f"{_pick(col, KIND_INITIAL, j=j - 1)} AS pi{j}" for j in j1] + [
        f"{_pick(col, KIND_TRANSITION, i=i - 1, j=j - 1)} AS a{i}_{j}" for i in j1 for j in j1
    ]
    body = ",\n    ".join(cols + list(extra))
    return f"""mw{p} AS MATERIALIZED (
  SELECT
    {body}
  FROM m{p}
)"""


#: the score oracles' final select: each sequence's loglik at its last step
_SCORE_SELECT_SQL = """
SELECT a.user_id AS seq_id, l.t_len::INTEGER AS t_len,
       round(a.ll, 6) AS loglik, round(a.ll / l.t_len, 6) AS avg_loglik
FROM alpha a JOIN lens l ON l.user_id = a.user_id AND a.t = l.t_len - 1
"""


def score_oracle_sql(model: HMM) -> str:
    """ANSI-SQL (DuckDB) oracle for score_sequences_face: the scaled forward
    recursion (:func:`_lap_ctes`) read at each sequence's last step.
    Values agree with the NumPy kernel to ~1e-12; both sides round to 6
    decimals."""
    return _fb_ctes(model, ll=True, backward=False) + _SCORE_SELECT_SQL


def _argmax_case(cand: list[str]) -> str:
    """First-max-tiebreak argmax over SQL expressions, mirroring np.argmax."""
    if len(cand) == 1:
        return "0"  # a zero-WHEN "CASE ELSE 0 END" is a parse error
    whens = []
    for k in range(len(cand) - 1):
        cond = " AND ".join(f"{cand[k]} >= {cand[m]}" for m in range(k + 1, len(cand)))
        whens.append(f"WHEN {cond} THEN {k}")
    return "CASE " + " ".join(whens) + f" ELSE {len(cand) - 1} END"


def posterior_oracle_sql(model: HMM) -> str:
    """ANSI-SQL (DuckDB) oracle for posterior_decode: the scaled forward and
    backward recursions (:func:`_lap_ctes`, the backward one running
    t_len-1 -> 0), then per-step argmax of gamma_j = p_j * b_j.

    The two engines accumulate the recursions in different float-summation
    orders (agreeing to ~1e-12); argmax is stable because distinct gammas
    under a generic random model are separated by far more than that — no
    rounding boundary is involved, unlike value-emitting faces."""
    N = model.pi.shape[0]
    j1 = range(1, N + 1)
    gamma_argmax = _argmax_case([f"al.p{j} * bt.b{j}" for j in j1])
    return _fb_ctes(model) + f""",

g AS (
  SELECT al.user_id, al.t, ({gamma_argmax}) AS state
  FROM alpha al JOIN beta bt ON bt.user_id = al.user_id AND bt.t = al.t
)
SELECT user_id AS seq_id,
       string_agg(state::VARCHAR, ',' ORDER BY t) AS path_str
FROM g GROUP BY user_id
"""


def state_occupancy(spark: SparkSession, sequences: DataFrame, model: HMM) -> DataFrame:
    """Expected state-occupancy counts: per (seq_id, state), the expected
    number of steps spent in that state, Σ_t γ_t(state) with γ normalized
    per step — Rabiner's occupancy statistic (1989 eq. 27 numerator), the
    soft version of counting a decoded path's states. Same scale shape as
    the decodes: model broadcast, narrow map, no shuffle; output is
    N rows per sequence. A sequence with probability 0 under the model has
    no posterior: its N rows carry a NULL occupancy
    (:func:`_gamma_chunks`). A symbol outside ``0..M-1`` raises
    ``ValueError``.
    """
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))

    def occupancy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc.value
        n = pi.shape[0]
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            # NaN crosses Arrow as NULL: the impossible sequences' rows
            occ = np.full((len(ids), n), np.nan)
            for p, g, ok in _gamma_chunks(pi, A, B, obs_list):
                occ[p.idx] = np.where(
                    ok[:, None], p.seq_sum(g / g.sum(axis=1, keepdims=True)), np.nan
                )
            # round half-AWAY-from-zero to match DuckDB's round():
            # np.round is half-even, so an occupancy landing exactly on
            # an x.xxxxxx5 boundary would round differently per engine
            # and break the byte-exact oracle match. Occupancy is >= 0,
            # so floor(x*1e6 + 0.5) is exactly DuckDB's convention.
            yield pd.DataFrame({
                "seq_id": np.repeat(np.asarray(ids, dtype=np.int64), n),
                "state": np.tile(np.arange(n, dtype=np.int32), len(ids)),
                "occupancy": (np.floor(occ * 1e6 + 0.5) / 1e6).ravel(),
            })

    return sequences.mapInPandas(
        occupancy, schema="seq_id bigint, state int, occupancy double"
    )


def occupancy_oracle_sql(model: HMM) -> str:
    """ANSI-SQL (DuckDB) oracle for state_occupancy: the shared scaled
    forward/backward CTEs, per-step normalized γ, summed over t per state
    (one UNION ALL branch per state — N is model-sized)."""
    N = model.pi.shape[0]
    j1 = range(1, N + 1)
    gsum = " + ".join(f"al.p{j} * bt.b{j}" for j in j1)
    gcols = ",\n         ".join(
        f"(al.p{j} * bt.b{j}) / ({gsum}) AS g{j}" for j in j1
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT user_id AS seq_id, {j - 1} AS state, round(sum(g{j}), 6) AS occupancy FROM g GROUP BY user_id"
        for j in j1
    )
    return (
        _fb_ctes(model)
        + f""",

g AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {gcols}
  FROM alpha al JOIN beta bt ON bt.user_id = al.user_id AND bt.t = al.t
)
{branches}
"""
    )


def viterbi_ctes(model: HMM) -> str:
    """Shared WITH block (``coded``, ``lens``, ``delta``, ``back``) computing
    per-(seq, t) Viterbi states — the DP core of both the decode oracle and
    the hard-EM re-estimation oracle (hmm.viterbi_train). It ends after
    ``back``, so callers can append their own CTEs.

    The log-model entries are embedded as repr() literals of the exact NumPy
    doubles the Spark operator broadcasts, and every DP cell is the same
    two-operand IEEE sum, so the deltas are BITWISE equal to _viterbi_one's —
    argmax ties (first-max, matching np.argmax) resolve identically and
    paths match exactly, not just approximately."""
    with np.errstate(divide="ignore"):
        lpi, lA, lB = np.log(model.pi), np.log(model.A), np.log(model.B)
    return _coded_ctes(_CODED_SQL) + _viterbi_sql(lpi, lA, _symbol_emis(lB))


def _viterbi_sql(lpi: np.ndarray, lA: np.ndarray, emis) -> str:
    """The ``delta``/``back`` CTEs of :func:`viterbi_ctes` over the
    ``coded``/``lens`` prefix (:func:`_coded_ctes`), with ``emis(j)`` the
    log-emission term of state j (as in :func:`_lap_ctes`)."""
    j1 = range(1, lpi.shape[0] + 1)
    base_d = ",\n         ".join(f"{_lit(lpi[j - 1])} + {emis(j)} AS d{j}" for j in j1)
    step_d = ",\n         ".join(
        "greatest("
        + ", ".join(f"p.d{i} + {_lit(lA[i - 1][j - 1])}" for i in j1)
        + f") + {emis(j)} AS d{j}"
        for j in j1
    )

    final_argmax = _argmax_case([f"d.d{j}" for j in j1])
    # backtrack candidates: c_i = delta[t-1][i] + logA[i][state], with the
    # state-dependent logA picked by a CASE on the current row's state
    back_cand = [
        f"(d.d{i} + CASE b.state "
        + " ".join(f"WHEN {j - 1} THEN {_lit(lA[i - 1][j - 1])}" for j in j1)
        + " END)"
        for i in j1
    ]
    back_argmax = _argmax_case(back_cand)
    dmax = ", ".join(f"d.d{j}" for j in j1)
    # MATERIALIZED is load-bearing: without it DuckDB inlines delta (a full
    # recursion) into EVERY step of back's recursion — see _lap_ctes
    return f"""delta AS MATERIALIZED (
  WITH RECURSIVE delta_r AS (
    SELECT c.user_id, 0 AS t,
           {base_d}
    FROM coded c WHERE c.t = 0
    UNION ALL
    SELECT p.user_id, p.t + 1,
           {step_d}
    FROM delta_r p JOIN coded c ON c.user_id = p.user_id AND c.t = p.t + 1
  ) SELECT * FROM delta_r
),
back AS MATERIALIZED (
  WITH RECURSIVE back_r AS (
    SELECT d.user_id, d.t,
           ({final_argmax}) AS state,
           greatest({dmax}) AS loglik,
           ({final_argmax})::VARCHAR AS path
    FROM delta d JOIN lens l ON l.user_id = d.user_id AND d.t = l.t_len - 1
    UNION ALL
    SELECT b.user_id, b.t - 1,
           ({back_argmax}) AS state,
           b.loglik,
           ({back_argmax})::VARCHAR || ',' || b.path AS path
    FROM back_r b JOIN delta d ON d.user_id = b.user_id AND d.t = b.t - 1
  ) SELECT * FROM back_r
)"""


def viterbi_oracle_sql(model: HMM) -> str:
    """ANSI-SQL (DuckDB) oracle for viterbi_decode_face — see viterbi_ctes."""
    return f"""{viterbi_ctes(model)}
SELECT b.user_id AS seq_id, round(b.loglik, 6) AS loglik, b.path AS path_str
FROM back b WHERE b.t = 0
"""


def viterbi_topk_oracle_sql(model: HMM, k: int = 3) -> str:
    """ANSI-SQL (DuckDB) oracle for viterbi_topk_face (r11): the parallel
    list-Viterbi DP as a recursive CTE whose state is the full (N, k) score
    block PLUS each lane's path string — a forward-carried path replaces the
    backpointer tensor, so no backward recursion is needed.

    Per step and per destination state j, the N·k candidates are packed as
    ``struct(ns := -(d + logA), o := flat_ordinal, p := path)`` and
    ``list_sort``-ed: ascending ns is descending score with -inf lanes
    (+inf after negation) sorted last, exactly like the kernel's
    ``argsort(-flat, stable)``, and the flat ordinal ``(i-1)*k + (rr-1)``
    is the kernel's i-major/r-minor ravel index, so score ties resolve to
    the identical lane. Every lane score is the same two-operand IEEE sum
    as the NumPy kernel's ((d + logA) + logB, with literals emitted by
    :func:`_lit` at full precision), so scores are BITWISE equal and the
    sort orders — hence the paths — match exactly, not approximately.
    Final ranking sorts the (N, k) block by the same (−score, j-major
    ordinal) rule; only finite lanes emit (k rows per sequence whenever
    N^T >= k). Cost: T steps × N list_sorts of N·k structs per sequence —
    model-sized, fine at oracle scale (k=3, N=4 → 12-lane state)."""
    N = model.pi.shape[0]
    with np.errstate(divide="ignore"):
        lpi, lA, lB = np.log(model.pi), np.log(model.A), np.log(model.B)
    j1 = range(1, N + 1)
    r1 = range(1, k + 1)
    ninf = "CAST('-infinity' AS DOUBLE)"

    base_cols = []
    for j in j1:
        base_cols.append(
            f"{_lit(lpi[j - 1])} + ({_blist(lB[j - 1])})[c.sym + 1] AS d{j}_1"
        )
        base_cols.append(f"'{j - 1}' AS p{j}_1")
        for r in list(r1)[1:]:
            base_cols.append(f"{ninf} AS d{j}_{r}")
            base_cols.append(f"'' AS p{j}_{r}")

    sort_cols = []
    step_cols = []
    for j in j1:
        cands = ", ".join(
            f"struct_pack(ns := -(a.d{i}_{rr} + {_lit(lA[i - 1][j - 1])}), "
            f"o := {(i - 1) * k + (rr - 1)}, p := a.p{i}_{rr})"
            for i in j1
            for rr in r1
        )
        sort_cols.append(f"list_sort([{cands}]) AS sl{j}")
        for r in r1:
            step_cols.append(
                f"-(q.sl{j}[{r}].ns) + ({_blist(lB[j - 1])})[q.sym + 1] AS nd{j}_{r}"
            )
            step_cols.append(f"q.sl{j}[{r}].p || ',' || '{j - 1}' AS np{j}_{r}")

    fin_cands = ", ".join(
        f"struct_pack(ns := -d.d{j}_{r}, o := {(j - 1) * k + (r - 1)}, p := d.p{j}_{r})"
        for j in j1
        for r in r1
    )
    rank_selects = "\nUNION ALL\n".join(
        f"SELECT user_id AS seq_id, {m} AS rank, round(-(sl[{m + 1}].ns), 6) AS loglik, "
        f"sl[{m + 1}].p AS path_str FROM fin WHERE sl[{m + 1}].ns < CAST('infinity' AS DOUBLE)"
        for m in range(k)
    )
    base = ",\n           ".join(base_cols)
    sorts = ",\n             ".join(sort_cols)
    step = ",\n           ".join(step_cols)
    # the recursive member computes the per-state sorted candidate lists in
    # an inner derived table (one reference to dp_r) so the CTE's output
    # schema stays exactly the (d, p) state block — sl{j} as lateral
    # aliases in the outer select would become extra output columns and
    # break positional matching with the base member
    return _coded_ctes(_CODED_SQL) + f"""dp AS MATERIALIZED (
  WITH RECURSIVE dp_r AS (
    SELECT c.user_id, 0 AS t,
           {base}
    FROM coded c WHERE c.t = 0
    UNION ALL
    SELECT q.user_id, q.t + 1,
           {step}
    FROM (
      SELECT a.*, c.sym,
             {sorts}
      FROM dp_r a JOIN coded c ON c.user_id = a.user_id AND c.t = a.t + 1
    ) q
  ) SELECT * FROM dp_r
),
fin AS (
  SELECT d.user_id, list_sort([{fin_cands}]) AS sl
  FROM dp d JOIN lens l ON l.user_id = d.user_id AND d.t = l.t_len - 1
)
{rank_selects}
"""


def score_sequences(spark: SparkSession, sequences: DataFrame, model: HMM) -> DataFrame:
    """Per-sequence marginal log-likelihood log P(O|λ) via the scaled forward
    pass (sum of log scale factors — kernel.forward_backward convention),
    forward-only and batched: each Arrow batch is one ``kernel.loglik_batch``
    call. A sequence with probability 0 under the model scores ``-inf``
    (loglik and avg_loglik), not NULL; a symbol outside ``0..M-1`` raises
    ``ValueError``."""
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc.value
        emit = symbol_emit(B)
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            lens = np.array([len(o) for o in obs_list], dtype=np.int32)
            lls = np.empty(len(ids))
            for p in pack(obs_list, A.shape[0], n_symbols=B.shape[1]):
                lls[p.idx] = p.seq_sum(loglik_batch(pi, A, emit(p.obs), p))
            yield pd.DataFrame(
                {"seq_id": ids, "t_len": lens, "loglik": lls, "avg_loglik": lls / lens}
            )

    return sequences.mapInPandas(score, schema=SCORE_SCHEMA)


def top_k_sequences(spark: SparkSession, sequences: DataFrame, model: HMM, k: int = 10) -> DataFrame:
    """k sequences with the highest per-step likelihood under the model
    (deterministic tiebreak by seq_id). The first window/rank usage of the
    HMM surface (SURVEY §7 phase 4)."""
    scored = score_sequences(spark, sequences, model)
    return (
        scored.orderBy(F.desc("avg_loglik"), F.asc("seq_id")).limit(k)
    )


TOPK_SCHEMA = "seq_id bigint, rank int, loglik double, path array<int>"


def _viterbi_topk_one(log_pi, log_A, log_B, obs, k):
    """Parallel list-Viterbi (the serial list Viterbi algorithm of
    Seshadri & Sundberg 1994, rank-merged per state): per state keep the
    top-k partial path scores; a candidate at step t is (prev_state,
    prev_rank), merged across N*k entries per state. Backpointer chains
    are structurally distinct, so the k final paths are distinct without
    any dedup. Returns [(loglik, path)] best-first, len <= min(k, N^T)."""
    T = obs.shape[0]
    N = log_pi.shape[0]
    # delta: (N, k) partial scores, -inf padded; bp: (T, N, k, 2)
    delta = np.full((N, k), -np.inf)
    delta[:, 0] = log_pi + log_B[:, obs[0]]
    bp = np.zeros((T, N, k, 2), dtype=np.int32)
    for t in range(1, T):
        new_delta = np.full((N, k), -np.inf)
        for j in range(N):
            cand = delta + log_A[:, j][:, None]  # (N, k)
            flat = cand.ravel()
            top = np.argsort(-flat, kind="stable")[:k]
            keep = flat[top] > -np.inf
            top = top[keep]
            new_delta[j, : len(top)] = flat[top] + log_B[j, obs[t]]
            bp[t, j, : len(top), 0] = top // k  # prev state
            bp[t, j, : len(top), 1] = top % k  # prev rank
        delta = new_delta
    flat = delta.ravel()
    order = np.argsort(-flat, kind="stable")
    order = order[flat[order] > -np.inf][:k]
    out = []
    for idx in order:
        j, r = int(idx // k), int(idx % k)
        path = np.empty(T, dtype=np.int32)
        path[T - 1] = j
        for t in range(T - 1, 0, -1):
            j, r = int(bp[t, j, r, 0]), int(bp[t, j, r, 1])
            path[t - 1] = j
        out.append((float(flat[idx]), path))
    return out


def _viterbi_topk_batch_core(log_pi, log_A, log_B, p, k):
    """One (n, N, k) list-Viterbi DP over the packed chunk ``p``
    (kernel.Packed). Bitwise-equal to looping :func:`_viterbi_topk_one`:
    every DP cell is the same two-operand IEEE add in the same order, the
    candidate flattening is the same i-major/r-minor ravel, and the stable
    argsort resolves ties by the same flat ordinal — asserted exactly in
    tests/test_decode.py. Each sequence's (N, k) score block is kept as
    it leaves the packed steps, and its backtrack starts at its own last
    row. Returns a list in chunk order of [(loglik, path)] best-first."""
    N = log_pi.shape[0]
    log_emit = symbol_emit(log_B)(p.obs)  # (rows, N)
    sizes = p.sizes + [0]
    delta = np.full((sizes[0], N, k), -np.inf)
    delta[:, :, 0] = log_pi[None, :] + log_emit[: sizes[0]]
    final = delta.copy()
    bp = np.zeros((len(p.obs), N, k, 2), dtype=np.int32)
    for t in range(1, len(p.sizes)):
        lo, n = p.offs[t], sizes[t]
        # (n, N_prev, N_cur, k) -> (n, N_cur, N_prev*k): i-major/r-minor,
        # the exact ravel order of the serial kernel's per-j cand.ravel()
        cand = delta[:n, :, None, :] + log_A[None, :, :, None]
        flat = np.ascontiguousarray(cand.transpose(0, 2, 1, 3)).reshape(n, N, N * k)
        top = np.argsort(-flat, axis=-1, kind="stable")[:, :, :k]  # (n, N, k)
        vals = np.take_along_axis(flat, top, axis=-1)
        delta = np.where(vals > -np.inf, vals + log_emit[lo : lo + n, :, None], -np.inf)
        bp[lo : lo + n, :, :, 0] = top // k
        bp[lo : lo + n, :, :, 1] = top % k
        final[sizes[t + 1] : n] = delta[sizes[t + 1] :]

    out_all = []
    for s, T in enumerate(p.lens.tolist()):
        flat = final[s].ravel()
        order = np.argsort(-flat, kind="stable")
        order = order[flat[order] > -np.inf][:k]
        out = []
        for idx in order:
            j, r = int(idx // k), int(idx % k)
            path = np.empty(T, dtype=np.int32)
            path[T - 1] = j
            for t in range(T - 1, 0, -1):
                row = p.offs[t] + s
                j, r = int(bp[row, j, r, 0]), int(bp[row, j, r, 1])
                path[t - 1] = j
            out.append((float(flat[idx]), path))
        out_all.append(out)
    return out_all


def _viterbi_topk_batch(log_pi, log_A, log_B, obs_list, k):
    """Batched list-Viterbi over the packed time-major layout
    (``kernel.pack``): each step runs only the sequences still alive, so
    length skew costs no padding, and the DP vectorizes across the
    sequence axis. A chunk's back-pointers (rows, N, k, 2) and per-step
    candidate block (n, N, N, k) stay under ``kernel._CELL_BUDGET`` cells
    (each sequence's DP is independent, so chunking is bitwise-invisible).
    A symbol outside ``0..M-1`` raises ``ValueError``, as in the other
    decode operators. Returns a list aligned with obs_list."""
    N = log_pi.shape[0]
    results: list = [None] * len(obs_list)
    for p in pack(obs_list, 2 * N * k, N * N * k, n_symbols=log_B.shape[1]):
        for i, out in zip(p.idx, _viterbi_topk_batch_core(log_pi, log_A, log_B, p, k)):
            results[i] = out
    return results


def viterbi_topk(
    spark: SparkSession, sequences: DataFrame, model: HMM, k: int = 3
) -> DataFrame:
    """N-best decoding: the ``k`` jointly most likely hidden paths per
    sequence with their joint log-probabilities — what a rescoring pipeline
    consumes (second-pass ranking over decode hypotheses) and what
    separates a dominant MAP path from a near-tie that posterior_entropy
    flags. Same scale shape as viterbi_decode: broadcast model, narrow
    Arrow map, no shuffle; per-sequence cost O(T N^2 k log k), vectorized
    across the Arrow batch's sequence axis on the packed layout of the
    batched E-step."""
    model = model.validate()
    with np.errstate(divide="ignore"):
        bc = spark.sparkContext.broadcast(
            (np.log(model.pi), np.log(model.A), np.log(model.B))
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        log_pi, log_A, log_B = bc.value
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            out_ids, ranks, lls, paths = [], [], [], []
            for seq_id, hyp in zip(
                ids, _viterbi_topk_batch(log_pi, log_A, log_B, obs_list, k)
            ):
                for r, (ll, p) in enumerate(hyp):
                    out_ids.append(seq_id)
                    ranks.append(r)
                    lls.append(ll)
                    paths.append(list(p))
            yield pd.DataFrame(
                {"seq_id": out_ids, "rank": ranks, "loglik": lls, "path": paths}
            )

    return sequences.mapInPandas(decode, schema=TOPK_SCHEMA)


def viterbi_topk_face(
    spark: SparkSession, sequences: DataFrame, model: HMM, k: int = 3
) -> DataFrame:
    """Scalar driver-contract face of viterbi_topk: the ``path array<int>``
    column is unhashable in the driver's canonicalizer (it sort_values over
    every column), so project it to a comma-joined ``path_str`` — the same
    pattern viterbi_decode_face uses — and round the joint log-likelihood
    to a stable precision."""
    hyp = viterbi_topk(spark, sequences, model, k=k)
    return hyp.select(
        "seq_id",
        "rank",
        F.round("loglik", 6).alias("loglik"),
        F.array_join(F.transform("path", lambda x: x.cast("string")), ",").alias(
            "path_str"
        ),
    )
