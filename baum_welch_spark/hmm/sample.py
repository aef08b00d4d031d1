"""FFBS — forward-filter backward-sample: exact draws from the posterior
path distribution P(s_1..T | O, λ).

Completes the distributed inference menu over the reference's model
(SURVEY §3.3: the reference's downstream decode story lives in Mahout's
sequential HmmEvaluator): ``viterbi_decode`` gives the single MAP path,
``posterior_decode`` the per-step marginal argmax, and FFBS draws full
paths with exactly their posterior probability — the primitive behind
Bayesian HMM inference (Gibbs sampling over state paths, Scott 2002,
"Bayesian methods for hidden Markov models") and posterior-uncertainty
estimates no point decode can give.

Algorithm (standard, e.g. Carter & Kohn 1994 for the linear-Gaussian
analogue): run the scaled forward pass (alpha_hat rows are the filtered
marginals P(s_t | o_1..t)), sample s_T ~ alpha_hat[T-1], then backward for
t = T-2..0 sample s_t ~ alpha_hat[t] * A[:, s_{t+1}] (normalized). Both
operators here take alpha from the forward half ``kernel.forward_batch``
(``decode._posterior_chunks``) and run no backward pass; the draws and
the entropy recursion run on the same packed time-major layout
(``kernel.Packed``): each step vectorizes across the sequences still
alive (and FFBS's samples).

Determinism: every uniform is the counter-based portable hash
``portable_hash60(seed:seq_id:sample_id:t) / 2^60`` (same convention as
`hmm/generate.py`), so output is reproducible, independent of partitioning,
independent of which Arrow batch a sequence lands in — and replayable in
ANSI SQL: :func:`ffbs_oracle_sql` reruns the identical forward filter and
backward draws in DuckDB. The only cross-engine gap is the forward pass's
float-summation order (~1e-12, same as every γ-based oracle here); a draw
flips only if a uniform lands within that margin of a CDF threshold —
probability ~1e-12 per draw, the same accepted risk class as the rounded
entropy/γ faces.

Scale: identical to viterbi_decode — model broadcast, narrow mapInPandas,
no shuffle; output is n_samples rows per sequence.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from baum_welch_spark.hmm.decode import _fb_ctes, _lit, _nonempty, _posterior_chunks
from baum_welch_spark.hmm.model import HMM

SAMPLE_SCHEMA = "seq_id bigint, sample_id int, path_str string"

#: 2^60 — the portable hash is 60 bits (see functions/columns.portable_hash60)
_HASH_SCALE = float(1 << 60)


def _u01_block(seed: int, seq_id: int, n_samples: int, t_len: int) -> np.ndarray:
    """(n_samples, T) counter-RNG uniforms: MD5(seed:seq:k:t)[:15 hex]/2^60,
    the exact convention ffbs_oracle_sql replays in SQL. The
    ``seed:seq:k:`` prefix is hashed once per sample and copied per step;
    the first 15 hex digits are the digest's first 60 bits."""
    steps = [str(t).encode() for t in range(t_len)]
    digests = []
    for k in range(n_samples):
        prefix = hashlib.md5(f"{seed}:{seq_id}:{k}:".encode())
        for step in steps:
            h = prefix.copy()
            h.update(step)
            digests.append(h.digest())
    first60 = np.frombuffer(b"".join(digests), dtype=">u8")[::2] >> 4
    return (first60 / _HASH_SCALE).reshape(n_samples, t_len)


def _ffbs_batch(A: np.ndarray, alpha: np.ndarray, p, u: np.ndarray) -> np.ndarray:
    """(rows, n_samples) posterior path draws for the packed chunk ``p``
    (kernel.Packed) from its ``alpha`` (rows, N) and packed uniforms ``u``
    (rows, n_samples). The draw at a sequence's last step counts cumsum
    thresholds <= u·total (searchsorted side='right'), clipped to N-1
    since a counter uniform can be exactly 1.0; the backward draws count
    thresholds < u·total (as ffbs_oracle_sql)."""
    n = A.shape[0]
    AT = np.ascontiguousarray(A.T)  # row j is A[:, j]
    out = np.empty(u.shape, dtype=np.int32)
    sizes = p.sizes + [0]
    for t in range(len(p.sizes) - 1, -1, -1):
        lo, m = p.offs[t], sizes[t + 1]
        last = slice(lo + m, lo + sizes[t])  # the sequences that end at t
        if last.start < last.stop:
            cdf = np.cumsum(alpha[last], axis=1)  # (S_last, N)
            v = u[last] * cdf[:, -1:]
            out[last] = np.minimum((cdf[:, None, :] <= v[:, :, None]).sum(axis=2), n - 1)
        if m:
            # w[i, k] proportional to alpha[t] * A[:, s_{t+1}[i, k]]
            nxt = p.offs[t + 1]
            w = alpha[lo : lo + m][:, None, :] * AT[out[nxt : nxt + m]]  # (m, K, N)
            cdfs = np.cumsum(w, axis=2)
            v = u[lo : lo + m] * cdfs[:, :, -1]
            out[lo : lo + m] = (cdfs < v[:, :, None]).sum(axis=2)
    return out


def posterior_sample(
    spark: SparkSession,
    sequences: DataFrame,
    model: HMM,
    n_samples: int = 1,
    seed: int = 42,
) -> DataFrame:
    """sequences(seq_id, obs) -> (seq_id, sample_id, path_str): exact FFBS
    draws from P(path | obs, model), ``n_samples`` per sequence. A
    sequence with probability 0 under the model has no posterior: each of
    its ``n_samples`` rows carries a NULL ``path_str``. A symbol outside
    ``0..M-1`` raises ``ValueError``."""
    model = model.validate()
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc.value
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            paths = [[None] * n_samples for _ in ids]
            for p, alpha, _, ok in _posterior_chunks(pi, A, B, obs_list):
                u = p.pack(np.concatenate([
                    _u01_block(seed, int(ids[i]), n_samples, t_len).T
                    for i, t_len in zip(p.idx, p.lens.tolist())
                ]))
                draws = p.unpack(_ffbs_batch(A, alpha, p, u))
                for i, good, d in zip(p.idx, ok, draws):
                    if good:
                        paths[i] = [",".join(map(str, row)) for row in d.T.tolist()]
            yield pd.DataFrame({
                "seq_id": np.repeat(np.asarray(ids, dtype=np.int64), n_samples),
                "sample_id": np.tile(np.arange(n_samples, dtype=np.int32), len(ids)),
                "path_str": [p for per_seq in paths for p in per_seq],
            })

    return sequences.mapInPandas(sample, schema=SAMPLE_SCHEMA)


def ffbs_oracle_sql(model: HMM, n_samples: int = 1, seed: int = 42) -> str:
    """ANSI-SQL (DuckDB) replay of :func:`posterior_sample`: the shared
    alpha CTE (decode._fb_ctes — the same scaled forward filter) plus a
    DESCENDING recursive CTE that redraws every backward sample with the
    identical counter uniforms and the identical left-associated CDF sums.

    Threshold semantics mirror the NumPy ops exactly: the t = T-1 draw is
    ``searchsorted(side='right')`` == first threshold strictly above u'
    (``WHEN u' < c_k``); the backward draws count strict-less thresholds
    (``WHEN u' <= c_k``). Thresholds are products/sums of alpha values that
    agree across engines to ~1e-12 (see module docstring for the accepted
    flip-risk argument)."""
    model = model.validate()
    N = model.pi.shape[0]
    A = model.A
    j1 = range(1, N + 1)

    def u_expr(seq: str, sample: str) -> str:
        # the counter uniform of (sequence, sample) at step a.t (_u01_block)
        key = f"'{seed}:' || {seq}.user_id || ':' || {sample}.sample_id || ':' || a.t"
        return f"(('0x' || substr(md5({key}), 1, 15))::BIGINT / {_HASH_SCALE!r})"

    # t = T-1 pick: u' = u * (p1+..+pN); searchsorted-right over the cumsum
    top_total = " + ".join(f"a.p{i}" for i in j1)
    top_branches = " ".join(
        f"WHEN ({u_expr('a', 'k')} * ({top_total})) < ({' + '.join(f'a.p{m}' for m in range(1, i + 1))}) THEN {i - 1}"
        for i in range(1, N)
    )
    top_pick = f"CASE {top_branches} ELSE {N - 1} END"

    # backward pick conditioned on the next state j: w_i = alpha_t(i)·A_ij,
    # strict-less count over the left-assoc cumsum
    def back_pick(j: int) -> str:
        w = [f"a.p{i} * {_lit(A[i - 1][j - 1])}" for i in j1]
        total = " + ".join(w)
        branches = " ".join(
            f"WHEN ({u_expr('s', 's')} * ({total})) <= ({' + '.join(w[:i])}) THEN {i - 1}"
            for i in range(1, N)
        )
        return f"CASE {branches} ELSE {N - 1} END"

    back = " ".join(f"WHEN s.s = {j - 1} THEN ({back_pick(j)})" for j in j1)
    return (
        _fb_ctes(model)
        + f""",

samples AS (SELECT range::INTEGER AS sample_id FROM range(0, {n_samples})),
samp AS MATERIALIZED (
  WITH RECURSIVE samp_r AS (
    SELECT a.user_id, k.sample_id, a.t, ({top_pick}) AS s
    FROM alpha a JOIN lens l ON l.user_id = a.user_id AND a.t = l.t_len - 1
    CROSS JOIN samples k
    UNION ALL
    SELECT s.user_id, s.sample_id, a.t, (CASE {back} END) AS s
    FROM samp_r s JOIN alpha a ON a.user_id = s.user_id AND a.t = s.t - 1
  ) SELECT * FROM samp_r
)
SELECT user_id AS seq_id, sample_id,
       string_agg(s::VARCHAR, ',' ORDER BY t) AS path_str
FROM samp GROUP BY 1, 2
"""
    )


ENTROPY_SCHEMA = "seq_id bigint, t_len int, loglik double, entropy double, entropy_rate double"


def _entropy_batch(A: np.ndarray, alpha: np.ndarray, p) -> np.ndarray:
    """(S,) H(S_1..T | O) for the packed chunk ``p`` (kernel.Packed) from
    its forward filter ``alpha`` (rows, N), via the forward entropy
    recursion (Hernando, Crespi, Cybenko 2005: H_t(j), the entropy of the
    state prefix conditional on s_t = j and o_1..t, updates with the chain
    rule H_t(j) = sum_i p_ij (H_{t-1}(i) - log p_ij) where
    p_ij = P(s_{t-1} = i | s_t = j, o_1..t) prop alpha_{t-1}(i) A[i, j]) —
    O(T N^2), no path enumeration. Step t updates only the sequences still
    alive, so each keeps its own H_{T-1}."""
    H = np.zeros((p.sizes[0], A.shape[0]))
    with np.errstate(divide="ignore", invalid="ignore"):
        for plo, n in zip(p.offs, p.sizes[1:]):
            W = alpha[plo : plo + n][:, :, None] * A  # (n, i prev, j cur), unnormalized p_ij
            z = W.sum(axis=1)
            z[z == 0.0] = 1.0
            P = W / z[:, None, :]  # column-stochastic
            logP = np.where(P > 0, np.log(P), 0.0)
            H[:n] = (P * (H[:n, :, None] - logP)).sum(axis=1)
        a = alpha[p.last]
        loga = np.where(a > 0, np.log(a), 0.0)
    return (a * (H - loga)).sum(axis=1)


def posterior_entropy(
    spark: SparkSession, sequences: DataFrame, model: HMM
) -> DataFrame:
    """Per-sequence posterior PATH uncertainty: (seq_id, t_len, loglik,
    entropy, entropy_rate) with entropy = H(S_1..T | O, lambda) in nats and
    entropy_rate = entropy / T. Zero iff the posterior is a point mass on
    one path (e.g. deterministic topologies); upper-bounded by T ln N. The
    quantity a confidence-aware decode pipeline thresholds on — Viterbi's
    MAP path says nothing about how dominant that path is. Same scale shape
    as the decoders: broadcast model, narrow map, no shuffle.

    A sequence with probability 0 under the model has no posterior: its
    loglik is ``-inf`` and its entropy and entropy_rate are NULL. A symbol
    outside ``0..M-1`` raises ``ValueError``."""
    model = model.validate()
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pi, A, B = bc.value
        for pdf in batches:
            ids, obs_list = _nonempty(pdf)
            tls = np.array([len(o) for o in obs_list], dtype=np.int32)
            # NaN crosses Arrow as NULL: the impossible sequences' entropies
            lls, hs = np.empty(len(ids)), np.empty(len(ids))
            for p, alpha, scale, ok in _posterior_chunks(pi, A, B, obs_list):
                with np.errstate(divide="ignore", invalid="ignore"):
                    lls[p.idx] = np.where(ok, p.seq_sum(np.log(scale)), -np.inf)
                hs[p.idx] = np.where(ok, _entropy_batch(A, alpha, p), np.nan)
            yield pd.DataFrame(
                {"seq_id": np.asarray(ids, dtype=np.int64), "t_len": tls, "loglik": lls,
                 "entropy": hs, "entropy_rate": hs / tls}
            )

    return sequences.mapInPandas(compute, schema=ENTROPY_SCHEMA)


def posterior_entropy_face(
    spark: SparkSession, sequences: DataFrame, model: HMM
) -> DataFrame:
    """Driver-contract face of posterior_entropy: the three float columns
    rounded to a stable precision so the DuckDB recursive-CTE oracle
    (entropy_oracle_sql) hashes identically — both engines run the same
    Hernando forward entropy recursion in double precision, agreeing to
    ~1e-12 but not bitwise."""
    from pyspark.sql import functions as F

    ent = posterior_entropy(spark, sequences, model)
    return ent.select(
        "seq_id",
        "t_len",
        F.round("loglik", 6).alias("loglik"),
        F.round("entropy", 6).alias("entropy"),
        F.round("entropy_rate", 6).alias("entropy_rate"),
    )


def entropy_oracle_sql(model: HMM) -> str:
    """ANSI-SQL (DuckDB) oracle for posterior_entropy_face: the scaled
    forward recursion (decode._lap_ctes) plus the Hernando H_t(j)
    entropy recursion as a second recursive CTE.

    Mirrors _entropy_batch operation-for-operation: per step the backward
    transition posterior P_ij = alpha_t(i) A[i,j] / s_j (s_j==0 guarded to
    1, matching the NumPy ``s[s == 0] = 1``), zero-probability terms
    contribute 0 (the ``np.where(P > 0, log P, 0)`` guard), and sums run
    in the same i/j order — values agree to ~1e-12; both sides round to 6
    decimals. MATERIALIZED on every CTE a recursion references (see
    decode._lap_ctes' note)."""
    model = model.validate()
    N = model.pi.shape[0]
    A = model.A
    j1 = range(1, N + 1)

    # entropy recursion: base H_0(j) = 0; step H_{t+1}(j) =
    # sum_i P_ij (H_t(i) - ln P_ij), P_ij = alpha_t(i) A[i,j] / s_j.
    # The step carries its ns/nd lateral aliases as output columns (SQL has
    # no intermediate-only aliases), so the base emits dummy s/d columns to
    # match arity; recursion state is h{j} only.
    base_h = (
        ", ".join(f"{_lit(1.0)} AS s{j}" for j in j1)
        + ", "
        + ", ".join(f"{_lit(1.0)} AS d{j}" for j in j1)
        + ", "
        + ", ".join(f"{_lit(0.0)} AS h{j}" for j in j1)
    )
    ns_defs = ",\n         ".join(
        "("
        + " + ".join(f"a.p{i} * {_lit(A[i - 1][j - 1])}" for i in j1)
        + f") AS ns{j}"
        for j in j1
    )
    nd_defs = ", ".join(
        f"CASE WHEN ns{j} = {_lit(0.0)} THEN {_lit(1.0)} ELSE ns{j} END AS nd{j}"
        for j in j1
    )

    def _term(i: int, j: int) -> str:
        p = f"(a.p{i} * {_lit(A[i - 1][j - 1])}) / nd{j}"
        return (
            f"CASE WHEN {p} > {_lit(0.0)} "
            f"THEN ({p}) * (e.h{i} - ln({p})) ELSE {_lit(0.0)} END"
        )

    nh_defs = ",\n         ".join(
        "(" + " + ".join(_term(i, j) for i in j1) + f") AS nh{j}" for j in j1
    )
    final = " + ".join(
        f"CASE WHEN al.p{j} > {_lit(0.0)} "
        f"THEN al.p{j} * (e.h{j} - ln(al.p{j})) ELSE {_lit(0.0)} END"
        for j in j1
    )
    return _fb_ctes(model, ll=True, backward=False) + f""",
ent AS MATERIALIZED (
  WITH RECURSIVE ent_r AS (
    SELECT c.user_id, 0 AS t, {base_h}
    FROM coded c WHERE c.t = 0
    UNION ALL
    SELECT e.user_id, e.t + 1,
           {ns_defs},
         {nd_defs},
         {nh_defs}
    FROM ent_r e
    JOIN alpha a ON a.user_id = e.user_id AND a.t = e.t
    JOIN coded c ON c.user_id = e.user_id AND c.t = e.t + 1
  ) SELECT * FROM ent_r
)
SELECT e.user_id AS seq_id, l.t_len::INTEGER AS t_len,
       round(al.ll, 6) AS loglik,
       round({final}, 6) AS entropy,
       round(({final}) / l.t_len, 6) AS entropy_rate
FROM ent e
JOIN lens l ON l.user_id = e.user_id AND e.t = l.t_len - 1
JOIN alpha al ON al.user_id = e.user_id AND al.t = l.t_len - 1
"""
