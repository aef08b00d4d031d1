"""NumPy DP kernel: scaled forward-backward + E-step expected counts.

This is the vectorized re-expression of the reference's E-step
(BaumWelchMapper.java:143,151 forward/backward; 157-240 stripe computation),
with three deliberate semantic corrections over the reference (SURVEY §2.6):

  Q2: the initial-distribution gamma uses t=0 (first observation), not t=1
      (reference reads alphaFactors.get(1, q), BaumWelchMapper.java:159-160).
  Q3: posteriors are normalized per sequence by P(O|λ) — with Rabiner scaling
      this falls out of the scaled recurrences for free; the reference sums
      raw alpha*beta across sequences (BaumWelchMapper.java:157-240).
  Q5: Rabiner per-t scaling replaces the reference's unscaled DP
      (forwardAlgorithm(..., false), BaumWelchMapper.java:143,151), which
      underflows for T beyond a few hundred.

Scaling convention used throughout (Rabiner 1989 §V):
  scale[t]  = sum_q alpha_raw[t, q] given alpha_hat[t-1]  (so P(O) = prod scale)
  alpha_hat[t, q] = P(o_0..o_t, s_t=q) / P(o_0..o_t)
  beta_hat[t, q]  = beta[t, q] / prod_{s>t} scale[s]
  => gamma[t, q]  = alpha_hat[t, q] * beta_hat[t, q]            (sums to 1 per t)
     xi[t, i, j]  = alpha_hat[t,i] A[i,j] B[j,o_{t+1}] beta_hat[t+1,j] / scale[t+1]
     loglik       = sum_t log scale[t]
"""

from __future__ import annotations

import numpy as np

from baum_welch_spark.hmm.model import HMM


def forward_backward(
    pi: np.ndarray, A: np.ndarray, B: np.ndarray, obs: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Scaled forward/backward for one sequence.

    Returns (alpha_hat (T,N), beta_hat (T,N), scale (T,), loglik).
    Vectorized recurrences (reference M2/M3, BaumWelchMapper.java:143,151):
      alpha[t] = (alpha[t-1] @ A) * B[:, o[t]]
      beta[t]  = A @ (B[:, o[t+1]] * beta[t+1])
    """
    obs = np.asarray(obs, dtype=np.int64)
    T = obs.shape[0]
    N = pi.shape[0]
    alpha = np.empty((T, N))
    beta = np.empty((T, N))
    scale = np.empty(T)

    a = pi * B[:, obs[0]]
    scale[0] = a.sum()
    alpha[0] = a / scale[0]
    for t in range(1, T):
        a = (alpha[t - 1] @ A) * B[:, obs[t]]
        scale[t] = a.sum()
        alpha[t] = a / scale[t]

    beta[T - 1] = 1.0
    for t in range(T - 2, -1, -1):
        beta[t] = (A @ (B[:, obs[t + 1]] * beta[t + 1])) / scale[t + 1]

    return alpha, beta, scale, float(np.log(scale).sum())


def e_step_counts(
    pi: np.ndarray,
    A: np.ndarray,
    B: np.ndarray,
    obs: np.ndarray,
    out_pi: np.ndarray,
    out_A: np.ndarray,
    out_B: np.ndarray,
) -> float:
    """Accumulate one sequence's expected counts into (out_pi, out_A, out_B).

    The stripe computations of the reference mapper, emitted once per sequence
    (the reference emits them T times — duplicate-emission bug, SURVEY §2.6 Q1,
    BaumWelchMapper.java:151-258):
      M4 initial stripe: gamma[0]                    (BaumWelchMapper.java:157-162)
      M5 emission stripe: sum_t gamma[t] by symbol   (BaumWelchMapper.java:186-210)
      M6 transition stripe: sum_t xi[t]              (BaumWelchMapper.java:214-240)

    Returns the sequence log-likelihood.
    """
    obs = np.asarray(obs, dtype=np.int64)
    T = obs.shape[0]
    alpha, beta, scale, loglik = forward_backward(pi, A, B, obs)
    gamma = alpha * beta  # (T, N), rows sum to 1

    out_pi += gamma[0]
    # emission counts: out_B[q, k] += sum_{t: o_t=k} gamma[t, q]
    np.add.at(out_B, (slice(None), obs), gamma.T)
    if T > 1:
        # xi summed over t without materializing (T, N, N):
        # sum_t xi[t] = sum_t outer(alpha[t], w[t+1]) * A
        #   where w[t+1] = B[:, o[t+1]] * beta[t+1] / scale[t+1]
        w = B[:, obs[1:]].T * beta[1:] / scale[1:, None]  # (T-1, N)
        out_A += (alpha[:-1].T @ w) * A
    return loglik


def m_step(
    count_pi: np.ndarray, count_A: np.ndarray, count_B: np.ndarray
) -> HMM:
    """Normalize expected counts to distributions (reference reducer A4,
    BaumWelchReducer.java:133-149). Rows with zero mass stay uniform."""

    def norm(x: np.ndarray) -> np.ndarray:
        x = np.asarray(x, dtype=np.float64)
        s = x.sum(axis=-1, keepdims=True)
        safe = np.where(s > 0, s, 1.0)
        out = x / safe
        uniform = np.full_like(out, 1.0 / x.shape[-1])
        return np.where(s > 0, out, uniform)

    return HMM(pi=norm(count_pi), A=norm(count_A), B=norm(count_B)).validate()


def sequential_baum_welch(
    init: HMM,
    sequences: list[np.ndarray],
    max_iter: int = 10,
    tol: float = 0.0,
) -> tuple[HMM, list[float]]:
    """Single-process EM — the oracle the distributed fit must match to 1e-8
    (SURVEY §5.2; replaces the missing Mahout sequential-vs-MR check).

    Returns (model, per-iteration total log-likelihood trace).
    """
    model = init.validate()
    trace: list[float] = []
    for _ in range(max_iter):
        cpi = np.zeros(model.n_hidden)
        cA = np.zeros((model.n_hidden, model.n_hidden))
        cB = np.zeros((model.n_hidden, model.n_observed))
        ll = 0.0
        for obs in sequences:
            if len(obs) == 0:
                continue  # parity with the distributed fit, whose E-step
                # UDF filters empty sequences (they carry no information)
            ll += e_step_counts(model.pi, model.A, model.B, obs, cpi, cA, cB)
        trace.append(ll)
        new_model = m_step(cpi, cA, cB)
        delta = model.distance(new_model)
        model = new_model
        if tol > 0 and delta < tol:
            break
    return model, trace


def batched_baum_welch(
    init: HMM,
    sequences: list[np.ndarray],
    max_iter: int = 10,
    tol: float = 0.0,
) -> tuple[HMM, list[float]]:
    """EM to the same fixed point as :func:`sequential_baum_welch`, with the
    E-step vectorized ACROSS sequences (:func:`e_step_counts_batch` — the
    same length-bucketed kernel the distributed fit's Arrow batches run).
    Identical quantities modulo float summation order; parity with the
    per-sequence loop is pinned in tests at the same tolerance class as the
    distributed-vs-sequential pin. This is the in-task trainer for
    ``grouped.fit_grouped``: one task per group, where the per-sequence
    Python loop (T Python-level steps per sequence per iteration) was the
    dominant cost."""
    model = init.validate()
    seqs = [np.asarray(o, dtype=np.int64) for o in sequences if len(o) > 0]
    trace: list[float] = []
    for _ in range(max_iter):
        cpi = np.zeros(model.n_hidden)
        cA = np.zeros((model.n_hidden, model.n_hidden))
        cB = np.zeros((model.n_hidden, model.n_observed))
        ll = e_step_counts_batch(model.pi, model.A, model.B, seqs, cpi, cA, cB)
        trace.append(ll)
        new_model = m_step(cpi, cA, cB)
        delta = model.distance(new_model)
        model = new_model
        if tol > 0 and delta < tol:
            break
    return model, trace


def _length_buckets(lens: list[int]) -> list[list[int]]:
    """Octave length-bucketing for the batched E-step (VERDICT-r9 #5 /
    SURVEY §7 hard part #1): indices grouped by bit_length(T), so within a
    bucket max_T < 2·min_T and the padded DP cost Σ_b (maxT_b × S_b) is
    bounded by 2 × Σ_s T_s REGARDLESS of length skew. Without this, one
    pathological 10⁵-length sequence in an Arrow batch of 10³ short ones
    pads EVERY sequence to 10⁵ — ~10³× the true work (and a (Tmax, S, N)
    alpha array in the GBs)."""
    buckets: dict[int, list[int]] = {}
    for idx, t in enumerate(lens):
        buckets.setdefault(int(t).bit_length(), []).append(idx)
    return [buckets[k] for k in sorted(buckets)]


#: max S × N × N cells of one Viterbi step's candidate block: buckets are
#: split on the sequence axis above this, so a wide model on a large Arrow
#: batch cannot allocate a GB-sized temporary (each sequence's DP is
#: independent, so the split is bitwise-invisible; N=16 never splits an
#: Arrow batch of 10k sequences)
_VITERBI_CAND_BUDGET = 1 << 22


def check_symbols(obs: np.ndarray, n_symbols: int) -> None:
    """Raise ``ValueError`` naming the first bad bound when a symbol in the
    (non-empty) int array ``obs`` lies outside ``0 <= o < n_symbols``: NumPy
    indexing would silently wrap a negative id into a plausible result, or
    fail with a bare IndexError."""
    lo_sym, hi_sym = int(obs.min()), int(obs.max())
    if lo_sym < 0 or hi_sym >= n_symbols:
        bad = lo_sym if lo_sym < 0 else hi_sym
        raise ValueError(
            f"observation symbol {bad} is out of range for a model "
            f"with M={n_symbols} symbols (valid: 0..{n_symbols - 1})"
        )


def _padded_buckets(obs_list: list, n_symbols: int, max_seqs: int | None = None):
    """Yield ``(idxs, obs_pad, lens)`` per octave length bucket of
    ``obs_list`` (:func:`_length_buckets`), at most ``max_seqs`` sequences
    each: ``obs_pad`` is the bucket's symbols as a (Tmax, S) int64 array,
    zero-padded past each sequence's end, and ``lens`` its (S,) lengths.

    Every bucket is range-checked once (:func:`check_symbols`)."""
    for bucket in _length_buckets([len(o) for o in obs_list]):
        step = max_seqs or len(bucket)
        for lo in range(0, len(bucket), step):
            idxs = bucket[lo : lo + step]
            lens = np.array([len(obs_list[i]) for i in idxs], dtype=np.int64)
            obs_pad = np.zeros((int(lens.max()), len(idxs)), dtype=np.int64)
            for col, i in enumerate(idxs):
                obs_pad[: lens[col], col] = obs_list[i]
            check_symbols(obs_pad, n_symbols)
            yield idxs, obs_pad, lens


def viterbi_batch(
    log_pi: np.ndarray,
    log_A: np.ndarray,
    log_B: np.ndarray,
    obs_list: list,
) -> tuple[list[np.ndarray], np.ndarray]:
    """Log-space Viterbi for a batch of sequences: returns (paths, scores)
    aligned with ``obs_list`` — each path an int32 array of its sequence's
    length, each score the best path's joint log-probability.

    Per octave length bucket (:func:`_padded_buckets`) the max-product
    recursion runs across all S sequences at once, so the Python-level loop
    runs max_T times per bucket, not sum(T_s) times. BITWISE equal to
    looping ``decode._viterbi_one``: every DP cell is the same two-operand
    IEEE add (delta + log A, then + log B), and the argmax over the
    previous state is first-max like np.argmax (the candidate block is laid
    out (S, cur, prev) so that reduction runs over the contiguous axis).
    Past a sequence's end its delta row is carried unchanged, so the final
    block holds each sequence's delta at its own last step; the backtrack
    is vectorized and starts each sequence at its own T-1.

    A sequence with probability 0 under the model scores ``-inf``; its
    path is then arbitrary (first-max over all -inf). A symbol outside
    ``0..M-1`` raises ``ValueError``."""
    n = log_pi.shape[0]
    log_AT = np.ascontiguousarray(log_A.T)  # [cur, prev]
    log_BT = np.ascontiguousarray(log_B.T)  # [symbol, state]
    paths: list = [None] * len(obs_list)
    scores = np.empty(len(obs_list))
    max_seqs = max(1, _VITERBI_CAND_BUDGET // (n * n))
    for idxs, obs_pad, lens in _padded_buckets(obs_list, log_B.shape[1], max_seqs):
        t_max, s = obs_pad.shape
        delta = log_pi[None, :] + log_BT[obs_pad[0]]  # (S, N)
        psi = np.zeros((t_max, s, n), dtype=np.min_scalar_type(n - 1))
        for t in range(1, t_max):
            cand = delta[:, None, :] + log_AT  # (S, N cur, N prev)
            arg = cand.argmax(axis=2)
            psi[t] = arg
            step = np.take_along_axis(cand, arg[:, :, None], axis=2)[:, :, 0]
            delta = np.where((t < lens)[:, None], step + log_BT[obs_pad[t]], delta)
        best = delta.max(axis=1)
        state = delta.argmax(axis=1)
        path_pad = np.empty((t_max, s), dtype=np.int32)
        cols = np.arange(s)
        for t in range(t_max - 1, 0, -1):
            path_pad[t] = state
            state = np.where(t < lens, psi[t, cols, state], state)
        path_pad[0] = state
        rows = np.ascontiguousarray(path_pad.T)
        for col, i in enumerate(idxs):
            paths[i] = rows[col, : lens[col]]
        scores[idxs] = best
    return paths, scores


def loglik_batch(
    pi: np.ndarray, A: np.ndarray, B: np.ndarray, obs_list: list
) -> np.ndarray:
    """Per-sequence marginal log-likelihood log P(O|λ), aligned with
    ``obs_list``: the scaled forward recursion of :func:`forward_backward`
    only — no backward pass, no stored alpha history — run across each
    octave length bucket at once (:func:`_padded_buckets`). The loglik is
    the sum of log scale factors accumulated step by step; it agrees with
    ``forward_backward``'s (whose sum is pairwise) to ~1e-15 relative.

    Padding follows the batched E-step: past a sequence's end its scale is
    pinned to 1, so it adds nothing. A sequence with probability 0 under
    the model (a zero scale factor) scores ``-inf``: its alpha row is left
    unnormalized (all zeros) rather than turned NaN by 0/0, so it stays
    ``-inf`` and every other sequence in the bucket is untouched. A symbol
    outside ``0..M-1`` raises ``ValueError``."""
    BT = np.ascontiguousarray(B.T)  # [symbol, state]
    out = np.empty(len(obs_list))
    with np.errstate(divide="ignore"):
        for idxs, obs_pad, lens in _padded_buckets(obs_list, B.shape[1]):
            a = pi[None, :] * BT[obs_pad[0]]  # (S, N)
            sc = a.sum(axis=1)
            ll = np.log(sc)
            alpha = a / np.where(sc > 0, sc, 1.0)[:, None]
            for t in range(1, obs_pad.shape[0]):
                a = (alpha @ A) * BT[obs_pad[t]]
                sc = np.where(t < lens, a.sum(axis=1), 1.0)
                ll += np.log(sc)
                alpha = a / np.where(sc > 0, sc, 1.0)[:, None]
            out[idxs] = ll
    return out


def e_step_counts_batch(
    pi: np.ndarray,
    A: np.ndarray,
    B: np.ndarray,
    obs_list: list[np.ndarray],
    out_pi: np.ndarray,
    out_A: np.ndarray,
    out_B: np.ndarray,
    weights: np.ndarray | None = None,
) -> float:
    """Length-skew-hardened batched E-step: sequences are octave-bucketed
    by length (:func:`_length_buckets`) and each bucket runs through the
    vectorized core, so padding waste is bounded at 2× the true DP work no
    matter how skewed an Arrow batch's length distribution is. Counts
    accumulate into the same out arrays; the summed loglik is returned.
    Equality with the per-sequence kernel is pinned by the same batch
    tests (bucket boundaries only change float accumulation ORDER, which
    the existing 1e-10 pins already absorb). The buckets come from
    :func:`_padded_buckets`, so a symbol outside ``0..M-1`` raises
    ``ValueError``."""
    warr = None if weights is None else np.asarray(weights, dtype=np.float64)
    total = 0.0
    for idxs, obs_pad, lens in _padded_buckets(obs_list, B.shape[1]):
        total += _e_step_counts_batch_core(
            pi, A, B, obs_pad, lens, out_pi, out_A, out_B,
            None if warr is None else warr[idxs],
        )
    return total


def _e_step_counts_batch_core(
    pi: np.ndarray,
    A: np.ndarray,
    B: np.ndarray,
    obs_pad: np.ndarray,
    lens: np.ndarray,
    out_pi: np.ndarray,
    out_A: np.ndarray,
    out_B: np.ndarray,
    weights: np.ndarray | None = None,
) -> float:
    """Batched E-step: the same expected counts as looping e_step_counts over
    one padded bucket (``obs_pad`` (Tmax, S), zero past each of the
    ``lens``, from :func:`_padded_buckets`), but vectorized ACROSS sequences
    so the Python-level loop runs max_T times, not sum(T_s) times. This is
    the hot kernel inside the distributed fit's Arrow batches (entered via
    the length-bucketing wrapper e_step_counts_batch).

    Padding semantics: for t beyond a sequence's end, scale is pinned to 1
    (no loglik contribution), alpha is carried forward unchanged, and beta's
    don't-care region is 1 (which also seeds beta[len-1] = 1 exactly);
    gamma/xi contributions are masked by validity, so the result matches the
    per-sequence kernel to machine precision (asserted in tests).

    ``weights`` (optional, per sequence): every count contribution and the
    log-likelihood of sequence s scale by weights[s] — the multiplicity
    semantics for training on a DEDUPLICATED corpus where each kept
    sequence represents `n_copies` originals (an integer weight w is
    numerically equivalent to physically replicating the sequence w times,
    asserted in tests; fractional weights give importance weighting). The
    weights=None path is byte-identical to the unweighted kernel.

    Returns the (weighted) summed log-likelihood of the batch.
    """
    Tmax, S = obs_pad.shape
    N, M = A.shape[0], B.shape[1]
    valid = np.arange(Tmax)[:, None] < lens[None, :]  # (T, S)

    alpha = np.empty((Tmax, S, N))
    scale = np.ones((Tmax, S))
    a = pi[None, :] * B[:, obs_pad[0]].T  # (S, N); every sequence has T >= 1
    sc = a.sum(axis=1)
    alpha[0] = a / sc[:, None]
    scale[0] = sc
    for t in range(1, Tmax):
        a = (alpha[t - 1] @ A) * B[:, obs_pad[t]].T
        v = valid[t]
        sc = np.where(v, a.sum(axis=1), 1.0)
        alpha[t] = np.where(v[:, None], a / sc[:, None], alpha[t - 1])
        scale[t] = sc

    beta = np.empty((Tmax, S, N))
    beta[Tmax - 1] = 1.0
    w = np.empty((Tmax, S, N))  # w[t] = B[:,o_t] * beta[t] / scale[t]
    w[Tmax - 1] = (B[:, obs_pad[Tmax - 1]].T * beta[Tmax - 1]) / scale[Tmax - 1][:, None]
    for t in range(Tmax - 2, -1, -1):
        bt = (B[:, obs_pad[t + 1]].T * beta[t + 1]) @ A.T / scale[t + 1][:, None]
        # invalid t+1 (t >= len-1): beta[t] = 1 — exact for t == len-1,
        # don't-care (masked) beyond
        beta[t] = np.where(valid[t + 1][:, None], bt, 1.0)
        w[t] = (B[:, obs_pad[t]].T * beta[t]) / scale[t][:, None]

    gamma = alpha * beta  # (T, S, N); rows at valid t sum to 1
    if weights is None:
        out_pi += gamma[0].sum(axis=0)
    else:
        wgt = np.asarray(weights, dtype=np.float64)
        grid = np.broadcast_to(wgt[None, :], (Tmax, S))
        out_pi += wgt @ gamma[0]  # (S,) @ (S, N)

    flat_obs = obs_pad[valid]          # (K,)
    flat_gamma = gamma[valid]          # (K, N)
    if weights is not None:
        flat_gamma = flat_gamma * grid[valid][:, None]
    BT = np.zeros((M, N))
    np.add.at(BT, flat_obs, flat_gamma)
    out_B += BT.T

    if Tmax > 1:
        trans_valid = valid[1:]        # transition t -> t+1 exists iff valid[t+1]
        wa = alpha[:-1][trans_valid]   # (K2, N)
        wb = w[1:][trans_valid]        # (K2, N)
        if weights is not None:
            wb = wb * grid[1:][trans_valid][:, None]
        out_A += A * (wa.T @ wb)

    if weights is None:
        return float(np.log(scale).sum())
    return float(np.log(scale).sum(axis=0) @ wgt)
