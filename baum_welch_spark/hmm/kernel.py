"""NumPy DP kernels: one batched scaled forward-backward, forward-only and
Viterbi recursion for every HMM operator of both emission families.

Each batched kernel runs one padded octave length bucket at once
(:func:`_pad_buckets`) and sees the observations only through ``emit``,
which maps a step's observations to their (S, N) emission rows:
:func:`symbol_emit` of B (or log B) for the discrete family, the Gaussian
densities in ``hmm/gaussian.py``. The per-sequence :func:`forward_backward`
and :func:`e_step_counts` stay as the references tests pin them against.

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
    """Scaled forward/backward for one sequence — the per-sequence
    recurrence of both families (a Gaussian caller passes its (N, T)
    per-step densities as B and obs = 0..T-1).

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


def normalize_rows(x: np.ndarray) -> np.ndarray:
    """Expected counts -> distributions over the last axis (reference
    reducer A4, BaumWelchReducer.java:133-149); a row with zero mass turns
    uniform. The M-step normalize of both HMM families."""
    x = np.asarray(x, dtype=np.float64)
    s = x.sum(axis=-1, keepdims=True)
    uniform = np.full_like(x, 1.0 / x.shape[-1])
    return np.where(s > 0, x / np.where(s > 0, s, 1.0), uniform)


def m_step(
    count_pi: np.ndarray, count_A: np.ndarray, count_B: np.ndarray
) -> HMM:
    """The discrete M-step: each count block row-normalized
    (:func:`normalize_rows`)."""
    return HMM(
        pi=normalize_rows(count_pi), A=normalize_rows(count_A), B=normalize_rows(count_B)
    ).validate()


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


def _pad_buckets(seqs: list, dtype):
    """Yield ``(idxs, pad, lens)`` per octave length bucket of ``seqs``
    (:func:`_length_buckets`): ``pad`` is the bucket's observations as a
    (Tmax, S) array of ``dtype``, zero past each sequence's end, and
    ``lens`` its (S,) lengths."""
    for idxs in _length_buckets([len(o) for o in seqs]):
        lens = np.array([len(seqs[i]) for i in idxs], dtype=np.int64)
        pad = np.zeros((int(lens.max()), len(idxs)), dtype=dtype)
        for col, i in enumerate(idxs):
            pad[: lens[col], col] = seqs[i]
        yield idxs, pad, lens


def _padded_buckets(obs_list: list, n_symbols: int):
    """:func:`_pad_buckets` for symbol sequences (int64), every bucket
    range-checked once (:func:`check_symbols`)."""
    for idxs, obs_pad, lens in _pad_buckets(obs_list, np.int64):
        check_symbols(obs_pad, n_symbols)
        yield idxs, obs_pad, lens


def symbol_emit(table: np.ndarray):
    """The discrete family's ``emit``: symbols (any shape) -> rows of
    ``table.T``; ``table`` is B, or log B for Viterbi."""
    return np.ascontiguousarray(table.T).__getitem__


def _valid(obs_pad: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """(Tmax, S) mask: step t exists in sequence s."""
    return np.arange(obs_pad.shape[0])[:, None] < lens[None, :]


def forward_batch(
    pi: np.ndarray, A: np.ndarray, emit, obs_pad: np.ndarray, lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The forward recurrence of :func:`forward_backward` across all S
    sequences of one padded bucket ``obs_pad`` (Tmax, S) with lengths
    ``lens``, so the Python-level loop runs Tmax times, not sum(T_s) times.
    ``emit`` is called once per step, so no (Tmax, S, N) emission block is
    built.

    Returns padded ``(alpha_hat, scale)``. Past a sequence's end its scale
    is pinned to 1 and alpha is carried unchanged; callers mask by
    validity. A sequence with probability 0 gets a zero scale where its
    forward mass dies and NaN after it; its batch-mates are untouched."""
    t_max, s = obs_pad.shape
    n = A.shape[0]
    valid = _valid(obs_pad, lens)

    alpha = np.empty((t_max, s, n))
    scale = np.ones((t_max, s))
    a = pi[None, :] * emit(obs_pad[0])  # (S, N); every sequence has T >= 1
    sc = a.sum(axis=1)
    alpha[0] = a / sc[:, None]
    scale[0] = sc
    for t in range(1, t_max):
        a = (alpha[t - 1] @ A) * emit(obs_pad[t])
        v = valid[t]
        sc = np.where(v, a.sum(axis=1), 1.0)
        alpha[t] = np.where(v[:, None], a / sc[:, None], alpha[t - 1])
        scale[t] = sc
    return alpha, scale


def backward_batch(
    A: np.ndarray, emit, obs_pad: np.ndarray, lens: np.ndarray, scale: np.ndarray
) -> np.ndarray:
    """The backward recurrence of :func:`forward_backward` over one padded
    bucket (arguments as in :func:`forward_batch`, ``scale`` its output).
    Returns the padded beta_hat: 1 past a sequence's end (which also seeds
    beta[len-1] = 1 exactly); callers mask by validity."""
    t_max = obs_pad.shape[0]
    valid = _valid(obs_pad, lens)
    beta = np.empty((t_max, obs_pad.shape[1], A.shape[0]))
    beta[t_max - 1] = 1.0
    for t in range(t_max - 2, -1, -1):
        bt = (emit(obs_pad[t + 1]) * beta[t + 1]) @ A.T / scale[t + 1][:, None]
        # invalid t+1 (t >= len-1): beta[t] = 1 — exact for t == len-1,
        # don't-care (masked) beyond
        beta[t] = np.where(valid[t + 1][:, None], bt, 1.0)
    return beta


def forward_backward_batch(
    pi: np.ndarray, A: np.ndarray, emit, obs_pad: np.ndarray, lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`forward_batch` then :func:`backward_batch`: the padded
    ``(alpha_hat, beta_hat, scale)`` of one bucket."""
    alpha, scale = forward_batch(pi, A, emit, obs_pad, lens)
    return alpha, backward_batch(A, emit, obs_pad, lens, scale), scale


def transition_factors(
    alpha: np.ndarray, beta: np.ndarray, scale: np.ndarray, emit,
    obs_pad: np.ndarray, valid: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """``(wa, wb)``, (K, N) over the bucket's K transitions, such that
    sum_t xi[t] = ``A * (wa.T @ wb)`` (module doc). Needs Tmax > 1."""
    w = emit(obs_pad[1:])  # (Tmax-1, S, N), a fresh array
    w *= beta[1:]
    w /= scale[1:, :, None]
    trans = valid[1:]  # transition t -> t+1 exists iff t+1 is valid
    return alpha[:-1][trans], w[trans]


def loglik_batch(
    pi: np.ndarray, A: np.ndarray, emit, obs_pad: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Forward-only pass over one padded bucket (arguments as in
    :func:`forward_backward_batch`), keeping no alpha history. Returns the
    (Tmax, S) per-step log P(o_t | o_0..t-1) = log scale[t], 0 past each
    sequence's end: a sequence's loglik is its column sum.

    A sequence with probability 0 gets ``-inf`` from the step its forward
    mass dies: its alpha row stays all zeros rather than NaN (0/0), so its
    batch-mates are untouched."""
    t_max = obs_pad.shape[0]
    log_sc = np.empty((t_max, obs_pad.shape[1]))
    with np.errstate(divide="ignore"):
        a = pi[None, :] * emit(obs_pad[0])  # (S, N)
        sc = a.sum(axis=1)
        log_sc[0] = np.log(sc)
        alpha = a / np.where(sc > 0, sc, 1.0)[:, None]
        for t in range(1, t_max):
            a = (alpha @ A) * emit(obs_pad[t])
            sc = a.sum(axis=1)
            log_sc[t] = np.where(t < lens, np.log(sc), 0.0)
            alpha = a / np.where(sc > 0, sc, 1.0)[:, None]
    return log_sc


def viterbi_batch(
    log_pi: np.ndarray, log_A: np.ndarray, log_emit, obs_pad: np.ndarray,
    lens: np.ndarray,
) -> tuple[list[np.ndarray], np.ndarray]:
    """Log-space Viterbi across one padded bucket (arguments as in
    :func:`forward_backward_batch`, with log-emission rows): returns
    (paths, scores) aligned with its columns — each path an int32 array of
    its sequence's length, each score the best path's joint log-probability.
    BITWISE equal to looping ``decode._viterbi_one``: every DP cell is the same
    two-operand IEEE add (delta + log A, then + log b), and the argmax
    over the previous state is first-max like np.argmax (the candidate
    block is laid out (S, cur, prev) so that reduction runs over the
    contiguous axis). Past a sequence's end its delta row is carried
    unchanged, so the final block holds each sequence's delta at its own
    last step; the backtrack is vectorized and starts each sequence at its
    own T-1. The bucket is split on the sequence axis so one step's
    candidate block stays under ``_VITERBI_CAND_BUDGET`` cells. A sequence
    with probability 0 scores ``-inf`` (path arbitrary)."""
    n = log_pi.shape[0]
    log_AT = np.ascontiguousarray(log_A.T)  # [cur, prev]
    cap = max(1, _VITERBI_CAND_BUDGET // (n * n))
    paths: list = []
    scores = np.empty(len(lens))
    for lo in range(0, len(lens), cap):
        part = slice(lo, lo + cap)
        cl = lens[part]
        pad = obs_pad[: int(cl.max()), part]
        t_max, s = pad.shape
        delta = log_pi[None, :] + log_emit(pad[0])  # (S, N)
        psi = np.zeros((t_max, s, n), dtype=np.min_scalar_type(n - 1))
        for t in range(1, t_max):
            cand = delta[:, None, :] + log_AT  # (S, N cur, N prev)
            arg = cand.argmax(axis=2)
            psi[t] = arg
            step = np.take_along_axis(cand, arg[:, :, None], axis=2)[:, :, 0]
            delta = np.where((t < cl)[:, None], step + log_emit(pad[t]), delta)
        scores[part] = delta.max(axis=1)
        state = delta.argmax(axis=1)
        path_pad = np.empty((t_max, s), dtype=np.int32)
        cols = np.arange(s)
        for t in range(t_max - 1, 0, -1):
            path_pad[t] = state
            state = np.where(t < cl, psi[t, cols, state], state)
        path_pad[0] = state
        rows = np.ascontiguousarray(path_pad.T)
        paths.extend(rows[c, : cl[c]] for c in range(s))
    return paths, scores


def viterbi_paths(
    log_pi: np.ndarray, log_A: np.ndarray, log_emit, buckets, n_seqs: int
) -> tuple[list[np.ndarray], np.ndarray]:
    """:func:`viterbi_batch` over every ``(idxs, obs_pad, lens)`` bucket of
    ``n_seqs`` sequences: (paths, scores) aligned with the sequences."""
    paths: list = [None] * n_seqs
    scores = np.empty(n_seqs)
    for idxs, obs_pad, lens in buckets:
        bucket_paths, scores[idxs] = viterbi_batch(log_pi, log_A, log_emit, obs_pad, lens)
        for i, path in zip(idxs, bucket_paths):
            paths[i] = path
    return paths, scores


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
    """Batched E-step, the hot kernel of the distributed fit: the expected
    counts of looping :func:`e_step_counts`, accumulated into the same out
    arrays (pinned at 1e-10), with the summed loglik returned. One
    :func:`forward_backward_batch` per :func:`_padded_buckets` bucket (a
    symbol outside ``0..M-1`` raises ``ValueError``), counts masked by
    validity.

    ``weights`` (optional, per sequence): every count contribution and the
    log-likelihood of sequence s scale by weights[s] — the multiplicity
    semantics for training on a DEDUPLICATED corpus where each kept
    sequence represents `n_copies` originals (an integer weight w is
    numerically equivalent to physically replicating the sequence w times,
    asserted in tests; fractional weights give importance weighting). The
    weights=None path is byte-identical to the unweighted kernel.
    """
    M = B.shape[1]
    emit = symbol_emit(B)
    warr = None if weights is None else np.asarray(weights, dtype=np.float64)
    total = 0.0
    for idxs, obs_pad, lens in _padded_buckets(obs_list, M):
        alpha, beta, scale = forward_backward_batch(pi, A, emit, obs_pad, lens)
        valid = _valid(obs_pad, lens)
        gamma = alpha * beta  # (T, S, N); rows at valid t sum to 1
        if warr is None:
            out_pi += gamma[0].sum(axis=0)
        else:
            wgt = warr[idxs]
            grid = np.broadcast_to(wgt[None, :], obs_pad.shape)
            out_pi += wgt @ gamma[0]  # (S,) @ (S, N)

        flat_gamma = gamma[valid]  # (K, N)
        if warr is not None:
            flat_gamma = flat_gamma * grid[valid][:, None]
        BT = np.zeros((M, A.shape[0]))
        np.add.at(BT, obs_pad[valid], flat_gamma)
        out_B += BT.T

        if obs_pad.shape[0] > 1:
            wa, wb = transition_factors(alpha, beta, scale, emit, obs_pad, valid)
            if warr is not None:
                wb = wb * grid[1:][valid[1:]][:, None]
            out_A += A * (wa.T @ wb)

        if warr is None:
            total += float(np.log(scale).sum())
        else:
            total += float(np.log(scale).sum(axis=0) @ wgt)
    return total
