"""NumPy DP kernels: one batched scaled forward-backward, forward-only and
Viterbi recursion for every HMM operator of both emission families.

Each batched kernel runs one chunk of an Arrow batch's sequences in the
packed time-major layout (:class:`Packed`, :func:`pack`): sorted by length,
longest first, so step t touches only the contiguous rows of the sequences
still alive, and a recursion runs max T Python steps with no padding or
validity mask. The kernels see the observations only through their
(rows, N) emission rows, gathered once per chunk by an ``emit`` function:
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
    same packed kernel the distributed fit's Arrow batches run).
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


#: max cells of a packed chunk's largest array (:func:`pack`): the
#: alpha/beta/psi block (rows, N), Viterbi's per-step candidate block
#: (n_t, N, N) or top-k's back-pointers (rows, N, k, 2) — 32 MiB of float64,
#: whatever the Arrow batch holds. Each sequence's DP is independent, so
#: the split is invisible in the results; an ~80k-symbol batch at N=16 is
#: one chunk.
_CELL_BUDGET = 1 << 22


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


class Packed:
    """S sequences in the packed time-major layout (as PyTorch's
    ``PackedSequence``): sorted by length, longest first, step t of the
    i-th sequence sits at row ``offs[t] + i`` of one flat array, for
    i < ``sizes[t]``, the number of sequences longer than t. A recursion's
    step t so touches only the contiguous rows ``offs[t] : offs[t] +
    sizes[t]``, and the same sequences' step t-1 is the prefix of the
    step before: no padding, no validity mask.

    ``idx``: the sequences' positions in the caller's list, longest first;
    ``lens``: their lengths; ``obs``: the (rows,) observations; ``seq``:
    each row's sequence (0..S-1); ``row``: each step's row, in
    sequence-major order; ``last``: each sequence's last row."""

    def __init__(self, seqs: list, idx: np.ndarray, lens: np.ndarray, dtype):
        s = len(idx)
        sizes = s - np.cumsum(np.bincount(lens))[:-1]
        offs = np.concatenate([[0], np.cumsum(sizes)])
        self.idx, self.lens = idx, lens
        self.sizes, self.offs = sizes.tolist(), offs.tolist()
        seq = np.repeat(np.arange(s), lens)
        self.row = offs[np.arange(len(seq)) - np.repeat(np.cumsum(lens) - lens, lens)] + seq
        self.seq = self.pack(seq)
        self.last = offs[lens - 1] + np.arange(s)
        self.obs = self.pack(np.concatenate([seqs[i] for i in idx]).astype(dtype, copy=False))

    def pack(self, x: np.ndarray) -> np.ndarray:
        """Rows in sequence-major order (the sequences' steps
        concatenated, longest sequence first) -> the packed layout."""
        out = np.empty_like(x)
        out[self.row] = x
        return out

    def unpack(self, x: np.ndarray) -> list[np.ndarray]:
        """Packed rows -> one array per sequence, longest first."""
        return np.split(x[self.row], np.cumsum(self.lens)[:-1])

    def seq_sum(self, x: np.ndarray) -> np.ndarray:
        """Per-sequence sums over the steps of packed ``x`` (rows,) or
        (rows, N), accumulated in step order (``np.bincount``)."""
        s = len(self.idx)
        if x.ndim == 1:
            return np.bincount(self.seq, weights=x, minlength=s)
        return np.stack([np.bincount(self.seq, weights=c, minlength=s) for c in x.T], axis=1)

    def prev(self) -> np.ndarray:
        """The row of step t-1 of the same sequence, for every row of a
        step t >= 1 (rows ``sizes[0]:``, in order)."""
        sizes = np.asarray(self.sizes)
        return np.arange(sizes[0], self.offs[-1]) - np.repeat(sizes[:-1], sizes[1:])


def pack(seqs: list, row_cells: int, step_cells: int = 0, n_symbols: int | None = None):
    """Yield ``seqs`` (each non-empty) as :class:`Packed` chunks, longest
    first. A sequence of length T costs ``T * row_cells +
    step_cells`` cells (its rows of the kernel's widest per-row array, plus
    its share of its widest per-step block), and a chunk is the longest run
    of consecutive sequences whose cost stays within ``_CELL_BUDGET`` (at
    least one). With ``n_symbols`` the sequences are the discrete family's
    symbols, int64 and range-checked (:func:`check_symbols`); without, the
    Gaussian family's float64 values."""
    lens = np.fromiter(map(len, seqs), np.int64, len(seqs))
    order = np.argsort(-lens, kind="stable")
    lens = lens[order]
    cost = np.cumsum(lens * row_cells + step_cells)
    dtype = np.float64 if n_symbols is None else np.int64
    lo = 0
    while lo < len(lens):
        spent = cost[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(cost, spent + _CELL_BUDGET, side="right")))
        p = Packed(seqs, order[lo:hi], lens[lo:hi], dtype)
        if n_symbols is not None:
            check_symbols(p.obs, n_symbols)
        yield p
        lo = hi


def symbol_emit(table: np.ndarray):
    """The discrete family's ``emit``: symbols (any shape) -> rows of
    ``table.T``; ``table`` is B, or log B for Viterbi."""
    return np.ascontiguousarray(table.T).__getitem__


def forward_batch(
    pi: np.ndarray, A: np.ndarray, E: np.ndarray, p: Packed
) -> tuple[np.ndarray, np.ndarray]:
    """The forward recurrence of :func:`forward_backward` across all
    sequences of the packed chunk ``p``, whose (rows, N) emission rows are
    ``E`` (``emit(p.obs)``): the Python-level loop runs max T times, not
    sum(T_s) times.

    Returns the packed ``(alpha_hat, scale)``. A sequence with probability
    0 gets a zero scale where its forward mass dies and NaN after it; its
    batch-mates are untouched."""
    alpha = np.empty_like(E)
    scale = np.empty(len(E))
    s = p.sizes[0]
    a = np.multiply(pi, E[:s], out=alpha[:s])
    np.sum(a, axis=1, out=scale[:s])
    a /= scale[:s, None]
    for lo, plo, n in zip(p.offs[1:], p.offs, p.sizes[1:]):
        a = np.matmul(alpha[plo : plo + n], A, out=alpha[lo : lo + n])
        a *= E[lo : lo + n]
        np.sum(a, axis=1, out=scale[lo : lo + n])
        a /= scale[lo : lo + n, None]
    return alpha, scale


def backward_batch(A: np.ndarray, E: np.ndarray, p: Packed, scale: np.ndarray) -> np.ndarray:
    """The backward recurrence of :func:`forward_backward` over the packed
    chunk (arguments as in :func:`forward_batch`, ``scale`` its output):
    the packed beta_hat, 1 at each sequence's last step."""
    beta = np.ones_like(E)
    for t in range(len(p.sizes) - 2, -1, -1):
        lo, nlo, m = p.offs[t], p.offs[t + 1], p.sizes[t + 1]
        b = np.matmul(E[nlo : nlo + m] * beta[nlo : nlo + m], A.T, out=beta[lo : lo + m])
        b /= scale[nlo : nlo + m, None]
    return beta


def forward_backward_batch(
    pi: np.ndarray, A: np.ndarray, E: np.ndarray, p: Packed
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`forward_batch` then :func:`backward_batch`: the packed
    ``(alpha_hat, beta_hat, scale)`` of one chunk."""
    alpha, scale = forward_batch(pi, A, E, p)
    return alpha, backward_batch(A, E, p, scale), scale


def transition_counts(
    A: np.ndarray, alpha: np.ndarray, beta: np.ndarray, scale: np.ndarray,
    E: np.ndarray, p: Packed, w: np.ndarray | None = None,
) -> np.ndarray:
    """sum_t xi[t] over the chunk's transitions (module doc), each scaled
    by its row's weight ``w`` when given: ``A * (alpha[prev].T @ wb)``
    with wb = E * beta / scale at every row of a step t >= 1."""
    s = p.sizes[0]
    wb = E[s:] * beta[s:]
    wb /= scale[s:, None]
    if w is not None:
        wb *= w[s:, None]
    return A * (alpha[p.prev()].T @ wb)


def loglik_batch(pi: np.ndarray, A: np.ndarray, E: np.ndarray, p: Packed) -> np.ndarray:
    """Forward-only pass over the packed chunk (arguments as in
    :func:`forward_batch`), keeping only the last step's alpha. Returns the
    packed per-step log P(o_t | o_0..t-1) = log scale[t]: a sequence's
    loglik is its ``p.seq_sum``.

    A sequence with probability 0 gets ``-inf`` from the step its forward
    mass dies: its alpha row stays all zeros rather than NaN (0/0), so its
    batch-mates are untouched."""
    scale = np.empty(len(E))
    a = pi * E[: p.sizes[0]]
    for t, (lo, n) in enumerate(zip(p.offs, p.sizes)):
        if t:
            a = (alpha[:n] @ A) * E[lo : lo + n]
        sc = a.sum(axis=1)
        scale[lo : lo + n] = sc
        alpha = a / np.where(sc > 0, sc, 1.0)[:, None]
    with np.errstate(divide="ignore"):
        return np.log(scale)


def viterbi_batch(
    log_pi: np.ndarray, log_A: np.ndarray, LE: np.ndarray, p: Packed
) -> tuple[list[np.ndarray], np.ndarray]:
    """Log-space Viterbi across the packed chunk ``p`` with log-emission
    rows ``LE``: returns (paths, scores) in chunk order — each path an
    int32 array of its sequence's length, each score the best path's joint
    log-probability. BITWISE equal to looping ``decode._viterbi_one``:
    every DP cell is the same two-operand IEEE add (delta + log A, then +
    log b), and the argmax over the previous state is first-max like
    np.argmax (the candidate block is laid out (n, cur, prev) so that
    reduction runs over the contiguous axis). The backtrack is vectorized
    and starts each sequence at its own last row. A sequence with
    probability 0 scores ``-inf`` (path arbitrary)."""
    n_states = log_pi.shape[0]
    log_AT = np.ascontiguousarray(log_A.T)  # [cur, prev]
    delta = np.empty_like(LE)
    psi = np.empty(LE.shape, dtype=np.min_scalar_type(n_states - 1))
    s = p.sizes[0]
    np.add(log_pi, LE[:s], out=delta[:s])
    for lo, plo, n in zip(p.offs[1:], p.offs, p.sizes[1:]):
        cand = delta[plo : plo + n, None, :] + log_AT  # (n, N cur, N prev)
        arg = cand.argmax(axis=2)
        psi[lo : lo + n] = arg
        step = np.take_along_axis(cand, arg[:, :, None], axis=2)[:, :, 0]
        np.add(step, LE[lo : lo + n], out=delta[lo : lo + n])
    final = delta[p.last]
    scores = final.max(axis=1)
    state = final.argmax(axis=1)
    path = np.empty(len(LE), dtype=np.int32)
    psi_flat = psi.reshape(-1)
    cells = np.arange(s) * n_states
    for t in range(len(p.sizes) - 1, 0, -1):
        lo, n = p.offs[t], p.sizes[t]
        path[lo : lo + n] = state[:n]
        state[:n] = psi_flat[lo * n_states + cells[:n] + state[:n]]
    path[:s] = state
    return p.unpack(path), scores


def viterbi_paths(
    log_pi: np.ndarray, log_A: np.ndarray, log_emit, seqs: list, n_symbols: int | None = None
) -> tuple[list[np.ndarray], np.ndarray]:
    """:func:`viterbi_batch` over every :func:`pack` chunk of the
    non-empty ``seqs`` (``n_symbols`` as in :func:`pack`): (paths, scores)
    aligned with ``seqs``."""
    n = log_pi.shape[0]
    paths: list = [None] * len(seqs)
    scores = np.empty(len(seqs))
    for p in pack(seqs, n, n * n, n_symbols):
        chunk_paths, scores[p.idx] = viterbi_batch(log_pi, log_A, log_emit(p.obs), p)
        for i, path in zip(p.idx, chunk_paths):
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
    arrays (pinned at 1e-12), with the summed loglik returned. One
    :func:`forward_backward_batch` per :func:`pack` chunk of the non-empty
    ``obs_list`` (a symbol outside ``0..M-1`` raises ``ValueError``); the
    counts are flat-array operations over the packed rows (B by a
    per-state ``np.bincount``, which accumulates in ``np.add.at``'s order).

    ``weights`` (optional, per sequence): every count contribution and the
    log-likelihood of sequence s scale by weights[s] — the multiplicity
    semantics for training on a DEDUPLICATED corpus where each kept
    sequence represents `n_copies` originals (an integer weight w is
    numerically equivalent to physically replicating the sequence w times,
    asserted in tests; fractional weights give importance weighting).
    """
    n, M = B.shape
    emit = symbol_emit(B)
    total = 0.0
    for p in pack(obs_list, n, n_symbols=M):
        E = emit(p.obs)
        alpha, beta, scale = forward_backward_batch(pi, A, E, p)
        w = wr = None
        if weights is not None:
            w = np.asarray(weights, dtype=np.float64)[p.idx]
            wr = w[p.seq]  # each row's weight
        out_A += transition_counts(A, alpha, beta, scale, E, p, wr)
        gamma = alpha  # alpha * beta in place: rows sum to 1
        gamma *= beta
        if wr is not None:
            gamma *= wr[:, None]
        out_pi += gamma[: p.sizes[0]].sum(axis=0)
        for q, g in enumerate(np.ascontiguousarray(gamma.T)):
            out_B[q] += np.bincount(p.obs, weights=g, minlength=M)
        log_scale = np.log(scale)
        total += float(log_scale.sum() if w is None else p.seq_sum(log_scale) @ w)
    return total
