"""Correctness checks on the program's outputs, and the benchmark's
accounting helpers. Each check returns a list of problems; an empty list
means the output passed. All inputs are plain NumPy / pandas values, so the
checks run (and are tested) without Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd

# EM's log-likelihood never decreases in exact arithmetic; allow float
# jitter of this relative size between iterations
MONOTONE_RTOL = 1e-9
# distributed fit vs the single-process batched kernel (float summation
# order differs across partitions)
PARITY_RTOL = 1e-8
STOCHASTIC_ATOL = 1e-9


def input_properties(lengths: np.ndarray) -> dict[str, float]:
    """Shape of a corpus from its per-sequence lengths: sequence count,
    Σ T, max T and the share of symbols that sit in sequences of T ≥ 512
    (the share that a change helping only long inputs can claim)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    return {
        "sequences": int(len(lengths)),
        "symbols": total,
        "max_t": int(lengths.max()) if len(lengths) else 0,
        "share_symbols_t_ge_512": float(lengths[lengths >= 512].sum() / total) if total else 0.0,
    }


def check_model(pi: np.ndarray, A: np.ndarray, B: np.ndarray) -> list[str]:
    """Every parameter finite, non-negative, and each distribution sums to 1."""
    problems = []
    for name, arr in (("pi", np.atleast_2d(pi)), ("A", A), ("B", B)):
        arr = np.asarray(arr, dtype=np.float64)
        if not np.isfinite(arr).all():
            problems.append(f"{name} has non-finite entries")
            continue
        if (arr < 0).any():
            problems.append(f"{name} has negative entries")
        worst = float(np.abs(arr.sum(axis=1) - 1.0).max())
        if worst > STOCHASTIC_ATOL:
            problems.append(f"{name} rows are off stochastic by {worst:.3g}")
    return problems


def check_trace(trace: list[float], expected_len: int) -> list[str]:
    """The EM log-likelihood trace: one finite entry per iteration, never
    decreasing by more than float jitter."""
    t = np.asarray(trace, dtype=np.float64)
    if len(t) != expected_len:
        return [f"trace has {len(t)} entries, expected {expected_len}"]
    if not np.isfinite(t).all():
        return ["trace has non-finite entries"]
    drops = t[:-1] - t[1:]
    tol = MONOTONE_RTOL * np.maximum(np.abs(t[:-1]), 1.0)
    bad = np.flatnonzero(drops > tol)
    if len(bad):
        return [f"log-likelihood decreased at iteration {int(bad[0]) + 1}: "
                f"{t[bad[0]]!r} -> {t[bad[0] + 1]!r}"]
    return []


def check_fit(result, max_iter: int, reference_loglik: float | None = None) -> list[str]:
    """A ``hmm.fit.FitResult``: trace, final model, and (when given) the
    final log-likelihood against the single-process reference."""
    m = result.model
    problems = check_trace(result.loglik_trace, max_iter) + check_model(m.pi, m.A, m.B)
    if reference_loglik is not None and result.loglik_trace:
        got = result.loglik_trace[-1]
        rel = abs(got - reference_loglik) / max(abs(reference_loglik), 1e-300)
        if not rel <= PARITY_RTOL:
            problems.append(
                f"final loglik {got!r} vs reference {reference_loglik!r} (rel {rel:.3g})"
            )
    return problems


def check_decode(
    viterbi: pd.DataFrame, scores: pd.DataFrame, lengths: pd.Series, n_states: int
) -> list[str]:
    """``viterbi_decode`` output (seq_id, loglik, path) and
    ``score_sequences`` output (seq_id, t_len, loglik, avg_loglik) against
    the corpus (``lengths``: T indexed by seq_id).

    One row per sequence in both, ``len(path) == t_len == T``, every value
    finite, states in range, and each best-path log-probability at most the
    sequence's marginal log-likelihood (one path's probability cannot
    exceed the sum over all paths)."""
    problems = []
    for name, df in (("viterbi", viterbi), ("score", scores)):
        if df["seq_id"].duplicated().any():
            problems.append(f"{name}: duplicate seq_id rows")
        missing = len(set(lengths.index) - set(df["seq_id"]))
        extra = len(set(df["seq_id"]) - set(lengths.index))
        if missing or extra:
            problems.append(f"{name}: {missing} sequences missing, {extra} unknown")
    if problems:
        return problems
    v = viterbi.set_index("seq_id").loc[lengths.index]
    s = scores.set_index("seq_id").loc[lengths.index]
    path_len = v["path"].map(len).to_numpy()
    if (path_len != lengths.to_numpy()).any() or (s["t_len"].to_numpy() != lengths.to_numpy()).any():
        problems.append("path length or t_len differs from the sequence length")
    flat = np.concatenate(v["path"].map(np.asarray).to_list()) if len(v) else np.array([])
    if len(flat) and (flat.min() < 0 or flat.max() >= n_states):
        problems.append("viterbi path has a state out of range")
    for name, col in (("viterbi loglik", v["loglik"]), ("score loglik", s["loglik"]),
                      ("score avg_loglik", s["avg_loglik"])):
        if not np.isfinite(col.to_numpy(dtype=np.float64)).all():
            problems.append(f"{name} has non-finite values")
    vl = v["loglik"].to_numpy(dtype=np.float64)
    sl = s["loglik"].to_numpy(dtype=np.float64)
    over = vl > sl + 1e-9 * np.maximum(np.abs(sl), 1.0)
    if over.any():
        problems.append(f"{int(over.sum())} viterbi log-probabilities exceed the score")
    return problems


def failed_ratio(attempted: int, failed: int) -> float:
    """Share of attempted operations that raised or failed a check."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
