"""Seeded input generator: an ``events`` table sampled from a known HMM.

The program under test sees only the written ``events.parquet`` (columns
``event_id, ts, user_id, event_type, value, props``, the shape of the
engine's ``events`` table); it reads it through ``sources.io.load_table``
and turns it into sequences through ``operators.sequences.build_sequences``.

Each user is one hidden-state trajectory of the corpus's generating HMM,
and each of its events is one emitted symbol, time-ordered. The generating
model is fixed per corpus; ``seed`` drives everything sampled from it:
sequence lengths, states, symbols, timestamps and the extra columns.

The total symbol count of a corpus is pinned exactly (lengths are sampled,
then trimmed or padded to the target), so every seed asks the program for
the same amount of work and a run-to-run spread comes from the program,
not from the draw.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# generating model seed: fixed, so the "known HMM" is the same for every run
_MODEL_SEED = 20190401
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 UTC, like the engine testdata
_ROW_GROUP = 131_072


@dataclass(frozen=True)
class Corpus:
    """Shape of one generated ``events`` corpus."""

    name: str
    n_sequences: int
    n_symbols: int  # exact Σ T
    n_states: int  # hidden states of the generating HMM
    n_observed: int  # distinct event types
    long_share: float = 0.0  # share of sequences drawn from [long_min, long_max]
    long_min: int = 1000
    long_max: int = 2000


def generating_model(corpus: Corpus) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The corpus's known HMM: sticky transitions and peaked emissions, so
    EM has structure to find. Every emission has probability at least
    0.1 / M, so every event type occurs and the symbol dictionary has
    exactly M entries."""
    rng = np.random.default_rng(_MODEL_SEED)
    n, m = corpus.n_states, corpus.n_observed
    pi = rng.dirichlet(np.ones(n))
    A = rng.dirichlet(np.ones(n), size=n) * 0.3 + np.eye(n) * 0.7
    B = rng.dirichlet(np.full(m, 0.5), size=n) * 0.9 + 0.1 / m
    return pi, A, B


def sample_lengths(corpus: Corpus, rng: np.random.Generator) -> np.ndarray:
    """Per-sequence lengths summing exactly to ``corpus.n_symbols``.

    A ``long_share`` of the sequences is uniform on [long_min, long_max];
    the rest are negative-binomial around the mean that the remaining
    symbols leave, then adjusted one symbol at a time (never below 1) until
    the total is exact."""
    s = corpus.n_sequences
    n_long = int(round(s * corpus.long_share))
    long = rng.integers(corpus.long_min, corpus.long_max + 1, size=n_long)
    n_short = s - n_long
    mean = (corpus.n_symbols - int(long.sum())) / n_short
    if mean < 2:
        raise ValueError(f"{corpus.name}: too few symbols for {s} sequences")
    short = 1 + rng.poisson(rng.gamma(2.0, (mean - 1) / 2.0, size=n_short))
    diff = corpus.n_symbols - int(long.sum()) - int(short.sum())
    while diff != 0:
        idx = rng.integers(0, n_short, size=abs(diff))
        if diff > 0:
            np.add.at(short, idx, 1)
        else:
            take = np.bincount(idx, minlength=n_short)
            take = np.minimum(take, short - 1)
            short -= take
        diff = corpus.n_symbols - int(long.sum()) - int(short.sum())
    lengths = np.concatenate([long, short]).astype(np.int64)
    return lengths[rng.permutation(s)]


def sample_symbols(
    pi: np.ndarray, A: np.ndarray, B: np.ndarray, lengths: np.ndarray,
    rng: np.random.Generator,
) -> list[np.ndarray]:
    """Sample one emitted symbol sequence per length from (pi, A, B).

    Vectorized across sequences: sequences are visited longest first, so
    the ones still running at step t are a prefix of that order."""
    order = np.argsort(-lengths, kind="stable")
    lens = lengths[order]
    tmax = int(lens[0])
    n_active = np.searchsorted(-lens, -np.arange(1, tmax + 1), side="right")
    cum_a = np.cumsum(A, axis=1)
    cum_b = np.cumsum(B, axis=1)
    states = np.empty((tmax, len(lens)), dtype=np.int32)
    states[0] = np.searchsorted(np.cumsum(pi), rng.random(len(lens)), side="right")
    for t in range(1, tmax):
        k = n_active[t]
        prev = states[t - 1, :k]
        states[t, :k] = (rng.random(k)[:, None] > cum_a[prev]).sum(axis=1)
    np.minimum(states, len(pi) - 1, out=states)
    out: list[np.ndarray] = [None] * len(lens)  # type: ignore[list-item]
    for rank, (s_idx, t_len) in enumerate(zip(order, lens)):
        st = states[:t_len, rank]
        sym = (rng.random(t_len)[:, None] > cum_b[st]).sum(axis=1)
        out[s_idx] = np.minimum(sym, B.shape[1] - 1)
    return out


def event_table(corpus: Corpus, seed: int) -> pa.Table:
    """The events table for ``corpus`` under ``seed``, ordered by time like
    an event log (users interleave), with ``event_id`` increasing in time."""
    rng = np.random.default_rng(seed)
    pi, A, B = generating_model(corpus)
    lengths = sample_lengths(corpus, rng)
    symbols = sample_symbols(pi, A, B, lengths, rng)
    user_ids = rng.permutation(corpus.n_sequences).astype(np.int64) + 1000

    users = np.repeat(user_ids, lengths)
    sym = np.concatenate(symbols)
    # strictly increasing timestamps within a user (gap >= 1 us), so the
    # (ts, event_id) order inside a user is the sampled order
    start = np.repeat(rng.integers(0, 30 * 86_400_000_000, size=len(lengths)), lengths)
    gaps = 1 + rng.exponential(60_000_000.0, size=len(sym)).astype(np.int64)
    first = np.zeros(len(sym), dtype=bool)
    first[np.cumsum(lengths)[:-1]] = True
    first[0] = True
    seq_start = np.maximum.accumulate(np.where(first, np.arange(len(sym)), 0))
    csum = np.cumsum(gaps)
    ts = _EPOCH_US + start + csum - csum[seq_start]
    order = np.lexsort((users, ts))

    names = np.array([f"e{k:02d}" for k in range(corpus.n_observed)])
    props = pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, 100, size=len(sym)).astype(np.int32)),
        pa.array([f'{{"k": {k}}}' for k in range(100)]),
    )
    return pa.table({
        "event_id": pa.array(np.arange(len(sym), dtype=np.int64)),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(users[order]),
        "event_type": pa.DictionaryArray.from_arrays(
            pa.array(sym[order].astype(np.int32)), pa.array(names)
        ),
        "value": pa.array(np.round(rng.lognormal(3.0, 1.0, size=len(sym)), 2)[order]),
        "props": props.take(pa.array(order)),
    })


def events_dir(corpus: Corpus, seed: int, root: str) -> str:
    """Cache directory of one (corpus, seed) input; the name carries every
    corpus parameter, so a changed corpus never reads a stale file."""
    c = corpus
    key = (f"{c.name}-s{c.n_sequences}-t{c.n_symbols}-n{c.n_states}-m{c.n_observed}"
           f"-l{c.long_share}-{c.long_min}-{c.long_max}")
    return os.path.join(root, key, f"seed{seed}")


def ensure_events(corpus: Corpus, seed: int, root: str) -> None:
    """Write ``events.parquet`` into :func:`events_dir` unless it is already
    there. Written to a temporary name and renamed, so an interrupted run
    never leaves a partial file behind."""
    sf_dir = events_dir(corpus, seed, root)
    path = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(path):
        os.makedirs(sf_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(event_table(corpus, seed), tmp, row_group_size=_ROW_GROUP)
        os.replace(tmp, path)
