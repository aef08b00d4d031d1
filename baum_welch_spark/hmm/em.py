"""One distributed EM engine for every Baum-Welch trainer.

The reference is one dataflow (BaumWelchDriver.java:114-184): a driver loop
around a forward-backward map (BaumWelchMapper), a stripe sum
(BaumWelchCombiner / BaumWelchReducer) and a convergence test. It lives here
once, for keyed models: :func:`run_em` trains any number of models in one
loop (a single fit is one key; restarts, model selection and grouped
training are many), and every trainer supplies only its E-step frame,
broadcast payload and M-step.

Every E-step runs :func:`keyed_stripes`: each partition combines its
statistics into NumPy blocks per key and emits them through the stripe codec
(:func:`encode`), so one iteration's stripes are model-sized,
O(partitions * keys * N * (N + M)) rows, whatever the corpus size.
:func:`e_step` collects them unsummed over Arrow in one job and one stage,
and :func:`decode` sums each key's rows on the driver in partition order: no
shuffle, and the same sum on every run. The Catalyst stripe sum
(:func:`sum_stripes`) serves the re-estimation faces, which return a summed
DataFrame.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

STRIPE_SCHEMA = "key string, kind string, i int, j int, weight double"
KIND_LOGLIK = "loglik"  # side-channel row: per-batch partial log-likelihood
SOLE_KEY = "0"  # the key of a one-model run


def encode(
    blocks: dict[str, np.ndarray], loglik: float | None = None, key: str | None = None
) -> pd.DataFrame:
    """Named blocks -> one stripe frame: every cell of every block as a
    ``(kind, i, j, weight)`` row (in block order, row-major), then the
    ``(loglik, 0, 0, loglik)`` row when ``loglik`` is given. With ``key``
    the frame gets a leading constant ``key`` column."""
    kinds, iis, jjs, ws = [], [], [], []
    for kind, arr in blocks.items():
        arr = np.asarray(arr, dtype=np.float64)
        rows, cols = (1, arr.shape[0]) if arr.ndim == 1 else arr.shape
        kinds += [kind] * arr.size
        iis.append(np.repeat(np.arange(rows, dtype=np.int32), cols))
        jjs.append(np.tile(np.arange(cols, dtype=np.int32), rows))
        ws.append(arr.ravel())
    if loglik is not None:
        kinds.append(KIND_LOGLIK)
        iis.append(np.zeros(1, dtype=np.int32))
        jjs.append(np.zeros(1, dtype=np.int32))
        ws.append(np.array([loglik], dtype=np.float64))
    out = pd.DataFrame(
        {"kind": kinds, "i": np.concatenate(iis), "j": np.concatenate(jjs),
         "weight": np.concatenate(ws)}
    )
    if key is not None:
        out.insert(0, "key", key)
    return out


def block_shapes(blocks: dict[str, np.ndarray]) -> dict[str, tuple[int, ...]]:
    """The kinds and shapes of named blocks: what :func:`decode` fills."""
    return {kind: np.shape(arr) for kind, arr in blocks.items()}


def stripe_table(rows, value: str = "weight") -> pa.Table:
    """Stripe rows as an Arrow table: an Arrow table as is, a pandas frame,
    or a sequence of Spark Rows, dicts or ``(kind, i, j, value)`` tuples,
    with the cell value in column ``value``."""
    if isinstance(rows, pa.Table):
        return rows
    if isinstance(rows, pd.DataFrame):
        return pa.Table.from_pandas(rows, preserve_index=False)
    names = ("kind", "i", "j", value)
    return pa.Table.from_pylist(
        [r.asDict() if isinstance(r, Row) else r if isinstance(r, dict) else dict(zip(names, r))
         for r in rows],
        pa.schema([("kind", pa.string()), ("i", pa.int64()), ("j", pa.int64()),
                   (value, pa.float64())]),
    )


def decode(
    rows, shapes: dict[str, tuple[int, ...]], value: str = "weight"
) -> tuple[dict[str, np.ndarray], float]:
    """Stripe rows (anything :func:`stripe_table` reads) -> ({kind: array
    of ``shapes[kind]``}, loglik), the blocks in ``shapes`` order.

    Rows of the same cell add up, in row order: the unsummed per-partition
    stripes :func:`e_step` collects (partition order, so the sum is the same
    on every run) and already-summed rows alike (0.0 + x == x, so those
    decode bit for bit). Absent cells read 0. A row of a kind ``shapes``
    does not list, or outside its block, raises ``ValueError``. The
    ``(loglik, 0, 0, value)`` rows count only when ``shapes`` lists
    ``KIND_LOGLIK`` (shape ``(1,)``), and the loglik reads 0 otherwise, so a
    model table carrying one is rejected.

    A non-finite count array raises ``FloatingPointError`` naming its kind:
    NaN counts (a sequence with probability 0 under the model poisons its
    whole Arrow batch) must never reach an M-step as a plausible-looking
    model. The NaN crosses Arrow as a null, which reads NaN here. The
    loglik may be non-finite."""
    rows = stripe_table(rows, value)
    kinds = pc.dictionary_encode(rows.column("kind")).combine_chunks()
    codes = kinds.indices.to_numpy(zero_copy_only=False)
    ii, jj = (rows.column(c).to_numpy().astype(np.int64) for c in ("i", "j"))
    w = rows.column(value).to_numpy()
    out = {kind: np.zeros(shape) for kind, shape in shapes.items()}
    for code, kind in enumerate(kinds.dictionary.to_pylist()):
        arr = out.get(kind)
        if arr is None:
            raise ValueError(f"decode: unexpected stripe kind {kind!r}")
        sel = codes == code
        i, j = ii[sel], jj[sel]
        # 1-D blocks ride on i = 0, so i * cols + j is the flat cell either way
        n_rows, cols = (1, arr.shape[0]) if arr.ndim == 1 else arr.shape
        if ((i < 0) | (i >= n_rows) | (j < 0) | (j >= cols)).any():
            raise ValueError(f"decode: {kind!r} cell outside its block shape {arr.shape}")
        np.add.at(arr.reshape(-1), i * cols + j, w[sel])
    ll = out.pop(KIND_LOGLIK, np.zeros(1))
    for kind, arr in out.items():
        if not np.isfinite(arr).all():
            raise FloatingPointError(
                f"non-finite {kind!r} EM statistics: a sequence with zero "
                "probability under the model, or a NaN input, reached the E-step"
            )
    return out, float(ll[0])


def sum_stripes(raw: DataFrame, *by: str) -> DataFrame:
    """The stripe sum (reference combiner + reducer) as a Catalyst
    aggregate: per-batch stripe rows -> one summed row per
    ``(*by, kind, i, j)``. The trainers sum on the driver instead
    (:func:`e_step`); this serves the re-estimation faces, which return the
    summed frame itself.

    A NaN weight crosses the Arrow boundary out of the UDF as null, and
    ``sum`` skips nulls, so a poisoned batch would silently drop out of the
    total. The weight is turned back into NaN before the sum, which then
    carries it to :func:`decode`."""
    weight = F.coalesce(F.col("weight"), F.lit(float("nan")))
    return raw.groupBy(*by, "kind", "i", "j").agg(F.sum(weight).alias("weight"))


def keyed_stripes(
    inp: DataFrame,
    bc_models,
    parse: Callable[[pd.DataFrame], Any],
    zeros: Callable[[Any], dict[str, np.ndarray]],
    accumulate: Callable[[Any, Any, dict[str, np.ndarray], float], float],
    by: str | None = None,
) -> DataFrame:
    """The E-step every trainer runs (reference mapper M2-M6 with the
    in-mapper combine its driver left off, BaumWelchCombiner.java): one
    ``mapInPandas`` over ``inp`` whose partitions each emit one stripe block
    per key (:func:`encode` with ``key``), in ``STRIPE_SCHEMA``.

    ``bc_models.value`` is {key: payload}. Without ``by``, every key's
    payload runs over every Arrow batch (a single fit is one key; restarts
    and model selection are many, and their block shapes may differ). With
    ``by``, each row runs under the payload of its own ``by`` value, or of
    the default key ``None`` when the dict lacks that value; rows with
    neither are skipped, which is how a converged group leaves the loop. A
    null ``by`` value raises ``ValueError``: it names no model.

    ``parse(batch)`` turns a batch's rows into the E-step's input, or None
    when they hold no data; ``zeros(payload)`` makes a key's zero blocks;
    ``accumulate(payload, data, blocks, ll)`` adds the data's statistics
    into ``blocks`` and returns ``ll`` plus its loglik. A partition emits a
    key only if some batch held data for it."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        models = bc_models.value
        acc: dict[str, tuple[dict[str, np.ndarray], float]] = {}
        for pdf in batches:
            if by is None:
                parts = [(models, pdf)]
            else:
                if pdf[by].isna().any():
                    raise ValueError(f"null {by!r} key: every row needs a model key")
                parts = [((key,), sub) for key, sub in pdf.groupby(by, sort=False)]
            for keys, sub in parts:
                live = [(k, models.get(k, models.get(None))) for k in keys]
                live = [(k, p) for k, p in live if p is not None]
                data = parse(sub) if live else None
                if data is None:
                    continue
                for key, payload in live:
                    blocks, ll = acc[key] if key in acc else (zeros(payload), 0.0)
                    acc[key] = (blocks, accumulate(payload, data, blocks, ll))
        if acc:
            yield pd.concat(
                [encode(blocks, ll, key=key) for key, (blocks, ll) in acc.items()],
                ignore_index=True,
            )

    return inp.mapInPandas(compute, schema=STRIPE_SCHEMA)


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Yield ``df`` persisted for repeated passes. A cache the caller
    manages is used as is and left alone; otherwise the frame is persisted
    here and unpersisted on exit."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        yield df
        return
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()


@dataclass
class FitResult:
    model: Any  # HMM or GaussianHMM
    loglik_trace: list[float]
    iterations: int
    converged: bool


def e_step(
    spark: SparkSession,
    data: DataFrame,
    models: dict[str, Any],
    estep: Callable[[DataFrame, Any], DataFrame],
    payload: Callable[[Any], Any],
    shapes: Callable[[Any], dict[str, tuple[int, ...]]],
) -> dict[str, tuple[dict[str, np.ndarray], float]]:
    """One E-step round trip: broadcast ``{key: payload(model)}``, collect
    ``estep(data, bc)`` (a :func:`keyed_stripes` frame) with ``toArrow``
    (one job, one stage, no shuffle), and decode each key's rows into
    ``shapes(model)`` in partition order -> {key: (blocks, loglik)}. A key
    without rows reads zero blocks and loglik 0; a stripe key ``models``
    does not hold raises ``ValueError``."""
    bc = spark.sparkContext.broadcast({key: payload(m) for key, m in models.items()})
    try:
        stripes = estep(data, bc).toArrow()
    finally:
        bc.unpersist()
    keys = stripes.column("key")
    unknown = set(pc.unique(keys).to_pylist()) - set(models)
    if unknown:
        raise ValueError(f"decode: stripes for unknown keys {sorted(map(str, unknown))}")
    return {
        key: decode(stripes.filter(pc.equal(keys, key)), {**shapes(m), KIND_LOGLIK: (1,)})
        for key, m in models.items()
    }


def run_em(
    spark: SparkSession,
    corpus: DataFrame,
    models: dict[str, Any],
    estep: Callable[[DataFrame, Any], DataFrame],
    payload: Callable[[Any], Any],
    mstep: Callable[[Any, dict[str, np.ndarray]], Any],
    shapes: Callable[[Any], dict[str, tuple[int, ...]]],
    max_iter: int,
    tol: float,
    model_out: str | None = None,
) -> dict[str, FitResult]:
    """The distributed EM loop (reference driver D2,
    BaumWelchDriver.java:114-134) over keyed models -> {key: FitResult}.
    Per iteration, one :func:`e_step` round trip over the cached corpus for
    the keys still active, then per key ``mstep(model, blocks)`` as its next
    model. A key stops once its model moves less than ``tol``
    (``model.distance``, the reference's D4 test) and leaves the next
    broadcast; ``tol=0`` runs all ``max_iter`` laps. Each trace holds the
    key's loglik per iteration, under the model that iteration started
    from. ``model_out`` (a one-key run only) gets each iteration's model at
    ``{model_out}/model-{it}`` (reference S3/S4 sinks,
    BaumWelchDriver.java:128,178).

    Driver bound: an iteration collects at most partitions x active keys x
    (cells + 1) rows, cells being a key's block cells (N + N^2 + N*M for a
    discrete model) and 1 its loglik row. ``hmm_fit_grouped_dist``'s 3
    groups (N=3, M=5: 27 cells) over its 4-partition corpus, at sf0.01 and
    sf0.1 alike, are 4 x 3 x 28 = 336 rows, 12 KiB of Arrow, per
    iteration."""
    if model_out is not None and len(models) != 1:
        raise ValueError("run_em: model_out needs a one-key run")
    fits = {key: FitResult(model, [], 0, False) for key, model in models.items()}
    with cached(corpus) as data:
        for it in range(max_iter):
            active = {key: f.model for key, f in fits.items() if not f.converged}
            if not active:
                break
            for key, (blocks, ll) in e_step(spark, data, active, estep, payload, shapes).items():
                f = fits[key]
                new_model = mstep(f.model, blocks)
                if model_out is not None:
                    new_model.write(spark, f"{model_out}/model-{it}")
                f.converged = tol > 0 and f.model.distance(new_model) < tol
                f.model, f.iterations = new_model, it + 1
                f.loglik_trace.append(ll)
    return fits


def lap_trace(
    spark: SparkSession,
    sequences: DataFrame,
    model,
    n_iters: int,
    reestimate: Callable[[DataFrame, Any], DataFrame],
    next_model: Callable[[list], Any],
    value: str,
) -> DataFrame:
    """Chained EM laps as one tidy trace ``(iter, kind, i, j, <value>)``:
    lap k+1 runs ``reestimate`` under ``next_model`` of lap k's collected
    rows (modelOut -> modelIn, BaumWelchDriver.java:114-134). The corpus is
    built once (a lazy local checkpoint), and laps before the last come
    back as literal frames of the rows the hand-off collects anyway."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    if n_iters > 1:
        sequences = sequences.localCheckpoint(eager=False)
    schema = f"iter int, kind string, i int, j int, {value} double"
    frames = []
    for it in range(1, n_iters + 1):
        step = reestimate(sequences, model)
        if it == n_iters:
            frames.append(step.select(F.lit(it).alias("iter"), "kind", "i", "j", value))
        else:
            rows = step.collect()
            frames.append(
                spark.createDataFrame([(it, r.kind, r.i, r.j, r[value]) for r in rows], schema)
            )
            model = next_model(rows)
    return reduce(DataFrame.unionByName, frames)
