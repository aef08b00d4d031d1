"""One distributed EM engine for every Baum-Welch trainer.

The reference is one dataflow (BaumWelchDriver.java:114-184): a driver loop
around a forward-backward map (BaumWelchMapper), a stripe sum
(BaumWelchCombiner / BaumWelchReducer) and a convergence test. It lives here
once; ``fit``, ``fit_semisupervised``, ``fit_viterbi`` and ``fit_gaussian``
supply only their E-step frame, broadcast payload and M-step to
:func:`run_em`.

Every E-step UDF combines its partition's statistics into NumPy blocks and
emits them through the stripe codec (:func:`encode`), so one iteration's
stripes are model-sized, O(partitions * N * (N + M)) rows, whatever the
corpus size. :func:`run_em` collects them unsummed over Arrow in one job
and one stage, and :func:`decode` sums them on the driver in partition
order: no shuffle, and the same sum on every run. The Catalyst stripe sum
(:func:`sum_stripes`) serves the callers that need a summed DataFrame.
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

COUNTS_SCHEMA = "kind string, i int, j int, weight double"
GROUPED_COUNTS_SCHEMA = "group string, " + COUNTS_SCHEMA
KIND_LOGLIK = "loglik"  # side-channel row: per-batch partial log-likelihood


def encode(
    blocks: dict[str, np.ndarray], loglik: float | None = None, group: str | None = None
) -> pd.DataFrame:
    """Named blocks -> one stripe frame: every cell of every block as a
    ``(kind, i, j, weight)`` row (in block order, row-major), then the
    ``(loglik, 0, 0, loglik)`` row when ``loglik`` is given. With ``group``
    the frame gets a leading constant ``group`` column."""
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
    if group is not None:
        out.insert(0, "group", group)
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
    stripes :func:`run_em` collects (partition order, so the sum is the same
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
    ``(*by, kind, i, j)``. :func:`run_em` sums on the driver instead; this
    serves the faces that return the summed frame itself and the grouped
    trainer (``grouped.fit_grouped_distributed``).

    A NaN weight crosses the Arrow boundary out of the UDF as null, and
    ``sum`` skips nulls, so a poisoned batch would silently drop out of the
    total. The weight is turned back into NaN before the sum, which then
    carries it to :func:`decode`."""
    weight = F.coalesce(F.col("weight"), F.lit(float("nan")))
    return raw.groupBy(*by, "kind", "i", "j").agg(F.sum(weight).alias("weight"))


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


def run_em(
    spark: SparkSession,
    corpus: DataFrame,
    model,
    estep: Callable[[DataFrame, Any], DataFrame],
    payload: Callable[[Any], Any],
    mstep: Callable[[Any, dict[str, np.ndarray]], Any],
    shapes: dict[str, tuple[int, ...]],
    max_iter: int,
    tol: float,
    model_out: str | None = None,
) -> FitResult:
    """The distributed EM loop (reference driver D2,
    BaumWelchDriver.java:114-134). Per iteration: broadcast
    ``payload(model)``, collect ``estep(corpus, bc)`` (the E-step UDF's
    unsummed per-partition stripe frame) over the cached corpus with
    ``toArrow`` (one job, one stage, no shuffle), sum and decode it into
    ``shapes`` on the driver, and take
    ``mstep(model, blocks)`` as the next model — written to
    ``{model_out}/model-{it}`` when set (reference S3/S4 sinks,
    BaumWelchDriver.java:128,178). Stops once the model moves less than
    ``tol`` (``model.distance``, the reference's D4 test); ``tol=0`` runs
    all ``max_iter`` laps. The trace holds each iteration's loglik row,
    under the model that iteration started from."""
    sc = spark.sparkContext
    trace: list[float] = []
    converged = False
    iterations = 0
    with cached(corpus) as data:
        for it in range(max_iter):
            bc = sc.broadcast(payload(model))
            try:
                stripes = estep(data, bc).toArrow()
            finally:
                bc.unpersist()
            blocks, ll = decode(stripes, {**shapes, KIND_LOGLIK: (1,)})
            trace.append(ll)
            new_model = mstep(model, blocks)
            if model_out is not None:
                new_model.write(spark, f"{model_out}/model-{it}")
            delta = model.distance(new_model)
            model = new_model
            iterations = it + 1
            if tol > 0 and delta < tol:
                converged = True
                break
    return FitResult(model=model, loglik_trace=trace, iterations=iterations, converged=converged)


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
