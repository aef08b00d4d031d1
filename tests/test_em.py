"""The shared EM engine (hmm/em.py): the stripe codec round-trips exactly
and sums per-partition stripes in partition order, non-finite statistics
fail loudly, and every trainer on the shared loop runs one Spark job per
iteration."""

import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.em import KIND_LOGLIK, block_shapes, decode, encode
from baum_welch_spark.hmm.fit import fit
from baum_welch_spark.operators.sequences import build_sequences
from baum_welch_spark.sources.io import load_table

from conftest import SF0001


def _shapes(n_hidden, n_observed):
    """The discrete model's block shapes, plus the loglik row's."""
    return {**block_shapes(HMM.uniform(n_hidden, n_observed).blocks()), KIND_LOGLIK: (1,)}


def _roundtrip(blocks, loglik=None, group=None):
    frame = encode(blocks, loglik, group=group)
    shapes = {**block_shapes(blocks), KIND_LOGLIK: (1,)}
    return frame, decode(frame.to_dict("records"), shapes)


def _assert_bits_equal(got: np.ndarray, want: np.ndarray):
    assert got.shape == want.shape
    assert got.tobytes() == np.asarray(want, dtype=np.float64).tobytes()


# -- codec round trip (no Spark) ---------------------------------------------


def test_codec_roundtrip_discrete_blocks_bit_exact():
    rng = np.random.default_rng(0)
    blocks = {"initial": rng.random(4) * 1e3, "transition": rng.random((4, 4)) / 7,
              "emission": rng.random((4, 6)) ** 9}
    frame, (got, ll) = _roundtrip(blocks, loglik=-12345.678901234567)
    assert list(frame.columns) == ["kind", "i", "j", "weight"]
    assert frame["i"].dtype == np.int32 and frame["j"].dtype == np.int32
    assert len(frame) == 4 + 16 + 24 + 1
    assert frame.iloc[-1].kind == KIND_LOGLIK
    # 1-D blocks ride on i = 0, indexed by j
    init = frame[frame.kind == "initial"]
    assert (init.i == 0).all() and list(init.j) == [0, 1, 2, 3]
    assert ll == -12345.678901234567
    for k, v in blocks.items():
        _assert_bits_equal(got[k], v)


def test_codec_roundtrip_gaussian_moment_blocks_bit_exact():
    rng = np.random.default_rng(1)
    n = 3
    moments = np.column_stack([rng.random(n), rng.normal(size=n) * 1e5, rng.random(n) * 1e11])
    blocks = {"initial": rng.random(n), "transition": rng.random((n, n)), "moment": moments}
    frame, (got, ll) = _roundtrip(blocks, loglik=3.5)
    m = frame[frame.kind == "moment"]
    assert list(m.i) == [0, 0, 0, 1, 1, 1, 2, 2, 2] and list(m.j) == [0, 1, 2] * 3
    assert ll == 3.5
    for k, v in blocks.items():
        _assert_bits_equal(got[k], v)


def test_codec_roundtrip_grouped_blocks_bit_exact():
    rng = np.random.default_rng(2)
    per_group = {
        g: ({"initial": rng.random(2), "transition": rng.random((2, 2)),
             "emission": rng.random((2, 3))}, float(rng.normal()))
        for g in ("seg0", "seg1", "seg2")
    }
    frame = pd.concat(
        [encode(b, ll, group=g) for g, (b, ll) in per_group.items()], ignore_index=True
    )
    assert list(frame.columns) == ["group", "kind", "i", "j", "weight"]
    for g, (blocks, ll) in per_group.items():
        rows = frame[frame.group == g].to_dict("records")
        got, got_ll = decode(rows, {**block_shapes(blocks), KIND_LOGLIK: (1,)})
        assert got_ll == ll
        for k, v in blocks.items():
            _assert_bits_equal(got[k], v)


def test_codec_sparse_model_rows_absent_cells_are_exact_zero():
    """Tidy model rows (the chained-lap hand-off) drop zero cells and carry
    the value in ``prob``; absent cells must decode to exactly 0.0, and a
    missing loglik row to 0.0."""
    rows = [
        {"kind": "initial", "i": 0, "j": 1, "prob": 1.0},
        {"kind": "transition", "i": 0, "j": 0, "prob": 0.25},
        {"kind": "transition", "i": 0, "j": 1, "prob": 0.75},
        {"kind": "transition", "i": 1, "j": 1, "prob": 1.0},
        {"kind": "emission", "i": 1, "j": 2, "prob": 0.123456},
    ]
    got, ll = decode(rows, _shapes(2, 3), "prob")
    assert ll == 0.0
    _assert_bits_equal(got["initial"], np.array([0.0, 1.0]))
    _assert_bits_equal(got["transition"], np.array([[0.25, 0.75], [0.0, 1.0]]))
    want_b = np.zeros((2, 3))
    want_b[1, 2] = 0.123456
    _assert_bits_equal(got["emission"], want_b)
    assert not np.signbit(got["emission"]).any()


def test_decode_rejects_unknown_kind():
    with pytest.raises(ValueError, match="unexpected stripe kind"):
        decode([{"kind": "bogus", "i": 0, "j": 0, "weight": 1.0}], _shapes(2, 2))


@pytest.mark.parametrize("bad", [np.nan, np.inf])
def test_decode_raises_on_non_finite_counts_naming_the_kind(bad):
    frame = encode({"initial": np.ones(2), "transition": np.array([[1.0, bad], [1.0, 1.0]]),
                    "emission": np.ones((2, 2))}, loglik=0.0)
    with pytest.raises(FloatingPointError, match="'transition'"):
        decode(frame.to_dict("records"), _shapes(2, 2))


@pytest.mark.parametrize("cell", [(0, 2), (0, -1), (2, 0), (-1, 1)])
def test_decode_rejects_a_cell_outside_its_block(cell):
    """An out-of-range (i, j) would otherwise land in another cell of the
    flat block (or wrap around from its end) without a trace."""
    i, j = cell
    with pytest.raises(ValueError, match="'transition' cell outside its block shape"):
        decode([{"kind": "transition", "i": i, "j": j, "weight": 1.0}], _shapes(2, 2))
    rows = HMM.uniform(2, 3).to_rows()
    rows.loc[len(rows)] = ["transition", i, j, 0.0]
    with pytest.raises(ValueError, match="cell outside its block shape"):
        HMM.from_rows(rows)


def test_decode_reads_loglik_rows_only_when_listed():
    """A loglik row is a stripe side channel, not a model cell: decode
    rejects it unless the caller lists KIND_LOGLIK among its kinds."""
    rows = [{"kind": "initial", "i": 0, "j": 0, "value": 1.0},
            {"kind": KIND_LOGLIK, "i": 0, "j": 0, "value": -5.0}]
    with pytest.raises(ValueError, match="unexpected stripe kind 'loglik'"):
        decode(rows, {"initial": (1,)}, "value")
    got, ll = decode(rows, {"initial": (1,), KIND_LOGLIK: (1,)}, "value")
    assert ll == -5.0 and list(got) == ["initial"]


def test_model_readers_reject_a_loglik_row(spark, tmp_path):
    """Every model-table reader decodes through the codec without the loglik
    kind, so a loglik row is a corrupt model, not a row to skip."""
    from pyspark.errors import PythonException

    from baum_welch_spark.hmm.gaussian import GaussianHMM
    from baum_welch_spark.hmm.grouped import GROUPED_MODEL_SCHEMA, decode_grouped

    loglik_row = pd.DataFrame({"kind": [KIND_LOGLIK], "i": [0], "j": [0], "prob": [-5.0]})
    rows = pd.concat([HMM.random(2, 3, seed=1).to_rows(), loglik_row], ignore_index=True)
    with pytest.raises(ValueError, match="unexpected stripe kind 'loglik'"):
        HMM.from_rows(rows)

    path = str(tmp_path / "gm")
    GaussianHMM.random(2, seed=1).write(spark, path)
    spark.createDataFrame(
        [(KIND_LOGLIK, 0, 0, -5.0)], schema="kind string, i int, j int, value double"
    ).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="unexpected stripe kind 'loglik'"):
        GaussianHMM.read(spark, path)

    models = spark.createDataFrame(
        rows.rename(columns={"prob": "weight"}).assign(group="g", loglik=0.0, n_seqs=1)
        [["group", "kind", "i", "j", "weight", "loglik", "n_seqs"]],
        schema=GROUPED_MODEL_SCHEMA,
    )
    seqs = spark.createDataFrame(
        [("g", 1, [0, 1, 2])], "group string, seq_id bigint, obs array<int>"
    )
    with pytest.raises(
        PythonException, match="ValueError: decode: unexpected stripe kind 'loglik'"
    ):
        decode_grouped(seqs, models).collect()


def test_decode_allows_non_finite_loglik():
    """A -inf loglik (e.g. a labeled path the model rules out) is a value,
    not corrupted statistics."""
    frame = encode({"initial": np.ones(2)}, loglik=-np.inf)
    _, ll = decode(frame.to_dict("records"), {"initial": (2,), KIND_LOGLIK: (1,)})
    assert ll == -np.inf


# -- driver-side stripe sum (no Spark) ----------------------------------------


def _partition_stripes(n_parts: int, seed: int = 3):
    """Per-partition stripe blocks as the E-step UDFs emit them, and the
    Arrow table of their concatenation in partition order (what
    ``toArrow`` returns for the unsummed frame)."""
    rng = np.random.default_rng(seed)
    parts = [
        ({"initial": rng.random(3) * 10.0 ** rng.integers(-3, 4),
          "transition": rng.random((3, 3)) * 10.0 ** rng.integers(-3, 4),
          "emission": rng.random((3, 4)) ** 7},
         float(rng.normal() * 1e4))
        for _ in range(n_parts)
    ]
    frame = pd.concat([encode(b, ll) for b, ll in parts], ignore_index=True)
    return parts, pa.Table.from_pandas(frame, preserve_index=False)


def test_decode_sums_partitions_in_partition_order_bit_exact():
    parts, table = _partition_stripes(7)
    got, ll = decode(table, _shapes(3, 4))
    want_ll = 0.0
    for _, p_ll in parts:
        want_ll += p_ll
    assert ll == want_ll
    for kind in ("initial", "transition", "emission"):
        want = np.zeros_like(parts[0][0][kind])
        for blocks, _ in parts:
            want = want + blocks[kind]
        _assert_bits_equal(got[kind], want)
    # the same rows as a list of dicts decode to the same bits
    records, rec_ll = decode(table.to_pylist(), _shapes(3, 4))
    assert rec_ll == ll
    for kind, arr in got.items():
        _assert_bits_equal(records[kind], arr)


def test_decode_raises_on_null_weight_from_arrow():
    """A NaN count leaves the E-step UDF through Arrow as a null; the
    decoder must read it back as NaN and raise, not skip it."""
    _, table = _partition_stripes(3)
    w = table.column("weight").to_pylist()
    kinds = table.column("kind").to_pylist()
    w[kinds.index("emission", len(w) // 3)] = None  # in the second partition
    table = table.set_column(
        table.schema.get_field_index("weight"), "weight", pa.array(w, pa.float64())
    )
    with pytest.raises(FloatingPointError, match="'emission'"):
        decode(table, _shapes(3, 4))


def test_decode_reads_an_empty_arrow_table_as_zero():
    """A corpus with no sequences: the E-step emits no stripes at all."""
    table = pa.table(
        {"kind": pa.array([], pa.string()), "i": pa.array([], pa.int32()),
         "j": pa.array([], pa.int32()), "weight": pa.array([], pa.float64())}
    )
    got, ll = decode(table, _shapes(2, 2))
    assert ll == 0.0
    assert all(not arr.any() for arr in got.values())


# -- loud failure on impossible sequences (Spark) -----------------------------


def _impossible(spark, one_batch: bool):
    """[1, 0, 1] under pi = [1, 0], B[0] = [1, 0]: t = 0 must be state 0,
    which never emits symbol 1, so P(O | model) = 0 and the kernel's scaled
    forward pass divides by a zero scale — NaN counts for the whole batch."""
    model = HMM(
        pi=np.array([1.0, 0.0]),
        A=np.full((2, 2), 0.5),
        B=np.array([[1.0, 0.0], [0.5, 0.5]]),
    ).validate()
    seqs = spark.createDataFrame(
        [(1, [1, 0, 1]), (2, [0, 0, 1])], "seq_id bigint, obs array<int>"
    ).repartition(2, "seq_id")
    return model, seqs.coalesce(1) if one_batch else seqs


# one partition: both sequences in one Arrow batch, whose counts all turn
# NaN; default layout: the impossible sequence's batch alone is NaN (its NaN
# rows reach Spark as nulls, which a plain sum would skip)
LAYOUTS = [pytest.param(True, id="one-batch"), pytest.param(False, id="split")]


@pytest.mark.parametrize("one_batch", LAYOUTS)
def test_fit_raises_on_zero_probability_sequence(spark, one_batch):
    model, seqs = _impossible(spark, one_batch)
    with pytest.raises(FloatingPointError, match="non-finite"):
        fit(spark, seqs, model, max_iter=2)


@pytest.mark.parametrize("one_batch", LAYOUTS)
def test_online_update_raises_on_zero_probability_sequence(spark, one_batch):
    from baum_welch_spark.hmm.online import OnlineEM

    model, seqs = _impossible(spark, one_batch)
    state = OnlineEM(model=model)
    with pytest.raises(FloatingPointError, match="non-finite"):
        state.update(spark, seqs)
    assert state.model is model and state.t == 0


@pytest.mark.parametrize("bad", [-1, 5])
def test_fit_estep_raises_on_out_of_range_symbol(spark, bad):
    """fit, OnlineEM.update, em_reestimate and the labeled rows of
    fit_semisupervised fail with the decode operators' ValueError on a
    symbol outside 0..M-1; before, -1 wrapped to the last symbol and M
    failed with a bare IndexError."""
    from pyspark.errors import PythonException

    from baum_welch_spark.hmm.fit import em_reestimate
    from baum_welch_spark.hmm.online import OnlineEM
    from baum_welch_spark.hmm.semisup import fit_semisupervised

    model = HMM.random(2, 5, seed=3)
    seqs = spark.createDataFrame(
        [(1, [0, 1, 2]), (2, [0, bad, 0])], "seq_id bigint, obs array<int>"
    ).coalesce(1)
    labeled = spark.createDataFrame(
        [(1, [0, 1, 2], None), (2, [0, bad], [0, 1])],
        "seq_id bigint, obs array<int>, states array<int>",
    ).coalesce(1)
    runs = {
        "fit": lambda: fit(spark, seqs, model, max_iter=1),
        "online": lambda: OnlineEM(model=model).update(spark, seqs),
        "em_reestimate": lambda: em_reestimate(spark, seqs, model).collect(),
        "semisup_labeled": lambda: fit_semisupervised(spark, labeled, model, max_iter=1),
    }
    for run in runs.values():
        with pytest.raises(PythonException, match=rf"ValueError: observation symbol {bad} .*M=5"):
            run()


def test_fit_is_deterministic_across_partitions(spark):
    """Two fits over the same 4-partition corpus: the driver sums the
    partitions' stripes in partition order, so traces and models agree
    bit for bit."""
    events = load_table(spark, SF0001, "events")
    seqs = build_sequences(events).repartition(4, "seq_id")
    init = HMM.random(3, 5, seed=11)
    a = fit(spark, seqs, init, max_iter=3)
    b = fit(spark, seqs, init, max_iter=3)
    assert seqs.rdd.getNumPartitions() == 4
    assert np.array(a.loglik_trace).tobytes() == np.array(b.loglik_trace).tobytes()
    for attr in ("pi", "A", "B"):
        _assert_bits_equal(getattr(a.model, attr), getattr(b.model, attr))


# -- per-iteration Spark job count --------------------------------------------

# Jobs each trainer on the shared loop launches for max_iter=3 on a cached,
# materialized corpus: one per iteration, the E-step's Arrow collect of its
# unsummed per-partition stripes (the driver sums them; there is no shuffle
# stage). More means a lost cache or an extra action per iteration.
JOBS_3_ITERS = 3
# fit_grouped_distributed keeps the Catalyst stripe sum (its driver volume
# would grow with partitions x groups), so it keeps its count: 3 jobs for
# the group inventory, then a shuffle-map job and a collect per iteration.
GROUPED_JOBS_3_ITERS = 9


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"em-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "EM job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_trainers_launch_no_more_jobs_per_iteration(spark):
    from baum_welch_spark.hmm.gaussian import GaussianHMM, build_value_sequences, fit_gaussian
    from baum_welch_spark.hmm.grouped import fit_grouped_distributed
    from baum_welch_spark.hmm.online import OnlineEM
    from baum_welch_spark.hmm.semisup import fit_semisupervised
    from baum_welch_spark.hmm.viterbi_train import fit_viterbi

    events = load_table(spark, SF0001, "events")
    # the no-op filters keep these plans distinct from frames other test
    # modules cached, so unpersisting them here touches nothing else
    seqs = build_sequences(events).filter(F.col("seq_id") >= -(10**9))
    labeled = seqs.withColumn("states", F.lit(None).cast("array<int>"))
    values = build_value_sequences(events).filter(F.col("seq_id") >= -(10**9))
    frames = [f.persist(StorageLevel.MEMORY_AND_DISK) for f in (seqs, labeled, values)]
    try:
        for f in frames:
            f.count()
        init = HMM.random(3, 5, seed=1)
        ginit = GaussianHMM.random(3, seed=42, lo=0.0, hi=500.0)
        got = {
            "fit": _jobs(spark, lambda: fit(spark, seqs, init, max_iter=3)),
            "fit_semisupervised": _jobs(
                spark, lambda: fit_semisupervised(spark, labeled, init, max_iter=3)
            ),
            "fit_viterbi": _jobs(spark, lambda: fit_viterbi(spark, seqs, init, max_iter=3)),
            "fit_gaussian": _jobs(
                spark, lambda: fit_gaussian(spark, values, ginit, max_iter=3)
            ),
        }
        online = _jobs(spark, lambda: OnlineEM(model=init).update(spark, seqs))
        grouped = _jobs(
            spark,
            lambda: fit_grouped_distributed(
                spark, seqs.withColumn("group", (F.col("seq_id") % 2).cast("string")),
                3, 5, max_iter=3,
            ),
        )
    finally:
        for f in frames:
            f.unpersist()
    assert got == dict.fromkeys(got, JOBS_3_ITERS), got
    assert online == 1
    assert grouped == GROUPED_JOBS_3_ITERS


# -- session default cores (no new session) ----------------------------------


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    import os

    from baum_welch_spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
