"""Tests of the benchmark's own logic, on tiny inputs and without Spark:

    python -m pytest perfbench/tests -q
"""

from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from baum_welch_spark.hmm.kernel import batched_baum_welch, sequential_baum_welch
from baum_welch_spark.hmm.model import HMM
from perfbench import checks
from perfbench.gen import Corpus, event_table, sample_lengths
from perfbench.trace import Tracer, split_iterations
from perfbench.workloads import WORKLOADS, Run

TINY = Corpus("tiny", n_sequences=40, n_symbols=900, n_states=3, n_observed=4,
              long_share=0.05, long_min=60, long_max=80)


def _sequences(table) -> list[np.ndarray]:
    """The corpus as build_sequences orders it: per user, by (ts, event_id),
    symbols dense-coded in lexicographic order of event_type."""
    df = table.to_pandas()
    df["event_type"] = df["event_type"].astype(str)
    codes = {name: k for k, name in enumerate(sorted(df["event_type"].unique()))}
    df["sym"] = df["event_type"].map(codes)
    df = df.sort_values(["user_id", "ts", "event_id"])
    return [g["sym"].to_numpy(np.int64) for _, g in df.groupby("user_id", sort=True)]


# -- symbol counting ----------------------------------------------------------


def test_input_properties_counts_symbols_and_long_share():
    props = checks.input_properties(np.array([3, 600, 1, 512, 4]))
    assert props == {
        "sequences": 5,
        "symbols": 1120,
        "max_t": 600,
        "share_symbols_t_ge_512": 1112 / 1120,
    }


def test_generated_corpus_has_the_exact_shape_it_declares():
    table = event_table(TINY, seed=5)
    seqs = _sequences(table)
    lengths = np.array([len(s) for s in seqs])
    assert table.num_rows == lengths.sum() == TINY.n_symbols
    assert len(seqs) == TINY.n_sequences
    assert sorted(lengths) == sorted(sample_lengths(TINY, np.random.default_rng(5)))
    assert (lengths >= TINY.long_min).sum() == 2  # 5% of 40
    assert len({str(x) for x in table["event_type"].to_pylist()}) == TINY.n_observed
    assert table.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_same_seed_same_input_other_seed_other_input():
    a, b, c = event_table(TINY, 1), event_table(TINY, 1), event_table(TINY, 2)
    assert a.equals(b)
    assert not a.equals(c)


# -- iteration split from status-store jobs ------------------------------------


def _job(jid, submit, complete, run_s=1.0, tasks=4):
    return {"id": jid, "submit": submit, "complete": complete, "status": "SUCCEEDED",
            "stages": [{"id": jid, "status": "COMPLETE", "tasks": tasks, "run_s": run_s,
                        "cpu_s": run_s / 4, "shuffle_write_bytes": 100,
                        "task_run_s": [run_s / tasks] * tasks},
                       {"id": 1000 + jid, "status": "SKIPPED", "tasks": 0, "run_s": 0.0,
                        "cpu_s": 0.0, "shuffle_write_bytes": 0}]}


def test_split_iterations_two_jobs_per_iteration():
    # 3 iterations x (E-step job, collect job); driver work between them
    jobs = [_job(0, 10.0, 10.4), _job(1, 10.4, 10.5),
            _job(2, 10.7, 11.0), _job(3, 11.0, 11.1),
            _job(4, 11.3, 11.6), _job(5, 11.6, 11.7)]
    its = split_iterations(jobs, 3, call_end=11.9)
    assert [it["jobs"] for it in its] == [2, 2, 2]
    assert [it["stages"] for it in its] == [2, 2, 2]  # skipped stages do not count
    assert [it["tasks"] for it in its] == [8, 8, 8]
    assert [it["wall_s"] for it in its] == pytest.approx([0.7, 0.6, 0.6])
    assert [it["busy_s"] for it in its] == pytest.approx([0.5, 0.4, 0.4])
    assert [it["gap_s"] for it in its] == pytest.approx([0.2, 0.2, 0.2])
    assert its[0]["shuffle_write_bytes"] == 200


def test_split_iterations_puts_extra_jobs_before_the_loop():
    jobs = [_job(0, 9.0, 9.5)] + [_job(k, 10.0 + k, 10.5 + k) for k in range(1, 5)]
    its = split_iterations(jobs, 2, call_end=15.0)
    assert [it["jobs"] for it in its] == [3, 2]
    assert its[0]["wall_s"] == pytest.approx(4.0)  # 9.0 -> job 3 at 13.0
    assert its[1]["wall_s"] == pytest.approx(2.0)  # 13.0 -> call end


def test_split_iterations_overlapping_jobs_are_busy_once():
    jobs = [_job(0, 0.0, 1.0), _job(1, 0.5, 1.5)]
    (it,) = split_iterations(jobs, 1, call_end=2.0)
    assert it["busy_s"] == pytest.approx(1.5)
    assert it["gap_s"] == pytest.approx(0.5)


def test_split_iterations_rejects_too_few_jobs():
    with pytest.raises(ValueError):
        split_iterations([_job(0, 0.0, 1.0)], 2, call_end=2.0)


# -- failed-operation accounting -----------------------------------------------


def test_failed_ratio():
    assert checks.failed_ratio(8, 0) == 0.0
    assert checks.failed_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        checks.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        checks.failed_ratio(2, 3)


def test_run_counts_raises_and_rejected_outputs():
    run = Run(WORKLOADS["fit_driver_bound"], seed=1, seconds=1.0, traced=False, cpus=1)
    assert run.op("ok", lambda: 7) == 7
    assert run.op("boom", lambda: 1 / 0) is None
    run.reject("checked", [])
    run.reject("checked", ["bad row"], ops=2)
    assert (run.attempted, run.failed) == (2, 3)
    assert any("ZeroDivisionError" in p for p in run.problems)
    assert any("bad row" in p for p in run.problems)


def test_tracer_records_parents_and_only_when_enabled():
    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner", rep=3):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert t.spans[1]["rep"] == 3 and t.spans[1]["end"] >= t.spans[1]["start"]
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# -- correctness checks -----------------------------------------------------------


def _fit_result(model: HMM, trace):
    return SimpleNamespace(model=model, loglik_trace=list(trace))


def test_check_fit_accepts_em_and_matches_the_reference():
    seqs = _sequences(event_table(TINY, seed=3))
    init = HMM.random(3, 4, seed=3)
    model, trace = sequential_baum_welch(init, seqs, max_iter=6)
    _, ref = batched_baum_welch(init, seqs, max_iter=6)
    assert checks.check_fit(_fit_result(model, trace), 6, ref[-1]) == []


def test_check_fit_rejects_a_nan_count():
    good = HMM.random(3, 4, seed=1)
    B = good.B.copy()
    B[1, 2] = np.nan
    bad = SimpleNamespace(pi=good.pi, A=good.A, B=B)
    assert checks.check_fit(_fit_result(bad, [-10.0, -9.0]), 2)
    assert checks.check_fit(_fit_result(good, [-10.0, np.nan]), 2)


def test_check_fit_rejects_broken_em_invariants():
    m = HMM.random(3, 4, seed=1)
    assert checks.check_fit(_fit_result(m, [-10.0, -11.0]), 2)  # decreasing
    assert checks.check_fit(_fit_result(m, [-10.0]), 2)  # iteration missing
    assert checks.check_fit(_fit_result(m, [-10.0, -9.0]), 2, reference_loglik=-9.001)
    off = SimpleNamespace(pi=m.pi, A=m.A * 1.01, B=m.B)
    assert checks.check_fit(_fit_result(off, [-10.0, -9.0]), 2)  # not stochastic


def _decoded(lengths: pd.Series):
    rng = np.random.default_rng(0)
    ids = lengths.index.to_numpy()
    score = -np.asarray(lengths, dtype=float) * 1.3
    viterbi = pd.DataFrame({
        "seq_id": ids,
        "loglik": score - rng.random(len(ids)),
        "path": [rng.integers(0, 3, size=t).astype(np.int32) for t in lengths],
    })
    scores = pd.DataFrame({"seq_id": ids, "t_len": lengths.to_numpy(np.int32),
                           "loglik": score, "avg_loglik": score / lengths.to_numpy()})
    return viterbi, scores


LENGTHS = pd.Series([3, 1, 5, 2], index=pd.Index([11, 12, 13, 14], name="seq_id"))


def test_check_decode_accepts_consistent_outputs():
    v, s = _decoded(LENGTHS)
    assert checks.check_decode(v.sample(frac=1, random_state=1), s, LENGTHS, 3) == []


def test_check_decode_rejects_a_missing_row():
    v, s = _decoded(LENGTHS)
    assert checks.check_decode(v.iloc[1:], s, LENGTHS, 3)
    assert checks.check_decode(v, pd.concat([s, s.iloc[:1]]), LENGTHS, 3)  # duplicate


def test_check_decode_rejects_viterbi_above_score():
    v, s = _decoded(LENGTHS)
    v.loc[2, "loglik"] = s.loc[2, "loglik"] + 1e-3
    assert checks.check_decode(v, s, LENGTHS, 3)


def test_check_decode_rejects_non_finite_and_bad_paths():
    v, s = _decoded(LENGTHS)
    s.loc[0, "loglik"] = np.nan
    assert checks.check_decode(v, s, LENGTHS, 3)
    v, s = _decoded(LENGTHS)
    v.at[1, "path"] = np.array([0, 1], dtype=np.int32)  # T is 1
    assert checks.check_decode(v, s, LENGTHS, 3)
    v, s = _decoded(LENGTHS)
    v.at[0, "path"] = np.array([0, 3, 1], dtype=np.int32)  # state 3 of 3
    assert checks.check_decode(v, s, LENGTHS, 3)
