"""The EM oracles' lap identities on DuckDB, no Spark: every oracle is built
from the same lap generator (decode._lap_ctes / _gamma_xi_ctes /
_pivot_cte), so a chained trace's first lap must reproduce the single-lap
oracle row for row, and the discrete chain's lap 2 the single lap under
lap 1's own rounded output."""

import duckdb
import numpy as np
import pytest

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.fit import em_reestimate_oracle_sql, em_trace_oracle_sql
from baum_welch_spark.hmm.gaussian import (
    GaussianHMM,
    gauss_loglik_trace_oracle_sql,
    gauss_reestimate_oracle_sql,
    gauss_score_oracle_sql,
    gauss_trace_oracle_sql,
)

@pytest.fixture(scope="module")
def con():
    """A small events table: 12 users of 1-20 events over 5 event types
    (every type present), with a value column for the Gaussian family."""
    rng = np.random.default_rng(3)
    rows, eid = [], 0
    for user in range(12):
        for t in range(1 + (user * 7) % 20):
            rows.append((user, "abcde"[(eid * 3 + user) % 5], t, eid, float(rng.uniform(0, 500))))
            eid += 1
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE events (user_id BIGINT, event_type VARCHAR, ts BIGINT,"
        " event_id BIGINT, value DOUBLE)"
    )
    c.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    yield c
    c.close()


def rows(con, sql: str, drop_iter: int | None = None) -> list[tuple]:
    """The result rows, sorted; with ``drop_iter``, only that lap's rows,
    without their leading iter column."""
    got = con.execute(sql).fetchall()
    if drop_iter is not None:
        got = [r[1:] for r in got if r[0] == drop_iter]
    return sorted(got)


@pytest.mark.parametrize("n_iters", [1, 2])
def test_em_trace_lap_one_is_em_reestimate(con, n_iters):
    model = HMM.random(4, 5, seed=42)
    want = rows(con, em_reestimate_oracle_sql(model))
    assert len(want) == 4 + 16 + 20
    assert rows(con, em_trace_oracle_sql(model, n_iters), drop_iter=1) == want


def test_em_trace_lap_two_is_em_reestimate_of_lap_one(con):
    """The pivoted chain (mw1, bsym1) computes the same doubles as lap 1's
    rounded output embedded as literals."""
    model = HMM.random(4, 5, seed=42)
    trace = em_trace_oracle_sql(model, 2)
    b = {(k, i, j): p for k, i, j, p in rows(con, trace, drop_iter=1)}
    lap1 = HMM(
        pi=np.array([b["initial", 0, j] for j in range(4)]),
        A=np.array([[b["transition", i, j] for j in range(4)] for i in range(4)]),
        B=np.array([[b.get(("emission", i, j), 0.0) for j in range(5)] for i in range(4)]),
    )
    assert rows(con, trace, drop_iter=2) == rows(con, em_reestimate_oracle_sql(lap1))


def test_em_reestimate_one_group_is_em_reestimate(con):
    """The grouped twin with every sequence in one group runs the same lap."""
    model = HMM.random(4, 5, seed=42)
    want = [("all",) + r for r in rows(con, em_reestimate_oracle_sql(model))]
    assert rows(con, em_reestimate_oracle_sql(model, group_expr="'all'")) == want


@pytest.mark.parametrize("n_iters", [1, 2])
def test_gauss_trace_lap_one_is_gauss_reestimate(con, n_iters):
    model = GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    want = rows(con, gauss_reestimate_oracle_sql(model))
    assert len(want) == 4 + 16 + 4 + 4
    assert rows(con, gauss_trace_oracle_sql(model, n_iters), drop_iter=1) == want


def test_gauss_loglik_trace_lap_one_is_gauss_score(con):
    model = GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    want = sorted((s, ll) for s, _, ll, _ in rows(con, gauss_score_oracle_sql(model)))
    assert len(want) == 12
    assert rows(con, gauss_loglik_trace_oracle_sql(model, 2), drop_iter=1) == want
