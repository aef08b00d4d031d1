"""HMM parameter container and (de)serialization.

Capability parity with the reference's model layer:
  * ``HmmModel`` + ``HmmUtils.validate``  (BaumWelchUtils.java:56-125, used at
    BaumWelchMapper.java:89-92)            -> :class:`HMM` + :meth:`HMM.validate`
  * ``BuildRandomModel``                   (BaumWelchUtils.java:127-134) -> :meth:`HMM.random`
  * ``BuildHmmModelFromDistributions``     (BaumWelchUtils.java:136-145) -> :meth:`HMM.from_distributions`
  * stripe-encoded SequenceFile model IO   (BaumWelchUtils.java:147-226) -> tidy
    DataFrame ``(kind, i, j, prob)`` + Parquet through the shared stripe
    codec (``em.encode`` / ``em.decode``): :meth:`HMM.to_rows` /
    :meth:`HMM.from_rows` / :meth:`HMM.write` / :meth:`HMM.read`

Unlike the reference's stripe keys (single-character state IDs,
``BaumWelchUtils.java:100-111`` — breaks at N >= 10 states), the tidy schema
uses integer columns and has no state-count ceiling.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from baum_welch_spark.hmm.em import block_shapes, decode, encode, stripe_table

MODEL_SCHEMA = "kind string, i int, j int, prob double"

KIND_INITIAL = "initial"
KIND_TRANSITION = "transition"
KIND_EMISSION = "emission"


@dataclass
class HMM:
    """λ = (π, A, B): row-stochastic parameters of a discrete HMM.

    pi : (N,)   initial state distribution
    A  : (N, N) transition matrix, A[i, j] = P(s_{t+1}=j | s_t=i)
    B  : (N, M) emission matrix,   B[i, k] = P(o_t=k | s_t=i)
    """

    pi: np.ndarray
    A: np.ndarray
    B: np.ndarray
    hidden_names: list[str] = field(default_factory=list)
    observed_names: list[str] = field(default_factory=list)

    @property
    def n_hidden(self) -> int:
        return self.pi.shape[0]

    @property
    def n_observed(self) -> int:
        return self.B.shape[1]

    def validate(self, atol: float = 1e-6) -> "HMM":
        """Stochastic-matrix invariants (reference: HmmUtils.validate call sites
        BaumWelchMapper.java:92, BaumWelchUtils.java:123,132,143; invariants
        documented at BaumWelchModel.java:57-82)."""
        n, m = self.n_hidden, self.n_observed
        if self.pi.shape != (n,) or self.A.shape != (n, n) or self.B.shape != (n, m):
            raise ValueError(
                f"shape mismatch: pi{self.pi.shape} A{self.A.shape} B{self.B.shape}"
            )
        for name, arr in (("pi", self.pi), ("A", self.A), ("B", self.B)):
            if np.any(arr < -atol):
                raise ValueError(f"{name} has negative entries")
        if not np.isclose(self.pi.sum(), 1.0, atol=atol):
            raise ValueError(f"pi sums to {self.pi.sum()}, not 1")
        for name, mat in (("A", self.A), ("B", self.B)):
            sums = mat.sum(axis=1)
            if not np.allclose(sums, 1.0, atol=atol):
                raise ValueError(f"{name} row sums {sums} != 1")
        return self

    # -- constructors -------------------------------------------------------

    @staticmethod
    def random(n_hidden: int, n_observed: int, seed: int | None = None) -> "HMM":
        """Seeded random row-stochastic init (reference: BuildRandomModel,
        BaumWelchUtils.java:127-134)."""
        rng = np.random.default_rng(seed)

        def stochastic(*shape: int) -> np.ndarray:
            x = rng.random(shape) + 0.1  # bound away from 0 for numeric safety
            return x / x.sum(axis=-1, keepdims=True)

        return HMM(
            pi=stochastic(n_hidden),
            A=stochastic(n_hidden, n_hidden),
            B=stochastic(n_hidden, n_observed),
        ).validate()

    @staticmethod
    def bakis_mask(n_hidden: int, bandwidth: int = 2) -> np.ndarray:
        """Left-to-right (Bakis) transition topology mask (Rabiner 1989 §IV.b):
        state i may reach only itself and the next ``bandwidth`` states —
        ``mask[i, j] = (i <= j <= i + bandwidth)``. The final state is
        absorbing (only the diagonal is allowed on the last row)."""
        if bandwidth < 1:
            raise ValueError("bandwidth must be >= 1")
        idx = np.arange(n_hidden)
        return (idx[None, :] >= idx[:, None]) & (idx[None, :] <= idx[:, None] + bandwidth)

    @staticmethod
    def random_masked(
        n_hidden: int,
        n_observed: int,
        mask: np.ndarray,
        seed: int | None = None,
        left_to_right_pi: bool = True,
    ) -> "HMM":
        """Seeded random init respecting a transition topology mask: masked
        A entries are exactly 0 and each row renormalizes over its allowed
        entries. With ``left_to_right_pi`` the chain starts in state 0
        (pi = e_0, the Bakis convention); EM preserves both kinds of
        structural zero because every masked entry's expected count carries
        a factor of the zero parameter itself (SURVEY §2.7 extension)."""
        mask = np.asarray(mask, dtype=bool)
        if mask.shape != (n_hidden, n_hidden):
            raise ValueError(f"mask shape {mask.shape} != ({n_hidden}, {n_hidden})")
        if not mask.any(axis=1).all():
            raise ValueError("every state needs at least one allowed transition")
        base = HMM.random(n_hidden, n_observed, seed=seed)
        A = np.where(mask, base.A, 0.0)
        A = A / A.sum(axis=1, keepdims=True)
        pi = base.pi
        if left_to_right_pi:
            pi = np.zeros(n_hidden)
            pi[0] = 1.0
        return HMM(pi=pi, A=A, B=base.B).validate()

    @staticmethod
    def uniform(n_hidden: int, n_observed: int) -> "HMM":
        return HMM(
            pi=np.full(n_hidden, 1.0 / n_hidden),
            A=np.full((n_hidden, n_hidden), 1.0 / n_hidden),
            B=np.full((n_hidden, n_observed), 1.0 / n_observed),
        ).validate()

    @staticmethod
    def from_distributions(pi, A, B, hidden_names=None, observed_names=None) -> "HMM":
        """Caller-supplied literals (reference: BuildHmmModelFromDistributions,
        BaumWelchUtils.java:136-145)."""
        return HMM(
            pi=np.asarray(pi, dtype=np.float64),
            A=np.asarray(A, dtype=np.float64),
            B=np.asarray(B, dtype=np.float64),
            hidden_names=list(hidden_names or []),
            observed_names=list(observed_names or []),
        ).validate()

    # -- stripe codec -------------------------------------------------------

    def blocks(self) -> dict[str, np.ndarray]:
        """(pi, A, B) as the stripe codec's named blocks (``em.encode``), in
        row order — the discrete family's one block layout, shared by the
        model table and the E-step's count stripes."""
        return {KIND_INITIAL: self.pi, KIND_TRANSITION: self.A, KIND_EMISSION: self.B}

    @staticmethod
    def from_blocks(blocks: dict[str, np.ndarray]) -> "HMM":
        """The HMM of :meth:`blocks`' layout, unvalidated (rounded model rows
        sum to 1 only within ~2e-6)."""
        return HMM(pi=blocks[KIND_INITIAL], A=blocks[KIND_TRANSITION], B=blocks[KIND_EMISSION])

    def to_rows(self) -> pd.DataFrame:
        """The tidy ``(kind, i, j, prob)`` model rows: :meth:`blocks` through
        ``em.encode`` (replaces the stripe SequenceFile,
        BaumWelchUtils.java:147-226)."""
        return encode(self.blocks()).rename(columns={"weight": "prob"})

    @staticmethod
    def from_rows(rows, n_hidden: int | None = None, n_observed: int | None = None) -> "HMM":
        """Rebuild from tidy ``(kind, i, j, prob)`` rows through ``em.decode``
        (reference: CreateHmmModel, BaumWelchUtils.java:56-125 — minus the
        charAt() key surgery). ``rows`` is anything ``em.stripe_table``
        reads; a row of any other kind raises ``ValueError``."""
        rows = stripe_table(rows, "prob")
        last = rows.to_pandas().groupby("kind")["j"].max()
        n = n_hidden or 1 + int(last[KIND_INITIAL])
        m = n_observed or 1 + int(last[KIND_EMISSION])
        blocks, _ = decode(rows, block_shapes(HMM.uniform(n, m).blocks()), "prob")
        return HMM.from_blocks(blocks).validate()

    # -- Spark / Parquet ----------------------------------------------------

    def to_df(self, spark):
        """Tidy model DataFrame with the pinned MODEL_SCHEMA."""
        return spark.createDataFrame(self.to_rows(), schema=MODEL_SCHEMA)

    def write(self, spark, path: str) -> None:
        """Model sink (reference: WriteModelToDirectory, BaumWelchUtils.java:147-226;
        per-iteration overwrite, BaumWelchDriver.java:128,178)."""
        self.to_df(spark).coalesce(1).write.mode("overwrite").parquet(path)

    @staticmethod
    def read(spark, path: str) -> "HMM":
        """Model scan (reference: CreateHmmModel glob+filter, BaumWelchUtils.java:56-125).
        The model is tiny (N^2 + N*M doubles) so collect() to NumPy is correct."""
        return HMM.from_rows(spark.read.parquet(path).collect())

    def to_json(self) -> str:
        return json.dumps(
            {
                "num_hidden": self.n_hidden,
                "num_observed": self.n_observed,
                "hidden_names": self.hidden_names,
                "observed_names": self.observed_names,
                "pi": self.pi.tolist(),
                "A": self.A.tolist(),
                "B": self.B.tolist(),
            }
        )

    @staticmethod
    def from_json(s: str) -> "HMM":
        d = json.loads(s)
        return HMM.from_distributions(
            d["pi"], d["A"], d["B"], d.get("hidden_names"), d.get("observed_names")
        )

    def distance(self, other: "HMM") -> float:
        """Convergence metric: ||A-A'||_F + ||B-B'||_F (reference: isConverged,
        BaumWelchDriver.java:196-207 / CheckConvergence, BaumWelchUtils.java:237-266;
        pi intentionally not compared, matching the published semantics)."""
        return float(
            np.linalg.norm(self.A - other.A) + np.linalg.norm(self.B - other.B)
        )
