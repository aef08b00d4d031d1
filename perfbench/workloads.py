"""The three workloads, and what one run of a workload measures.

A run sets up (session, corpus built and cached several times, warm-up),
then repeats the workload's measured calls until ``seconds`` have passed,
then checks every output. All calls go through the public path that
``cli train`` / ``cli decode`` take:

    session.get_spark -> sources.io.load_table
      -> operators.sequences.build_sequences
      -> hmm.fit.fit | hmm.decode.viterbi_decode + score_sequences

A traced run adds spans, the per-job-group status-store record and one
probe of every layer (including the layers the workload itself does not
use, run once on its corpus), and alternates untraced and traced
repetitions to measure the tracing overhead.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks
from perfbench.gen import Corpus
from perfbench.trace import (
    Tracer, group_jobs, jobs_summary, max_over_median, split_iterations,
)

# times the corpus is built in set-up; set-up time reports the median
SETUP_BUILDS = 3
MIN_REPS = 2
# symbols in the fixed sample the single-thread kernel probes run on
KERNEL_SAMPLE_SYMBOLS = 20_000

EVENTS_SMALL = Corpus("events_small", n_sequences=1_500, n_symbols=100_000,
                      n_states=4, n_observed=5)
EVENTS_LARGE = Corpus("events_large", n_sequences=3_000, n_symbols=300_000,
                      n_states=16, n_observed=16, long_share=0.01)


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: Corpus
    kind: str  # "fit" or "decode"
    n_hidden: int
    fit_iters: int  # EM iterations per measured fit call (fit probe on decode)
    warmup_iters: int = 0
    parity: bool = False  # final loglik against kernel.batched_baum_welch


WORKLOADS = {
    w.name: w for w in (
        # tiny per-iteration kernel work: fixed per-iteration cost (job
        # submission, broadcast, exchange, collect, M-step) dominates
        Workload("fit_driver_bound", EVENTS_SMALL, "fit", n_hidden=4,
                 fit_iters=5, warmup_iters=10, parity=True),
        # the batched E-step inside mapInPandas dominates; a 1% tail of
        # 1000-2000-long sequences exercises octave bucketing and task skew
        Workload("fit_kernel_bound", EVENTS_LARGE, "fit", n_hidden=16,
                 fit_iters=4, warmup_iters=4),
        # same corpus and forward-backward math, read-only, no shuffle
        Workload("decode_score", EVENTS_LARGE, "decode", n_hidden=16,
                 fit_iters=2),
    )
}


def _now() -> float:
    return time.time()


@dataclass
class Run:
    """One process's run of one workload."""

    wl: Workload
    seed: int
    seconds: float
    traced: bool
    cpus: int
    tracer: Tracer = field(init=False)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    reps: list[dict] = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def __post_init__(self):
        self.tracer = Tracer(self.traced)

    # -- operation accounting ---------------------------------------------

    def op(self, name: str, fn):
        """Run one measured operation; a raise counts it as failed."""
        self.attempted += 1
        try:
            with self.tracer.span(name):
                return fn()
        except Exception as e:  # noqa: BLE001 - counted and reported, run goes on
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}")
            return None

    def reject(self, name: str, problems: list[str], ops: int = 1) -> None:
        """Count ``ops`` operations whose output failed a check."""
        if problems:
            self.failed += ops
            self.problems += [f"{name}: {p}" for p in problems]

    def _group(self, group: str) -> None:
        self.sc.setJobGroup(group, f"perfbench {self.wl.name} {group}")

    def _drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # -- set-up -------------------------------------------------------------

    def start(self, sf_dir: str) -> None:
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from baum_welch_spark.hmm.model import HMM
        from baum_welch_spark.operators.sequences import build_sequences
        from baum_welch_spark.session import get_spark
        from baum_welch_spark.sources.io import load_table

        with self.tracer.span("setup"):
            t = _now()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(app_name="perfbench", cpus=self.cpus)
            self.setup["session_s"] = _now() - t
            self.sc = self.spark.sparkContext
            self.sc.setLogLevel("ERROR")

            builds = []
            for r in range(SETUP_BUILDS):
                self._group(f"setup.build{r}")
                t = _now()
                with self.tracer.span("corpus.build", rep=r):
                    with self.tracer.span("sources.io.load_table"):
                        events = load_table(self.spark, sf_dir, "events")
                    with self.tracer.span("operators.sequences.build_sequences"):
                        seqs = build_sequences(events).persist(StorageLevel.MEMORY_AND_DISK)
                    with self.tracer.span("materialize"):
                        seqs.count()
                builds.append(_now() - t)
                if r + 1 < SETUP_BUILDS:
                    seqs.unpersist(blocking=True)
            self.seqs = seqs
            self.setup["build_s"] = builds

        self._group("inputs")
        lens = seqs.select("seq_id", F.size("obs").alias("t")).toPandas()
        self.lengths = lens.set_index("seq_id")["t"].astype(np.int64)
        self.props = checks.input_properties(self.lengths.to_numpy())
        self.partitions = seqs.rdd.getNumPartitions()
        wl = self.wl
        self.model = HMM.random(wl.n_hidden, wl.corpus.n_observed, seed=self.seed)

        with self.tracer.span("setup.warmup"):
            t = _now()
            self._group("warmup")
            if wl.kind == "fit":
                self._fit(wl.warmup_iters)
            else:
                # the warm-up starts with the untimed pass whose outputs
                # check() checks, then runs the measured (noop) path once
                self.decoded = (
                    self.op("hmm.decode.viterbi_decode",
                            lambda: self._decode_df("viterbi").toPandas()),
                    self.op("hmm.decode.score_sequences",
                            lambda: self._decode_df("score").toPandas()),
                )
                self._decode_noop("viterbi")
                self._decode_noop("score")
            self.setup["warmup_s"] = _now() - t

        if self.traced:
            self._drain()
            build = jobs_summary(group_jobs(self.sc, f"setup.build{SETUP_BUILDS - 1}"))
            self.layers["sequences.shuffle_write_bytes"] = build["shuffle_write_bytes"]

    # -- the public calls -------------------------------------------------------

    def _fit(self, iters: int):
        from baum_welch_spark.hmm.fit import fit

        return fit(self.spark, self.seqs, self.model, max_iter=iters)

    def _decode_df(self, which: str):
        from baum_welch_spark.hmm.decode import score_sequences, viterbi_decode

        fn = viterbi_decode if which == "viterbi" else score_sequences
        return fn(self.spark, self.seqs, self.model)

    def _decode_noop(self, which: str) -> None:
        self._decode_df(which).write.format("noop").mode("overwrite").save()

    # -- measured phase ---------------------------------------------------------

    def measure(self) -> None:
        """Repeat the workload's calls while the next one is expected to
        finish within ``seconds`` (at least ``MIN_REPS`` times)."""
        start = _now()
        r = 0
        with self.tracer.span("measure"):
            while r < MIN_REPS or (
                _now() - start + statistics.median(x["wall_s"] for x in self.reps)
                <= self.seconds
            ):
                traced_rep = self.traced and r % 2 == 1
                tracer_on = self.tracer.enabled
                self.tracer.enabled = traced_rep
                with self.tracer.span("rep", rep=r):
                    t0 = _now()
                    rep = self._fit_rep(r, traced_rep) if self.wl.kind == "fit" \
                        else self._decode_rep(r, traced_rep)
                    rep["cost_s"] = _now() - t0
                self.tracer.enabled = tracer_on
                rep["traced"] = traced_rep
                self.reps.append(rep)
                r += 1

    def _fit_rep(self, r: int, detail: bool) -> dict:
        group = f"rep{r}"
        self._group(group)
        t0 = _now()
        res = self.op("hmm.fit.fit", lambda: self._fit(self.wl.fit_iters))
        t1 = _now()
        rep = {"wall_s": t1 - t0, "result": res, "iters": []}
        if res is not None:
            self._drain()
            rep["iters"] = split_iterations(
                group_jobs(self.sc, group, detail=detail, with_tasks=detail),
                self.wl.fit_iters, t1,
            )
        return rep

    def _decode_rep(self, r: int, detail: bool) -> dict:
        rep = {"wall_s": 0.0, "ok": True}
        for which, name in (("viterbi", "hmm.decode.viterbi_decode"),
                            ("score", "hmm.decode.score_sequences")):
            group = f"rep{r}.{which}"
            self._group(group)
            t0 = _now()
            ok = self.op(name, lambda: self._decode_noop(which) or True)
            rep[f"{which}_s"] = _now() - t0
            rep["wall_s"] += rep[f"{which}_s"]
            rep["ok"] = rep["ok"] and bool(ok)
            if detail:
                self._drain()
                rep[f"{which}_jobs"] = jobs_summary(group_jobs(self.sc, group))
        return rep

    # -- correctness (untimed) ----------------------------------------------------

    def check(self) -> None:
        with self.tracer.span("check"):
            if self.wl.kind == "fit":
                ref = self._reference_loglik() if self.wl.parity else None
                for rep in self.reps:
                    if rep["result"] is not None:
                        self.reject("hmm.fit.fit", checks.check_fit(
                            rep["result"], self.wl.fit_iters, ref))
            else:
                v, s = self.decoded
                if v is not None and s is not None:
                    self.reject("decode", checks.check_decode(
                        v, s, self.lengths, self.wl.n_hidden), ops=2)

    def _reference_loglik(self) -> float:
        from baum_welch_spark.hmm.kernel import batched_baum_welch

        self._group("check")
        obs = [np.asarray(o, dtype=np.int64)
               for o in self.seqs.select("obs").toPandas()["obs"]]
        _, trace = batched_baum_welch(self.model, obs, max_iter=self.wl.fit_iters)
        return trace[-1]

    # -- traced-run probes --------------------------------------------------------

    def probe(self) -> None:
        """Per-layer numbers that the measured reps do not give."""
        with self.tracer.span("probe.kernel"):
            self._probe_kernel()
        if self.wl.kind == "fit":
            with self.tracer.span("probe.decode"):
                rep = self._decode_rep(-1, detail=True)
            self._decode_layers([rep])
        else:
            group = "probe.fit"
            self._group(group)
            t0 = _now()
            with self.tracer.span("probe.fit"):
                res = self.op("hmm.fit.fit", lambda: self._fit(self.wl.fit_iters))
            t1 = _now()
            if res is not None:
                self.reject("hmm.fit.fit", checks.check_fit(res, self.wl.fit_iters))
                self._drain()
                its = split_iterations(
                    group_jobs(self.sc, group, with_tasks=True), self.wl.fit_iters, t1)
                self._fit_layers(its)

    def _probe_kernel(self) -> None:
        from pyspark.sql import functions as F

        from baum_welch_spark.hmm.kernel import e_step_counts_batch, forward_backward, m_step

        rng = np.random.default_rng(self.seed)
        ids = self.lengths.index.to_numpy()[rng.permutation(len(self.lengths))]
        take = np.searchsorted(np.cumsum(self.lengths.loc[ids].to_numpy()),
                               KERNEL_SAMPLE_SYMBOLS) + 1
        self._group("probe.kernel")
        sample = self.seqs.filter(F.col("seq_id").isin([int(i) for i in ids[:take]])) \
            .select("obs").toPandas()["obs"]
        obs = [np.asarray(o, dtype=np.int64) for o in sample]
        n_sym = sum(len(o) for o in obs)
        pi, A, B = self.model.pi, self.model.A, self.model.B

        def counts():
            c = (np.zeros_like(pi), np.zeros_like(A), np.zeros_like(B))
            e_step_counts_batch(pi, A, B, obs, *c)
            return c

        def fb():
            for o in obs:
                forward_backward(pi, A, B, o)

        c = counts()
        self.layers["kernel.e_step_symbols_per_s"] = n_sym / _median_call(counts)
        self.layers["kernel.m_step_s"] = _median_call(lambda: m_step(*c), min_total_s=0.2)
        self.layers["kernel.forward_backward_symbols_per_s"] = n_sym / _median_call(fb)

    # -- results ------------------------------------------------------------------

    def setup_s(self, pre_session_s: float) -> float:
        s = self.setup
        return pre_session_s + s["session_s"] + statistics.median(s["build_s"]) + s["warmup_s"]

    def _ok_reps(self, traced: bool = False) -> list[dict]:
        return [r for r in self.reps if r["traced"] == traced
                and (r.get("result") is not None if self.wl.kind == "fit" else r["ok"])]

    def samples(self) -> list[float]:
        """Per-iteration times: EM iterations (fit), decode passes (decode)."""
        if self.wl.kind == "fit":
            return [it["wall_s"] for r in self._ok_reps() for it in r["iters"]]
        return [r["wall_s"] for r in self._ok_reps()]

    def end_to_end(self, setup_s: float) -> dict:
        reps = self._ok_reps()
        passes = self.wl.fit_iters if self.wl.kind == "fit" else 2
        wall = statistics.median(r["wall_s"] for r in reps) if reps else float("nan")
        samples = self.samples()
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "symbols_per_s": (self.props["symbols"] * passes / wall, "symbols/s"),
            "iter_s": (statistics.median(samples) if samples else float("nan"), "s"),
            "iter_p75_s": (_p75(samples), "s"),
            "ops_ok_ratio": (1.0 - checks.failed_ratio(self.attempted, self.failed), "ratio"),
        }

    def per_layer(self, peak_rss_bytes: int) -> dict:
        traced = self._ok_reps(traced=True)
        untraced = self._ok_reps(traced=False)
        if self.wl.kind == "fit":
            self._fit_layers([it for r in traced for it in r["iters"]])
        else:
            self._decode_layers(traced)
        self.layers["session.start_s"] = self.setup["session_s"]
        self.layers["sequences.build_s"] = statistics.median(self.setup["build_s"])
        self.layers["sequences.partitions"] = self.partitions
        self.layers["memory.peak_rss_mb"] = peak_rss_bytes / 2**20
        if traced and untraced:
            t = statistics.median(r["cost_s"] for r in traced)
            u = statistics.median(r["cost_s"] for r in untraced)
            self.layers["trace.overhead_pct"] = (t / u - 1.0) * 100.0
        return self.layers

    def _fit_layers(self, its: list[dict]) -> None:
        def med(key):
            return statistics.median(it[key] for it in its)

        self.layers.update({
            "fit.jobs_per_iter": med("jobs"),
            "fit.stages_per_iter": med("stages"),
            "fit.tasks_per_iter": med("tasks"),
            "fit.shuffle_write_bytes_per_iter": med("shuffle_write_bytes"),
            "fit.driver_gap_s_per_iter": med("gap_s"),
            "fit.job_busy_s_per_iter": med("busy_s"),
            "fit.exec_run_s_per_iter": med("run_s"),
            "fit.exec_cpu_s_per_iter": med("cpu_s"),
            # derived: executor run time the JVM did not spend on CPU,
            # mostly the Python worker behind mapInPandas
            "fit.py_worker_s_per_iter_derived": statistics.median(
                it["run_s"] - it["cpu_s"] for it in its),
            "fit.task_max_over_median": statistics.median(
                max_over_median(it["task_run_s"]) for it in its if it["task_run_s"]),
        })

    def _decode_layers(self, reps: list[dict]) -> None:
        def med(fn):
            return statistics.median(fn(r) for r in reps)

        self.layers.update({
            "decode.viterbi_s": med(lambda r: r["viterbi_s"]),
            "decode.score_s": med(lambda r: r["score_s"]),
            "decode.exec_run_s": med(lambda r: r["viterbi_jobs"]["run_s"] + r["score_jobs"]["run_s"]),
            "decode.tasks": med(lambda r: r["viterbi_jobs"]["tasks"] + r["score_jobs"]["tasks"]),
        })


def _median_call(fn, min_reps: int = 3, min_total_s: float = 0.5) -> float:
    times = []
    start = time.perf_counter()
    while len(times) < min_reps or time.perf_counter() - start < min_total_s:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _p75(samples: list[float]) -> float:
    if len(samples) < 2:
        return samples[0] if samples else float("nan")
    return statistics.quantiles(samples, n=4)[2]
