"""Benchmark of EM training and decoding, end to end and layer by layer.

    python3 perfbench/run.py --workload fit_driver_bound --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run is one workload in its own
process: it generates (or reuses) the seeded ``events.parquet`` for the
workload under ``perfbench/_work/data``, sets up the Spark session and the
cached corpus, repeats the workload's calls for ``--seconds``, checks every
output, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and writes
the spans to ``perfbench/_work/traces``. Workloads and metrics are listed
in ``BENCHMARK.json``; their definitions are in ``perfbench/workloads.py``.

The Spark shape is set here, not inherited: ``local[nproc]`` with one BLAS
thread per process, so the load is one process with no more task threads
than cores. Every file the run writes stays under ``perfbench/_work``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")


def _prepare_env(tmp: str) -> None:
    """Process environment for the JVM and the Python workers it starts;
    must run before NumPy or PySpark is imported."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _stop_spark() -> None:
    """Stop the active Spark context, if any, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


_PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make every orphaned descendant (the Python worker daemon once the JVM
    has gone, say) a child of this process, so that :func:`_reap_children`
    can wait for all of them."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _child_pids() -> list:
    me, pids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            pids.append(int(name))
    return pids


def _reap_children(grace_s: float = 10.0) -> None:
    """Wait until no child (and so, as a subreaper, no descendant) of this
    process is left: give them ``grace_s`` to exit, then terminate, then
    kill what remains."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in _child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = now + 5.0
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import baum_welch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here: {e}", file=sys.stderr)
        return 2

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    _prepare_env(tmp)

    import numpy
    import pyarrow
    import pyspark

    from perfbench.gen import events_dir
    from perfbench.trace import PeakRss
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))

    # input generation runs in its own process, outside set-up time and
    # outside the measured process tree's memory
    t_gen = time.perf_counter()
    gen = subprocess.run([
        sys.executable, "-c",
        "import sys; from perfbench.gen import ensure_events; "
        "from perfbench.workloads import WORKLOADS; "
        "ensure_events(WORKLOADS[sys.argv[1]].corpus, int(sys.argv[2]), sys.argv[3])",
        wl.name, str(args.seed), os.path.join(WORK, "data"),
    ], cwd=ROOT)
    if gen.returncode != 0:
        print(f"perfbench: input generation failed ({gen.returncode})", file=sys.stderr)
        return 1
    gen_s = time.perf_counter() - t_gen
    sf_dir = events_dir(wl.corpus, args.seed, os.path.join(WORK, "data"))

    run = Run(wl, args.seed, args.seconds, bool(args.trace), cpus)
    try:
        with PeakRss() as rss:
            pre_session_s = time.perf_counter() - T_START - gen_s
            run.start(sf_dir)
            setup_s = run.setup_s(pre_session_s)
            run.measure()
        run.check()
        if args.trace:
            run.probe()
        p = run.props
        print(f"perfbench: workload={wl.name} seed={args.seed} trace={args.trace} "
              f"cpus={cpus} partitions={run.partitions} pyspark={pyspark.__version__} "
              f"numpy={numpy.__version__} pyarrow={pyarrow.__version__}")
        print(f"perfbench: input sequences={p['sequences']} symbols={p['symbols']} "
              f"max_t={p['max_t']} share_symbols_t_ge_512={p['share_symbols_t_ge_512']:.4f} "
              f"N={wl.n_hidden} M={wl.corpus.n_observed}")
        print(f"perfbench: reps={len(run.reps)} "
              f"rep_wall_s={[round(r['wall_s'], 3) for r in run.reps]} "
              f"iteration_samples={len(run.samples())} "
              f"session_s={run.setup['session_s']:.3f} "
              f"build_s={[round(b, 3) for b in run.setup['build_s']]} "
              f"warmup_s={run.setup['warmup_s']:.3f} gen_s={gen_s:.3f} "
              f"ops_failed_ratio={run.failed / max(run.attempted, 1):.6f}")
        for problem in run.problems:
            print(f"perfbench: FAILED {problem}")
        if args.trace:
            metrics = {k: (v, _LAYER_UNITS[k]) for k, v in run.per_layer(rss.peak).items()}
            run.tracer.write(os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))
        else:
            metrics = run.end_to_end(setup_s)
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }))
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


_LAYER_UNITS = {
    "session.start_s": "s",
    "sequences.build_s": "s",
    "sequences.shuffle_write_bytes": "bytes",
    "sequences.partitions": "count",
    "memory.peak_rss_mb": "MiB",
    "fit.jobs_per_iter": "count",
    "fit.stages_per_iter": "count",
    "fit.tasks_per_iter": "count",
    "fit.shuffle_write_bytes_per_iter": "bytes",
    "fit.driver_gap_s_per_iter": "s",
    "fit.job_busy_s_per_iter": "s",
    "fit.exec_run_s_per_iter": "s",
    "fit.exec_cpu_s_per_iter": "s",
    "fit.py_worker_s_per_iter_derived": "s",
    "fit.task_max_over_median": "ratio",
    "kernel.e_step_symbols_per_s": "symbols/s",
    "kernel.m_step_s": "s",
    "kernel.forward_backward_symbols_per_s": "symbols/s",
    "decode.viterbi_s": "s",
    "decode.score_s": "s",
    "decode.exec_run_s": "s",
    "decode.tasks": "count",
    "trace.overhead_pct": "%",
}

if __name__ == "__main__":
    _become_subreaper()
    try:
        code = main()
    finally:
        _reap_children()
    sys.exit(code)
