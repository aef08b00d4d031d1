"""Source lint: driver-side materialization is only allowed for model-sized
results (VERDICT r1 "What's wrong" #3 — no ``toPandas()``/``collect()`` of a
data-sized table anywhere in the package).

Every ``.collect()`` / ``.toPandas()`` / ``.toArrow()`` call site in
``baum_welch_spark/`` must appear on the explicit allowlist below; adding a new one forces a conscious
review that the materialized result is O(model), never O(data).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "baum_welch_spark"

# file (relative to package) -> allowed call-site count; each site collects
# O(model) rows: seed centroids, k*d stripe sums, query rows, symbol dicts,
# serialized HMM rows, expected-count stripes.
ALLOWED = {
    "operators/clustering.py": {"collect": 3, "toPandas": 0},
    # PCA: d(d+1)/2 covariance rows + d column means — model-sized, like the
    # HMM stripe collect; no embedding row ever reaches the driver
    # (third site: emb_standardize's d-row moment collect)
    "operators/linalg.py": {"collect": 3, "toPandas": 0},
    # logreg: 1-row feature moments + (d+2)-row gradient partials per GD
    # iteration — model-sized driver loop, same shape as hmm/fit.py
    "operators/classifier.py": {"collect": 2, "toPandas": 0},
    # BPE trainer: 1-row argmax pair per merge iteration
    "operators/bpe.py": {"collect": 1, "toPandas": 0},
    # int8 quantizer: d-row per-dimension (min, max) ranges — model-sized
    "operators/quantize.py": {"collect": 1, "toPandas": 0},
    # prepare_training_corpus dq gate: one rule-count-sized report collect
    # (4 rows) — gate semantics, raises instead of emitting a bad corpus
    "operators/corpus.py": {"collect": 1, "toPandas": 0},
    # PQ: n_codes seed rows, m*k*(ds+1) Lloyd partials per iteration, and
    # n_queries query rows for flat-PQ / IVF-PQ / index-served search — all
    # model-sized (the index read loads its model tables with pyarrow)
    "operators/pq.py": {"collect": 5, "toPandas": 0},
    "operators/sequences.py": {"collect": 1, "toPandas": 0},
    "hmm/model.py": {"collect": 1, "toPandas": 0},
    # the one EM loop's per-iteration Arrow collect of the unsummed keyed
    # stripes (partitions x keys x (N^2 + N*M + N + 1) rows; every trainer —
    # fit, fit_restarts, select_n_hidden, fit_grouped_distributed,
    # fit_semisupervised, fit_viterbi, fit_gaussian — and OnlineEM.update
    # run on it) + lap_trace's per-lap chained-model collect (em_trace and
    # ghmm_em_trace, r12/r13 EM-loop pins)
    "hmm/em.py": {"collect": 1, "toPandas": 0, "toArrow": 1},
    # distributed grouped EM: one group-cardinality meta collect (groups
    # bound driver memory by the trainer's own output contract)
    "hmm/grouped.py": {"collect": 1, "toPandas": 0},
    # Gaussian-emission EM: the model-codec read (tidy model rows) +
    # ghmm_loglik_trace's per-lap chained-model collect (r13 EM-loop pin);
    # its fit and ghmm_em_trace run on hmm/em.py
    "hmm/gaussian.py": {"collect": 2, "toPandas": 0},
    # order selection: one 1-row T_total aggregate (fits use fit.py's site)
    "hmm/select.py": {"collect": 1, "toPandas": 0},
    # CLI select: prints the len(candidates)-row score frame as JSON;
    # CLI dq: prints the len(rules)-row violation report and gates on it;
    # CLI prepare: prints the 3-row per-split counts after the write
    "cli.py": {"collect": 3, "toPandas": 0},
    # bucketed CDC: touched-bucket ids (<= n_buckets rows, four sites:
    # merge_batch + agg_delta fallback + the batch-IVM fold + the
    # stream-IVM fold), the faces' distinct order-years (<= #years rows,
    # six sites: apply/IVM/time-travel/CDF/compact/schema-evolution), and
    # the two IVM folds' per-group agg rows (<= #groups) — all bounded,
    # never O(data)
    "streaming/upsert.py": {"collect": 13, "toPandas": 0},  # +1 r10: stream face's distinct-years list (bounded by calendar years)
    # plan-audit tool executes the plan to read AQE's finalized physical plan;
    # diagnostic-only, never in an operator path
    "plans/audit.py": {"collect": 1, "toPandas": 0},
}


# file (relative to package root, __spark_entry__.py included) -> allowed
# F.broadcast() call-site count. RULE (VERDICT r12 #7, generalizing the
# decontaminate 100x stall): a broadcast HINT asserts at plan time that the
# build side fits in executor memory at ANY scale factor — so every hinted
# side must be bounded BY CONSTRUCTION (one-row scalar agg, fixed query/rule
# set, LIMIT-k, sketch-width rows, dimension table), never proportional to
# the corpus. A corpus-derived side (eval n-grams, eval fingerprints)
# must go UNHINTED and let AQE size the build side at runtime — that is
# exactly the class that stalled the 100x board twice (corpus.py
# decontaminate, text.py winnow_spans). Adding a site? Name its bound here.
BROADCAST_ALLOWED = {
    # one-row weight-scale aggs (x2, cross join) + per-group keep list
    "operators/sampling.py": 3,
    # nation/region/supplier dimension legs, one-row scalar aggs (count,
    # avg balance, max revenue), LIMIT-k region keys, per-partition offset
    # list, and q20's threshold frame (per-partkey aggregate of the
    # name-filtered part subset — dimension-scale by the filter)
    "operators/relational.py": 17,
    # fixed query set (cross) — RRF fusion scoring
    "operators/fusion.py": 1,
    # n_queries query rows for PQ serving
    "operators/pq.py": 1,
    # fixed query set (cross) — int8 scoring
    "operators/quantize.py": 1,
    # one-row global max (merge watermark)
    "operators/merge.py": 1,
    # n_queries x n_probe probe list for IVF serving
    "operators/clustering.py": 1,
    # p_brand dimension projection + rule-count-sized ante/cons frames
    "operators/basket.py": 3,
    # one-row min/max range agg (cross) — z-order scaling
    "operators/layout.py": 1,
    # symbol dictionary (distinct event types) x2
    "operators/markov.py": 2,
    # one-row dangling-mass agg per PageRank iteration
    "operators/graph.py": 1,
    # derived partsupp: two one-row scalars (fanout index frame is 4 rows,
    # supplier count 1 row), nation/region/supplier/filtered-part dims,
    # one-row totals, and q16/q20's filtered part-family frames
    "operators/partsupp.py": 14,
    # Bloom bitset as ONE row (m/32-element array, 8 KB by construction),
    # one-row top_lang/n_docs/totals aggs — decontaminate's corpus-derived
    # side is UNHINTED
    "operators/corpus.py": 4,
    # one-row row-count agg + per-returnflag means (#groups rows) x2
    "operators/linalg.py": 3,
    # fixed query sets (brute cross + LSH bucket-join probe side)
    "operators/similarity.py": 2,
    # CMS probe rows (sketch-width-bounded) + fixed member list
    "operators/sketches.py": 2,
    # symbol dictionary (distinct event types)
    "operators/sequences.py": 1,
    # query-term list, per-term df (<= |query terms|), one-row consts
    "operators/retrieval.py": 3,
    # stream-static eval-suite join: streaming plans have no AQE, so the
    # hint is deliberate — bounded by the INPUT CONTRACT (docstring:
    # eval_grams is the benchmark suite's n-grams, static and
    # benchmark-sized), not by corpus-derived construction
    "streaming/neardup.py": 1,
}


def _broadcast_sites(path: Path) -> int:
    tree = ast.parse(path.read_text())
    n = 0
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
        ):
            n += 1
    return n


def test_broadcast_hints_are_bounded_by_construction():
    """Every F.broadcast() site must appear in BROADCAST_ALLOWED with its
    bound named — a new site fails until its build side is argued bounded
    (see the rule comment above; sparkContext.broadcast of model objects
    is a different mechanism and is not counted here)."""
    roots = [PKG, PKG.parent / "__spark_entry__.py"]
    violations = []
    for root in roots:
        paths = sorted(root.rglob("*.py")) if root.is_dir() else [root]
        for path in paths:
            rel = str(path.relative_to(PKG)) if root is PKG else path.name
            # sparkContext.broadcast(model) sites ship pickled models, not
            # join build sides — exclude by only counting F.broadcast
            tree = ast.parse(path.read_text())
            n = 0
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                ):
                    n += 1
            allowed = BROADCAST_ALLOWED.get(rel, 0)
            if n != allowed:
                violations.append(f"{rel}: {n} F.broadcast() sites (allowlisted {allowed})")
    assert not violations, (
        "broadcast-hint sites changed — every hinted build side must be "
        "bounded by construction (one-row agg / fixed set / LIMIT-k / "
        "sketch-width / dimension table); corpus-derived sides go UNHINTED "
        "for AQE (the decontaminate 100x-stall class). Update "
        "BROADCAST_ALLOWED with the bound named:\n" + "\n".join(violations)
    )


KINDS = ("collect", "toPandas", "toArrow")


def _call_sites(path: Path) -> dict[str, int]:
    tree = ast.parse(path.read_text())
    counts = dict.fromkeys(KINDS, 0)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in counts
        ):
            counts[node.func.attr] += 1
    return counts


def test_no_datasized_driver_collects():
    violations = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        counts = _call_sites(path)
        allowed = ALLOWED.get(rel, {})
        for kind in KINDS:
            if counts[kind] > allowed.get(kind, 0):
                violations.append(
                    f"{rel}: {counts[kind]} .{kind}() call sites (allowed {allowed.get(kind, 0)})"
                )
    assert not violations, (
        "driver-side materialization outside the model-sized allowlist "
        "(update tests/test_lint.py ONLY if the new site is O(model) rows):\n"
        + "\n".join(violations)
    )


def test_driver_window_stays_oracle_dense():
    """The driver's correctness harness samples the FIRST 50 queries()
    entries; keep that window packed with DuckDB-exact checks (a rows-only
    face is allowed there only if named below with its non-SQL pin) and
    every oracle key valid."""
    import sys

    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as em

    qs = list(em.queries())
    osql = em.oracle_sql()
    assert len(qs) == len(set(qs))
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    rows_only_in_window = [q for q in qs[:50] if q not in osql]
    # The window carries the batched-decode, posterior and EM-engine blocks:
    # every face whose hash changed when the decode operators moved onto the
    # batch kernels, the posterior operators and the batched E-step took the
    # shared symbol range check, or the trainers moved onto the one EM loop
    # (hmm/em.py). Eleven of them have no SQL oracle; each has its own
    # non-SQL pin:
    assert set(rows_only_in_window) <= {
        # per-group Viterbi decode: paths and logliks equal the single-model
        # broadcast decoder's on each group (tests/test_grouped.py
        # test_decode_grouped_matches_single_model_decoder)
        "grouped_decode",
        # per-group in-task EM: each group's model equals sequential EM on
        # that group's sequences (tests/test_grouped.py
        # test_grouped_fit_matches_per_group_sequential)
        "hmm_fit_grouped",
        # Gaussian EM fit: distributed == sequential NumPy oracle at 1e-8
        # (tests/test_gaussian.py::test_fit_gaussian_matches_sequential_oracle);
        # its chaining and loglik evidence are driver-exact via the
        # ghmm_em_trace / ghmm_loglik_trace faces
        "ghmm_fit",
        # per-iteration TOTAL loglik trace: corpus-order float summation has
        # no cross-engine pin (ghmm_loglik_trace is its per-sequence
        # driver-exact graduation); monotonicity asserted in-face
        "ghmm_trace",
        # discrete soft EM: distributed == sequential oracle at 1e-8
        # (tests/test_fit.py::test_distributed_matches_sequential)
        "hmm_fit",
        # masked (left-to-right) fit: masked entries stay exactly zero and
        # the fit matches the sequential oracle at 1e-8 (tests/test_fit.py
        # test_masked_fit_matches_sequential_oracle)
        "hmm_fit_bakis",
        # semi-supervised EM: all-unlabeled == plain fit at 1e-10, all-labeled
        # == closed-form counting (tests/test_semisup.py)
        "hmm_fit_semisup",
        # stepwise online EM: the loglik-gain bar vs batch EM
        # (tests/test_online.py::test_online_em_improves_and_approaches_batch)
        "hmm_online",
        # distributed grouped EM: per-group parity with fit_grouped's
        # sequential EM at 1e-8 (tests/test_grouped.py
        # test_distributed_grouped_fit_matches_sequential_per_group)
        "hmm_fit_grouped_dist",
        # order selection: BIC/AIC arithmetic and the argmin marking against
        # standalone fits (tests/test_select.py)
        "hmm_select",
        # best-of-restarts selection and the one shared corpus persist
        # (tests/test_fit.py test_fit_restarts_*)
        "hmm_fit_restarts",
    }, rows_only_in_window


def test_window_faces_have_scalar_schemas(spark):
    """Driver-canonicalization compatibility lint (VERDICT-r7 #2): the
    driver sorts + hashes EVERY column of EVERY face in its 50-entry
    window, rows-only included, and pandas' multi-column sort factorizes
    (hashes) each cell — an array/map/struct top-level column crashes it
    with ``TypeError: unhashable type`` (the r7 viterbi_topk defect).
    Construct each in-window face at sf0.001 and assert its schema is
    scalar-only; faces below the window are covered the round they rotate
    in (test_face_manifest forces rotation on any code change)."""
    import sys

    from pyspark.sql import types as T

    from conftest import SF0001

    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as em

    bad = []
    for name, fn in list(em.queries().items())[:50]:
        schema = fn(spark, SF0001).schema
        for field in schema.fields:
            if isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not bad, (
        "in-window face schemas with non-scalar top-level columns (the "
        "driver's canonicalizer cannot hash these — project to a joined "
        "string, e.g. hmm/decode.py viterbi_decode_face's path_str):\n"
        + "\n".join(bad)
    )
