"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Implemented operators are inventoried in SURVEY.md §2 / §2.7.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def _tables(spark: SparkSession, sf_dir: str, *names: str):
    from baum_welch_spark.sources.io import load_table

    return [load_table(spark, sf_dir, n) for n in names]


@contextmanager
def _stateful_width(
    spark: SparkSession,
    sf_dir: str | None = None,
    n: int | None = None,
    source: str = "events.parquet",
):
    """Size spark.sql.shuffle.partitions to STREAM VOLUME for a
    stateful-streaming face.

    Stateful operators spin one state store PER SHUFFLE PARTITION per
    micro-batch (four for a stream-stream join), so a finite-replay face
    is state-store-setup-bound when partitions outnumber the work: at
    sf0.1 (2 MB events), width 8 vs 32 is 73 s -> ~9 s cold for the
    stream-stream join and 1.4-2x warm across every applyInPandasWithState
    / windowed-agg face (spend_alerts 3.6 vs 5.6, windowed_counts 1.5 vs
    2.8, score 2.2 vs 4.1). The r13 100x board then caught the OPPOSITE
    failure: an unconditional 8 pinned sessions_stream at 210 s on 182 MB
    of events where 32 takes 97 s (isolated; 9.5 M session groups) — so
    the width is now SIZED from the source file (>= 32 MB of events ->
    the 32-wide session default, else 8), which is the actual lesson of
    §8.3o: state partitions must be sized to stream volume, neither
    inherited from the batch session nor frozen to a small-scale constant.

    CONCURRENCY (ADVICE r12): this mutates the SESSION-global conf for the
    duration — any query running concurrently on the same session would
    silently plan at this width. Safe under the bench/correctness drivers,
    which run faces sequentially on one session; a concurrent harness must
    give streaming faces their own SparkSession.

    ``source`` names the parquet the face actually streams (ADVICE r13 /
    VERDICT-r13 #7: sizing was hardcoded to events.parquet, so a face
    streaming anything else silently inherited width 8). A face whose
    stream is NOT volume-proportional (e.g. the CDC change-log fold, one
    tiny per-year batch at any SF) should pass ``n=`` explicitly instead.
    A directory source (Spark-written multi-file parquet) is sized by the
    SUM of its part files — ``os.path.getsize`` on a directory returns the
    ~4 KB inode size, which would silently re-freeze width 8 on an
    arbitrarily large stream (ADVICE r13).
    """
    if n is None:
        n = 8
        if sf_dir is not None:
            import os

            path = os.path.join(sf_dir, source)
            try:
                if os.path.isdir(path):
                    size = sum(
                        e.stat().st_size for e in os.scandir(path) if e.is_file()
                    )
                else:
                    size = os.path.getsize(path)
                if size >= (32 << 20):
                    n = 32
            except OSError:
                pass  # unreadable source: keep the small-stream width
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed Baum-Welch fit (4 hidden states) on sequences
    built from sf0.001 events; returns the tidy trained model DataFrame."""
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import fit
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, SF0001, "events")
    seqs = build_sequences(events)
    result = fit(spark, seqs, HMM.random(4, 5, seed=42), max_iter=3)
    return result.model.to_df(spark)


# ---------------------------------------------------------------------------


def _q_seq_build(spark, sf):
    from baum_welch_spark.operators.markov import seq_build

    return seq_build(*_tables(spark, sf, "events"))


def _q_transition_counts(spark, sf):
    from baum_welch_spark.operators.markov import transition_counts

    return transition_counts(*_tables(spark, sf, "events"))


def _q_transition_model(spark, sf):
    from baum_welch_spark.operators.markov import transition_model

    return transition_model(*_tables(spark, sf, "events"))


def _q_model_half_distance(spark, sf):
    from baum_welch_spark.operators.markov import model_half_distance

    return model_half_distance(*_tables(spark, sf, "events"))


def _q_seq_decode_names(spark, sf):
    from baum_welch_spark.operators.markov import seq_decode_names

    return seq_decode_names(*_tables(spark, sf, "events"))


def _q_q1(spark, sf):
    from baum_welch_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(*_tables(spark, sf, "lineitem"))


def _q_q3(spark, sf):
    from baum_welch_spark.operators.relational import q3_top_orders

    return q3_top_orders(*_tables(spark, sf, "customer", "orders", "lineitem"))


def _q_q5(spark, sf):
    from baum_welch_spark.operators.relational import q5_region_revenue

    return q5_region_revenue(*_tables(spark, sf, "customer", "orders", "lineitem", "nation", "region"))


def _q_q6(spark, sf):
    from baum_welch_spark.operators.relational import q6_forecast_revenue

    return q6_forecast_revenue(*_tables(spark, sf, "lineitem"))


def _q_event_pivot(spark, sf):
    from baum_welch_spark.operators.relational import event_pivot

    return event_pivot(*_tables(spark, sf, "events"))


def _q_events_rollup(spark, sf):
    from baum_welch_spark.operators.relational import events_rollup

    return events_rollup(*_tables(spark, sf, "events"))


def _q_asof(spark, sf):
    from baum_welch_spark.operators.asof import purchases_with_last_view

    return purchases_with_last_view(*_tables(spark, sf, "events"))


def _q_viewers_no_purchase(spark, sf):
    from baum_welch_spark.operators.relational import viewers_without_purchase

    return viewers_without_purchase(*_tables(spark, sf, "events"))


def _q_value_quantiles(spark, sf):
    from baum_welch_spark.operators.relational import value_quantiles

    return value_quantiles(*_tables(spark, sf, "events"))


def _q_top_event(spark, sf):
    from baum_welch_spark.operators.relational import top_event_type_per_user

    return top_event_type_per_user(*_tables(spark, sf, "events"))


def _q_sessionize(spark, sf):
    from baum_welch_spark.operators.relational import sessionize

    return sessionize(*_tables(spark, sf, "events"))


def _q_dedup_exact(spark, sf):
    from baum_welch_spark.operators.dedup import exact_dedup

    return exact_dedup(*_tables(spark, sf, "documents"))


def _q_fingerprint_clusters(spark, sf):
    from baum_welch_spark.operators.dedup import fingerprint_clusters

    return fingerprint_clusters(*_tables(spark, sf, "documents"))


def _q_neardup_jaccard(spark, sf):
    from baum_welch_spark.operators.dedup import neardup_jaccard

    return neardup_jaccard(*_tables(spark, sf, "documents"))


def _q_neardup_containment(spark, sf):
    from baum_welch_spark.operators.dedup import neardup_containment

    return neardup_containment(*_tables(spark, sf, "documents"))


def _q_neardup_edit(spark, sf):
    from baum_welch_spark.operators.dedup import neardup_edit

    return neardup_edit(*_tables(spark, sf, "documents"))


def _q_bpe_token_stats(spark, sf):
    from baum_welch_spark.operators.text import bpe_token_stats

    return bpe_token_stats(*_tables(spark, sf, "documents"))


def _q_token_stats(spark, sf):
    from baum_welch_spark.operators.text import token_stats

    return token_stats(*_tables(spark, sf, "documents"))


def _q_doc_quality(spark, sf):
    from baum_welch_spark.operators.text import doc_quality

    return doc_quality(*_tables(spark, sf, "documents"))


def _q_lang_id(spark, sf):
    from baum_welch_spark.operators.text import lang_id

    return lang_id(*_tables(spark, sf, "documents"))


def _q_vocab_topk(spark, sf):
    from baum_welch_spark.operators.corpus import vocab_topk

    return vocab_topk(*_tables(spark, sf, "documents"))


def _q_bigram_lm_score(spark, sf):
    from baum_welch_spark.operators.corpus import bigram_lm_score

    return bigram_lm_score(*_tables(spark, sf, "documents"))


def _q_decontaminate(spark, sf):
    from baum_welch_spark.operators.corpus import decontaminate

    return decontaminate(*_tables(spark, sf, "documents"))


def _q_weighted_sample(spark, sf):
    from pyspark.sql import functions as F

    from baum_welch_spark.operators.sampling import weighted_sample

    (events,) = _tables(spark, sf, "events")
    return weighted_sample(events, "event_id", F.col("value") / 100).select(
        "event_id", "event_type", "value"
    )


def _q_cap_per_source(spark, sf):
    from baum_welch_spark.operators.sampling import cap_per_group

    (docs,) = _tables(spark, sf, "documents")
    return cap_per_group(docs, "source", "doc_id", k=20).select("doc_id", "source")


def _q_clean_corpus(spark, sf):
    from baum_welch_spark.operators.corpus import clean_corpus

    return clean_corpus(*_tables(spark, sf, "documents"))


def _q_prepare_training_corpus(spark, sf):
    # the full corpus build as one composition (VERDICT-r10 #6): near-dup
    # removal -> quality + LM gates -> decontamination -> leakage-safe
    # cluster-whole split -> dq invariant gate; DuckDB-exact end-to-end
    from baum_welch_spark.operators.corpus import prepare_training_corpus

    return prepare_training_corpus(*_tables(spark, sf, "documents"))


def _q_tfidf_top_terms(spark, sf):
    from baum_welch_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(*_tables(spark, sf, "documents"))


def _q_time_bucket_gapfill(spark, sf):
    from baum_welch_spark.operators.relational import time_bucket_gapfill

    return time_bucket_gapfill(*_tables(spark, sf, "events"))


def _q_time_bucket_interpolate(spark, sf):
    from baum_welch_spark.operators.relational import time_bucket_interpolate

    return time_bucket_interpolate(*_tables(spark, sf, "events"))


def _q_lineitem_stats(spark, sf):
    from baum_welch_spark.operators.relational import lineitem_stats

    return lineitem_stats(*_tables(spark, sf, "lineitem"))


def _q_fingerprint(spark, sf):
    from baum_welch_spark.operators.text import fingerprint

    return fingerprint(*_tables(spark, sf, "documents"))


def _q_winnow_fingerprints(spark, sf):
    from baum_welch_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(*_tables(spark, sf, "documents"))


def _q_copy_pairs(spark, sf):
    from baum_welch_spark.operators.text import copy_pairs

    return copy_pairs(*_tables(spark, sf, "documents"))


def _q_emb_norms(spark, sf):
    from baum_welch_spark.operators.similarity import emb_norms

    return emb_norms(*_tables(spark, sf, "embeddings"))


def _q_knn_brute(spark, sf):
    from baum_welch_spark.operators.similarity import knn_brute

    return knn_brute(*_tables(spark, sf, "embeddings"))


def _q_q4(spark, sf):
    from baum_welch_spark.operators.relational import q4_late_orders

    return q4_late_orders(*_tables(spark, sf, "orders", "lineitem"))


def _q_q7(spark, sf):
    from baum_welch_spark.operators.relational import q7_volume_shipping

    return q7_volume_shipping(
        *_tables(spark, sf, "lineitem", "orders", "customer", "supplier", "nation")
    )


def _q_q8(spark, sf):
    from baum_welch_spark.operators.relational import q8_market_share

    return q8_market_share(
        *_tables(
            spark, sf, "lineitem", "orders", "customer", "supplier", "part", "nation", "region"
        )
    )


def _q_q13(spark, sf):
    from baum_welch_spark.operators.relational import q13_customer_distribution

    return q13_customer_distribution(*_tables(spark, sf, "customer", "orders"))


def _q_q17(spark, sf):
    from baum_welch_spark.operators.relational import q17_small_quantity_revenue

    return q17_small_quantity_revenue(*_tables(spark, sf, "lineitem", "part"))


def _q_q18(spark, sf):
    from baum_welch_spark.operators.relational import q18_large_volume_customers

    return q18_large_volume_customers(*_tables(spark, sf, "customer", "orders", "lineitem"))


def _q_q22(spark, sf):
    from baum_welch_spark.operators.relational import q22_dormant_customers

    return q22_dormant_customers(*_tables(spark, sf, "customer", "orders"))


def _q_q10(spark, sf):
    from baum_welch_spark.operators.relational import q10_returned_revenue

    return q10_returned_revenue(*_tables(spark, sf, "customer", "orders", "lineitem", "nation"))


def _q_q14(spark, sf):
    from baum_welch_spark.operators.relational import q14_promo_share

    return q14_promo_share(*_tables(spark, sf, "lineitem", "part"))


def _q_q15(spark, sf):
    from baum_welch_spark.operators.relational import q15_top_supplier

    return q15_top_supplier(*_tables(spark, sf, "lineitem", "supplier"))


def _q_q19(spark, sf):
    from baum_welch_spark.operators.relational import q19_bracket_revenue

    return q19_bracket_revenue(*_tables(spark, sf, "lineitem", "part"))


def _q_merge_upsert(spark, sf):
    from baum_welch_spark.operators.merge import merge_upsert

    return merge_upsert(*_tables(spark, sf, "orders"))


def _q_scd2_history(spark, sf):
    from baum_welch_spark.operators.merge import scd2_history

    return scd2_history(*_tables(spark, sf, "events"))


def _q_daily_revenue_ma7(spark, sf):
    from baum_welch_spark.operators.relational import daily_revenue_ma7

    return daily_revenue_ma7(*_tables(spark, sf, "orders"))


def _q_user_type_stats(spark, sf):
    from baum_welch_spark.operators.relational import user_type_stats

    return user_type_stats(*_tables(spark, sf, "events"))


def _q_purchase_view_context(spark, sf):
    from baum_welch_spark.operators.rangejoin import purchase_view_context

    return purchase_view_context(*_tables(spark, sf, "events"))


def _q_cosine_neardup(spark, sf):
    from baum_welch_spark.operators.similarity import cosine_neardup

    return cosine_neardup(*_tables(spark, sf, "embeddings"))


def _q_customers_without_orders(spark, sf):
    from baum_welch_spark.operators.relational import customers_without_orders

    return customers_without_orders(*_tables(spark, sf, "customer", "orders"))


def _q_repeat_buyer_days(spark, sf):
    from baum_welch_spark.operators.relational import repeat_buyer_days

    return repeat_buyer_days(*_tables(spark, sf, "events"))


def _q_salted_value_stats(spark, sf):
    from baum_welch_spark.operators.skew import user_value_stats_salted

    return user_value_stats_salted(*_tables(spark, sf, "events"))


def _q_props_k_stats(spark, sf):
    from baum_welch_spark.operators.relational import props_k_stats

    return props_k_stats(*_tables(spark, sf, "events"))


def _q_user_spend_rank(spark, sf):
    from baum_welch_spark.operators.relational import user_spend_rank

    return user_spend_rank(*_tables(spark, sf, "events"))


def _q_events_cube(spark, sf):
    from baum_welch_spark.operators.relational import events_cube

    return events_cube(*_tables(spark, sf, "events"))


def _q_value_approx_quantiles(spark, sf):
    from baum_welch_spark.operators.relational import value_approx_quantiles

    return value_approx_quantiles(*_tables(spark, sf, "events"))


# -- approximate / iterative / hash-derived faces ---------------------------
# Most of these gained DuckDB-exact oracles in round 2 (portable MD5 hashing
# or model-literal SQL); oracle_sql() is the source of truth for which are
# exactly checked. Their outputs must stay deterministic and rounded — the
# driver value-hashes them. Only hmm_fit / knn_ivf_kmeans (iterative loops)
# and approx_distinct_users / value_approx_quantiles (sketches) remain
# rows-only.


def _q_cosine_neardup_lsh(spark, sf):
    from baum_welch_spark.operators.similarity import cosine_neardup_lsh

    return cosine_neardup_lsh(*_tables(spark, sf, "embeddings"))


def _q_approx_distinct_users(spark, sf):
    from baum_welch_spark.operators.relational import approx_distinct_users

    return approx_distinct_users(*_tables(spark, sf, "events"))


def _q_hll_distinct_users(spark, sf):
    from baum_welch_spark.operators.sketches import hll_distinct_users

    return hll_distinct_users(*_tables(spark, sf, "events"))


def _q_hll_distinct_stream(spark, sf):
    # the streaming twin: registers built through the real readStream path
    # (complete-mode stateful max, HLL_M rows of state per group forever);
    # hash-exact on the SAME oracle as the batch face — max is
    # order-insensitive, so streaming == batch == SQL
    from baum_welch_spark.streaming.heavyhitters import streaming_hll_distinct

    with _stateful_width(spark, sf):
        return streaming_hll_distinct(spark, sf)


def _q_value_sampled_quantiles(spark, sf):
    from baum_welch_spark.operators.sampling import sampled_quantiles

    return sampled_quantiles(*_tables(spark, sf, "events"))


def _q_hll_overlap_custs(spark, sf):
    # HLL set algebra: pairwise audience overlap by inclusion-exclusion
    # over max-merged registers — one corpus scan for the whole pair
    # matrix; exact twin carried in-face; bit-exact estimator arithmetic
    from baum_welch_spark.operators.sketches import hll_overlap_custs

    return hll_overlap_custs(*_tables(spark, sf, "orders"))


def _q_hybrid_search(spark, sf):
    # RRF fusion of the BM25 lexical list and the cosine semantic list —
    # ranks are integers and each fused score is a 2-term IEEE sum
    # (commutative), so the face is hash-exact end-to-end
    from baum_welch_spark.operators.fusion import hybrid_search

    return hybrid_search(*_tables(spark, sf, "documents", "embeddings"))


def _q_label_prop_docs(spark, sf):
    # deterministic self-inclusive label propagation over the near-dup
    # graph (4 unrolled rounds; all-integer arithmetic — hash-exact)
    from baum_welch_spark.operators.communities import label_prop_docs

    return label_prop_docs(*_tables(spark, sf, "documents"))


def _q_ewma_user_spend(spark, sf):
    # per-user sequential EWMA (applyInPandas chains); UNROUNDED output —
    # the raw recursion is bit-identical across engines, rounding is the
    # hazard here (see operators/timeseries.py docstring)
    from baum_welch_spark.operators.timeseries import ewma_user_spend

    return ewma_user_spend(*_tables(spark, sf, "events"))


def _q_basket_rules(spark, sf):
    # market-basket association rules over order-baskets of part brands:
    # support/confidence/lift as UNROUNDED ratios of BIGINT counts
    # (bit-identical division in any engine), capped-basket pair self-join
    from baum_welch_spark.operators.basket import basket_rules

    return basket_rules(*_tables(spark, sf, "lineitem", "part"))


def _q_ewma_spend_stream(spark, sf):
    # the streaming twin: the same per-user daily EWMA recursion held as
    # O(1) streaming state (open-day accumulator + previous smoothed
    # value), driven through the real readStream path; latest row per
    # (user, day) equals the batch operator byte-for-byte, so the face
    # shares EWMA_USER_SPEND_SQL verbatim
    from baum_welch_spark.streaming.ewma import ewma_stream
    from baum_welch_spark.streaming.sessionize import run_to_memory, stream_events

    with _stateful_width(spark, sf):
        stream = ewma_stream(stream_events(spark, sf))
        run_to_memory(stream, "ewma_stream_face", output_mode="update")
    return spark.sql(
        "SELECT user_id, day, spend, ewma_spend FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY user_id, day ORDER BY ver DESC) rn"
        "  FROM ewma_stream_face) WHERE rn = 1 ORDER BY user_id, day"
    )


def _q_bucketed_segment_spend(spark, sf):
    # the bucketed-layout lifecycle: write both sides bucketed on the
    # customer key, run the exchange-free co-bucketed join (zero-shuffle
    # plan pinned in tests/test_bucketing.py + test_fusion_communities_ts),
    # values pinned here against the plain-join oracle
    from baum_welch_spark.sources.bucketing import bucketed_segment_spend

    orders, customer = _tables(spark, sf, "orders", "customer")
    return bucketed_segment_spend(spark, orders, customer)


def _q_q12_late_priority(spark, sf):
    from baum_welch_spark.operators.relational import q12_late_priority

    return q12_late_priority(*_tables(spark, sf, "orders", "lineitem"))


def _q_q21_waiting_suppliers(spark, sf):
    from baum_welch_spark.operators.relational import q21_waiting_suppliers

    return q21_waiting_suppliers(
        *_tables(spark, sf, "supplier", "nation", "orders", "lineitem")
    )


def _q_q2_min_cost_supplier(spark, sf):
    # DuckDB-exact (r12): TPC-H Q2 over the DERIVED partsupp — a
    # deterministic pure function of part x supplier both engines compute
    # identically (operators/partsupp.py module doc), closing the suite's
    # last fixture gap (SURVEY §8.2i). Region-min supply cost + total-order
    # LIMIT 100.
    from baum_welch_spark.operators.partsupp import q2_min_cost_supplier

    return q2_min_cost_supplier(
        *_tables(spark, sf, "part", "supplier", "nation", "region")
    )


def _q_q9_product_profit(spark, sf):
    # DuckDB-exact (r12): TPC-H Q9 profit by supplier nation x order year
    # over derived partsupp; lineitem joins on the composite
    # (partkey, suppkey) key — the Q9 semantics
    from baum_welch_spark.operators.partsupp import q9_product_profit

    return q9_product_profit(
        *_tables(spark, sf, "part", "supplier", "lineitem", "orders", "nation")
    )


def _q_q11_important_stock(spark, sf):
    # DuckDB-exact (r12): TPC-H Q11 with the HAVING threshold evaluated in
    # exact integer CENTS (BIGINT both engines) so float summation order
    # cannot flip a boundary row
    from baum_welch_spark.operators.partsupp import q11_important_stock

    return q11_important_stock(*_tables(spark, sf, "part", "supplier", "nation"))


def _q_q16_supplier_count(spark, sf):
    # DuckDB-exact (r12): TPC-H Q16 distinct-supplier counts per
    # (brand, type, size) with the bad-supplier exclusion as a broadcast
    # anti-join (s_acctbal < 0 stands in for the absent s_comment)
    from baum_welch_spark.operators.partsupp import q16_parts_supplier_cnt

    return q16_parts_supplier_cnt(*_tables(spark, sf, "part", "supplier"))


def _q_q20_excess_stock(spark, sf):
    # DuckDB-exact (r12): TPC-H Q20 semi-join chain — suppliers whose
    # derived availqty exceeds half their 1996 shipped quantity of the
    # 'small%' part family (integer quantities: the comparison is exact)
    from baum_welch_spark.operators.partsupp import q20_promotion_suppliers

    return q20_promotion_suppliers(*_tables(spark, sf, "part", "supplier", "lineitem"))


def _q_knn_ivf_kmeans(spark, sf):
    from baum_welch_spark.operators.clustering import knn_ivf_kmeans

    return knn_ivf_kmeans(*_tables(spark, sf, "embeddings"))


def _q_knn_pq(spark, sf):
    # rows-only by nature: the PQ codebooks come from a distributed k-means
    # (operators/pq.py), not SQL-expressible; pytest pins recall >= 0.5 vs
    # knn_brute and exact-cos agreement on overlapping pairs
    from baum_welch_spark.operators.pq import knn_pq

    return knn_pq(*_tables(spark, sf, "embeddings"))


def _q_knn_ivfpq(spark, sf):
    # rows-only by nature (k-means + residual-PQ training loops); pytest
    # pins recall >= 0.5 vs knn_brute, residual-coding distortion strictly
    # below flat PQ, and exact nearest-centroid cell assignment
    from baum_welch_spark.operators.pq import knn_ivfpq

    return knn_ivfpq(*_tables(spark, sf, "embeddings"))


def _q_viterbi_decode(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import viterbi_decode_face
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return viterbi_decode_face(spark, build_sequences(events), HMM.random(4, 5, seed=42))


def _q_seq_scores(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import score_sequences_face
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return score_sequences_face(spark, build_sequences(events), HMM.random(4, 5, seed=42))


def _q_viterbi_reestimate(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.viterbi_train import viterbi_reestimate
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return viterbi_reestimate(spark, build_sequences(events), HMM.random(4, 5, seed=42))


def _q_kmeans_parity(spark, sf):
    # DuckDB-exact (late r9): fixed-iteration Lloyd k-means UNROLLED into
    # one generated SQL text whose two dialects differ only in array
    # indexing / cast / md5 idioms — the clustering analogue of
    # pagerank_docs' CTE unroll. Distances are a generated left-assoc IEEE
    # chain (bitwise equal across engines); the M-step mean is rounded to
    # 9 per iteration (the published contract that absorbs summation-order
    # ulps). The numpy kmeans_fit stays the throughput path; pytest pins
    # this twin against an independent numpy replica of the same spec.
    from baum_welch_spark.operators.clustering import kmeans_parity

    return kmeans_parity(spark, *_tables(spark, sf, "embeddings"))


def _q_pca_power_parity(spark, sf):
    # DuckDB-exact (r14, VERDICT-r13 #5): fixed-iteration power iteration
    # over the (i, j, cov) covariance edge list, unrolled into one
    # generated two-dialect SQL text — pins the iterative linear-algebra
    # class behind the rows-only emb_pca face (driver-side eigh is not
    # SQL-expressible). Matvec = join-aggregate rounded to 9 per step
    # (summation-order contract); sqrt/div are IEEE-exact on identical
    # operands. Pytest pins the twin against a numpy replica of the same
    # rounded spec. Mirrors the reference's normalize-iterate M-step loop
    # (BaumWelchReducer.java:133-149) as fixed-point-in-SQL.
    from baum_welch_spark.operators.linalg import pca_power_parity

    return pca_power_parity(spark, *_tables(spark, sf, "embeddings"))


def _q_logreg_gd_parity(spark, sf):
    # DuckDB-exact (r14, VERDICT-r13 #5): fixed-iteration full-batch
    # gradient-descent logistic regression on standardized text features,
    # unrolled into one generated two-dialect SQL text — pins the
    # optimizer-step class behind the rows-only quality_classifier face
    # (driver-side 5x5 Newton solve is not SQL-expressible). Features and
    # per-step aggregates rounded to 9, sigmoid to 12 (absorbs 1-ulp
    # exp/ln divergence); each GD step is one map-side-combinable
    # aggregate pass — the same shuffle-O(d) economics as the Newton
    # trainer it pins. Pytest pins the twin against a numpy replica.
    from baum_welch_spark.operators.classifier import logreg_gd_parity

    return logreg_gd_parity(spark, *_tables(spark, sf, "documents"))


def _q_mad_outliers(spark, sf):
    # DuckDB-exact (late r9): robust per-event-type outlier flagging —
    # |value - median| > 3.5 robust sigmas (1.4826 * MAD). Spark exact
    # percentile and DuckDB quantile_cont interpolate identically, so
    # med/mad/score match bit-for-bit. approx_percentile is the documented
    # 100 TB swap-in (same plan shape, sketch-bounded memory).
    from baum_welch_spark.operators.anomaly import mad_outliers

    return mad_outliers(*_tables(spark, sf, "events"))


def _q_triangle_docs(spark, sf):
    # DuckDB-exact (late r9): per-doc triangle counts on the near-dup
    # similarity graph — the duplicate-FAMILY signal (a k-family is a
    # k-clique) a pair count can't separate from hub-and-spokes template
    # matches. Spark runs the degree-oriented compact-forward plan; the
    # oracle enumerates the same triangle set id-ordered (both are total
    # orders over the same undirected graph). pytest pins the kernel
    # against a brute-force adjacency oracle + a planted-clique/hub case.
    from baum_welch_spark.operators.graph import triangle_docs

    return triangle_docs(*_tables(spark, sf, "documents"))


def _q_neardup_incremental(spark, sf):
    # DuckDB-exact (late r9): the incremental crawl-dedup shape — dedup an
    # incoming batch (10% hash split) against the existing corpus (the
    # other 90%) via cross-corpus MinHash-LSH band collisions + exact
    # verify of candidates only. The base side's banded signatures are the
    # storable index at 100 TB; no corpus self-join anywhere.
    from baum_welch_spark.operators.dedup import minhash_lsh_pairs_incremental
    from baum_welch_spark.operators.sampling import hash_split

    (docs,) = _tables(spark, sf, "documents")
    new_docs, base_docs = hash_split(docs, "doc_id", [0.1, 0.9], seed=11)
    return minhash_lsh_pairs_incremental(new_docs, base_docs)


def _q_em_reestimate(spark, sf):
    # DuckDB-exact (r9): ONE soft-EM re-estimation step from a fixed model
    # — pins the distributed E-step's γ/ξ aggregation + window normalize
    # end-to-end against the recursive-CTE forward/backward oracle, the
    # soft twin of viterbi_reestimate's hard-EM pin
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import em_reestimate
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return em_reestimate(spark, build_sequences(events), HMM.random(4, 5, seed=42))


def _q_em_trace(spark, sf):
    # DuckDB-exact (r12): the EM *loop* itself — two CHAINED re-estimation
    # laps where lap 2's model is lap 1's rounded tidy output (the
    # modelOut -> modelIn hand-off, BaumWelchDriver.java:114-134). The
    # oracle computes the chaining entirely inside DuckDB: lap 1's output
    # CTE is pivoted to a one-row model CTE feeding lap 2's alpha/beta
    # recursions — no model values cross from the Python driver. This
    # graduates the core dataflow's last structurally-unpinned piece
    # (D2's iteration chaining) from NumPy-pinned to driver-exact.
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import em_trace
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return em_trace(spark, build_sequences(events), HMM.random(4, 5, seed=42), n_iters=2)


def _q_ghmm_em_trace(spark, sf):
    # DuckDB-exact (r12): the GAUSSIAN EM loop's chaining — two chained
    # re-estimation laps, lap 2's model being lap 1's rounded tidy output,
    # with the oracle recomputing lap 2's log-density coefficients
    # c1/c2 INSIDE DuckDB from lap 1's own CTE output (the continuous twin
    # of em_trace; graduates ghmm_fit's chaining evidence to driver-exact)
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        ghmm_em_trace,
    )

    (events,) = _tables(spark, sf, "events")
    return ghmm_em_trace(
        spark,
        build_value_sequences(events),
        GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0),
        n_iters=2,
    )


def _q_asset_neardup(spark, sf):
    # rows-only by nature (binary payloads have no SQL twin): the full
    # multimodal pipeline under the driver — synthetic WAV/PPM/Y4M assets
    # -> REAL in-container decode in EVERY modality (stdlib wave / NumPy
    # PPM / Y4M planar-YUV parse; r12 closed the last digest-stub) ->
    # band features -> feature-cosine near-dup pairs. pytest pins
    # planted-duplicate recall (tests/test_operators.py multimodal block).
    #
    # r9: asset count is WIRED TO SF (documents_count // 5, floor 96) and
    # generation is distributed (mapInPandas encode, per-row seed), so
    # tools/scale10x.py measures a real ladder point; the pair stage flips
    # from the all-pairs demo path to the blocked GEMM once the table
    # outgrows it (LSH measured and rejected at this size — SURVEY §8.3f).
    from baum_welch_spark.operators.multimodal import (
        neardup_assets_by_feature,
        synthetic_assets,
    )
    from pyspark.sql import functions as F

    (docs,) = _tables(spark, sf, "documents")
    n = max(96, docs.count() // 5)
    # persist: three modality branches each scan the asset table — uncached
    # the mapInPandas generation (payload encode, the expensive stage at
    # corpus n) would run three times
    assets = synthetic_assets(spark, n=n, seed=42).persist()
    # near-dup WITHIN each modality (cross-modality cosine on all-positive
    # band features is meaningless): WAV + PPM + Y4M all decode for real
    # (r12 — the video branch now runs temporal-luma features through the
    # real planar-YUV parse, not the digest stub).
    # exact all-pairs up to ~680/modality (sub-second single-task verify);
    # past that the face flips to the blocked GEMM path — distributed
    # exact pairs, ~1 s for 5.5M pairs/modality, vs ~10 s of fixed LSH
    # plan overhead at the same size. (pair_strategy="lsh" is the pinned
    # past-1e5-features path; see neardup_assets_by_feature's docstring
    # for the positive-feature bucket-skew caveat.)
    strategy = "exact" if n < 2048 else "blocked"
    parts = [
        # 0.995: the synthetic corpus plants ~n/10 true near-dups at cos >=
        # 0.999 and keeps independent profiles' cross-cosine tail ~1e-5 at
        # this bar, so output (and the ladder) stays LINEAR in n
        neardup_assets_by_feature(
            assets.filter(F.col("modality") == m),
            threshold=0.995,
            decode_stub=False,
            pair_strategy=strategy,
        ).withColumn("modality", F.lit(m))
        for m in ("image", "audio", "video")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("modality", "asset_a", "asset_b", "cos")


def _q_posterior_decode(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import posterior_decode
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return posterior_decode(spark, build_sequences(events), HMM.random(4, 5, seed=42))


def _q_state_occupancy(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import state_occupancy
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return state_occupancy(spark, build_sequences(events), HMM.random(4, 5, seed=42))


def _q_salted_join_segment_stats(spark, sf):
    from baum_welch_spark.operators.skew import segment_value_stats_salted_join

    return segment_value_stats_salted_join(*_tables(spark, sf, "events", "customer"))


def _q_hmm_generate(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.generate import generate_face

    return generate_face(spark, HMM.random(4, 5, seed=42), n_sequences=200, t_len=20)


def _q_temperature_mixture(spark, sf):
    from baum_welch_spark.operators.sampling import temperature_mixture_documents

    return temperature_mixture_documents(*_tables(spark, sf, "documents"))


def _q_emb_quantize(spark, sf):
    from baum_welch_spark.operators.quantize import emb_quantize

    return emb_quantize(*_tables(spark, sf, "embeddings"))


def _q_knn_quantized(spark, sf):
    from baum_welch_spark.operators.quantize import knn_quantized

    return knn_quantized(*_tables(spark, sf, "embeddings"))


def _q_dup_ngrams(spark, sf):
    from baum_welch_spark.operators.ngramaudit import dup_ngrams

    return dup_ngrams(*_tables(spark, sf, "documents"))


def _q_stratified_sample(spark, sf):
    from baum_welch_spark.operators.sampling import stratified_sample

    (events,) = _tables(spark, sf, "events")
    return stratified_sample(
        events, "event_type", {"view": 0.25, "purchase": 1.0, "click": 0.5},
        key_col="event_id", seed=3,
    ).select("event_id", "event_type")


def _q_dedup_clusters(spark, sf):
    from baum_welch_spark.operators.dedup import dedup_clusters_jaccard

    return dedup_clusters_jaccard(*_tables(spark, sf, "documents"))


#: dq face rules: deliberately tight so the synthetic data VIOLATES some —
#: a report of all zeros would leave the counting paths unexercised
_DQ_RULES = [
    {"rule": "not_null", "col": "o_orderkey"},
    {"rule": "unique", "col": "o_orderkey"},
    {"rule": "range", "col": "o_totalprice", "min": 2000.0, "max": 400000.0},
    {"rule": "in_set", "col": "o_orderstatus", "values": ["O", "F"]},
    {"rule": "fk", "col": "o_custkey", "ref_col": "c_custkey"},
]


def _q_dq_report(spark, sf):
    from baum_welch_spark.operators.dq import dq_report

    orders, customer = _tables(spark, sf, "orders", "customer")
    rules = [
        dict(r, ref=customer) if r["rule"] == "fk" else r for r in _DQ_RULES
    ]
    return dq_report(orders, rules)


def _q_skew_report(spark, sf):
    from baum_welch_spark.operators.skew import skew_report

    return skew_report(*_tables(spark, sf, "events"), key_cols=["user_id", "event_type"])


def _q_leakage_split(spark, sf):
    from baum_welch_spark.operators.dedup import leakage_safe_split

    return leakage_safe_split(*_tables(spark, sf, "documents"))


def _q_hmm_fit(spark, sf):
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import fit
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    result = fit(spark, build_sequences(events), HMM.random(4, 5, seed=42), max_iter=3)
    return result.model.to_df(spark)


def _q_minhash(spark, sf):
    from baum_welch_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(*_tables(spark, sf, "documents"))


def _q_simhash(spark, sf):
    from baum_welch_spark.operators.dedup import simhash_pairs

    return simhash_pairs(*_tables(spark, sf, "documents"))


def _q_knn_ivf(spark, sf):
    from baum_welch_spark.operators.similarity import knn_ivf

    return knn_ivf(*_tables(spark, sf, "embeddings"))


def _q_pack_sequences(spark, sf):
    from baum_welch_spark.operators.packing import pack_sequences

    return pack_sequences(*_tables(spark, sf, "documents"))


def _q_chunk_documents(spark, sf):
    from baum_welch_spark.operators.packing import chunk_documents

    return chunk_documents(*_tables(spark, sf, "documents"))


def _q_mixture_sample(spark, sf):
    from baum_welch_spark.operators.sampling import mixture_sample_documents

    return mixture_sample_documents(*_tables(spark, sf, "documents"))


def _q_semantic_dedup(spark, sf):
    from baum_welch_spark.operators.similarity import semantic_dedup

    return semantic_dedup(*_tables(spark, sf, "embeddings"))


def _q_repetition_stats(spark, sf):
    from baum_welch_spark.operators.quality import repetition_stats

    return repetition_stats(*_tables(spark, sf, "documents"))


def _q_pii_redact(spark, sf):
    from baum_welch_spark.operators.quality import pii_redact

    return pii_redact(*_tables(spark, sf, "documents"))


def _q_line_dedup(spark, sf):
    from baum_welch_spark.operators.quality import line_dedup

    return line_dedup(*_tables(spark, sf, "documents"))


def _q_bm25_topk(spark, sf):
    from baum_welch_spark.operators.retrieval import bm25_topk

    return bm25_topk(*_tables(spark, sf, "documents"))


def _q_decontaminate_bloom(spark, sf):
    from baum_welch_spark.operators.corpus import decontaminate_bloom

    return decontaminate_bloom(*_tables(spark, sf, "documents"))


def _q_zorder_events(spark, sf):
    from baum_welch_spark.operators.layout import zorder_events

    return zorder_events(*_tables(spark, sf, "events"))


def _q_compression_ratio(spark, sf):
    # rows-only by nature: zlib deflate is not SQL-expressible; pytest pins
    # byte-exact agreement with direct zlib on a sample
    from baum_welch_spark.operators.quality import compression_ratio

    return compression_ratio(*_tables(spark, sf, "documents"))


def _q_pagerank_docs(spark, sf):
    # DuckDB-exact since r8: the fixed-count power iteration UNROLLED into
    # plain CTE stages (graph.pagerank_docs_sql) — symmetric near-dup
    # edges mean zero dangling mass, and the driver-side double constants
    # are reproduced as full-precision literals; pytest additionally pins
    # the kernel against a NumPy power-iteration oracle + mass conservation
    from baum_welch_spark.operators.graph import pagerank_docs

    return pagerank_docs(*_tables(spark, sf, "documents"))


def _q_canonical_docs(spark, sf):
    from baum_welch_spark.operators.dedup import canonical_docs

    return canonical_docs(*_tables(spark, sf, "documents"))


def _q_trending_topk(spark, sf):
    from baum_welch_spark.operators.relational import trending_topk

    return trending_topk(*_tables(spark, sf, "events"))


def _q_funnel_conversion(spark, sf):
    from baum_welch_spark.operators.relational import funnel_conversion

    return funnel_conversion(*_tables(spark, sf, "events"))


def _q_linreg_price(spark, sf):
    from baum_welch_spark.operators.linalg import linreg_price

    return linreg_price(*_tables(spark, sf, "lineitem"))


def _q_linreg_multi(spark, sf):
    from baum_welch_spark.operators.linalg import linreg_multi

    return linreg_multi(*_tables(spark, sf, "lineitem"))


def _q_emb_covariance(spark, sf):
    from baum_welch_spark.operators.linalg import emb_covariance

    return emb_covariance(*_tables(spark, sf, "embeddings"))


def _q_emb_standardize(spark, sf):
    from baum_welch_spark.operators.linalg import emb_standardize

    return emb_standardize(*_tables(spark, sf, "embeddings"))


def _q_emb_pca(spark, sf):
    from baum_welch_spark.operators.linalg import emb_pca

    return emb_pca(*_tables(spark, sf, "embeddings"))


def _q_quality_classifier(spark, sf):
    from baum_welch_spark.operators.classifier import quality_classifier_scores

    return quality_classifier_scores(*_tables(spark, sf, "documents"))


def _q_bpe_merges(spark, sf):
    from baum_welch_spark.operators.bpe import bpe_merges

    return bpe_merges(*_tables(spark, sf, "documents"), n_merges=20)


def _q_vocab_topk_cms(spark, sf):
    from baum_welch_spark.operators.sketches import vocab_topk_cms

    return vocab_topk_cms(*_tables(spark, sf, "documents"))


def _q_hmm_select(spark, sf):
    # rows-only by nature (each candidate runs the distributed EM loop);
    # pytest pins the BIC/AIC arithmetic and the argmin marking
    from baum_welch_spark.hmm.select import select_face

    (events,) = _tables(spark, sf, "events")
    return select_face(spark, events, candidates=(2, 3, 4), max_iter=3)


def _q_grouped_decode(spark, sf):
    # rows-only by nature (the per-group models come from the Python EM
    # loop); pytest pins per-group parity with the broadcast decoder
    from baum_welch_spark.hmm.grouped import decode_per_event_class

    (events,) = _tables(spark, sf, "events")
    return decode_per_event_class(events, max_iter=2)


def _q_hmm_fit_grouped(spark, sf):
    from baum_welch_spark.hmm.grouped import fit_per_event_class

    return fit_per_event_class(*_tables(spark, sf, "events"), max_iter=3)


def _seg_sequences(spark, sf):
    from pyspark.sql import functions as F

    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return build_sequences(events).withColumn(
        "group", F.concat(F.lit("seg"), (F.col("seq_id") % 3).cast("string"))
    )


def _q_hmm_fit_grouped_dist(spark, sf):
    # rows-only (iterative EM); pinned at 1e-8 against fit_grouped's
    # sequential-per-group oracle in tests/test_grouped.py — the large-group
    # trainer: one distributed E-step job per iteration over ALL groups
    from baum_welch_spark.hmm.grouped import fit_grouped_distributed
    from baum_welch_spark.operators.sequences import symbol_dictionary

    (events,) = _tables(spark, sf, "events")
    n_obs = symbol_dictionary(events, "event_type").count()
    return fit_grouped_distributed(
        spark, _seg_sequences(spark, sf), 3, n_obs, max_iter=3
    ).orderBy("group", "kind", "i", "j")


def _q_em_reestimate_grouped(spark, sf):
    # DuckDB-exact: one grouped soft-EM step under a fixed model — pins the
    # grouped count shuffle + per-(group,kind,i) normalize end-to-end
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import em_reestimate_grouped

    return em_reestimate_grouped(
        spark, _seg_sequences(spark, sf), HMM.random(4, 5, seed=42)
    )


def _q_user_spend_deciles(spark, sf):
    from baum_welch_spark.operators.relational import user_spend_deciles

    return user_spend_deciles(*_tables(spark, sf, "events"))


def _q_corpus_report(spark, sf):
    from baum_welch_spark.operators.corpus import corpus_report

    return corpus_report(*_tables(spark, sf, "documents"))


def _q_ohlc_bars(spark, sf):
    from baum_welch_spark.operators.relational import ohlc_bars

    return ohlc_bars(*_tables(spark, sf, "events"))


def _q_trigram_lm_score(spark, sf):
    from baum_welch_spark.operators.corpus import trigram_lm_score

    return trigram_lm_score(*_tables(spark, sf, "documents"))


def _q_ppl_filter(spark, sf):
    from baum_welch_spark.operators.corpus import ppl_filter

    return ppl_filter(*_tables(spark, sf, "documents"))


def _q_cohort_retention(spark, sf):
    from baum_welch_spark.operators.relational import cohort_retention

    return cohort_retention(*_tables(spark, sf, "events"))


def _q_rolling_user_spend(spark, sf):
    from baum_welch_spark.operators.relational import rolling_user_spend

    return rolling_user_spend(*_tables(spark, sf, "events"))


def _q_posterior_sample(spark, sf):
    # DuckDB-exact since late r11: the counter-RNG uniforms make every FFBS
    # draw replayable in SQL (hmm/sample.py ffbs_oracle_sql); pytest
    # additionally pins empirical marginals to the exact gammas at 4 sigma,
    # structural zeros under masked models, and partition determinism
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.sample import posterior_sample
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return posterior_sample(
        spark, build_sequences(events), HMM.random(4, 5, seed=42), n_samples=3
    )


def _q_hmm_fit_restarts(spark, sf):
    # rows-only by nature (n_restarts EM loops); pytest pins best-of
    # selection and the shared-cache discipline
    from baum_welch_spark.hmm.fit import fit_restarts
    from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary

    (events,) = _tables(spark, sf, "events")
    n_observed = symbol_dictionary(events, "event_type").count()
    best, _ = fit_restarts(
        spark, build_sequences(events), 3, n_observed, n_restarts=2, max_iter=2
    )
    return best.model.to_df(spark)


def _q_posterior_entropy(spark, sf):
    # DuckDB-exact since r8 (VERDICT-r7 #3): the Hernando recursion is
    # linear like the forward pass, so it runs as a recursive CTE
    # (hmm/sample.py entropy_oracle_sql); pytest additionally pins it
    # against brute-force path enumeration at 1e-8 and the deterministic-
    # chain zero case (tests/test_sample.py)
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.sample import posterior_entropy_face
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return posterior_entropy_face(
        spark, build_sequences(events), HMM.random(4, 5, seed=42)
    )


def _q_copy_spans(spark, sf):
    from baum_welch_spark.operators.text import copy_spans

    return copy_spans(*_tables(spark, sf, "documents"))


def _q_decontaminate_spans(spark, sf):
    from baum_welch_spark.operators.text import decontaminate_spans

    return decontaminate_spans(*_tables(spark, sf, "documents"))


def _q_viterbi_topk(spark, sf):
    # k-best DP; pytest pins the hypotheses against brute-force enumeration
    # of all N^T joint scores. The face emits path_str (not array<int>) so
    # the driver's canonicalizer can sort/hash it — the r7 defect.
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import viterbi_topk_face
    from baum_welch_spark.operators.sequences import build_sequences

    (events,) = _tables(spark, sf, "events")
    return viterbi_topk_face(
        spark, build_sequences(events), HMM.random(4, 5, seed=42), k=3
    )


def _q_hmm_fit_semisup(spark, sf):
    # rows-only by nature (EM loop); pytest pins both degenerate ends
    # (all-labeled == closed-form counting, all-unlabeled == plain fit)
    # and mixed-objective monotonicity (tests/test_semisup.py)
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import viterbi_decode
    from baum_welch_spark.hmm.semisup import fit_semisupervised
    from baum_welch_spark.operators.sequences import build_sequences
    from pyspark.sql import functions as F

    (events,) = _tables(spark, sf, "events")
    seqs = build_sequences(events)
    label_model = HMM.random(4, 5, seed=42)
    dec = viterbi_decode(spark, seqs, label_model).select(
        "seq_id", F.col("path").alias("states")
    )
    mixed = seqs.join(dec, "seq_id").withColumn(
        "states",
        F.when(F.col("seq_id") % 3 == 0, F.col("states")).otherwise(F.lit(None)),
    )
    res = fit_semisupervised(spark, mixed, HMM.random(4, 5, seed=7), max_iter=2)
    return res.model.to_df(spark)


def _q_cdc_apply_batch(spark, sf):
    from baum_welch_spark.streaming.upsert import cdc_apply_batch_face

    return cdc_apply_batch_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_ivm_segment_stats(spark, sf):
    # DuckDB-exact: incremental materialized-view maintenance — the agg
    # state folds touched-bucket-only deltas through the per-year CDC
    # apply and must land exactly on the oracle's full recompute
    from baum_welch_spark.streaming.upsert import ivm_segment_stats_face

    return ivm_segment_stats_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_ivm_stream_segment_stats(spark, sf):
    # DuckDB-exact (r10, VERDICT-r9 #6): the STREAMING IVM path — the same
    # change-log replayed through apply_cdc_stream_ivm (file-source
    # micro-batches, gen-fenced foreachBatch fold+merge, checkpoint) must
    # land the final aggregate state on the identical full-recompute
    # oracle as the batch ivm_segment_stats face
    from baum_welch_spark.streaming.upsert import ivm_stream_segment_stats_face

    # width pinned to 8 explicitly (ADVICE r13): this face's stream is the
    # CDC change-log derived from customer/orders — one tiny per-year batch
    # at ANY SF, never volume-proportional to events.parquet — so the
    # per-micro-batch foreachBatch fold must not inherit the events-sized
    # width (8.8 vs 10.7 s warm at sf0.1, and the gap widens with SF)
    with _stateful_width(spark, n=8):
        return ivm_stream_segment_stats_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_cdc_time_travel(spark, sf):
    # DuckDB-exact: versioned time-travel — the same per-year CDC apply
    # with a full retention horizon, read back at the version covering
    # only the first two applied years; later generations exist on disk
    # but must be invisible to the historical read
    from baum_welch_spark.streaming.upsert import cdc_time_travel_face

    return cdc_time_travel_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_cdc_changes(spark, sf):
    # DuckDB-exact: change-data-feed between two retained versions —
    # snapshot_diff reads ONLY buckets whose generation pointer differs
    # between the two version manifests; oracle = full-outer diff of the
    # two year-capped LWW states
    from baum_welch_spark.streaming.upsert import cdc_changes_face

    return cdc_changes_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_cdc_compact(spark, sf):
    # DuckDB-exact (r9): compact_snapshot mid-change-log — full re-bucket
    # 4 -> 8 after the first year batch, later merges omit n_buckets (the
    # manifest-stored post-compaction modulus must win); final state equals
    # the same global LWW oracle as cdc_apply_batch, so compaction is
    # provably invisible to readers
    from baum_welch_spark.streaming.upsert import cdc_compact_face

    return cdc_compact_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_asset_frame_plan(spark, sf):
    # DuckDB-exact (r9; durations updated r12): the video frame-sampling
    # PLAN is pure Catalyst (sequence + explode_outer over
    # meta.duration_ms) and the synthetic asset table's durations are a
    # closed form — video rows are i % 3 = 2 with TRUE clip length
    # 250 ms * (4 + base % 5) frames at 4 fps, base = i - 9 for the
    # planted near-dups (r12: video payloads are real Y4M, so duration_ms
    # now states the actual frame count) — so the oracle reconstructs the
    # exact expansion with unnest(range())
    from baum_welch_spark.operators.multimodal import (
        frame_sample_plan,
        synthetic_assets,
    )
    from pyspark.sql import functions as F

    assets = synthetic_assets(spark, n=96, seed=42)
    return frame_sample_plan(assets, every_ms=250).select(
        "asset_id", F.col("frame_ms").cast("long").alias("frame_ms")
    )


ASSET_FRAME_PLAN_SQL = """
SELECT i AS asset_id,
       unnest(range(0, 250 * (4 + ((CASE WHEN i % 10 = 9 AND i >= 9 THEN i - 9 ELSE i END) % 5)) + 1, 250)) AS frame_ms
FROM range(96) r(i) WHERE i % 3 = 2
"""


def _q_asset_resize(spark, sf):
    # rows-only by nature (binary payloads): batch image resize through
    # the REAL PPM/PNG codecs — decode, nearest-neighbor 8x8 resample,
    # re-encode in the input's own format — projected to a scalar schema
    # (payload bytes -> sha256) for driver canonicalization; pixel-level
    # correctness is pytest-pinned (tests/test_operators.py resize block)
    from baum_welch_spark.operators.multimodal import (
        resize_images,
        synthetic_assets,
    )
    from pyspark.sql import functions as F

    assets = synthetic_assets(spark, n=96, seed=42)
    return resize_images(assets, out_h=8, out_w=8).select(
        "asset_id", "width", "height", F.sha2("payload", 256).alias("payload_sha256")
    )


def _q_ghmm_loglik_trace(spark, sf):
    # DuckDB-exact (r13): the Gaussian EM loop's per-iteration LIKELIHOOD
    # evidence — per-(lap, sequence) marginal loglik under the CHAINED
    # models (lap 2's model = lap 1's rounded re-estimate derived inside
    # DuckDB), the driver-exact graduation of ghmm_trace's rows-only
    # monotone check. Per-sequence (not corpus-total) logliks keep the
    # sums in the sequential Sum log c_t order both engines share — the
    # convergence trace the reference's driver reads per iteration
    # (BaumWelchDriver.java:196-207).
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        ghmm_loglik_trace,
    )

    (events,) = _tables(spark, sf, "events")
    return ghmm_loglik_trace(
        spark,
        build_value_sequences(events),
        GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0),
        n_iters=2,
    )


def _q_ghmm_trace(spark, sf):
    # rows-only by nature (EM loop): the per-iteration total log-likelihood
    # trace of the Gaussian-emission fit — oracle-adjacent evidence for the
    # EM loop beyond the 1e-8 sequential pytest (the monotone-loglik
    # property is ALSO asserted in-face: a non-monotone trace raises here
    # rather than silently shipping rows)
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        fit_gaussian,
    )

    (events,) = _tables(spark, sf, "events")
    res = fit_gaussian(
        spark,
        build_value_sequences(events),
        GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0),
        max_iter=3,
    )
    t = res.loglik_trace
    # RELATIVE tolerance: total logliks scale with the corpus (~1e6+ at
    # sf0.1), where partition-order float-summation noise alone exceeds
    # any fixed absolute epsilon on a near-plateau iteration
    if any(b < a - 1e-9 * max(1.0, abs(a)) for a, b in zip(t, t[1:])):
        raise AssertionError(f"non-monotone EM loglik trace: {t}")
    return spark.createDataFrame(
        [(i + 1, round(ll, 6)) for i, ll in enumerate(t)],
        schema="iteration int, loglik double",
    )


def _q_cdc_schema_evolution(spark, sf):
    # DuckDB-exact (r9): schema evolution + partial updates — the
    # year-2000 batch widens the snapshot with an okey column, year-2001
    # updates bal only (okey preserved on matched rows, NULL on inserts,
    # reset by delete + re-insert); oracle recomputes the per-column-LWW
    # semantics relationally
    from baum_welch_spark.streaming.upsert import cdc_schema_evolution_face

    return cdc_schema_evolution_face(spark, *_tables(spark, sf, "customer", "orders"))


def _q_knn_ivfpq_query(spark, sf):
    # rows-only by nature (k-means + residual-PQ training); unlike
    # knn_ivfpq this face PERSISTS the index (codes partitioned by cell)
    # and answers through the prebuilt-index serving path, whose probe
    # scan partition-prunes (tests/test_pq.py pins the pruned plan)
    from baum_welch_spark.operators.pq import ivfpq_serve_face

    return ivfpq_serve_face(spark, *_tables(spark, sf, "embeddings"))


def _q_ghmm_viterbi(spark, sf):
    # DuckDB-exact: the Gaussian-emission Viterbi DP as a recursive CTE
    # with the log-density computed inline from literals (hmm/gaussian.py)
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        viterbi_gauss_face,
    )

    (events,) = _tables(spark, sf, "events")
    return viterbi_gauss_face(
        spark, build_value_sequences(events), GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    )


def _q_ghmm_score(spark, sf):
    # DuckDB-exact: scaled forward recursion with exp(log-density) inline
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        score_gauss_face,
    )

    (events,) = _tables(spark, sf, "events")
    return score_gauss_face(
        spark, build_value_sequences(events), GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    )


def _q_ghmm_reestimate(spark, sf):
    # DuckDB-exact (r10, VERDICT-r9 #3): one Gaussian soft-EM re-estimation
    # step from a fixed model — γ/ξ window-normalized counts plus the
    # closed-form mu/var from the Σγ/Σγx/Σγx² moment stripes, pinned
    # end-to-end against the recursive forward/backward CTEs with the
    # log-density inline (graduates ghmm_fit's E-step evidence to exact)
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        ghmm_reestimate,
    )

    (events,) = _tables(spark, sf, "events")
    return ghmm_reestimate(
        spark, build_value_sequences(events), GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0)
    )


def _q_ghmm_fit(spark, sf):
    # rows-only by nature (EM loop); pytest pins distributed == sequential
    # NumPy oracle at 1e-8 and monotone loglik (tests/test_gaussian.py)
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        build_value_sequences,
        fit_gaussian,
    )

    (events,) = _tables(spark, sf, "events")
    res = fit_gaussian(
        spark,
        build_value_sequences(events),
        GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0),
        max_iter=3,
    )
    return res.model.to_df(spark)


def _q_ivfpq_append(spark, sf):
    # rows-only by nature (k-means + residual-PQ training); the full
    # serving lifecycle under the driver: build on even vec_ids, append
    # the odd half with frozen codebooks, search the grown index. pytest
    # pins untouched-code-file byte-identity and appended-vector recall
    from baum_welch_spark.operators.pq import ivfpq_append_face

    return ivfpq_append_face(spark, *_tables(spark, sf, "embeddings"))


def _q_windowed_counts_stream(spark, sf):
    """Tumbling-window counts through the REAL Structured Streaming path
    (file-source micro-batches, watermark, complete mode over the finite
    source); DuckDB-exact against the epoch-floor batch twin — window
    starts emitted as BIGINT micros so no timestamp canonicalization is
    involved (r11 graduation, same recipe as spend_alerts_stream)."""
    from baum_welch_spark.streaming.sessionize import (
        run_to_memory,
        stream_events,
        windowed_event_counts,
    )

    with _stateful_width(spark, sf):
        stream = windowed_event_counts(stream_events(spark, sf), window="5 minutes")
        run_to_memory(stream, "windowed_counts_face", output_mode="complete")
    return spark.sql(
        "SELECT unix_micros(w_start) AS w_start_us, event_type, n, total_value "
        "FROM windowed_counts_face ORDER BY 1, 2"
    )


def _q_sessions_stream(spark, sf):
    """Event-time gap-sessionization through the REAL Structured Streaming
    path (session_window + watermark, complete mode over the finite
    source); DuckDB-exact against the lag/running-sum batch twin with the
    session_window merge rule (break on >= gap; end = last ts + gap).
    Boundaries emitted as BIGINT micros; totals rounded to 4 (2-decimal
    inputs sit >= 0.0049 from any rounding boundary, so streaming partial-
    merge order cannot flip the hash)."""
    from baum_welch_spark.streaming.sessionize import (
        run_to_memory,
        session_agg,
        stream_events,
    )

    with _stateful_width(spark, sf):
        stream = session_agg(stream_events(spark, sf), gap="30 minutes", watermark="1 hour")
        run_to_memory(stream, "sessions_face", output_mode="complete")
    return spark.sql(
        "SELECT user_id, unix_micros(session_start) AS start_us, "
        "unix_micros(session_end) AS end_us, n_events, "
        "round(total_value, 4) AS total_value "
        "FROM sessions_face ORDER BY user_id, start_us"
    )


def _q_view_purchase_stream_join(spark, sf):
    """Stream-stream interval join through the real readStream path (both
    sides watermarked, append mode): an INNER stream-stream join emits each
    pair on match — the watermark only bounds state — so the finite-source
    result is exactly the batch interval join (r11 graduation; DuckDB twin
    in streaming/join.py). Timestamps emitted as BIGINT micros."""
    from baum_welch_spark.streaming.join import view_purchase_stream_join
    from baum_welch_spark.streaming.sessionize import run_to_memory, stream_events

    # 120-minute correlation window: the sparse synthetic stream yields 65
    # pairs at sf0.01 (5 min gives only 2 — too thin to pin the bounds).
    # Width pinned to 8 (see _stateful_width: a stream-stream join spins
    # FOUR state stores per shuffle partition per micro-batch — 73 s at
    # width 32 vs ~9 s at 8 for the same 713 rows at sf0.1).
    with _stateful_width(spark, sf):
        stream = view_purchase_stream_join(stream_events(spark, sf), window_minutes=120)
        run_to_memory(stream, "view_purchase_join_face", output_mode="append")
    return spark.sql(
        "SELECT purchase_id, user_id, view_id, unix_micros(v_ts) AS v_ts_us, "
        "unix_micros(p_ts) AS p_ts_us FROM view_purchase_join_face "
        "ORDER BY purchase_id, view_id"
    )


def _q_score_stream(spark, sf):
    """Incremental HMM scoring through the real readStream path
    (applyInPandasWithState: per-user scaled-forward alpha held in O(N)
    state, update mode) — the streaming twin of the reference's core
    scoring surface, DuckDB-exact against the SAME recursive forward-CTE
    oracle as the batch seq_scores face (r11 graduation). The final
    per-user row (max t_len) must equal the batch forward log-likelihood;
    n_late is 0 on the in-order finite source."""
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.operators.sequences import symbol_dict
    from baum_welch_spark.sources.io import load_table
    from baum_welch_spark.streaming.score import score_stream
    from baum_welch_spark.streaming.sessionize import run_to_memory, stream_events

    sym = symbol_dict(load_table(spark, sf, "events"))
    model = HMM.random(4, len(sym), seed=42)
    with _stateful_width(spark, sf):
        stream = score_stream(stream_events(spark, sf), model, sym)
        run_to_memory(stream, "score_stream_face", output_mode="update")
    return spark.sql(
        "SELECT user_id, t_len, round(loglik, 6) AS loglik, n_late FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t_len DESC) AS rn"
        "  FROM score_stream_face) WHERE rn = 1 ORDER BY user_id"
    )


def _q_spend_alerts(spark, sf):
    """Stateful streaming alerts (streaming/alerts.py spend_alert_stream:
    applyInPandasWithState) driven to completion over the finite file
    source; DuckDB-exact against the batch first-crossing window (the
    stream==batch equivalence is additionally pytest-pinned in
    test_streaming.py::test_spend_alert_stream_matches_batch_first_crossing)."""
    from baum_welch_spark.streaming.alerts import spend_alert_stream
    from baum_welch_spark.streaming.sessionize import run_to_memory, stream_events

    with _stateful_width(spark, sf):
        stream = spend_alert_stream(stream_events(spark, sf), threshold=500.0)
        run_to_memory(stream, "spend_alerts_face", output_mode="append")
    return spark.sql(
        "SELECT user_id, event_id, total_after FROM spend_alerts_face "
        "ORDER BY user_id"
    )


SPEND_ALERTS_SQL = """
SELECT user_id, event_id, total_after FROM (
  SELECT user_id, event_id, round(cum, 4) AS total_after,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM (
    SELECT user_id, ts, event_id,
           sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM events WHERE event_type = 'purchase')
  WHERE cum >= 500.0
) WHERE rn = 1
ORDER BY user_id
"""


def _q_hmm_online(spark, sf):
    # rows-only by nature (stepwise-EM training loop); pytest pins the
    # >=60%-of-batch-EM loglik-gain bar (tests/test_online.py)
    from baum_welch_spark.hmm.online import online_fit_face

    return online_fit_face(spark, *_tables(spark, sf, "events"))


def _q_hmm_fit_bakis(spark, sf):
    # rows-only by nature (EM loop); pytest proves masked entries stay
    # exactly zero and the masked fit matches the sequential oracle at
    # 1e-8 (tests/test_fit.py Bakis block)
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import fit
    from baum_welch_spark.operators.sequences import build_sequences, symbol_dictionary

    (events,) = _tables(spark, sf, "events")
    n_observed = symbol_dictionary(events, "event_type").count()
    mask = HMM.bakis_mask(4, bandwidth=2)
    init = HMM.random_masked(4, n_observed, mask, seed=42)
    res = fit(spark, build_sequences(events), init, max_iter=2, topology_mask=mask)
    return res.model.to_df(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ORDER MATTERS: the driver's correctness harness checks the FIRST 50
        # entries only. RULE (VERDICT-r5, enforced by tests/test_face_manifest.py):
        # any face whose code changes, and any NEW face, must be inside the
        # window the round it ships.
        #
        # The 27 HMM faces of the next four blocks all re-hashed again when
        # every batched kernel moved onto the packed time-major layout
        # (kernel.pack, which replaced the padded octave buckets named
        # below); each is oracle-exact after the change (tools/check_oracle.py,
        # sf0.01 and sf0.001).
        #
        # Batched-decode block: the faces whose source hash changed when the
        # Viterbi decode, scoring and grouped-decode operators moved onto the
        # length-bucketed batch kernels (kernel.viterbi_batch/loglik_batch).
        # Each is oracle-exact after the change (tools/check_oracle.py, sf0.01
        # and sf0.001) or, for grouped_decode (rows-only), pinned against the
        # broadcast decoder by tests/test_grouped.py. viterbi_reestimate and
        # hmm_fit_semisup re-hashed too and already sit in the EM block below.
        # viterbi_topk re-hashed when its batched list-Viterbi took on the
        # shared range-checked padding (kernel._padded_buckets).
        "viterbi_decode": _q_viterbi_decode,
        "seq_scores": _q_seq_scores,
        "grouped_decode": _q_grouped_decode,
        "viterbi_topk": _q_viterbi_topk,
        # Posterior block: posterior_decode and state_occupancy re-hashed when
        # they took the shared symbol range check (kernel.check_symbols) and
        # a NULL result for a zero-probability sequence; hmm_fit_grouped when
        # the batched E-step it trains with (kernel.e_step_counts_batch) took
        # its buckets from kernel._padded_buckets (counts bitwise unchanged).
        "posterior_decode": _q_posterior_decode,
        "state_occupancy": _q_state_occupancy,
        "hmm_fit_grouped": _q_hmm_fit_grouped,
        # One-kernel block: the posterior, sampling and entropy operators and
        # the Gaussian decode/score moved onto kernel.forward_backward_batch /
        # loglik_batch / viterbi_batch (one batched DP per algorithm for both
        # emission families). Every face above re-hashed with them; these
        # four rotated in from below the window. Each is oracle-exact after
        # the change (tools/check_oracle.py, sf0.01 and sf0.001).
        "posterior_sample": _q_posterior_sample,
        "posterior_entropy": _q_posterior_entropy,
        "ghmm_viterbi": _q_ghmm_viterbi,
        "ghmm_score": _q_ghmm_score,
        # EM-engine block: the 16 faces whose source hash changed when every
        # trainer moved onto the one EM loop and stripe codec (hmm/em.py).
        # Each is oracle-exact after the change (tools/check_oracle.py, sf0.01
        # and sf0.001) or, for the rows-only trainers, pinned by its parity
        # pytest. Chained-lap and one-step re-estimation faces (DuckDB-exact):
        "em_trace": _q_em_trace,
        "ghmm_em_trace": _q_ghmm_em_trace,
        "ghmm_loglik_trace": _q_ghmm_loglik_trace,
        "em_reestimate": _q_em_reestimate,
        "viterbi_reestimate": _q_viterbi_reestimate,
        "ghmm_reestimate": _q_ghmm_reestimate,
        "em_reestimate_grouped": _q_em_reestimate_grouped,
        # rows-only trainers on the shared loop (each named with its non-SQL
        # pin in tests/test_lint.py::test_driver_window_stays_oracle_dense):
        "ghmm_fit": _q_ghmm_fit,
        "ghmm_trace": _q_ghmm_trace,
        "hmm_fit": _q_hmm_fit,
        "hmm_fit_bakis": _q_hmm_fit_bakis,
        "hmm_fit_semisup": _q_hmm_fit_semisup,
        "hmm_online": _q_hmm_online,
        "hmm_fit_grouped_dist": _q_hmm_fit_grouped_dist,
        "hmm_select": _q_hmm_select,
        "hmm_fit_restarts": _q_hmm_fit_restarts,
        # Model-codec block: HMM's model table moved onto the stripe codec
        # (HMM.blocks / from_blocks through em.encode / em.decode), which
        # re-hashes every face whose closure holds the HMM class. These two
        # rotated in from below the window; both are oracle-exact after the
        # change (tools/check_oracle.py, sf0.01 and sf0.001).
        "score_stream": _q_score_stream,
        "hmm_generate": _q_hmm_generate,
        # r15 window residents, code-unchanged since their r15 evidence, keep
        # their slots up to the 50 cap (the TPC-H/spend block, the rows-only
        # IVF-PQ serving family, bm25_topk / hybrid_search /
        # neardup_incremental, kmeans_parity, knn_ivf / basket_rules /
        # doc_quality, then simhash / copy_spans / ivm_segment_stats /
        # knn_brute and then cdc_time_travel / convergence_distance rotated
        # out to make room):
        "pca_power_parity": _q_pca_power_parity,
        "logreg_gd_parity": _q_logreg_gd_parity,
        "decontaminate_bloom": _q_decontaminate_bloom,
        "bpe_merges": _q_bpe_merges,
        "ivm_stream_segment_stats": _q_ivm_stream_segment_stats,
        "neardup_jaccard": _q_neardup_jaccard,
        "neardup_containment": _q_neardup_containment,
        "dedup_clusters": _q_dedup_clusters,
        "canonical_docs": _q_canonical_docs,
        "leakage_split": _q_leakage_split,
        "clean_corpus": _q_clean_corpus,
        "prepare_training_corpus": _q_prepare_training_corpus,
        "ppl_filter": _q_ppl_filter,
        "bigram_lm_score": _q_bigram_lm_score,
        "pagerank_docs": _q_pagerank_docs,
        "triangle_docs": _q_triangle_docs,
        "label_prop_docs": _q_label_prop_docs,
        "cdc_apply_batch": _q_cdc_apply_batch,
        "cdc_changes": _q_cdc_changes,
        "cdc_compact": _q_cdc_compact,
        "cdc_schema_evolution": _q_cdc_schema_evolution,
        # ---- the 50-entry correctness window ends here. Below: faces
        # verified green in earlier rounds and code-unchanged since (face-hash
        # manifest), headed by those displaced from the window this round.
        "cdc_time_travel": _q_cdc_time_travel,
        "convergence_distance": _q_model_half_distance,
        "simhash": _q_simhash,
        "copy_spans": _q_copy_spans,
        "ivm_segment_stats": _q_ivm_segment_stats,
        "knn_brute": _q_knn_brute,
        "knn_ivf": _q_knn_ivf,
        "basket_rules": _q_basket_rules,
        "doc_quality": _q_doc_quality,
        "kmeans_parity": _q_kmeans_parity,
        "bm25_topk": _q_bm25_topk,
        "hybrid_search": _q_hybrid_search,
        "neardup_incremental": _q_neardup_incremental,
        "q1_pricing_summary": _q_q1,
        "q3_top_orders": _q_q3,
        "q5_region_revenue": _q_q5,
        "q10_returned_revenue": _q_q10,
        "q14_promo_share": _q_q14,
        "user_spend_rank": _q_user_spend_rank,
        "user_spend_deciles": _q_user_spend_deciles,
        "cohort_retention": _q_cohort_retention,
        "knn_ivfpq": _q_knn_ivfpq,
        "knn_ivfpq_query": _q_knn_ivfpq_query,
        "ivfpq_append": _q_ivfpq_append,
        "ewma_user_spend": _q_ewma_user_spend,
        "cosine_neardup_lsh": _q_cosine_neardup_lsh,
        "minhash_lsh": _q_minhash,
        "trigram_lm_score": _q_trigram_lm_score,
        "asset_neardup": _q_asset_neardup,
        "emb_covariance": _q_emb_covariance,
        "normalize": _q_transition_model,
        "lineitem_stats": _q_lineitem_stats,
        "merge_upsert": _q_merge_upsert,
        "q13_customer_distribution": _q_q13,
        "q15_top_supplier": _q_q15,
        "q17_small_quantity_revenue": _q_q17,
        "q18_large_volume_customers": _q_q18,
        "q19_bracket_revenue": _q_q19,
        "q22_dormant_customers": _q_q22,
        "q7_volume_shipping": _q_q7,
        "q8_market_share": _q_q8,
        "scd2_history": _q_scd2_history,
        "seq_build": _q_seq_build,
        "seq_decode_names": _q_seq_decode_names,
        "stripe_agg": _q_transition_counts,
        "time_bucket_interpolate": _q_time_bucket_interpolate,
        "emb_standardize": _q_emb_standardize,
        "ewma_spend_stream": _q_ewma_spend_stream,
        "spend_alerts_stream": _q_spend_alerts,
        "view_purchase_stream_join": _q_view_purchase_stream_join,
        "windowed_counts_stream": _q_windowed_counts_stream,
        "sessions_stream": _q_sessions_stream,
        "hll_distinct_stream": _q_hll_distinct_stream,
        "q9_product_profit": _q_q9_product_profit,
        "bucketed_segment_spend": _q_bucketed_segment_spend,
        "decontaminate_spans": _q_decontaminate_spans,
        "top_event_per_user": _q_top_event,
        "user_type_stats": _q_user_type_stats,
        "value_quantiles": _q_value_quantiles,
        "viewers_no_purchase": _q_viewers_no_purchase,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "q11_important_stock": _q_q11_important_stock,
        "corpus_report": _q_corpus_report,
        "cosine_neardup": _q_cosine_neardup,
        "dup_ngrams": _q_dup_ngrams,
        "emb_norms": _q_emb_norms,
        "line_dedup": _q_line_dedup,
        "mad_outliers": _q_mad_outliers,
        "mixture_sample": _q_mixture_sample,
        "ohlc_bars": _q_ohlc_bars,
        "pii_redact": _q_pii_redact,
        "rolling_user_spend": _q_rolling_user_spend,
        "salted_join_segment_stats": _q_salted_join_segment_stats,
        "semantic_dedup": _q_semantic_dedup,
        "sessionize": _q_sessionize,
        "temperature_mixture": _q_temperature_mixture,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "time_bucket_gapfill": _q_time_bucket_gapfill,
        "vocab_topk": _q_vocab_topk,
        "vocab_topk_cms": _q_vocab_topk_cms,
        "weighted_sample": _q_weighted_sample,
        "zorder_events": _q_zorder_events,
        "q2_min_cost_supplier": _q_q2_min_cost_supplier,
        "q16_supplier_count": _q_q16_supplier_count,
        "q20_excess_stock": _q_q20_excess_stock,
        "asset_frame_plan": _q_asset_frame_plan,
        "asset_resize": _q_asset_resize,
        "knn_ivf_kmeans": _q_knn_ivf_kmeans,
        "value_approx_quantiles": _q_value_approx_quantiles,
        "asof_purchase_view": _q_asof,
        "bpe_token_stats": _q_bpe_token_stats,
        "cap_per_source": _q_cap_per_source,
        "chunk_documents": _q_chunk_documents,
        "copy_pairs": _q_copy_pairs,
        "customers_without_orders": _q_customers_without_orders,
        "daily_revenue_ma7": _q_daily_revenue_ma7,
        "dedup_exact": _q_dedup_exact,
        "doc_fingerprint": _q_fingerprint,
        "event_pivot": _q_event_pivot,
        "events_cube": _q_events_cube,
        "events_rollup": _q_events_rollup,
        "fingerprint_clusters": _q_fingerprint_clusters,
        "lang_id": _q_lang_id,
        "pack_sequences": _q_pack_sequences,
        "props_k_stats": _q_props_k_stats,
        "purchase_view_context": _q_purchase_view_context,
        "q4_late_orders": _q_q4,
        "q6_forecast_revenue": _q_q6,
        "repeat_buyer_days": _q_repeat_buyer_days,
        "repetition_stats": _q_repetition_stats,
        "salted_value_stats": _q_salted_value_stats,
        "stratified_sample": _q_stratified_sample,
        "token_stats": _q_token_stats,
        "decontaminate": _q_decontaminate,
        "hll_overlap_custs": _q_hll_overlap_custs,
        "hll_distinct_users": _q_hll_distinct_users,
        "value_sampled_quantiles": _q_value_sampled_quantiles,
        "q12_late_priority": _q_q12_late_priority,
        "q21_waiting_suppliers": _q_q21_waiting_suppliers,
        "dq_report_orders": _q_dq_report,
        "skew_report_events": _q_skew_report,
        "emb_pca": _q_emb_pca,
        "quality_classifier": _q_quality_classifier,
        "knn_pq": _q_knn_pq,
        "compression_ratio": _q_compression_ratio,
        "knn_quantized": _q_knn_quantized,
        "emb_quantize": _q_emb_quantize,
        "linreg_price": _q_linreg_price,
        "funnel_conversion": _q_funnel_conversion,
        "linreg_multi": _q_linreg_multi,
        "neardup_edit": _q_neardup_edit,
        "trending_topk": _q_trending_topk,
        "approx_distinct_users": _q_approx_distinct_users,
    }


def _windowed_counts_stream_sql() -> str:
    from baum_welch_spark.streaming.sessionize import WINDOWED_COUNTS_STREAM_SQL

    return WINDOWED_COUNTS_STREAM_SQL


def _sessions_stream_sql() -> str:
    from baum_welch_spark.streaming.sessionize import sessions_stream_sql

    return sessions_stream_sql(gap_minutes=30)


def _score_stream_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import score_oracle_sql

    inner = score_oracle_sql(HMM.random(4, 5, seed=42))
    return (
        "SELECT seq_id AS user_id, t_len, loglik, CAST(0 AS BIGINT) AS n_late "
        f"FROM ({inner}) ORDER BY user_id"
    )


def _view_purchase_join_sql() -> str:
    from baum_welch_spark.streaming.join import view_purchase_join_sql

    return view_purchase_join_sql(window_minutes=120)


def _cdc_apply_batch_sql() -> str:
    from baum_welch_spark.streaming.upsert import CDC_APPLY_BATCH_SQL

    return CDC_APPLY_BATCH_SQL


def _cdc_compact_sql() -> str:
    from baum_welch_spark.streaming.upsert import CDC_COMPACT_SQL

    return CDC_COMPACT_SQL


def _cdc_schema_evolution_sql() -> str:
    from baum_welch_spark.streaming.upsert import CDC_SCHEMA_EVOLUTION_SQL

    return CDC_SCHEMA_EVOLUTION_SQL


def _ivm_segment_stats_sql() -> str:
    from baum_welch_spark.streaming.upsert import IVM_SEGMENT_STATS_SQL

    return IVM_SEGMENT_STATS_SQL


def _cdc_time_travel_sql() -> str:
    from baum_welch_spark.streaming.upsert import CDC_TIME_TRAVEL_SQL

    return CDC_TIME_TRAVEL_SQL


def _cdc_changes_sql() -> str:
    from baum_welch_spark.streaming.upsert import CDC_CHANGES_SQL

    return CDC_CHANGES_SQL


def oracle_sql() -> dict[str, str]:
    from baum_welch_spark.operators import (
        anomaly,
        asof,
        basket,
        classifier,
        clustering,
        communities,
        corpus,
        dedup,
        dq,
        fusion,
        graph,
        layout,
        linalg,
        markov,
        merge,
        packing,
        quality,
        rangejoin,
        relational,
        retrieval,
        sketches,
        similarity,
        skew,
        text,
        timeseries,
    )
    from baum_welch_spark.sources import bucketing

    return {
        "q6_forecast_revenue": relational.Q6_SQL,
        "event_pivot": relational.EVENT_PIVOT_SQL,
        "events_rollup": relational.EVENTS_ROLLUP_SQL,
        "asof_purchase_view": asof.PURCHASES_LAST_VIEW_SQL,
        "viewers_no_purchase": relational.VIEWERS_NO_PURCHASE_SQL,
        "value_quantiles": relational.VALUE_QUANTILES_SQL,
        "seq_build": markov.SEQ_BUILD_SQL,
        "stripe_agg": markov.TRANSITION_COUNTS_SQL,
        "normalize": markov.TRANSITION_MODEL_SQL,
        "convergence_distance": markov.MODEL_HALF_DISTANCE_SQL,
        "seq_decode_names": markov.SEQ_DECODE_NAMES_SQL,
        "q1_pricing_summary": relational.Q1_SQL,
        "q3_top_orders": relational.Q3_SQL,
        "q5_region_revenue": relational.Q5_SQL,
        "top_event_per_user": relational.TOP_EVENT_SQL,
        "sessionize": relational.sessionize_sql(),
        "dedup_exact": dedup.EXACT_DEDUP_SQL,
        "fingerprint_clusters": dedup.FINGERPRINT_CLUSTERS_SQL,
        "neardup_jaccard": dedup.NEARDUP_JACCARD_SQL,
        "neardup_containment": dedup.NEARDUP_CONTAINMENT_SQL,
        "neardup_edit": dedup.NEARDUP_EDIT_SQL,
        "token_stats": text.TOKEN_STATS_SQL,
        "doc_quality": text.DOC_QUALITY_SQL,
        "lang_id": text.LANG_ID_SQL,
        "doc_fingerprint": text.FINGERPRINT_SQL,
        "winnow_fingerprints": text.WINNOW_FINGERPRINTS_SQL,
        "copy_spans": text.COPY_SPANS_SQL,
        "decontaminate_spans": text.DECONTAMINATE_SPANS_SQL,
        "time_bucket_interpolate": relational.TIME_BUCKET_INTERPOLATE_SQL,
        "lineitem_stats": relational.LINEITEM_STATS_SQL,
        "copy_pairs": text.COPY_PAIRS_SQL,
        "bpe_token_stats": text.BPE_TOKEN_STATS_SQL,
        "repetition_stats": quality.REPETITION_STATS_SQL,
        "pii_redact": quality.PII_REDACT_SQL,
        "line_dedup": quality.LINE_DEDUP_SQL,
        "pack_sequences": packing.PACK_SEQUENCES_SQL,
        "chunk_documents": packing.CHUNK_DOCUMENTS_SQL,
        "mixture_sample": _mixture_sql(),
        "semantic_dedup": similarity.SEMANTIC_DEDUP_SQL,
        "bm25_topk": retrieval.BM25_TOPK_SQL,
        "decontaminate_bloom": corpus.DECONTAMINATE_BLOOM_SQL,
        "zorder_events": layout.ZORDER_EVENTS_SQL,
        "vocab_topk_cms": sketches.VOCAB_TOPK_CMS_SQL,
        "basket_rules": basket.BASKET_RULES_SQL,
        "ewma_spend_stream": timeseries.EWMA_USER_SPEND_SQL,
        "hll_overlap_custs": sketches.HLL_OVERLAP_CUSTS_SQL,
        "hybrid_search": fusion.HYBRID_SEARCH_SQL,
        "label_prop_docs": communities.LABEL_PROP_DOCS_SQL,
        "ewma_user_spend": timeseries.EWMA_USER_SPEND_SQL,
        "bucketed_segment_spend": bucketing.BUCKETED_SEGMENT_SPEND_SQL,
        "hll_distinct_users": sketches.hll_distinct_users_sql(),
        # the streaming twin shares the batch oracle verbatim (registers
        # are order-insensitive maxes)
        "hll_distinct_stream": sketches.hll_distinct_users_sql(),
        "value_sampled_quantiles": _sampled_quantiles_sql(),
        "q12_late_priority": relational.Q12_SQL,
        "q21_waiting_suppliers": relational.Q21_SQL,
        "q2_min_cost_supplier": _partsupp_sql("Q2_SQL"),
        "q9_product_profit": _partsupp_sql("Q9_SQL"),
        "q11_important_stock": _partsupp_sql("Q11_SQL"),
        "q16_supplier_count": _partsupp_sql("Q16_SQL"),
        "q20_excess_stock": _partsupp_sql("Q20_SQL"),
        # emb_pca: rows-only by design (driver-side eigh is not SQL-expressible)
        "emb_covariance": linalg.EMB_COVARIANCE_SQL,
        "emb_standardize": linalg.EMB_STANDARDIZE_SQL,
        "linreg_price": linalg.LINREG_PRICE_SQL,
        "linreg_multi": linalg.LINREG_MULTI_SQL,
        "funnel_conversion": relational.FUNNEL_CONVERSION_SQL,
        "trending_topk": relational.TRENDING_TOPK_SQL,
        "canonical_docs": dedup._canonical_docs_sql(),
        "vocab_topk": corpus.VOCAB_TOPK_SQL,
        "bigram_lm_score": corpus.BIGRAM_LM_SCORE_SQL,
        "decontaminate": corpus.DECONTAMINATE_SQL,
        "tfidf_top_terms": corpus.TFIDF_TOP_TERMS_SQL,
        "time_bucket_gapfill": relational.TIME_BUCKET_GAPFILL_SQL,
        "clean_corpus": corpus._clean_corpus_sql(),
        # r11: the end-to-end corpus build (clean_corpus gates +
        # decontamination + cluster-whole split + dq invariant gate)
        "prepare_training_corpus": corpus.prepare_training_corpus_sql(),
        "cap_per_source": _cap_sql(),
        "weighted_sample": _weighted_sql(),
        "emb_norms": similarity.EMB_NORMS_SQL,
        "knn_brute": similarity.KNN_BRUTE_SQL,
        "cosine_neardup": similarity.COSINE_NEARDUP_SQL,
        "q4_late_orders": relational.Q4_SQL,
        "q10_returned_revenue": relational.Q10_SQL,
        "q14_promo_share": relational.Q14_SQL,
        "q15_top_supplier": relational.Q15_SQL,
        "q19_bracket_revenue": relational.Q19_SQL,
        "q7_volume_shipping": relational.Q7_SQL,
        "q8_market_share": relational.Q8_SQL,
        "q13_customer_distribution": relational.Q13_SQL,
        "q17_small_quantity_revenue": relational.Q17_SQL,
        "q18_large_volume_customers": relational.Q18_SQL,
        "q22_dormant_customers": relational.Q22_SQL,
        "merge_upsert": merge.MERGE_UPSERT_SQL,
        "scd2_history": merge.SCD2_HISTORY_SQL,
        "cdc_apply_batch": _cdc_apply_batch_sql(),
        # compaction is invisible to readers: same global-LWW oracle shape,
        # capped to the face's 2-year change-log
        "cdc_compact": _cdc_compact_sql(),
        "cdc_schema_evolution": _cdc_schema_evolution_sql(),
        "asset_frame_plan": ASSET_FRAME_PLAN_SQL,
        # time-travel: historical version == year-capped global LWW
        "cdc_time_travel": _cdc_time_travel_sql(),
        # CDF between versions == full-outer diff of two LWW states
        "cdc_changes": _cdc_changes_sql(),
        # fixed-count power iteration unrolled into plain CTE stages
        "pagerank_docs": graph.pagerank_docs_sql(),
        "triangle_docs": graph.triangle_docs_sql(),
        "neardup_incremental": dedup.MINHASH_INCREMENTAL_SQL,
        "mad_outliers": anomaly.MAD_OUTLIERS_SQL,
        "kmeans_parity": clustering.kmeans_parity_sql("duckdb"),
        "pca_power_parity": linalg.pca_power_parity_sql("duckdb"),
        "logreg_gd_parity": classifier.logreg_gd_parity_sql("duckdb"),
        "daily_revenue_ma7": relational.DAILY_REVENUE_MA7_SQL,
        "user_type_stats": relational.USER_TYPE_STATS_SQL,
        "purchase_view_context": rangejoin.PURCHASE_VIEW_CONTEXT_SQL,
        "salted_value_stats": skew.USER_VALUE_STATS_SALTED_SQL,
        "salted_join_segment_stats": skew.SEGMENT_VALUE_STATS_SQL,
        "state_occupancy": _occupancy_oracle(),
        "customers_without_orders": relational.CUSTOMERS_WITHOUT_ORDERS_SQL,
        "repeat_buyer_days": relational.REPEAT_BUYER_DAYS_SQL,
        "props_k_stats": relational.PROPS_K_STATS_SQL,
        "user_spend_rank": relational.USER_SPEND_RANK_SQL,
        "user_spend_deciles": relational.USER_SPEND_DECILES_SQL,
        "corpus_report": corpus.CORPUS_REPORT_SQL,
        "ohlc_bars": relational.OHLC_BARS_SQL,
        "trigram_lm_score": corpus.TRIGRAM_LM_SCORE_SQL,
        "ppl_filter": corpus._ppl_filter_sql(),
        "cohort_retention": relational.COHORT_RETENTION_SQL,
        "rolling_user_spend": relational.ROLLING_USER_SPEND_SQL,
        "events_cube": relational.EVENTS_CUBE_SQL,
        # DP oracles: the forward / Viterbi recursions as recursive CTEs with
        # the seed-42 model embedded as full-precision literals (decode.py)
        "seq_scores": _score_oracle(),
        "viterbi_decode": _viterbi_oracle(),
        # r11: k-best list-Viterbi as a recursive CTE carrying the (N, k)
        # score block plus forward path strings; rank-merge via list_sort of
        # (-score, flat-ordinal) structs reproduces the kernel's stable
        # argsort bitwise (viterbi_topk_oracle_sql)
        "viterbi_topk": _viterbi_topk_oracle(),
        "hmm_generate": _hmm_generate_oracle(),
        "posterior_sample": _posterior_sample_oracle(),
        # hard-EM re-estimation: shared Viterbi CTEs + relational counting
        "viterbi_reestimate": _viterbi_reestimate_oracle(),
        "em_reestimate": _em_reestimate_oracle(),
        "em_trace": _em_trace_oracle(),
        "ghmm_em_trace": _ghmm_em_trace_oracle(),
        # r13 graduations: the Gaussian loop's per-lap loglik trace and the
        # BPE trainer (all-integer greedy merges, unrolled-CTE oracle)
        "ghmm_loglik_trace": _ghmm_loglik_trace_oracle(),
        "bpe_merges": _bpe_merges_oracle(),
        "em_reestimate_grouped": _em_reestimate_grouped_oracle(),
        # posterior decode: forward+backward recursions as recursive CTEs,
        # same literal-model convention (hmm_generate stays rows-only —
        # sampling from λ is not SQL-expressible)
        "posterior_decode": _posterior_oracle(),
        # posterior path entropy: the Hernando H_t(j) recursion as a second
        # recursive CTE over the score oracle's alpha (DuckDB-exact since r8)
        "posterior_entropy": _entropy_oracle(),
        # Gaussian family (r8): the same recursive-CTE DPs with the
        # log-density computed inline from embedded literals
        "ghmm_viterbi": _ghmm_viterbi_oracle(),
        # IVM: incremental fold == full recompute over the LWW final state
        "ivm_segment_stats": _ivm_segment_stats_sql(),
        # r10: the STREAMING fold path shares the same recompute oracle
        "ivm_stream_segment_stats": _ivm_segment_stats_sql(),
        "ghmm_score": _ghmm_score_oracle(),
        # r10: the Gaussian E-step + closed-form M-step pinned end-to-end
        "ghmm_reestimate": _ghmm_reestimate_oracle(),
        "dup_ngrams": _dup_ngrams_sql(),
        "emb_quantize": _quantize_sql()[0],
        "knn_quantized": _quantize_sql()[1],
        "temperature_mixture": _temperature_sql(),
        # clustering oracle: recursive-CTE transitive closure over the exact
        # Jaccard pair set (dedup.py) — upgrades dedup_clusters from rows-only
        "dedup_clusters": dedup.DEDUP_CLUSTERS_SQL,
        "leakage_split": dedup.leakage_split_sql(),
        "skew_report_events": skew.skew_report_sql("events", ["user_id", "event_type"]),
        "spend_alerts_stream": SPEND_ALERTS_SQL,
        # r11 streaming graduations: windowed counts + gap sessions +
        # stream-stream interval join through the real readStream path,
        # batch twins in streaming/sessionize.py and streaming/join.py
        "windowed_counts_stream": _windowed_counts_stream_sql(),
        "sessions_stream": _sessions_stream_sql(),
        "view_purchase_stream_join": _view_purchase_join_sql(),
        # the streaming scorer shares the batch forward-CTE oracle
        "score_stream": _score_stream_oracle(),
        "dq_report_orders": dq.dq_report_sql(
            "orders",
            [dict(r, ref="customer") if r["rule"] == "fk" else r for r in _DQ_RULES],
        ),
        # portable-hash ops: exact because the base hash is MD5 bits, which
        # DuckDB reproduces verbatim (functions.columns.portable_hash60)
        "minhash_lsh": dedup.MINHASH_LSH_SQL,
        "simhash": dedup.SIMHASH_SQL,
        "stratified_sample": _sampling_sql(),
        "knn_ivf": similarity.KNN_IVF_SQL,
        "cosine_neardup_lsh": similarity.cosine_lsh_oracle_sql(),
        # remaining rows-only by design: hmm_fit / knn_ivf_kmeans (iterative
        # EM / Lloyd loops) and approx_distinct_users /
        # value_approx_quantiles (engine-specific sketches — their PORTABLE
        # twins hll_distinct_users / value_sampled_quantiles are hash-exact)
    }


def _sampling_sql() -> str:
    from baum_welch_spark.operators.sampling import STRATIFIED_SAMPLE_SQL

    return STRATIFIED_SAMPLE_SQL


def _sampled_quantiles_sql() -> str:
    from baum_welch_spark.operators.sampling import SAMPLED_QUANTILES_SQL

    return SAMPLED_QUANTILES_SQL


def _cap_sql() -> str:
    from baum_welch_spark.operators.sampling import CAP_PER_GROUP_SQL

    return CAP_PER_GROUP_SQL


def _weighted_sql() -> str:
    from baum_welch_spark.operators.sampling import WEIGHTED_SAMPLE_SQL

    return WEIGHTED_SAMPLE_SQL


def _mixture_sql() -> str:
    from baum_welch_spark.operators.sampling import MIXTURE_SAMPLE_SQL

    return MIXTURE_SAMPLE_SQL


def _score_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import score_oracle_sql

    return score_oracle_sql(HMM.random(4, 5, seed=42))


def _viterbi_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import viterbi_oracle_sql

    return viterbi_oracle_sql(HMM.random(4, 5, seed=42))


def _viterbi_topk_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import viterbi_topk_oracle_sql

    return viterbi_topk_oracle_sql(HMM.random(4, 5, seed=42), k=3)


def _viterbi_reestimate_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.viterbi_train import viterbi_reestimate_oracle_sql

    return viterbi_reestimate_oracle_sql(HMM.random(4, 5, seed=42))


def _hmm_generate_oracle() -> str:
    # same model/params as _q_hmm_generate; the SQL replays the counter-RNG
    # chains exactly (generate.py docstring has the bit-stability argument)
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.generate import generate_oracle_sql

    return generate_oracle_sql(HMM.random(4, 5, seed=42), 200, 20, 7)


def _em_reestimate_grouped_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import em_reestimate_oracle_sql

    return em_reestimate_oracle_sql(
        HMM.random(4, 5, seed=42), group_expr="('seg' || ({u} % 3))"
    )


def _posterior_sample_oracle() -> str:
    # same model/n_samples/seed as _q_posterior_sample; the descending
    # recursive CTE redraws every FFBS sample with the identical counter
    # uniforms (hmm/sample.py module docstring has the risk argument)
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.sample import ffbs_oracle_sql

    return ffbs_oracle_sql(HMM.random(4, 5, seed=42), n_samples=3)


def _em_reestimate_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import em_reestimate_oracle_sql

    return em_reestimate_oracle_sql(HMM.random(4, 5, seed=42))


def _partsupp_sql(name: str) -> str:
    from baum_welch_spark.operators import partsupp

    return getattr(partsupp, name)


def _em_trace_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.fit import em_trace_oracle_sql

    return em_trace_oracle_sql(HMM.random(4, 5, seed=42), n_iters=2)


def _ghmm_em_trace_oracle() -> str:
    from baum_welch_spark.hmm.gaussian import GaussianHMM, gauss_trace_oracle_sql

    return gauss_trace_oracle_sql(
        GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0), n_iters=2
    )


def _bpe_merges_oracle() -> str:
    from baum_welch_spark.operators.bpe import bpe_merges_oracle_sql

    return bpe_merges_oracle_sql(n_merges=20)


def _ghmm_loglik_trace_oracle() -> str:
    from baum_welch_spark.hmm.gaussian import (
        GaussianHMM,
        gauss_loglik_trace_oracle_sql,
    )

    return gauss_loglik_trace_oracle_sql(
        GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0), n_iters=2
    )


def _posterior_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import posterior_oracle_sql

    return posterior_oracle_sql(HMM.random(4, 5, seed=42))


def _occupancy_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import occupancy_oracle_sql

    return occupancy_oracle_sql(HMM.random(4, 5, seed=42))


def _entropy_oracle() -> str:
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.sample import entropy_oracle_sql

    return entropy_oracle_sql(HMM.random(4, 5, seed=42))


def _ghmm_viterbi_oracle() -> str:
    from baum_welch_spark.hmm.gaussian import GaussianHMM, gauss_viterbi_oracle_sql

    return gauss_viterbi_oracle_sql(GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0))


def _ghmm_score_oracle() -> str:
    from baum_welch_spark.hmm.gaussian import GaussianHMM, gauss_score_oracle_sql

    return gauss_score_oracle_sql(GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0))


def _ghmm_reestimate_oracle() -> str:
    from baum_welch_spark.hmm.gaussian import GaussianHMM, gauss_reestimate_oracle_sql

    return gauss_reestimate_oracle_sql(GaussianHMM.random(4, seed=42, lo=0.0, hi=500.0))


def _dup_ngrams_sql() -> str:
    from baum_welch_spark.operators.ngramaudit import DUP_NGRAMS_SQL

    return DUP_NGRAMS_SQL


def _quantize_sql() -> tuple[str, str]:
    from baum_welch_spark.operators.quantize import EMB_QUANTIZE_SQL, KNN_QUANTIZED_SQL

    return EMB_QUANTIZE_SQL, KNN_QUANTIZED_SQL


def _temperature_sql() -> str:
    from baum_welch_spark.operators.sampling import TEMPERATURE_MIXTURE_SQL

    return TEMPERATURE_MIXTURE_SQL
