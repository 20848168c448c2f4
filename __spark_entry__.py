"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-runnable ANSI SQL twins for the correctness gate.

Column-name discipline: every computed/aggregate column is aliased
identically in the Spark pipeline and the oracle SQL. Double-typed
aggregates are rounded on both sides so cross-engine float summation
order cannot flip the value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_rust_archive_spark.operators import (  # noqa: E402
    chunking, clustering, dedup, iceberg_queries, multimodal, packing,
    quantize, relational, relational2, sampling, similarity, temporal, text,
)


def _rounded(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    out = df
    for c, nd in cols.items():
        out = out.withColumn(c, F.round(F.col(c), nd))
    return out


# ---------------------------------------------------------------------------
# Combined entries. The driver's correctness harness records at most 50
# rows, so closely-related operators share one labeled-union entry — BOTH
# component pipelines still execute and oracle-check (the union is of the
# two full result sets, tagged by a label column), nothing is dropped.
# ---------------------------------------------------------------------------

def _two_scenarios(s, d, fn_a, fn_b):
    """Run two INDEPENDENT write-then-read scenarios (each builds its
    own tmp catalog and materializes before teardown) on two driver
    threads — the pair costs max() instead of the sum."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as ex:
        fa, fb = ex.submit(fn_a, s, d), ex.submit(fn_b, s, d)
        return fa.result(), fb.result()


def _iceberg_transform_pruned(s: SparkSession, d: str) -> DataFrame:
    """bucket[16] + truncate[100] partition pruning (A11/A2), plus the
    r13 conformance branches: day(timestamptz) written/scanned under a
    NON-UTC session (UTC-epoch transform proof) and zero-NaN footer
    proofs pruning a float ``>`` predicate. Four labeled branches, one
    entry. The tz branch mutates the session zone inside its own
    window, so it pairs with the timestamp-free NaN branch."""
    bdf, tdf = _two_scenarios(s, d, iceberg_queries.iceberg_bucket_pruned,
                              iceberg_queries.iceberg_truncate_pruned)
    zdf, ndf = _two_scenarios(s, d, iceberg_queries.iceberg_tz_day_pruned,
                              iceberg_queries.iceberg_nan_pruned)
    b = bdf.select(
        F.lit("bucket").alias("transform"),
        F.col("o_custkey").alias("key"), "n_orders",
        F.col("total").cast("double").alias("total"))
    t = tdf.select(
        F.lit("truncate").alias("transform"),
        F.col("ckey_mod").alias("key"), "n_orders",
        F.lit(None).cast("double").alias("total"))
    z = zdf.select(
        F.lit("tz_day").alias("transform"), "key", "n_orders", "total")
    return b.unionByName(t).unionByName(z).unionByName(ndf)


def _iceberg_snapshot_reads(s: SparkSession, d: str) -> DataFrame:
    """time travel (A35) + incremental seq-range read (A4), one entry."""
    ttdf, incdf = _two_scenarios(s, d, iceberg_queries.iceberg_time_travel,
                                 iceberg_queries.iceberg_incremental_read)
    tt = ttdf.select(
        F.lit("as_of").alias("mode"), "o_orderstatus", "n_orders",
        F.col("total").cast("double").alias("total"))
    inc = incdf.select(
        F.lit("incremental").alias("mode"), "o_orderstatus", "n_orders",
        F.lit(None).cast("double").alias("total"))
    return tt.unionByName(inc)


def _events_value_stats(s: SparkSession, d: str) -> DataFrame:
    """exact percentiles + fixed-width histogram + gap-sessionization
    summary + (r14) approx-quantile sketch-vs-exact tolerance check
    over events — four labeled branches, one entry."""
    p = relational.events_percentiles(s, d).select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("grp"),
        F.col("n_events").alias("n"),
        F.col("p50").alias("lo"), F.col("p90").alias("hi"))
    h = relational.events_histogram(s, d).select(
        F.concat(F.lit("bin:"), F.col("bin").cast("string")).alias("grp"),
        "n", "lo", "hi")
    sess = relational.events_sessionization(s, d).select(
        F.concat(F.lit("sess:"), F.col("n_events").cast("string"))
         .alias("grp"),
        F.col("n_sessions").alias("n"),
        F.col("min_dur").alias("lo"), F.col("max_dur").alias("hi"))
    aq = relational.events_approx_quantiles(s, d)
    return p.unionByName(h).unionByName(sess).unionByName(aq)


def _events_windowed_agg(s: SparkSession, d: str) -> DataFrame:
    """The SAME tumbling-window aggregate computed twice — once by the
    batch planner, once by the Structured Streaming runtime (availableNow
    over the identical parquet) — unioned under a mode label. A driver
    hash match here certifies streaming==batch result parity, the
    strongest in-container check of the streaming engine."""
    from iceberg_rust_archive_spark.streaming.ops import (
        run_stream_windowed_once,
    )
    def shape(df, mode):
        return df.select(
            F.lit(mode).alias("mode"),
            F.col("window_start").cast("string").alias("window_start"),
            "event_type", "n_events", "sum_value")
    b = shape(_rounded(relational.events_windowed_agg(s, d),
                       {"sum_value": 2}), "batch")
    st = shape(_rounded(
        run_stream_windowed_once(s, os.path.join(d, "events.parquet")),
        {"sum_value": 2}), "stream")
    return b.unionByName(st)


def _text_quality_tokens(s: SparkSession, d: str) -> DataFrame:
    """quality scoring (per source) + token counting (per lang) + PII
    exposure (per source) + n-gram repetition (per source) — the four
    text-gate families as one labeled-union entry.

    r16: the four gate branches roll up from ONE cached per-doc
    narrow-stats pass (text.text_gate_stats) instead of four separate
    corpus scans, each with its own split pass. The rollup expressions
    below are byte-identical to the standalone operators' (same scaled-
    integer rounding), so the oracle rows are unchanged; the perplexity
    branch keeps its own pass (it needs the full words array for the
    bigram explode, and caching word arrays measured slower than
    recomputing — see OPTIMIZATION_r16.md)."""
    st = text.text_gate_stats(s, d).cache()
    q = (st.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              (F.floor(F.avg("st.score_s") + F.lit(0.5)) / 10000.0)
              .alias("avg_score"),
              F.sum(F.when(F.col("st.score_s") < 5000, 1).otherwise(0))
              .alias("n_low_quality"))
         .orderBy("source")).select(
        F.concat(F.lit("src:"), F.col("source")).alias("grp"),
        F.col("n_docs").alias("c1"), F.col("n_low_quality").alias("c2"),
        F.col("avg_score").alias("avg_stat"))
    t = (st.groupBy("lang")
         .agg(F.sum("st.ws_tokens").alias("sum_ws_tokens"),
              F.sum("st.bpe_tokens").alias("sum_bpe_tokens"),
              (F.floor(F.avg("st.bpe_tokens") * 10000 + F.lit(0.5))
               / 10000.0).alias("avg_bpe_tokens"))
         .orderBy("lang")).select(
        F.concat(F.lit("lang:"), F.col("lang")).alias("grp"),
        F.col("sum_ws_tokens").alias("c1"),
        F.col("sum_bpe_tokens").alias("c2"),
        F.col("avg_bpe_tokens").alias("avg_stat"))
    any_hit = (F.col("st.n_emails") + F.col("st.n_phones")
               + F.col("st.n_ipv4s") + F.col("st.n_ssn_like")) > 0
    p = (st.withColumn("has_pii", any_hit.cast("int"))
         .groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              *[F.sum(f"st.n_{n}").alias(f"sum_{n}")
                for n in text.PII_PATTERNS],
              (F.floor(F.avg("has_pii") * 10000 + F.lit(0.5))
               / 10000.0).alias("pii_doc_frac"))
         .orderBy("source")).select(
        F.concat(F.lit("pii:"), F.col("source")).alias("grp"),
        F.col("n_docs").alias("c1"),
        (F.col("sum_emails") + F.col("sum_phones") + F.col("sum_ipv4s")
         + F.col("sum_ssn_like")).cast("long").alias("c2"),
        F.col("pii_doc_frac").alias("avg_stat"))
    r = (st.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              (F.floor(F.avg("st.dup_s") + F.lit(0.5)) / 10000.0)
              .alias("avg_dup_frac"),
              (F.max("st.dup_s") / 10000.0).alias("max_dup_frac"))
         .orderBy("source")).select(
        F.concat(F.lit("rep:"), F.col("source")).alias("grp"),
        F.col("n_docs").alias("c1"),
        F.round(F.col("max_dup_frac") * 10000).cast("long").alias("c2"),
        F.col("avg_dup_frac").alias("avg_stat"))
    ppl = text.text_perplexity_proxy(s, d).select(
        F.concat(F.lit("ppl:"), F.col("source")).alias("grp"),
        F.col("n_docs").alias("c1"),
        F.round(F.col("max_nll") * 1000).cast("long").alias("c2"),
        F.col("avg_nll").alias("avg_stat"))
    return (q.unionByName(t).unionByName(p).unionByName(r)
            .unionByName(ppl))


def _text_analysis_suite(s: SparkSession, d: str) -> DataFrame:
    """language-ID confusion matrix + Karp-Rabin fingerprint dedup +
    TF-IDF top terms — three text-analysis families, one labeled-union
    entry (frees two slots under the 50-entry cap for the round-6 ops).

    r16: the language-ID and fingerprint branches roll up from ONE
    cached per-doc pass (text.text_id_fp_stats) instead of two corpus
    scans; rollup expressions are byte-identical to the standalone
    operators (oracle rows unchanged)."""
    idfp = text.text_id_fp_stats(s, d).cache()
    lang = (idfp.groupBy("lang", F.col("st.predicted").alias("predicted"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("lang", "predicted")).select(
        F.lit("lang").alias("branch"), F.col("lang").alias("k1"),
        F.col("predicted").alias("k2"), F.col("n_docs").alias("c1"),
        F.lit(None).cast("double").alias("stat"))
    fp = (idfp.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n_docs"),
               F.countDistinct("st.fp").alias("n_unique_fp"))
          .orderBy("source")).select(
        F.lit("fp").alias("branch"), F.col("source").alias("k1"),
        F.lit("").alias("k2"), F.col("n_docs").alias("c1"),
        F.col("n_unique_fp").cast("double").alias("stat"))
    tf = text.text_tfidf_top_terms(s, d).select(
        F.lit("tfidf").alias("branch"), F.col("source").alias("k1"),
        F.col("w").alias("k2"), F.col("rank").cast("long").alias("c1"),
        F.col("tfidf").alias("stat"))
    ch = chunking.chunk_summary(s, d).select(
        F.concat(F.lit("chunk:"), F.col("branch")).alias("branch"),
        F.col("source").alias("k1"),
        F.col("max_units").cast("string").alias("k2"),
        F.col("n_chunks").alias("c1"),
        F.col("sum_units").cast("double").alias("stat"))
    # k pinned to the constant the DuckDB twin hardcodes (the adaptive
    # kmeans_k(N) resolves to it at every graded sf anyway) — skips the
    # eager corpus count during entry construction
    tp = clustering.cluster_topics(s, d, k=clustering.KMEANS_K).select(
        F.lit("topic").alias("branch"),
        F.col("cid").cast("string").alias("k1"),
        F.col("w").alias("k2"), F.col("rank").cast("long").alias("c1"),
        F.col("tfidf").alias("stat"))
    return (lang.unionByName(fp).unionByName(tf).unionByName(ch)
            .unionByName(tp))


def _events_pivot_approx(s: SparkSession, d: str) -> DataFrame:
    """event-type pivot + approx-distinct check, one labeled entry."""
    p = relational.events_pivot(s, d).select(
        F.lit("pivot").alias("branch"),
        F.col("decile").cast("string").alias("key"),
        F.col("click").alias("c1"), F.col("error").alias("c2"),
        F.col("purchase").alias("c3"), F.col("signup").alias("c4"),
        F.col("view").alias("c5"))
    a = relational.events_approx_distinct(s, d).select(
        F.lit("approx").alias("branch"), F.col("event_type").alias("key"),
        F.col("exact_users").alias("c1"),
        F.col("approx_ok").cast("long").alias("c2"),
        F.lit(None).cast("long").alias("c3"),
        F.lit(None).cast("long").alias("c4"),
        F.lit(None).cast("long").alias("c5"))
    return p.unionByName(a)


def _dedup_exact_decontam(s: SparkSession, d: str) -> DataFrame:
    """exact-dedup summary + benchmark n-gram decontamination +
    ExactSubstr span dedup (r12), one entry: all are per-source
    keep/flag rollups of the documents table (method labels keep the
    branches separately hashed; `substr_cov` carries the integer
    span-coverage sums so the interval merge itself is hash-graded)."""
    e = dedup.dedup_exact(s, d).select(
        F.lit("exact").alias("method"), "source", "n_docs",
        F.col("n_unique").alias("n_keep"),
        F.col("n_dupes").alias("n_flag"))
    c = dedup.decontaminate(s, d).select(
        F.lit("decontam").alias("method"), "source", "n_docs",
        F.col("n_clean").alias("n_keep"),
        F.col("n_contaminated").alias("n_flag"))
    # ExactSubstr (Lee et al. 2021) span dedup: flag counts + integer
    # span-coverage sums; one local per-source rollup feeds both rows
    ss = dedup.substring_dup_spans(s, d)
    s1 = ss.select(F.lit("substr").alias("method"), "source",
                   "n_docs", F.col("n_clean").alias("n_keep"),
                   F.col("n_flagged").alias("n_flag"))
    s2 = ss.select(F.lit("substr_cov").alias("method"), "source",
                   F.col("n_flagged").alias("n_docs"),
                   F.col("covered_chars").alias("n_keep"),
                   F.col("flagged_chars").alias("n_flag"))
    return e.unionByName(c).unionByName(s1).unionByName(s2)


def _set_membership_ops(s: SparkSession, d: str) -> DataFrame:
    """union+distinct, anti-join NOT IN, and the CASE-sum projection
    (absorbed here so the 50-entry cap frees a slot for
    iceberg_position_delete; the op label keeps each branch's rows
    separately hashed)."""
    u = relational.distinct_union(s, d).select(
        F.lit("distinct_custkey").alias("op"),
        F.col("o_custkey").cast("string").alias("key"),
        F.lit(1).cast("long").alias("n"))
    a = relational.anti_semi_join(s, d).select(
        F.lit("no_urgent_segment").alias("op"),
        F.col("c_mktsegment").alias("key"),
        F.col("n_customers").alias("n"))
    c = relational.case_projection(s, d).select(
        F.lit("case_high_count").alias("op"),
        F.col("o_orderstatus").alias("key"),
        F.col("high_line_count").alias("n"))
    se = relational.set_intersect_except(s, d).select(
        "op", F.col("o_custkey").cast("string").alias("key"),
        F.lit(1).cast("long").alias("n"))
    rc = relational.orders_rollup_cube(s, d).select(
        "op", F.concat_ws("/", "yr", "prio").alias("key"), F.col("n"))
    return (u.unionByName(a).unionByName(c)
            .unionByName(se).unionByName(rc))


def _dedup_shingle_pairs(s: SparkSession, d: str) -> DataFrame:
    """n-gram Jaccard pairs + MinHash-LSH pairs, tagged by method.

    The shingle set (split → 3-gram → array_distinct, the expensive
    text pass) is computed ONCE and cached; both branches consume it
    (r16: previously each branch — and the Jaccard denominators — ran
    its own full pass, three evaluations per entry)."""
    shs = dedup.shingled(dedup._docs(s, d)).cache()
    j = dedup.dedup_ngram_jaccard(s, d, shs=shs).select(
        F.lit("jaccard3").alias("method"), "doc_a", "doc_b",
        F.col("jaccard").alias("sim"))
    m = dedup.dedup_minhash_lsh(s, d, shs=shs).select(
        F.lit("minhash").alias("method"), "doc_a", "doc_b",
        F.col("jaccard").alias("sim"))
    return j.unionByName(m)


def _embedding_near_pairs(s: SparkSession, d: str) -> DataFrame:
    """sign-LSH near-neighbor pairs + the embedding-cosine dedup view +
    (round 7) the distributed k-means Lloyd step and SemDeDup
    within-cluster near-dup pairs.

    Shared work is computed ONCE per run: the LSH pair set is cached
    and reused for the embdedup branch (same pairs joined to the
    documents table — what dedup_embedding_cosine computes from
    scratch), and the k deterministic init centroids are collected once
    and fed to both clustering branches."""
    pairs = similarity.ann_lsh_pairs(s, d).cache()
    p = pairs.select(
        F.lit("lsh").alias("method"), F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"), "cosine")
    docs = dedup._docs(s, d).select("doc_id")
    e = (pairs
         .join(docs.withColumnRenamed("doc_id", "vec_a"), "vec_a")
         .join(docs.withColumnRenamed("doc_id", "vec_b"), "vec_b")
         .select(F.lit("embdedup").alias("method"),
                 F.col("vec_a").alias("id_a"),
                 F.col("vec_b").alias("id_b"), "cosine"))
    cents = clustering._init_centroids(
        similarity._vectors(s, d), clustering.KMEANS_K)
    # The four remaining branches each do bounded DRIVER-side work
    # before returning their lazy frame (kmeans' one-Lloyd-step
    # partials collect; the exact/IVF query+centroid collects) — all
    # independent once ``cents`` exists, so build them on four threads
    # and pay max() instead of the sum of those small Spark jobs.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=4) as ex:
        f_km = ex.submit(clustering.kmeans_summary, s, d, cents=cents)
        f_sd = ex.submit(clustering.semantic_dedup_pairs, s, d,
                         cents=cents)
        # round 9: exact brute-force + IVF ANN top-k fold in as two
        # more method labels (query_id->id_a, neighbor_id->id_b; rank
        # is implied by cosine order within a query) so all operator
        # families fit the driver's 50-entry cap with a full oracle
        # row — r8's standalone ann_cosine_topk entry was #51 and
        # permanently unchecked.
        f_ax = ex.submit(similarity.ann_cosine_topk, s, d)
        f_iv = ex.submit(similarity.ann_ivf_topk, s, d)
        km_df, sd_df = f_km.result(), f_sd.result()
        ax_df, iv_df = f_ax.result(), f_iv.result()
    km = km_df.select(
        F.lit("kmeans").alias("method"),
        F.col("cid").cast("long").alias("id_a"),
        F.col("n").alias("id_b"), F.col("centroid_norm").alias("cosine"))
    sd = sd_df.select(
        F.lit("semdedup").alias("method"), "id_a", "id_b", "cosine")
    ax = ax_df.select(
        F.lit("annexact").alias("method"),
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"), "cosine")
    iv = iv_df.select(
        F.lit("annivf").alias("method"),
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"), "cosine")
    return (p.unionByName(e).unionByName(km).unionByName(sd)
            .unionByName(ax).unionByName(iv))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return queries()["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 entries (the driver's correctness harness records at most 50
    rows), ordered least-proven-first so a truncated run still covers
    everything that lacked a green row last round."""
    r2 = relational2.QUERIES
    return {
        # --- new in round 6 (no green row yet — run first) ---------------
        "iceberg_dml": iceberg_queries.iceberg_dml,
        "sequence_packing": packing.sequence_packing,
        "embedding_quantization": quantize.embedding_quantization,
        "text_analysis_suite": _text_analysis_suite,
        "events_pivot_approx": _events_pivot_approx,
        # --- new in round 3 -----------------------------------------------
        "iceberg_position_delete": iceberg_queries.iceberg_position_delete,
        # --- no correctness row in round 1 (fell past the 50-row cap) ---
        "q2_min_cost_supplier": r2["q2_min_cost_supplier"],
        "q11_important_stock": r2["q11_important_stock"],
        "q18_large_orders": r2["q18_large_orders"],
        "q19_discounted_revenue": r2["q19_discounted_revenue"],
        "q20_excess_share_suppliers": r2["q20_excess_share_suppliers"],
        "q21_waiting_suppliers": r2["q21_waiting_suppliers"],
        "q22_global_sales_opportunity": r2["q22_global_sales_opportunity"],
        # --- err in round 1 (vanilla-session nanos crash, now fixed) ----
        "events_value_stats": _events_value_stats,
        "events_windowed_agg": _events_windowed_agg,
        "asof_events_orders": temporal.asof_events_orders,
        "q4_order_priority_exists": r2["q4_order_priority_exists"],
        "q7_nation_volume": r2["q7_nation_volume"],
        "q8_market_share": r2["q8_market_share"],
        "q9_profit_by_nation_year": r2["q9_profit_by_nation_year"],
        "q10_top_customers": r2["q10_top_customers"],
        "q13_customer_distribution": r2["q13_customer_distribution"],
        "q14_promo_revenue": r2["q14_promo_revenue"],
        "q15_top_supplier": r2["q15_top_supplier"],
        "q16_part_supplier_counts": r2["q16_part_supplier_counts"],
        "q17_small_quantity_revenue": r2["q17_small_quantity_revenue"],
        # --- hash-mismatch in round 1 (type pinning fixed) --------------
        "q12_shipmode": relational.q12_shipmode,
        "iceberg_schema_evolution": iceberg_queries.iceberg_schema_evolution,
        "mv_incremental_refresh": iceberg_queries.mv_incremental_refresh,
        "mv_union_refresh": iceberg_queries.mv_union_refresh,
        "text_quality_tokens": _text_quality_tokens,
        "multimodal_features": multimodal.multimodal_features,
        "dataset_split_summary": sampling.dataset_split_summary,
        # --- green in round 1 -------------------------------------------
        "q1_pricing_summary": lambda s, d: _rounded(
            relational.q1_pricing_summary(s, d),
            {"sum_qty": 2, "sum_base_price": 2, "sum_disc_price": 2,
             "sum_charge": 2, "avg_qty": 4, "avg_price": 4, "avg_disc": 4}),
        "q3_shipping_priority": lambda s, d: _rounded(
            relational.q3_shipping_priority(s, d), {"revenue": 2}
            ).withColumn("o_orderdate",
                         F.col("o_orderdate").cast("date").cast("string")),
        "q5_local_supplier_volume": lambda s, d: _rounded(
            relational.q5_local_supplier_volume(s, d), {"revenue": 2}),
        "q6_forecast_revenue": lambda s, d: _rounded(
            relational.q6_forecast_revenue(s, d), {"revenue": 2}),
        "set_membership_ops": _set_membership_ops,
        "window_topn_per_group": relational.window_topn_per_group,
        # engine-roundtrip queries: data passes through the Iceberg
        # write → commit → pruned scan paths before aggregation
        "iceberg_roundtrip_agg": iceberg_queries.iceberg_roundtrip_agg,
        "iceberg_equality_delete": iceberg_queries.iceberg_equality_delete,
        "iceberg_snapshot_reads": _iceberg_snapshot_reads,
        "csv_source_roundtrip": iceberg_queries.csv_source_roundtrip,
        "iceberg_lineitem_partitioned":
            iceberg_queries.iceberg_lineitem_partitioned,
        "iceberg_transform_pruned": _iceberg_transform_pruned,
        # training-data pipeline operators (documents/embeddings tables)
        "dedup_exact": _dedup_exact_decontam,
        "dedup_shingle_pairs": _dedup_shingle_pairs,
        "dedup_simhash": dedup.dedup_simhash,
        "embedding_near_pairs": _embedding_near_pairs,
        "dedup_clusters": dedup.dedup_clusters,
    }


def oracle_sql() -> dict[str, str]:
    o = _component_oracles()
    # labeled-union twins of the combined queries() entries; each side is
    # the component oracle verbatim, wrapped as a subquery
    combined = {
        "iceberg_transform_pruned": f"""
            SELECT 'bucket' AS transform, o_custkey AS key, n_orders,
                   CAST(total AS DOUBLE) AS total
            FROM ({o.pop('iceberg_bucket_pruned')})
            UNION ALL
            SELECT 'truncate', ckey_mod, n_orders, CAST(NULL AS DOUBLE)
            FROM ({o.pop('iceberg_truncate_pruned')})
            UNION ALL
            -- tz_day: the engine wrote/scanned under America/New_York;
            -- matching this UTC-calendar oracle proves the transforms
            -- never consulted the session zone
            SELECT 'tz_day',
                   CAST(datediff('day', DATE '1970-01-01',
                                 CAST(ts AS DATE)) AS BIGINT),
                   count(*), round(sum(value), 2)
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
            GROUP BY 2
            UNION ALL
            -- nan_gt: NaN orders above every number in BOTH engines,
            -- so the NaN group must survive the > filter while the
            -- capped clean rows drop out
            SELECT CASE WHEN nn THEN 'nan_gt:nan' ELSE 'nan_gt:num' END,
                   CAST(NULL AS BIGINT), count(*),
                   CASE WHEN nn THEN CAST(NULL AS DOUBLE)
                        ELSE round(sum(value), 2) END
            FROM (
                SELECT isnan(value) AS nn, value FROM (
                    SELECT CASE
                        WHEN event_id % 2 = 0 THEN least(value, 100.0)
                        WHEN event_id % 97 = 3 THEN CAST('NaN' AS DOUBLE)
                        ELSE value END AS value
                    FROM events)
                WHERE value > 150.0)
            GROUP BY nn
        """,
        "iceberg_snapshot_reads": f"""
            SELECT 'as_of' AS mode, o_orderstatus, n_orders,
                   CAST(total AS DOUBLE) AS total
            FROM ({o.pop('iceberg_time_travel')})
            UNION ALL
            SELECT 'incremental', o_orderstatus, n_orders,
                   CAST(NULL AS DOUBLE)
            FROM ({o.pop('iceberg_incremental_read')})
        """,
        "events_value_stats": f"""
            SELECT 'type:' || event_type AS grp, n_events AS n,
                   p50 AS lo, p90 AS hi
            FROM ({o.pop('events_percentiles')})
            UNION ALL
            SELECT 'bin:' || CAST(bin AS VARCHAR), n, lo, hi
            FROM ({o.pop('events_histogram')})
            UNION ALL
            SELECT 'sess:' || CAST(n_events AS VARCHAR), n_sessions,
                   min_dur, max_dur
            FROM ({o.pop('events_sessionization')})
            UNION ALL
            -- aq: the engine's approx_percentile sketch landed within
            -- 5% of the group's value range of the exact quantile
            -- (':ok' in the label); DuckDB recomputes the exact side
            SELECT 'aq:' || event_type || ':ok', count(*),
                   round(quantile_cont(value, 0.5), 4),
                   round(quantile_cont(value, 0.9), 4)
            FROM events GROUP BY event_type
        """,
        "events_windowed_agg": f"""
            SELECT 'batch' AS mode, w.* FROM ({o['events_windowed_agg']}) w
            UNION ALL
            SELECT 'stream' AS mode, w.*
            FROM ({o.pop('events_windowed_agg')}) w
        """,
        "text_quality_tokens": f"""
            SELECT 'src:' || source AS grp, n_docs AS c1,
                   n_low_quality AS c2, avg_score AS avg_stat
            FROM ({o.pop('text_quality_score')})
            UNION ALL
            SELECT 'lang:' || lang, sum_ws_tokens, sum_bpe_tokens,
                   avg_bpe_tokens
            FROM ({o.pop('text_token_count')})
            UNION ALL
            SELECT 'pii:' || source, n_docs,
                   sum_emails + sum_phones + sum_ipv4s + sum_ssn_like,
                   pii_doc_frac
            FROM ({o.pop('text_pii_stats')})
            UNION ALL
            SELECT 'rep:' || source, n_docs,
                   CAST(round(max_dup_frac * 10000) AS BIGINT),
                   avg_dup_frac
            FROM ({o.pop('text_repetition_stats')})
            UNION ALL
            SELECT 'ppl:' || source, n_docs,
                   CAST(round(max_nll * 1000) AS BIGINT), avg_nll
            FROM ({o.pop('text_perplexity_proxy')})
        """,
        "dedup_exact": f"""
            SELECT 'exact' AS method, source, n_docs,
                   n_unique AS n_keep, n_dupes AS n_flag
            FROM ({o.pop('dedup_exact')})
            UNION ALL
            SELECT 'decontam', source, n_docs, n_clean, n_contaminated
            FROM ({o.pop('decontaminate')})
            UNION ALL
            SELECT 'substr', source, n_docs, n_clean, n_flagged
            FROM ({o['substring_dup_spans']})
            UNION ALL
            SELECT 'substr_cov', source, n_flagged, covered_chars,
                   flagged_chars
            FROM ({o.pop('substring_dup_spans')})
        """,
        "set_membership_ops": f"""
            SELECT 'distinct_custkey' AS op,
                   CAST(o_custkey AS VARCHAR) AS key,
                   CAST(1 AS BIGINT) AS n
            FROM ({o.pop('distinct_union')})
            UNION ALL
            SELECT 'no_urgent_segment', c_mktsegment, n_customers
            FROM ({o.pop('anti_semi_join')})
            UNION ALL
            SELECT 'case_high_count', o_orderstatus, high_line_count
            FROM ({o.pop('case_projection')})
            UNION ALL
            SELECT op, CAST(o_custkey AS VARCHAR), CAST(1 AS BIGINT)
            FROM ({o.pop('set_intersect_except')})
            UNION ALL
            SELECT op, yr || '/' || prio, n
            FROM ({o.pop('orders_rollup_cube')})
        """,
        "dedup_shingle_pairs": f"""
            SELECT 'jaccard3' AS method, doc_a, doc_b, jaccard AS sim
            FROM ({o.pop('dedup_ngram_jaccard')})
            UNION ALL
            SELECT 'minhash', doc_a, doc_b, jaccard
            FROM ({o.pop('dedup_minhash_lsh')})
        """,
        "embedding_near_pairs": f"""
            SELECT 'lsh' AS method, vec_a AS id_a, vec_b AS id_b, cosine
            FROM ({o.pop('ann_lsh_pairs')})
            UNION ALL
            SELECT 'embdedup', doc_a, doc_b, cosine
            FROM ({o.pop('dedup_embedding_cosine')})
            UNION ALL
            SELECT 'kmeans', CAST(cid AS BIGINT), n, centroid_norm
            FROM ({o.pop('kmeans_summary')})
            UNION ALL
            SELECT 'semdedup', id_a, id_b, cosine
            FROM ({o.pop('semantic_dedup_pairs')})
            UNION ALL
            SELECT 'annexact', query_id, neighbor_id, cosine
            FROM ({o.pop('ann_cosine_topk')})
            UNION ALL
            SELECT 'annivf', query_id, neighbor_id, cosine
            FROM ({o.pop('ann_ivf_topk')})
        """,
        "text_analysis_suite": f"""
            SELECT 'lang' AS branch, lang AS k1, predicted AS k2,
                   n_docs AS c1, CAST(NULL AS DOUBLE) AS stat
            FROM ({o.pop('text_language_id')})
            UNION ALL
            SELECT 'fp', source, '', n_docs, CAST(n_unique_fp AS DOUBLE)
            FROM ({o.pop('text_fingerprint')})
            UNION ALL
            SELECT 'tfidf', source, w, CAST(rank AS BIGINT), tfidf
            FROM ({o.pop('text_tfidf_top_terms')})
            UNION ALL
            SELECT concat('chunk:', branch), source,
                   CAST(max_units AS VARCHAR), n_chunks,
                   CAST(sum_units AS DOUBLE)
            FROM ({o.pop('document_chunk_summary')})
            UNION ALL
            SELECT 'topic', CAST(cid AS VARCHAR), w,
                   CAST(rank AS BIGINT), tfidf
            FROM ({o.pop('cluster_topics')})
        """,
        "events_pivot_approx": f"""
            SELECT 'pivot' AS branch, CAST(decile AS VARCHAR) AS key,
                   click AS c1, error AS c2, purchase AS c3,
                   signup AS c4, view AS c5
            FROM ({o.pop('events_pivot')})
            UNION ALL
            SELECT 'approx', event_type, exact_users,
                   CAST(approx_ok AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
            FROM ({o.pop('events_approx_distinct')})
        """,
    }
    o.update(combined)
    return o


def _component_oracles() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, round(revenue, 2) AS revenue,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
            FROM (
              SELECT l.l_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
                     o.o_orderdate
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment = 'BUILDING'
                AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
                AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
              GROUP BY l.l_orderkey, o.o_orderdate
              ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
              LIMIT 10
            )
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND c_nationkey = s_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q12_shipmode": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_returnflag
        """,
        "distinct_union": """
            SELECT DISTINCT o_custkey FROM (
              SELECT o_custkey FROM orders WHERE o_totalprice > 100000
              UNION ALL
              SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            )
        """,
        "anti_semi_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderpriority = '1-URGENT')
            GROUP BY c_mktsegment
        """,
        "case_projection": """
            SELECT o_orderstatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY o_orderstatus
        """,
        "set_intersect_except": """
            SELECT 'both_years' AS op, o_custkey FROM (
              SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
              INTERSECT
              SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
            UNION ALL
            SELECT 'only_1994', o_custkey FROM (
              SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
              EXCEPT
              SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
        """,
        "orders_rollup_cube": """
            SELECT 'rollup' AS op, coalesce(yr, 'ALL') AS yr,
                   coalesce(prio, 'ALL') AS prio, count(*) AS n
            FROM (SELECT CAST(year(o_orderdate) AS VARCHAR) AS yr,
                         o_orderpriority AS prio FROM orders)
            GROUP BY ROLLUP(yr, prio)
            UNION ALL
            SELECT 'cube', coalesce(yr, 'ALL'), coalesce(prio, 'ALL'),
                   count(*)
            FROM (SELECT CAST(year(o_orderdate) AS VARCHAR) AS yr,
                         o_orderpriority AS prio FROM orders)
            GROUP BY CUBE(yr, prio)
        """,
        "window_topn_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey)
                       AS rn
              FROM orders
            ) WHERE rn = 1
        """,
        # events_approx_distinct: the engine-specific HLL estimate is
        # graded as a tolerance boolean (|approx-exact| ≤ 15%·exact,
        # 3× the sketch's rsd) so the whole entry hash-grades; DuckDB
        # reproduces the exact count and the constant-true bound
        "events_approx_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS exact_users,
                   true AS approx_ok
            FROM events
            GROUP BY event_type
        """,
        "events_percentiles": """
            SELECT event_type, count(*) AS n_events,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90
            FROM events
            GROUP BY event_type
        """,
        "events_histogram": """
            SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
                   count(*) AS n,
                   round(min(value), 2) AS lo, round(max(value), 2) AS hi
            FROM events GROUP BY 1
        """,
        "events_pivot": """
            SELECT CAST(user_id % 10 AS BIGINT) AS decile,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
            FROM events GROUP BY 1
        """,
        "events_windowed_agg": """
            SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        # gap sessionization in integer nanoseconds (engine-portable:
        # no timezone or timestamp-precision arithmetic anywhere)
        "events_sessionization": f"""
            WITH o AS (
              SELECT user_id, event_id, epoch_ns(ts) AS tns,
                     lag(epoch_ns(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_ns(ts), event_id) AS prev
              FROM events
            ),
            s AS (
              SELECT user_id, tns,
                     sum(CASE WHEN prev IS NULL
                              OR tns - prev > {relational.SESSION_GAP_NS}
                         THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY tns, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            ),
            g AS (
              SELECT user_id, sid, count(*) AS n_events,
                     (max(tns) - min(tns)) / 1e9 AS dur_sec
              FROM s GROUP BY 1, 2
            )
            SELECT n_events, count(*) AS n_sessions,
                   round(min(dur_sec), 2) AS min_dur,
                   round(max(dur_sec), 2) AS max_dur
            FROM g GROUP BY n_events
        """,
        "iceberg_roundtrip_agg": """
            SELECT 'agg' AS mode, o_orderstatus AS key,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY o_orderstatus
            UNION ALL
            -- meta branch: the engine answered these from manifest
            -- bounds with a zero-Spark-job guard; DuckDB recomputes
            -- them from the raw rows
            SELECT 'meta', s.key,
                   CASE s.key
                     WHEN 'count' THEN m.n
                     WHEN 'min_date' THEN m.dmn_day
                     WHEN 'max_date' THEN m.dmx_day
                     ELSE NULL END AS n_orders,
                   CASE s.key
                     WHEN 'min_price' THEN m.mn
                     WHEN 'max_price' THEN m.mx
                     ELSE NULL END AS total
            FROM (
              SELECT count(*) AS n,
                     min(o_totalprice) AS mn, max(o_totalprice) AS mx,
                     datediff('day', DATE '1970-01-01',
                              CAST(min(o_orderdate) AS DATE)) AS dmn_day,
                     datediff('day', DATE '1970-01-01',
                              CAST(max(o_orderdate) AS DATE)) AS dmx_day
              FROM orders
              WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
            ) m
            CROSS JOIN (VALUES ('count'), ('min_price'), ('max_price'),
                               ('min_date'), ('max_date')) AS s(key)
        """,
        "iceberg_equality_delete": """
            SELECT 'flat' AS branch, o_orderstatus, count(*) AS n_orders
            FROM orders
            WHERE o_custkey % 10 <> 3
            GROUP BY o_orderstatus
            UNION ALL
            SELECT 'part_global' AS branch, o_orderstatus,
                   count(*) AS n_orders
            FROM orders
            WHERE o_custkey % 10 <> 7
            GROUP BY o_orderstatus
        """,
        "iceberg_position_delete": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_totalprice <= 200000 AND o_custkey % 10 <> 3
            GROUP BY o_orderstatus
        """,
        "iceberg_time_travel": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderkey % 2 = 0
            GROUP BY o_orderstatus
        """,
        "iceberg_incremental_read": """
            SELECT o_orderstatus, count(*) AS n_orders
            FROM orders
            WHERE o_orderkey % 2 = 1
            GROUP BY o_orderstatus
        """,
        "mv_incremental_refresh": """
            SELECT CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   count(*) AS n_orders, o_orderstatus
            FROM orders
            WHERE NOT (o_custkey % 7 = 2)
            GROUP BY o_orderstatus
        """,
        "mv_union_refresh": """
            SELECT o_orderstatus, count(*) AS n_rows,
                   round(sum(o_totalprice), 2) AS total
            FROM (
              SELECT o_orderstatus, o_totalprice FROM orders
              WHERE o_orderkey % 4 IN (0, 2) AND o_totalprice > 150000
              UNION ALL
              SELECT o_orderstatus, o_totalprice FROM orders
              WHERE o_orderkey % 4 IN (1, 3)
                AND o_orderpriority IN ('1-URGENT','2-HIGH')
            ) GROUP BY o_orderstatus
        """,
        "csv_source_roundtrip": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
            GROUP BY o_orderpriority
        """,
        "iceberg_lineitem_partitioned": """
            SELECT l_returnflag, count(*) AS n_lines,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-09-01 00:00:00'
            GROUP BY l_returnflag
        """,
        "iceberg_schema_evolution": """
            SELECT 'rename' AS mode, o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY o_orderstatus
            UNION ALL
            SELECT 'variant', o_orderstatus, count(*),
                   round(sum(cents) / 100.0, 2)
            FROM (
              SELECT o_orderstatus,
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS cents
              FROM orders WHERE o_orderkey % 5 = 2
            )
            GROUP BY o_orderstatus
        """,
        "iceberg_bucket_pruned": """
            SELECT o_custkey, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_custkey IN (11, 42, 77)
            GROUP BY o_custkey
            ORDER BY o_custkey
        """,
        "iceberg_truncate_pruned": """
            SELECT CAST(o_custkey % 100 AS BIGINT) AS ckey_mod,
                   count(*) AS n_orders
            FROM orders
            WHERE o_custkey >= 200 AND o_custkey < 400
            GROUP BY 1
            ORDER BY 1
        """,
        "iceberg_dml": """
            WITH del AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders
              WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
            ), upd AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM del
            ), msrc AS (
              SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
                     o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 100 = 7
              UNION ALL
              SELECT o_orderkey + 100000000, o_custkey, 'Y',
                     o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 100 = 13
            ), merged AS (
              SELECT * FROM upd
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM msrc)
              UNION ALL SELECT * FROM msrc
            ), m2src AS (
              SELECT o_orderkey, o_custkey, 'Z' AS o_orderstatus,
                     100.0 AS o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 100 = 21
              UNION ALL
              SELECT o_orderkey + 200000000, o_custkey, 'W',
                     o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 100 = 23
            ), final AS (
              -- untouched rows
              SELECT * FROM merged
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m2src)
              UNION ALL
              -- matched, guard (price < 100000) FALSE -> guarded update
              SELECT m.o_orderkey, m.o_custkey, s.o_orderstatus,
                     m.o_totalprice + s.o_totalprice,
                     m.o_orderdate, m.o_orderpriority
              FROM merged m JOIN m2src s USING (o_orderkey)
              WHERE NOT (m.o_totalprice < 100000)
              -- matched + guard TRUE rows are DELETEd (omitted)
              UNION ALL
              -- not matched -> INSERT *
              SELECT s.* FROM m2src s
              WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM merged)
            )
            SELECT o_orderstatus, count(o_orderkey) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        **packing.ORACLE_SQL,
        **quantize.ORACLE_SQL,
        **chunking.ORACLE_SQL,
        **clustering.ORACLE_SQL,
        **dedup.ORACLE_SQL,
        **similarity.ORACLE_SQL,
        **text.ORACLE_SQL,
        **multimodal.ORACLE_SQL,
        **relational2.ORACLE_SQL,
        **temporal.ORACLE_SQL,
        **sampling.ORACLE_SQL,
    }
