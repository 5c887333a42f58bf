"""Benchmark harness: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ...}

Results are fully materialized (noop sink for row-heavy outputs,
collect for sketch-sized outputs) so timings include the whole plan.

Timing model: median-of-5 per query = steady-state interactive
latency robust to shared-box scheduler noise (round 4 measured a
1.78x aggregate swing between best-of-2 runs of IDENTICAL code, so
best-of-2 was not a usable estimator). Override the repeat count
with $SPARK_GRAFT_BENCH_REPEATS. r16 (VERDICT-r15 #1): the slate
additionally runs as $SPARK_GRAFT_BENCH_ROUNDS (default 2)
independent rounds of those blocks and each query reports the MIN
of its round medians — one multi-minute CPU steal window covered
all 5 samples of 14 consecutive queries in the r15 driver run and
minted phantom regressions the medians could not absorb; rounds
are far apart in wall time, so both medians of one query cannot
sit in the same window. ROUNDS=1 reproduces the old single-round
methodology. Pipelines that persist()
intermediates (dedup LSH) serve later runs from cache —
deliberately kept, since the reference system (Hillview) is an
always-resident in-memory service and its baseline numbers are
warm-path sketch latencies.

Besides the full total, the JSON line carries `comparable_total`:
the same statistic restricted to the 42-query anchor set that has
existed unchanged since round 2, so cross-round comparisons aren't
skewed by queries added later.

Warm recipe (r14): a full UNTIMED pass runs before the recorded one
(SPARK_GRAFT_BENCH_WARM=0 skips it) — recorded numbers are
steady-state, comparable run-to-run within the A/A band.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from hillview_spark import cache
from hillview_spark.session import get_spark
from hillview_spark.tables import load_all
from hillview_spark.queries import tpch
from hillview_spark.operators import (
    correlation, heavy_hitters, histogram, privacy, spreadsheet, stats,
    temporal,
)
from hillview_spark.functions import curation, dedup, search, similarity, text
from hillview_spark.streaming import events as ev


def headline_queries(t):
    """name -> (df_factory, materialization) where materialization is
    'collect' for sketch-sized results or 'noop' for row-heavy ones."""
    return {
        # analytical joins/aggregations
        "q1": (lambda: tpch.q1_pricing_summary(t["lineitem"]), "collect"),
        "q3": (lambda: tpch.q3_shipping_priority(
            t["customer"], t["orders"], t["lineitem"]), "collect"),
        "q5": (lambda: tpch.q5_local_supplier(
            t["customer"], t["orders"], t["lineitem"], t["supplier"],
            t["nation"], t["region"]), "collect"),
        "q6": (lambda: tpch.q6_revenue_forecast(t["lineitem"]), "collect"),
        "q4": (lambda: tpch.q4_late_orders(
            t["orders"], t["lineitem"]), "collect"),
        "q10": (lambda: tpch.q10_returned_items(
            t["customer"], t["orders"], t["lineitem"]), "collect"),
        "q14": (lambda: tpch.q14_promo_revenue(
            t["lineitem"], t["part"]), "collect"),
        "q7": (lambda: tpch.q7_volume_shipping(
            t["lineitem"], t["orders"], t["customer"], t["supplier"],
            t["nation"]), "collect"),
        "q18": (lambda: tpch.q18_large_orders(
            t["customer"], t["orders"], t["lineitem"]), "collect"),
        "q19": (lambda: tpch.q19_discounted_revenue(
            t["lineitem"], t["part"]), "collect"),
        "q9": (lambda: tpch.q9_product_type_profit(
            t["part"], t["supplier"], t["lineitem"], t["orders"],
            t["nation"]), "collect"),
        "q13": (lambda: tpch.q13_customer_order_distribution(
            t["customer"], t["orders"]), "collect"),
        "q21": (lambda: tpch.q21_suppliers_kept_waiting(
            t["supplier"], t["lineitem"], t["orders"]), "collect"),
        "q2": (lambda: tpch.q2_min_cost_supplier(
            t["part"], t["supplier"], t["nation"], t["region"],
            t["lineitem"]), "collect"),
        "q8": (lambda: tpch.q8_market_share(
            t["part"], t["supplier"], t["lineitem"], t["orders"],
            t["customer"], t["nation"], t["region"]), "collect"),
        "q11": (lambda: tpch.q11_important_parts(
            t["lineitem"], t["supplier"], t["nation"]), "collect"),
        "q12": (lambda: tpch.q12_shipmode_priority(
            t["orders"], t["lineitem"]), "collect"),
        "q15": (lambda: tpch.q15_top_supplier(
            t["lineitem"], t["supplier"]), "collect"),
        "q16": (lambda: tpch.q16_supplier_part_counts(
            t["part"], t["supplier"], t["lineitem"]), "collect"),
        "q17": (lambda: tpch.q17_small_quantity_revenue(
            t["lineitem"], t["part"]), "collect"),
        "q20": (lambda: tpch.q20_part_promotion(
            t["supplier"], t["lineitem"], t["part"]), "collect"),
        "q22": (lambda: tpch.q22_sales_opportunity(
            t["customer"], t["orders"]), "collect"),
        # interactive-exploration sketches (the Hillview core loop)
        "histogram1d": (lambda: histogram.histogram1d(
            t["lineitem"], "l_extendedprice", 100), "collect"),
        "heatmap2d": (lambda: histogram.histogram2d(
            t["lineitem"], "l_quantity", "l_extendedprice", 50, 50), "collect"),
        "heavy_hitters": (lambda: heavy_hitters.heavy_hitters(
            t["lineitem"], ["l_suppkey"], epsilon=0.001), "collect"),
        "next_k": (lambda: spreadsheet.next_k(
            t["lineitem"],
            ["l_returnflag", "l_linestatus", "l_shipdate"], k=100), "collect"),
        "quantiles": (lambda: stats.quantiles_approx(
            t["lineitem"], "l_extendedprice", [0.1, 0.25, 0.5, 0.75, 0.9]),
            "collect"),
        # exact-decimal stats with domain-fitted operand widths (r7,
        # see _LI_STAT_WIDTHS): same values, compact-long decimal path
        "col_stats": (lambda: stats.basic_col_stats(
            t["lineitem"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            widths=_LI_STAT_WIDTHS), "collect"),
        # reference-parity double moments (BasicColStatSketch
        # semantics) — the throughput path; non-anchor (added r6)
        "col_stats_fast": (lambda: stats.basic_col_stats(
            t["lineitem"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            exact=False), "collect"),
        "corr_matrix": (lambda: correlation.corr_matrix(
            t["lineitem"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]), "collect"),
        "lamp_project": (lambda: correlation.lamp_project(
            t["part"], ["p_size", "p_retailprice"], n_controls=50,
            key_col="p_partkey"), "noop"),
        # LLM-pipeline operators
        "dedup_minhash_lsh": (lambda: dedup.minhash_lsh_pairs(
            t["documents"], 16, 4), "noop"),
        # the canonical near-dup pipeline: LSH candidates -> exact
        # jaccard verify on candidates only (all-pairs exact jaccard
        # stays in the correctness gate; nobody runs it at 100 TB).
        "dedup_lsh_verify": (lambda: dedup.verify_jaccard(
            t["documents"],
            dedup.minhash_lsh_pairs(t["documents"], 16, 4),
            threshold=0.3), "noop"),
        "dedup_simhash": (lambda: dedup.simhash_pairs(
            t["documents"], max_hamming=3), "noop"),
        # the full production chain: exact -> LSH -> verify ->
        # connected components -> keepers
        "dedup_corpus": (lambda: dedup.dedup_corpus(
            t["documents"], threshold=0.3), "noop"),
        "ann_cosine_topk": (lambda: similarity.cosine_topk(
            t["embeddings"], 0, k=10, exact=False), "collect"),
        # query vector fetched ONCE here (factory-build time), not
        # inside the timed region — otherwise every sample measures a
        # filter+collect job on top of the BLAS top-k it claims to
        "ann_topk_numpy": (lambda qv=_query_vec(t): similarity.cosine_topk_numpy(
            t["embeddings"], qv, k=10), "collect"),
        # LSH-blocked pair mining / k-NN join, BLAS-backed: same
        # candidate semantics as the expression path (pytest-verified
        # equal), one bucket shuffle + per-bucket gram matrix.
        "cosine_dups_lsh": (lambda: similarity.cosine_dup_pairs_blocked(
            t["embeddings"], threshold=0.4, planes=8), "noop"),
        "knn_join_lsh": (lambda: similarity.knn_join_blocked(
            t["embeddings"], k=3, planes=8), "noop"),
        "text_quality": (lambda: text.quality_score(t["documents"]), "noop"),
        "text_lang_id": (lambda: text.lang_id(t["documents"]), "noop"),
        # corpus curation
        "pii_scrub": (lambda: curation.pii_scrub(t["documents"]), "noop"),
        "repeated_segments": (lambda: curation.remove_repeated_segments(
            t["documents"], 10, 2), "noop"),
        "repetition_stats": (lambda: curation.repetition_stats(
            t["documents"]), "noop"),
        "decontaminate": (lambda: curation.decontaminate(
            t["documents"].where(F.col("doc_id") % 20 != 0),
            t["documents"].where(F.col("doc_id") % 20 == 0), n=5), "noop"),
        "chunk_documents": (lambda: curation.chunk_documents(
            t["documents"], 40, 8), "noop"),
        "clean_lines": (lambda: curation.clean_lines(
            t["documents"].withColumn(
                "text", F.regexp_replace("text", " value ", ".\n")),
            min_words=3), "noop"),
        "cap_per_group": (lambda: curation.cap_per_group(
            t["documents"], "source", 50), "noop"),
        # PQ: compressed-code encode + asymmetric-distance search
        # (BLAS siblings — the production path; the decimal exact
        # twins stay in the correctness gate, pytest-verified equal)
        "pq_encode": (lambda: similarity.pq_encode_blas(
            t["embeddings"], m=4, k=8, stride=50), "noop"),
        "pq_topk": (lambda: similarity.pq_topk_blas(
            t["embeddings"], 0, n_results=10), "collect"),
        # temporal joins
        "asof_join": (lambda: temporal.asof_join(
            t["events"].where(F.col("event_type") == "click")
                       .select("event_id", "user_id", "ts"),
            t["events"].where(F.col("event_type") == "error")
                       .select("user_id", "ts", "value"),
            "ts", ["user_id"], ["value"]), "noop"),
        "range_join": (lambda: temporal.range_join(
            t["events"].select("event_id", "user_id", "ts"),
            ev.sessionize(t["events"], 30), "ts",
            "session_start", "session_end", ["user_id"],
            bucket_seconds=1800), "noop"),
        # event-stream semantics
        "events_windows": (lambda: ev.windowed_counts(t["events"], "hour"), "noop"),
        # r11 additions (NOT anchors: absent from R2_ANCHORS, so they
        # never perturb the cross-round comparable subtotal)
        "events_distinct": (lambda: ev.windowed_distinct(t["events"]), "noop"),
        "events_quantiles": (lambda: ev.windowed_quantiles(t["events"]), "noop"),
        "events_retention": (lambda: ev.cohort_retention(t["events"]), "noop"),
        "ngram_novelty": (lambda: curation.ngram_novelty(
            t["documents"]), "noop"),
        "events_sessions": (lambda: ev.sessionize(t["events"], 30), "noop"),
        "events_sliding": (lambda: ev.sliding_window_counts(
            t["events"], 60, 15), "noop"),
        "click_purchase": (lambda: ev.click_purchase_pairs(
            t["events"], 30), "noop"),
        # r16 additions (VERDICT-r15 #7): the two heaviest gate-only
        # events ops get bench numbers (windowed_quantiles already
        # runs as events_quantiles). NOT anchors; same parameters as
        # the declared __spark_entry__ keys. The compact-line bytes
        # they cost are reclaimed by the ab-median rounding below —
        # see compact_payload.
        "events_funnel": (lambda: ev.funnel_counts(
            t["events"], steps=("click", "view", "purchase")), "noop"),
        "events_transitions": (lambda: ev.transition_counts(
            t["events"]), "noop"),
        # differential privacy: scan + tiny groupBy + broadcast noise spine
        "dp_histogram": (lambda: privacy.dp_histogram(
            t["lineitem"], "l_quantity",
            lo=1.0, hi=51.0, granularity=1.0, epsilon=1.0, buckets=10,
            seed=7), "collect"),
        # round-5 additions: relevance search, LM quality scoring,
        # semantic dedup, keyword extraction
        "bm25_search": (lambda: search.bm25_search(
            t["documents"], ["spark", "hash", "vector"]), "noop"),
        "text_lm_nll": (lambda: text.bigram_lm_nll(t["documents"]), "noop"),
        "semantic_dedup": (lambda: similarity.semantic_dedup_blas(
            t["embeddings"], threshold=0.4, n_cells=8, stride=50), "noop"),
        "tfidf_top_terms": (lambda: search.top_terms_per_doc(
            t["documents"], k=3, min_df=2, max_df_frac=0.95), "noop"),
        # round-6 additions: the DP continual counter (driver spine +
        # one groupBy) and the composed private session (quantize ->
        # filter -> noisy heatmap through PrivateTableView)
        "dp_prefix_counts": (lambda: ev.dp_prefix_counts(
            t["events"], epsilon=1.0, seed=7, prf="md5str"), "noop"),
        "dp_session_heatmap": (lambda: _dp_session_heatmap(t), "collect"),
        "dp_windowed_histogram": (lambda: ev.dp_windowed_histogram(
            t["events"], "hour", "value", lo=0.0, hi=500.0, buckets=10,
            epsilon=1.0, seed=7), "noop"),
        # round-7 additions: real-codec probe histogram and the
        # non-rectangular choropleth (both Arrow maps over pruned
        # scans + one tiny-key shuffle). The media table materializes
        # ONCE at factory-build time (like _query_vec) — at 100 TB
        # media lives in parquet, so the operator under measurement
        # is probe+histogram over stored payloads, not the synthetic
        # encoder that builds the fixture.
        "media_dims_histogram": (
            lambda md=_media_table(t): _media_dims(md), "collect"),
        "geo_polygon_counts": (lambda: _geo_polygons(t), "collect"),
    }


def _media_table(t):
    import tempfile

    from hillview_spark.functions import multimodal as mm

    path = tempfile.mkdtemp(prefix="bench-media-") + "/media.parquet"
    mm.synthesize_media(t["documents"]).write.parquet(path)
    return t["documents"].sparkSession.read.parquet(path)


def _media_dims(media):
    from hillview_spark.functions import multimodal as mm

    return mm.dims_histogram(media)


def _geo_polygons(t):
    import __spark_entry__ as entry_mod
    from hillview_spark.functions import geo

    return geo.count_by_region(
        t["customer"], "c_acctbal", "c_nationkey",
        entry_mod.GEO_POLYGON_REGIONS,
    )


# 2-decimal TPC-H value domains for the col_stats anchor: operand
# (p,2) keeps the per-row decimal chain compact (p <= 8) — values
# identical to the wide default, ~1.8x faster (see ab_pairs).
# r16 (VERDICT-r15 #6): narrowed to the TRUE domains (quantity 1-50,
# discount <= 0.10, tax <= 0.08). The plain sums of all four columns
# run on the compact-long path (the optimized plan sums
# UnscaledValue(...) into MakeDecimal(..., 14/18/13/13, 2)). Of the
# SUM-OF-SQUARES accumulators only discount's and tax's do: square
# (7,4) -> sum decimal(17,4) <= 18 digits. l_quantity's square at
# (4,2) is (9,4) and still sums in decimal(19,4), l_extendedprice's
# (17,4) in decimal(27,4), both 128-bit. 1.157 s vs 1.293 s
# interleaved medians of 7 (tools/ab_r16.py colstats_sq, identity
# asserted).
# Scale stays 2 on every operand, so a value outside the declared
# domain overflows LOUDLY under ANSI instead of silently rounding.
_LI_STAT_WIDTHS = {
    "l_quantity": (4, 2),
    "l_extendedprice": (8, 2),
    "l_discount": (3, 2),
    "l_tax": (3, 2),
}


def ab_pairs(t):
    """Interleaved same-session A/B pairs (VERDICT-r6 directive #5):
    any commit claiming a perf win registers (current, predecessor)
    factories here; the harness alternates A,B,A,B,... inside ONE
    session so both medians see the same box state, and emits both
    in the JSON under "ab" — the record then carries the evidence,
    not just the claim (cross-process runs on this shared box swing
    +-40%, which can invert a real same-process win)."""

    def q1_wide():
        # q1 exactly as before commit 785d0e7: generic decimal(18,2)
        # casts instead of the _DEC_WIDTHS column-fitted widths; the
        # plan is otherwise identical.
        d = lambda c: F.col(c).cast("decimal(18,2)")
        disc_price = d("l_extendedprice") * (F.lit(1) - d("l_discount"))
        charge = disc_price * (F.lit(1) + d("l_tax"))
        n = F.count(F.lit(1))
        return (
            t["lineitem"].where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
                F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
                F.sum(disc_price).cast("double").alias("sum_disc_price"),
                F.sum(charge).cast("double").alias("sum_charge"),
                F.round(F.sum(d("l_quantity")).cast("double") / n, 4).alias("avg_qty"),
                F.round(
                    F.sum(d("l_extendedprice")).cast("double") / n, 4
                ).alias("avg_price"),
                F.round(F.sum(d("l_discount")).cast("double") / n, 4).alias("avg_disc"),
                n.alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    _stat_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    # --- round-8 pairs (VERDICT r7 directive #4): settle whether the
    # r7 malformed-vector quarantine caused the similarity-family
    # regression. Three probes: the Arrow-batch guard (the only
    # per-row Python cost the quarantine added), the expression-side
    # NULL-cosine filter (expected free), and an A/A pair on
    # dedup_corpus — whose files were untouched between r6 and r7
    # (git log 306176b..0358561 is empty for dedup/curation/text/
    # search), so its 1.65x swing can only be box noise; the A/A
    # spread measures that floor directly in-session.

    def ann_topk_numpy_r7_guard(qv=_query_vec(t)):
        # predecessor: the r7 per-row map(len) guard on EVERY batch
        # (current code stacks once and only falls back on a
        # malformed batch — similarity._stack_batch)
        import numpy as np

        q = np.asarray(qv, dtype=np.float64)
        qn = float(np.linalg.norm(q))

        def score(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf[
                    pdf["embedding"].map(len, na_action="ignore") == len(q)
                ]
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                dots = m @ q
                norms = np.linalg.norm(m, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / (norms * qn)
                ids = pdf["vec_id"].to_numpy()
                r = np.round(cos, 6)
                ok = np.isfinite(r)
                ids, r = ids[ok], r[ok]
                top = np.lexsort((ids, -r))[:10]
                yield pd.DataFrame({"vec_id": ids[top], "cosine": r[top]})

        local = t["embeddings"].select("vec_id", "embedding").mapInPandas(
            score, "vec_id long, cosine double"
        )
        return local.orderBy(F.desc("cosine"), "vec_id").limit(10)

    def lsh_tag_r7_guard():
        # predecessor of similarity._numpy_bucketed's tag stage: the
        # per-row len() scan before every stack
        import numpy as np

        W = np.array([[float(w) for w in row]
                      for row in similarity.hyperplanes(64, 8)])

        def tag(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf[
                    pdf["embedding"].map(len, na_action="ignore") == 64
                ]
                if len(pdf) == 0:
                    continue
                M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                bits = (M @ W.T) >= 0
                bucket = (bits * (1 << np.arange(8))).sum(1)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "bucket": bucket.astype("int64"),
                })

        return t["embeddings"].select("vec_id", "embedding").mapInPandas(
            tag, "vec_id long, embedding array<float>, bucket long"
        )

    def ann_cosine_topk_postfilter():
        # predecessor (r7): the NULL-cosine cut as a Filter ABOVE the
        # scoring Project — referenced the aliased score, so the
        # collapsed filter re-evaluated the (non-codegen, higher-
        # order) fold expressions; measured 20-40% vs unguarded in
        # r7/r8. r9 hoists the cut to cheap array predicates on the
        # INPUT rows (see similarity.cosine_topk).
        q = t["embeddings"].where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("__q")
        )
        scored = (
            t["embeddings"].where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select(
                F.col("vec_id"),
                F.round(
                    similarity.cosine(
                        similarity.dot_product(
                            F.col("embedding"), F.col("__q"), False),
                        similarity.squared_norm(F.col("embedding"), False),
                        similarity.squared_norm(F.col("__q"), False),
                    ),
                    6,
                ).alias("cosine"),
            )
        )
        return (
            scored.where(F.col("cosine").isNotNull())
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(10)
        )

    def corr_matrix_builtin():
        # predecessor (pre-r9): the builtin corr aggregate — fast,
        # but ANSI-job-fatal the moment any column is constant
        from hillview_spark import numeric

        proj = t["lineitem"].select(*[
            col.alias(c)
            for c, col in numeric.finite_values(
                t["lineitem"], _stat_cols
            ).items()
        ])
        aggs, names = [], []
        for i, a in enumerate(_stat_cols):
            for b in _stat_cols[i:]:
                aggs.append(F.round(F.corr(a, b), 4).alias(f"{a}|{b}"))
                names.append((a, b))
        wide = proj.agg(*aggs)
        structs = F.array(*[
            F.struct(
                F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                F.col(f"{a}|{b}").alias("corr"),
            )
            for a, b in names
        ])
        return wide.select(F.explode(structs).alias("s")).select("s.*")

    return {
        "col_stats_widths": {
            "a": (lambda: stats.basic_col_stats(
                t["lineitem"], _stat_cols, widths=_LI_STAT_WIDTHS), "collect"),
            "b": (lambda: stats.basic_col_stats(
                t["lineitem"], _stat_cols), "collect"),
            "a_desc": "domain-fitted decimal operand widths",
            "b_desc": "generic decimal(28,4)/(18,4) operands",
        },
        "q1_dec_widths": {
            "a": (lambda: tpch.q1_pricing_summary(t["lineitem"]), "collect"),
            "b": (q1_wide, "collect"),
            "a_desc": "column-fitted _DEC_WIDTHS decimals",
            "b_desc": "generic decimal(18,2) casts",
        },
        "ann_topk_numpy_guard": {
            "a": (lambda qv=_query_vec(t): similarity.cosine_topk_numpy(
                t["embeddings"], qv, k=10), "collect"),
            "b": (lambda: ann_topk_numpy_r7_guard(), "collect"),
            "a_desc": "one-stack fast-path quarantine (r8)",
            "b_desc": "per-row map(len) guard on every batch (r7)",
        },
        "lsh_bucket_tag_guard": {
            "a": (lambda: similarity._numpy_bucketed(
                t["embeddings"], "vec_id", "embedding", 8, 64), "noop"),
            "b": (lambda: lsh_tag_r7_guard(), "noop"),
            "a_desc": "one-stack fast-path quarantine (r8)",
            "b_desc": "per-row map(len) guard on every batch (r7)",
        },
        "ann_cosine_topk_guard": {
            "a": (lambda: similarity.cosine_topk(
                t["embeddings"], 0, k=10, exact=False), "collect"),
            "b": (lambda: ann_cosine_topk_postfilter(), "collect"),
            "a_desc": "hoisted input-row quarantine (r9)",
            "b_desc": "post-Project NULL-cosine filter (r7)",
        },
        "dedup_corpus_noise": {
            "a": (lambda: dedup.dedup_corpus(
                t["documents"], threshold=0.3), "noop"),
            "b": (lambda: dedup.dedup_corpus(
                t["documents"], threshold=0.3), "noop"),
            "a_desc": "A/A: identical code both sides",
            "b_desc": "A/A: in-session noise floor (dedup untouched r7)",
        },
        # r9/r10: the crash-proof correlation. Spark 4's builtin corr
        # is JOB-FATAL (ANSI DIVIDE_BY_ZERO) on a constant column; the
        # guarded regr_sxy/sqrt(regr_sxx*regr_syy) form (r10, replaces
        # the r9 masked covar/stddev) returns NULL like DuckDB's corr.
        # Honest cost record (r10 interleaved medians at sf0.1, same
        # band as README's scale notes): guarded 0.52-0.54s vs
        # builtin 0.37-0.38s, ~30-45% — inherent to splitting Corr's
        # fused 6-field
        # buffer into three aggregates (values identical at round-4).
        "corr_safe_guard": {
            "a": (lambda: correlation.corr_matrix(
                t["lineitem"], _stat_cols), "collect"),
            "b": (lambda: corr_matrix_builtin(), "collect"),
            "a_desc": "guarded regr_sxy/sqrt(regr_sxx*regr_syy) corr (r10, degenerate-safe)",
            "b_desc": "builtin F.corr (job-fatal on constant columns)",
        },
    }


def run_ab(t, repeats: int) -> dict:
    out = {}
    for name, spec in ab_pairs(t).items():
        (fa, ha), (fb, hb) = spec["a"], spec["b"]
        sa, sb = [], []
        for i in range(repeats):
            # alternate which side runs first: the first run of a
            # repeat pays any persist()/cache warmup, so a fixed
            # A-then-B order systematically penalizes A (the r8 A/A
            # pair measured a 1.4x 'difference' between identical
            # factories before this)
            order = [(fa, ha, sa), (fb, hb, sb)]
            if i % 2:
                order.reverse()
            for f, h, s in order:
                start = time.perf_counter()
                materialize(f(), h)
                s.append(time.perf_counter() - start)
        cache.release_all()
        out[name] = {
            "a_median": round(statistics.median(sa), 3),
            "b_median": round(statistics.median(sb), 3),
            "a": spec["a_desc"],
            "b": spec["b_desc"],
            "repeats": repeats,
        }
        print(
            f"# ab {name}: a={out[name]['a_median']:.3f}s"
            f" ({spec['a_desc']}) vs b={out[name]['b_median']:.3f}s"
            f" ({spec['b_desc']})",
            file=sys.stderr,
        )
    return out


def _dp_session_heatmap(t):
    import __spark_entry__ as entry_mod

    return entry_mod._dp_session_view(t["lineitem"]).heatmap(
        "l_quantity", "l_discount", xb=5, yb=4
    )


# The bench queries present since BENCH_r02 — the stable cross-round
# comparison set. Queries added in later rounds count toward `value`
# but not `comparable_total`.
R2_ANCHORS = frozenset({
    "q1", "q3", "q5", "q6", "q4", "q10", "q14", "q7", "q18", "q19",
    "q9", "q13", "q21",
    "histogram1d", "heatmap2d", "heavy_hitters", "next_k", "quantiles",
    "col_stats", "corr_matrix", "lamp_project",
    "dedup_minhash_lsh", "dedup_lsh_verify", "dedup_simhash",
    "dedup_corpus", "ann_cosine_topk", "ann_topk_numpy",
    "cosine_dups_lsh", "knn_join_lsh", "text_quality", "text_lang_id",
    "pii_scrub", "repeated_segments", "repetition_stats",
    "decontaminate", "chunk_documents",
    "asof_join", "range_join",
    "events_windows", "events_sessions", "events_sliding",
    "click_purchase",
})


def _query_vec(t):
    row = t["embeddings"].where(F.col("vec_id") == 0).first()
    if row is None:
        raise ValueError("bench: embeddings fixture has no vec_id=0 query row")
    return row.embedding


def materialize(df, how: str) -> None:
    if how == "collect":
        df.collect()
    elif how == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        raise ValueError(f"unknown materialization tag {how!r}")


def bench_rounds() -> int:
    """$SPARK_GRAFT_BENCH_ROUNDS (default 2): an integer >= 1, checked
    before the session boots rather than failing after the slate ran."""
    raw = os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2")
    if not raw.isdecimal() or int(raw) < 1:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_ROUNDS must be an integer >= 1, got {raw!r}"
        )
    return int(raw)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except (ValueError, IndexError):
        sf = -1.0  # path carries no sf<float> suffix

    rounds = bench_rounds()
    spark = get_spark(
        app_name="hillview-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # --bucketed (VERDICT-r10 #4): run the whole suite over the
    # bucketed fact layout — one command instead of the
    # tools/ab_bucketed_tpch.py script. The bucket ingest happens
    # OUTSIDE the timed region (it is the one-time ingest cost);
    # values are identical to the plain run by construction, and the
    # compact JSON carries "bucketed": true so a recorded bench over
    # this layout is never confused with the plain one. Note: at
    # local sf0.1 the fact-fact join still auto-broadcasts, so the
    # honest 100-TB-regime measurement (auto-broadcast off) stays in
    # tools/ab_bucketed_tpch.py.
    bucketed = "--bucketed" in sys.argv[1:] or os.environ.get(
        "SPARK_GRAFT_BUCKETED", ""
    ) not in ("", "0")
    if bucketed:
        from hillview_spark.sources.bucketing import bucket_tpch

        t = bucket_tpch(spark, sf_dir, buckets=cpus)
    else:
        t = load_all(spark, sf_dir)

    # JVM/codegen warmup outside the timed region
    t["lineitem"].count()
    t["documents"].count()

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    queries = headline_queries(t)
    # a renamed/removed anchor must fail loudly, not silently shrink
    # the cross-round comparable subtotal
    missing_anchors = R2_ANCHORS - set(queries)
    if missing_anchors:
        raise ValueError(f"bench anchors missing: {sorted(missing_anchors)}")
    # Full untimed warm pass BEFORE the recorded run (r14, VERDICT-r13
    # directive #5): on this shared VM the first full pass of a
    # session pays page-cache + JIT costs that median-of-N per query
    # cannot absorb (r13 measured 32.9 cold -> 27.1 -> 20.98 fully
    # warm on an identical tree — two rounds of drift triage were
    # box state, not code). One throwaway pass touches every input
    # file and JITs every plan so the recorded medians are
    # steady-state. Disable with SPARK_GRAFT_BENCH_WARM=0 — only the
    # literal '0' disables; anything else (including empty) warms
    # (ADVICE r14: the old `not in ('', '0')` silently treated the
    # empty string as a disable value the docs never promised).
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        warm_start = time.perf_counter()
        for name, (factory, how) in queries.items():
            materialize(factory(), how)
            cache.release_all()
        print(
            f"# warm pass: {time.perf_counter() - warm_start:.1f}s "
            "(untimed, page-cache/JIT steady-state)",
            file=sys.stderr,
        )

    # Steal-window robustness (r16, VERDICT-r15 #1): the r15 driver
    # run minted 14 phantom "regressions" from ONE multi-minute CPU
    # steal window — median-of-N per query cannot help when the
    # window covers all N samples of consecutive queries (the blocks
    # run back-to-back). So the timed slate now runs as
    # $SPARK_GRAFT_BENCH_ROUNDS (default 2) INDEPENDENT rounds of the
    # same per-query median-of-N blocks, ~3 min apart in wall time,
    # and each query reports the MIN of its round medians: a window
    # long enough to corrupt both rounds of one query would have to
    # span the whole timed region. Within a round nothing changed —
    # same blocks, same cache semantics (release_all per block), same
    # materialization — and ROUNDS=1 reproduces the old methodology
    # exactly. The two round medians per query are an A/A pair by
    # construction; the detail line records them as evidence.
    round_medians: dict[str, list[float]] = {name: [] for name in queries}
    for rnd in range(rounds):
        for name, (factory, how) in queries.items():
            # median-of-N: the machine is shared, so single samples
            # mix scheduler noise into the measurement; the median is
            # robust to slow outliers and the one cold first run.
            samples = []
            for _ in range(repeats):
                start = time.perf_counter()
                materialize(factory(), how)
                samples.append(time.perf_counter() - start)
            med = statistics.median(samples)
            # release caches the pipeline registered (LSH bucket
            # tables etc.) so a long bench session doesn't accumulate
            # storage; within-query warm reuse (runs 2..N of a block)
            # is unaffected.
            cache.release_all()
            round_medians[name].append(med)
            print(
                f"# round {rnd + 1}/{rounds} {name}: {med:.3f}s "
                f"(median of {repeats})",
                file=sys.stderr,
            )
    timings = {}
    total = 0.0
    comparable_total = 0.0
    comparable_n = 0
    for name, meds in round_medians.items():
        dt = round(min(meds), 3)
        timings[name] = dt
        total += dt
        if name in R2_ANCHORS:
            comparable_total += dt
            comparable_n += 1
        print(
            f"# {name}: {dt:.3f}s (min over {rounds} round medians "
            f"[{', '.join(f'{m:.3f}' for m in meds)}])",
            file=sys.stderr,
        )

    ab = run_ab(t, repeats)

    # The driver records only the LAST 2000 chars of stdout plus the
    # parsed final JSON line — r8's single fat line blew that budget
    # and every per-query number was lost (VERDICT r8 #6). So: full
    # detail (queries + ab with descriptions) on its own line FIRST,
    # then a compact final line guaranteed under the tail budget.
    print(json.dumps({
        "detail": "full",
        "queries": timings,
        # per-query round medians: each pair is a same-code A/A
        # sample ~3 min apart — the steal-window evidence rides in
        # the record itself
        "query_rounds": {
            n: [round(m, 3) for m in meds]
            for n, meds in round_medians.items()
        },
        "ab": ab,
    }, separators=(",", ":")))
    line = final_compact_line(
        timings, ab, total, sf, cpus, repeats, bucketed,
        comparable_total, comparable_n, rounds,
    )
    print(line)
    spark.stop()


def compact_payload(timings, ab, total, sf, cpus, repeats, bucketed,
                    comparable_total, comparable_n, rounds=2) -> dict:
    """The compact final-line payload — extracted so the tail-budget
    pytest (r11 verdict #7) can dry-run the EXACT production dict
    over the real key set with worst-case number widths, without a
    Spark session.

    Per-family subtotals (VERDICT-r9 #8): box-noise episodes are
    diagnosable per family from the compact tail alone — a uniform
    drift across families is box noise, a single-family jump is a
    regression. Families: tpch (q<N>), dp, dedup, ann, stream,
    text; 'sketch' is everything else (histograms, stats, temporal,
    media, geo)."""
    fam_totals: dict[str, float] = {}
    for name, dt in timings.items():
        if re.fullmatch(r"q\d+", name):
            f = "tpch"
        elif name.startswith("dp_") or name == "dp_histogram":
            f = "dp"
        elif name.startswith(("dedup_", "cosine_dups", "semantic_")):
            f = "dedup"
        elif name.startswith(("ann_", "pq_", "knn_")):
            f = "ann"
        elif name.startswith(("events_", "click_")):
            f = "stream"
        elif name.startswith(
            ("text_", "bm25", "tfidf", "pii", "repeated_segments",
             "repetition", "decontaminate", "chunk", "clean_lines",
             "cap_per_group")
        ):
            f = "text"
        else:
            f = "sketch"
        fam_totals[f] = fam_totals.get(f, 0.0) + dt
    return {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "repeats": repeats,
        "rounds": rounds,
        "comparable_total": round(comparable_total, 3),
        "comparable_n": comparable_n,
        **({"bucketed": True} if bucketed else {}),
        "fam": {f: round(v, 3) for f, v in sorted(fam_totals.items())},
        # 2 decimals on the compact line only (r16): the ab pairs are
        # a~=b guards, so centisecond precision carries the signal;
        # the 28 bytes saved pay for the two events keys above without
        # pushing the worst-case line into the shed-ab fallback. Full
        # 3-decimal medians stay on the detail line.
        "ab": {
            k: [round(v["a_median"], 2), round(v["b_median"], 2)]
            for k, v in ab.items()
        },
    }


def final_compact_line(timings, ab, total, sf, cpus, repeats, bucketed,
                       comparable_total, comparable_n, rounds=2) -> str:
    compact = compact_payload(
        timings, ab, total, sf, cpus, repeats, bucketed,
        comparable_total, comparable_n, rounds,
    )
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # never let growth re-break the tail capture: shed the ab
        # medians first (they're on the detail line), then assert
        compact.pop("ab")
        line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1900, f"bench final line {len(line)}B > tail budget"
    return line


if __name__ == "__main__":
    main()
