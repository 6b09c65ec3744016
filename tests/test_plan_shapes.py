"""Physical-plan regression tests: the plan SHAPES that make headline
queries scale are asserted, not just eyeballed in PLANS.md — a future
edit that adds a shuffle, drops a broadcast, or breaks parquet filter
pushdown fails here before it ships.

Counts come from the executed plan string at sf0.001 (shapes, not AQE
runtime size decisions). Assertions are UPPER bounds on the expensive
features (an extra exchange is a regression; one fewer is fine) and
presence checks for the cheap ones (broadcast, pushdown)."""

from __future__ import annotations

import re

import pytest

import advanced_strapi_import_spark.plans.all  # noqa: F401
from advanced_strapi_import_spark.plans.registry import QUERIES

from conftest import SF_TEST


def _features(spark, name: str) -> dict:
    # drop session-scoped shared caches first: a band frame persisted by
    # an earlier test would splice InMemoryRelation subtrees (with their
    # own Exchange lines) into the printed plan, making the counts
    # depend on test order instead of the query's own shape
    from advanced_strapi_import_spark import caching

    caching.release_all()
    plan = (
        QUERIES[name]
        .fn(spark, SF_TEST)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "sp": plan.count("Exchange SinglePartition"),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "plan": plan,
    }


# (query, max_exchanges, requirements) — bounds chosen one notch above
# the current measured shape only where AQE legitimately varies.
CASES = [
    # scan + one hash agg: partial/final pair needs exactly one exchange
    ("q1_pricing_summary", 1, {}),
    # dimension joins must broadcast, never sort-merge
    ("q3_shipping_priority", 4, {"smj": 0, "bhj_min": 1, "pushed": True}),
    # rank<=2 pivot: window + reused-partitioning groupBy = one exchange
    ("export_flatten_repeat", 2, {"pushed": True}),
    # pure per-row expressions: NO shuffle at all
    ("text_repetition", 1, {}),
    ("text_quality", 0, {}),
    # in-row k-means assignment: the ONLY exchange is the k x dims
    # centroid-sum aggregation (fan_out repartition adds one RR)
    ("embedding_kmeans_step", 2, {"smj": 0}),
    # per-type quantiles: one aggregation exchange
    ("events_approx_quantiles", 1, {}),
    # broadcast bench grams; corpus side never sort-merges
    ("contamination_8gram", 4, {"smj": 0}),
    # native pivot with explicit values: one partial/final agg pair
    ("orders_pivot_year_status", 2, {"smj": 0}),
    # unpivot is a row-local generate: only the 4-key agg shuffles
    ("lineitem_unpivot_measures", 1, {}),
    # correlated LATERAL must decorrelate to a rank filter + broadcast
    # join — never a per-brand BroadcastNestedLoop re-scan
    ("part_lateral_topk", 3, {"bnlj": 0, "pushed": True}),
    # 9-group agg + broadcast dims; the only BNLJ is the 1-row total
    ("orders_benford", 3, {"smj": 0, "bhj_min": 1, "pushed": True}),
    # value-domain collapse before the single-partition ECDF window
    ("events_ks_test", 4, {"smj": 0, "pushed": True}),
    # percentile cuts broadcast back onto the fact scan
    ("events_winsorized_stats", 3, {"smj": 0, "bhj_min": 1}),
    # stratified systematic sampling: ONE partitioned rank window
    ("sample_systematic", 1, {}),
    # lag windows run over the pre-aggregated hourly series
    ("events_autocorr", 3, {}),
    ("customer_l_diversity", 2, {}),
    # both windows + final agg reuse the same source partitioning
    ("source_top_p_docs", 2, {}),
    ("source_jackknife_influence", 3, {"smj": 0}),
    # iterative LPA: the edge list is an eager localCheckpoint (r12),
    # so the plan holds only the 2 (join, count, rank) rounds over a
    # LogicalRDD leaf — tight bound, and still no SortMergeJoin
    ("dedup_label_propagation", 8, {"smj": 0}),
    # recursive CTE: the UnionLoop body must not add per-level shuffles
    ("customer_hierarchy_depth", 3, {"smj": 0}),
    # RANGE frame: one customer-hash exchange feeds the frame sort
    ("orders_rolling_range_frame", 1, {}),
    # daily agg + window HOF reuse the user-hash partitioning
    ("events_ewma", 2, {}),
    # 22-group histogram: single partial/final agg pair
    ("events_hist_width_bucket", 1, {}),
    ("events_dp_noise_counts", 1, {}),
    # marginal aggs + broadcast grid; the two BNLJ are 1-row/dim crosses
    ("customer_t_closeness", 4, {"smj": 0, "bhj_min": 1, "pushed": True}),
    # two-level bitmap distinct: (type,bucket) agg then type agg
    ("events_bitmap_distinct", 2, {"smj": 0}),
    # unigram model + corpus stats broadcast onto the token stream
    ("doc_unigram_logprob", 5, {"smj": 0, "bhj_min": 1}),
    # inverted-index join: persisted weight subtree reprints per
    # reference (InMemoryRelation string inflation, cf. LPA) — loose
    # exchange bound; the binding assertions are broadcast-not-SMJ
    ("doc_tfidf_cosine_pairs", 28, {"smj": 0, "bhj_min": 1}),
    # SRP: fan_out RR + signature agg + bucket agg, all row-local math
    ("embedding_srp_buckets", 3, {"smj": 0}),
    # r12 lineage truncation: each peel round is an eager
    # localCheckpoint, so the final plan is just the degree agg + the
    # converged window over the checkpointed survivor edges (the old
    # lazy-persist form printed the whole 330-exchange peel history and
    # re-computed raced partitions through it)
    ("dedup_kcore", 3, {"smj": 0, "bnlj": 0}),
    # skyline: per-price agg shuffle + price-domain-only single
    # partition window + broadcast of the front back onto the scan —
    # the fact table itself never single-partitions
    ("parts_skyline_2d", 2, {"smj": 0, "bnlj": 0, "bhj_min": 1}),
    # islands window + two aggs reuse the user hash partitioning
    ("events_user_streaks", 2, {}),
    # cell agg + broadcast marginals + single-partition window on the
    # tiny cell frame
    ("events_chi_square_independence", 8, {"smj": 0, "bhj_min": 1}),
    # row-sum pass + 64-group agg + broadcast norm; no d x d Gram
    ("embedding_power_iteration", 3, {"smj": 0}),
    # first-touch agg + day rollup + day-domain-only running sum
    ("orders_cumulative_new_customers", 4, {"smj": 0, "bhj_min": 1}),
    # bigram/unigram count shuffles + broadcast model joins
    ("doc_bigram_pmi", 6, {"smj": 0, "bhj_min": 1}),
    # wedge self-join legitimately sort-merges (both sides are the
    # edge list); persisted-subtree reprints inflate the exch count
    ("dedup_link_prediction", 40, {"bnlj": 0}),
    # monthly collapse first; pairwise slope join must broadcast
    ("orders_theil_sen_trend", 8, {"smj": 0, "bhj_min": 1}),
    # gazetteer must broadcast; the corpus never shuffles for the join
    ("doc_gazetteer_mentions", 2, {"smj": 0, "bhj_min": 1}),
    # two tiny aggs + broadcast totals
    ("part_brand_herfindahl", 4, {"smj": 0, "bhj_min": 1}),
    # type-partitioned rank + type agg reuse one partitioning
    ("events_user_lorenz_gini", 2, {"smj": 0}),
    # cell agg + broadcast marginals + tiny-frame window
    ("events_mutual_information", 8, {"smj": 0, "bhj_min": 1}),
    # candidate gen (one BNLJ = the broadcast crossJoin exactness
    # baseline) + ONE query_id shuffle into the Arrow MMR kernel —
    # nothing else may appear
    ("embedding_mmr_topk", 2, {"smj": 0, "bnlj": 1}),
    # IVF serve path + brute-force recall AUDIT arm (its BNLJ) +
    # broadcast-pinned audit joins; the SinglePartition exchanges are
    # the queries-cardinality mean-recall windows (same shape as
    # embedding_ivf_topk)
    ("embedding_mmr_ivf", 26, {"smj": 0, "bhj_min": 4}),
    # SQL UNPIVOT is a row-local generate; one (flag, measure) agg
    ("lineitem_unpivot_sql", 1, {"smj": 0, "bnlj": 0}),
    # one key-sampled agg; pushdown carries the % filter to the scan
    ("orders_listagg", 1, {"smj": 0, "bnlj": 0, "pushed": True}),
    # argmax via max_by: ONE map-side-combinable agg, no window sort
    ("events_extreme_users", 1, {"smj": 0, "bnlj": 0}),
    # distributed_ntile: range repartition + pid window + decile agg —
    # sp=0 binds: NO single-partition window over the fact table
    ("lineitem_price_deciles", 5, {"smj": 0, "bnlj": 0, "sp": 0}),
    # 1024-bucket weight table broadcasts back onto the token stream;
    # the BNLJ/singleP pair is the 1-row totals scalar
    ("doc_dsir_importance", 6, {"smj": 0, "bhj_min": 3}),
    # digest groupBy + digest join-back + source rollup
    ("corpus_dedup_rate_by_source", 3, {"smj": 0, "bhj_min": 1}),
    # LPA edges checkpoint eagerly (r12), shrinking the reprinted
    # subtrees; binding: the only SMJ is a pairs-sized label join
    # (correct shuffle join at scale), label/degree-domain broadcasts
    ("dedup_modularity", 60, {"smj": 1, "bhj_min": 5}),
    # two brute-force arms (exactness baseline BNLJs) + broadcast
    # overlap join of two queries*5 frames
    ("embedding_matryoshka_recall", 3, {"smj": 0, "bnlj": 2, "bhj_min": 1}),
    # chain lives on the persisted types^2 aggregate; power steps are
    # broadcast joins (reprints inflate exch); BNLJs are 1-row scalars
    ("events_stationary_distribution", 28, {"smj": 0, "bhj_min": 3}),
    # posexplode is row-local; ONE 64-group aggregation exchange
    ("embedding_dim_stats", 1, {"smj": 0, "bnlj": 0}),
    # sketch aggregate: partial/final pair, one exchange, no joins
    ("events_approx_top_k", 1, {"smj": 0, "bnlj": 0}),
    # ONE user shuffle: the lead window's partitioning is reused by
    # the per-user aggregate
    ("events_twap", 1, {"smj": 0, "bnlj": 0}),
    # (type, day) domain agg + type-partitioned rank windows
    ("events_rank_trio", 2, {"smj": 0, "bnlj": 0}),
    # 4 probe arms + exact-truth arm; BNLJ/sp are the 1-row scalar
    # recall counters and the 4-row monotonicity window (domain)
    ("embedding_ivf_nprobe_sweep", 18, {"smj": 0}),
    # one lang-group aggregate carrying the exact percentile sort
    ("doc_length_percentiles_by_lang", 1, {"smj": 0, "bnlj": 0, "sp": 0}),
    # 3 sketch aggs + exact audit arm share one scan; the sp exchanges
    # are the global (1-row) aggregates themselves
    ("events_hll_precision_sweep", 6, {"smj": 0, "bnlj": 0}),
    # one distinct-user aggregate; three scalar projection arms
    ("events_ab_srm_check", 6, {"smj": 0, "bnlj": 0}),
    # sniff+parse are row-local Arrow; ONE 3-group rollup exchange
    ("multimodal_mixed_manifest", 2, {"smj": 0, "bnlj": 0}),
    # fingerprint agg + 32-group bit rollup; the BNLJ is the 1-row
    # doc-count scalar
    ("dedup_simhash_bit_balance", 4, {"smj": 0, "bnlj": 1}),
    # signature agg (window total, one payload scan) + hamming_pairs
    # chunk union reprints the hash subtree per branch
    ("multimodal_ahash_pairs", 8, {"smj": 0, "bnlj": 0}),
    # monthly collapse; two tiny aggs; the BNLJ is the 1-row total
    ("orders_seasonal_index", 5, {"smj": 0}),
    # sessionize+lag windows reuse the user partitioning; rule frame
    # joins broadcast marginals
    ("events_sequential_rules", 11, {"smj": 0, "bhj_min": 1}),
    ("events_entropy_rate", 11, {"smj": 0, "bhj_min": 1}),
    # fact join broadcasts; windows run over the (flag, day) frame
    ("lineitem_kaplan_meier", 4, {"smj": 0, "bhj_min": 1}),
    # day-domain windows only; one aggregation off the fact table
    ("events_daily_peaks", 2, {"smj": 0, "bnlj": 0}),
    # the ONE smj is the customer-key FULL OUTER join — full outer
    # cannot broadcast in Spark, shuffle join is the correct shape.
    # Quintiles come from distributed_ntile (range repartition + pid
    # windows + persisted-subtree reprints = the exchange count);
    # sp=0 is the binding assertion: NO single-partition exchange
    ("customer_rfm_migration", 13, {"smj": 1, "bnlj": 0, "sp": 0}),
    # r13 BNLJ audit pins (VERDICT r12 task 5): every
    # BroadcastNestedLoopJoin in the stats family must stay a
    # crossJoin(broadcast(X)) whose build side is a no-grouping
    # aggregate (1 row by construction) — theil's tot/total/btw/wth
    # scalars (printed counts inflate via persisted-subtree reprints)
    ("lineitem_theil_decomposition", 51, {"smj": 0, "bnlj": 8}),
    # brier: the maxc scalar + the bins-total scalar, reprinted
    ("events_brier_decomposition", 10, {"smj": 0, "bnlj": 5}),
    # heaps: one 1-row maxd scalar + two theta joins against the
    # 10-row checkpoint domain (constant-bounded build side; the 10x
    # row fan-out collapses map-side in the partial aggregation, so
    # nothing wider than 10 rows per task ever reaches an exchange);
    # the one SMJ is the 10-row nv/vv join (stat-less pre-AQE, AQE
    # converts at runtime)
    ("vocab_heaps_law", 7, {"smj": 1, "bnlj": 4}),
    # r12 lineage truncation: the per-round BFS materialization is an
    # eager localCheckpoint, so the RETURNED frame is a projection over
    # the checkpointed RDD — zero exchanges. Re-growing the 27k-line
    # unioned peel history (2664 printed exchanges before the fix)
    # fails here loudly.
    ("dedup_landmark_distances", 0, {"smj": 0, "bnlj": 0}),
    # r12 lineage truncation: src_w/nodes are eager checkpoints, so the
    # final plan holds only the 3 rank rounds (8 exchanges), not the
    # whole shingle/band/Jaccard lineage (12k lines before the fix).
    # The loop joins plan as SMJ pre-AQE (LogicalRDD has no stats); AQE
    # converts from runtime sizes — the scale-adaptive choice.
    ("dedup_weighted_pagerank", 10, {"bnlj": 0}),
    # FK cascade: every equality arm is ONE broadcast join, every
    # contains arm ONE broadcast theta join, and the value -> id mapping
    # broadcasts back onto the rows; the exchanges are the distinct
    # values (printed once per branch that reads them) and, for the
    # multi relation, the per-row id-list aggregate and its join back
    ("fk_resolve_cascade", 3, {"smj": 0}),
    ("fk_resolve_multi", 4, {"smj": 0}),
]


@pytest.mark.parametrize("name,max_exch,req", [
    pytest.param(*c, id=c[0]) for c in CASES
])
def test_plan_shape(spark, name, max_exch, req):
    f = _features(spark, name)
    assert f["exchanges"] <= max_exch, (
        f"{name}: {f['exchanges']} exchanges > {max_exch}\n{f['plan'][:4000]}"
    )
    if "smj" in req:
        assert f["smj"] <= req["smj"], f"{name}: unexpected SortMergeJoin"
    if "bnlj" in req:
        assert f["bnlj"] <= req["bnlj"], (
            f"{name}: unexpected BroadcastNestedLoopJoin"
        )
    if "bhj_min" in req:
        assert f["bhj"] >= req["bhj_min"], f"{name}: expected broadcast join"
    if "sp" in req:
        assert f["sp"] <= req["sp"], (
            f"{name}: {f['sp']} single-partition exchanges > {req['sp']}"
        )
    if req.get("pushed"):
        assert f["pushed"], f"{name}: parquet filter pushdown missing"


def test_staged_tokenize_survives_optimizer(spark):
    # the staged split() must stay single-evaluation end to end in the
    # REGISTERED query (not just the operator unit test)
    plan = (
        QUERIES["text_repetition"]
        .fn(spark, SF_TEST)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_quantile_sketch_audit_has_no_per_flag_row_number(spark):
    """Round-11 (VERDICT r10 task 6): the exact-quantile audit branch
    must ride the distributed rank machinery — per-(flag,value) counts
    + range-partitioned cumsum — NOT a row_number window sorting each
    flag's full row set inside |flags| partitions. The only windows
    left run over the tiny (flag) and (__pid) domains."""
    plan = (
        QUERIES["lineitem_quantile_sketch"]
        .fn(spark, SF_TEST)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "row_number" not in plan, (
        "per-flag row_number window is back:\n" + plan[:4000]
    )
    assert "rangepartitioning" in plan, (
        "distributed_cumsum's range repartition missing:\n" + plan[:4000]
    )


def test_auto_cells_rule():
    """Corpus-adaptive IVF cell count: constant expected cell size,
    clamped, and — load-bearing for oracle stability — EXACTLY the
    historical 16 at every oracle-gate SF corpus size."""
    from advanced_strapi_import_spark.operators.similarity import auto_cells

    assert auto_cells(0) == 16
    assert auto_cells(20) == 16        # sf0.001
    assert auto_cells(200) == 16       # sf0.01
    assert auto_cells(2000) == 16      # sf0.1 (2000 // 128 = 15 -> lo)
    assert auto_cells(2048) == 16
    assert auto_cells(18000) == 140    # the x9 probe corpus
    assert auto_cells(10**9) == 4096   # hi clamp bounds the centroids
    assert auto_cells(4096, target=128, lo=16, hi=4096) == 32
