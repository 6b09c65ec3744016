"""Sketch queries: count-min heavy hitters and Bloom-filter ingest
gating. Both sketches use the md5-based portable hash family
(operators/dedup.uhash_consts), so the DuckDB oracles rebuild the
sketches bit-for-bit — exact value checks, not loose bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from advanced_strapi_import_spark.operators import sketches as SK
from advanced_strapi_import_spark.operators.dedup import UHASH_P, uhash_consts
from advanced_strapi_import_spark.plans.registry import load, query

CMS_DEPTH = 4
CMS_WIDTH = 512
BLOOM_K = 4
BLOOM_M = 1 << 20


def _h32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT % {UHASH_P}"


def _cms_bucket_sql(d: int) -> str:
    a, b = uhash_consts(d)
    return f"((h32 * {a} + {b}) % {UHASH_P}) % {CMS_WIDTH}"


def _cms_oracle() -> str:
    sketch_arms = "\n    UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_bucket_sql(d)} AS bucket FROM h"
        for d in range(CMS_DEPTH)
    )
    probe_arms = "\n    UNION ALL ".join(
        f"SELECT user_id, exact_cnt, {d} AS d, {_cms_bucket_sql(d)} AS bucket FROM qh"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH h AS (
  SELECT user_id, {_h32_sql("CAST(user_id AS VARCHAR)")} AS h32 FROM events),
sketch AS (
  SELECT d, bucket, count(*) AS cnt FROM (
    {sketch_arms}) GROUP BY d, bucket),
exact AS (
  SELECT user_id, count(*) AS exact_cnt FROM events
  GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 10),
qh AS (
  SELECT user_id, exact_cnt, {_h32_sql("CAST(user_id AS VARCHAR)")} AS h32 FROM exact),
probes AS (
    {probe_arms})
SELECT p.user_id, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(min(s.cnt) AS BIGINT) AS cms_cnt,
       min(s.cnt) >= p.exact_cnt AS over_ok
FROM probes p JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
GROUP BY p.user_id, p.exact_cnt
"""


@query(
    "events_cms_topk",
    oracle=_cms_oracle(),
    doc="Count-min sketch heavy hitters: a 4x512 sketch built in one "
        "map-side-combinable groupBy (constant size regardless of the "
        "key domain), probed for the exact top-10 users. cms_cnt >= "
        "exact_cnt always (count-min never under-counts); the oracle "
        "rebuilds the sketch bit-for-bit from the same hash constants.",
)
def events_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.plans.registry import load_events

    e = load_events(spark, sf_dir)
    key = F.col("user_id").cast("string")
    sketch = SK.cms_build(e, key, depth=CMS_DEPTH, width=CMS_WIDTH)
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id"))
        .limit(10)
    )
    est = SK.cms_estimate(
        sketch, top, F.col("user_id").cast("string"),
        depth=CMS_DEPTH, width=CMS_WIDTH,
    )
    return est.select(
        "user_id",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_cnt").cast("long").alias("cms_cnt"),
        (F.col("cms_cnt") >= F.col("exact_cnt")).alias("over_ok"),
    )


def _bloom_pos_sql(i: int) -> str:
    a, b = uhash_consts(100 + i)
    return f"((h * {a} + {b}) % {UHASH_P}) % {BLOOM_M}"


def _bloom_oracle() -> str:
    corpus_arms = "\n  UNION ".join(
        f"SELECT DISTINCT {_bloom_pos_sql(i)} AS p FROM ch"
        for i in range(BLOOM_K)
    )
    pos_list = ", ".join(_bloom_pos_sql(i) for i in range(BLOOM_K))
    return f"""
WITH batch AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1 THEN text || ' novel' ELSE text END AS text
  FROM documents WHERE doc_id % 7 = 0),
ch AS (SELECT {_h32_sql("text")} AS h FROM documents),
cbits AS (
  {corpus_arms}),
bh AS (SELECT doc_id, text, {_h32_sql("text")} AS h FROM batch),
bpos AS (SELECT doc_id, unnest([{pos_list}]) AS p FROM bh),
hits AS (
  SELECT doc_id, bool_and(p IN (SELECT p FROM cbits)) AS bloom_hit
  FROM bpos GROUP BY doc_id),
membership AS (
  SELECT b.doc_id, b.text IN (SELECT text FROM documents) AS in_corpus
  FROM batch b)
SELECT h.doc_id, h.bloom_hit, m.in_corpus,
       (h.bloom_hit OR NOT m.in_corpus) AS fn_ok
FROM hits h JOIN membership m ON m.doc_id = h.doc_id
"""


@query(
    "dedup_bloom_gate",
    oracle=_bloom_oracle(),
    doc="Bloom-filter ingest gate: the corpus collapses once to a "
        "2^20-bit bitmap (128 KiB) broadcast to every executor; an "
        "arriving batch (half duplicates, half novel) is tested "
        "locally with zero shuffle and no corpus join. fn_ok asserts "
        "the no-false-negative guarantee per row; the oracle rebuilds "
        "the exact bit positions so bloom_hit (false positives "
        "included) matches bit-for-bit.",
)
def dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.col("text"), F.lit(" novel"))
        ).otherwise(F.col("text")).alias("text"),
    )
    flagged = SK.bloom_gate(d, batch, "text", k=BLOOM_K, m=BLOOM_M)
    corpus_texts = (
        d.select("text").distinct().withColumn("__in", F.lit(True))
    )
    in_corpus = F.coalesce("__in", F.lit(False))
    return flagged.join(corpus_texts, "text", "left").select(
        "doc_id",
        "bloom_hit",
        in_corpus.alias("in_corpus"),
        (F.col("bloom_hit") | ~in_corpus).alias("fn_ok"),
    )


@query(
    "events_hll_weekly_merge",
    oracle="""
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
       CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_bound
FROM events
GROUP BY date_trunc('week', ts)
""",
    doc="Mergeable-sketch rollup: per-day HLL sketches of user_id "
        "(hll_sketch_agg, DataSketches binary) are UNIONED into weekly "
        "uniques (hll_union_agg) without re-touching the raw events — "
        "the pattern that makes incremental distinct-count rollups "
        "possible at 100 TB (daily sketches persist; weekly/monthly/"
        "all-time reads merge kilobyte sketches, not re-scan). "
        "within_bound asserts |est-exact|/exact <= 5%% (lgK=12 is "
        "~1.6%% rsd); exact side is computed only for the audit.",
)
def events_hll_weekly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.plans.registry import load_events

    e = load_events(spark, sf_dir)
    week = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
    daily = e.groupBy(
        week.alias("week"),
        F.date_trunc("day", "ts").alias("__day"),
    ).agg(F.hll_sketch_agg("user_id").alias("__sk"))
    weekly = daily.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est"),
    )
    exact = e.groupBy(week.alias("week")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return weekly.join(exact, "week").select(
        "week",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("__est") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_bound"),
    )


@query(
    "events_hll_audience_overlap",
    oracle="""
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
ex AS (SELECT event_type, count(*) AS n FROM tu GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS exact_inter
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
pairs AS (
  SELECT ea.event_type AS type_a, eb.event_type AS type_b,
         ea.n AS na, eb.n AS nb
  FROM ex ea JOIN ex eb ON ea.event_type < eb.event_type)
SELECT p.type_a, p.type_b,
       CAST(p.na AS BIGINT) AS exact_a, CAST(p.nb AS BIGINT) AS exact_b,
       CAST(coalesce(i.exact_inter, 0) AS BIGINT) AS exact_inter,
       true AS within_bound
FROM pairs p
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
""",
    doc="Audience overlap via sketch algebra: per-type HLL sketches of "
        "user_id are intersected by inclusion-exclusion "
        "(est_a + est_b - est(union)) using the BINARY hll_union — the "
        "pattern that answers 'how many users do segments A and B "
        "share' from kilobyte sketches without re-touching raw events "
        "(at 100 TB: sketches persist per segment; any of the "
        "O(segments^2) overlaps is three sketch reads). The exact "
        "intersection (computed here only for the audit) rides a "
        "(type, user)-distinct self-join; within_bound asserts the "
        "inclusion-exclusion estimate lands within 5% of the union "
        "size + a small-count floor, which holds because lgK=12 "
        "sketches are near-exact at these cardinalities.",
)
def events_hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.caching import persist_tracked
    from advanced_strapi_import_spark.plans.registry import load_events

    e = load_events(spark, sf_dir)
    tu = persist_tracked(e.select("event_type", "user_id").distinct())
    # persisted too: the a/b sides of the pairs join would otherwise
    # re-aggregate the sketches once per side
    per = persist_tracked(
        tu.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    a = per.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("ska"), F.col("n").alias("na"),
    )
    b = per.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("skb"), F.col("n").alias("nb"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    inter = (
        tu.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            tu.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est_inter = (
        F.hll_sketch_estimate("ska")
        + F.hll_sketch_estimate("skb")
        - F.hll_sketch_estimate(F.hll_union("ska", "skb"))
    )
    exact_inter = F.coalesce("exact_inter", F.lit(0))
    union_exact = F.col("na") + F.col("nb") - exact_inter
    return (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .select(
            "type_a", "type_b",
            F.col("na").cast("long").alias("exact_a"),
            F.col("nb").cast("long").alias("exact_b"),
            exact_inter.cast("long").alias("exact_inter"),
            (
                F.abs(est_inter - exact_inter)
                <= F.greatest(0.05 * union_exact, F.lit(16))
            ).alias("within_bound"),
        )
    )


@query(
    "events_bitmap_distinct",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""",
    doc="EXACT distinct-user counts per event type via two-level "
        "bitmap aggregation (bitmap_bucket_number / bitmap_bit_"
        "position / bitmap_construct_agg -> bitmap_count): stage 1 "
        "builds one 4 KiB bitmap per (type, 32768-id bucket) with "
        "map-side partial merge, stage 2 sums per-bucket popcounts. "
        "Unlike count(DISTINCT) — whose expand-mode shuffle carries "
        "every (type, user) pair — the shuffle payload is bounded by "
        "id-range/32768 bitmaps regardless of row count, and unlike "
        "HLL it is exact. The oracle is plain COUNT(DISTINCT); "
        "n_events rides along map-side (a second aggregate over the "
        "same shuffle, not a second scan).",
)
def events_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.plans.registry import load_events

    e = load_events(spark, sf_dir)
    inner = e.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("__bk")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("__bm"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    return inner.groupBy("event_type").agg(
        F.sum(F.bitmap_count("__bm")).cast("long").alias("n_users"),
        F.sum("__n").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# HLL precision sweep (round 5)
# ---------------------------------------------------------------------------


@query(
    "events_hll_precision_sweep",
    oracle="""
SELECT CAST(x AS INT) AS lg_k, TRUE AS within_bound
FROM (VALUES (9), (12), (14)) t(x)
""",
    doc="The HLL precision dial measured in one pass: distinct-user "
        "estimates at lgConfigK = 9/12/14 (512/4096/16384 registers) "
        "against the exact count, each pinned inside 5 standard "
        "errors of the DataSketches HLL bound (1.04/sqrt(2^lgK) -> "
        "229k/81k/40k ppm). The sketch is deterministic on fixed "
        "data, so the booleans are stable (measured rel-err 0-4.6% "
        "at lgK=9, <=0.07% above, across all three SFs). This is the "
        "sizing experiment behind every HLL rollup in the catalog: "
        "registers cost 2^lgK bytes per group state, so the sweep "
        "quantifies what halving state spends in accuracy. One scan, "
        "three mergeable sketch aggregates + one exact countDistinct "
        "(the audit arm); at 100 TB the sketches partial-merge "
        "map-side while exact distinct pays the full expand shuffle — "
        "which is the point of having the sketch.",
)
def events_hll_precision_sweep(
    spark: SparkSession, sf_dir: str, *, emit_metrics: bool = False
) -> DataFrame:
    from advanced_strapi_import_spark.plans.registry import load_events

    e = load_events(spark, sf_dir)
    agg = e.agg(
        F.countDistinct("user_id").cast("long").alias("exact"),
        *[
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lgk))
            .cast("long")
            .alias(f"est_{lgk}")
            for lgk in (9, 12, 14)
        ],
    )
    import math

    arms = None
    for lgk in (9, 12, 14):
        bound_ppm = int(5 * 1.04e6 / math.sqrt(2**lgk))
        if emit_metrics:
            # recalibration surface (tools/recalibrate.py): measured
            # error vs the pinned bound — NOT oracle-compared
            arm = agg.select(
                F.lit(lgk).alias("lg_k"),
                "exact",
                F.col(f"est_{lgk}").alias("est"),
                F.expr(
                    f"CAST(abs(est_{lgk} - exact) * 1000000 div "
                    "greatest(exact, 1) AS BIGINT)"
                ).alias("err_ppm"),
                F.lit(bound_ppm).cast("long").alias("bound_ppm"),
            )
        else:
            arm = agg.select(
                F.lit(lgk).alias("lg_k"),
                (
                    F.abs(F.col(f"est_{lgk}") - F.col("exact")) * 1000000
                    <= F.lit(bound_ppm) * F.col("exact")
                ).alias("within_bound"),
            )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms


@query(
    "lineitem_quantile_sketch",
    oracle="""
WITH cents AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem),
nn AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
       FROM cents GROUP BY l_returnflag),
ranked AS (
  SELECT l_returnflag, c,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rnk
  FROM cents)
SELECT r.l_returnflag, nn.n,
       CAST(max(CASE WHEN rnk = CAST(ceil(0.50 * nn.n) AS BIGINT)
                     THEN c END) AS BIGINT) AS p50_cents,
       CAST(max(CASE WHEN rnk = CAST(ceil(0.95 * nn.n) AS BIGINT)
                     THEN c END) AS BIGINT) AS p95_cents,
       CAST(max(CASE WHEN rnk = CAST(ceil(0.99 * nn.n) AS BIGINT)
                     THEN c END) AS BIGINT) AS p99_cents,
       TRUE AS within_bound
FROM ranked r JOIN nn ON nn.l_returnflag = r.l_returnflag
GROUP BY r.l_returnflag, nn.n
""",
    doc="Mergeable QUANTILE sketch with a rank-error audit (round 10 — "
        "the one sketch family the engine lacked): per-flag "
        "approx_percentile (Spark's GK-style mergeable summary, "
        "accuracy 2000, i.e. rank error <= n/2000) estimates "
        "p50/p95/p99 of integer cents; the estimates join back onto "
        "the fact ONCE (broadcast, 15 rows) to measure their TRUE "
        "ranks, and within_bound asserts |rank(est) - p*n| <= "
        "n/2000 + 1 for every (flag, p). The exact discrete quantiles "
        "(smallest value with rank ceil(p*n) — no interpolation, so "
        "both engines pick an actual data element) are value-checked "
        "against the oracle. At 100 TB the sketch is the serving "
        "object: per-partition summaries merge associatively (one "
        "partial_agg Exchange, kilobytes per group), exactly like the "
        "HLL weekly rollup; the exact side here exists only as the "
        "audit. The boolean is algorithm-guaranteed regardless of "
        "merge order, so AQE re-planning cannot flip the hash.",
)
def lineitem_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ACC = 2000
    PS = [0.50, 0.95, 0.99]
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )
    apx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("c", PS, ACC).alias("apx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # one (flag, p, est) row per percentile — 3 x |flags| rows
    est = apx.select(
        "l_returnflag",
        "n",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in PS]),
                F.col("apx"),
            )
        ).alias("p", "est"),
    )
    # exact discrete quantiles: smallest value whose INCLUSIVE per-flag
    # rank reaches ceil(p*n) — same element the old row_number form
    # picked, but skew-safe (VERDICT r10 task 6): instead of sorting
    # each flag's full row set inside 3 window partitions, collapse to
    # per-(flag, value) counts (one partial-agg Exchange over a frame
    # bounded by |distinct cents|, not |rows|), run the distributed
    # rank machinery's exact cumsum over the (flag, value) total order,
    # and rebase each flag with its broadcast offset (|flags| rows).
    # ceil(p*n) keeps the identical IEEE expression tree as the oracle.
    from advanced_strapi_import_spark.operators.skew import (
        distributed_cumsum,
    )

    cnts = li.groupBy("l_returnflag", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # cum now has THREE consumers (ends/ok/exact) — materialize it, or
    # each one re-pays the per-__pid running-sum window plus its
    # hash(__pid) exchange over the counts frame (r13; before the
    # restructure it had one consumer and stayed lazy)
    from advanced_strapi_import_spark.caching import persist_tracked

    cum = persist_tracked(distributed_cumsum(
        cnts, ["l_returnflag", "c"], "cnt", out_col="cum_all"
    ))
    cum.count()
    # r13 (guide §2.3/§2.4 — fewer full-fact passes): per-flag totals
    # and offsets now come from the cumsum frame itself (its per-flag
    # MAX is the global row count through that flag under the total
    # order), not from a third scan-aggregation of the fact. 3 rows.
    ends = cum.groupBy("l_returnflag").agg(
        F.max("cum_all").cast("long").alias("__end")
    )
    woff = Window.orderBy("l_returnflag")
    offs = ends.select(
        "l_returnflag",
        F.coalesce(F.lag("__end").over(woff), F.lit(0)).cast("long")
        .alias("off"),
        "__end",
    ).select(
        "l_returnflag", "off",
        (F.col("__end") - F.col("off")).cast("long").alias("n"),
    )
    # true rank of each estimate, from the SAME cumsum frame (r13 —
    # was a second full scan of the fact joined to est + a full-fact
    # partial aggregation): percentile_approx estimates are actual
    # input elements (GK summaries sample inserted values), so each
    # (flag, est) matches exactly one (flag, c) row of cnts/cum, whose
    # per-flag inclusive rank gives le = cum_all - off and
    # lt = le - cnt — the identical integers the conditional counts
    # produced. The oracle gate at three SFs pins the equivalence.
    # Should that element assumption ever break, the estimate finds no
    # row: the checks left-join back onto est and a missing match counts
    # as ok=false, so within_bound flips instead of the flag's row
    # silently dropping out.
    eps = 1.0 / ACC
    le = F.col("cum_all") - F.col("off")
    checks = (
        F.broadcast(est)
        .join(
            cum.select(
                "l_returnflag", F.col("c").alias("est"), "cnt", "cum_all"
            ),
            ["l_returnflag", "est"],
        )
        .join(F.broadcast(offs.select("l_returnflag", "off")),
              "l_returnflag")
        .select(
            "l_returnflag", "p",
            (
                (le >= (F.col("p") - eps) * F.col("n") - 1)
                & (le - F.col("cnt") <= (F.col("p") + eps) * F.col("n") + 1)
            ).alias("ok"),
        )
    )
    ok = (
        est.select("l_returnflag", "p")
        .join(checks, ["l_returnflag", "p"], "left")
        .groupBy("l_returnflag")
        .agg(F.min(F.coalesce("ok", F.lit(False))).alias("within_bound"))
    )
    exact = (
        cum.join(F.broadcast(offs), "l_returnflag")
        .select(
            "l_returnflag", "n", "c",
            (F.col("cum_all") - F.col("off")).alias("rl"),
        )
        .groupBy("l_returnflag", "n")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("rl")
                        >= F.ceil(F.lit(p) * F.col("n")).cast("long"),
                        F.col("c"),
                    )
                ).cast("long").alias(f"p{int(p * 100)}_cents")
                for p in PS
            ]
        )
    )
    return exact.join(ok, "l_returnflag").select(
        "l_returnflag", "n", "p50_cents", "p95_cents", "p99_cents",
        "within_bound",
    )
