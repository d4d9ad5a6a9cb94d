"""Round-3 wave 10: Jensen-Shannon divergence between source unigram
distributions, time-weighted averages, and the Mann-Whitney U test.

JS divergence is the domain-similarity metric corpus-mixing decisions
rest on; TWAP is the duration-weighted mean billing/metrics systems
compute over irregular samples; Mann-Whitney U completes the
nonparametric battery next to the KS test — its rank arithmetic runs
entirely on DOUBLED integer ranks (ties average to half-integers, so
2·rank is exact), with the only floats one closing division and one
IEEE sqrt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.plans.common import pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register
from cicevse2024_tfm_datapipeline_spark.plans.wave5 import _US


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

_TOKS_SQL = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"


@register(
    "text_js_divergence_sources",
    oracle=f"""
    WITH tf AS (
        SELECT source, unnest({_TOKS_SQL}) AS term
        FROM documents
    ),
    cnt AS (SELECT source, term, count(*) AS c FROM tf GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY 1),
    p AS (
        SELECT cnt.source, term, c * 1.0 / n AS p
        FROM cnt JOIN tot USING (source)
    ),
    vocab AS (SELECT DISTINCT term FROM cnt),
    srcs AS (SELECT DISTINCT source FROM cnt),
    grid AS (
        SELECT s.source, v.term, coalesce(p.p, 0) AS p
        FROM srcs s CROSS JOIN vocab v
        LEFT JOIN p ON p.source = s.source AND p.term = v.term
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.p AS pa, b.p AS pb
        FROM grid a JOIN grid b
          ON a.term = b.term AND a.source < b.source
        WHERE a.p + b.p > 0
    ),
    terms AS (
        SELECT src_a, src_b,
               CASE WHEN pa > 0
                    THEN 0.5 * pa * log2(2 * pa / (pa + pb)) ELSE 0 END
             + CASE WHEN pb > 0
                    THEN 0.5 * pb * log2(2 * pb / (pa + pb)) ELSE 0 END AS j
        FROM pairs
    )
    SELECT src_a, src_b, round(sum(j), 6) AS jsd
    FROM terms GROUP BY 1, 2
    """,
    doc="Jensen-Shannon divergence between every pair of source unigram "
    "distributions (all 190 source pairs) — the symmetric, bounded [0,1] "
    "domain-distance that corpus-mixing and dedup-across-domains "
    "decisions use (KL is infinite on disjoint support; JSD is not). "
    "Per-source term probabilities from one aggregation; pair "
    "contributions from a term-keyed join (absent terms contribute "
    "their half-term via the outer side); one rollup per pair. "
    "Per-term doubles are identical in both engines (same ratios, same "
    "log2) and the 6-dp rounding absorbs sub-ulp summation-order "
    "differences. At scale the join shuffles |vocab|x|source-pairs| "
    "probability rows, never documents.",
    tags=("text", "divergence", "mixing"),
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.text import tokens_expr

    docs = t(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tokens_expr(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    cnt = cnt.localCheckpoint(eager=False)
    p = cnt.join(tot, "source").select(
        "source", "term", (F.col("c") * F.lit(1.0) / F.col("n")).alias("p")
    )
    # complete sources x vocab grid: a term absent from ONE source of a
    # pair still contributes its half-term (0.5·p·log2(2)) — an inner
    # join on present terms would silently drop exactly the divergence
    # mass that separates disjoint domains
    vocab = cnt.select("term").distinct()
    srcs = cnt.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(p, ["source", "term"], "left")
        .select("source", "term", F.coalesce(F.col("p"), F.lit(0.0)).alias("p"))
        .localCheckpoint(eager=False)
    )
    a = grid.select(
        F.col("source").alias("src_a"), "term", F.col("p").alias("pa")
    )
    b = grid.select(
        F.col("source").alias("src_b"), "term", F.col("p").alias("pb")
    )
    pairs = (
        a.join(b, "term")
        .filter((F.col("src_a") < F.col("src_b")) & (F.col("pa") + F.col("pb") > 0))
        .select("src_a", "src_b", "pa", "pb")
    )
    j = (
        F.when(
            F.col("pa") > 0,
            F.lit(0.5) * F.col("pa") * F.log2(2 * F.col("pa") / (F.col("pa") + F.col("pb"))),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("pb") > 0,
            F.lit(0.5) * F.col("pb") * F.log2(2 * F.col("pb") / (F.col("pa") + F.col("pb"))),
        ).otherwise(F.lit(0.0))
    )
    return (
        pairs.select("src_a", "src_b", j.alias("j"))
        .groupBy("src_a", "src_b")
        .agg(pround(F.sum("j"), 6).alias("jsd"))
    )


# ---------------------------------------------------------------------------
# Time-weighted average value per user (TWAP over irregular samples)
# ---------------------------------------------------------------------------


@register(
    "w_time_weighted_average",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v
        FROM events
    ),
    seg AS (
        SELECT user_id, v,
               (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                - us) // 1000 AS dur_ms
        FROM pts
    ),
    held AS (SELECT * FROM seg WHERE dur_ms IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(dur_ms) AS BIGINT) AS total_ms,
           round(sum(v * dur_ms) / (10000.0 * sum(dur_ms)), 6) AS twap
    FROM held
    WHERE dur_ms > 0
    GROUP BY user_id
    """,
    doc="Time-weighted average (TWAP): each sample's value holds until "
    "the user's next event, so the mean weights values by HOLD DURATION "
    "— the correct average over irregular sampling (a plain mean "
    "overweights bursts), and the standard billing / position-exposure "
    "statistic. One lead window per user (one shuffle); values scale to "
    "1e-4 ticks and durations to integer milliseconds so every product "
    "and sum is exact BIGINT (tick x ms stays under 2^63 for month-long "
    "horizons), with one closing division. Zero-duration segments "
    "(same-instant events) drop out of both engines identically.",
    tags=("W", "twap", "timeseries"),
)
def w_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(_US).alias("us"),
        "event_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v"),
    )
    seg = pts.select(
        "user_id",
        "v",
        F.expr("(lead(us) over (partition by user_id order by us, event_id) - us) div 1000").alias(
            "dur_ms"
        ),
    )
    held = seg.filter(F.col("dur_ms").isNotNull() & (F.col("dur_ms") > 0))
    return held.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("dur_ms").cast("long").alias("total_ms"),
        pround(
            F.sum(F.col("v") * F.col("dur_ms"))
            / (F.lit(10000.0) * F.sum("dur_ms")),
            6,
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U test on doubled integer ranks
# ---------------------------------------------------------------------------


@register(
    "a_mann_whitney_u",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    grp AS (
        SELECT v, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(is_a) AS BIGINT) AS cnt_a
        FROM s GROUP BY v
    ),
    scanned AS (
        SELECT v, cnt, cnt_a,
               coalesce(sum(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before
        FROM grp
    ),
    sums AS (
        SELECT CAST(sum(cnt_a) AS BIGINT) AS n1,
               CAST(sum(cnt) - sum(cnt_a) AS BIGINT) AS n2,
               CAST(sum(cnt_a * (2 * before + cnt + 1)) AS BIGINT) AS r1x2,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
        FROM scanned
    )
    SELECT n1, n2,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           round((r1x2 - n1 * (n1 + 1) - n1 * n2) /
                 (2.0 * sqrt(n1 * 1.0 * n2 / 12.0
                     * ((n1 + n2 + 1)
                        - tie3 * 1.0 / ((n1 + n2) * 1.0 * (n1 + n2 - 1))))),
                 6) AS z_score
    FROM sums
    """,
    doc="Mann-Whitney U (Wilcoxon rank-sum) between the 'view' and "
    "'purchase' value samples — the nonparametric location test next to "
    "the KS test, on tick-scaled values. All rank arithmetic is DOUBLED "
    "integer ranks: per distinct value, the average midrank is "
    "(2·count_before + count + 1)/2, so 2·R1 = Σ cnt_a·(2·before+cnt+1) "
    "is an exact BIGINT, as are 2·U1 and the tie-correction Σ(t³−t). "
    "The rank scan is a grouped cumulative count over the distinct-value "
    "frame (value-domain-sized, one window pass); the z-score's only "
    "floats are one division and one IEEE sqrt of exact-integer ratios.",
    tags=("A", "ranktest", "nonparametric"),
)
def a_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.scan import global_cumsum

    s = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v"),
    )
    grp = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_a").alias("cnt_a")
    )
    # r12: fixed-bounds scan over a grid spanning the footer min/max
    # (the weighted-median discipline) — no pinned range exchange, no
    # sampler job, no checkpoint planning pass. The grid is not an exact
    # bracket of the keys: floor(value*10000 + 0.5) rounds, so the top key
    # can land one tick past hi*10000 and falls into the last bucket. Grid
    # values shift bucket balance only, never results
    from cicevse2024_tfm_datapipeline_spark.operators.scan import uniform_grid
    from cicevse2024_tfm_datapipeline_spark.sources.readers import (
        table_column_minmax,
    )

    lo, hi = table_column_minmax(sf_dir, "events", "value")
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
    grid = uniform_grid(float(lo) * 10000.0, float(hi) * 10000.0, n_b)
    scanned = global_cumsum(
        grp, ["v"], ["cnt"], bucketing="bounds", fixed_bounds=grid
    ).withColumn(
        "before", F.col("cum_cnt") - F.col("cnt")
    )
    sums = scanned.agg(
        F.sum("cnt_a").cast("long").alias("n1"),
        (F.sum("cnt") - F.sum("cnt_a")).cast("long").alias("n2"),
        F.sum(F.col("cnt_a") * (2 * F.col("before") + F.col("cnt") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie3"),
    )
    n = F.col("n1") + F.col("n2")
    sigma_x2 = 2.0 * F.sqrt(
        F.col("n1") * F.lit(1.0) * F.col("n2") / F.lit(12.0)
        * (
            (n + 1)
            - F.col("tie3") * F.lit(1.0) / (n * F.lit(1.0) * (n - 1))
        )
    )
    return sums.select(
        "n1",
        "n2",
        (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("long").alias("u1_x2"),
        pround(
            (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1) - F.col("n1") * F.col("n2"))
            / sigma_x2,
            6,
        ).alias("z_score"),
    )
