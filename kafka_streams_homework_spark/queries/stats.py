"""Statistical tests, experiment readouts, robust estimators.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



@register(
    "anomaly_zscore",
    oracle="""
        WITH s AS (
            SELECT event_type, avg(value) AS mu, stddev(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - mu) / sigma, 6) AS z
        FROM events e JOIN s USING (event_type)
        WHERE abs(round((e.value - mu) / sigma, 6)) > 3
    """,
    description="§2.4 extension — per-type z-score outlier flagging: "
    "group stats (avg, sample stddev) as a tiny broadcast, the "
    "standardization + threshold evaluated in whole-stage codegen on "
    "a second pass over the scan. The monitoring primitive behind "
    "data-drift alerts; threshold applies to the rounded z per the "
    "cross-engine parity rule",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    s = events.groupBy(F.col("event_type").alias("s_type")).agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sigma")
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (
        events.join(F.broadcast(s), events["event_type"] == F.col("s_type"))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3)
        .select("event_id", "event_type", "value", "z")
    )


@register(
    "quantile_normalize",
    oracle="""
        WITH r AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                   ) AS rk
            FROM documents
        ), m AS (
            SELECT rk, round(avg(n_chars) + 1e-9, 6) AS ref
            FROM r GROUP BY rk
        )
        SELECT r.doc_id, r.source, CAST(r.n_chars AS BIGINT) AS n_chars,
               CAST(r.rk AS BIGINT) AS rank, m.ref AS normalized
        FROM r JOIN m USING (rk)
    """,
    description="Cross-source quantile normalization (the batch-effect "
    "correction a multi-source corpus needs before mixing): rank each "
    "doc's n_chars within its source (ties broken by doc_id for "
    "determinism), replace with the cross-source mean at that rank — "
    "after which every source's distribution is IDENTICAL (pinned in "
    "pytest). Exact for the fixture's equal-sized sources; two window/"
    "agg passes, reference table is max-group-size rows. At 100 TB "
    "the rank pass is the standard sort-within-partition shape",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = docs.select(
        "doc_id", "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    m = r.groupBy("rk").agg(
        F.round(F.avg("n_chars") + F.lit(1e-9), 6).alias("ref")
    )
    return r.join(F.broadcast(m), "rk").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("rk").cast("long").alias("rank"),
        F.col("ref").alias("normalized"),
    )


@register(
    "theil_sen_trend",
    oracle="""
        WITH d0 AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), d AS (
            SELECT event_type, y,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day) AS i
            FROM d0
        ), s AS (
            SELECT a.event_type,
                   (b.y - a.y) / (b.i - a.i) AS slope
            FROM d a JOIN d b
              ON b.event_type = a.event_type AND b.i > a.i
        ), sm AS (
            SELECT event_type, slope,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY slope) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM s
        ), sel AS (
            SELECT event_type, slope, n FROM sm WHERE rn = (n + 1) // 2
        ), res AS (
            SELECT d.event_type, d.y - sel.slope * d.i AS r
            FROM d JOIN sel USING (event_type)
        ), rm AS (
            SELECT event_type, r,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY r) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM res
        )
        SELECT sel.event_type,
               round(sel.slope + 1e-9, 6) AS slope,
               round(rm.r + 1e-9, 6) AS intercept,
               CAST(sel.n AS BIGINT) AS n_pairs
        FROM sel JOIN rm ON rm.event_type = sel.event_type
                        AND rm.rn = (rm.n + 1) // 2
    """,
    description="Theil-Sen robust trend per series (up to ~29% outlier "
    "breakdown vs OLS's zero): lower median of all pairwise slopes "
    "over the daily aggregate, intercept = lower median of residuals. "
    "Median selection by row_number — deterministic cross-engine, no "
    "approx percentile. Pair generation is per-series C(days,2), "
    "bounded by the calendar squared, never corpus rows; the data-"
    "sized work is the upstream daily aggregate",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    d0 = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    d = d0.select(
        "event_type", "y", F.row_number().over(wd).alias("i")
    )
    a, b = d.alias("a"), d.alias("b")
    s = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.i") > F.col("a.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.i") - F.col("a.i"))).alias(
            "slope"
        ),
    )
    ws = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    sm = s.select(
        "event_type",
        "slope",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    sel = sm.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", "slope", "n")
    res = d.join(F.broadcast(sel), "event_type").select(
        "event_type",
        (F.col("y") - F.col("slope") * F.col("i")).alias("r"),
    )
    wr = Window.partitionBy("event_type").orderBy("r")
    rm = res.select(
        "event_type",
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("nn"),
    ).filter(F.col("rn") == F.floor((F.col("nn") + 1) / 2))
    return sel.join(rm, "event_type").select(
        "event_type",
        F.round(F.col("slope") + F.lit(1e-9), 6).alias("slope"),
        F.round(F.col("r") + F.lit(1e-9), 6).alias("intercept"),
        F.col("n").cast("long").alias("n_pairs"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
        WITH d0 AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), d AS (
            SELECT event_type, y, row_number() OVER (
                PARTITION BY event_type ORDER BY day) AS i
            FROM d0
        ), s AS (
            SELECT a.event_type,
                   SUM(CASE WHEN b.y > a.y THEN 1
                            WHEN b.y < a.y THEN -1 ELSE 0 END) AS stat
            FROM d a JOIN d b
              ON b.event_type = a.event_type AND b.i > a.i
            GROUP BY a.event_type
        ), nn AS (
            SELECT event_type, count(*) AS n FROM d GROUP BY event_type
        ), ties AS (
            SELECT event_type,
                   SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
            FROM (SELECT event_type, count(*) AS t FROM d
                  GROUP BY event_type, y HAVING count(*) > 1)
            GROUP BY event_type
        )
        SELECT nn.event_type, CAST(nn.n AS BIGINT) AS n_days,
               CAST(s.stat AS BIGINT) AS s_statistic,
               round((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                      - COALESCE(ties.tie_term, 0)) / 18.0 + 1e-9, 6)
                   AS var_s,
               round(CASE WHEN s.stat > 0 THEN (s.stat - 1)
                          WHEN s.stat < 0 THEN (s.stat + 1)
                          ELSE 0 END
                     / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                             - COALESCE(ties.tie_term, 0)) / 18.0)
                     + 1e-9, 6) AS z
        FROM nn JOIN s USING (event_type)
        LEFT JOIN ties USING (event_type)
    """,
    description="Mann-Kendall monotonic-trend test per series "
    "(nonparametric sibling of theil_sen_trend on the same pair "
    "substrate): S = sum of pairwise value signs in day order, "
    "tie-corrected variance n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18, "
    "continuity-corrected z. Integer-exact until one sqrt; pair "
    "generation bounded by the calendar squared",
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    d0 = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    d = d0.select("event_type", "y", F.row_number().over(wd).alias("i"))
    a, b = d.alias("a"), d.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.i") > F.col("a.i")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            ).alias("stat")
        )
    )
    nn = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    t = (
        d.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    var_raw = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ) / 18.0
    z_num = (
        F.when(F.col("stat") > 0, F.col("stat") - 1)
        .when(F.col("stat") < 0, F.col("stat") + 1)
        .otherwise(0)
    )
    return (
        nn.join(s, "event_type")
        .join(t, "event_type", "left")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("stat").cast("long").alias("s_statistic"),
            F.round(var_raw + F.lit(1e-9), 6).alias("var_s"),
            F.round(z_num / F.sqrt(var_raw) + F.lit(1e-9), 6).alias("z"),
        )
    )


@register(
    "cuped_adjustment",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
            FROM events
        ), u AS (
            SELECT user_id,
                   round(avg(CASE WHEN ts < d0 + INTERVAL 15 DAY
                                  THEN value END) + 1e-9, 6) AS x,
                   round(avg(CASE WHEN ts >= d0 + INTERVAL 15 DAY
                                  THEN value END) + 1e-9, 6) AS y,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                       % 2 AS t
            FROM events, bounds
            WHERE value IS NOT NULL
            GROUP BY user_id, d0
            HAVING x IS NOT NULL AND y IS NOT NULL
        ), agg AS (
            SELECT count(*) AS n,
                   SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS nt,
                   SUM(CAST(x AS DECIMAL(18,6)))::DOUBLE AS sx,
                   SUM(CAST(y AS DECIMAL(18,6)))::DOUBLE AS sy,
                   SUM(CAST(x AS DECIMAL(18,6))
                       * CAST(x AS DECIMAL(18,6)))::DOUBLE AS sxx,
                   SUM(CAST(x AS DECIMAL(18,6))
                       * CAST(y AS DECIMAL(18,6)))::DOUBLE AS sxy,
                   SUM(CAST(y AS DECIMAL(18,6))
                       * CAST(y AS DECIMAL(18,6)))::DOUBLE AS syy,
                   SUM(CASE WHEN t = 1
                            THEN CAST(x AS DECIMAL(18,6)) END)::DOUBLE
                       AS sxt,
                   SUM(CASE WHEN t = 1
                            THEN CAST(y AS DECIMAL(18,6)) END)::DOUBLE
                       AS syt
            FROM u
        )
        SELECT CAST(nt AS BIGINT) AS n_treat,
               CAST(n - nt AS BIGINT) AS n_control,
               round(syt / nt - (sy - syt) / (n - nt) + 1e-9, 6)
                   AS diff_raw,
               round((sxy - sx * sy / n) / (sxx - sx * sx / n) + 1e-9, 6)
                   AS theta,
               round((syt / nt - (sy - syt) / (n - nt))
                     - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                       * (sxt / nt - (sx - sxt) / (n - nt)) + 1e-9, 6)
                   AS diff_cuped,
               round((sxy - sx * sy / n)
                     / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
                     + 1e-9, 6) AS corr_xy
        FROM agg
    """,
    description="CUPED variance-reduced A/B readout: pre-period "
    "covariate x (days 1-15 per-user mean) adjusts the post-period "
    "metric y (days 16-30); theta = cov(x,y)/var(x) pooled, and BY "
    "LINEARITY the adjusted lift is (yt-yc) - theta*(xt-xc), so every "
    "group mean reduces to DECIMAL-exact sums of the pre-rounded "
    "per-user aggregates — no float-order dependence anywhere. "
    "Assignment is the deterministic md5 user coin (a synthetic null "
    "experiment: the op's value is the machinery, and the fixture's "
    "weak pre/post correlation honestly yields theta ~= 0.05). "
    "Exchange carries one row per user, then one partial-agg row",
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    d0 = events.agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    u = (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.round(
                F.avg(
                    F.when(
                        F.col("ts") < F.col("d0") + F.expr("INTERVAL 15 DAY"),
                        F.col("value"),
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("x"),
            F.round(
                F.avg(
                    F.when(
                        F.col("ts") >= F.col("d0") + F.expr("INTERVAL 15 DAY"),
                        F.col("value"),
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .withColumn(
            "t",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 2,
        )
    )
    agg = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
        F.sum(dec("y") * dec("y")).cast("double").alias("syy"),
        F.sum(F.when(F.col("t") == 1, dec("x"))).cast("double").alias("sxt"),
        F.sum(F.when(F.col("t") == 1, dec("y"))).cast("double").alias("syt"),
    )
    n, nt = F.col("n"), F.col("nt")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    sxt, syt = F.col("sxt"), F.col("syt")
    theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    dy = syt / nt - (sy - syt) / (n - nt)
    dx = sxt / nt - (sx - sxt) / (n - nt)
    return agg.select(
        nt.cast("long").alias("n_treat"),
        (n - nt).cast("long").alias("n_control"),
        F.round(dy + F.lit(1e-9), 6).alias("diff_raw"),
        F.round(theta + F.lit(1e-9), 6).alias("theta"),
        F.round(dy - theta * dx + F.lit(1e-9), 6).alias("diff_cuped"),
        F.round(
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
            + F.lit(1e-9),
            6,
        ).alias("corr_xy"),
    )


@register(
    "spearman_corr",
    oracle="""
        WITH li AS (
            SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        ), dx AS (
            SELECT x, count(*) AS c FROM li GROUP BY x
        ), rx AS (
            SELECT x, sum(c) OVER (ORDER BY x) - c + (c + 1) / 2.0 AS mr
            FROM dx
        ), dy AS (
            SELECT y, count(*) AS c FROM li GROUP BY y
        ), ry AS (
            SELECT y, sum(c) OVER (ORDER BY y) - c + (c + 1) / 2.0 AS mr
            FROM dy
        ), pc AS (
            SELECT x, y, count(*) AS c FROM li GROUP BY x, y
        ), j AS (
            SELECT CAST(pc.c AS DECIMAL(9,0)) AS c,
                   CAST(rx.mr AS DECIMAL(8,1)) AS u,
                   CAST(ry.mr AS DECIMAL(8,1)) AS v,
                   CAST(pc.x AS DECIMAL(9,2)) AS xr,
                   CAST(pc.y AS DECIMAL(9,2)) AS yr
            FROM pc JOIN rx USING (x) JOIN ry USING (y)
        ), m AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   sum(c * u)::DOUBLE AS su, sum(c * v)::DOUBLE AS sv,
                   sum(c * u * u)::DOUBLE AS suu,
                   sum(c * u * v)::DOUBLE AS suv,
                   sum(c * v * v)::DOUBLE AS svv,
                   sum(c * xr)::DOUBLE AS sx, sum(c * yr)::DOUBLE AS sy,
                   sum(c * xr * xr)::DOUBLE AS sxx,
                   sum(c * xr * yr)::DOUBLE AS sxy,
                   sum(c * yr * yr)::DOUBLE AS syy
            FROM j
        )
        SELECT n,
               round((n * suv - su * sv)
                     / sqrt((n * suu - su * su) * (n * svv - sv * sv))
                     + 1e-9, 6) AS rho_spearman,
               round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                     + 1e-9, 6) AS corr_pearson
        FROM m
    """,
    description="Spearman rank correlation (quantity vs extendedprice) "
    "with exact average-rank tie handling, Pearson on raw values "
    "alongside: midranks come from per-DISTINCT-value counts (the "
    "distinct-first discipline of mann_whitney_u/ks_test — the ordered "
    "cumulative is bounded by value cardinality, ~50 quantities x "
    "~1000 retail prices, never a per-row global sort), joined back "
    "onto the (x, y) PAIR-count table so the corpus contributes only "
    "one grouped pass. Midranks are exact halves and raw values "
    "2-decimal money, so every moment accumulates in DECIMAL exactly "
    "(order-free); the correlation ratio runs on the identical "
    "11-number summary in both engines",
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    wx = Window.orderBy("x")
    wy = Window.orderBy("y")
    rx = (
        li.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "x",
            (
                F.sum("c").over(wx) - F.col("c") + (F.col("c") + 1) / 2.0
            ).alias("mr"),
        )
    )
    ry = (
        li.groupBy("y")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "y",
            (
                F.sum("c").over(wy) - F.col("c") + (F.col("c") + 1) / 2.0
            ).alias("mr"),
        )
    )
    pc = li.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    j = (
        pc.join(F.broadcast(rx.withColumnRenamed("mr", "mru")), "x")
        .join(ry.withColumnRenamed("mr", "mrv"), "y")
        .select(
            F.col("c").cast("decimal(9,0)").alias("c"),
            F.col("mru").cast("decimal(8,1)").alias("u"),
            F.col("mrv").cast("decimal(8,1)").alias("v"),
            F.col("x").cast("decimal(9,2)").alias("xr"),
            F.col("y").cast("decimal(9,2)").alias("yr"),
        )
    )
    c = F.col("c")
    m = j.agg(
        F.sum(c).cast("bigint").alias("n"),
        F.sum(c * F.col("u")).cast("double").alias("su"),
        F.sum(c * F.col("v")).cast("double").alias("sv"),
        F.sum(c * F.col("u") * F.col("u")).cast("double").alias("suu"),
        F.sum(c * F.col("u") * F.col("v")).cast("double").alias("suv"),
        F.sum(c * F.col("v") * F.col("v")).cast("double").alias("svv"),
        F.sum(c * F.col("xr")).cast("double").alias("sx"),
        F.sum(c * F.col("yr")).cast("double").alias("sy"),
        F.sum(c * F.col("xr") * F.col("xr")).cast("double").alias("sxx"),
        F.sum(c * F.col("xr") * F.col("yr")).cast("double").alias("sxy"),
        F.sum(c * F.col("yr") * F.col("yr")).cast("double").alias("syy"),
    )
    n = F.col("n")
    su, sv = F.col("su"), F.col("sv")
    suu, suv, svv = F.col("suu"), F.col("suv"), F.col("svv")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    return m.select(
        n,
        F.round(
            (n * suv - su * sv)
            / F.sqrt((n * suu - su * su) * (n * svv - sv * sv))
            + F.lit(1e-9),
            6,
        ).alias("rho_spearman"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            + F.lit(1e-9),
            6,
        ).alias("corr_pearson"),
    )


@register(
    "psi_drift",
    oracle="""
        WITH b0 AS (
            SELECT min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
            FROM events
        ), binned AS (
            SELECT event_type,
                   least(CAST(floor(value / 20) AS BIGINT), 24) AS bin,
                   CASE WHEN ts < d0 + INTERVAL 15 DAY THEN 1 ELSE 0 END
                       AS pre
            FROM events, b0 WHERE value IS NOT NULL
        ), cnt AS (
            SELECT event_type, bin,
                   sum(pre) AS c_pre, sum(1 - pre) AS c_post
            FROM binned GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, sum(c_pre) AS n_pre, sum(c_post) AS n_post,
                   count(*) AS n_bins
            FROM cnt GROUP BY 1
        ), terms AS (
            SELECT c.event_type,
                   ((c.c_pre + 0.5) / (t.n_pre + 0.5 * t.n_bins)
                    - (c.c_post + 0.5) / (t.n_post + 0.5 * t.n_bins))
                   * ln(((c.c_pre + 0.5) / (t.n_pre + 0.5 * t.n_bins))
                        / ((c.c_post + 0.5)
                           / (t.n_post + 0.5 * t.n_bins))) AS term
            FROM cnt c JOIN tot t USING (event_type)
        )
        SELECT t.event_type,
               CAST(t.n_pre AS BIGINT) AS n_pre,
               CAST(t.n_post AS BIGINT) AS n_post,
               CAST(t.n_bins AS BIGINT) AS n_bins,
               round(s.psi + 1e-9, 6) AS psi,
               round(s.psi + 1e-9, 6) > 0.02 AS drifted
        FROM tot t JOIN (
            SELECT event_type, sum(term) AS psi FROM terms GROUP BY 1
        ) s USING (event_type)
    """,
    description="Population stability index per event_type between the "
    "first and last 15 days (the drift monitor a feature pipeline "
    "runs between training and serving windows): values bucket into "
    "25 fixed-width bins, both period distributions Laplace-smoothed "
    "(+0.5 per observed bin) so empty bins stay finite, PSI = "
    "sum (p-q) ln(p/q). Everything after the one grouped count is "
    "arithmetic on <=25 bin rows per type; the drift flag applies to "
    "the ROUNDED psi so membership is engine-identical. Counts are "
    "exact integers -> identical doubles cross-engine",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    b0 = events.agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    binned = (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(b0))
        .select(
            "event_type",
            F.least(
                F.floor(F.col("value") / 20).cast("bigint"), F.lit(24)
            ).alias("bin"),
            F.when(
                F.col("ts") < F.col("d0") + F.expr("INTERVAL 15 DAY"), 1
            )
            .otherwise(0)
            .alias("pre"),
        )
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum("pre").alias("c_pre"),
        F.sum(1 - F.col("pre")).alias("c_post"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c_pre").alias("n_pre"),
        F.sum("c_post").alias("n_post"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    j = cnt.join(F.broadcast(tot), "event_type")
    p = (F.col("c_pre") + 0.5) / (F.col("n_pre") + 0.5 * F.col("n_bins"))
    q = (F.col("c_post") + 0.5) / (F.col("n_post") + 0.5 * F.col("n_bins"))
    terms = j.select(
        "event_type", ((p - q) * F.log(p / q)).alias("term")
    )
    psi = terms.groupBy("event_type").agg(F.sum("term").alias("psi"))
    return tot.join(psi, "event_type").select(
        "event_type",
        F.col("n_pre").cast("bigint").alias("n_pre"),
        F.col("n_post").cast("bigint").alias("n_post"),
        F.col("n_bins").cast("bigint").alias("n_bins"),
        F.round(F.col("psi") + F.lit(1e-9), 6).alias("psi"),
        (F.round(F.col("psi") + F.lit(1e-9), 6) > 0.02).alias("drifted"),
    )


@register(
    "bh_fdr_control",
    oracle="""
        WITH m AS (
            SELECT p.p_brand AS brand,
                   count(*) AS n,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS s,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS q
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1
        ), g AS (
            SELECT SUM(n) AS gn, SUM(s) AS gs, SUM(q) AS gq,
                   count(*) AS n_brands
            FROM m
        ), z0 AS (
            SELECT m.brand, m.n, g.n_brands,
                   s::DOUBLE / n AS mb,
                   (g.gs - s)::DOUBLE / (g.gn - n) AS mr,
                   (q::DOUBLE - s::DOUBLE * s::DOUBLE / n) / (n - 1) / n
                       AS vb,
                   ((g.gq - q)::DOUBLE
                    - (g.gs - s)::DOUBLE * (g.gs - s)::DOUBLE
                      / (g.gn - n))
                       / (g.gn - n - 1) / (g.gn - n) AS vr
            FROM m, g
        ), z1 AS (
            SELECT brand, n, n_brands, mb,
                   (mb - mr) / sqrt(vb + vr) AS z
            FROM z0
        ), p1 AS (
            SELECT brand, n, n_brands, mb, z,
                   1.0 / (1.0 + 0.2316419 * abs(z)) AS k
            FROM z1
        ), p2 AS (
            SELECT brand, n, n_brands, mb, z,
                   round(2.0 * (exp(-abs(z) * abs(z) / 2.0)
                                * 0.3989422804014327)
                         * (k * (0.319381530
                            + k * (-0.356563782
                               + k * (1.781477937
                                  + k * (-1.821255978
                                     + k * 1.330274429)))))
                         + 1e-9, 6) AS p_value
            FROM p1
        ), r AS (
            SELECT brand, n, n_brands, mb, z, p_value,
                   row_number() OVER (ORDER BY p_value, brand) AS i
            FROM p2
        ), k_ AS (
            SELECT max(CASE WHEN p_value <= 0.05 * i / n_brands
                            THEN i ELSE 0 END) AS kstar
            FROM r
        )
        SELECT r.brand, CAST(r.n AS BIGINT) AS n,
               round(r.mb + 1e-9, 4) AS mean_brand,
               round(r.z + 1e-9, 6) AS z_stat,
               r.p_value,
               CAST(r.i AS BIGINT) AS bh_rank,
               round(0.05 * r.i / r.n_brands + 1e-9, 6) AS bh_crit,
               r.i <= k_.kstar AS rejected
        FROM r, k_
    """,
    description="Benjamini-Hochberg FDR control over the 25-brand "
    "family of Welch z-tests (brand mean extendedprice vs rest): "
    "moments accumulate in DECIMAL(18,2) (money is 2-decimal, so "
    "n/Sx/Sx2 are EXACT and order-free — tightening the plain-double "
    "welch_ttest discipline), the rest-of-corpus leg is derived by "
    "subtraction from the global moments (one scan, no second pass), "
    "two-sided p via the Abramowitz-Stegun 26.2.17 normal-CDF "
    "polynomial (identical literal constants both engines, |eps| < "
    "7.5e-8 << the 1e-6 rounding grain), then the BH step-up: rank "
    "ROUNDED p (brand tiebreak), k* = max{i: p_i <= 0.05 i/m}, "
    "reject ranks <= k*. The multiple-testing closer for the "
    "testing battery — 25 post-agg rows, all window work driver-side "
    "scale-free",
)
def q_bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    m = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).alias("s"),
            F.sum(dec * dec).alias("q"),
        )
    )
    g = m.agg(
        F.sum("n").alias("gn"),
        F.sum("s").alias("gs"),
        F.sum("q").alias("gq"),
        F.count(F.lit(1)).alias("n_brands"),
    )
    z0 = m.crossJoin(F.broadcast(g))
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    gn, gs, gq = F.col("gn"), F.col("gs"), F.col("gq")
    mb = s.cast("double") / n
    mr = (gs - s).cast("double") / (gn - n)
    vb = (q.cast("double") - s.cast("double") * s.cast("double") / n) / (
        n - 1
    ) / n
    vr = (
        (gq - q).cast("double")
        - (gs - s).cast("double") * (gs - s).cast("double") / (gn - n)
    ) / (gn - n - 1) / (gn - n)
    z1 = z0.select(
        "brand",
        "n",
        "n_brands",
        mb.alias("mb"),
        ((mb - mr) / F.sqrt(vb + vr)).alias("z"),
    )
    k = 1.0 / (1.0 + 0.2316419 * F.abs(F.col("z")))
    poly = k * (
        F.lit(0.319381530)
        + k
        * (
            F.lit(-0.356563782)
            + k
            * (
                F.lit(1.781477937)
                + k * (F.lit(-1.821255978) + k * F.lit(1.330274429))
            )
        )
    )
    p2 = z1.select(
        "brand",
        "n",
        "n_brands",
        "mb",
        "z",
        F.round(
            2.0
            * (
                F.exp(-F.abs(F.col("z")) * F.abs(F.col("z")) / 2.0)
                * F.lit(0.3989422804014327)
            )
            * poly
            + F.lit(1e-9),
            6,
        ).alias("p_value"),
    )
    r = p2.withColumn(
        "i", F.row_number().over(Window.orderBy("p_value", "brand"))
    )
    kstar = r.agg(
        F.max(
            F.when(
                F.col("p_value") <= 0.05 * F.col("i") / F.col("n_brands"),
                F.col("i"),
            ).otherwise(0)
        ).alias("kstar")
    )
    return r.crossJoin(F.broadcast(kstar)).select(
        "brand",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("mb") + F.lit(1e-9), 4).alias("mean_brand"),
        F.round(F.col("z") + F.lit(1e-9), 6).alias("z_stat"),
        "p_value",
        F.col("i").cast("bigint").alias("bh_rank"),
        F.round(0.05 * F.col("i") / F.col("n_brands") + F.lit(1e-9), 6).alias(
            "bh_crit"
        ),
        (F.col("i") <= F.col("kstar")).alias("rejected"),
    )


@register(
    "stratified_ate",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
            FROM events
        ), u AS (
            SELECT user_id,
                   round(avg(CASE WHEN ts < d0 + INTERVAL 15 DAY
                                  THEN value END) + 1e-9, 6) AS x,
                   round(avg(CASE WHEN ts >= d0 + INTERVAL 15 DAY
                                  THEN value END) + 1e-9, 6) AS y,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                       % 2 AS t
            FROM events, bounds
            WHERE value IS NOT NULL
            GROUP BY user_id, d0
            HAVING x IS NOT NULL AND y IS NOT NULL
        ), st AS (
            SELECT user_id, y, t,
                   ntile(4) OVER (ORDER BY x, user_id) AS stratum
            FROM u
        ), agg AS (
            SELECT stratum,
                   SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_t,
                   SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_c,
                   SUM(CASE WHEN t = 1
                            THEN CAST(y AS DECIMAL(18,6)) END) AS s_t,
                   SUM(CASE WHEN t = 0
                            THEN CAST(y AS DECIMAL(18,6)) END) AS s_c
            FROM st GROUP BY stratum
        ), d AS (
            SELECT stratum, n_t, n_c,
                   round(s_t::DOUBLE / n_t + 1e-9, 6) AS mean_treat,
                   round(s_c::DOUBLE / n_c + 1e-9, 6) AS mean_control,
                   round(s_t::DOUBLE / n_t - s_c::DOUBLE / n_c + 1e-9, 6)
                       AS diff,
                   (n_t + n_c)::DOUBLE
                       / SUM(n_t + n_c) OVER () AS w
            FROM agg
        )
        SELECT CAST(stratum AS BIGINT) AS stratum,
               CAST(n_t AS BIGINT) AS n_treat,
               CAST(n_c AS BIGINT) AS n_control,
               mean_treat, mean_control, diff,
               round(w + 1e-9, 6) AS weight,
               round(SUM(w * diff) OVER () + 1e-9, 6) AS ate_overall
        FROM d
    """,
    description="Stratified average-treatment-effect readout (the "
    "post-stratification sibling of cuped_adjustment): users bucket "
    "into quartile strata of the pre-period covariate (two-phase rank "
    "over the deterministic (x, user_id) order + exact NTILE identity "
    "— identical bucketing cross-engine, no user-cardinality global "
    "sort), arms are the md5 user coin, and the overall ATE is the "
    "stratum-size-weighted sum of per-stratum mean differences. "
    "Per-stratum means reduce to DECIMAL-exact sums of pre-rounded "
    "per-user aggregates (the CUPED linearity discipline); the "
    "weighted combine runs over 4 post-agg rows. Exchange: one row "
    "per user, then 4",
)
def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    d0 = events.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    u = (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.round(
                F.avg(
                    F.when(
                        F.col("ts") < F.col("d0") + F.expr("INTERVAL 15 DAY"),
                        F.col("value"),
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("x"),
            F.round(
                F.avg(
                    F.when(
                        F.col("ts")
                        >= F.col("d0") + F.expr("INTERVAL 15 DAY"),
                        F.col("value"),
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .withColumn(
            "t",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    # Quartile strata without a user-cardinality global sort: x is a
    # 6dp-rounded bounded covariate, so floor(x*100) is a monotone
    # bucket key of bounded cardinality — two-phase rank + exact NTILE
    # identity (VERDICT r5 scale fix), bit-identical strata.
    ranked = R.two_phase_rank(
        u,
        [F.col("x").asc(), F.col("user_id").asc()],
        F.floor(F.col("x") * 100),
        rank_name="_rnk",
        total_name="_n",
    )
    st = ranked.select(
        "y",
        "t",
        R.ntile_from_rank(F.col("_rnk"), F.col("_n"), 4).alias("stratum"),
    )
    ydec = F.col("y").cast("decimal(18,6)")
    agg = st.groupBy("stratum").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("t") == 1, ydec)).alias("s_t"),
        F.sum(F.when(F.col("t") == 0, ydec)).alias("s_c"),
    )
    mt = F.col("s_t").cast("double") / F.col("n_t")
    mc = F.col("s_c").cast("double") / F.col("n_c")
    wall = Window.partitionBy()
    d = agg.select(
        "stratum",
        "n_t",
        "n_c",
        F.round(mt + F.lit(1e-9), 6).alias("mean_treat"),
        F.round(mc + F.lit(1e-9), 6).alias("mean_control"),
        F.round(mt - mc + F.lit(1e-9), 6).alias("diff"),
        (
            (F.col("n_t") + F.col("n_c")).cast("double")
            / F.sum(F.col("n_t") + F.col("n_c")).over(wall)
        ).alias("w"),
    )
    return d.select(
        F.col("stratum").cast("bigint").alias("stratum"),
        F.col("n_t").cast("bigint").alias("n_treat"),
        F.col("n_c").cast("bigint").alias("n_control"),
        "mean_treat",
        "mean_control",
        "diff",
        F.round(F.col("w") + F.lit(1e-9), 6).alias("weight"),
        F.round(
            F.sum(F.col("w") * F.col("diff")).over(wall) + F.lit(1e-9), 6
        ).alias("ate_overall"),
    )


@register(
    "sprt_monitor",
    oracle="""
        WITH tr AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   count(*) AS n_trials,
                   SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS n_success
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
              AND ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                  % 2 = 1
            GROUP BY 1
        ), l AS (
            SELECT day, n_trials, n_success,
                   round(n_success * 0.22314355131420976
                         + (n_trials - n_success)
                           * (-0.1823215567939546) + 1e-9, 6) AS llr_day
            FROM tr
        ), c AS (
            SELECT day, n_trials, n_success, llr_day,
                   round(CAST(sum(CAST(llr_day AS DECIMAL(18,6)))
                              OVER (ORDER BY day) AS DOUBLE) + 1e-9, 6)
                       AS llr_cum
            FROM l
        )
        SELECT day, CAST(n_trials AS BIGINT) AS n_trials,
               CAST(n_success AS BIGINT) AS n_success,
               llr_day, llr_cum,
               CASE WHEN llr_cum >= 2.944439 THEN 'reject_h0'
                    WHEN llr_cum <= -2.944439 THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM c
    """,
    description="Sequential probability ratio test monitor (Wald "
    "SPRT, H0 p=0.4 vs H1 p=0.5, alpha=beta=0.05): daily "
    "success/trial counts in the md5-coin treatment arm accumulate a "
    "log-likelihood ratio whose boundary crossings give the "
    "early-stopping decision — the always-valid sibling of the "
    "fixed-horizon welch/cuped readouts. LLR coefficients ln(p1/p0) "
    "and ln((1-p1)/(1-p0)) are shared literals, day terms are "
    "rounded then accumulated in DECIMAL (round-before-cumsum), and "
    "the +/-ln(19) thresholds compare against the ROUNDED cumulative "
    "so the decision string is engine-identical. State is one row "
    "per calendar day",
)
def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    tr = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & (
                F.conv(
                    F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                == 1
            )
        )
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_trials"),
            F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias(
                "n_success"
            ),
        )
    )
    l = tr.withColumn(
        "llr_day",
        F.round(
            F.col("n_success") * F.lit(0.22314355131420976)
            + (F.col("n_trials") - F.col("n_success"))
            * F.lit(-0.1823215567939546)
            + F.lit(1e-9),
            6,
        ),
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = l.withColumn(
        "llr_cum",
        F.round(
            F.sum(F.col("llr_day").cast("decimal(18,6)"))
            .over(w)
            .cast("double")
            + F.lit(1e-9),
            6,
        ),
    )
    return c.select(
        "day",
        F.col("n_trials").cast("bigint").alias("n_trials"),
        F.col("n_success").cast("bigint").alias("n_success"),
        "llr_day",
        "llr_cum",
        F.when(F.col("llr_cum") >= 2.944439, "reject_h0")
        .when(F.col("llr_cum") <= -2.944439, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


@register(
    "weighted_median",
    oracle="""
        WITH g AS (
            SELECT l_returnflag AS flag, l_quantity AS qty,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS w,
                   count(*) AS c
            FROM lineitem GROUP BY 1, 2
        ), cum AS (
            SELECT flag, qty, c,
                   SUM(w) OVER (PARTITION BY flag ORDER BY qty) AS cw,
                   SUM(w) OVER (PARTITION BY flag) AS tw,
                   SUM(c) OVER (PARTITION BY flag) AS n
            FROM g
        )
        SELECT flag, min(qty) AS weighted_median,
               CAST(max(tw) AS DOUBLE) AS total_weight,
               CAST(max(n) AS BIGINT) AS n
        FROM cum WHERE 2 * cw >= tw
        GROUP BY flag
    """,
    description="Exact revenue-weighted median quantity per return "
    "flag: the 50%-of-weight crossing point over the per-DISTINCT-"
    "value weight distribution (distinct-first discipline — the "
    "ordered cumulative runs over ~50 quantity rows per flag, never "
    "corpus rows). Weights accumulate in DECIMAL(18,2) so the "
    "crossing comparison 2*cum >= total is integer-exact on both "
    "engines — no float threshold anywhere. The weighted sibling of "
    "value_percentiles for 'median order size by dollars, not rows'",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("qty"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("w"),
        F.count(F.lit(1)).alias("c"),
    )
    wc = Window.partitionBy("flag").orderBy("qty")
    wt = Window.partitionBy("flag")
    cum = g.select(
        "flag",
        "qty",
        "c",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
        F.sum("c").over(wt).alias("n"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("qty").alias("weighted_median"),
            F.max("tw").cast("double").alias("total_weight"),
            F.max("n").cast("bigint").alias("n"),
        )
    )


@register(
    "cmh_test",
    oracle="""
        WITH p AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                       % 2 AS arm,
                   CASE WHEN value > 50 THEN 1 ELSE 0 END AS succ
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
        ), s AS (
            SELECT day,
                   SUM(CASE WHEN arm = 1 AND succ = 1
                            THEN 1 ELSE 0 END) AS a,
                   SUM(CASE WHEN arm = 1 AND succ = 0
                            THEN 1 ELSE 0 END) AS b,
                   SUM(CASE WHEN arm = 0 AND succ = 1
                            THEN 1 ELSE 0 END) AS c,
                   SUM(CASE WHEN arm = 0 AND succ = 0
                            THEN 1 ELSE 0 END) AS d
            FROM p GROUP BY day
            HAVING SUM(1) >= 2
        ), terms AS (
            SELECT a, b, c, d, (a + b + c + d)::DOUBLE AS t,
                   (a + b)::DOUBLE AS n1, (c + d)::DOUBLE AS n0,
                   (a + c)::DOUBLE AS m1, (b + d)::DOUBLE AS m0
            FROM s
        ), agg AS (
            SELECT count(*) AS k_strata,
                   CAST(SUM(a) AS BIGINT) AS sum_a,
                   SUM(n1 * m1 / t) AS sum_e,
                   SUM(n1 * n0 * m1 * m0 / (t * t * (t - 1))) AS var_s,
                   SUM(a * d / t) AS orn,
                   SUM(b * c / t) AS ord_
            FROM terms
        )
        SELECT CAST(k_strata AS BIGINT) AS k_strata, sum_a,
               round(sum_e + 1e-9, 6) AS sum_expected,
               round(var_s + 1e-9, 6) AS var_sum,
               round((sum_a - sum_e) * (sum_a - sum_e) / var_s + 1e-9, 6)
                   AS cmh_chi2,
               round(orn / ord_ + 1e-9, 6) AS mh_odds_ratio
        FROM agg
    """,
    description="Cochran-Mantel-Haenszel stratified 2x2xK test (arm x "
    "conversion across day strata) with the Mantel-Haenszel pooled "
    "odds ratio: the categorical companion of stratified_ate — "
    "controls day-level confounding a pooled chi-square would absorb "
    "(Simpson guard). One grouped count produces the K contingency "
    "tables; expectation/variance/OR terms are rationals of integer "
    "counts (identical doubles cross-engine) summed over ~30 strata "
    "inside the 1e-9 nudge. Arms are the md5 user coin, conversion "
    "the value>50 cut shared with sprt_monitor",
)
def q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    p = events.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.date_trunc("day", "ts").alias("day"),
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("succ"),
    )
    s = (
        p.groupBy("day")
        .agg(
            F.sum(
                F.when((F.col("arm") == 1) & (F.col("succ") == 1), 1)
                .otherwise(0)
            ).alias("a"),
            F.sum(
                F.when((F.col("arm") == 1) & (F.col("succ") == 0), 1)
                .otherwise(0)
            ).alias("b"),
            F.sum(
                F.when((F.col("arm") == 0) & (F.col("succ") == 1), 1)
                .otherwise(0)
            ).alias("c"),
            F.sum(
                F.when((F.col("arm") == 0) & (F.col("succ") == 0), 1)
                .otherwise(0)
            ).alias("d"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= 2)
    )
    t = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    n1 = (F.col("a") + F.col("b")).cast("double")
    n0 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    m0 = (F.col("b") + F.col("d")).cast("double")
    agg = s.agg(
        F.count(F.lit(1)).alias("k_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum(n1 * m1 / t).alias("sum_e"),
        F.sum(n1 * n0 * m1 * m0 / (t * t * (t - 1))).alias("var_s"),
        F.sum(F.col("a") * F.col("d") / t).alias("orn"),
        F.sum(F.col("b") * F.col("c") / t).alias("ord_"),
    )
    return agg.select(
        F.col("k_strata").cast("bigint").alias("k_strata"),
        "sum_a",
        F.round(F.col("sum_e") + F.lit(1e-9), 6).alias("sum_expected"),
        F.round(F.col("var_s") + F.lit(1e-9), 6).alias("var_sum"),
        F.round(
            (F.col("sum_a") - F.col("sum_e"))
            * (F.col("sum_a") - F.col("sum_e"))
            / F.col("var_s")
            + F.lit(1e-9),
            6,
        ).alias("cmh_chi2"),
        F.round(F.col("orn") / F.col("ord_") + F.lit(1e-9), 6).alias(
            "mh_odds_ratio"
        ),
    )


@register(
    "isotonic_calibration",
    oracle=f"""
        WITH s0 AS (
            SELECT round(len(list_filter(str_split(lower(text), ' '),
                        x -> x IN ('{_STOPWORD_SQL}')))::DOUBLE
                     / len(str_split(lower(text), ' ')), 6) AS s,
                   (lang = 'en') AS label
            FROM documents
        ), sb AS (
            SELECT least(CAST(floor(s * 50) AS BIGINT), 49) AS bin, label
            FROM s0
        ), b AS (
            SELECT bin, count(*) AS w,
                   SUM(CASE WHEN label THEN 1 ELSE 0 END) AS c
            FROM sb GROUP BY bin
        ), o AS (
            SELECT bin, w, c,
                   row_number() OVER (ORDER BY bin) AS i,
                   SUM(w) OVER (ORDER BY bin) AS nw,
                   SUM(c) OVER (ORDER BY bin) AS nc
            FROM b
        ), pre AS (
            SELECT i, nw, nc FROM o
            UNION ALL SELECT 0, 0, 0
        ), a AS (
            SELECT j0.i + 1 AS j, k.i AS k,
                   (k.nc - j0.nc)::DOUBLE / (k.nw - j0.nw) AS avgjk
            FROM pre j0 JOIN o k ON k.i >= j0.i + 1
        ), m AS (
            SELECT j, k AS i,
                   min(avgjk) OVER (PARTITION BY j ORDER BY k DESC) AS msuf
            FROM a
        ), fit AS (
            SELECT m.i, max(m.msuf) AS iso
            FROM m WHERE m.j <= m.i GROUP BY m.i
        )
        SELECT o.bin, CAST(o.w AS BIGINT) AS n,
               CAST(o.c AS BIGINT) AS n_pos,
               round(o.c::DOUBLE / o.w + 1e-9, 6) AS rate_raw,
               round(fit.iso + 1e-9, 6) AS rate_isotonic
        FROM o JOIN fit ON fit.i = o.i
    """,
    description="Isotonic (PAVA) calibration of the lang_id scorer "
    "against its own labels: per score-bin empirical rates replaced "
    "by the exact isotonic fit via the minimax identity fit(i) = "
    "max_(j<=i) min_(k>=i) mean(y[j..k]) — the closed form that turns "
    "the sequential pool-adjacent-violators loop into two windowed "
    "scans and a triangular join over BIN prefix sums (bins <= 50, "
    "so the |B|^2 pair table is driver-trivial while the corpus "
    "contributes one grouped count). Cumulative counts are integers, "
    "every candidate mean a ratio of integers -> identical doubles "
    "cross-engine; monotonicity of the fit is pinned in pytest. "
    "Completes the eval chain score_calibration (binned rates) -> "
    "isotonic_calibration (monotone-regularized rates)",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s0 = T.lang_id_heuristic(docs, 0.1).select(
        F.col("stopword_ratio").alias("s"),
        (F.col("lang") == "en").alias("label"),
    )
    sb = s0.select(
        F.least(
            F.floor(F.col("s") * 50).cast("bigint"), F.lit(49)
        ).alias("bin"),
        "label",
    )
    b = sb.groupBy("bin").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("c"),
    )
    wo = Window.orderBy("bin")
    o = b.select(
        "bin",
        "w",
        "c",
        F.row_number().over(wo).alias("i"),
        F.sum("w").over(wo).alias("nw"),
        F.sum("c").over(wo).alias("nc"),
    )
    pre = o.select("i", "nw", "nc").unionAll(
        local_frame(
            o.sparkSession,
            [(0, 0, 0)], "i int, nw long, nc long"
        ).select(
            F.col("i").cast("int"),
            F.col("nw").cast("long"),
            F.col("nc").cast("long"),
        )
    )
    j0 = pre.select(
        (F.col("i") + 1).alias("j"),
        F.col("nw").alias("jw"),
        F.col("nc").alias("jc"),
    )
    k = o.select(
        F.col("i").alias("k"), F.col("nw").alias("kw"), F.col("nc").alias("kc")
    )
    a = j0.join(k, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        (
            (F.col("kc") - F.col("jc")).cast("double")
            / (F.col("kw") - F.col("jw"))
        ).alias("avgjk"),
    )
    wm = Window.partitionBy("j").orderBy(F.col("k").desc())
    m = a.select(
        "j", F.col("k").alias("i"), F.min("avgjk").over(wm).alias("msuf")
    )
    fit = (
        m.filter(F.col("j") <= F.col("i"))
        .groupBy("i")
        .agg(F.max("msuf").alias("iso"))
    )
    return o.join(fit, "i").select(
        "bin",
        F.col("w").cast("bigint").alias("n"),
        F.col("c").cast("bigint").alias("n_pos"),
        F.round(
            F.col("c").cast("double") / F.col("w") + F.lit(1e-9), 6
        ).alias("rate_raw"),
        F.round(F.col("iso") + F.lit(1e-9), 6).alias("rate_isotonic"),
    )


REGISTRY["winnow_pairs"] = QuerySpec(
    fn=REGISTRY["winnow_pairs"].fn,
    oracle=f"""
        WITH fp AS (SELECT * FROM ({REGISTRY['winnow_fingerprints'].oracle})),
        df AS (SELECT DISTINCT doc_id, fp FROM fp),
        cnt AS (SELECT doc_id, count(*) AS n_fp FROM df GROUP BY 1),
        pop AS (
            SELECT fp FROM df GROUP BY fp HAVING count(*) <= 50
        ), p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_shared
            FROM df a JOIN pop USING (fp) JOIN df b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
               round(n_shared::DOUBLE / least(ca.n_fp, cb.n_fp), 6)
                   AS overlap
        FROM p
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
    """,
    description=REGISTRY["winnow_pairs"].description,
)


@register(
    "conformal_interval",
    oracle="""
        WITH bounds AS (
            SELECT min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
            FROM events
        ), u AS (
            SELECT user_id,
                   round(avg(CASE WHEN ts < d0 + INTERVAL 15 DAY
                                  THEN value END) + 1e-9, 6) AS x,
                   round(avg(CASE WHEN ts >= d0 + INTERVAL 15 DAY
                                  THEN value END) + 1e-9, 6) AS y,
                   ('0x' || substr(md5(user_id::VARCHAR), 9, 8))::BIGINT
                       % 2 AS is_test
            FROM events, bounds
            WHERE value IS NOT NULL
            GROUP BY user_id, d0
            HAVING x IS NOT NULL AND y IS NOT NULL
        ), m AS (
            SELECT count(*) AS n,
                   SUM(CAST(x AS DECIMAL(18,6)))::DOUBLE AS sx,
                   SUM(CAST(y AS DECIMAL(18,6)))::DOUBLE AS sy,
                   SUM(CAST(x AS DECIMAL(18,6))
                       * CAST(x AS DECIMAL(18,6)))::DOUBLE AS sxx,
                   SUM(CAST(x AS DECIMAL(18,6))
                       * CAST(y AS DECIMAL(18,6)))::DOUBLE AS sxy
            FROM u WHERE is_test = 0
        ), th AS (
            SELECT n AS n_cal,
                   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS t1,
                   (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                       / n AS t0
            FROM m
        ), r AS (
            SELECT u.user_id, u.is_test,
                   round(abs(u.y - (th.t0 + th.t1 * u.x)) + 1e-9, 6)
                       AS resid
            FROM u, th
        ), q AS (
            SELECT resid AS qhat FROM (
                SELECT resid, row_number() OVER (
                    ORDER BY resid, user_id) AS rk
                FROM r WHERE is_test = 0
            ), th
            WHERE rk = least(CAST(ceil(0.9 * (th.n_cal + 1)) AS BIGINT),
                             th.n_cal)
        )
        SELECT th.n_cal AS n_cal,
               CAST((SELECT count(*) FROM r WHERE is_test = 1) AS BIGINT)
                   AS n_test,
               round(th.t0 + 1e-9, 6) AS theta0,
               round(th.t1 + 1e-9, 6) AS theta1,
               q.qhat AS qhat,
               round((SELECT SUM(CASE WHEN resid <= q.qhat
                                      THEN 1 ELSE 0 END)::DOUBLE
                             / count(*)
                      FROM r WHERE is_test = 1) + 1e-9, 6) AS coverage
        FROM th, q
    """,
    description="Split-conformal prediction interval for the pre->post "
    "user-value regression: OLS is fit on the md5-split calibration "
    "half (DECIMAL-exact moments of the pre-rounded per-user "
    "aggregates — the cuped/grouped_ols discipline), qhat is the "
    "ceil(0.9(n+1))-th smallest ROUNDED absolute residual (rank "
    "clamped to n_cal for tiny calibration sets) selected by "
    "deterministic (resid, user_id) rank, and the reported coverage "
    "is the share of held-out users whose residual fits inside — the "
    "distribution-free uncertainty wrapper modern ML serving puts "
    "around any point model. Exchange: one row per user, one 5-number "
    "moment row; the calibration rank is TWO-PHASE on bucket key "
    "floor(resid*1e6) (monotone in the 6dp-rounded residual) — no "
    "user-cardinality single-task sort",
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    d0 = events.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    u = (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.round(
                F.avg(
                    F.when(
                        F.col("ts") < F.col("d0") + F.expr("INTERVAL 15 DAY"),
                        F.col("value"),
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("x"),
            F.round(
                F.avg(
                    F.when(
                        F.col("ts")
                        >= F.col("d0") + F.expr("INTERVAL 15 DAY"),
                        F.col("value"),
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .withColumn(
            "is_test",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 9, 8),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    u = tracked_persist(u)
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    m = u.filter(F.col("is_test") == 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    t1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    th = m.select(
        F.col("n").alias("n_cal"),
        t1.alias("t1"),
        ((sy - t1 * sx) / n).alias("t0"),
    )
    r = u.crossJoin(F.broadcast(th)).select(
        "user_id",
        "is_test",
        "n_cal",
        "t0",
        "t1",
        F.round(
            F.abs(F.col("y") - (F.col("t0") + F.col("t1") * F.col("x")))
            + F.lit(1e-9),
            6,
        ).alias("resid"),
    )
    cal = r.filter(F.col("is_test") == 0)
    # qhat order statistic without a single-task global sort of the
    # calibration half (user-cardinality): resid is already 6dp-rounded,
    # so floor(resid*1e6) is MONOTONE in resid (positive-constant
    # multiply + floor preserve order; equal resid -> equal bucket) —
    # a valid two-phase bucket key whose histogram is
    # distinct-residual-bounded.
    q = (
        R.two_phase_rank(
            cal,
            [F.col("resid").asc(), F.col("user_id").asc()],
            F.floor(F.col("resid") * 1e6),
            rank_name="rk",
        )
        .filter(
            F.col("rk")
            == F.least(
                F.ceil(0.9 * (F.col("n_cal") + 1)).cast("bigint"),
                F.col("n_cal").cast("bigint"),
            )
        )
        .select(F.col("resid").alias("qhat"))
    )
    test = r.filter(F.col("is_test") == 1)
    cov = test.crossJoin(F.broadcast(q)).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(
            F.sum(
                F.when(F.col("resid") <= F.col("qhat"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("coverage"),
        F.max("qhat").alias("qhat"),
    )
    return th.crossJoin(F.broadcast(cov)).select(
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("n_test").cast("bigint").alias("n_test"),
        F.round(F.col("t0") + F.lit(1e-9), 6).alias("theta0"),
        F.round(F.col("t1") + F.lit(1e-9), 6).alias("theta1"),
        F.col("qhat"),
        "coverage",
    )


@register(
    "js_divergence",
    oracle="""
        WITH f AS (
            SELECT source AS g, unnest(str_split(lower(text), ' ')) AS w
            FROM documents
        ), c AS (
            SELECT g, w, count(*) AS c FROM f GROUP BY 1, 2
        ), t AS (
            SELECT g, sum(c) AS t FROM c GROUP BY 1
        ), d AS (
            SELECT c.g, c.w, c.c / t.t AS p FROM c JOIN t USING (g)
        ), shared AS (
            SELECT a.g AS ga, b.g AS gb,
                   sum(a.p / 2 * log2(2 * a.p / (a.p + b.p))
                       + b.p / 2 * log2(2 * b.p / (a.p + b.p))) AS s_term,
                   sum(a.p) AS s_pa, sum(b.p) AS s_pb
            FROM d a JOIN d b ON a.w = b.w AND a.g < b.g
            GROUP BY 1, 2
        )
        SELECT ga AS source_a, gb AS source_b,
               round(s_term + (1 - s_pa) / 2 + (1 - s_pb) / 2 + 1e-9, 6)
                   AS js_div
        FROM shared
    """,
    description="Pairwise Jensen-Shannon divergence between per-source "
    "token distributions (corpus-drift / domain-shift monitor): "
    "disjoint-vocabulary mass folded into a closed form so ONLY "
    "shared tokens join — no all-pairs full-outer join; one corpus "
    "scan, vocabulary-sized aggregates, broadcast totals",
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.js_divergence_sources(docs, "source")


@register(
    "chi_square_independence",
    oracle="""
        WITH o AS (
            -- DuckDB dayofweek: Sunday=0; Spark: Sunday=1 — shift
            SELECT event_type AS r, CAST(dayofweek(ts) + 1 AS BIGINT) AS c,
                   count(*) AS obs
            FROM events GROUP BY 1, 2
        ), rm AS (
            SELECT r, sum(obs) AS rt FROM o GROUP BY r
        ), cm AS (
            SELECT c, sum(obs) AS ct FROM o GROUP BY c
        ), n AS (
            SELECT sum(obs) AS n FROM o
        ), cells AS (
            SELECT o.r, o.c, obs,
                   (rt * ct) / n AS exp
            FROM o JOIN rm USING (r) JOIN cm USING (c), n
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST((SELECT count(*) FROM rm) - 1 AS BIGINT)
                   * CAST((SELECT count(*) FROM cm) - 1 AS BIGINT) AS dof,
               round(sum((obs - exp) * (obs - exp) / exp) + 1e-9, 6)
                   AS chi2
        FROM cells
    """,
    description="Chi-square test of independence (event_type x day-of-"
    "week contingency): observed cell counts from ONE groupBy, "
    "expected from broadcast marginals, the statistic one tiny "
    "aggregate — the drift/segmentation-significance primitive; "
    "identical (o-e)^2/e association on both engines. Contingency "
    "table is |types| x 7 regardless of event volume",
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    o = tracked_persist(
        events.groupBy(
            F.col("event_type").alias("r"),
            F.dayofweek("ts").cast("bigint").alias("c"),
        ).agg(F.count(F.lit(1)).alias("obs"))
    )
    rm = o.groupBy("r").agg(F.sum("obs").alias("rt"))
    cm = o.groupBy("c").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    nr = rm.agg(F.count(F.lit(1)).alias("nr"))
    nc = cm.agg(F.count(F.lit(1)).alias("nc"))
    exp = (F.col("rt") * F.col("ct")) / F.col("n")
    cells = (
        o.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .crossJoin(F.broadcast(n))
        .select("obs", exp.alias("exp"))
    )
    return (
        cells.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(
                F.sum(
                    (F.col("obs") - F.col("exp"))
                    * (F.col("obs") - F.col("exp"))
                    / F.col("exp")
                )
                + F.lit(1e-9),
                6,
            ).alias("chi2"),
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_cells",
            ((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
        )
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "corr_matrix",
    oracle=f"""
        WITH s AS (
            SELECT {", ".join(
                f"sum({c}) AS s_{c}, sum({c} * {c}) AS ss_{c}"
                for c in _CORR_COLS
            )},
            {", ".join(
                f"sum({a} * {b}) AS sp_{a}_{b}"
                for i, a in enumerate(_CORR_COLS)
                for b in _CORR_COLS[i + 1:]
            )},
            count(*)::DOUBLE AS n
            FROM lineitem
        )
        {" UNION ALL ".join(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"round((n * sp_{a}_{b} - s_{a} * s_{b}) "
            f"/ sqrt((n * ss_{a} - s_{a} * s_{a}) "
            f"* (n * ss_{b} - s_{b} * s_{b})) + 1e-9, 6) AS pearson_r "
            f"FROM s"
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1:]
        )}
    """,
    description="Pairwise Pearson correlation matrix over the lineitem "
    "numeric columns: ALL sums/cross-products from ONE scan-level "
    "aggregate (a single partial-agg pass, no per-pair rescans), the "
    "6 coefficients assembled from the 1-row moment table — the "
    "feature-redundancy screen of any ML feature audit; the explicit "
    "(n*sxy - sx*sy)/sqrt(...) moment form is shared verbatim with "
    "the oracle instead of each engine's internal corr() updater",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _CORR_COLS:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    aggs.append(F.count(F.lit(1)).cast("double").alias("n"))
    mom = li.agg(*aggs)
    rows = []
    for a, b in pairs:
        r = (
            F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        ) / F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(r + F.lit(1e-9), 6).alias("pearson_r"),
            )
        )
    return mom.select(F.explode(F.array(*rows)).alias("p")).select(
        "p.col_a", "p.col_b", "p.pearson_r"
    )


@register(
    "anova_f_test",
    oracle="""
        WITH g AS (
            SELECT event_type, count(*) AS n, sum(value) AS s,
                   sum(value * value) AS ss
            FROM events GROUP BY event_type
        ), tot AS (
            SELECT sum(n) AS big_n, sum(s) AS grand_s,
                   count(*) AS k FROM g
        )
        SELECT CAST(max(k) AS BIGINT) AS k_groups,
               CAST(max(big_n) AS BIGINT) AS n_rows,
               round(sum(s * s / n) - max(grand_s) * max(grand_s)
                     / max(big_n) + 1e-9, 4) AS ss_between,
               round(sum(ss) - sum(s * s / n) + 1e-9, 4) AS ss_within,
               round(((sum(s * s / n) - max(grand_s) * max(grand_s)
                       / max(big_n)) / (max(k) - 1))
                     / ((sum(ss) - sum(s * s / n)) / (max(big_n) - max(k)))
                     + 1e-9, 6) AS f_stat
        FROM g, tot
    """,
    description="One-way ANOVA F-test (does mean value differ across "
    "event types) — completes the statistical-testing family next to "
    "chi_square_independence / mutual_information / grouped_ols: "
    "between/within sums of squares from per-group n/Σx/Σx² partial "
    "aggregates only (the shared-explicit-moment discipline — one "
    "corpus scan, group-cardinality state, identical association on "
    "both engines)",
)
def q_anova_f_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    ssb = F.sum(F.col("s") * F.col("s") / F.col("n")) - F.sum("s") * F.sum(
        "s"
    ) / F.sum("n")
    ssw = F.sum("ss") - F.sum(F.col("s") * F.col("s") / F.col("n"))
    k = F.count(F.lit(1))
    big_n = F.sum("n")
    return g.agg(
        k.cast("bigint").alias("k_groups"),
        big_n.cast("bigint").alias("n_rows"),
        F.round(ssb + F.lit(1e-9), 4).alias("ss_between"),
        F.round(ssw + F.lit(1e-9), 4).alias("ss_within"),
        F.round(
            (ssb / (k - 1)) / (ssw / (big_n - k)) + F.lit(1e-9), 6
        ).alias("f_stat"),
    )


@register(
    "categorical_entropy",
    oracle="""
        WITH et AS (SELECT event_type AS v FROM events),
        lg AS (SELECT lang AS v FROM documents),
        sc AS (SELECT source AS v FROM documents),
        h AS (
            SELECT 'events.event_type' AS column_name, v,
                   count(*) AS c FROM et GROUP BY v
            UNION ALL
            SELECT 'documents.lang', v, count(*) FROM lg GROUP BY v
            UNION ALL
            SELECT 'documents.source', v, count(*) FROM sc GROUP BY v
        ), tot AS (
            SELECT column_name, sum(c) AS n FROM h GROUP BY column_name
        )
        SELECT h.column_name,
               CAST(count(*) AS BIGINT) AS n_values,
               round(-sum((c * 1.0 / n) * ln(c * 1.0 / n) / ln(2))
                     + 1e-9, 6) AS entropy_bits,
               round(ln(count(*)) / ln(2) + 1e-9, 6) AS max_entropy_bits
        FROM h JOIN tot USING (column_name)
        GROUP BY h.column_name
    """,
    description="Per-column Shannon entropy of categorical columns — "
    "the information-content DQ check (near-zero entropy = a dead "
    "column; entropy ≈ log2(n_values) = uniform). ONE pass per "
    "table: the two documents columns unpivot via stack() so the "
    "corpus is scanned once, all three histograms build in a single "
    "(column_name, v) groupBy, per-column totals come from a window "
    "over the BOUNDED histogram (value-cardinality rows, fine at any "
    "volume), and the entropy folds in a final tiny groupBy — 2 "
    "scans / 3 shuffles where the per-column-subplan form cost 6 "
    "scans / 16 shuffles (r8 verdict audit). All ratios from exact "
    "integer counts (both engines log identical doubles)",
)
def q_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")
    ev = events.select(
        F.lit("events.event_type").alias("column_name"),
        F.col("event_type").alias("v"),
    )
    dc = docs.selectExpr(
        "stack(2, 'documents.lang', lang, 'documents.source', source) "
        "AS (column_name, v)"
    )
    hist = (
        ev.unionByName(dc)
        .groupBy("column_name", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("column_name"))
    p = F.col("c") * 1.0 / F.col("n")
    return (
        hist.withColumn("n", n)
        .groupBy("column_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.round(
                -F.sum(p * F.log(p) / F.log(F.lit(2.0))) + F.lit(1e-9), 6
            ).alias("entropy_bits"),
            F.round(
                F.log(F.count(F.lit(1))) / F.log(F.lit(2.0)) + F.lit(1e-9),
                6,
            ).alias("max_entropy_bits"),
        )
    )


@register(
    "grouped_ols",
    oracle="""
        WITH m AS (
            SELECT event_type, count(*) AS n,
                   sum(CAST(hour(ts) AS DOUBLE)) AS sx,
                   sum(value) AS sy,
                   sum(CAST(hour(ts) AS DOUBLE) * value) AS sxy,
                   sum(CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE))
                       AS sxx
            FROM events GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6)
                   AS slope,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n + 1e-9, 6) AS intercept
        FROM m
    """,
    description="Grouped OLS regression (value vs hour-of-day per "
    "event_type) from ONE moment aggregate — n/Σx/Σy/Σxy/Σxx partial-"
    "aggregate map-side, the slope/intercept algebra runs on the "
    "5-number summary. The same shared-explicit-moment discipline as "
    "corr_matrix (never engine-internal regr_* whose association "
    "differs); group count bounds the result regardless of volume",
)
def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    m = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum("value").alias("sy"),
        F.sum(x * F.col("value")).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope + F.lit(1e-9), 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n") + F.lit(1e-9), 6
        ).alias("intercept"),
    )


@register(
    "mutual_information",
    oracle="""
        WITH o AS (
            SELECT event_type AS r, CAST(dayofweek(ts) + 1 AS BIGINT) AS c,
                   count(*) AS obs
            FROM events GROUP BY 1, 2
        ), rm AS (SELECT r, sum(obs) AS rt FROM o GROUP BY r),
        cm AS (SELECT c, sum(obs) AS ct FROM o GROUP BY c),
        n AS (SELECT sum(obs) AS n FROM o)
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               round(sum((obs * 1.0 / n)
                         * ln((obs * 1.0 * n) / (rt * 1.0 * ct)) / ln(2))
                     + 1e-9, 6) AS mi_bits
        FROM o JOIN rm USING (r) JOIN cm USING (c), n
    """,
    description="Mutual information MI(event_type; day-of-week) in "
    "bits — the feature-relevance companion to chi_square_independence "
    "over the SAME contingency plan shape: one groupBy for cell "
    "counts, broadcast marginals, a tiny Σ p·log₂(p/(pq)) aggregate. "
    "All ratios form from exact integer counts, so both engines log "
    "identical doubles; day shift pins DuckDB dow(Sun=0) to Spark "
    "(Sun=1)",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    o = events.groupBy(
        F.col("event_type").alias("r"),
        F.dayofweek("ts").cast("bigint").alias("c"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    o = tracked_persist(o)
    rm = o.groupBy("r").agg(F.sum("obs").alias("rt"))
    cm = o.groupBy("c").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    term = (F.col("obs") * 1.0 / F.col("n")) * F.log(
        (F.col("obs") * 1.0 * F.col("n")) / (F.col("rt") * 1.0 * F.col("ct"))
    ) / F.log(F.lit(2.0))
    return (
        o.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(F.sum(term) + F.lit(1e-9), 6).alias("mi_bits"),
        )
    )


MAD_SCALE = 1.4826  # consistency constant: MAD ≈ sigma for normal data
MAD_K = 3.0


@register(
    "mad_outliers",
    oracle=f"""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ), mad AS (
            SELECT e.event_type, min(med) AS med,
                   quantile_cont(abs(value - med), 0.5) AS mad
            FROM events e JOIN med USING (event_type)
            GROUP BY e.event_type
        )
        SELECT event_id, e.event_type, value
        FROM events e JOIN mad USING (event_type)
        WHERE value > med + {MAD_K} * {MAD_SCALE} * mad + 1e-9
    """,
    description="Robust outlier detection via median absolute "
    "deviation: flag events whose value exceeds med + 3·1.4826·MAD "
    "per event_type — the heavy-tail-safe alternative to z-scores "
    "(anomaly_zscore), whose mean/std are themselves dragged by the "
    "outliers they hunt. Two grouped EXACT percentiles (groups are "
    "bounded — per-type state is a sort of that type's values, the "
    "documented handoff to approx_percentile at unbounded group "
    "sizes) broadcast back onto one flagging scan; threshold carries "
    "the repo's 1e-9 tie nudge on both engines",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    thr = F.col("med") + MAD_K * MAD_SCALE * F.col("mad") + F.lit(1e-9)
    return (
        events.join(F.broadcast(mad), "event_type")
        .filter(F.col("value") > thr)
        .select("event_id", "event_type", "value")
    )


@register(
    "winsorize_values",
    oracle="""
        WITH q AS (
            SELECT event_type,
                   quantile_cont(value, 0.01) AS lo,
                   quantile_cont(value, 0.99) AS hi
            FROM events GROUP BY event_type
        )
        SELECT event_type,
               round(lo + 1e-9, 4) AS lo,
               round(hi + 1e-9, 4) AS hi,
               round(avg(CASE WHEN value < lo THEN lo
                              WHEN value > hi THEN hi
                              ELSE value END) + 1e-9, 4) AS avg_winsorized,
               CAST(sum(CASE WHEN value < lo OR value > hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
        FROM events JOIN q USING (event_type)
        GROUP BY event_type, lo, hi
    """,
    description="Winsorization — clamp to per-group exact p01/p99 "
    "before averaging, the standard feature-prep defense against "
    "fat-tailed metrics. Grouped exact percentiles (bounded groups; "
    "approx_percentile is the unbounded handoff) broadcast onto one "
    "clamp-and-aggregate scan; comparisons use the identical "
    "interpolated double on both engines",
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    q = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        events.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.round(F.avg(clamped) + F.lit(1e-9), 4).alias("avg_winsorized"),
            F.sum(out_of_band.cast("int")).cast("bigint").alias("n_clamped"),
        )
        .select(
            "event_type",
            F.round(F.col("lo") + F.lit(1e-9), 4).alias("lo"),
            F.round(F.col("hi") + F.lit(1e-9), 4).alias("hi"),
            "avg_winsorized",
            "n_clamped",
        )
    )


@register(
    "benford_digits",
    oracle="""
        WITH d AS (
            SELECT substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS digit
            FROM lineitem
        ), obs AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
        ), tot AS (SELECT sum(n_obs) AS n FROM obs)
        SELECT digit, n_obs,
               round(n * ln(1 + 1.0 / CAST(digit AS BIGINT)) / ln(10)
                     + 1e-9, 2) AS n_expected,
               round(n_obs / (n * ln(1 + 1.0 / CAST(digit AS BIGINT))
                              / ln(10)) + 1e-9, 4) AS obs_exp_ratio
        FROM obs, tot
    """,
    description="Benford first-digit audit over line-item prices — "
    "the classic fraud/data-integrity screen. The first significant "
    "digit is extracted in EXACT integer space (first char of the "
    "cent amount — no log10/pow float boundary): one map + a 9-row "
    "aggregate, expected counts n·log10(1+1/d) against a broadcast "
    "total. Flat per-byte scan, embarrassingly parallel",
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
        1,
        1,
    )
    obs = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    expected = F.col("n") * F.log(1 + 1.0 / F.col("digit").cast("bigint")) / F.log(
        F.lit(10.0)
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(expected + F.lit(1e-9), 2).alias("n_expected"),
        F.round(F.col("n_obs") / expected + F.lit(1e-9), 4).alias("obs_exp_ratio"),
    )


BOOTSTRAP_B = 100
# Poisson(1) inverse-CDF thresholds: P(X <= k) for k = 0..4; md5
# fractions above the last threshold cap at w = 5 (identical, and
# deterministic, on both engines — the tail mass is 6e-5)
POISSON_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def _poisson_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(POISSON_CDF)
    )
    return f"CASE {cases} ELSE 5 END"


@register(
    "bootstrap_ci",
    oracle=f"""
        WITH reps AS (
            SELECT e.event_type, e.event_id, e.value, r.b
            FROM events e CROSS JOIN range(1, {BOOTSTRAP_B + 1}) r(b)
        ), wt AS (
            SELECT event_type, b, value,
                   {_poisson_w_sql(
                       "(('0x' || substr(md5(event_id || '_' || b), 1, 8))"
                       "::BIGINT / 4294967296.0)"
                   )} AS w
            FROM reps
        ), means AS (
            SELECT event_type, b,
                   round(CAST(sum(CAST(value AS DECIMAL(18,4)) * w)
                              AS DOUBLE) / sum(w) + 1e-9, 6) AS mean_b
            FROM wt GROUP BY event_type, b
        ), ranked AS (
            SELECT event_type, mean_b,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY mean_b, b) AS rk
            FROM means
        ), ci AS (
            SELECT event_type,
                   max(CASE WHEN rk = 3 THEN mean_b END) AS ci_lo,
                   max(CASE WHEN rk = {BOOTSTRAP_B - 2} THEN mean_b END)
                       AS ci_hi
            FROM ranked GROUP BY event_type
        ), pt AS (
            SELECT event_type,
                   round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*) + 1e-9, 6) AS mean_value
            FROM events GROUP BY event_type
        )
        SELECT pt.event_type, mean_value, ci_lo, ci_hi
        FROM pt JOIN ci ON pt.event_type = ci.event_type
    """,
    description="Poisson bootstrap 95% CI for the per-type mean value "
    "— THE bootstrap that works on distributed data (classic "
    "with-replacement resampling needs global row sampling per "
    "replicate; Poisson(1) per-row weights are exchangeable with it "
    "and embarrassingly parallel). Weights come from the engine-"
    "portable md5-fraction inverse-CDF (deterministic, oracle-"
    "checkable), the B=100 replicate means partial-aggregate map-side "
    "(the x100 explode never reaches the shuffle: exchange carries "
    "|types| x B partials per partition), DECIMAL accumulation makes "
    "each replicate mean order-independent, and the CI is the "
    "explicit 3rd/98th order statistic of the replicate means (ties "
    "broken by replicate id) — no engine-specific quantile",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the x B explode makes this scan compute-heavy (B md5s per input
    # row): redistribute a single-row-group fixture scan first — no-op
    # when the source already has >= defaultParallelism splits
    events = spread(
        _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    )
    reps = events.select(
        "event_type",
        "event_id",
        "value",
        F.explode(
            F.sequence(F.lit(1), F.lit(BOOTSTRAP_B))
        ).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("event_id"), F.col("b"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    w = F.lit(5)
    for k in range(len(POISSON_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON_CDF[k]), F.lit(k)).otherwise(w)
    means = reps.groupBy("event_type", "b").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)") * w).cast("double")
            / F.sum(w)
            + F.lit(1e-9),
            6,
        ).alias("mean_b")
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy("mean_b", "b")
    )
    ci = (
        means.withColumn("rk", rk)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rk") == 3, F.col("mean_b"))).alias("ci_lo"),
            F.max(
                F.when(F.col("rk") == BOOTSTRAP_B - 2, F.col("mean_b"))
            ).alias("ci_hi"),
        )
    )
    pt = events.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("mean_value")
    )
    return pt.join(F.broadcast(ci), "event_type").select(
        "event_type", "mean_value", "ci_lo", "ci_hi"
    )


KS_CRITICAL_05 = 1.358  # two-sample KS c(alpha) at alpha = 0.05


@register(
    "ks_test",
    oracle=f"""
        WITH s AS (
            SELECT value AS v,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i1,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS i2
            FROM events WHERE event_type IN ('purchase', 'click')
        ), per_v AS (
            SELECT v, sum(i1) AS c1, sum(i2) AS c2 FROM s GROUP BY v
        ), cum AS (
            SELECT sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS r1,
                   sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS r2,
                   sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
            FROM per_v
        ), d AS (
            SELECT CAST(max(n1) AS BIGINT) AS n1,
                   CAST(max(n2) AS BIGINT) AS n2,
                   max(round(abs(r1 / CAST(n1 AS DOUBLE)
                                 - r2 / CAST(n2 AS DOUBLE))
                             + 1e-9, 6)) AS d_stat
            FROM cum
        )
        SELECT n1, n2, d_stat,
               round(sqrt(n1 * n2 / CAST(n1 + n2 AS DOUBLE)) * d_stat
                     + 1e-9, 6) AS ks_scaled,
               round(sqrt(n1 * n2 / CAST(n1 + n2 AS DOUBLE)) * d_stat
                     + 1e-9, 6) > {KS_CRITICAL_05} AS reject_05
        FROM d
    """,
    description="Exact two-sample Kolmogorov-Smirnov test (purchase vs "
    "click value distributions): D = max |F1 - F2| over the POOLED "
    "distinct values. The global cumulative runs over the per-value "
    "aggregate, not the raw rows — the groupBy collapses the corpus "
    "to |distinct 2dp values| rows first, so the single-partition "
    "ordered window is bounded by value cardinality, not data volume "
    "(the same distinct-first discipline as equidepth_histogram). "
    "Counts are integers, so D is order-independent; the scaled "
    "statistic and the alpha=0.05 decision apply to the ROUNDED D. "
    "Complements js_divergence (binned, approximate) with the exact "
    "distribution-free test",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    per_v = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("c1"),
        F.sum((F.col("event_type") == "click").cast("int")).alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_v.select(
        F.sum("c1").over(w).alias("r1"),
        F.sum("c2").over(w).alias("r2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    d = cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max(
            F.round(
                F.abs(
                    F.col("r1") / F.col("n1").cast("double")
                    - F.col("r2") / F.col("n2").cast("double")
                )
                + F.lit(1e-9),
                6,
            )
        ).alias("d_stat"),
    )
    scaled = F.round(
        F.sqrt(
            F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")).cast("double")
        )
        * F.col("d_stat")
        + F.lit(1e-9),
        6,
    )
    return d.select(
        "n1",
        "n2",
        "d_stat",
        scaled.alias("ks_scaled"),
        (scaled > F.lit(KS_CRITICAL_05)).alias("reject_05"),
    )


@register(
    "welch_ttest",
    oracle="""
        WITH m AS (
            SELECT
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS n1,
                sum(CASE WHEN event_type = 'purchase' THEN value
                         ELSE 0.0 END) AS s1,
                sum(CASE WHEN event_type = 'purchase' THEN value * value
                         ELSE 0.0 END) AS q1,
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n2,
                sum(CASE WHEN event_type = 'click' THEN value
                         ELSE 0.0 END) AS s2,
                sum(CASE WHEN event_type = 'click' THEN value * value
                         ELSE 0.0 END) AS q2
            FROM events WHERE event_type IN ('purchase', 'click')
        ), v AS (
            SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                   s1 / n1 - s2 / n2 AS mean_diff,
                   (q1 - s1 * s1 / n1) / (n1 - 1) / n1
                       + (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2,
                   (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS a1,
                   (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS a2
            FROM m
        )
        SELECT n1, n2,
               round(mean_diff + 1e-9, 6) AS mean_diff,
               round(mean_diff / sqrt(se2) + 1e-9, 6) AS t_stat,
               round(se2 * se2 / (a1 * a1 / (n1 - 1) + a2 * a2 / (n2 - 1))
                     + 1e-9, 2) AS df_welch
        FROM v
    """,
    description="Welch's unequal-variance two-sample t-test (purchase "
    "vs click mean value) from ONE conditional moment aggregate — "
    "n/Σx/Σx² per group partial-aggregate map-side, the t statistic "
    "and Welch-Satterthwaite df run on the 6-number summary. Same "
    "shared-explicit-moments discipline as grouped_ols / anova_f_test "
    "(identical expression tree on both engines, never engine-internal "
    "stddev whose association differs). Completes the parametric leg "
    "of the testing battery next to anova (k-group), chi-square "
    "(categorical) and ks_test (distribution-free)",
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    is1 = F.col("event_type") == "purchase"
    is2 = F.col("event_type") == "click"
    zero = F.lit(0.0)
    m = ev.agg(
        F.sum(F.when(is1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(is1, F.col("value")).otherwise(zero)).alias("s1"),
        F.sum(F.when(is1, F.col("value") * F.col("value")).otherwise(zero)).alias("q1"),
        F.sum(F.when(is2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(is2, F.col("value")).otherwise(zero)).alias("s2"),
        F.sum(F.when(is2, F.col("value") * F.col("value")).otherwise(zero)).alias("q2"),
    )
    a1 = (
        (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
    )
    a2 = (
        (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    mean_diff = F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    se2 = a1 + a2
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(mean_diff + F.lit(1e-9), 6).alias("mean_diff"),
        F.round(mean_diff / F.sqrt(se2) + F.lit(1e-9), 6).alias("t_stat"),
        F.round(
            se2 * se2 / (a1 * a1 / (F.col("n1") - 1) + a2 * a2 / (F.col("n2") - 1))
            + F.lit(1e-9),
            2,
        ).alias("df_welch"),
    )


@register(
    "mann_whitney_u",
    oracle="""
        WITH s AS (
            SELECT value AS v,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i1,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS i2
            FROM events WHERE event_type IN ('purchase', 'click')
        ), per_v AS (
            SELECT v, sum(i1) AS c1, sum(i2) AS c2, count(*) AS c
            FROM s GROUP BY v
        ), rk AS (
            SELECT c1, c2, c,
                   sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
                       AS below
            FROM per_v
        ), agg AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2,
                   sum(c1 * (below + (c + 1) / 2.0)) AS r1,
                   sum(CAST(c AS DOUBLE) * c * c - c) AS tie_term
            FROM rk
        )
        SELECT n1, n2,
               round(r1 - n1 * (n1 + 1) / 2.0 + 1e-9, 2) AS u_stat,
               round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                     / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                            * ((n1 + n2 + 1)
                               - tie_term / (CAST(n1 + n2 AS DOUBLE)
                                             * (n1 + n2 - 1))))
                     + 1e-9, 6) AS z_stat
        FROM agg
    """,
    description="Mann-Whitney U rank-sum test (purchase vs click), "
    "exact tie handling via midranks: the corpus collapses to "
    "per-distinct-value counts first (same distinct-first discipline "
    "as ks_test — the ordered cumulative is bounded by value "
    "cardinality, not volume), midranks come from the running count "
    "below each value, and the tie-corrected normal approximation "
    "z = (U - mu)/sigma_ties is computed from integer-exact rank "
    "sums. The nonparametric location test next to Welch's "
    "(parametric) and KS (full-distribution)",
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    per_v = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("c1"),
        F.sum((F.col("event_type") == "click").cast("int")).alias("c2"),
        F.count(F.lit(1)).alias("c"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rk = per_v.select(
        "c1",
        "c2",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("below"),
    )
    agg = rk.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (F.col("below") + (F.col("c") + 1) / 2.0)).alias("r1"),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_term"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    sigma = F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / 12.0
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("tie_term")
            / (
                (F.col("n1") + F.col("n2")).cast("double")
                * (F.col("n1") + F.col("n2") - 1)
            )
        )
    )
    return agg.select(
        "n1",
        "n2",
        F.round(u + F.lit(1e-9), 2).alias("u_stat"),
        F.round(
            (u - F.col("n1") * F.col("n2") / 2.0) / sigma + F.lit(1e-9), 6
        ).alias("z_stat"),
    )


@register(
    "wasserstein_1d",
    oracle="""
        WITH e AS (
            SELECT CAST(round(value, 2) AS DECIMAL(18,2)) AS v,
                   ('0x' || substr(md5('rm:' || user_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS grp
            FROM events WHERE value IS NOT NULL
        ), n AS (
            SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS na,
                   SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS nb
            FROM e
        ), c AS (
            SELECT v,
                   SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ca,
                   SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS cb
            FROM e GROUP BY v
        ), k AS (
            SELECT v,
                   SUM(ca) OVER (ORDER BY v) AS cuma,
                   SUM(cb) OVER (ORDER BY v) AS cumb,
                   LEAD(v) OVER (ORDER BY v) AS nxt
            FROM c
        ), s AS (
            SELECT SUM(abs(cuma * (SELECT nb FROM n)
                           - cumb * (SELECT na FROM n))
                       * (nxt - v)) AS w1_fixed
            FROM k WHERE nxt IS NOT NULL
        )
        SELECT CAST((SELECT na FROM n) AS BIGINT) AS n_a,
               CAST((SELECT nb FROM n) AS BIGINT) AS n_b,
               round(CAST(w1_fixed AS DOUBLE)
                     / ((SELECT na FROM n)::DOUBLE
                        * (SELECT nb FROM n)::DOUBLE) + 1e-9, 6) AS w1
        FROM s
    """,
    description="1-D Wasserstein (earth-mover) distance between the "
    "value distributions of two md5-coin user cohorts: integral of "
    "|F_a - F_b| over the value axis. Cross-engine exact by clearing "
    "denominators — |cum_a*n_b - cum_b*n_a| is an integer, the step "
    "width is a DECIMAL(18,2) difference, so W1*n_a*n_b accumulates "
    "exactly and the single final division is one IEEE op. One "
    "groupBy on the (bounded) distinct-value grid plus one ordered "
    "cumsum window — the drift metric that PSI/KS don't give "
    "(magnitude of the shift, not just its presence); complements "
    "ks_test/psi_drift",
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rm:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    e = ev.select(
        F.round("value", 2).cast("decimal(18,2)").alias("v"),
        grp.alias("grp"),
    )
    c = e.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("cb"),
    )
    c = tracked_persist(c)
    na = c.agg(F.sum("ca")).collect()[0][0]
    nb = c.agg(F.sum("cb")).collect()[0][0]
    w = Window.orderBy("v")
    k = c.select(
        "v",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.lead("v").over(w).alias("nxt"),
    )
    fixed = k.filter(F.col("nxt").isNotNull()).agg(
        F.sum(
            F.abs(F.col("cuma") * F.lit(nb) - F.col("cumb") * F.lit(na))
            * (F.col("nxt") - F.col("v"))
        ).alias("w1_fixed")
    )
    return fixed.select(
        F.lit(na).cast("bigint").alias("n_a"),
        F.lit(nb).cast("bigint").alias("n_b"),
        F.round(
            F.col("w1_fixed").cast("double")
            / (F.lit(float(na)) * F.lit(float(nb)))
            + F.lit(1e-9),
            6,
        ).alias("w1"),
    )


@register(
    "ips_policy_eval",
    oracle="""
        WITH log AS (
            SELECT event_id, user_id,
                   CAST(round(value, 2) AS DECIMAL(18,2)) AS r,
                   user_id % 2 AS bucket,
                   ('0x' || substr(md5('act:' || event_id::VARCHAR),
                                   1, 8))::BIGINT AS h
            FROM events WHERE value IS NOT NULL
        ), act AS (
            SELECT *,
                   CASE WHEN bucket = 0 THEN
                       CASE WHEN h < 2147483648 THEN 0
                            WHEN h < 3579139413 THEN 1 ELSE 2 END
                   ELSE
                       CASE WHEN h < 715827882 THEN 0
                            WHEN h < 2147483648 THEN 1 ELSE 2 END
                   END AS a,
                   user_id % 3 AS a_target
            FROM log
        ), wtd AS (
            SELECT *,
                   CASE WHEN bucket = 0 THEN
                       CASE a WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 6 END
                   ELSE
                       CASE a WHEN 0 THEN 6 WHEN 1 THEN 3 ELSE 2 END
                   END AS w
            FROM act
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN a = a_target THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               round(CAST(SUM(CASE WHEN a = a_target THEN w * r
                                   ELSE CAST(0 AS DECIMAL(18,2)) END)
                          AS DOUBLE) / COUNT(*) + 1e-9, 6) AS ips,
               round(CAST(SUM(CASE WHEN a = a_target THEN w * r
                                   ELSE CAST(0 AS DECIMAL(18,2)) END)
                          AS DOUBLE)
                     / CAST(SUM(CASE WHEN a = a_target THEN w ELSE 0 END)
                            AS DOUBLE) + 1e-9, 6) AS snips
        FROM wtd
    """,
    description="Off-policy evaluation of a target policy from logged "
    "bandit feedback: inverse-propensity scoring (IPS) and its "
    "self-normalized variant (SNIPS). The behavior policy draws one "
    "of 3 actions with per-user-bucket propensities {1/2,1/3,1/6}; "
    "the draw compares the raw 32-bit md5 integer against INTEGER "
    "cutoffs (floor(2^32 * p)) — no float ever enters the action "
    "assignment — and the IPS weights 1/p are the exact integers "
    "{2,3,6}, so the weighted reward sum accumulates in DECIMAL and "
    "the estimate is engine-exact. Counterfactual 'what would the "
    "new ranking policy have earned' readout, one scan + one agg; "
    "the standard caveat (IPS variance blows up when target and "
    "behavior policies diverge) is visible as n_matched",
)
def q_ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("act:"), F.col("event_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    bucket = F.col("user_id") % 2
    a = F.when(
        bucket == 0,
        F.when(h < 2147483648, 0).when(h < 3579139413, 1).otherwise(2),
    ).otherwise(
        F.when(h < 715827882, 0).when(h < 2147483648, 1).otherwise(2)
    )
    w = F.when(
        bucket == 0,
        F.when(a == 0, 2).when(a == 1, 3).otherwise(6),
    ).otherwise(F.when(a == 0, 6).when(a == 1, 3).otherwise(2))
    matched = a == (F.col("user_id") % 3)
    r = F.round("value", 2).cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    num = F.sum(F.when(matched, w * r).otherwise(zero))
    wsum = F.sum(F.when(matched, w).otherwise(0))
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(matched, 1).otherwise(0)).cast("bigint").alias(
            "n_matched"
        ),
        F.round(
            num.cast("double") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("ips"),
        F.round(
            num.cast("double") / wsum.cast("double") + F.lit(1e-9), 6
        ).alias("snips"),
    )


@register(
    "uplift_deciles",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   ('0x' || substr(md5('rm:' || user_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS grp,
                   ('0x' || substr(md5('score:' || user_id::VARCHAR),
                                   1, 8))::BIGINT AS score,
                   COALESCE(SUM(CAST(value AS DECIMAL(18,4))),
                            CAST(0 AS DECIMAL(18,4))) AS outcome
            FROM events GROUP BY 1, 2, 3
        ), d AS (
            SELECT *, NTILE(10) OVER (ORDER BY score DESC, user_id ASC)
                          AS decile
            FROM u
        ), g AS (
            SELECT decile,
                   SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_t,
                   SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_c,
                   SUM(CASE WHEN grp = 0 THEN outcome
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS y_t,
                   SUM(CASE WHEN grp = 1 THEN outcome
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS y_c
            FROM d GROUP BY decile
        )
        SELECT decile,
               CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
               CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                    ELSE round(CAST(y_t AS DOUBLE) / n_t
                               - CAST(y_c AS DOUBLE) / n_c + 1e-9, 6)
               END AS uplift,
               round(SUM(CAST(y_t AS DOUBLE)) OVER (ORDER BY decile)
                     - SUM(CASE WHEN n_c = 0 THEN 0.0
                               ELSE CAST(y_c AS DOUBLE)
                                    * (CAST(n_t AS DOUBLE) / n_c) END)
                           OVER (ORDER BY decile) + 1e-9, 4)
                   AS qini_cum
        FROM g
    """,
    description="Uplift-by-decile / Qini readout: users ranked by a "
    "deterministic targeting score (md5 stand-in with the real "
    "model's plan shape), cut into deciles via two-phase rank + the "
    "exact NTILE identity — score's top hash bits bucket the users, "
    "so the only user-cardinality window is PARTITIONED (no global "
    "sort; bit-identical to NTILE), per-decile incremental outcome "
    "treatment-minus-control and the cumulative Qini curve "
    "(treated outcome minus control outcome scaled by n_t/n_c). "
    "Outcomes accumulate in DECIMAL; the only doubles are per-decile "
    "divisions and the 10-term cumulative sum (rounded at 4dp — ten "
    "IEEE adds of identical doubles). The standard 'should we target "
    "the top 30%?' experiment readout; one user rollup + one "
    "10-row window",
)
def q_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def h(tag):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(tag + ":"), F.col("user_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    u = ev.groupBy(
        "user_id",
        (h("rm") % 2).alias("grp"),
        h("score").alias("score"),
    ).agg(
        F.coalesce(
            F.sum(F.col("value").cast("decimal(18,4)")),
            F.lit(0).cast("decimal(18,4)"),
        ).alias("outcome")
    )
    # NTILE without a global sort: score is a uniform 32-bit md5 value,
    # so its top 10 bits make a monotone bucket key (negated for the
    # descending order). two_phase_rank + the exact NTILE identity give
    # bit-identical deciles with only partitioned windows over users.
    ranked = R.two_phase_rank(
        u,
        [F.col("score").desc(), F.col("user_id").asc()],
        -F.shiftright(F.col("score"), 22),
        rank_name="_rnk",
        total_name="_n",
    )
    d = ranked.withColumn(
        "decile", R.ntile_from_rank(F.col("_rnk"), F.col("_n"), 10)
    ).drop("_rnk", "_n")
    zero = F.lit(0).cast("decimal(18,4)")
    g = d.groupBy("decile").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("grp") == 0, F.col("outcome")).otherwise(zero)).alias(
            "y_t"
        ),
        F.sum(F.when(F.col("grp") == 1, F.col("outcome")).otherwise(zero)).alias(
            "y_c"
        ),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    yt_d = F.col("y_t").cast("double")
    yc_d = F.col("y_c").cast("double")
    return g.select(
        "decile",
        F.col("n_t").cast("bigint").alias("n_t"),
        F.col("n_c").cast("bigint").alias("n_c"),
        F.when(
            (F.col("n_t") == 0) | (F.col("n_c") == 0), F.lit(None)
        )
        .otherwise(
            F.round(
                yt_d / F.col("n_t") - yc_d / F.col("n_c") + F.lit(1e-9), 6
            )
        )
        .alias("uplift"),
        F.round(
            F.sum(yt_d).over(wcum)
            - F.sum(
                F.when(F.col("n_c") == 0, F.lit(0.0)).otherwise(
                    yc_d * (F.col("n_t").cast("double") / F.col("n_c"))
                )
            ).over(wcum)
            + F.lit(1e-9),
            4,
        ).alias("qini_cum"),
    )


@register(
    "ab_srm_check",
    oracle="""
        WITH u AS (
            SELECT DISTINCT user_id,
                   ('0x' || substr(md5('rm:' || user_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS grp
            FROM events
        ), c AS (
            SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_b,
                   COUNT(*) AS n
            FROM u
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               round((CAST(2 * n_a - n AS DOUBLE)
                      * CAST(2 * n_a - n AS DOUBLE)
                      + CAST(2 * n_b - n AS DOUBLE)
                      * CAST(2 * n_b - n AS DOUBLE)) / (2.0 * n)
                     + 1e-9, 6) AS chi2,
               ((CAST(2 * n_a - n AS DOUBLE)
                 * CAST(2 * n_a - n AS DOUBLE)
                 + CAST(2 * n_b - n AS DOUBLE)
                 * CAST(2 * n_b - n AS DOUBLE)) / (2.0 * n))
                   > 10.828 AS srm_detected
        FROM c
    """,
    description="Sample-ratio-mismatch guardrail for the md5-coin A/B "
    "split: chi-square goodness-of-fit of observed arm sizes against "
    "the designed 50/50 — chi2 = ((n_a - n/2)^2 + (n_b - n/2)^2) "
    "/ (n/2), computed with cleared denominators ((2n_a - n)^2 terms "
    "stay integer) and flagged at the 0.001 level (10.828, 1df) — "
    "the first check every experiment readout must pass before any "
    "effect estimate is trusted (cuped/ratio/uplift all assume it). "
    "One distinct-user rollup to a single row",
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rm:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.select("user_id", grp.alias("grp")).distinct()
    c = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_b"),
        F.count(F.lit(1)).alias("n"),
    )
    da = (F.lit(2) * F.col("n_a") - F.col("n")).cast("double")
    db = (F.lit(2) * F.col("n_b") - F.col("n")).cast("double")
    chi2 = (da * da + db * db) / (F.lit(2.0) * F.col("n"))
    return c.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2"),
        (chi2 > 10.828).alias("srm_detected"),
    )


@register(
    "kruskal_wallis",
    oracle="""
        WITH per_vg AS (
            SELECT value AS v, event_type AS g, count(*) AS c
            FROM events GROUP BY 1, 2
        ), per_v AS (
            SELECT v, sum(c) AS cv FROM per_vg GROUP BY v
        ), ranked AS (
            SELECT v, cv,
                   sum(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cv
                       AS below
            FROM per_v
        ), per_g AS (
            SELECT g, sum(c) AS n_g,
                   sum(c * (below + (cv + 1) / 2.0)) AS r_g
            FROM per_vg JOIN ranked USING (v)
            GROUP BY g
        ), ties AS (
            SELECT sum(CAST(cv AS DOUBLE) * cv * cv - cv) AS tie_term
            FROM ranked
        ), agg AS (
            SELECT count(*) AS k, sum(n_g) AS n,
                   sum(r_g * r_g / n_g) AS rr
            FROM per_g
        )
        SELECT CAST(k AS BIGINT) AS n_groups,
               CAST(n AS BIGINT) AS n_total,
               CAST(k - 1 AS BIGINT) AS df,
               round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rr
                      - 3.0 * (n + 1))
                     / (1.0 - tie_term
                              / (CAST(n AS DOUBLE) * n * n - n))
                     + 1e-9, 6) AS h_stat
        FROM agg, ties
    """,
    description="Kruskal-Wallis rank-based k-sample test across all "
    "five event types: the k-group generalization of mann_whitney_u, "
    "same distinct-first midrank discipline (the ordered cumulative "
    "is bounded by VALUE CARDINALITY, not row volume), tie-corrected "
    "H = [12/(N(N+1)) * sum r_g^2/n_g - 3(N+1)] / [1 - sum(t^3-t)/"
    "(N^3-N)]. Rank sums stay integer-/half-exact in doubles (c and "
    "midranks are exact halves), so the one-row H is "
    "order-insensitive across engines",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_vg = ev.groupBy(
        F.col("value").alias("v"), F.col("event_type").alias("g")
    ).agg(F.count(F.lit(1)).alias("c"))
    per_v = per_vg.groupBy("v").agg(F.sum("c").alias("cv"))
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.select(
        "v", "cv", (F.sum("cv").over(w) - F.col("cv")).alias("below")
    )
    per_g = per_vg.join(ranked, "v").groupBy("g").agg(
        F.sum("c").alias("n_g"),
        F.sum(
            F.col("c") * (F.col("below") + (F.col("cv") + 1) / 2.0)
        ).alias("r_g"),
    )
    ties = ranked.agg(
        F.sum(
            F.col("cv").cast("double") * F.col("cv") * F.col("cv")
            - F.col("cv")
        ).alias("tie_term")
    )
    agg = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("rr"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    h = (F.lit(12.0) / (n * (n + 1)) * F.col("rr") - F.lit(3.0) * (n + 1)) / (
        F.lit(1.0) - F.col("tie_term") / (n * n * n - n)
    )
    return agg.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.round(h + F.lit(1e-9), 6).alias("h_stat"),
    )


_PERM_B = 200  # permutation resamples (bounded fan-out multiplier)


@register(
    "permutation_test",
    oracle=f"""
        WITH base AS (
            SELECT event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS is_p
            FROM events WHERE event_type IN ('purchase', 'click')
        ), obs AS (
            SELECT sum(CASE WHEN is_p = 1 THEN cents ELSE 0 END) AS s1,
                   sum(is_p) AS n1,
                   sum(CASE WHEN is_p = 0 THEN cents ELSE 0 END) AS s0,
                   sum(1 - is_p) AS n0
            FROM base
        ), expanded AS (
            SELECT cents, b.b,
                   ('0x' || substr(md5('perm:' || b.b::VARCHAR || ':'
                                        || event_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS coin
            FROM base, generate_series(1, {{B}}) AS b(b)
        ), perms AS (
            SELECT b,
                   sum(CASE WHEN coin = 1 THEN cents ELSE 0 END) AS ps1,
                   sum(CASE WHEN coin = 1 THEN 1 ELSE 0 END) AS pn1,
                   sum(CASE WHEN coin = 0 THEN cents ELSE 0 END) AS ps0,
                   sum(CASE WHEN coin = 0 THEN 1 ELSE 0 END) AS pn0
            FROM expanded GROUP BY b
        ), verdicts AS (
            SELECT sum(CASE WHEN abs(CAST(ps1 * pn0 - ps0 * pn1
                                          AS HUGEINT))
                                 * CAST((SELECT n1 * n0 FROM obs)
                                        AS HUGEINT)
                             >= abs(CAST((SELECT s1 * n0 - s0 * n1
                                          FROM obs) AS HUGEINT))
                                 * CAST(pn1 * pn0 AS HUGEINT)
                            THEN 1 ELSE 0 END) AS n_extreme
            FROM perms WHERE pn1 > 0 AND pn0 > 0
        )
        SELECT CAST(n1 + n0 AS BIGINT) AS n_events,
               CAST({{B}} AS BIGINT) AS n_perms,
               round((CAST(s1 AS DOUBLE) / n1
                      - CAST(s0 AS DOUBLE) / n0) / 100.0 + 1e-9, 6)
                   AS obs_diff,
               CAST(n_extreme AS BIGINT) AS n_extreme,
               round((1.0 + n_extreme) / ({{B}} + 1.0) + 1e-9, 6)
                   AS p_value
        FROM obs, verdicts
    """.replace("{B}", str(_PERM_B)),
    description="Two-sample permutation test (purchase vs click mean "
    f"value): {_PERM_B} md5-seeded label reassignments, each a "
    "conditional-sum re-aggregation — the expansion is a bounded "
    "B-fold explode with full map-side combine (B rows out per "
    "partition), never a global sort. The extreme-count decision "
    "|diff_b| >= |diff_obs| is INTEGER-EXACT: means on integer cents "
    "compared via cross-multiplication in 128-bit arithmetic "
    "(decimal(38,0) on Spark, HUGEINT in DuckDB), so the p-value has "
    "no float-membership edge at all. Complements bootstrap_ci "
    "(resampling CI) with a sharp-null significance test",
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the x B explode makes this scan compute-heavy (B md5s per input
    # row): redistribute a single-row-group fixture scan first or the
    # whole B*N md5 pass serializes on ONE core (profiled 9.2 s in one
    # task at sf0.1; bootstrap_ci's discipline) — no-op when the source
    # already has >= defaultParallelism splits (guide §2.5 input skew)
    ev = spread(
        _t(spark, sf_dir, "events").filter(
            F.col("event_type").isin("purchase", "click")
        )
    )
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("is_p") == 1, F.col("cents")).otherwise(0)).alias("s1"),
        F.sum("is_p").alias("n1"),
        F.sum(F.when(F.col("is_p") == 0, F.col("cents")).otherwise(0)).alias("s0"),
        F.sum(1 - F.col("is_p")).alias("n0"),
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    perms = (
        base.select(
            "event_id",
            "cents",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
        )
        .select("cents", F.col("b"), coin.alias("coin"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("coin") == 1, F.col("cents")).otherwise(0)).alias(
                "ps1"
            ),
            F.sum(F.when(F.col("coin") == 1, 1).otherwise(0)).alias("pn1"),
            F.sum(F.when(F.col("coin") == 0, F.col("cents")).otherwise(0)).alias(
                "ps0"
            ),
            F.sum(F.when(F.col("coin") == 0, 1).otherwise(0)).alias("pn0"),
        )
        .filter((F.col("pn1") > 0) & (F.col("pn0") > 0))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = perms.crossJoin(F.broadcast(obs))
    # cast each OPERAND before multiplying (ADVICE r8): the oracle's
    # sum(BIGINT) is already HUGEINT (int128), so the products must be
    # formed in decimal space too — long*long would silently wrap at
    # crawl scale before the post-hoc cast could save it
    extreme = (
        F.abs(
            dec(F.col("ps1")) * dec(F.col("pn0"))
            - dec(F.col("ps0")) * dec(F.col("pn1"))
        )
        * (dec(F.col("n1")) * dec(F.col("n0")))
        >= F.abs(
            dec(F.col("s1")) * dec(F.col("n0"))
            - dec(F.col("s0")) * dec(F.col("n1"))
        )
        * (dec(F.col("pn1")) * dec(F.col("pn0")))
    ).cast("int")
    res = j.groupBy("s1", "n1", "s0", "n0").agg(
        F.sum(extreme).alias("n_extreme")
    )
    return res.select(
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_events"),
        F.lit(_PERM_B).cast("bigint").alias("n_perms"),
        F.round(
            (
                F.col("s1").cast("double") / F.col("n1")
                - F.col("s0").cast("double") / F.col("n0")
            )
            / 100.0
            + F.lit(1e-9),
            6,
        ).alias("obs_diff"),
        F.col("n_extreme").cast("bigint").alias("n_extreme"),
        F.round(
            (F.lit(1.0) + F.col("n_extreme")) / (F.lit(_PERM_B) + 1.0)
            + F.lit(1e-9),
            6,
        ).alias("p_value"),
    )


@register(
    "decision_stump",
    oracle="""
        WITH per_v AS (
            SELECT value AS v, count(*) AS c,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) AS pos
            FROM events GROUP BY value
        ), cum AS (
            SELECT v,
                   sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                       AS nl,
                   sum(pos) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                       AS pl,
                   sum(c) OVER () AS n,
                   sum(pos) OVER () AS p
            FROM per_v
        ), scored AS (
            SELECT v, nl, n - nl AS nr, pl, p - pl AS pr,
                   (CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
                    / nl)
                   + (CAST((p - pl) * (p - pl)
                           + ((n - nl) - (p - pl))
                             * ((n - nl) - (p - pl)) AS DOUBLE)
                      / (n - nl)) AS h,
                   n
            FROM cum WHERE nl < n
        )
        SELECT round(v, 6) AS split_value,
               CAST(nl AS BIGINT) AS n_left,
               CAST(nr AS BIGINT) AS n_right,
               CAST(pl AS BIGINT) AS pos_left,
               CAST(pr AS BIGINT) AS pos_right,
               round((n - h) / n + 1e-9, 6) AS weighted_gini
        FROM scored
        ORDER BY h DESC, v
        LIMIT 1
    """,
    description="Single-feature decision stump: the best threshold "
    "split of value predicting event_type='purchase' by weighted "
    "Gini impurity. Distinct-first cumulative counts (one window over "
    "VALUE CARDINALITY, never row volume) give every candidate "
    "split's left/right class counts in one pass; minimizing weighted "
    "Gini = maximizing h = (pl^2+ql^2)/nl + (pr^2+qr^2)/nr, computed "
    "as one double division per side from EXACT integer squares, so "
    "the argmax (tie-break: lowest threshold) is bit-identical across "
    "engines. The greedy-tree / GBDT split-finding primitive as a "
    "relational plan",
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_v = ev.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("pos"),
    )
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_v.select(
        "v",
        F.sum("c").over(wc).alias("nl"),
        F.sum("pos").over(wc).alias("pl"),
        F.sum("c").over(wall).alias("n"),
        F.sum("pos").over(wall).alias("p"),
    ).filter(F.col("nl") < F.col("n"))
    nr = F.col("n") - F.col("nl")
    pr = F.col("p") - F.col("pl")
    ql = F.col("nl") - F.col("pl")
    qr = nr - pr
    h = (
        (F.col("pl") * F.col("pl") + ql * ql).cast("double") / F.col("nl")
    ) + ((pr * pr + qr * qr).cast("double") / nr)
    scored = cum.select(
        "v", "nl", nr.alias("nr"), "pl", pr.alias("pr"), h.alias("h"), "n"
    )
    return (
        scored.orderBy(F.desc("h"), F.asc("v"))
        .limit(1)
        .select(
            F.round(F.col("v"), 6).alias("split_value"),
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
            F.col("pl").cast("bigint").alias("pos_left"),
            F.col("pr").cast("bigint").alias("pos_right"),
            F.round(
                (F.col("n") - F.col("h")) / F.col("n") + F.lit(1e-9), 6
            ).alias("weighted_gini"),
        )
    )


@register(
    "woe_iv_binning",
    oracle="""
        WITH per_v AS (
            SELECT value AS v,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) AS g,
                   sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1
                       END) AS b
            FROM events GROUP BY value
        ), binned AS (
            SELECT ntile(10) OVER (ORDER BY v) AS bin, v, g, b
            FROM per_v
        ), per_bin AS (
            SELECT bin, min(v) AS v_lo, max(v) AS v_hi,
                   sum(g + b) AS n, sum(g) AS n_good, sum(b) AS n_bad
            FROM binned GROUP BY bin
        ), tot AS (
            SELECT sum(n_good) AS gt, sum(n_bad) AS bt FROM per_bin
        )
        SELECT bin,
               round(v_lo, 6) AS v_lo, round(v_hi, 6) AS v_hi,
               CAST(n AS BIGINT) AS n,
               CAST(n_good AS BIGINT) AS n_good,
               CAST(n_bad AS BIGINT) AS n_bad,
               round(ln(((n_good + 0.5) / (gt + 5.0))
                        / ((n_bad + 0.5) / (bt + 5.0))) + 1e-9, 6)
                   AS woe,
               round(((n_good + 0.5) / (gt + 5.0)
                      - (n_bad + 0.5) / (bt + 5.0))
                     * ln(((n_good + 0.5) / (gt + 5.0))
                          / ((n_bad + 0.5) / (bt + 5.0))) + 1e-9, 6)
                   AS iv
        FROM per_bin, tot
    """,
    description="Weight-of-evidence / information-value binning of "
    "value against the purchase target: distinct values dealt into 10 "
    "equi-cardinality bins (ntile over the bounded distinct-value "
    "set, identical dealing rule in both engines), Laplace-smoothed "
    "(+0.5 per bin, +k/2 per total) so empty classes stay finite. "
    "WOE = ln(dist_good/dist_bad) per bin, IV its "
    "population-difference weighting — the credit-scoring / feature-"
    "screening primitive; doubles derive from exact integer counts "
    "via a mirrored expression tree",
)
def q_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_v = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("g"),
        F.sum((F.col("event_type") != "purchase").cast("int")).alias("b"),
    )
    binned = per_v.select(
        F.ntile(10).over(Window.orderBy("v")).alias("bin"), "v", "g", "b"
    )
    per_bin = binned.groupBy("bin").agg(
        F.min("v").alias("v_lo"),
        F.max("v").alias("v_hi"),
        F.sum(F.col("g") + F.col("b")).alias("n"),
        F.sum("g").alias("n_good"),
        F.sum("b").alias("n_bad"),
    )
    tot = per_bin.agg(
        F.sum("n_good").alias("gt"), F.sum("n_bad").alias("bt")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    dg = (F.col("n_good") + 0.5) / (F.col("gt") + 5.0)
    db = (F.col("n_bad") + 0.5) / (F.col("bt") + 5.0)
    return j.select(
        "bin",
        F.round(F.col("v_lo"), 6).alias("v_lo"),
        F.round(F.col("v_hi"), 6).alias("v_hi"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_good").cast("bigint").alias("n_good"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.round(F.log(dg / db) + F.lit(1e-9), 6).alias("woe"),
        F.round((dg - db) * F.log(dg / db) + F.lit(1e-9), 6).alias("iv"),
    )


@register(
    "friedman_test",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d, event_type AS g,
                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2
        ), ranked AS (
            SELECT d, g, cents,
                   rank() OVER (PARTITION BY d ORDER BY cents) AS rk,
                   count(*) OVER (PARTITION BY d, cents) AS t
            FROM daily
        ), mid AS (
            SELECT d, g, rk + (t - 1) / 2.0 AS midrank, t FROM ranked
        ), per_g AS (
            SELECT g, sum(midrank) AS r_g, count(*) AS n_b FROM mid
            GROUP BY g
        ), ties AS (
            SELECT sum(CAST(t AS DOUBLE) * t * t - t) AS tsum
            FROM (SELECT DISTINCT d, cents, t FROM ranked)
        ), dims AS (
            SELECT count(DISTINCT d) AS n, count(DISTINCT g) AS k
            FROM daily
        )
        SELECT CAST(n AS BIGINT) AS n_blocks,
               CAST(k AS BIGINT) AS k_treatments,
               CAST(k - 1 AS BIGINT) AS df,
               round((12.0 / (CAST(n AS DOUBLE) * k * (k + 1))
                      * (SELECT sum(r_g * r_g) FROM per_g)
                      - 3.0 * n * (k + 1))
                     / (1.0 - (SELECT tsum FROM ties)
                              / (CAST(n AS DOUBLE) * k * (k * k - 1)))
                     + 1e-9, 6) AS chi2
        FROM dims
    """,
    description="Friedman rank test for k related samples: blocks = "
    "days, treatments = the five event types, response = daily value "
    "total on integer cents. Within-block midranks (rank + (ties-1)/2 "
    "over k=5 rows per block — the window partition is bounded by the "
    "block, never volume), tie-corrected chi2 = [12/(nk(k+1)) "
    "sum R_j^2 - 3n(k+1)] / [1 - sum(t^3-t)/(nk(k^2-1))]. The "
    "repeated-measures complement to kruskal_wallis (independent "
    "samples): did any event type systematically out-rank the others "
    "across days? One day-cardinality rollup feeds everything",
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.col("event_type").alias("g"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    wd = Window.partitionBy("d").orderBy("cents")
    wt = Window.partitionBy("d", "cents")
    ranked = daily.select(
        "d",
        "g",
        "cents",
        F.rank().over(wd).alias("rk"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    mid = ranked.select(
        "d", "g", (F.col("rk") + (F.col("t") - 1) / 2.0).alias("midrank")
    )
    per_g = mid.groupBy("g").agg(F.sum("midrank").alias("r_g"))
    rr = per_g.agg(F.sum(F.col("r_g") * F.col("r_g")).alias("rr2"))
    ties = (
        ranked.select("d", "cents", "t")
        .distinct()
        .agg(
            F.sum(
                F.col("t").cast("double") * F.col("t") * F.col("t")
                - F.col("t")
            ).alias("tsum")
        )
    )
    dims = daily.agg(
        F.countDistinct("d").alias("n"), F.countDistinct("g").alias("k")
    )
    j = dims.crossJoin(F.broadcast(rr)).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    chi2 = (
        F.lit(12.0) / (n * k * (k + 1)) * F.col("rr2") - F.lit(3.0) * n * (k + 1)
    ) / (F.lit(1.0) - F.col("tsum") / (n * k * (k * k - 1)))
    return j.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("bigint").alias("k_treatments"),
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2"),
    )


_ADA_ROUNDS = 3


def _ada_oracle(T: int = _ADA_ROUNDS) -> str:
    """Unrolled AdaBoost oracle: T rounds of weighted-stump selection.

    Every aggregate that feeds a decision is order-deterministic:
    per-(v,y) cell weights are PRODUCTS (all rows sharing a cell carry
    the same weight), cumulative sums run over the ordered distinct-v
    axis, and totals are max() of the monotone cumulative — never an
    unordered float sum. Weight updates multiply by u = sqrt((1-e)/e)
    (sqrt is correctly rounded IEEE, unlike exp/ln), and the ensemble
    sign test is the product form prod u_s^(h_s) > 1, so no
    transcendental enters any branch. AS MATERIALIZED throughout (the
    DuckDB exponential-inlining lesson, BASELINE.md)."""
    parts = [
        """WITH cells0 AS MATERIALIZED (
            SELECT value AS v,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END
                       AS y,
                   CAST(count(*) AS DOUBLE) AS cnt, 1.0 AS w
            FROM events GROUP BY 1, 2
        )"""
    ]
    for t in range(1, T + 1):
        p = t - 1
        parts.append(f"""pv{t} AS MATERIALIZED (
            SELECT v,
                   sum(CASE WHEN y = 1 THEN w * cnt ELSE 0 END) AS wp,
                   sum(CASE WHEN y = -1 THEN w * cnt ELSE 0 END) AS wn
            FROM cells{p} GROUP BY v
        )""")
        parts.append(f"""sc{t} AS MATERIALIZED (
            SELECT v,
                   sum(wp) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                       AS wpl,
                   sum(wn) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                       AS wnl
            FROM pv{t}
        )""")
        parts.append(f"""tot{t} AS MATERIALIZED (
            SELECT max(wpl) AS wpt, max(wnl) AS wnt FROM sc{t}
        )""")
        parts.append(f"""best{t} AS MATERIALIZED (
            SELECT th, pol, eps, sqrt((1 - eps) / eps) AS u FROM (
                SELECT v AS th, pol, err,
                       least(greatest(err / (wpt + wnt), 1e-12),
                             1 - 1e-12) AS eps
                FROM (
                    SELECT s.v, u.pol,
                           CASE WHEN u.pol = 1
                                THEN s.wnl + (t.wpt - s.wpl)
                                ELSE s.wpl + (t.wnt - s.wnl) END AS err,
                           t.wpt, t.wnt
                    FROM sc{t} s, tot{t} t,
                         (SELECT 1 AS pol UNION ALL SELECT -1) u
                )
                ORDER BY err, v, pol DESC LIMIT 1
            )
        )""")
        mis = (
            f"(CASE WHEN c.v <= b.th THEN b.pol ELSE -b.pol END) <> c.y"
        )
        parts.append(f"""cells{t} AS MATERIALIZED (
            SELECT c.v, c.y, c.cnt,
                   CASE WHEN {mis} THEN c.w * b.u ELSE c.w / b.u END AS w
            FROM cells{p} c, best{t} b
        )""")
        prod = " * ".join(
            f"(CASE WHEN (CASE WHEN c.v <= b{s}.th THEN b{s}.pol "
            f"ELSE -b{s}.pol END) = 1 THEN b{s}.u ELSE 1 / b{s}.u END)"
            for s in range(1, t + 1)
        )
        froms = ", ".join(f"best{s} b{s}" for s in range(1, t + 1))
        parts.append(f"""ens{t} AS MATERIALIZED (
            SELECT sum(CASE WHEN (CASE WHEN {prod} > 1 THEN 1 ELSE -1
                                  END) <> c.y
                            THEN c.cnt ELSE 0 END) / sum(c.cnt) AS terr
            FROM cells0 c, {froms}
        )""")
    selects = [
        f"""SELECT {t} AS round, round(th, 6) AS threshold,
               CAST(pol AS BIGINT) AS polarity,
               round(eps + 1e-9, 6) AS eps,
               round(0.5 * ln((1 - eps) / eps) + 1e-9, 6) AS alpha,
               round((SELECT terr FROM ens{t}) + 1e-9, 6) AS train_err
        FROM best{t}"""
        for t in range(1, T + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "adaboost_stumps",
    oracle=_ada_oracle(),
    description=f"AdaBoost.M1 over decision stumps ({_ADA_ROUNDS} "
    "rounds) as pure relational algebra — the boosted-ensemble "
    "training loop on DataFrames: per round, the weighted best "
    "(threshold, polarity) stump comes from ONE cumulative pass over "
    "the distinct-value axis (decision_stump's discipline, now "
    "weighted), then cell weights multiply by u=sqrt((1-e)/e). "
    "Determinism is engineered end to end: rows sharing (value, "
    "class) always carry the SAME weight, so cell masses are "
    "products not sums; cumulative/total weights ride the ordered "
    "window (totals = max of the monotone cumulative); updates use "
    "sqrt (correctly rounded) never exp/ln; the ensemble sign test "
    "is the product form prod u^h > 1. Driver loop state per round "
    "is ONE collected row (BPE-loop precedent); the oracle unrolls "
    "all rounds into MATERIALIZED CTEs. Emits per-round threshold/"
    "polarity/eps/alpha and the ensemble training-error curve",
)
def q_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = _t(spark, sf_dir, "events")
    # r11 (guide §5/§2.4): lazy localCheckpoints instead of a persist
    # chain — the per-round argmax collect is the first action touching
    # each round's cell table and materializes it en route, so there is
    # no cache-build race between AQE's concurrently materializing
    # stages (the old persist chain profiled ~48 s of duplicated task
    # time at sf0.1) and no extra checkpoint job. The round totals
    # (wpt/wnt) ride the SAME single-partition ordered window as the
    # cumulative sums (max over the monotone cumulative — exact), so
    # the broadcast scalar-subquery stage per round is gone too.
    cells = (
        ev.groupBy(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(-1)
            .alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .withColumn("w", F.lit(1.0))
        .localCheckpoint(eager=False)
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rounds = []
    prev = cells
    superseded = None
    for t in range(1, _ADA_ROUNDS + 1):
        pv = prev.groupBy("v").agg(
            F.sum(
                F.when(F.col("y") == 1, F.col("w") * F.col("cnt")).otherwise(
                    0.0
                )
            ).alias("wp"),
            F.sum(
                F.when(F.col("y") == -1, F.col("w") * F.col("cnt")).otherwise(
                    0.0
                )
            ).alias("wn"),
        )
        sc = pv.select(
            "v",
            F.sum("wp").over(wcum).alias("wpl"),
            F.sum("wn").over(wcum).alias("wnl"),
        ).select(
            "v",
            "wpl",
            "wnl",
            F.max("wpl").over(wall).alias("wpt"),
            F.max("wnl").over(wall).alias("wnt"),
        )
        cand = (
            sc.select(
                "v",
                "wpl",
                "wnl",
                "wpt",
                "wnt",
                F.explode(F.array(F.lit(1), F.lit(-1))).alias("pol"),
            ).select(
                "v",
                "pol",
                F.when(
                    F.col("pol") == 1,
                    F.col("wnl") + (F.col("wpt") - F.col("wpl")),
                )
                .otherwise(F.col("wpl") + (F.col("wnt") - F.col("wnl")))
                .alias("err"),
                (F.col("wpt") + F.col("wnt")).alias("wtot"),
            )
        )
        best = (
            cand.orderBy(F.asc("err"), F.asc("v"), F.desc("pol"))
            .limit(1)
            .collect()[0]
        )
        # the collect above materialized prev's lazy checkpoint — the
        # round before it is now fully superseded (never cells itself:
        # the ensemble curve below re-reads the base cell table)
        if superseded is not None:
            release_checkpoint(superseded)
            superseded = None
        eps = min(max(best["err"] / best["wtot"], 1e-12), 1 - 1e-12)
        u = math.sqrt((1 - eps) / eps)
        rounds.append((t, best["v"], best["pol"], eps, u))
        if t == _ADA_ROUNDS:
            break  # the re-weighted table would never be read
        pred = F.when(F.col("v") <= F.lit(best["v"]), F.lit(best["pol"])).otherwise(
            F.lit(-best["pol"])
        )
        if prev is not cells:
            superseded = prev
        prev = prev.withColumn(
            "w",
            F.when(pred != F.col("y"), F.col("w") * u).otherwise(
                F.col("w") / u
            ),
        ).localCheckpoint(eager=False)
    if prev is not cells:
        # the last round's re-weighted table is materialized but never
        # read again (the curve below scans the BASE cells) — free it
        release_checkpoint(prev)
    # ensemble training-error curve from the base cells + collected
    # round scalars (product-form sign test — no transcendental)
    out_rows = []
    for t, th, pol, eps, u in rounds:
        prod = F.lit(1.0)
        for s, th_s, pol_s, _e, u_s in rounds[:t]:
            pred_s = F.when(
                F.col("v") <= F.lit(th_s), F.lit(pol_s)
            ).otherwise(F.lit(-pol_s))
            prod = prod * F.when(pred_s == 1, F.lit(u_s)).otherwise(
                F.lit(1.0 / u_s)
            )
        ens = cells.select(
            "y",
            "cnt",
            F.when(prod > 1, F.lit(1)).otherwise(F.lit(-1)).alias("pred"),
        ).agg(
            (
                F.sum(
                    F.when(F.col("pred") != F.col("y"), F.col("cnt")).otherwise(
                        0.0
                    )
                )
                / F.sum("cnt")
            ).alias("terr")
        )
        out_rows.append(
            ens.select(
                F.lit(t).alias("round"),
                F.round(F.lit(th), 6).alias("threshold"),
                F.lit(pol).cast("bigint").alias("polarity"),
                F.round(F.lit(eps) + F.lit(1e-9), 6).alias("eps"),
                F.round(
                    F.lit(0.5 * math.log((1 - eps) / eps)) + F.lit(1e-9), 6
                ).alias("alpha"),
                F.round(F.col("terr") + F.lit(1e-9), 6).alias("train_err"),
            )
        )
    res = out_rows[0]
    for df in out_rows[1:]:
        res = res.unionAll(df)
    return res


@register(
    "diff_in_diff",
    oracle="""
        WITH base AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS c,
                   ('0x' || substr(md5('rm:' || user_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS grp,
                   CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1
                        ELSE 0 END AS post
            FROM events
        ), cellagg AS (
            SELECT grp, post, count(*) AS n, sum(c) AS s,
                   sum(c * c) AS s2
            FROM base GROUP BY grp, post
        ), m AS (
            SELECT grp, post, CAST(s AS DOUBLE) / n AS mean,
                   (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                       / (n - 1) / n AS mvar,
                   n
            FROM cellagg
        )
        SELECT CAST((SELECT sum(n) FROM m) AS BIGINT) AS n_events,
               round(((SELECT mean FROM m WHERE grp = 1 AND post = 1)
                      - (SELECT mean FROM m WHERE grp = 1 AND post = 0)
                      - (SELECT mean FROM m WHERE grp = 0 AND post = 1)
                      + (SELECT mean FROM m WHERE grp = 0 AND post = 0))
                     / 100.0 + 1e-9, 6) AS did,
               round(sqrt((SELECT sum(mvar) FROM m)) / 100.0 + 1e-9, 6)
                   AS se,
               round(((SELECT mean FROM m WHERE grp = 1 AND post = 1)
                      - (SELECT mean FROM m WHERE grp = 1 AND post = 0)
                      - (SELECT mean FROM m WHERE grp = 0 AND post = 1)
                      + (SELECT mean FROM m WHERE grp = 0 AND post = 0))
                     / sqrt((SELECT sum(mvar) FROM m)) + 1e-9, 6)
                   AS t_stat
    """,
    description="Difference-in-differences on the md5-coin cohorts "
    "around the mid-month cut (2024-01-16): the 2x2 panel estimator "
    "(treat-post - treat-pre) - (control-post - control-pre) with "
    "Welch-style SE from the four cell variances — the causal readout "
    "when assignment isn't randomized at the metric's grain "
    "(complements cuped_adjustment and stratified_ate). All four "
    "cell means/variances derive from integer-cents sums and sums of "
    "squares (one map-side-combinable 4-cell agg over the scan), so "
    "the estimate is order-insensitive across engines",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rm:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    base = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        grp.alias("grp"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
        .cast("int")
        .alias("post"),
    )
    cells = base.groupBy("grp", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    m = cells.select(
        "grp",
        "post",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("mvar"),
        "n",
    )
    # four scalars via conditional one-row agg (no pivot dance)
    agg = m.agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum(
            F.when((F.col("grp") == 1) & (F.col("post") == 1), F.col("mean"))
        ).alias("t1"),
        F.sum(
            F.when((F.col("grp") == 1) & (F.col("post") == 0), F.col("mean"))
        ).alias("t0"),
        F.sum(
            F.when((F.col("grp") == 0) & (F.col("post") == 1), F.col("mean"))
        ).alias("c1"),
        F.sum(
            F.when((F.col("grp") == 0) & (F.col("post") == 0), F.col("mean"))
        ).alias("c0"),
        F.sum("mvar").alias("v"),
    )
    did = F.col("t1") - F.col("t0") - F.col("c1") + F.col("c0")
    return agg.select(
        "n_events",
        F.round(did / 100.0 + F.lit(1e-9), 6).alias("did"),
        F.round(F.sqrt(F.col("v")) / 100.0 + F.lit(1e-9), 6).alias("se"),
        F.round(did / F.sqrt(F.col("v")) + F.lit(1e-9), 6).alias("t_stat"),
    )


_COX_STEPS = 3


def _cox_oracle(steps: int = _COX_STEPS) -> str:
    """Unrolled Newton iterations for the binary-covariate Cox partial
    likelihood (Breslow ties). Risk-set counts are reverse cumulative
    sums over the ordered distinct-duration axis (deterministic);
    each iteration is a one-row aggregate with the previous beta as a
    scalar subquery. AS MATERIALIZED per the DuckDB inlining lesson."""
    parts = [
        """WITH users AS MATERIALIZED (
            SELECT user_id,
                   ('0x' || substr(md5('rm:' || user_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS x,
                   date_diff('second', min(ts),
                             coalesce(min(CASE WHEN event_type =
                                          'purchase' THEN ts END),
                                      max(ts))) AS t,
                   CASE WHEN min(CASE WHEN event_type = 'purchase'
                                 THEN ts END) IS NOT NULL
                        THEN 1 ELSE 0 END AS d
            FROM events GROUP BY user_id
        ), per_t AS MATERIALIZED (
            SELECT t,
                   sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS c0,
                   sum(CASE WHEN x = 1 THEN 1 ELSE 0 END) AS c1,
                   sum(d) AS dt,
                   sum(d * x) AS d1
            FROM users GROUP BY t
        ), risk AS MATERIALIZED (
            SELECT t, dt, d1,
                   sum(c0) OVER (ORDER BY t DESC
                                 ROWS UNBOUNDED PRECEDING) AS n0,
                   sum(c1) OVER (ORDER BY t DESC
                                 ROWS UNBOUNDED PRECEDING) AS n1
            FROM per_t
        ), b0 AS MATERIALIZED (SELECT 0.0 AS beta)"""
    ]
    for s in range(1, steps + 1):
        parts.append(f"""b{s} AS MATERIALIZED (
            SELECT beta + u / i AS beta FROM (
                SELECT (SELECT beta FROM b{s - 1}) AS beta,
                       sum(d1 - dt * (n1 * exp((SELECT beta FROM b{s - 1})))
                                / (n0 + n1 * exp((SELECT beta FROM b{s - 1}))))
                           AS u,
                       sum(dt * (n1 * exp((SELECT beta FROM b{s - 1}))
                                 / (n0 + n1 * exp((SELECT beta
                                                   FROM b{s - 1}))))
                              * (1 - n1 * exp((SELECT beta FROM b{s - 1}))
                                     / (n0 + n1 * exp((SELECT beta
                                                       FROM b{s - 1})))))
                           AS i
                FROM risk WHERE dt > 0
            )
        )""")
    last = f"b{steps}"
    return (
        ",\n".join(parts)
        + f"""
        SELECT CAST((SELECT count(*) FROM users) AS BIGINT) AS n_users,
               CAST((SELECT sum(d) FROM users) AS BIGINT) AS n_events,
               round((SELECT beta FROM {last}) + 1e-9, 6) AS beta,
               round(exp((SELECT beta FROM {last})) + 1e-9, 4)
                   AS hazard_ratio,
               round(1 / sqrt((
                   SELECT sum(dt * (n1 * exp((SELECT beta FROM {last}))
                              / (n0 + n1 * exp((SELECT beta FROM {last}))))
                           * (1 - n1 * exp((SELECT beta FROM {last}))
                              / (n0 + n1 * exp((SELECT beta FROM {last})))))
                   FROM risk WHERE dt > 0)) + 1e-9, 6) AS se
    """
    )


@register(
    "cox_regression",
    oracle=_cox_oracle(),
    description="Cox proportional-hazards regression (binary "
    f"md5-cohort covariate, Breslow ties, {_COX_STEPS} Newton steps) "
    "on time from each user's first event to first purchase "
    "(censored at last event): the survival-regression complement to "
    "survival_km's nonparametric curve — does the treated cohort "
    "purchase FASTER, as a hazard ratio with standard error? "
    "Risk-set counts are reverse cumulative sums over the ordered "
    "distinct-duration axis (one user-grain rollup, then everything "
    "is duration-cardinality bounded); for a binary covariate the "
    "partial-likelihood score needs only (n0, n1, d, d1) per event "
    "time, so each Newton step is ONE one-row aggregate with the "
    "previous beta as a collected scalar (BPE-loop discipline). "
    "Oracle unrolls the steps into MATERIALIZED CTEs",
)
def q_cox_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = _t(spark, sf_dir, "events")
    x = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rm:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    pts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    )
    users = ev.groupBy("user_id").agg(
        F.first(x).alias("x"),
        (
            F.unix_timestamp(F.coalesce(pts, F.max("ts")))
            - F.unix_timestamp(F.min("ts"))
        ).alias("t"),
        pts.isNotNull().cast("int").alias("d"),
    )
    per_t = users.groupBy("t").agg(
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("x") == 1, 1).otherwise(0)).alias("c1"),
        F.sum("d").alias("dt"),
        F.sum(F.col("d") * F.col("x")).alias("d1"),
    )
    wrev = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tracked_persist(
        per_t.select(
            "t",
            "dt",
            "d1",
            F.sum("c0").over(wrev).alias("n0"),
            F.sum("c1").over(wrev).alias("n1"),
        ).filter(F.col("dt") > 0)
    )
    beta = 0.0
    for _s in range(_COX_STEPS):
        eb = math.exp(beta)
        p = (F.col("n1") * eb) / (F.col("n0") + F.col("n1") * eb)
        row = risk.agg(
            F.sum(F.col("d1") - F.col("dt") * p).alias("u"),
            F.sum(F.col("dt") * p * (1 - p)).alias("i"),
        ).collect()[0]
        beta = beta + row["u"] / row["i"]
    eb = math.exp(beta)
    p = (F.col("n1") * eb) / (F.col("n0") + F.col("n1") * eb)
    info = risk.agg(F.sum(F.col("dt") * p * (1 - p)).alias("i"))
    totals = users.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("d").cast("bigint").alias("n_events"),
    )
    return totals.crossJoin(F.broadcast(info)).select(
        "n_users",
        "n_events",
        F.round(F.lit(beta) + F.lit(1e-9), 6).alias("beta"),
        F.round(F.lit(math.exp(beta)) + F.lit(1e-9), 4).alias("hazard_ratio"),
        F.round(1 / F.sqrt(F.col("i")) + F.lit(1e-9), 6).alias("se"),
    )


_PLATT_STEPS = 3


def _platt_oracle(steps: int = _PLATT_STEPS) -> str:
    """Unrolled 2-parameter logistic-regression Newton solve: per
    step, the five sufficient sums over the distinct-value cells and
    a closed-form 2x2 solve, previous (a,b) as scalar subqueries."""
    parts = [
        """WITH cells AS MATERIALIZED (
            SELECT value AS v, count(*) AS n,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END) AS pos
            FROM events GROUP BY value
        ), s0 AS MATERIALIZED (SELECT 0.0 AS a, 0.0 AS b)"""
    ]
    for s in range(1, steps + 1):
        p = s - 1
        parts.append(f"""s{s} AS MATERIALIZED (
            SELECT a + (g0 * h11 - g1 * h01) / (h00 * h11 - h01 * h01)
                       AS a,
                   b + (g1 * h00 - g0 * h01) / (h00 * h11 - h01 * h01)
                       AS b
            FROM (
                SELECT (SELECT a FROM s{p}) AS a,
                       (SELECT b FROM s{p}) AS b,
                       sum(pos - n * pr) AS g0,
                       sum(v * (pos - n * pr)) AS g1,
                       sum(n * pr * (1 - pr)) AS h00,
                       sum(n * v * pr * (1 - pr)) AS h01,
                       sum(n * v * v * pr * (1 - pr)) AS h11
                FROM (
                    SELECT v, n, pos,
                           1 / (1 + exp(-((SELECT a FROM s{p})
                                          + (SELECT b FROM s{p}) * v)))
                               AS pr
                    FROM cells
                )
            )
        )""")
    last = f"s{steps}"
    return (
        ",\n".join(parts)
        + f"""
        SELECT CAST((SELECT sum(n) FROM cells) AS BIGINT) AS n_events,
               round((SELECT a FROM {last}) + 1e-9, 6) AS intercept,
               round((SELECT b FROM {last}) + 1e-9, 6) AS slope,
               round((SELECT -sum(pos * ln(pr) + (n - pos) * ln(1 - pr))
                             / sum(n)
                      FROM (SELECT n, pos,
                                   1 / (1 + exp(-((SELECT a FROM {last})
                                        + (SELECT b FROM {last}) * v)))
                                       AS pr
                            FROM cells)) + 1e-9, 6) AS log_loss
    """
    )


@register(
    "platt_scaling",
    oracle=_platt_oracle(),
    description="Platt scaling — 2-parameter logistic regression "
    f"sigma(a + b*value) on the purchase target, {_PLATT_STEPS} "
    "Newton-Raphson steps with a closed-form 2x2 Hessian solve: the "
    "parametric calibration next to isotonic_calibration's "
    "nonparametric PAVA (the two standard ways to turn a raw score "
    "into a probability). The corpus collapses to distinct-value "
    "cells ONCE (n, pos per value); each Newton step is then one "
    "cell-bounded aggregate of five sufficient statistics with the "
    "previous (a,b) as collected scalars (Cox-loop discipline). "
    "Oracle unrolls the steps into MATERIALIZED CTEs; emits the "
    "fitted params and final mean log-loss",
)
def q_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = _t(spark, sf_dir, "events")
    cells = tracked_persist(
        ev.groupBy(F.col("value").alias("v")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("pos"),
        )
    )
    a = b = 0.0
    for _s in range(_PLATT_STEPS):
        pr = 1 / (1 + F.exp(-(F.lit(a) + F.lit(b) * F.col("v"))))
        row = cells.agg(
            F.sum(F.col("pos") - F.col("n") * pr).alias("g0"),
            F.sum(F.col("v") * (F.col("pos") - F.col("n") * pr)).alias("g1"),
            F.sum(F.col("n") * pr * (1 - pr)).alias("h00"),
            F.sum(F.col("n") * F.col("v") * pr * (1 - pr)).alias("h01"),
            F.sum(
                F.col("n") * F.col("v") * F.col("v") * pr * (1 - pr)
            ).alias("h11"),
        ).collect()[0]
        det = row["h00"] * row["h11"] - row["h01"] * row["h01"]
        a = a + (row["g0"] * row["h11"] - row["g1"] * row["h01"]) / det
        b = b + (row["g1"] * row["h00"] - row["g0"] * row["h01"]) / det
    pr = 1 / (1 + F.exp(-(F.lit(a) + F.lit(b) * F.col("v"))))
    out = cells.agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.round(
            -F.sum(
                F.col("pos") * F.log(pr) + (F.col("n") - F.col("pos")) * F.log(1 - pr)
            )
            / F.sum("n")
            + F.lit(1e-9),
            6,
        ).alias("log_loss"),
    )
    return out.select(
        "n_events",
        F.round(F.lit(a) + F.lit(1e-9), 6).alias("intercept"),
        F.round(F.lit(b) + F.lit(1e-9), 6).alias("slope"),
        "log_loss",
    )


@register(
    "jackknife_ratio",
    oracle="""
        WITH base AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS a,
                   CAST(l_quantity AS BIGINT) AS b
            FROM lineitem
        ), tot AS (
            SELECT sum(a) AS sa, sum(b) AS sb, count(*) AS n FROM base
        ), loo AS (
            SELECT CAST(sa - a AS DOUBLE) / (sb - b)
                       - CAST(sa AS DOUBLE) / sb AS dev,
                   CAST(sa AS DOUBLE) / sb AS r_full, n
            FROM base, tot
        )
        SELECT CAST(max(n) AS BIGINT) AS n_rows,
               round(max(r_full) / 100.0 + 1e-9, 6) AS ratio,
               round(sqrt((max(n) - 1.0) / max(n)
                          * (sum(dev * dev)
                             - sum(dev) * sum(dev) / max(n)))
                     / 100.0 + 1e-9, 6) AS jackknife_se
        FROM loo
    """,
    description="Jackknife standard error of the ratio estimator "
    "(revenue per unit = sum price / sum quantity over lineitem): "
    "every leave-one-out replicate is CLOSED FORM from the integer "
    "totals ((Sa - a_i)/(Sb - b_i) on cents/units — no resampling "
    "pass per replicate, unlike bootstrap_ci's B replicates), so the "
    "whole estimate is one 2-integer-total broadcast plus one "
    "variance pass over the scan. The delta-method-free uncertainty "
    "for nonlinear statistics, complementing bootstrap_ci "
    "(percentile CI) with the classic n-replicate SE",
)
def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("a"),
        F.col("l_quantity").cast("bigint").alias("b"),
    )
    tot = base.agg(
        F.sum("a").alias("sa"), F.sum("b").alias("sb"), F.count(F.lit(1)).alias("n")
    )
    loo = base.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("sa") - F.col("a")).cast("double")
            / (F.col("sb") - F.col("b"))
            - F.col("sa").cast("double") / F.col("sb")
        ).alias("dev"),
        (F.col("sa").cast("double") / F.col("sb")).alias("r_full"),
        "n",
    )
    # deviations are computed per row around the EXACT full ratio
    # (both terms derive from the same integer totals), so the
    # variance pass sums tiny numbers — no catastrophic cancellation
    # of the kind sum(r^2) - (sum r)^2/n would hit when every LOO
    # replicate agrees to 5+ digits.
    return loo.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.round(F.max("r_full") / 100.0 + F.lit(1e-9), 6).alias("ratio"),
        F.round(
            F.sqrt(
                (F.max("n") - 1.0)
                / F.max("n")
                * (
                    F.sum(F.col("dev") * F.col("dev"))
                    - F.sum("dev") * F.sum("dev") / F.max("n")
                )
            )
            / 100.0
            + F.lit(1e-9),
            6,
        ).alias("jackknife_se"),
    )


@register(
    "jarque_bera",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(round(value * 100) AS HUGEINT) AS c
            FROM events WHERE value IS NOT NULL
        ), s AS (
            SELECT event_type,
                   count(*) AS n,
                   sum(c) AS s1,
                   sum(c * c) AS s2,
                   sum(c * c * c) AS s3,
                   sum(c * c * c * c) AS s4
            FROM c GROUP BY event_type
        ), m AS (
            SELECT event_type, n,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   CAST(s2 AS DOUBLE) / n AS r2,
                   CAST(s3 AS DOUBLE) / n AS r3,
                   CAST(s4 AS DOUBLE) / n AS r4
            FROM s
        ), k AS (
            SELECT event_type, n, mu,
                   r2 - mu * mu AS m2,
                   r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
                   r4 - 4 * mu * r3 + 6 * mu * mu * r2
                      - 3 * mu * mu * mu * mu AS m4
            FROM m
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n,
               round(m3 / (m2 * sqrt(m2)) + 1e-9, 6) AS skewness,
               round(m4 / (m2 * m2) + 1e-9, 6) AS kurtosis,
               round(n / 6.0 * ((m3 / (m2 * sqrt(m2)))
                                * (m3 / (m2 * sqrt(m2)))
                                + (m4 / (m2 * m2) - 3)
                                  * (m4 / (m2 * m2) - 3) / 4.0)
                     + 1e-9, 6) AS jb_stat,
               n / 6.0 * ((m3 / (m2 * sqrt(m2)))
                          * (m3 / (m2 * sqrt(m2)))
                          + (m4 / (m2 * m2) - 3)
                            * (m4 / (m2 * m2) - 3) / 4.0)
                   > 5.991 AS normal_rejected
        FROM k
    """,
    description="Jarque-Bera normality test per event type — the "
    "distribution-shape DQ gate (heavy tails / skew flag a value "
    "column whose z-scores and CIs lie): sample skewness and excess "
    "kurtosis from the four power sums, JB = n/6 (S^2 + (K-3)^2/4) "
    "vs the chi-square(2) 95% cut 5.991. The power sums accumulate "
    "INTEGER-EXACTLY on cents (Spark per-term decimal(38,0) "
    "products, DuckDB HUGEINT — c^4 ~ 1e20 per term, sums < 1e26, "
    "both exact), so the double conversion happens once per "
    "aggregate with IDENTICAL operands on both engines and the "
    "central-moment algebra is bit-reproducible; cents scaling "
    "cancels in the scale-invariant S and K. One scan, one "
    "5-row agg — any corpus volume",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("decimal(38,0)")
    s = ev.select("event_type", c.alias("c")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu * mu * mu
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2)
    jb = n / F.lit(6.0) * (skew * skew + (kurt - 3) * (kurt - 3) / F.lit(4.0))
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(skew + F.lit(1e-9), 6).alias("skewness"),
        F.round(kurt + F.lit(1e-9), 6).alias("kurtosis"),
        F.round(jb + F.lit(1e-9), 6).alias("jb_stat"),
        (jb > 5.991).alias("normal_rejected"),
    )


@register(
    "levene_test",
    oracle="""
        WITH cv AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS v,
                   count(*) AS c
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ), cum AS (
            SELECT g, v, c,
                   sum(c) OVER (PARTITION BY g ORDER BY v) AS cw,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM cv
        ), med AS (
            SELECT g, min(CASE WHEN 2 * cw >= n THEN v END) AS med
            FROM cum GROUP BY g
        ), z AS (
            SELECT cv.g, cv.c, abs(cv.v - med.med) AS z
            FROM cv JOIN med ON med.g = cv.g
        ), per_g AS (
            SELECT g, sum(c) AS n_g,
                   sum(CAST(c AS HUGEINT) * z) AS sz,
                   sum(CAST(c AS HUGEINT) * z * z) AS szz
            FROM z GROUP BY g
        ), tot AS (
            SELECT count(*) AS k, sum(n_g) AS n,
                   CAST(sum(sz) AS DOUBLE) / sum(n_g) AS zbar
            FROM per_g
        ), parts AS (
            SELECT tot.k, tot.n,
                   sum(n_g * (CAST(sz AS DOUBLE) / n_g - zbar)
                           * (CAST(sz AS DOUBLE) / n_g - zbar)) AS num,
                   sum(CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n_g)
                       AS den
            FROM per_g, tot GROUP BY tot.k, tot.n
        )
        SELECT CAST(k AS BIGINT) AS n_groups,
               CAST(n AS BIGINT) AS n_total,
               CAST(k - 1 AS BIGINT) AS df1,
               CAST(n - k AS BIGINT) AS df2,
               round((n - k) * 1.0 / (k - 1) * num / den + 1e-9, 6)
                   AS w_stat
        FROM parts
    """,
    description="Levene variance-homogeneity test in its robust "
    "Brown-Forsythe form (deviations from the per-group MEDIAN, not "
    "mean) across the five event types — the gate that decides "
    "whether anova_f_test / welch_ttest assumptions hold: per-group "
    "medians are integer-exact weight crossings over the "
    "distinct-cents histogram (robust_scale's 2*cw >= n rule), the "
    "absolute deviations are therefore INTEGER cents, and the "
    "between/within sums accumulate exactly in 128-bit per-term "
    "products (decimal(38,0) on Spark, HUGEINT in DuckDB — ADVICE "
    "r9: raw bigint products would silently wrap at crawl scale) "
    "before one identical double conversion per engine. "
    "Histogram-sized state: the cumulative runs over distinct "
    "values per group, never row volume",
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # persist the distinct-cents histogram (value-cardinality rows):
    # the median chain and the deviation join both read it, and
    # unpersisted each re-ran the corpus groupBy
    cv = tracked_persist(
        ev.groupBy(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("g")
    cum = cv.select(
        "g",
        "v",
        "c",
        F.sum("c").over(wcum).alias("cw"),
        F.sum("c").over(wall).alias("n"),
    )
    med = cum.groupBy("g").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("n"), F.col("v"))).alias("med")
    )
    z = cv.join(med, "g").select(
        "g", "c", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    # cast each OPERAND to decimal(38,0) before multiplying (ADVICE r9:
    # the oracle's sum(BIGINT) is HUGEINT/int128, so raw long products
    # would silently wrap on the Spark side at crawl scale — same
    # pattern as permutation_test / jarque_bera)
    decq = lambda name: F.col(name).cast("decimal(38,0)")  # noqa: E731
    per_g = z.groupBy("g").agg(
        F.sum("c").alias("n_g"),
        F.sum(decq("c") * decq("z")).alias("sz"),
        F.sum(decq("c") * decq("z") * decq("z")).alias("szz"),
    )
    tot = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        (F.sum("sz").cast("double") / F.sum("n_g")).alias("zbar"),
    )
    zg = F.col("sz").cast("double") / F.col("n_g")
    parts = per_g.crossJoin(F.broadcast(tot)).groupBy("k", "n").agg(
        F.sum(
            F.col("n_g") * (zg - F.col("zbar")) * (zg - F.col("zbar"))
        ).alias("num"),
        F.sum(
            F.col("szz").cast("double")
            - F.col("sz").cast("double")
            * F.col("sz").cast("double")
            / F.col("n_g")
        ).alias("den"),
    )
    return parts.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df2"),
        F.round(
            (F.col("n") - F.col("k"))
            * 1.0
            / (F.col("k") - 1)
            * F.col("num")
            / F.col("den")
            + F.lit(1e-9),
            6,
        ).alias("w_stat"),
    )


@register(
    "doubly_robust_eval",
    oracle="""
        WITH log AS (
            SELECT event_id, user_id,
                   CAST(round(value, 2) AS DECIMAL(18,2)) AS r,
                   user_id % 2 AS bucket,
                   ('0x' || substr(md5('act:' || event_id::VARCHAR),
                                   1, 8))::BIGINT AS h
            FROM events WHERE value IS NOT NULL
        ), act AS (
            SELECT *,
                   CASE WHEN bucket = 0 THEN
                       CASE WHEN h < 2147483648 THEN 0
                            WHEN h < 3579139413 THEN 1 ELSE 2 END
                   ELSE
                       CASE WHEN h < 715827882 THEN 0
                            WHEN h < 2147483648 THEN 1 ELSE 2 END
                   END AS a,
                   user_id % 3 AS a_target
            FROM log
        ), wtd AS (
            SELECT *,
                   CASE WHEN bucket = 0 THEN
                       CASE a WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 6 END
                   ELSE
                       CASE a WHEN 0 THEN 6 WHEN 1 THEN 3 ELSE 2 END
                   END AS w
            FROM act
        ), cells AS (
            SELECT bucket AS cb, a AS ca,
                   CAST(sum(r) AS DOUBLE) / count(*) AS qhat
            FROM wtd GROUP BY 1, 2
        ), terms AS (
            SELECT wtd.*,
                   qt.qhat AS q_target, qa.qhat AS q_logged
            FROM wtd
            JOIN cells qt ON qt.cb = wtd.bucket AND qt.ca = wtd.a_target
            JOIN cells qa ON qa.cb = wtd.bucket AND qa.ca = wtd.a
        )
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN a = a_target THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               round(sum(q_target) / count(*) + 1e-9, 6) AS dm,
               round(sum(q_target
                         + CASE WHEN a = a_target
                                THEN w * (CAST(r AS DOUBLE) - q_logged)
                                ELSE 0.0 END) / count(*) + 1e-9, 6)
                   AS dr
        FROM terms
    """,
    description="Doubly-robust off-policy evaluation — the "
    "variance/bias sweet spot between ips_policy_eval's unbiased-but-"
    "noisy importance weighting and a pure outcome model: same logged "
    "bandit setup (integer md5 propensity draws, exact 1/p weights "
    "{2,3,6}), plus an outcome model q(bucket, action) fit as the "
    "6-cell logged-reward mean (DECIMAL sums, one double division "
    "per cell with identical operands), combined per event as "
    "q(x, pi(x)) + 1{a = pi(x)} w (r - q(x, a)). The DIRECT-METHOD "
    "estimate is emitted alongside for the bias/variance read. One "
    "scan + one bounded cell agg + two broadcast joins of the 6-row "
    "model — any corpus volume",
)
def q_doubly_robust_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("act:"), F.col("event_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    bucket = F.col("user_id") % 2
    a = F.when(
        bucket == 0,
        F.when(h < 2147483648, 0).when(h < 3579139413, 1).otherwise(2),
    ).otherwise(
        F.when(h < 715827882, 0).when(h < 2147483648, 1).otherwise(2)
    )
    w = F.when(
        bucket == 0,
        F.when(a == 0, 2).when(a == 1, 3).otherwise(6),
    ).otherwise(F.when(a == 0, 6).when(a == 1, 3).otherwise(2))
    wtd = ev.select(
        F.round("value", 2).cast("decimal(18,2)").alias("r"),
        bucket.alias("bucket"),
        a.alias("a"),
        (F.col("user_id") % 3).alias("a_target"),
        w.alias("w"),
    )
    cells = wtd.groupBy(
        F.col("bucket").alias("cb"), F.col("a").alias("ca")
    ).agg((F.sum("r").cast("double") / F.count(F.lit(1))).alias("qhat"))
    terms = wtd.join(
        F.broadcast(
            cells.select(
                F.col("cb").alias("tb"),
                F.col("ca").alias("ta"),
                F.col("qhat").alias("q_target"),
            )
        ),
        (F.col("tb") == F.col("bucket")) & (F.col("ta") == F.col("a_target")),
    ).join(
        F.broadcast(
            cells.select(
                F.col("cb").alias("lb"),
                F.col("ca").alias("la"),
                F.col("qhat").alias("q_logged"),
            )
        ),
        (F.col("lb") == F.col("bucket")) & (F.col("la") == F.col("a")),
    )
    matched = F.col("a") == F.col("a_target")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(matched, 1).otherwise(0)).cast("bigint").alias(
            "n_matched"
        ),
        F.round(
            F.sum("q_target") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("dm"),
        F.round(
            F.sum(
                F.col("q_target")
                + F.when(
                    matched,
                    F.col("w")
                    * (F.col("r").cast("double") - F.col("q_logged")),
                ).otherwise(F.lit(0.0))
            )
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("dr"),
    )


@register(
    "kendall_tau_b",
    oracle="""
        WITH d AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(avg(CASE WHEN event_type = 'purchase'
                                  THEN value END) + 1e-9, 6) AS x,
                   round(avg(CASE WHEN event_type = 'click'
                                  THEN value END) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL
            GROUP BY 1
            HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
               AND count(CASE WHEN event_type = 'click' THEN 1 END) > 0
        ), pairs AS (
            SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1
                        ELSE 0 END AS con,
                   CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1
                        ELSE 0 END AS dis,
                   CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
                   CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
            FROM d a JOIN d b ON b.day > a.day
        ), m AS (
            SELECT count(*) AS n0, sum(con) AS c, sum(dis) AS dd,
                   sum(tx) AS tx, sum(ty) AS ty
            FROM pairs
        )
        SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
               CAST(c AS BIGINT) AS concordant,
               CAST(dd AS BIGINT) AS discordant,
               round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
                     / sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE))
                            * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)))
                     + 1e-9, 6) AS tau_b
        FROM m
    """,
    description="Kendall tau-b rank correlation between the daily "
    "purchase and click mean-value series — the concordance-based "
    "member completing the correlation family (corr_matrix Pearson, "
    "spearman_corr rank-rho; tau-b is the one with a direct "
    "probabilistic reading P(concordant)-P(discordant), robust to "
    "monotone transforms and gross outliers). Pair generation is "
    "DAY-GRAIN bounded (k days -> k(k-1)/2 pairs regardless of row "
    "volume); concordant/discordant/tie counts are INTEGER-exact "
    "comparisons of identically-6dp-rounded daily means, with the "
    "tau-b tie correction (n0-tx)(n0-ty) under one double sqrt per "
    "engine, with textbook tie counting: a pair tied in x counts in "
    "tx regardless of y (and vice versa), so a both-tied pair counts "
    "in BOTH terms. One corpus groupBy + one bounded broadcast "
    "self-join",
)
def q_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = tracked_persist(
        ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(
                F.avg(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                )
                + F.lit(1e-9),
                6,
            ).alias("x"),
            F.round(
                F.avg(
                    F.when(F.col("event_type") == "click", F.col("value"))
                )
                + F.lit(1e-9),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    a = d.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = d.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    pairs = a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
        F.when(dx * dy > 0, 1).otherwise(0).alias("con"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("dis"),
        F.when(F.col("x2") == F.col("x1"), 1).otherwise(0).alias("tx"),
        F.when(F.col("y2") == F.col("y1"), 1).otherwise(0).alias("ty"),
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("con").alias("c"),
        F.sum("dis").alias("dd"),
        F.sum("tx").alias("tx"),
        F.sum("ty").alias("ty"),
    )
    ndays = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    tau = (F.col("c").cast("double") - F.col("dd").cast("double")) / F.sqrt(
        (F.col("n0").cast("double") - F.col("tx").cast("double"))
        * (F.col("n0").cast("double") - F.col("ty").cast("double"))
    )
    return ndays.crossJoin(F.broadcast(m)).select(
        "n_days",
        F.col("c").cast("bigint").alias("concordant"),
        F.col("dd").cast("bigint").alias("discordant"),
        F.round(tau + F.lit(1e-9), 6).alias("tau_b"),
    )


HILL_TOP_K = 100  # tail order statistics used by the Hill estimator


@register(
    "hill_tail_index",
    oracle=f"""
        WITH v AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
              AND value > 0
        ), rk AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents DESC, event_id ASC)
                       AS r
            FROM v
        ), top AS (
            SELECT CAST(round(ln(cents) * 1000000) AS BIGINT) AS l, r
            FROM rk WHERE r <= {{K}} + 1
        )
        SELECT CAST({{K}} AS BIGINT) AS k,
               (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_values,
               round(((SELECT CAST(sum(l) AS DOUBLE) FROM top
                       WHERE r <= {{K}})
                      - {{K}} * (SELECT CAST(l AS DOUBLE) FROM top
                                 WHERE r = {{K}} + 1))
                     / {{K}} / 1000000 + 1e-9, 6) AS inv_alpha,
               round({{K}} * 1000000.0
                     / ((SELECT CAST(sum(l) AS DOUBLE) FROM top
                         WHERE r <= {{K}})
                        - {{K}} * (SELECT CAST(l AS DOUBLE) FROM top
                                   WHERE r = {{K}} + 1))
                     + 1e-9, 6) AS alpha
        FROM (SELECT 1)
    """.replace("{K}", str(HILL_TOP_K)),
    description="Hill tail-index estimator over purchase values: "
    f"alpha from the top-{HILL_TOP_K} order statistics "
    "(1/alpha = mean(ln x_(i)) - ln x_(k+1)) — the heavy-tail "
    "diagnostic next to zipf_fit (token ranks) and hurst_exponent "
    "(long memory): alpha < 2 means infinite variance and every "
    "mean-based monitor (anomaly_zscore, welch_ttest) is on thin "
    "ice. Order statistics via two_phase_rank on integer cents "
    "(deterministic event_id tie-break, no single-task sort); logs "
    "QUANTIZED to fixed-point ln*1e6 integers (the zipf_fit "
    "discipline) so the k-term sum is exact and both engines make "
    "ONE double conversion. k is a fixed constant: the scan stays "
    "one pass + one bounded rank at any volume",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") > 0)
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    rk = R.two_phase_rank(
        v,
        [F.col("cents").desc(), F.col("event_id").asc()],
        -F.col("cents"),
        "r",
    ).filter(F.col("r") <= HILL_TOP_K + 1)
    top = rk.select(
        F.round(F.log(F.col("cents").cast("double")) * 1e6)
        .cast("bigint")
        .alias("l"),
        "r",
    )
    s = top.agg(
        F.sum(F.when(F.col("r") <= HILL_TOP_K, F.col("l"))).alias("sl"),
        F.max(F.when(F.col("r") == HILL_TOP_K + 1, F.col("l"))).alias(
            "lk1"
        ),
    )
    nvals = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_values"))
    inv_alpha = (
        (F.col("sl").cast("double") - HILL_TOP_K * F.col("lk1").cast("double"))
        / HILL_TOP_K
        / 1e6
    )
    alpha = HILL_TOP_K * 1e6 / (
        F.col("sl").cast("double") - HILL_TOP_K * F.col("lk1").cast("double")
    )
    return (
        nvals.crossJoin(F.broadcast(s))
        .select(
            F.lit(HILL_TOP_K).cast("bigint").alias("k"),
            "n_values",
            F.round(inv_alpha + F.lit(1e-9), 6).alias("inv_alpha"),
            F.round(alpha + F.lit(1e-9), 6).alias("alpha"),
        )
    )


@register(
    "negbin_fit",
    oracle="""
        WITH pc AS (
            SELECT user_id, count(*) AS c
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ), m AS (
            SELECT count(*) AS n, sum(c) AS s1,
                   sum(CAST(c AS HUGEINT) * c) AS s2
            FROM pc
        )
        SELECT CAST(n AS BIGINT) AS n_users,
               round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6)
                   AS mean_count,
               round((CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                        / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                     + 1e-9, 6) AS var_count,
               CASE WHEN (CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                         > CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
                    THEN round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                               * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                               / ((CAST(s2 AS DOUBLE)
                                   - CAST(s1 AS DOUBLE)
                                     * CAST(s1 AS DOUBLE)
                                     / CAST(n AS DOUBLE))
                                  / CAST(n AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                               + 1e-9, 6)
                    ELSE NULL END AS nb_r,
               ((CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                > CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   AS overdispersed
        FROM m
    """,
    description="Negative-binomial method-of-moments fit of the "
    "per-user purchase-count distribution (conditional on >= 1 "
    "purchase — the observed-buyer panel): mean, population variance "
    "and the NB size parameter r = mu^2/(var - mu) — the "
    "overdispersion diagnostic that decides whether Poisson rate "
    "monitors (interarrival_stats, rolling_anomaly's count legs) are "
    "mis-calibrated (var >> mean means bursty users, not a busier "
    "service). Moments are INTEGER-exact (128-bit c*c products, the "
    "house discipline), r computed from them in one identical double "
    "expression per engine, NULL when the data is not overdispersed "
    "(equi/underdispersed -> NB degenerate). One user-cardinality "
    "rollup + one moment agg: two map-side-combined shuffles total",
)
def q_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    pc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = pc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("s2"),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    mean = s1d / nd
    var = (s2d - s1d * s1d / nd) / nd
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(mean + F.lit(1e-9), 6).alias("mean_count"),
        F.round(var + F.lit(1e-9), 6).alias("var_count"),
        F.when(var > mean, F.round(mean * mean / (var - mean) + F.lit(1e-9), 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("nb_r"),
        (var > mean).alias("overdispersed"),
    )


@register(
    "weibull_fit",
    oracle="""
        WITH p AS (
            SELECT user_id, epoch_us(ts) AS e, event_id
            FROM events WHERE event_type = 'purchase'
        ), gaps AS (
            SELECT e - lag(e) OVER (PARTITION BY user_id
                                    ORDER BY e, event_id) AS d,
                   event_id
            FROM p
        ), pos AS (
            SELECT d, event_id,
                   row_number() OVER (ORDER BY d, event_id) AS r,
                   count(*) OVER () AS n
            FROM gaps WHERE d > 0
        ), q AS (
            SELECT CAST(round(ln(d) * 1000000) AS BIGINT) AS x,
                   CAST(round(ln(-ln(1 - (r - 0.3) / (n + 0.4)))
                              * 1000000) AS BIGINT) AS y,
                   n
            FROM pos
        ), m AS (
            SELECT max(n) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM q
        )
        SELECT CAST(n AS BIGINT) AS n_gaps,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     + 1e-9, 6) AS shape_k,
               round(exp((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                            / ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE)
                                    * CAST(sx AS DOUBLE)))) / 1000000)
                     / 1000000 + 1e-9, 6) AS scale_s
        FROM m
    """,
    description="Weibull fit of the inter-purchase gap distribution by "
    "median-rank regression (Benard's approximation F_i = "
    "(i-0.3)/(n+0.4), then OLS of ln(-ln(1-F)) on ln(gap)) — the "
    "PARAMETRIC survival member next to survival_km (non-parametric), "
    "cox_regression (semi-parametric) and interarrival_stats: "
    "shape k < 1 means burst-then-lapse purchasing (churn risk "
    "concentrates early), k > 1 means habituation. Gap ranks come "
    "from two_phase_rank bucketed by whole seconds (no single-task "
    "sort; rank sums are tie-order invariant so the event_id "
    "tie-break only pins determinism); both logs are QUANTIZED to "
    "fixed-point 1e6 integers (zipf_fit discipline) so the OLS "
    "moments accumulate exactly in 128-bit products, one identical "
    "double conversion per engine; scale reported in seconds "
    "(exp(lnλ_µs)/1e6). State: one per-user lag window + a "
    "gap-cardinality rank + one moment agg",
)
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    e = F.unix_micros(F.col("ts"))
    wlag = Window.partitionBy("user_id").orderBy(e, F.col("event_id"))
    gaps = (
        ev.select(
            (e - F.lag(e).over(wlag)).alias("d"),
            "event_id",
        )
        .filter(F.col("d") > 0)
    )
    pos = R.two_phase_rank(
        gaps,
        [F.col("d").asc(), F.col("event_id").asc()],
        F.col("d") / F.lit(1_000_000),
        "r",
        total_name="n",
    )
    fhat = (F.col("r").cast("double") - 0.3) / (F.col("n").cast("double") + 0.4)
    q = pos.select(
        (F.round(F.log(F.col("d").cast("double")) * 1e6))
        .cast("bigint")
        .alias("x"),
        (F.round(F.log(-F.log(F.lit(1.0) - fhat)) * 1e6))
        .cast("bigint")
        .alias("y"),
        "n",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = q.agg(
        F.max("n").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    ln_lambda_us = (sxd / nd - (syd / nd) / slope) / 1e6
    return m.select(
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(slope + F.lit(1e-9), 6).alias("shape_k"),
        F.round(F.exp(ln_lambda_us) / 1e6 + F.lit(1e-9), 6).alias("scale_s"),
    )


@register(
    "gumbel_fit",
    oracle="""
        WITH bm AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   max(CAST(round(value * 100) AS BIGINT)) AS mx
            FROM events WHERE value IS NOT NULL
            GROUP BY 1
        ), pos AS (
            SELECT mx, day,
                   row_number() OVER (ORDER BY mx, day) AS r,
                   count(*) OVER () AS n
            FROM bm
        ), q AS (
            SELECT mx AS x,
                   CAST(round(-ln(-ln((r - 0.3) / (n + 0.4)))
                              * 1000000) AS BIGINT) AS y,
                   n
            FROM pos
        ), m AS (
            SELECT max(n) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(y AS HUGEINT) * y) AS syy
            FROM q
        ), fit AS (
            SELECT n, sx, sy,
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                   * 1000000 AS beta_c
            FROM m
        )
        SELECT CAST(n AS BIGINT) AS n_blocks,
               round((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                      - beta_c * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                        / 1000000) / 100 + 1e-9, 6) AS location_mu,
               round(beta_c / 100 + 1e-9, 6) AS scale_beta,
               round(((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                       - beta_c * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                         / 1000000)
                      - beta_c * -4.600149226776579) / 100 + 1e-9, 6)
                   AS return_level_p99
        FROM fit
    """,
    description="Gumbel (EVT type-I) fit of the DAILY MAXIMUM event "
    "value by median-rank regression — the block-maxima member of the "
    "tail family (hill_tail_index fits the upper-order-statistics "
    "tail; this fits the extreme-value law of per-day peaks, the "
    "quantity capacity planning and fraud ceilings actually monitor): "
    "Benard positions over the n-day maxima, x = INTEGER cents (no "
    "log — the Gumbel linearization is x = mu + beta*(-ln(-ln F))), "
    "y fixed-point-quantized, OLS moments in 128-bit products, one "
    "identical double conversion per engine; reports mu, beta and "
    "the p99 return level (the daily max exceeded on ~1% of days), "
    "all in dollars. The blockwise rollup is calendar-bounded: 100 TB "
    "of events still collapses to one row per day before any rank",
)
def q_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bm = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.max(F.round(F.col("value") * 100).cast("bigint")).alias("mx"))
    pos = R.two_phase_rank(
        bm,
        [F.col("mx").asc(), F.col("day").asc()],
        F.col("mx"),
        "r",
        total_name="n",
    )
    fhat = (F.col("r").cast("double") - 0.3) / (F.col("n").cast("double") + 0.4)
    q = pos.select(
        F.col("mx").alias("x"),
        (F.round(-F.log(-F.log(fhat)) * 1e6)).cast("bigint").alias("y"),
        "n",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = q.agg(
        F.max("n").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    beta_c = (nd * sxyd - sxd * syd) / (nd * syyd - syd * syd) * 1e6
    mu_c = sxd / nd - beta_c * (syd / nd) / 1e6
    # ln(-ln(0.99)) pinned as ONE shared literal (not two libm calls)
    # so a 1-ulp libm divergence can never flip the 6dp rounding
    _LNLN99 = -4.600149226776579
    return m.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.round(mu_c / 100 + F.lit(1e-9), 6).alias("location_mu"),
        F.round(beta_c / 100 + F.lit(1e-9), 6).alias("scale_beta"),
        F.round(
            (mu_c - beta_c * _LNLN99) / 100 + F.lit(1e-9),
            6,
        ).alias("return_level_p99"),
    )


@register(
    "wilcoxon_signed_rank",
    oracle="""
        WITH pairs AS (
            SELECT user_id,
                   CAST(round(avg(CASE WHEN event_type = 'purchase'
                                       THEN value END) + 1e-9, 2)
                        AS DECIMAL(18,2))
                   - CAST(round(avg(CASE WHEN event_type = 'click'
                                         THEN value END) + 1e-9, 2)
                          AS DECIMAL(18,2)) AS d
            FROM events WHERE event_type IN ('purchase', 'click')
            GROUP BY user_id
            HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
               AND count(CASE WHEN event_type = 'click' THEN 1 END) > 0
        ), nz AS (
            SELECT abs(d) AS ad,
                   CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
            FROM pairs WHERE d <> 0
        ), per_v AS (
            SELECT ad, sum(pos) AS cpos, count(*) AS c
            FROM nz GROUP BY ad
        ), rk AS (
            SELECT cpos, c,
                   sum(c) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) - c
                       AS below
            FROM per_v
        ), agg AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   sum(cpos * (below + (c + 1) / 2.0)) AS w_plus,
                   sum(CAST(c AS DOUBLE) * c * c - c) AS tie_term
            FROM rk
        )
        SELECT n, round(w_plus + 1e-9, 2) AS w_plus,
               round((w_plus - n * (n + 1) / 4.0)
                     / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                            - tie_term / 48.0)
                     + 1e-9, 6) AS z_stat
        FROM agg
    """,
    description="Wilcoxon signed-rank test — the PAIRED nonparametric "
    "location test completing the battery next to mann_whitney_u "
    "(independent samples) and the parametric t/Welch members: per "
    "user the purchase-mean vs click-mean difference (2-decimal "
    "DECIMAL so pairing and zero-exclusion are engine-exact), zero "
    "diffs dropped per the standard procedure, |d| midranked with "
    "the same distinct-first discipline (rank table bounded by "
    "distinct |d| cardinality, not user count), W+ from integer-"
    "exact rank sums, and the tie-corrected normal approximation "
    "z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - sum(t^3-t)/48)",
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pairs = (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.avg(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                )
                + F.lit(1e-9),
                2,
            )
            .cast("decimal(18,2)")
            .alias("mp"),
            F.round(
                F.avg(
                    F.when(F.col("event_type") == "click", F.col("value"))
                )
                + F.lit(1e-9),
                2,
            )
            .cast("decimal(18,2)")
            .alias("mc"),
        )
        .filter(F.col("mp").isNotNull() & F.col("mc").isNotNull())
        .select((F.col("mp") - F.col("mc")).alias("d"))
    )
    nz = pairs.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"),
        F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
    )
    per_v = nz.groupBy("ad").agg(
        F.sum("pos").alias("cpos"), F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy("ad").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rk = per_v.select(
        "cpos", "c", (F.sum("c").over(w) - F.col("c")).alias("below")
    )
    agg = rk.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cpos") * (F.col("below") + (F.col("c") + 1) / 2.0)).alias(
            "w_plus"
        ),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_term"),
    )
    n = F.col("n")
    sigma = F.sqrt(
        n.cast("double") * (n + 1) * (2 * n + 1) / 24.0
        - F.col("tie_term") / 48.0
    )
    return agg.select(
        "n",
        F.round(F.col("w_plus") + F.lit(1e-9), 2).alias("w_plus"),
        F.round(
            (F.col("w_plus") - n * (n + 1) / 4.0) / sigma + F.lit(1e-9), 6
        ).alias("z_stat"),
    )


@register(
    "runs_test",
    oracle="""
        WITH daily AS (
            SELECT o_orderdate AS d,
                   round(sum(o_totalprice) + 1e-9, 2) AS rev
            FROM orders GROUP BY o_orderdate
        ), med AS (
            SELECT quantile_cont(rev, 0.5) AS m FROM daily
        ), signs AS (
            SELECT d, CASE WHEN rev > m THEN 1 ELSE 0 END AS s
            FROM daily, med WHERE rev <> m
        ), flips AS (
            SELECT s,
                   CASE WHEN s <> lag(s) OVER (ORDER BY d)
                        THEN 1 ELSE 0 END AS flip
            FROM signs
        ), agg AS (
            SELECT CAST(sum(s) AS BIGINT) AS n1,
                   CAST(count(*) - sum(s) AS BIGINT) AS n2,
                   CAST(1 + sum(flip) AS BIGINT) AS n_runs
            FROM flips
        )
        SELECT n1, n2, n_runs,
               round((n_runs
                      - (1 + 2.0 * n1 * n2 / (n1 + n2)))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                            / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                               * (n1 + n2 - 1)))
                     + 1e-9, 6) AS z_stat
        FROM agg
    """,
    description="Wald-Wolfowitz runs test for randomness of the daily "
    "revenue series around its median — the sequence-randomness "
    "member of the test battery (trend/oscillation detection next to "
    "hurst_exponent's long-memory estimate): days collapse to one "
    "above/below-median sign each (median days excluded per the "
    "standard procedure; the exact interpolated median over "
    "2-decimal-rounded daily sums is engine-identical), runs counted "
    "as sign flips via lag over the date order, and the normal "
    "approximation z = (R - mu)/sigma from the closed-form run-count "
    "moments. The ordered pass is bounded by DISTINCT DAYS (~2.4k), "
    "not order volume — the single-partition window is a deliberate "
    "non-issue at 100 TB",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.round(F.sum("o_totalprice") + F.lit(1e-9), 2).alias("rev")
        )
    )
    med = daily.agg(F.expr("percentile(rev, 0.5)").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select(
            "d", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    w = Window.orderBy("d")
    flips = signs.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(w), 1).otherwise(0).alias("flip"),
    )
    agg = flips.agg(
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"),
        (F.lit(1) + F.sum("flip")).cast("bigint").alias("n_runs"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("n_runs")
    mu = 1 + 2.0 * n1 * n2 / (n1 + n2)
    sigma = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        "n1",
        "n2",
        "n_runs",
        F.round((r - mu) / sigma + F.lit(1e-9), 6).alias("z_stat"),
    )


@register(
    "bartlett_test",
    oracle="""
        WITH v AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
        ), per_g AS (
            SELECT g, count(*) AS n,
                   sum(CAST(v AS HUGEINT)) AS s1,
                   sum(CAST(v AS HUGEINT) * v) AS s2
            FROM v GROUP BY g
        ), var_g AS (
            SELECT g, n,
                   (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (n - 1)) / 10000.0 AS s2g
            FROM per_g
        ), agg AS (
            SELECT count(*) AS k, sum(n) AS n,
                   sum((n - 1) * s2g) AS sp_num,
                   sum((n - 1) * ln(s2g)) AS sum_ln,
                   sum(1.0 / (n - 1)) AS sum_inv
            FROM var_g
        )
        SELECT CAST(k AS BIGINT) AS n_groups,
               CAST(n AS BIGINT) AS n_total,
               round(((n - k) * ln(sp_num / (n - k)) - sum_ln)
                     / (1.0 + (sum_inv - 1.0 / (n - k))
                               / (3.0 * (k - 1)))
                     + 1e-9, 6) AS bartlett_stat
        FROM agg
    """,
    description="Bartlett's test for homogeneity of variances across "
    "event types — the PARAMETRIC sibling of levene_test (which is "
    "robust to non-normality; reporting both is the standard "
    "variance-check pair): per-group variances from EXACT integer "
    "cent sums (n*S2 - S1^2 over bigint/HUGEINT, the levene "
    "discipline — one scan, map-side combinable, group-count-bounded "
    "state), then the chi-square statistic "
    "T = ((N-k) ln(Sp^2) - sum (n_i-1) ln(S_i^2)) / C with the "
    "standard correction C. Floats start only at the 5-row "
    "per-group stage on identical exact inputs",
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    per_g = v.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("s2"),
    )
    var_g = per_g.select(
        "g",
        "n",
        (
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
            / 10000.0
        ).alias("s2g"),
    )
    agg = var_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n"),
        F.sum((F.col("n") - 1) * F.col("s2g")).alias("sp_num"),
        F.sum((F.col("n") - 1) * F.log(F.col("s2g"))).alias("sum_ln"),
        F.sum(F.lit(1.0) / (F.col("n") - 1)).alias("sum_inv"),
    )
    n, k = F.col("n"), F.col("k")
    stat = (
        (n - k) * F.log(F.col("sp_num") / (n - k)) - F.col("sum_ln")
    ) / (
        F.lit(1.0)
        + (F.col("sum_inv") - F.lit(1.0) / (n - k)) / (3.0 * (k - 1))
    )
    return agg.select(
        k.cast("bigint").alias("n_groups"),
        n.cast("bigint").alias("n_total"),
        F.round(stat + F.lit(1e-9), 6).alias("bartlett_stat"),
    )


@register(
    "tukey_outlier_fences",
    oracle="""
        WITH v AS (
            SELECT event_type AS g,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
        ), q AS (
            SELECT g,
                   quantile_cont(v, 0.25) AS q1,
                   quantile_cont(v, 0.75) AS q3
            FROM v GROUP BY g
        ), f AS (
            SELECT g, q1, q3,
                   q1 - 1.5 * (q3 - q1) AS lo,
                   q3 + 1.5 * (q3 - q1) AS hi
            FROM q
        )
        SELECT v.g AS event_type,
               round(min(f.q1) / 100.0 + 1e-9, 6) AS q1,
               round(min(f.q3) / 100.0 + 1e-9, 6) AS q3,
               CAST(sum(CASE WHEN v.v < f.lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
               CAST(sum(CASE WHEN v.v > f.hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high,
               CAST(count(*) AS BIGINT) AS n
        FROM v JOIN f ON f.g = v.g
        GROUP BY v.g
    """,
    description="Tukey's IQR outlier fences per event type — the "
    "box-plot outlier rule completing the robust-outlier battery "
    "next to anomaly_zscore (parametric) and robust_scale (MAD): "
    "exact interpolated quartiles over integer cents, fences at "
    "q1/q3 -/+ 1.5*IQR, and below/above counts. Quartiles of "
    "integer positions land on the dyadic .25 grid and the fence "
    "arithmetic stays on the .125 grid — exactly representable "
    "doubles, so the strict fence comparisons are engine-identical "
    "(the runs_test median argument). Two passes over the "
    "group-partitioned cents (quantile agg + counting join), both "
    "group-count-bounded",
)
def q_tukey_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    q = v.groupBy("g").agg(
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.75)").alias("q3"),
    )
    f = q.select(
        "g",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        v.join(F.broadcast(f), "g")
        .groupBy(F.col("g").alias("event_type"))
        .agg(
            F.round(F.min("q1") / 100.0 + F.lit(1e-9), 6).alias("q1"),
            F.round(F.min("q3") / 100.0 + F.lit(1e-9), 6).alias("q3"),
            F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
