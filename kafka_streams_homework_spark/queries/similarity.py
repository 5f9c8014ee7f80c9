"""Embedding ANN (knn_*), curation and vector diagnostics.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



# ===========================================================================
# Similarity search (north-star §7)
# ===========================================================================


@register(
    "embedding_outliers",
    oracle="""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), c AS (
            SELECT label, i AS pos, round(avg(v[i]), 6) AS m
            FROM e, generate_series(1, 64) AS g(i) GROUP BY 1, 2
        ), cl AS (
            SELECT label, list(m ORDER BY pos) AS centroid FROM c GROUP BY label
        ), s AS (
            SELECT e.vec_id, e.label,
                   round(list_inner_product(e.v, cl.centroid)
                         / (sqrt(list_inner_product(e.v, e.v))
                            * sqrt(list_inner_product(cl.centroid, cl.centroid)))
                         + 1e-9,
                         6) AS centroid_sim
            FROM e JOIN cl USING (label)
        )
        SELECT vec_id, label, centroid_sim,
               centroid_sim < 0.0 AS is_outlier
        FROM s
    """,
    description="Mislabel/outlier pruning: cosine of each vector to its "
    "own label centroid (CLIP-filter-style curation); centroids from "
    "one bounded (label, dim) agg broadcast onto a single corpus scan "
    "— corpus never shuffles",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_outliers(emb)


@register(
    "knn_bruteforce",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), q AS (
            SELECT * FROM e WHERE vec_id < {KNN_QUERY_MAX_ID}
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_inner_product(q.v, c.v)
                         / (sqrt(list_inner_product(q.v, q.v))
                            * sqrt(list_inner_product(c.v, c.v))), 6) AS sim
            FROM q JOIN e c ON c.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {KNN_K}
    """,
    description="Exact ANN baseline: brute-force cosine top-k, query set "
    "broadcast to the corpus scan (corpus never shuffles)",
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    out = S.knn_bruteforce(emb, queries, KNN_K)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "knn_lsh",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), planes AS (
            SELECT j.j AS j,
                   list((('0x' || substr(md5(j.j::VARCHAR || ':'
                                             || i.i::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0) * 2 - 1 ORDER BY i.i) AS h
            FROM range(0, 128) AS j(j), range(0, 64) AS i(i)
            GROUP BY j.j
        ), bu AS (
            SELECT e.vec_id, p.j // 4 AS band,
                   SUM((CASE WHEN list_inner_product(e.v, p.h) >= 0
                             THEN 1 ELSE 0 END)
                       * (CASE p.j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                       WHEN 2 THEN 2 ELSE 1 END)) AS bucket
            FROM e, planes p GROUP BY e.vec_id, p.j // 4
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM bu q JOIN bu c
              ON q.band = c.band AND q.bucket = c.bucket
             AND q.vec_id != c.vec_id
            WHERE q.vec_id < {KNN_QUERY_MAX_ID}
        ), scored AS (
            SELECT cd.query_id, cd.neighbor_id,
                   round(list_inner_product(x.v, y.v)
                         / (sqrt(list_inner_product(x.v, x.v))
                            * sqrt(list_inner_product(y.v, y.v))), 6) AS sim
            FROM cand cd
            JOIN e x ON x.vec_id = cd.query_id
            JOIN e y ON y.vec_id = cd.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {KNN_K}
    """,
    description="ANN top-k via md5-hyperplane LSH pruning + exact "
    "re-rank — the ANN family's oracle-HASH-checked member (IVF/PQ "
    "stay rows-only: k-means centroids are not replayable). "
    "Candidates share >=1 of 32 portable 4-bit sign buckets with the "
    "query; exact cosine re-rank with deterministic ties. DuckDB "
    "replays signatures, banding, candidates and ranking, so the "
    "LSH recall behavior itself is pinned exactly",
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    return S.knn_lsh_md5(emb, queries, KNN_K, 32, 4)


@register(
    "ann_recall_at_k",
    # Composed from the two member pipelines' own oracles: the eval op
    # is exactly the join of what those oracles define, so the oracle
    # is assembled, not re-derived (no drift between op and eval).
    oracle=f"""
        WITH exact AS (SELECT * FROM ({REGISTRY['knn_bruteforce'].oracle})),
             approx AS (SELECT * FROM ({REGISTRY['knn_lsh'].oracle}))
        SELECT e.query_id,
               count(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END)::DOUBLE
                     / count(*) + 1e-9, 6) AS recall
        FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
        GROUP BY e.query_id
    """,
    description="In-engine ANN evaluation: per-query recall@k of the "
    "LSH index (knn_lsh) against the exact brute-force top-k — the "
    "eval harness a vector-search deployment runs before trusting an "
    "index. Both member pipelines are themselves oracle-replayable, "
    "so the recall numbers are hash-checked, not sampled; the oracle "
    "SQL is COMPOSED from the members' own oracle strings (zero "
    "drift). Left join on (query_id, neighbor_id); k is the "
    "registry-wide KNN_K",
)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    exact = S.knn_bruteforce(emb, queries, KNN_K).select(
        "query_id", "neighbor_id"
    )
    approx = S.knn_lsh_md5(emb, queries, KNN_K, 32, 4).select(
        "query_id", F.col("neighbor_id").alias("hit_id")
    )
    j = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["hit_id"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "hit_id")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(
            F.when(F.col("hit_id").isNotNull(), 1).otherwise(0)
        ).alias("n_hit"),
        F.round(
            F.sum(F.when(F.col("hit_id").isNotNull(), 1).otherwise(0))
            / F.count(F.lit(1))
            + F.lit(1e-9),
            6,
        ).alias("recall"),
    )


@register(
    "knn_ivf",
    oracle=None,  # approximate by design; recall vs brute force in pytest
    description="IVF-partitioned ANN (cells = label clustering, centroid "
    "probe, nprobe=3) — scale path: probes scan nprobe/ncells of corpus",
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    out = S.knn_ivf(emb, queries, KNN_K, nprobe=3)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "knn_ivf_kmeans",
    oracle=None,  # approximate by design; recall vs brute force in pytest
    description="IVF ANN with a LEARNED spherical-k-means quantizer "
    "(Lloyd iterations as DataFrame jobs, centroids-only on the driver); "
    "nprobe=ncells recovers exact brute force (pytest-pinned)",
)
def q_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    out = S.knn_ivf_kmeans(emb, queries, KNN_K, nprobe=3, ncells=8, iters=3)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "knn_pq",
    oracle=None,  # learned quantizer → codes are implementation-defined;
    # recall vs brute force and the ADC≡reconstruction identity are
    # pytest-pinned (tests/test_dedup_similarity.py)
    description="Product-quantization ANN, production shape: per-"
    "subspace k-means codebooks (one distributed Lloyd job per "
    "iteration, codebook-only driver state), corpus encoded to m small "
    "codes (16-32x memory cut — the reason PQ exists at 100 TB), ADC "
    "shortlist via broadcast per-query lookup tables (pure zip_with/"
    "fold, no Python in the scan), then exact-cosine re-rank of the "
    "top R=10k candidates",
)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    out = S.knn_pq(emb, queries, KNN_K, m=16, ksub=32, iters=3)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "knn_ivfpq",
    oracle=None,  # learned quantizers; recall + probe-all≡PQ pytest-pinned
    description="IVF-PQ, the full modern ANN architecture composed: "
    "learned coarse cells prune the candidate set to ~nprobe/ncells, "
    "PQ-ADC scores only probed candidates over 16x-compressed codes "
    "(broadcast LUTs, zip_with+fold JVM-side), exact-cosine re-rank of "
    "the top R - bounded driver state (centroids + codebook + LUTs)",
)
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    out = S.knn_ivfpq(emb, queries, KNN_K, ncells=8, nprobe=4, m=16, ksub=32, iters=3)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "knn_ivf_indexed",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), q AS (
            SELECT * FROM e WHERE vec_id < {KNN_QUERY_MAX_ID}
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_inner_product(q.v, c.v)
                         / (sqrt(list_inner_product(q.v, q.v))
                            * sqrt(list_inner_product(c.v, c.v))), 6) AS sim
            FROM q JOIN e c ON c.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {KNN_K}
    """,
    description="End-to-end materialized IVF: k-means index build → "
    "partitionBy(cell) parquet write → partition-pruned probe. Probing "
    "all cells (nprobe=ncells) recovers the exact brute-force result, "
    "so the whole indexed path is oracle-checked; production probes use "
    "nprobe<ncells for the scan-volume trade (plan pruning asserted in "
    "tests/test_plans.py)",
)
def q_knn_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    idx = f"{SINK_ROOT}/ivf_index"
    S.ivf_write_index(emb, idx, ncells=4, iters=2)
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    out = S.ivf_probe_index(spark, idx, queries, KNN_K, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "knn_filtered",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), q AS (
            SELECT * FROM e WHERE vec_id < {KNN_QUERY_MAX_ID}
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_inner_product(q.v, c.v)
                         / (sqrt(list_inner_product(q.v, q.v))
                            * sqrt(list_inner_product(c.v, c.v))), 6) AS sim
            FROM q JOIN e c
              ON c.vec_id != q.vec_id AND c.label != q.label
        )
        SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {KNN_K}
    """,
    description="Filtered vector search: per-query metadata predicate "
    "(neighbor.label != query.label) evaluated IN the broadcast join — "
    "PRE-filter semantics, so k never under-fills (the post-filter "
    "hybrid-search bug); corpus scans once, never shuffles",
)
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding", "label"
    )
    out = S.knn_filtered(emb, queries, KNN_K)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


@register(
    "cosine_pairs_cells",
    # No oracle: k-means cell assignment is iterative/implementation-
    # defined; pytest pins recall vs the exact label-blocked op.
    description="Embedding near-dup pairs via LEARNED cell blocking "
    "(spherical k-means, multi-probe nassign=2) — the low-τ scale path "
    "where sign-bit LSH can't prune; candidates per cell, exact-cosine "
    "verified (no false positives), recall pinned in pytest",
)
def q_cosine_pairs_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_pairs_cells(emb, EMB_SIM_THRESHOLD, ncells=8, nassign=2)


EMB_DIM = 64


@register(
    "embedding_dim_audit",
    oracle=f"""
        WITH x AS (
            SELECT dim, embedding[dim + 1] AS v
            FROM embeddings, (SELECT unnest(range({EMB_DIM})) AS dim) g
        ), m AS (
            SELECT dim, count(*) AS n, sum(CAST(v AS DOUBLE)) AS s,
                   sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS ss
            FROM x GROUP BY dim
        )
        SELECT CAST(dim AS BIGINT) AS dim,
               round(s / n + 1e-9, 6) AS mean,
               round((ss - s * s / n) / (n - 1) + 1e-9, 6) AS variance
        FROM m
    """,
    description="Per-dimension embedding collapse audit: mean and "
    "variance of each of the 64 dimensions across the corpus — dead "
    "dimensions (variance ≈ 0) and biased dimensions (|mean| >> 0) "
    "are the standard symptoms of a collapsed or mis-pooled encoder. "
    "posexplode + one hash agg, dimension-count-sized state; variance "
    "via the shared explicit sum/sumsq form (never engine-internal "
    "var_samp whose association differs). The norm itself is NOT "
    "audited — the fixture vectors are L2-normalized (avg norm "
    "exactly 1.0, probed), so per-dim geometry is the informative "
    "signal",
)
def q_embedding_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("dim", "v"))
    m = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("double")).alias("s"),
        F.sum(F.col("v").cast("double") * F.col("v").cast("double")).alias("ss"),
    )
    return m.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("s") / F.col("n") + F.lit(1e-9), 6).alias("mean"),
        F.round(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
            + F.lit(1e-9),
            6,
        ).alias("variance"),
    )


MAHALANOBIS_CHI2_999 = 13.8155  # chi-square(2df) 99.9% critical value


@register(
    "mahalanobis_outliers",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   COALESCE(SUM(CAST(value AS DECIMAL(18,4))),
                            CAST(0 AS DECIMAL(18,4))) AS x,
                   COUNT(*) AS y
            FROM events GROUP BY user_id
        ), m AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx,
                   SUM(CAST(y AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS syy,
                   SUM(x * CAST(y AS DECIMAL(18,0))) AS sxy
            FROM u
        ), c AS (
            SELECT n,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS a,
                   CAST(n * syy - sy * sy AS DOUBLE) AS b,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS cc
            FROM m
        ), d AS (
            SELECT u.user_id,
                   (c.n * CAST(u.x AS DOUBLE) - c.sxd) AS uu,
                   (c.n * CAST(u.y AS DOUBLE) - c.syd) AS vv,
                   c.n, c.a, c.b, c.cc
            FROM u, c
        )
        SELECT user_id,
               round(((n - 1.0) / n)
                     * ((b * uu * uu - 2.0 * cc * uu * vv)
                        + a * vv * vv)
                     / (a * b - cc * cc) + 1e-9, 6) AS d2,
               round(((n - 1.0) / n)
                     * ((b * uu * uu - 2.0 * cc * uu * vv)
                        + a * vv * vv)
                     / (a * b - cc * cc) + 1e-9, 6)
                   > {MAHALANOBIS_CHI2_999} AS is_outlier
        FROM d
    """,
    description="Multivariate (2-D) Mahalanobis outlier score per user "
    "over (total spend, event count) — catches the jointly-odd points "
    "that the univariate z/MAD ops miss (high spend AND low activity). "
    "Cleared-denominator discipline end to end: the covariance "
    "moments a/b/c and centered coordinates U=n*x-Sx, V=n*y-Sy are "
    "DECIMAL-exact integers/decimals, cast once to double for the "
    "closed-form 2x2 inverse quadratic form (identical association "
    "both engines, one division); the flag applies chi2(2df, 99.9%) "
    "to the ROUNDED distance. One user rollup + a broadcast 1-row "
    "moment table — corpus scans once",
)
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.col("value").cast("decimal(18,4)")),
            F.lit(0).cast("decimal(18,4)"),
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    u = tracked_persist(u)
    yd = F.col("y").cast("decimal(18,0)")
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(F.col("x") * yd).alias("sxy"),
    ).select(
        "n",
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("a"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("b"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("cc"),
    )
    j = u.crossJoin(F.broadcast(m))
    uu = F.col("n") * F.col("x").cast("double") - F.col("sxd")
    vv = F.col("n") * F.col("y").cast("double") - F.col("syd")
    d2 = F.round(
        ((F.col("n") - F.lit(1.0)) / F.col("n"))
        * (
            (F.col("b") * uu * uu - F.lit(2.0) * F.col("cc") * uu * vv)
            + F.col("a") * vv * vv
        )
        / (F.col("a") * F.col("b") - F.col("cc") * F.col("cc"))
        + F.lit(1e-9),
        6,
    )
    return j.select(
        "user_id",
        d2.alias("d2"),
        (d2 > MAHALANOBIS_CHI2_999).alias("is_outlier"),
    )


def _pca_oracle(dim: int, iters: int) -> str:
    """Unrolled-CTE twin of ``pca_projection`` (the mmr_rerank
    pattern): quantized-integer Gram, 1e9-fixed-point centered matrix,
    then ``iters`` identical power-iteration steps — each an exact
    HUGEINT matvec + exact HUGEINT norm^2 with only sqrt and one
    division in doubles, mirroring the engine's driver loop expression
    by expression. Sign pinned (largest |coord| positive, ties to the
    smallest index); the per-row score numerator is again an exact
    integer, so the 6dp scores replay bit-for-bit."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
        w{k} AS MATERIALIZED (
            SELECT c.i AS i, sum(CAST(c.c AS HUGEINT) * v{k - 1}.v) AS w
            FROM c9 c JOIN v{k - 1} ON v{k - 1}.i = c.j GROUP BY 1
        ), nm{k} AS MATERIALIZED (SELECT sum(w * w) AS n2 FROM w{k}),
        v{k} AS MATERIALIZED (
            SELECT i, CAST(round(CAST(w AS DOUBLE)
                / sqrt(CAST((SELECT n2 FROM nm{k}) AS DOUBLE))
                * 100000000.0) AS BIGINT) AS v
            FROM w{k}
        )""")
    return f"""
        WITH q AS MATERIALIZED (
            SELECT vec_id, g.i AS i,
                   CAST(round(CAST(embedding[g.i + 1] AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS q
            FROM embeddings, (SELECT unnest(range({dim})) AS i) g
        ), st AS MATERIALIZED (
            SELECT i, sum(q) AS s FROM q GROUP BY i
        ), nn AS (
            SELECT count(*) AS n FROM embeddings
        ), c9 AS MATERIALIZED (
            SELECT ab.i AS i, ab.j AS j,
                   CAST(round(CAST(nn.n * ab.g - a.s * b.s AS DOUBLE)
                        / CAST(nn.n * nn.n AS DOUBLE) / 1000.0)
                        AS BIGINT) AS c
            FROM (
                SELECT qa.i AS i, qb.i AS j,
                       sum(CAST(qa.q AS HUGEINT) * qb.q) AS g
                FROM q qa JOIN q qb ON qa.vec_id = qb.vec_id
                GROUP BY 1, 2
            ) ab
            JOIN st a ON a.i = ab.i JOIN st b ON b.i = ab.j, nn
        ), v0 AS MATERIALIZED (
            SELECT i, CAST(round(1.0 / sqrt(CAST({dim} AS DOUBLE))
                * 100000000.0) AS BIGINT) AS v
            FROM st
        ),{",".join(steps)},
        sgn AS (
            SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
            FROM v{iters} ORDER BY abs(v) DESC, i ASC LIMIT 1
        ), comp AS MATERIALIZED (
            SELECT i, CAST(v * sg AS HUGEINT) AS v FROM v{iters}, sgn
        ), num AS (
            SELECT q.vec_id,
                   sum(CAST(nn.n * q.q - st.s AS HUGEINT) * comp.v) AS num
            FROM q JOIN st ON st.i = q.i JOIN comp ON comp.i = q.i, nn
            GROUP BY 1
        )
        SELECT e.vec_id, e.label,
               round(CAST(num.num AS DOUBLE)
                     / (CAST(nn.n AS DOUBLE) * 1000000.0 * 100000000.0)
                     + 1e-9, 6) AS pc1_score
        FROM num JOIN embeddings e ON e.vec_id = num.vec_id, nn
    """


@register(
    "pca_projection",
    oracle=_pca_oracle(EMB_DIM, 30),
    description="Top-principal-component projection of the embedding "
    "corpus: the quantized-integer Gram matrix is ONE distributed "
    "partial aggregation (d^2 = 4096 exact decimal accumulators, "
    "map-side combined — the explode blowup never shuffles row-wise), "
    "the eigen solve is a deterministic driver-side power iteration "
    "on the bounded 64x64 matrix (1e9 fixed-point entries, exact "
    "integer matvec + norm^2 per step, 30 iterations, sign pinned to "
    "largest-|coord|-positive), and the projection broadcasts the "
    "component back for a map-only exact-integer scoring pass. The "
    "embedding-drift/visualization primitive; oracle-hash via the "
    "unrolled-CTE twin (upgraded from rows-only, r10 verdict #5 — "
    "the bpe_train/holt_forecast fixed-point exactness standard)",
)
def q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.pca_projection(emb)


MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_oracle(k: int, pool: int, lam: float) -> str:
    """Unrolled-CTE twin of ``mmr_rerank``: candidate top-pool, the
    pairwise-sim matrix, then k-1 identical greedy steps (anti-join,
    max-penalty, argmax). MATERIALIZED throughout — the selected set
    is referenced three times per step and would inline exponentially
    otherwise (the bpe_train lesson)."""
    head = f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), q AS MATERIALIZED (
            SELECT * FROM e WHERE vec_id < {KNN_QUERY_MAX_ID}
        ), cand AS MATERIALIZED (
            SELECT query_id, neighbor_id, sim FROM (
                SELECT query_id, neighbor_id, sim, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rk
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                           round(list_inner_product(q.v, c.v)
                                 / (sqrt(list_inner_product(q.v, q.v))
                                    * sqrt(list_inner_product(c.v, c.v))),
                                 6) AS sim
                    FROM q JOIN e c ON c.vec_id != q.vec_id
                )
            ) WHERE rk <= {pool}
        ), psim AS MATERIALIZED (
            SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
                   round(list_inner_product(ea.v, eb.v)
                         / (sqrt(list_inner_product(ea.v, ea.v))
                            * sqrt(list_inner_product(eb.v, eb.v))), 6) AS ps
            FROM cand a
            JOIN cand b ON a.query_id = b.query_id
                       AND a.neighbor_id != b.neighbor_id
            JOIN e ea ON ea.vec_id = a.neighbor_id
            JOIN e eb ON eb.vec_id = b.neighbor_id
        ), sel_1 AS MATERIALIZED (
            SELECT query_id, neighbor_id, sim, 1 AS pick_order FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rk
                FROM cand
            ) WHERE rk = 1
        )
    """
    steps = []
    for t in range(2, k + 1):
        steps.append(f"""
        , rem_{t} AS MATERIALIZED (
            SELECT c.* FROM cand c
            LEFT JOIN sel_{t - 1} s USING (query_id, neighbor_id)
            WHERE s.pick_order IS NULL
        ), pen_{t} AS MATERIALIZED (
            SELECT r.query_id, r.neighbor_id, max(p.ps) AS pen
            FROM rem_{t} r
            JOIN psim p ON p.query_id = r.query_id
                       AND p.a_id = r.neighbor_id
            JOIN sel_{t - 1} s ON s.query_id = p.query_id
                              AND s.neighbor_id = p.b_id
            GROUP BY 1, 2
        ), pick_{t} AS MATERIALIZED (
            SELECT query_id, neighbor_id, sim, {t} AS pick_order FROM (
                SELECT r.query_id, r.neighbor_id, r.sim,
                       row_number() OVER (PARTITION BY r.query_id
                           ORDER BY round({lam} * r.sim - {1 - lam} * pen
                                          + 1e-9, 6) DESC,
                                    r.neighbor_id ASC) AS rk
                FROM rem_{t} r JOIN pen_{t} USING (query_id, neighbor_id)
            ) WHERE rk = 1
        ), sel_{t} AS MATERIALIZED (
            SELECT * FROM sel_{t - 1} UNION ALL SELECT * FROM pick_{t}
        )
        """)
    tail = f"""
        SELECT query_id, neighbor_id, sim,
               CAST(pick_order AS BIGINT) AS pick_order
        FROM sel_{k}
    """
    return head + "".join(steps) + tail


@register(
    "mmr_rerank",
    oracle=_mmr_oracle(MMR_K, MMR_POOL, MMR_LAMBDA),
    description="Maximal-marginal-relevance diversified re-ranking "
    "(Carbonell-Goldstein): each query's exact top-20 cosine pool is "
    "greedily re-picked maximizing 0.7*sim(q,d) - 0.3*max sim(d,Sel) "
    "— the retrieval-diversification step between ANN and an LLM "
    "context window (near-duplicate passages waste prompt tokens). "
    "The greedy loop unrolls into 4 relational steps over "
    "(queries x pool)-bounded frames (anti-join, max-penalty agg, "
    "per-query window argmax); the only data-sized stage is the "
    "broadcast top-pool scan. 6dp-rounded sims and neighbor_id "
    "tie-breaks pin the greedy trajectory on both engines; oracle = "
    "the identical unrolled MATERIALIZED CTE steps",
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    return S.mmr_rerank(emb, queries, MMR_K, MMR_POOL, MMR_LAMBDA)


RADIUS_SIM_THRESHOLD = 0.30


@register(
    "knn_radius",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), q AS (
            SELECT * FROM e WHERE vec_id < {KNN_QUERY_MAX_ID}
        )
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_inner_product(q.v, c.v)
                     / (sqrt(list_inner_product(q.v, q.v))
                        * sqrt(list_inner_product(c.v, c.v))), 6) AS sim
        FROM q JOIN e c ON c.vec_id != q.vec_id
        WHERE round(list_inner_product(q.v, c.v)
                    / (sqrt(list_inner_product(q.v, q.v))
                       * sqrt(list_inner_product(c.v, c.v))), 6)
              >= {RADIUS_SIM_THRESHOLD}
    """,
    description="Cosine RANGE search (all neighbors with sim >= "
    f"{RADIUS_SIM_THRESHOLD}): the radius-query twin of "
    "knn_bruteforce's top-k — no per-query rank state at all, so the "
    "plan is broadcast(queries) x one corpus scan with a selective "
    "JVM filter; membership decided on the ROUNDED sim per the "
    "cross-engine parity rule. The retrieval primitive for "
    "'everything similar enough' workloads (dedup candidate recall, "
    "abuse clustering) where k is unknowable a priori",
)
def q_knn_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    return S.radius_search(emb, queries, RADIUS_SIM_THRESHOLD)


@register(
    "map_at_k",
    # Composed from the member pipelines' own oracles (the
    # ann_recall_at_k pattern): relevance = exact top-k, ranking =
    # the LSH index's top-k.
    oracle=f"""
        WITH exact AS (SELECT * FROM ({REGISTRY['knn_bruteforce'].oracle})),
             approx AS (SELECT * FROM ({REGISTRY['knn_lsh'].oracle})),
             marked AS (
                 SELECT a.query_id, a.rank,
                        CASE WHEN e.neighbor_id IS NOT NULL THEN 1
                             ELSE 0 END AS rel
                 FROM approx a
                 LEFT JOIN exact e
                   ON e.query_id = a.query_id
                  AND e.neighbor_id = a.neighbor_id
             ), cum AS (
                 SELECT query_id, rank, rel,
                        sum(rel) OVER (PARTITION BY query_id
                                       ORDER BY rank
                                       ROWS UNBOUNDED PRECEDING)
                            AS cum_rel
                 FROM marked
             )
        SELECT c.query_id,
               CAST((SELECT count(*) FROM exact e
                     WHERE e.query_id = c.query_id) AS BIGINT)
                   AS n_rel,
               round(sum(c.rel * c.cum_rel / CAST(c.rank AS DOUBLE))
                     / (SELECT count(*) FROM exact e
                        WHERE e.query_id = c.query_id) + 1e-9, 6)
                   AS ap
        FROM cum c GROUP BY c.query_id
    """,
    description="Mean-average-precision@k of the LSH index against "
    "the exact top-k relevance set — completes the retrieval-eval "
    "triad (recall@k: did we find them; NDCG: graded position "
    "credit; MAP: binary position credit): AP = mean over relevant "
    "ranks of precision-at-that-rank, from a per-query cumulative "
    "over the BOUNDED k-row ranking. Both member pipelines are "
    "oracle-replayable, so the oracle is COMPOSED from their oracle "
    "strings (zero drift). Per-query rows; k is the registry-wide "
    "KNN_K",
)
def q_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    # both member pipelines are referenced twice downstream (the
    # marked join + the n_rel denominator / the cumulative) — persist
    # their tiny (10 x k)-row outputs or the full cosine/LSH scans
    # re-derive per reference (first measured at 21 s vs ~6 s).
    exact = tracked_persist(
        S.knn_bruteforce(emb, queries, KNN_K).select(
            F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
        )
    )
    approx = tracked_persist(
        S.knn_lsh_md5(emb, queries, KNN_K, 32, 4).select(
            "query_id", "neighbor_id", "rank"
        )
    )
    marked = approx.join(
        exact,
        (F.col("query_id") == F.col("eq"))
        & (F.col("neighbor_id") == F.col("en")),
        "left",
    ).select(
        "query_id",
        "rank",
        F.when(F.col("en").isNotNull(), 1).otherwise(0).alias("rel"),
    )
    wq = Window.partitionBy("query_id").orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = marked.withColumn("cum_rel", F.sum("rel").over(wq))
    nrel = exact.groupBy(F.col("eq").alias("q2")).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    return (
        cum.groupBy("query_id")
        .agg(
            F.sum(
                F.col("rel") * F.col("cum_rel") / F.col("rank").cast("double")
            ).alias("ap_num")
        )
        .join(F.broadcast(nrel), F.col("query_id") == F.col("q2"))
        .select(
            "query_id",
            F.col("n_rel").cast("bigint").alias("n_rel"),
            F.round(F.col("ap_num") / F.col("n_rel") + F.lit(1e-9), 6).alias(
                "ap"
            ),
        )
    )


@register(
    "mrr_eval",
    # Composed from the member pipelines' own oracles (the map_at_k
    # pattern): relevance = exact top-k, ranking = the LSH top-k.
    oracle=f"""
        WITH exact AS (SELECT * FROM ({REGISTRY['knn_bruteforce'].oracle})),
             approx AS (SELECT * FROM ({REGISTRY['knn_lsh'].oracle})),
             marked AS (
                 SELECT a.query_id, a.rank,
                        CASE WHEN e.neighbor_id IS NOT NULL THEN 1
                             ELSE 0 END AS rel
                 FROM approx a
                 LEFT JOIN exact e
                   ON e.query_id = a.query_id
                  AND e.neighbor_id = a.neighbor_id
             ), firsts AS (
                 SELECT query_id,
                        min(CASE WHEN rel = 1 THEN rank END) AS first_rel
                 FROM marked GROUP BY query_id
             )
        SELECT query_id,
               CAST(first_rel AS BIGINT) AS first_rel_rank,
               round(COALESCE(1.0 / first_rel, 0.0) + 1e-9, 6)
                   AS reciprocal_rank
        FROM firsts
    """,
    description="Reciprocal rank of the first relevant hit per query "
    "for the LSH index against the exact top-k relevance set — the "
    "third leg of the retrieval-eval triad next to map_at_k (binary "
    "position credit over ALL relevant hits) and ndcg_eval (graded "
    "credit): MRR is the metric for known-item search, where only "
    "the first correct answer matters. Composed from the member "
    "pipelines' oracle strings (zero drift); a query whose top-k "
    "contains no exact neighbor scores 0 by the standard convention. "
    "Per-query rows from the bounded k-row rankings",
)
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    exact = tracked_persist(
        S.knn_bruteforce(emb, queries, KNN_K).select(
            F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
        )
    )
    approx = S.knn_lsh_md5(emb, queries, KNN_K, 32, 4).select(
        "query_id", "neighbor_id", "rank"
    )
    marked = approx.join(
        exact,
        (F.col("query_id") == F.col("eq"))
        & (F.col("neighbor_id") == F.col("en")),
        "left",
    ).select(
        "query_id",
        "rank",
        F.when(F.col("en").isNotNull(), 1).otherwise(0).alias("rel"),
    )
    firsts = marked.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel")
    )
    return firsts.select(
        "query_id",
        F.col("first_rel").cast("bigint").alias("first_rel_rank"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("reciprocal_rank"),
    )


@register(
    "knn_sq8",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), sc AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS s
            FROM e
        ), q AS (
            SELECT vec_id,
                   list_transform(v, x -> CAST(round(x * 127.0 / s)
                                               AS BIGINT)) AS q8
            FROM sc WHERE s > 0
        ), n AS (
            SELECT vec_id, q8,
                   list_inner_product(q8, q8) AS nrm
            FROM q
        ), qs AS (
            SELECT * FROM n WHERE vec_id < {KNN_QUERY_MAX_ID}
        ), scored AS (
            SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_inner_product(qs.q8, c.q8)
                         / (sqrt(qs.nrm) * sqrt(c.nrm)), 6) AS sim_sq8
            FROM qs JOIN n c ON c.vec_id != qs.vec_id
        )
        SELECT query_id, neighbor_id, sim_sq8, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY sim_sq8 DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {KNN_K}
    """,
    description="Scalar-quantized (int8) cosine top-k — the STORAGE "
    "path for 100 TB vector search: per-vector symmetric quantization "
    "q_i = round(127 * x_i / max|x|) cuts the corpus to a quarter of "
    "float32 (an IVF cell holds 4x more vectors per executor page), "
    "and the int8-cosine ranking is computed entirely in INTEGER dot "
    "products (exact cross-engine; one sqrt/divide double conversion "
    "per pair, identical both sides) — so unlike the PQ/LSH members "
    "this sketch is oracle-HASH-checked, not rows-only. Same "
    "broadcast-queries/one-corpus-scan shape as knn_bruteforce; "
    "recall vs the exact float ranking pinned in pytest. Zero-scale "
    "vectors are excluded identically on both engines",
)
def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", v.alias("v"))
    base = base.withColumn(
        "s", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).filter(F.col("s") > 0)
    q8 = base.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x * 127.0 / F.col("s")).cast("long")
        ).alias("q8"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = q8.select("vec_id", "q8", dot(F.col("q8"), F.col("q8")).alias("nrm"))
    qs = n.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        F.col("vec_id").alias("query_id"),
        F.col("q8").alias("qq"),
        F.col("nrm").alias("qn"),
    )
    scored = F.broadcast(qs).join(
        n, F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("qq"), F.col("q8")).cast("double")
            / (
                F.sqrt(F.col("qn").cast("double"))
                * F.sqrt(F.col("nrm").cast("double"))
            ),
            6,
        ).alias("sim_sq8"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_sq8").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", "sim_sq8", "rank")
    )


SIL_CELLS = 8


@register(
    "silhouette_simplified",
    oracle=f"""
        WITH a AS (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cell,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {SIL_CELLS}
        ), e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), s AS (
            SELECT e.vec_id, a.cell,
                   list_inner_product(e.v, a.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(a.c, a.c))) AS sim
            FROM e, a
        ), rk AS (
            SELECT vec_id, cell, sim,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY sim DESC, cell ASC) AS rk
            FROM s
        ), pv AS (
            SELECT vec_id,
                   max(CASE WHEN rk = 1 THEN sim END) AS s1,
                   max(CASE WHEN rk = 2 THEN sim END) AS s2,
                   max(CASE WHEN rk = 1 THEN cell END) AS cell
            FROM rk GROUP BY vec_id
        ), per_vec AS (
            SELECT cell,
                   round(CASE WHEN greatest(1 - s1, 1 - s2) > 0
                              THEN (s1 - s2) / greatest(1 - s1, 1 - s2)
                              ELSE 0 END + 1e-9, 6) AS sil,
                   round(1 - s1 + 1e-9, 6) AS da,
                   round(1 - s2 + 1e-9, 6) AS db
            FROM pv
        )
        SELECT CAST(cell AS INT) AS cell,
               CAST(count(*) AS BIGINT) AS n_vecs,
               round(avg(sil) + 1e-9, 6) AS mean_sil,
               round(avg(da) + 1e-9, 6) AS mean_a,
               round(avg(db) + 1e-9, 6) AS mean_b
        FROM per_vec GROUP BY cell
    """,
    description="Clustering-quality eval for the ANN cell layout: "
    "SIMPLIFIED silhouette (centroid-based — a = cosine distance to "
    "the assigned centroid, b = distance to the nearest OTHER "
    "centroid, s = (b-a)/max(a,b); the established linear-time proxy "
    "for full silhouette, which would be all-pairs) over the same "
    "md5-smallest-anchor centroids used by streaming_ann_ingest / "
    "knn_ivf_indexed, reported per cell with mean intra/nearest-other "
    "distances. One corpus scan against the broadcast nested-array "
    "centroid row (zero-shuffle scoring, the assign_cells idiom), "
    "then one bounded-cardinality agg (<= 8 cells); at 100 TB the "
    "corpus never shuffles and the result is centroid-count-sized. "
    "Full-silhouette would need within-cell all-pairs — deliberately "
    "avoided; per-row values round to 6 before the mean on both "
    "engines so membership and sums stay cross-engine identical",
)
def q_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    anchors = (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(SIL_CELLS)
        .collect()
    )
    anchors.sort(key=lambda r: (r.h, r.vec_id))
    nested = [[float(v) for v in r.embedding] for r in anchors]
    cdf = local_frame(spark, [(nested,)], "cents array<array<double>>")
    sims = F.transform(
        F.col("cents"),
        lambda cent: S.cosine_similarity(
            F.col("embedding").cast("array<double>"), cent
        ),
    )
    top = F.sort_array(sims, asc=False)
    s1, s2 = top[0], top[1]
    denom = F.greatest(F.lit(1.0) - s1, F.lit(1.0) - s2)
    sil = F.when(denom > 0, (s1 - s2) / denom).otherwise(F.lit(0.0))
    per_vec = (
        emb.crossJoin(F.broadcast(cdf))
        .select(
            (F.array_position(sims, F.array_max(sims)) - 1)
            .cast("int")
            .alias("cell"),
            F.round(sil + F.lit(1e-9), 6).alias("sil"),
            F.round(F.lit(1.0) - s1 + F.lit(1e-9), 6).alias("da"),
            F.round(F.lit(1.0) - s2 + F.lit(1e-9), 6).alias("db"),
        )
    )
    return per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(F.avg("sil") + F.lit(1e-9), 6).alias("mean_sil"),
        F.round(F.avg("da") + F.lit(1e-9), 6).alias("mean_a"),
        F.round(F.avg("db") + F.lit(1e-9), 6).alias("mean_b"),
    )
