"""Training-data curation, sampling, governance, audits.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



@register(
    "train_test_split",
    oracle="""
        SELECT doc_id,
               (substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd') AS is_train
        FROM documents
    """,
    description="Deterministic hash-based train/test split (~81/19 via "
    "first md5 hex char < 'd') — stable across engines, runs, and "
    "repartitioning; the reproducible-split contract a training "
    "pipeline needs (no sampling RNG)",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < F.lit("d")
        ).alias("is_train"),
    )


@register(
    "training_data_prep",
    oracle=f"""
        WITH keeps AS (
            SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)
        ), m AS (
            SELECT doc_id,
                   len(str_split(lower(text), ' ')) AS n_tok,
                   len(list_distinct(str_split(lower(text), ' '))) AS n_uniq
            FROM documents
        )
        SELECT d.doc_id,
               (substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'd') AS is_train
        FROM documents d
        JOIN keeps ON d.doc_id = keeps.keep_id
        JOIN m ON m.doc_id = d.doc_id
        WHERE m.n_tok >= 5 AND m.n_tok <= 1000
          AND m.n_uniq::DOUBLE / m.n_tok > 0.3
    """,
    description="Capstone pipeline composition: quality filter → "
    "exact-dedup (keep canonical) → deterministic train/test split — "
    "the minimal end-to-end training-data prep, one declarative plan "
    "(Catalyst fuses the stages; no materialization between steps)",
)
def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    quality = T.quality_score(docs).filter(F.col("keep")).select("doc_id")
    canonical = D.exact_dup_groups(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    return (
        docs.select("doc_id")
        .join(quality, "doc_id")
        .join(canonical, "doc_id")
        .select(
            "doc_id",
            (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < F.lit("d")
            ).alias("is_train"),
        )
    )


@register(
    "doc_chunks",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), c AS (
            SELECT doc_id, tok,
                   unnest(generate_series(0,
                       CAST(greatest(ceil((len(tok) - 64 + 48) / 48.0), 1)
                            AS INTEGER) - 1)) AS chunk_idx
            FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(len(tok[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
                   AS n_tokens,
               array_to_string(tok[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
                   AS chunk_text
        FROM c
    """,
    description="LLM-training chunking: overlapping 64-token windows "
    "(stride 48) per document — pure-SQL fanout, chunk rows never carry "
    "the whole document",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.chunk_documents(docs, 64, 48)


@register(
    "sequence_pack",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), c AS (
            SELECT doc_id, tok,
                   unnest(generate_series(0,
                       CAST(greatest(ceil((len(tok) - 64 + 48) / 48.0), 1)
                            AS INTEGER) - 1)) AS chunk_idx
            FROM t
        ), ch AS (
            SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                   CAST(len(tok[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
                       AS n_tokens
            FROM c
        )
        SELECT doc_id % 16 AS shard, doc_id, chunk_idx, n_tokens,
               CAST(floor((sum(n_tokens) OVER (
                       PARTITION BY doc_id % 16 ORDER BY doc_id, chunk_idx
                       ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
                   AS seq_id
        FROM ch
    """,
    description="Greedy contiguous sequence packing to ~512-token "
    "training sequences, sharded for parallelism — running-sum window, "
    "one shuffle by shard",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.pack_chunks(T.chunk_documents(docs, 64, 48), 512, 16)


# ===========================================================================
# Pipeline hygiene ops (north-star §7): contamination-safe splitting,
# deterministic downsampling, PII scrubbing
# ===========================================================================


@register(
    "split_leakage_free",
    oracle=f"""
        WITH RECURSIVE p AS ({_NGRAM_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM p
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        cc(node, root) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, cc.root FROM cc JOIN edges e ON cc.node = e.src
        ),
        labels AS (
            SELECT node AS doc_id, min(root) AS cluster_id FROM cc GROUP BY node
        )
        SELECT d.doc_id,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id,
               (substr(md5(CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
                < 'd') AS is_train
        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    """,
    description="Leakage-free train/test split: near-dup clusters "
    "(connected components over ngram-Jaccard pairs) move into a split "
    "WHOLE — no doc trains on its test-set near-duplicate. Deterministic "
    "md5 split applied to the cluster id",
)
def q_split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, 3, NGRAM_JACCARD_THRESHOLD)
    return D.leakage_free_split(docs, pairs)


@register(
    "stratified_sample",
    oracle="""
        SELECT doc_id, lang
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < (CASE WHEN lang = 'en' THEN '40' ELSE 'g' END)
    """,
    description="Deterministic stratified downsampling (sampleBy twin): "
    "keep 25% of the overrepresented stratum (en), 100% of the rest, by "
    "md5-prefix cutoff — reproducible across runs/partitionings/engines, "
    "no RNG seed",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.stratified_sample(
        docs, "lang", {"en": 0.25}, default_frac=1.0
    ).select("doc_id", "lang")


@register(
    "pii_scrub",
    oracle="""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                       '<IP>', 'g'),
                   '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g')
                   AS scrubbed_text,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       ' ', 'g'),
                   '\\+?[0-9][0-9()\\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(text,
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT)
                   AS n_ipv4
        FROM documents
    """,
    description="PII scrub (pre-training hygiene): redact emails / IPv4 / "
    "phone numbers with counts — pure JVM regexp projection, patterns "
    "chosen to behave identically under Java regex and RE2",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.pii_scrub(docs)


@register(
    "decontaminate",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, array_to_string(tok[i : i + 4], ' ') AS g
            FROM t, unnest(generate_series(1, len(tok) - 4)) AS u(i)
        ),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
        hits AS (
            SELECT s.doc_id, count(*) AS n FROM sh s JOIN bench USING (g)
            WHERE s.doc_id % 20 <> 0 GROUP BY s.doc_id
        )
        SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 20 <> 0
    """,
    description="Benchmark decontamination: training docs sharing any "
    "5-gram with the held-out benchmark slice (doc_id%20=0 stands in "
    "for an eval suite) are flagged. Shingle xxhash64 equi-join — the "
    "benchmark side is tiny by nature, so it broadcasts and the corpus "
    "never shuffles; strings never materialize Spark-side",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return D.decontaminate(corpus, benchmark, n=5)


@register(
    "training_data_prep_v2",
    oracle="""
        WITH corpus AS (
            SELECT * FROM documents WHERE doc_id % 20 <> 0
        ), keeps AS (
            SELECT min(doc_id) AS keep_id FROM corpus GROUP BY md5(text)
        ), m AS (
            SELECT doc_id,
                   len(str_split(lower(text), ' ')) AS n_tok,
                   len(list_distinct(str_split(lower(text), ' '))) AS n_uniq
            FROM corpus
        ), t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, array_to_string(tok[i : i + 4], ' ') AS g
            FROM t, unnest(generate_series(1, len(tok) - 4)) AS u(i)
        ), bench AS (
            SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0
        ), contam AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (g)
            WHERE s.doc_id % 20 <> 0
        ), g3 AS (
            SELECT doc_id, array_to_string(tok[i : i + 2], ' ') AS g
            FROM t, unnest(generate_series(1, len(tok) - 2)) AS u(i)
            WHERE doc_id % 20 <> 0
        ), per AS (
            SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g
        ), rep AS (
            SELECT doc_id,
                   round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
                         / CAST(sum(c) AS DOUBLE), 6) AS dup_frac
            FROM per GROUP BY doc_id
        )
        SELECT d.doc_id,
               (substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'd') AS is_train
        FROM corpus d
        JOIN keeps ON d.doc_id = keeps.keep_id
        JOIN m ON m.doc_id = d.doc_id
        LEFT JOIN rep ON rep.doc_id = d.doc_id
        WHERE m.n_tok >= 5 AND m.n_tok <= 1000
          AND m.n_uniq::DOUBLE / m.n_tok > 0.3
          AND d.doc_id NOT IN (SELECT doc_id FROM contam)
          AND coalesce(rep.dup_frac, 0) <= 0.3
    """,
    description="Capstone v2 — the full pre-training data-prep chain "
    "in ONE declarative plan: quality filter ∘ exact-dedup (canonical "
    "keep) ∘ benchmark decontamination ∘ repetition filter ∘ "
    "deterministic split. Catalyst fuses all five stages: the corpus "
    "is a single scan feeding the filters as semi/anti joins; no "
    "materialization between steps",
)
def q_training_data_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    quality = T.quality_score(corpus).filter(F.col("keep")).select("doc_id")
    canonical = D.exact_dup_groups(corpus).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    clean = (
        D.decontaminate(corpus, benchmark, n=5)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    rep = T.repetition_score(corpus, n=3).select("doc_id", "dup_frac")
    return (
        corpus.select("doc_id")
        .join(quality, "doc_id")
        .join(canonical, "doc_id")
        .join(clean, "doc_id")
        .join(rep, "doc_id", "left")
        .filter(F.coalesce(F.col("dup_frac"), F.lit(0.0)) <= 0.3)
        .select(
            "doc_id",
            (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < F.lit("d")
            ).alias("is_train"),
        )
    )


@register(
    "domain_mix",
    oracle="""
        SELECT source, doc_id FROM documents
        WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 0
           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '66'
    """,
    description="§7 pipeline — domain mixing to target proportions: "
    "high-tier sources (even ids) kept whole, low-tier thinned to "
    "102/256 ≈ 40% by a deterministic md5 cutoff (same 1/256-"
    "granularity device as stratified_sample, so membership is "
    "engine-identical and re-runs are stable). The knob that turns a "
    "raw crawl into a weighted training mix; filter is one JVM "
    "predicate on the scan — no shuffle, no sampling state",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tier_keep = F.substring("source", 4, 10).cast("int") % 2 == 0
    thin = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2) < "66"
    return docs.filter(tier_keep | thin).select("source", "doc_id")


@register(
    "upsample_mix",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 1
                        THEN 2 ELSE 1 END
                   + CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 1
                          AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
                          THEN 1 ELSE 0 END AS reps
            FROM documents
        )
        SELECT doc_id, source,
               CAST(unnest(generate_series(1, reps)) AS BIGINT) AS epoch
        FROM w
    """,
    description="§7 pipeline — the UP-sampling half of temperature "
    "mixing (domain_mix thins; this one repeats): odd-tier sources get "
    "weight 2.5 as 2 guaranteed epochs + a deterministic md5 half-coin "
    "for the third, even tiers 1 epoch. Map-side sequence explode, "
    "fanout = mixture weight, membership engine-identical and stable "
    "across re-runs — how Wikipedia-x3-style mixes are materialized",
)
def q_upsample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tier_odd = F.substring("source", 4, 10).cast("int") % 2 == 1
    coin = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
        < "80"
    )
    reps = F.when(tier_odd, F.lit(2)).otherwise(F.lit(1)) + F.when(
        tier_odd & coin, F.lit(1)
    ).otherwise(F.lit(0))
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), reps)).alias("epoch"),
    ).withColumn("epoch", F.col("epoch").cast("bigint"))


@register(
    "importance_sample",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), m AS (
            SELECT doc_id, len(tok) AS n_tok,
                   len(list_distinct(tok)) AS n_uniq,
                   len(list_filter(tok, x -> x IN ('{_STOPWORD_SQL}'))) AS n_stop
            FROM t
        ), q AS (
            SELECT doc_id,
                   round(0.5 * (n_uniq::DOUBLE / n_tok)
                         + 0.3 * least(n_tok / 100.0, 1.0)
                         + 0.2 * (1.0 - n_stop::DOUBLE / n_tok), 6) AS quality
            FROM m
        )
        SELECT doc_id,
               round(((doc_id % 1000003) * 2654435761 % 1000000)
                     / 1000000.0, 6) AS u,
               quality AS weight,
               (((doc_id % 1000003) * 2654435761 % 1000000)
                / 1000000.0) < quality AS kept
        FROM q
    """,
    description="Deterministic quality-weighted sampling: keep-probability "
    "= quality score, coin flip = Knuth multiplicative hash of doc_id "
    "(no RNG) — reproducible across engines/runs/repartitioning, "
    "stable under corpus growth; pure map-side expressions",
)
def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.importance_sample(docs)


@register(
    "table_profile",
    oracle="""
        SELECT 'o_orderkey' AS column_name,
               CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL SELECT 'o_custkey', count(*) - count(o_custkey),
               count(DISTINCT o_custkey) FROM orders
        UNION ALL SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus) FROM orders
        UNION ALL SELECT 'o_totalprice', count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice) FROM orders
        UNION ALL SELECT 'o_orderdate', count(*) - count(o_orderdate),
               count(DISTINCT o_orderdate) FROM orders
        UNION ALL SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority) FROM orders
    """,
    description="Single-scan table profiler: every column unpivoted to "
    "(column_name, value-as-string) in one pass — string casts are "
    "injective so per-column distinct/null counts equal the native "
    "ones — then one hash agg; the oracle's 6 per-column scans "
    "collapse to 1, the first step of any ingest QA / drift monitor",
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cols = orders.columns
    cells = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("cell")
    ).select("cell.column_name", "cell.v")
    return cells.groupBy("column_name").agg(
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.count_distinct("v").cast("bigint").alias("n_distinct"),
    )


_DQ_RULES: list[tuple[str, str]] = [
    # (rule name, SQL boolean that must hold; shared verbatim by both
    # engines so the violation sets are definitionally identical)
    ("totalprice_positive", "o_totalprice > 0"),
    ("totalprice_under_cap", "o_totalprice < 400000"),
    ("status_known", "o_orderstatus IN ('F', 'O', 'P')"),
    ("priority_has_dash", "o_orderpriority LIKE '%-%'"),
    ("date_before_2001", "o_orderdate < TIMESTAMP '2001-01-01'"),
]


@register(
    "dq_rules",
    oracle=f"""
        WITH checks AS (
            {" UNION ALL ".join(
                f"SELECT '{n}' AS rule_name, "
                f"count(*) AS n_rows, "
                f"count(*) FILTER (WHERE NOT coalesce(({c}), false)) "
                f"AS n_violations FROM orders"
                for n, c in _DQ_RULES
            )}
        )
        SELECT rule_name, CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_violations AS BIGINT) AS n_violations,
               round(n_violations::DOUBLE / n_rows, 6) AS violation_rate,
               n_violations = 0 AS passed
        FROM checks
    """,
    description="Declarative data-quality audit (Deequ/expectations "
    "shape): N boolean rules evaluated in ONE scan — each row explodes "
    "to (rule, violated?) pairs and a single partial-agg groupBy "
    "yields per-rule violation counts/rates; the oracle's N per-rule "
    "scans collapse to 1. NULL rule results count as violations "
    "(three-valued logic pinned on both engines)",
)
def q_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cells = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("rule_name"),
                        (~F.coalesce(F.expr(c), F.lit(False)))
                        .alias("violated"),
                    )
                    for n, c in _DQ_RULES
                ]
            )
        ).alias("chk")
    ).select("chk.rule_name", "chk.violated")
    return (
        cells.groupBy("rule_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("violated").cast("int")).cast("bigint").alias(
                "n_violations"
            ),
        )
        .select(
            "rule_name",
            "n_rows",
            "n_violations",
            F.round(F.col("n_violations") / F.col("n_rows"), 6).alias(
                "violation_rate"
            ),
            (F.col("n_violations") == 0).alias("passed"),
        )
    )


NEG_CANDIDATES = 10
NEG_PER_USER = 5


@register(
    "negative_sampling",
    oracle=f"""
        WITH seen AS (
            SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
        cust AS (SELECT DISTINCT o_custkey AS ck FROM orders),
        cand AS (
            SELECT ck, i,
                   ('0x' || substr(md5(CAST(ck AS VARCHAR) || '#'
                        || CAST(i AS VARCHAR)), 1, 8))::BIGINT % n AS pk
            FROM cust, (SELECT unnest(range({NEG_CANDIDATES})) AS i) g, np
        ), neg AS (
            SELECT c.ck, c.pk,
                   row_number() OVER (PARTITION BY c.ck ORDER BY c.i) AS rk
            FROM cand c ANTI JOIN seen s ON c.ck = s.ck AND c.pk = s.pk
        )
        SELECT ck AS custkey, pk AS neg_partkey, CAST(rk AS BIGINT) AS rk
        FROM neg WHERE rk <= {NEG_PER_USER}
    """,
    description="Deterministic negative sampling for contrastive/"
    "recommender training: per customer, 10 md5-derived candidate "
    "parts, anti-joined against the truly-purchased set, first 5 "
    "survivors kept in coin order — reproducible negatives with no "
    "RNG state, the standard (user, unseen-item) pair generator. "
    "Candidate volume is |customers|×10 (bounded fan-out, never "
    "customers×parts); the anti-join runs on the distinct "
    "(customer, part) purchase set",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    seen = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("s_ck"), F.col("l_partkey").alias("s_pk"))
        .distinct()
    )
    np_ = part.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cust = orders.select(F.col("o_custkey").alias("ck")).distinct()
    coin = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("ck").cast("string"), F.lit("#"), F.col("i").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    cand = (
        cust.select(
            "ck",
            F.explode(F.sequence(F.lit(0), F.lit(NEG_CANDIDATES - 1))).alias("i"),
        )
        .crossJoin(F.broadcast(np_))
        .select("ck", "i", (coin % F.col("n")).alias("pk"))
    )
    neg = cand.join(
        seen,
        (F.col("ck") == F.col("s_ck")) & (F.col("pk") == F.col("s_pk")),
        "left_anti",
    )
    w = Window.partitionBy("ck").orderBy("i")
    return (
        neg.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= NEG_PER_USER)
        .select(
            F.col("ck").alias("custkey"),
            F.col("pk").alias("neg_partkey"),
            "rk",
        )
    )


@register(
    "source_overlap",
    oracle="""
        WITH t AS (
            SELECT source, str_split(lower(text), ' ') AS tok FROM documents
        ), e0 AS (
            SELECT source, unnest(list_distinct(list_transform(
                       generate_series(1, len(tok) - 2),
                       i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])))
                   AS shingle
            FROM t WHERE len(tok) >= 3
        ), e AS (SELECT DISTINCT source, shingle FROM e0),
        sizes AS (SELECT source, count(*) AS n FROM e GROUP BY source),
        inter AS (
            SELECT a.source AS sa, b.source AS sb, count(*) AS ni
            FROM e a JOIN e b ON a.shingle = b.shingle AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT sa AS source_a, sb AS source_b,
               CAST(ni AS BIGINT) AS n_shared_shingles,
               round(ni * 1.0 / (za.n + zb.n - ni) + 1e-9, 6) AS jaccard
        FROM inter JOIN sizes za ON za.source = sa
        JOIN sizes zb ON zb.source = sb
    """,
    description="Cross-source corpus overlap (syndication audit): "
    "word-trigram shingle Jaccard between every source pair — the "
    "curation signal for source-level dedup priorities (the fixture "
    "has zero EXACT cross-source duplicates, probed, so hash-identity "
    "overlap would be degenerate; shingle overlap measures the real "
    "shared-content mass). The pair join runs on distinct (source, "
    "shingle) rows — |sources|×shingle-vocab, never |docs|²; shingle "
    "strings stay pre-aggregated per source before the join; source "
    "sizes broadcast",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = F.split(F.lower(F.col("text")), " ")
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(split(lower(text), ' ')) - 3), "
            "i -> concat_ws(' ', split(lower(text), ' ')[i], "
            "split(lower(text), ' ')[i+1], split(lower(text), ' ')[i+2]))"
        )
    )
    e = tracked_persist(
        docs.filter(F.size(tok) >= 3)
        .select("source", F.explode(sh).alias("shingle"))
        .distinct()
    )
    sizes = e.groupBy(F.col("source").alias("z_source")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = e.select(F.col("source").alias("source_a"), "shingle")
    b = e.select(
        F.col("source").alias("source_b"), F.col("shingle").alias("sh_b")
    )
    inter = (
        a.join(
            b,
            (F.col("shingle") == F.col("sh_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    za = sizes.select(
        F.col("z_source").alias("za_source"), F.col("n").alias("na")
    )
    zb = sizes.select(
        F.col("z_source").alias("zb_source"), F.col("n").alias("nb")
    )
    return (
        inter.join(F.broadcast(za), F.col("source_a") == F.col("za_source"))
        .join(F.broadcast(zb), F.col("source_b") == F.col("zb_source"))
        .select(
            "source_a",
            "source_b",
            F.col("ni").cast("bigint").alias("n_shared_shingles"),
            F.round(
                F.col("ni") * 1.0 / (F.col("na") + F.col("nb") - F.col("ni"))
                + F.lit(1e-9),
                6,
            ).alias("jaccard"),
        )
    )


KFOLD_K = 5


@register(
    "kfold_assign",
    oracle=f"""
        WITH f AS (
            SELECT lang,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fold'),
                    1, 8))::BIGINT % {KFOLD_K} AS fold
            FROM documents
        ), tot AS (SELECT lang, count(*) AS n FROM f GROUP BY lang)
        SELECT f.lang, fold, CAST(count(*) AS BIGINT) AS n_docs,
               round(count(*) * 1.0 / n + 1e-9, 4) AS share
        FROM f JOIN tot USING (lang)
        GROUP BY f.lang, fold, n
    """,
    description="Deterministic stratified k-fold assignment (md5 coin "
    "% k per doc, audited per language stratum with fold shares) — "
    "the cross-validation companion to train_test_split: "
    "reproducible across runs/partitionings/engines, no RNG state. "
    "One scan + a strata×k-sized aggregate; the fold column is what a "
    "training pipeline writes, the share audit is what it monitors",
)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("fold"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % KFOLD_K
    )
    f = docs.select("lang", fold.alias("fold"))
    tot = f.groupBy(F.col("lang").alias("t_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        f.groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(F.broadcast(tot), F.col("lang") == F.col("t_lang"))
        .select(
            "lang",
            "fold",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("n") + F.lit(1e-9), 4).alias(
                "share"
            ),
        )
    )


@register(
    "join_explosion_audit",
    oracle="""
        WITH lo AS (SELECT o_orderkey AS k, count(*) AS n_o
                    FROM orders GROUP BY 1),
        ll AS (SELECT l_orderkey AS k, count(*) AS n_l
               FROM lineitem GROUP BY 1),
        m AS (
            SELECT coalesce(lo.k, ll.k) AS k,
                   coalesce(n_o, 0) AS n_o, coalesce(n_l, 0) AS n_l
            FROM lo FULL OUTER JOIN ll ON lo.k = ll.k
        )
        SELECT CAST(sum(n_o) AS BIGINT) AS left_rows,
               CAST(sum(n_l) AS BIGINT) AS right_rows,
               CAST(sum(n_o * n_l) AS BIGINT) AS join_rows,
               CAST(max(n_o * n_l) AS BIGINT) AS max_key_output,
               CAST(sum(CASE WHEN n_o > 0 AND n_l = 0 THEN n_o ELSE 0 END)
                    AS BIGINT) AS left_unmatched,
               CAST(sum(CASE WHEN n_l > 0 AND n_o = 0 THEN n_l ELSE 0 END)
                    AS BIGINT) AS right_unmatched,
               round(sum(n_o * n_l) * 1.0
                     / nullif(greatest(sum(n_o), sum(n_l)), 0) + 1e-9, 4)
                   AS amplification
        FROM m
    """,
    description="Join-explosion pre-flight: the EXACT output "
    "cardinality of orders⋈lineitem computed WITHOUT running the join "
    "— per-key counts from each side, a key-cardinality full outer "
    "merge, Σ n_l·n_r plus the worst single key and unmatched-row "
    "tallies. The companion to key_skew_profile in the 100 TB "
    "pre-flight kit (run both before committing to a shuffle plan); "
    "cost is two partial-agg scans + a key-sized merge, never the "
    "join itself",
)
def q_join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lo = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    ll = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    m = (
        lo.join(ll, "k", "full_outer")
        .select(
            F.coalesce(F.col("n_o"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("n_l"), F.lit(0)).alias("n_l"),
        )
    )
    prod = F.col("n_o") * F.col("n_l")
    return m.agg(
        F.sum("n_o").cast("bigint").alias("left_rows"),
        F.sum("n_l").cast("bigint").alias("right_rows"),
        F.sum(prod).cast("bigint").alias("join_rows"),
        F.max(prod).cast("bigint").alias("max_key_output"),
        F.sum(
            F.when((F.col("n_o") > 0) & (F.col("n_l") == 0), F.col("n_o")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("left_unmatched"),
        F.sum(
            F.when((F.col("n_l") > 0) & (F.col("n_o") == 0), F.col("n_l")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("right_unmatched"),
        F.round(
            F.sum(prod)
            / F.nullif(F.greatest(F.sum("n_o"), F.sum("n_l")), F.lit(0))
            + F.lit(1e-9),
            4,
        ).alias("amplification"),
    )


@register(
    "lateness_audit",
    oracle="""
        WITH arr AS (
            SELECT event_type, ts,
                   max(ts) OVER (
                       PARTITION BY event_type
                       ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                 1, 8))::BIGINT, event_id
                       ROWS UNBOUNDED PRECEDING) AS high_water
            FROM events
        ), lat AS (
            SELECT event_type,
                   CAST(date_diff('second', ts, high_water) AS DOUBLE)
                       AS late_s
            FROM arr
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late,
               round(max(late_s), 0) AS max_late_s,
               round(quantile_cont(late_s, 0.99), 0) AS p99_late_s
        FROM lat GROUP BY event_type
    """,
    description="Watermark-sizing audit: each event's lateness is the "
    "high-water-mark ts at its ARRIVAL minus its own ts (an ordered "
    "running max per type — the exact quantity a Structured Streaming "
    "watermark bounds). The fixture stores events already ts-sorted "
    "(zero lateness — nothing to size), so arrival order is a "
    "deterministic md5 permutation of event_id simulating network "
    "reordering, identical on both engines. Emits late-row counts and "
    "max/p99 lateness per type — the empirical basis for choosing "
    "withWatermark delay (streaming_dedup/sessionize docstrings point "
    "here). One ordered window pass + a bounded per-type aggregate",
)
def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    arrival = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = (
        Window.partitionBy("event_type")
        .orderBy(arrival, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late_s = (
        F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp(F.col("ts"))
    ).cast("double")
    lat = events.select("event_type", late_s.alias("late_s"))
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.round(F.max("late_s"), 0).alias("max_late_s"),
        F.round(F.expr("percentile(late_s, 0.99)"), 0).alias("p99_late_s"),
    )


WEIGHTED_SAMPLE_K = 200


@register(
    "weighted_sample",
    oracle=f"""
        SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars,
                   ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'),
                        1, 8))::BIGINT + 1) / 4294967296.0) / n_chars AS k
            FROM documents WHERE n_chars > 0
        ) ORDER BY k DESC, doc_id LIMIT {WEIGHTED_SAMPLE_K}
    """,
    description="Weighted sampling WITHOUT replacement via "
    "Efraimidis–Spirakis A-ES: each doc gets key u^(1/w) (equivalently "
    "rank by ln(u)/w), u a deterministic md5 coin, w = n_chars; the "
    "top-k by key IS a weight-proportional sample — the "
    "training-data-mixing primitive when Poisson/Bernoulli sampling "
    "(importance_sample) must not duplicate or drop the target count. "
    "One scan + TakeOrderedAndProject (no global sort); deterministic "
    "doc_id tiebreak. Adjacent-key gaps (~1/n) dwarf cross-engine "
    "ln() ulp differences, so the selected SET is stable",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("ws"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    return (
        docs.select(
            "doc_id", "lang", "n_chars", (F.log(u) / F.col("n_chars")).alias("__k")
        )
        .orderBy(F.col("__k").desc(), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        .drop("__k")
    )


@register(
    "key_skew_profile",
    oracle="""
        WITH fp AS (SELECT l_partkey AS k, count(*) AS cnt
                    FROM lineitem GROUP BY 1),
        fs AS (SELECT l_suppkey AS k, count(*) AS cnt
               FROM lineitem GROUP BY 1),
        fc AS (SELECT o_custkey AS k, count(*) AS cnt
               FROM orders GROUP BY 1),
        prof AS (
            SELECT 'lineitem.l_partkey' AS key_name,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(max(cnt) AS BIGINT) AS max_freq,
                   (SELECT min(k) FROM fp
                    WHERE cnt = (SELECT max(cnt) FROM fp)) AS heavy_key,
                   round(quantile_cont(cnt, 0.99), 2) AS p99_freq
            FROM fp
            UNION ALL
            SELECT 'lineitem.l_suppkey', CAST(sum(cnt) AS BIGINT),
                   CAST(count(*) AS BIGINT), CAST(max(cnt) AS BIGINT),
                   (SELECT min(k) FROM fs
                    WHERE cnt = (SELECT max(cnt) FROM fs)),
                   round(quantile_cont(cnt, 0.99), 2)
            FROM fs
            UNION ALL
            SELECT 'orders.o_custkey', CAST(sum(cnt) AS BIGINT),
                   CAST(count(*) AS BIGINT), CAST(max(cnt) AS BIGINT),
                   (SELECT min(k) FROM fc
                    WHERE cnt = (SELECT max(cnt) FROM fc)),
                   round(quantile_cont(cnt, 0.99), 2)
            FROM fc
        )
        SELECT key_name, n_rows, n_keys, max_freq, heavy_key, p99_freq,
               round(max_freq * n_keys * 1.0 / n_rows + 1e-9, 4)
                   AS skew_ratio
        FROM prof
    """,
    description="Join-key skew diagnostics — the pre-flight check a "
    "100 TB pipeline runs BEFORE choosing a join strategy (salt? AQE "
    "skew join? broadcast?): per candidate key, row/key counts, the "
    "heaviest key and its frequency, p99 frequency, and "
    "max_freq/(n_rows/n_keys) — the hot-partition amplification "
    "factor. Each profile is one groupBy(key) count plus a key-space-"
    "sized aggregate; the heavy-key argmax decorrelates into a "
    "broadcast max joined back (min-key tiebreak). 1 row per audited "
    "key, any table size",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def profile(df: DataFrame, key: str, key_name: str) -> DataFrame:
        freq = tracked_persist(
            df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
        )
        top = freq.agg(F.max("cnt").alias("__mx"))
        heavy = (
            freq.join(F.broadcast(top), freq["cnt"] == F.col("__mx"))
            .agg(F.min("k").alias("heavy_key"))
        )
        return (
            freq.agg(
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("cnt").cast("bigint").alias("max_freq"),
                F.round(F.expr("percentile(cnt, 0.99)"), 2).alias("p99_freq"),
            )
            .crossJoin(F.broadcast(heavy))
            .select(
                F.lit(key_name).alias("key_name"),
                "n_rows",
                "n_keys",
                "max_freq",
                "heavy_key",
                "p99_freq",
                F.round(
                    F.col("max_freq") * F.col("n_keys") / F.col("n_rows")
                    + F.lit(1e-9),
                    4,
                ).alias("skew_ratio"),
            )
        )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        profile(li, "l_partkey", "lineitem.l_partkey")
        .unionByName(profile(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(profile(orders, "o_custkey", "orders.o_custkey"))
    )


K_ANON = 5


@register(
    "k_anonymity_ladder",
    oracle=f"""
        WITH q AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 100) AS BIGINT) AS bal100,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal1000
            FROM customer
        ), lvl AS (
            SELECT 0 AS level,
                   c_nationkey::VARCHAR || '|' || c_mktsegment
                       || '|' || bal100::VARCHAR AS grp, c_custkey
            FROM q
            UNION ALL
            SELECT 1, c_nationkey::VARCHAR || '|' || c_mktsegment
                       || '|' || bal1000::VARCHAR, c_custkey FROM q
            UNION ALL
            SELECT 2, c_nationkey::VARCHAR || '|' || c_mktsegment,
                   c_custkey FROM q
            UNION ALL
            SELECT 3, c_mktsegment, c_custkey FROM q
        ), g AS (
            SELECT level, grp, COUNT(*) AS n FROM lvl GROUP BY 1, 2
        )
        SELECT level,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating,
               CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END)
                    AS BIGINT) AS rows_suppressed,
               round(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END)
                     / CAST(SUM(n) AS DOUBLE) + 1e-9, 6)
                   AS suppression_rate
        FROM g GROUP BY level
    """,
    description="k-anonymity generalization ladder (k=5) over customer "
    "quasi-identifiers (nation, segment, account-balance bucket): for "
    "each coarsening level — $100 buckets, $1000 buckets, no balance, "
    "segment only — the group count, the groups smaller than k, and "
    "the row mass that would need suppression. The governance readout "
    "a training-data release needs BEFORE exporting user-derived "
    "features: pick the first rung whose suppression rate clears "
    "policy. One union-of-rollups scan, all integers except the final "
    "rate; at 100 TB each rung is an independent partial agg on a "
    "bounded key space",
)
def q_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    q = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("bigint").alias("bal100"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal1000"),
    )
    nk = F.col("c_nationkey").cast("string")
    levels = [
        (0, F.concat_ws("|", nk, F.col("c_mktsegment"),
                        F.col("bal100").cast("string"))),
        (1, F.concat_ws("|", nk, F.col("c_mktsegment"),
                        F.col("bal1000").cast("string"))),
        (2, F.concat_ws("|", nk, F.col("c_mktsegment"))),
        (3, F.col("c_mktsegment")),
    ]
    lvl = None
    for lv, expr in levels:
        part = q.select(F.lit(lv).alias("level"), expr.alias("grp"))
        lvl = part if lvl is None else lvl.unionAll(part)
    g = lvl.groupBy("level", "grp").agg(F.count(F.lit(1)).alias("n"))
    viol = F.when(F.col("n") < K_ANON, F.col("n")).otherwise(F.lit(0))
    return g.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n") < K_ANON, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating"),
        F.sum(viol).cast("bigint").alias("rows_suppressed"),
        F.round(
            F.sum(viol) / F.sum("n").cast("double") + F.lit(1e-9), 6
        ).alias("suppression_rate"),
    )


@register(
    "snapshot_diff",
    oracle="""
        WITH b AS (
            SELECT c_custkey, c_name,
                   CASE WHEN ('0x' || substr(md5('chg:'
                                  || c_custkey::VARCHAR), 1, 8))::BIGINT
                             % 10 = 0
                        THEN round(c_acctbal + 100.0, 2)
                        ELSE c_acctbal END AS c_acctbal,
                   CASE WHEN ('0x' || substr(md5('seg:'
                                  || c_custkey::VARCHAR), 1, 8))::BIGINT
                             % 15 = 0
                        THEN 'MIGRATED' ELSE c_mktsegment
                   END AS c_mktsegment
            FROM customer
            WHERE ('0x' || substr(md5('del:' || c_custkey::VARCHAR),
                                  1, 8))::BIGINT % 20 != 0
        ), d AS (
            SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
                   a.c_acctbal AS a_bal, b.c_acctbal AS b_bal,
                   a.c_mktsegment AS a_seg, b.c_mktsegment AS b_seg
            FROM customer a FULL OUTER JOIN b
              ON a.c_custkey = b.c_custkey
        )
        SELECT 'deleted' AS metric, CAST(COUNT(*) AS BIGINT) AS n
        FROM d WHERE b_key IS NULL
        UNION ALL
        SELECT 'changed_acctbal', COUNT(*)
        FROM d WHERE a_key IS NOT NULL AND b_key IS NOT NULL
                 AND a_bal != b_bal
        UNION ALL
        SELECT 'changed_mktsegment', COUNT(*)
        FROM d WHERE a_key IS NOT NULL AND b_key IS NOT NULL
                 AND a_seg != b_seg
        UNION ALL
        SELECT 'unchanged', COUNT(*)
        FROM d WHERE a_key IS NOT NULL AND b_key IS NOT NULL
                 AND a_bal = b_bal AND a_seg = b_seg
    """,
    description="Snapshot diff audit — the 'what changed between table "
    "versions v1 and v2' readout a lakehouse time-travel compare "
    "gives: v2 is derived from the customer snapshot by deterministic "
    "md5 coins (5% deletes, 10% balance updates, ~7% segment "
    "migrations), then ONE full-outer join classifies every key into "
    "deleted / changed-per-column / unchanged with integer counts. "
    "Same join discipline as merge_apply_cdc but inverted: CDC applies "
    "a delta, this recovers the delta from two materialized states — "
    "together they round-trip the change-data lifecycle. At 100 TB "
    "both snapshots shuffle once on the key (or zero times if "
    "bucketed, see bucketed_agg_scan)",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")

    def coin(tag: str, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(tag + ":"), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    b = cust.filter(coin("del", 20) != 0).select(
        "c_custkey",
        "c_name",
        F.when(
            coin("chg", 10) == 0, F.round(F.col("c_acctbal") + 100.0, 2)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(coin("seg", 15) == 0, F.lit("MIGRATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    a = cust.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_acctbal").alias("a_bal"),
        F.col("c_mktsegment").alias("a_seg"),
    )
    bb = b.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_acctbal").alias("b_bal"),
        F.col("c_mktsegment").alias("b_seg"),
    )
    d = tracked_persist(a.join(bb, a["a_key"] == bb["b_key"], "full"))
    both = F.col("a_key").isNotNull() & F.col("b_key").isNotNull()

    def row(metric: str, cond):
        return d.filter(cond).agg(
            F.lit(metric).alias("metric"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )

    return (
        row("deleted", F.col("b_key").isNull())
        .unionAll(row("changed_acctbal", both & (F.col("a_bal") != F.col("b_bal"))))
        .unionAll(
            row("changed_mktsegment", both & (F.col("a_seg") != F.col("b_seg")))
        )
        .unionAll(
            row(
                "unchanged",
                both
                & (F.col("a_bal") == F.col("b_bal"))
                & (F.col("a_seg") == F.col("b_seg")),
            )
        )
    )


@register(
    "bitemporal_lookup",
    oracle="""
        WITH a AS (
            SELECT user_id, event_id, value,
                   epoch(ts)::BIGINT // 86400 AS tx_day,
                   epoch(ts)::BIGINT // 86400
                       - (('0x' || substr(md5('lag:'
                              || event_id::VARCHAR), 1, 8))::BIGINT % 5)
                       AS valid_day
            FROM events WHERE value IS NOT NULL
        ), d0 AS (
            SELECT MIN(tx_day) AS d0 FROM a
        ), probes AS (
            SELECT (SELECT d0 FROM d0) + t.t AS probe_tx,
                   (SELECT d0 FROM d0) + v.v AS probe_valid
            FROM (VALUES (10), (20)) t(t), (VALUES (8), (18)) v(v)
        ), ranked AS (
            SELECT p.probe_tx, p.probe_valid, a.user_id, a.event_id,
                   a.value,
                   row_number() OVER (
                       PARTITION BY a.user_id, p.probe_tx, p.probe_valid
                       ORDER BY a.valid_day DESC, a.tx_day DESC,
                                a.event_id DESC) AS rk
            FROM a JOIN probes p
              ON a.tx_day <= p.probe_tx AND a.valid_day <= p.probe_valid
        )
        SELECT user_id, probe_tx, probe_valid, event_id AS src_event,
               round(value, 2) AS value
        FROM ranked WHERE rk = 1
    """,
    description="Bitemporal point lookup — the two-axis generalization "
    "of scd2_lookup: each event is an assertion RECORDED at "
    "transaction day tx(ts) about a valid day tx - lag (md5 lag 0-4 "
    "days, so later transactions retroactively correct earlier "
    "periods). For every (as-of-transaction, as-of-valid) probe pair "
    "the engine answers 'what did we BELIEVE on day T about the "
    "state on day V': filter tx<=T AND valid<=V, take the max-valid "
    "assertion with tx/event tie-breaks. The probe grid is a "
    "4-row literal dimension broadcast against one ranked pass; all "
    "comparisons are integer epoch-days so the result hash-checks "
    "exactly. The audit/backfill primitive every regulated warehouse "
    "reimplements",
)
def q_bitemporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    lag = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("lag:"), F.col("event_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    a = ev.select(
        "user_id",
        "event_id",
        "value",
        F.expr("unix_timestamp(ts) div 86400").alias("tx_day"),
        (F.expr("unix_timestamp(ts) div 86400") - lag).alias("valid_day"),
    )
    a = tracked_persist(a)
    d0 = a.agg(F.min("tx_day")).collect()[0][0]
    probes = local_frame(
        spark,
        [(d0 + t, d0 + v) for t in (10, 20) for v in (8, 18)],
        "probe_tx long, probe_valid long",
    )
    j = a.join(
        F.broadcast(probes),
        (F.col("tx_day") <= F.col("probe_tx"))
        & (F.col("valid_day") <= F.col("probe_valid")),
    )
    w = Window.partitionBy("user_id", "probe_tx", "probe_valid").orderBy(
        F.col("valid_day").desc(), F.col("tx_day").desc(), F.col("event_id").desc()
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "probe_tx",
            "probe_valid",
            F.col("event_id").alias("src_event"),
            F.round("value", 2).alias("value"),
        )
    )


DP_EPSILON = 0.5  # per-query budget; sensitivity 1 (count queries)


@register(
    "dp_release",
    oracle=f"""
        WITH g AS (
            SELECT c_nationkey, COUNT(*) AS true_n
            FROM customer GROUP BY c_nationkey
        ), u AS (
            SELECT c_nationkey, true_n,
                   ('0x' || substr(md5('dp:' || c_nationkey::VARCHAR),
                                   1, 8))::BIGINT / 4294967296.0 AS u
            FROM g
        )
        SELECT c_nationkey,
               CAST(true_n AS BIGINT) AS true_n,
               round(true_n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                     * (1.0 / {DP_EPSILON})
                     * ln(1.0 - 2.0 * abs(u - 0.5)) + 1e-9, 6)
                   AS noisy_n,
               {DP_EPSILON} AS epsilon
        FROM u
    """,
    description="Differentially-private histogram release (Laplace "
    "mechanism, eps=0.5, sensitivity 1 for disjoint count buckets): "
    "noisy customer counts per nation via inverse-CDF Laplace noise "
    "-(1/eps)*sgn(u-.5)*ln(1-2|u-.5|). The noise draw uses the "
    "engine-portable md5 fraction so the whole release is "
    "REPRODUCIBLE and oracle-hash-checked — which is exactly how a "
    "production release pipeline should work too (seeded noise keyed "
    "to the release id, or re-running the job re-randomizes the "
    "published statistics). true_n stays in the result as the "
    "verification column; a real release publishes noisy_n/epsilon "
    "only. Per-bucket parallel composition: one scan, one bounded "
    "group agg, noise applied to the |nations|-row rollup. "
    "Complements k_anonymity_ladder and pii_scrub as the third "
    "privacy primitive",
)
def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("true_n"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"), F.col("c_nationkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    sign = F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = (
        sign
        * (F.lit(1.0) / F.lit(DP_EPSILON))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return g.select(
        "c_nationkey",
        F.col("true_n").cast("bigint").alias("true_n"),
        F.round(F.col("true_n") + noise + F.lit(1e-9), 6).alias("noisy_n"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


@register(
    "rtbf_purge",
    oracle="""
        WITH req AS (
            SELECT DISTINCT user_id FROM events
            WHERE ('0x' || substr(md5('rtbf:' || user_id::VARCHAR),
                                  1, 8))::BIGINT % 10 = 0
        )
        SELECT 'events' AS table_name,
               (SELECT COUNT(*) FROM req) AS requested_users,
               CAST((SELECT COUNT(*) FROM events e
                     WHERE e.user_id IN (SELECT user_id FROM req))
                    AS BIGINT) AS rows_purged,
               CAST((SELECT COUNT(*) FROM events e
                     WHERE e.user_id NOT IN (SELECT user_id FROM req))
                    AS BIGINT) AS rows_remaining,
               CAST(0 AS BIGINT) AS orphans_remaining
        UNION ALL
        SELECT 'customer',
               (SELECT COUNT(*) FROM req),
               (SELECT COUNT(*) FROM customer c
                WHERE c.c_custkey IN (SELECT user_id + 1400 FROM req)),
               (SELECT COUNT(*) FROM customer c
                WHERE c.c_custkey NOT IN (SELECT user_id + 1400 FROM req)),
               0
    """,
    description="Right-to-be-forgotten purge audit: delete requests "
    "(md5 coin, ~10% of users) cascade from the events fact to the "
    "linked customer dimension (user_id+1400 key bridge, the "
    "merge_apply_cdc linkage) via LEFT ANTI joins; the audit row per "
    "table reports requested/purged/remaining plus an "
    "orphans_remaining column computed by re-probing the purged "
    "result against the request list (a semi-join count that must be "
    "zero — the verification step a compliance pipeline must "
    "materialize, not assume). Anti/semi joins broadcast the bounded "
    "request list; each fact scans once",
)
def q_rtbf_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    req = (
        ev.select("user_id")
        .distinct()
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("rtbf:"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10
            == 0
        )
    )
    req = tracked_persist(req)
    n_req = req.count()

    def audit(table_name, df, key):
        reqk = F.broadcast(req.select(F.col("user_id").alias("rk")))
        purged = df.join(reqk, df[key] == F.col("rk"), "left_semi")
        remaining = df.join(reqk, df[key] == F.col("rk"), "left_anti")
        orphans = remaining.join(
            F.broadcast(req.select(F.col("user_id").alias("rk"))),
            remaining[key] == F.col("rk"),
            "left_semi",
        )
        return (
            purged.agg(F.count(F.lit(1)).alias("p"))
            .crossJoin(remaining.agg(F.count(F.lit(1)).alias("r")))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("o")))
            .select(
                F.lit(table_name).alias("table_name"),
                F.lit(n_req).cast("bigint").alias("requested_users"),
                F.col("p").cast("bigint").alias("rows_purged"),
                F.col("r").cast("bigint").alias("rows_remaining"),
                F.col("o").cast("bigint").alias("orphans_remaining"),
            )
        )

    cust_keyed = cust.withColumn("u", F.col("c_custkey") - 1400)
    return audit("events", ev, "user_id").unionAll(
        audit("customer", cust_keyed, "u")
    )


@register(
    "target_encoding",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ), g AS (
            SELECT sum(cents) AS gs, count(*) AS gn FROM base
        ), per_cat AS (
            SELECT o_orderpriority, sum(cents) AS cs, count(*) AS cn
            FROM base GROUP BY o_orderpriority
        )
        SELECT b.o_orderkey, b.o_orderpriority,
               round(((CAST(cs - b.cents AS DOUBLE)
                       + 10.0 * (CAST(gs AS DOUBLE) / gn))
                      / (cn - 1 + 10.0)) / 100.0 + 1e-9, 4)
                   AS priority_enc
        FROM base b JOIN per_cat USING (o_orderpriority), g
    """,
    description="Leave-one-out smoothed target encoding of "
    "o_orderpriority against o_totalprice: enc_i = (sum_cat - y_i + "
    "m*global_mean) / (n_cat - 1 + m), m=10 — the leakage-safe "
    "categorical feature for GBDT/linear training (complements "
    "split_leakage_free and kfold_assign in the prep family). "
    "Category sums are one bounded-cardinality agg broadcast back "
    "onto the row scan; LOO arithmetic runs on integer cents so the "
    "per-row double derives from exact integers identically in both "
    "engines",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = base.agg(F.sum("cents").alias("gs"), F.count(F.lit(1)).alias("gn"))
    per_cat = base.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("cs"), F.count(F.lit(1)).alias("cn")
    )
    enc = (
        (
            (F.col("cs") - F.col("cents")).cast("double")
            + F.lit(10.0) * (F.col("gs").cast("double") / F.col("gn"))
        )
        / (F.col("cn") - 1 + F.lit(10.0))
    ) / 100.0
    return (
        base.join(F.broadcast(per_cat), "o_orderpriority")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(enc + F.lit(1e-9), 4).alias("priority_enc"),
        )
    )


@register(
    "dq_referential",
    oracle="""
        SELECT 'lineitem->orders' AS relationship,
               CAST(count(*) AS BIGINT) AS child_rows,
               CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS orphan_rows
        FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'lineitem->part',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0
                        END) AS BIGINT)
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'lineitem->supplier',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0
                        END) AS BIGINT)
        FROM lineitem l LEFT JOIN supplier s
          ON l.l_suppkey = s.s_suppkey
        UNION ALL
        SELECT 'orders->customer',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0
                        END) AS BIGINT)
        FROM orders o LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'customer->nation',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0
                        END) AS BIGINT)
        FROM customer c LEFT JOIN nation n
          ON c.c_nationkey = n.n_nationkey
    """,
    description="Referential-integrity audit across the star schema's "
    "five FK edges (lineitem->orders/part/supplier, orders->customer, "
    "customer->nation): per edge, child row count and orphan count "
    "via LEFT JOIN null-probe — the existence checks every ingest "
    "gate runs before exposing a snapshot (complements dq_rules' "
    "value-level checks and join_explosion_audit's fan-out check). "
    "Dimension probes broadcast; the two fact-sized probes shuffle "
    "on their join key once and aggregate map-side to one row each",
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")

    def probe(child, ckey, parent, pkey, name):
        p = parent.select(F.col(pkey).alias("__pk"))
        j = child.select(F.col(ckey).alias("__ck")).join(
            p, F.col("__ck") == F.col("__pk"), "left"
        )
        return j.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).cast("bigint").alias("child_rows"),
            F.sum(F.col("__pk").isNull().cast("int"))
            .cast("bigint")
            .alias("orphan_rows"),
        ).select("relationship", "child_rows", "orphan_rows")

    return (
        probe(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionAll(probe(li, "l_partkey", part, "p_partkey", "lineitem->part"))
        .unionAll(
            probe(li, "l_suppkey", supplier, "s_suppkey", "lineitem->supplier")
        )
        .unionAll(
            probe(orders, "o_custkey", customer, "c_custkey", "orders->customer")
        )
        .unionAll(
            probe(customer, "c_nationkey", nation, "n_nationkey", "customer->nation")
        )
    )


L_DIVERSITY = 3


@register(
    "l_diversity_audit",
    oracle=f"""
        WITH q AS (
            SELECT c_nationkey::VARCHAR || '|' || c_mktsegment AS grp,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS sens,
                   c_custkey
            FROM customer
        )
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT sens) AS BIGINT) AS n_distinct_sens,
               count(DISTINCT sens) >= {L_DIVERSITY} AS diverse
        FROM q GROUP BY grp
    """,
    description=f"l-diversity audit (l={L_DIVERSITY}) over the "
    "(nation, segment) quasi-identifier with the $1000 account-"
    "balance bucket as the sensitive attribute: k-anonymity "
    "(k_anonymity_ladder) stops homogeneity attacks only if each "
    "group ALSO carries enough distinct sensitive values — this is "
    "the second gate a training-data release runs. One "
    "group-cardinality distinct-count rollup; at 100 TB it is a "
    "two-level partial agg on bounded group keys",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    q = cust.select(
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.col("c_mktsegment"),
        ).alias("grp"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sens"),
    )
    return q.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("sens").cast("bigint").alias("n_distinct_sens"),
        (F.countDistinct("sens") >= L_DIVERSITY).alias("diverse"),
    )


@register(
    "class_balance_sample",
    oracle="""
        WITH m AS (
            SELECT min(c) AS mc FROM (
                SELECT count(*) AS c FROM events GROUP BY event_type
            )
        ), r AS (
            SELECT event_id, event_type,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY md5('bal:' || event_id::VARCHAR),
                                event_id) AS rn
            FROM events
        )
        SELECT event_id, event_type FROM r, m WHERE rn <= mc
    """,
    description="Class-balanced downsampling: every event type keeps "
    "exactly min-class-count rows, selected by deterministic md5 "
    "coin rank — the imbalance fix applied before training a "
    "classifier (complements stratified_sample's proportional "
    "allocation). The per-class rank is TWO-PHASE at scale: global "
    "rank over (type, hash-bucket) via two_phase_rank (histogram "
    "offsets over bounded buckets, partitioned within-bucket "
    "row_number) with per-class min-rank recovery broadcast back — "
    "no single-partition sort anywhere; the oracle's partitioned "
    "row_number is the same total order",
)
def q_class_balance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.operators.relational import (
        two_phase_rank,
    )

    ev = _t(spark, sf_dir, "events")
    mc = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").alias("mc")
    )
    h = F.md5(F.concat(F.lit("bal:"), F.col("event_id").cast("string")))
    # type code folded into the bucket key: order (event_type, h) is
    # bucket-major with bucket = code*256 + first-two-hex-chars, and
    # two_phase_rank guarantees a bucket-major total order (contract
    # documented after ADVICE r7) — per-class local rank recovered by
    # subtracting the broadcast per-class min rank.
    codes = (
        ev.select("event_type")
        .distinct()
        .select(
            F.col("event_type").alias("ct"),
            F.dense_rank()
            .over(Window.orderBy("event_type"))
            .cast("bigint")
            .alias("tcode"),
        )
    )  # the single-partition window runs over the BOUNDED type set
    typed = ev.select("event_id", "event_type", h.alias("h")).join(
        F.broadcast(codes), F.col("event_type") == F.col("ct")
    )
    ranked = two_phase_rank(
        typed,
        order_cols=[F.col("event_type"), F.col("h"), F.col("event_id")],
        bucket_col=F.col("tcode") * 256
        + F.conv(F.substring(F.col("h"), 1, 2), 16, 10).cast("bigint"),
        rank_name="grank",
    )
    min_rank = ranked.groupBy(F.col("event_type").alias("mt")).agg(
        F.min("grank").alias("minr")
    )
    local = ranked.join(
        F.broadcast(min_rank), F.col("event_type") == F.col("mt")
    ).select(
        "event_id",
        "event_type",
        (F.col("grank") - F.col("minr") + 1).alias("rn"),
    )
    return local.crossJoin(F.broadcast(mc)).filter(
        F.col("rn") <= F.col("mc")
    ).select("event_id", "event_type")


@register(
    "robust_scale",
    oracle="""
        WITH g AS (
            SELECT event_type AS t, value AS v, count(*) AS c
            FROM events GROUP BY 1, 2
        ), cum AS (
            SELECT t, v,
                   SUM(c) OVER (PARTITION BY t ORDER BY v) AS cw,
                   SUM(c) OVER (PARTITION BY t) AS n
            FROM g
        ), q AS (
            SELECT t,
                   min(CASE WHEN 4 * cw >= n THEN v END) AS q25,
                   min(CASE WHEN 2 * cw >= n THEN v END) AS q50,
                   min(CASE WHEN 4 * cw >= 3 * n THEN v END) AS q75
            FROM cum GROUP BY t
        )
        SELECT e.event_id, e.event_type,
               round((e.value - q.q50) / (q.q75 - q.q25) + 1e-9, 6)
                   AS scaled
        FROM events e JOIN q ON q.t = e.event_type
        WHERE q.q75 > q.q25
    """,
    description="Robust (median/IQR) feature standardization per event "
    "type: quartiles are exact weight-crossing points over the "
    "per-DISTINCT-value counts (weighted_median's integer-exact "
    "4*cum >= k*n comparisons — no interpolation, no float "
    "percentile), broadcast back onto the scan for a codegen map "
    "stage. The outlier-immune alternative to z-scoring "
    "(anomaly_zscore's mu/sigma are themselves distorted by the "
    "tails they are meant to flag) — the scaler sklearn calls "
    "RobustScaler, as two bounded aggs + one broadcast join",
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        F.col("event_type").alias("t"), F.col("value").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.partitionBy("t").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("t")
    cum = g.select(
        "t",
        "v",
        F.sum("c").over(wcum).alias("cw"),
        F.sum("c").over(wall).alias("n"),
    )
    q = cum.groupBy("t").agg(
        F.min(F.when(4 * F.col("cw") >= F.col("n"), F.col("v"))).alias("q25"),
        F.min(F.when(2 * F.col("cw") >= F.col("n"), F.col("v"))).alias("q50"),
        F.min(
            F.when(4 * F.col("cw") >= 3 * F.col("n"), F.col("v"))
        ).alias("q75"),
    ).filter(
        # degenerate IQR=0 groups are excluded identically on both
        # engines (ADVICE r8: Spark would emit NULL, DuckDB IEEE inf)
        F.col("q75") > F.col("q25")
    )
    return ev.join(F.broadcast(q), ev["event_type"] == F.col("t")).select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.col("q50")) / (F.col("q75") - F.col("q25"))
            + F.lit(1e-9),
            6,
        ).alias("scaled"),
    )


RATE_WINDOW_US = 86_400_000_000  # 24 h trailing admission window
RATE_MAX_PREV = 3  # admit while fewer than this many prior events


@register(
    "rate_gate",
    oracle=f"""
        WITH counted AS (
            SELECT event_id, user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN {RATE_WINDOW_US} PRECEDING
                                 AND 1 PRECEDING) AS n_prev
            FROM events
        )
        SELECT event_id, user_id,
               CAST(n_prev AS BIGINT) AS n_prev_24h,
               (n_prev < {RATE_MAX_PREV}) AS admitted
        FROM counted
    """,
    description="Per-event sliding-window rate gate: admit an event "
    "iff its user produced fewer than "
    f"{RATE_MAX_PREV} events in the trailing 24 h — the per-source "
    "politeness/flood cap every crawl-scale ingest runs in front of "
    "the quality gates (a runaway publisher must throttle at "
    "admission, before it poisons dedup clusters and domain_mix "
    "weights). The decision counts ALL prior events (admitted or "
    "not), which keeps it a pure RANGE-frame window on the epoch-"
    "microsecond axis — one shuffle on user_id, per-user state "
    "bounded by the window, exactly SQL-expressible (same-microsecond "
    "peers excluded by the frame on both engines). The streaming twin "
    "(streaming_rate_gate) makes the same decisions online with "
    "O(K) timestamps of state per key",
)
def q_rate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    eps = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(eps)
        .rangeBetween(-RATE_WINDOW_US, -1)
    )
    n_prev = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        n_prev.cast("bigint").alias("n_prev_24h"),
        (n_prev < RATE_MAX_PREV).alias("admitted"),
    )
