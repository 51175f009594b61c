"""Sampling + profiling: dataset subsetting and column statistics
(the remaining utilities a training-data pipeline runs constantly).

Sampling here is HASH-based, not rand()-based: membership is a pure
function of the row key, so a sample is reproducible across reruns,
engines, partitionings, and cluster sizes — the property that makes
train/eval splits and A/B slices auditable. rand(seed) sampling is
partitioning-dependent and silently changes when file splits change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query


def hash_bucket(key: Column | str, n_buckets: int = 100) -> Column:
    """Stable [0, n_buckets) bucket from a row key."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


def stratified_sample(
    df: DataFrame, key: str, strata: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sample: keep a row iff its key bucket
    falls under the stratum's percentage. Narrow filter — no shuffle,
    no state, same rows at any scale."""
    pct = F.coalesce(
        *[
            F.when(F.col(strata) == s, F.lit(int(frac * 100)))
            for s, frac in fractions.items()
        ],
        F.lit(0),
    )
    return df.filter(hash_bucket(key) < pct)


@query(
    "sample_stratified",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN lang = 'en' THEN '80'
               WHEN lang = 'de' THEN '33'
               ELSE '1a' END
    GROUP BY lang
    ORDER BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified document sample — ~50% of 'en', ~20%
    of 'de', ~10% of everything else — as per-language yield counts.
    Membership is a pure function of the row key through the ENGINE-
    PORTABLE md5 idiom the whole sampling family standardized on
    (sample_uniform_k, sample_shard_shuffle): keep a row iff its first
    two md5 hex chars sort below the stratum's cutoff — fixed-width
    lowercase hex compares lexicographically ≡ numerically, so the
    cutoffs '80'/'33'/'1a' realize 128/256, 51/256 and 26/256 exactly,
    on any engine, any partitioning, forever. That portability is what
    upgrades this from a rows-only check to a full DuckDB value-hash
    oracle (the earlier xxhash64 bucket was Spark-only; the helper
    stratified_sample/hash_bucket API remains for callers that prefer
    integer buckets). One narrow filter + one tiny aggregate — no
    shuffle before the rollup at any scale."""
    d = load_table(spark, sf_dir, "documents")
    cut = (
        F.when(F.col("lang") == "en", F.lit("80"))
        .when(F.col("lang") == "de", F.lit("33"))
        .otherwise(F.lit("1a"))
    )
    kept = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < cut
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
        .orderBy("lang")
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           count(*) - count(o_custkey)      AS n_nulls,
           count(DISTINCT o_custkey)        AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR)  AS min_value,
           CAST(max(o_custkey) AS VARCHAR)  AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(round(min(o_totalprice), 2) AS VARCHAR),
           CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    ORDER BY column_name
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null counts, cardinality, range) — the
    data-quality pass run before any pipeline ingests a new source.
    One scan computes every column's stats in a single aggregate
    (Spark fuses the agg expressions); rows come out long-format."""
    o = load_table(spark, sf_dir, "orders")

    def stats(col: str, numeric: bool):
        mn = F.round(F.min(col), 2) if numeric else F.min(col)
        mx = F.round(F.max(col), 2) if numeric else F.max(col)
        return [
            (F.count(F.lit(1)) - F.count(col)).alias(f"{col}__nulls"),
            F.countDistinct(col).alias(f"{col}__distinct"),
            mn.cast("string").alias(f"{col}__min"),
            mx.cast("string").alias(f"{col}__max"),
        ]

    cols = [("o_custkey", True), ("o_orderstatus", False), ("o_totalprice", True)]
    wide = o.agg(*[e for c, num in cols for e in stats(c, num)])
    # long format: one output row per profiled column
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c, _ in cols
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("column_name")
    )


@query(
    "profile_constraint_checks",
    oracle="""
    SELECT
        CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
             AS BIGINT) AS null_fk,
        CAST((SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
             AS BIGINT) AS orphan_rows,
        CAST((SELECT count(*) FROM (
                  SELECT c_custkey FROM customer
                  GROUP BY c_custkey HAVING count(*) > 1))
             AS BIGINT) AS dup_keys,
        CAST((SELECT count(*) FROM orders
              WHERE o_totalprice <= 0) AS BIGINT) AS domain_violations
    """,
)
def profile_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: the four standard integrity checks a
    pipeline runs before promoting a batch — NOT NULL on the join key,
    referential integrity (orphan facts, via left-anti join), primary
    key uniqueness, and a domain constraint. One summary row; a
    non-zero cell fails promotion. The reference's only validation is
    a null-guard before each S3 write (extract-data-dota.py:130…);
    this is that idea made relational and exhaustive.

    Scale plan: ONE lazy plan behind a single action, not four
    driver-side .count() calls — each check reduces to a 1-row
    aggregate and the four are stitched with broadcast cross-joins
    (the broadcast builds surface as sub-jobs, but scheduling is the
    engine's, and the scans can run concurrently), so the query
    honors the same plan-not-program contract as every other registry
    entry. The anti-join shuffles on the key with the orders side
    reduced to its key column; every count is map-side partial."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    null_fk = li.agg(
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("null_fk")
    )
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_rows"))
    )
    dup_keys = (
        c.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("dup_keys"))
    )
    domain = o.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("domain_violations")
    )
    return (
        null_fk.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(dup_keys))
        .crossJoin(F.broadcast(domain))
        .select(
            F.coalesce("null_fk", F.lit(0)).alias("null_fk"),
            "orphan_rows",
            "dup_keys",
            F.coalesce("domain_violations", F.lit(0)).alias("domain_violations"),
        )
    )


@query(
    "sample_uniform_k",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 25
    """,
)
def sample_uniform_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k uniform sample: rank rows by md5(key) and
    take the first k. md5 of the key string is a seedless, ENGINE-
    PORTABLE permutation — the same 25 documents come back from Spark,
    DuckDB, or any engine with md5, on any partitioning, forever —
    which is what makes eval sets auditable (contrast rand(seed),
    which changes with file splits, and xxhash64, which no other
    engine implements). Physical plan is TakeOrderedAndProject:
    per-partition top-k then a k-row merge — no global sort, no full
    shuffle, O(k) driver memory at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(25)
    )


@query(
    "sample_split_groupsafe",
    oracle="""
    WITH tagged AS (
        SELECT source, doc_id,
               CASE WHEN md5(source) < '2' THEN 'eval' ELSE 'train' END
                   AS split
        FROM documents
    )
    SELECT split,
           count(*)                AS n_docs,
           count(DISTINCT source)  AS n_sources
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
)
def sample_split_groupsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: the split is a pure function of
    the GROUP key (source), so every document of a source lands on the
    same side — near-duplicates within a source can never straddle the
    boundary and leak eval content into training. md5(source) < '2'
    puts ≈2/16 of sources in eval (hex order makes the threshold a
    one-character comparison, portable to any engine). Narrow
    expression, no shuffle before the final 2-group aggregate;
    tests/test_sampling.py asserts no source straddles the split."""
    d = load_table(spark, sf_dir, "documents")
    split = F.when(F.md5("source") < "2", F.lit("eval")).otherwise(
        F.lit("train")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


@query(
    "sample_mixture_weights",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n_avail,
               CAST(floor(
                   (1 + CAST(regexp_extract(source, '[0-9]+') AS INT) % 4)
                   * 120.0 / 50) AS BIGINT) AS quota
        FROM documents
    )
    SELECT source,
           min(n_avail)  AS n_avail,
           min(quota)    AS quota,
           count(*)      AS n_taken,
           md5(array_to_string(list_sort(list(doc_id)), ',')) AS sample_pin
    FROM ranked
    WHERE rn <= quota
    GROUP BY source
    ORDER BY source
    """,
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling — the data-MIXING step between
    curation and training (the DoReMi/Pile-style knob: each source
    contributes a weighted quota of documents, not its natural
    share). Weights are derived deterministically from the source id
    (1 + src_num mod 4, normalized over a 120-doc budget) so the
    oracle replays the identical spec; within each source the quota
    is filled by the same seedless md5(doc_id) permutation as
    sample_uniform_k — engine-portable, partitioning-independent, and
    auditable (sample_pin hashes the exact selected id set, so the
    hash match proves both engines chose the SAME documents, not just
    the same counts).

    Scale shape: one window partitioned by source (rank + count share
    the exchange) and a source-sized rollup. A pathologically large
    single source makes its partition the straggler; the documented
    fix at that scale is a two-pass threshold (approx-quantile of the
    md5 rank at quota/n, filter, exact top-up) — same selection, no
    per-source full sort. The fixture's bounded sources don't need
    it."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", "[0-9]+", 0).cast("int")
    quota = F.floor((1 + src_num % 4) * 120.0 / 50).cast("long")
    w = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "doc_id",
        quota.alias("quota"),
        F.row_number()
        .over(w.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_avail"),
    )
    return (
        ranked.filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(
            F.min("n_avail").alias("n_avail"),
            F.min("quota").alias("quota"),
            F.count(F.lit(1)).alias("n_taken"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("sample_pin"),
        )
        .orderBy("source")
    )


@query(
    "sample_shard_shuffle",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    blocks AS (
        SELECT substring(k, 1, 1) AS shard,
               substring(k, 2, 2) AS block,
               count(*)                      AS n_docs,
               CAST(sum(n_chars) AS BIGINT)  AS n_chars,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY k, doc_id)) AS bpin
        FROM keyed
        GROUP BY 1, 2
    )
    SELECT shard,
           CAST(sum(n_docs) AS BIGINT)   AS n_docs,
           CAST(sum(n_chars) AS BIGINT)  AS total_chars,
           md5(string_agg(bpin, ',' ORDER BY block)) AS order_pin
    FROM blocks
    GROUP BY shard
    ORDER BY shard
    """,
)
def sample_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle into training shards — the step a
    training pipeline runs last: every document gets a pseudo-random
    shard (first hex char of md5(doc_id) → 16 shards) and a
    pseudo-random position within its shard (full md5 rank), with the
    whole permutation ENGINE-PORTABLE (no rand(), no partitioning
    dependence — the same property sample_uniform_k exploits, extended
    from membership to total order).

    The result is the shuffle AUDIT: per shard, counts plus an
    ``order_pin`` — md5 over the ordered permutation — computed
    HIERARCHICALLY: documents roll up into 256 blocks per shard (next
    two hex chars), each block pins its ordered id list, and the shard
    pin hashes the 256 ordered block pins. No aggregation state ever
    holds more than one block's ids (n/4096 of the corpus) or one
    shard's 256 block pins — unlike a flat per-shard listagg, whose
    state would grow O(corpus/16). Because the block key is a PREFIX
    of the rank key, ordering blocks then ids-within-block equals the
    global intra-shard order, so the two-level pin commits to exactly
    the order a sharded writer (partitionBy(shard) +
    sortWithinPartitions(k)) would lay down. Both shuffles are
    hash-keyed and narrow-input; nothing global anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("k")
    )
    blocks = (
        keyed.select(
            F.substring("k", 1, 1).alias("shard"),
            F.substring("k", 2, 2).alias("block"),
            "doc_id",
            "n_chars",
            "k",
        )
        .groupBy("shard", "block")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("k", "doc_id"))),
                        lambda s: s.doc_id.cast("string"),
                    ),
                )
            ).alias("bpin"),
        )
    )
    return (
        blocks.groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("block", "bpin"))),
                        lambda s: s.bpin,
                    ),
                )
            ).alias("order_pin"),
        )
        .orderBy("shard")
    )


@query(
    "sample_weighted_ares",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               pow(
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) / 4294967296.0,
                   1.0 / n_chars
               ) AS ares_key
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, round(ares_key, 8) AS ares_key
    FROM keyed
    ORDER BY ares_key DESC, doc_id
    LIMIT 25
    """,
)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, A-Res scheme (Efraimidis
    & Spirakis 2006): each item draws u ∈ (0,1) and keeps key u^(1/w);
    the top-k keys are a weighted sample — the one-pass, mergeable
    construction every quality-weighted corpus sampler uses (weight
    here = n_chars, longer documents proportionally likelier).

    The uniform is ENGINE-PORTABLE like the rest of the sampling
    family: first 8 md5 hex chars of the key → int / 2^32 — so Spark
    and DuckDB (and any engine with md5 and pow) select the identical
    sample, forever, on any partitioning. Top-k by key compiles to
    TakeOrderedAndProject: per-partition heaps then a k-row merge —
    this IS the distributed reservoir, O(k) driver memory at any
    corpus size, and the keys of two partitions merge by simple
    comparison (the mergeability A-Res is chosen for)."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)"
            " as bigint)"
        )
        / F.lit(4294967296.0)
    )
    return (
        d.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(
                F.pow(u, F.lit(1.0) / F.col("n_chars")), 8
            ).alias("ares_key"),
        )
        .orderBy(F.col("ares_key").desc(), "doc_id")
        .limit(25)
    )


#: PSI smoothing: Laplace 0.5 per bin over the 14 possible width_bucket
#: ids (0..13) — keeps ln() finite on empty bins while staying a pure
#: deterministic function of the counts (identical in both engines).
PSI_BINS = 14


@query(
    "profile_drift_psi",
    oracle="""
    WITH sides AS (
        SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                         WHEN o_totalprice >= 600000 THEN 13
                         ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1
                    END AS BIGINT) AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS is_ref
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               CAST(sum(is_ref) AS DOUBLE)     AS ref_n,
               CAST(sum(1 - is_ref) AS DOUBLE) AS cur_n
        FROM sides GROUP BY bucket
    ),
    tot AS (SELECT sum(ref_n) AS ref_tot, sum(cur_n) AS cur_tot FROM counts)
    SELECT bucket,
           CAST(ref_n AS BIGINT) AS ref_n,
           CAST(cur_n AS BIGINT) AS cur_n,
           round(((cur_n + 0.5) / (cur_tot + 0.5 * 14)
                  - (ref_n + 0.5) / (ref_tot + 0.5 * 14))
                 * ln(((cur_n + 0.5) / (cur_tot + 0.5 * 14))
                      / ((ref_n + 0.5) / (ref_tot + 0.5 * 14))), 6)
               AS psi_term
    FROM counts, tot
    ORDER BY bucket
    """,
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference period (orders
    before 1998) and the current period — the standard
    distribution-drift monitor a data pipeline runs per ingest batch
    before a model or mixture recipe trusts the new slice. Shape:
    bucket both periods on the SAME fixed equi-width grid
    (``agg_histogram``'s width_bucket arithmetic, so bin edges cannot
    drift with the data), count both sides in ONE fact-table scan
    (conditional sums — no union, no second pass), then score
    ``Σ (q-p)·ln(q/p)`` over Laplace-smoothed bin shares. Per-bucket
    terms are emitted (the actionable output: WHICH price band moved)
    rather than only the scalar total; the conventional alert levels
    (<0.1 stable, >0.25 shifted) apply to their sum. Everything after
    the single aggregate is arithmetic on ≤14 rows; at 100 TB the cost
    is exactly one map-side-combinable scan."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.expr("width_bucket(o_totalprice, 0.0d, 600000.0d, 12)").cast(
        "long"
    )
    sides = o.select(
        bucket.alias("bucket"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_ref"),
    )
    counts = (
        sides.groupBy("bucket")
        .agg(
            F.sum("is_ref").cast("double").alias("ref_n"),
            F.sum(1 - F.col("is_ref")).cast("double").alias("cur_n"),
        )
    )
    tot = counts.agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    k = float(PSI_BINS)
    p = (F.col("ref_n") + 0.5) / (F.col("ref_tot") + 0.5 * k)
    q = (F.col("cur_n") + 0.5) / (F.col("cur_tot") + 0.5 * k)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("ref_n").cast("long").alias("ref_n"),
            F.col("cur_n").cast("long").alias("cur_n"),
            F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


@query(
    "agg_ks_drift",
    oracle="""
    WITH sides AS (
        SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                         WHEN o_totalprice >= 600000 THEN 121
                         ELSE CAST(floor(o_totalprice / 5000) AS BIGINT) + 1
                    END AS BIGINT) AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS is_ref
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               CAST(sum(is_ref) AS DOUBLE)     AS ref_n,
               CAST(sum(1 - is_ref) AS DOUBLE) AS cur_n
        FROM sides GROUP BY bucket
    ),
    cum AS (
        SELECT bucket,
               sum(ref_n) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS ref_cum,
               sum(cur_n) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cur_cum
        FROM counts
    ),
    tot AS (SELECT sum(ref_n) AS ref_tot, sum(cur_n) AS cur_tot FROM counts)
    SELECT round(abs(ref_cum / ref_tot - cur_cum / cur_tot), 6) AS ks_stat,
           bucket                                               AS at_bucket,
           CAST(ref_tot AS BIGINT)                              AS n_ref,
           CAST(cur_tot AS BIGINT)                              AS n_cur,
           abs(ref_cum / ref_tot - cur_cum / cur_tot)
               > 1.358 * sqrt((ref_tot + cur_tot) / (ref_tot * cur_tot))
                                                                AS reject_95
    FROM cum, tot
    ORDER BY abs(ref_cum / ref_tot - cur_cum / cur_tot) DESC, bucket
    LIMIT 1
    """,
)
def agg_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the same
    reference/current order periods ``profile_drift_psi`` monitors —
    the nonparametric companion (PSI needs binned shares and a
    smoothing constant; KS reads the full ECDF shape). Computed on the
    binned ECDF (grid KS, 120 fine buckets): exact KS needs a global
    sort of every value, which is the one thing a 100 TB plan must
    not do — binning reduces the fact table to ≤122 (bucket, ref_n,
    cur_n) rows in one map-side-combinable scan, and the cumulative
    window then runs on that BOUNDED table (same benign-by-
    construction argument as text_zipf_slope's vocabulary window; the
    grid granularity, not the data volume, caps the window input).
    Output: the supremum ECDF gap, where it occurs, and the 95%
    two-sample rejection verdict ``D > 1.358·sqrt((n+m)/(n·m))``.
    Ties on the plateau are broken by lowest bucket; both engines
    compute bit-identical IEEE ratios from integer counts, so the
    argmax is deterministic cross-engine."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    bucket = F.expr("width_bucket(o_totalprice, 0.0d, 600000.0d, 120)").cast(
        "long"
    )
    sides = o.select(
        bucket.alias("bucket"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_ref"),
    )
    # grid-bounded (≤122 rows) and consumed by BOTH the cumulative
    # window and the totals row. Unpinned, exchange reuse still scans
    # the fact table once, but each consumer re-reads the shuffle; that
    # measured slower than the pin (pins.py).
    counts = (
        sides.groupBy("bucket")
        .agg(
            F.sum("is_ref").cast("double").alias("ref_n"),
            F.sum(1 - F.col("is_ref")).cast("double").alias("cur_n"),
        )
        .transform(pin)
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.select(
        "bucket",
        F.sum("ref_n").over(w).alias("ref_cum"),
        F.sum("cur_n").over(w).alias("cur_cum"),
    )
    tot = counts.agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    gap = F.abs(
        F.col("ref_cum") / F.col("ref_tot")
        - F.col("cur_cum") / F.col("cur_tot")
    )
    crit = 1.358 * F.sqrt(
        (F.col("ref_tot") + F.col("cur_tot"))
        / (F.col("ref_tot") * F.col("cur_tot"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.round(gap, 6).alias("ks_stat"),
            F.col("bucket").alias("at_bucket"),
            F.col("ref_tot").cast("long").alias("n_ref"),
            F.col("cur_tot").cast("long").alias("n_cur"),
            (gap > crit).alias("reject_95"),
            gap.alias("_gap"),
        )
        .orderBy(F.col("_gap").desc(), "at_bucket")
        .drop("_gap")
        .limit(1)
    )


@query(
    "sample_temporal_split_embargo",
    oracle="""
    WITH b AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    lab AS (
        SELECT user_id, epoch_us(ts) AS us,
               lo + CAST(floor(0.8 * (hi - lo)) AS BIGINT) AS cut
        FROM events, b
    ),
    tagged AS (
        SELECT user_id,
               CASE WHEN us < cut THEN 'train'
                    WHEN us < cut + 86400000000 THEN 'embargo'
                    ELSE 'test' END AS split
        FROM lab
    ),
    tr AS (SELECT DISTINCT user_id FROM tagged WHERE split = 'train')
    SELECT t.split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN tr.user_id IS NOT NULL
                                    THEN t.user_id END) AS BIGINT)
               AS users_shared_with_train
    FROM tagged t LEFT JOIN tr ON t.user_id = tr.user_id
    GROUP BY t.split
    ORDER BY t.split
    """,
)
def sample_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with a 1-day EMBARGO gap — the
    temporal complement to sample_split_groupsafe's group split:
    training examples come strictly before the cutoff, test examples
    strictly after cutoff + embargo, and the embargo band between them
    is dropped so trailing-window features computed at training time
    (EWMAs, 7-day aggregates) cannot straddle the boundary and leak
    test-period signal (the purged/embargoed split from financial ML,
    de Prado 2018, equally load-bearing for any time-ordered corpus).
    The cutoff is the 80% point of the OBSERVED time span — derived
    from a 1-row bounds aggregate in epoch microseconds, portable to
    any engine, no approximate quantiles involved.

    The audit column counts each split's users also present in train:
    a user-level model would still leak across a pure time split
    (same user both sides), which is exactly what the groupsafe split
    prevents — reporting both numbers side by side is what makes the
    trade-off auditable. Plan: one fact scan labels events against
    the broadcast bounds row; the distinct-train-users table is
    user-bounded and broadcast into the left join; two bounded hash
    aggregates. No sort, no window."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    b = F.broadcast(e.agg(F.min("us").alias("lo"), F.max("us").alias("hi")))
    lab = e.crossJoin(b)
    # floor() EXPLICITLY on both sides: DuckDB CAST(x AS BIGINT) rounds
    # to nearest while Spark .cast('long') truncates — at the shipped
    # fixtures the fractional part is 0.6, so without the floor the two
    # engines' cut values differ by 1 µs (latent off-by-one flagged in
    # round-3 advice).
    cut = (
        F.col("lo")
        + F.floor(F.lit(0.8) * (F.col("hi") - F.col("lo"))).cast("long")
    )
    tagged = lab.select(
        "user_id",
        F.when(F.col("us") < cut, "train")
        .when(F.col("us") < cut + F.lit(86_400_000_000), "embargo")
        .otherwise("test")
        .alias("split"),
    )
    tr = F.broadcast(
        tagged.filter(F.col("split") == "train")
        .select(F.col("user_id").alias("tr_user"))
        .distinct()
    )
    return (
        tagged.join(tr, tagged["user_id"] == tr["tr_user"], "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.countDistinct(
                F.when(F.col("tr_user").isNotNull(), F.col("user_id"))
            )
            .cast("long")
            .alias("users_shared_with_train"),
        )
        .orderBy("split")
    )


@query(
    "sample_balanced_downsample",
    oracle="""
    WITH k AS (
        SELECT min(c) AS k FROM (
            SELECT count(*) AS c FROM events GROUP BY event_type
        )
    ),
    ranked AS (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rn
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN rn <= k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after,
           CAST(sum(CASE WHEN rn <= k THEN event_id ELSE 0 END) AS BIGINT)
               AS selected_checksum
    FROM ranked CROSS JOIN k
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every class (event type) is cut
    to the MINORITY class's size by keeping its top-k rows under the
    md5 ranking — the class-rebalancing step an ML-prep pipeline runs
    before training on skewed labels, and the per-class-quota member
    of the sampling family (stratified keeps a fixed FRACTION per
    stratum; uniform_k keeps a global k; this equalizes counts).

    The md5(event_id) rank is the family's portable-permutation
    idiom: seedless, partition-independent, reproducible in any
    engine — so the SELECTED SET itself is pinned by the checksum
    column, not just its size. One per-class window pass; the k
    bound is a broadcast 1-row aggregate of the bounded class-count
    table. At 100 TB the exact-rank window downgrades to the
    documented md5-hex-threshold approximation (sample_stratified's
    path) when a full per-class sort is too expensive; the checksum
    contract is unchanged."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    k = F.broadcast(counts.agg(F.min("c").alias("k")))
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = e.select("event_type", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(F.when(F.col("rn") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_after"),
            F.sum(
                F.when(F.col("rn") <= F.col("k"), F.col("event_id")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("selected_checksum"),
        )
        .orderBy("event_type")
    )


# --- Neyman optimal stratified allocation -----------------------------

#: the five strata, FIXED order (the stats_anova_oneway pivot idiom:
#: every cross-stratum double sum is an explicit left-to-right chain)
_NEYMAN_LEVELS = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)
_NEYMAN_BUDGET = 1000  # total sample size to allocate


def _neyman_sql() -> str:
    per = []
    for i, lvl in enumerate(_NEYMAN_LEVELS, 1):
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN 1 END), 0) AS BIGINT) AS n{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN CAST(round(o_totalprice) AS BIGINT) END), 0) "
            f"AS BIGINT) AS s{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN o_orderpriority = '{lvl}' "
            f"THEN CAST(round(o_totalprice) AS BIGINT) "
            f"* CAST(round(o_totalprice) AS BIGINT) END), 0) "
            f"AS BIGINT) AS q{i}"
        )
    cols = ",\n               ".join(per)
    sd = {
        i: f"sqrt((CAST(q{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * s{i} "
        f"/ n{i}) / (n{i} - 1))"
        for i in range(1, 6)
    }
    total = " + ".join(f"(n{i} * {sd[i]})" for i in range(1, 6))
    rows = "\nUNION ALL\n".join(
        f"SELECT '{lvl}' AS stratum, n{i} AS n_pop,"
        f" round({sd[i]}, 6) AS sd_value,"
        f" round((n{i} * {sd[i]}) / ({total}), 6) AS neyman_share,"
        f" CAST(floor({_NEYMAN_BUDGET} * (n{i} * {sd[i]}) / ({total}))"
        f" AS BIGINT) AS n_alloc"
        f" FROM s"
        for i, lvl in enumerate(_NEYMAN_LEVELS, 1)
    )
    return f"""
    WITH s AS (
        SELECT {cols}
        FROM orders
    )
    {rows}
    ORDER BY stratum
    """


@query("sample_neyman_allocation", oracle=_neyman_sql())
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman OPTIMAL stratified-sampling allocation: for a fixed
    budget of 1000 samples across the five priority strata, allocate
    n_h ∝ N_h·σ_h — the design that minimizes the variance of the
    stratified mean (proportional allocation ignores within-stratum
    spread; Neyman oversamples volatile strata). The table a survey/
    eval pipeline computes BEFORE drawing the sample that
    sample_stratified then executes.

    σ_h comes from exact integer-dollar sums (ddof=1), pivoted into
    fixed per-stratum columns in ONE aggregate pass (the
    stats_anova_oneway idiom), and the normalizer Σ N_h σ_h is an
    explicit left-to-right chain of the five fixed terms — identical
    doubles both engines; shares 6dp; integer allocations use floor
    (the deterministic largest-remainder top-up is left to the
    executor, documented). One orders scan, one 1-row aggregate,
    five projected rows."""
    o = load_table(spark, sf_dir, "orders")
    dollars = F.round(F.col("o_totalprice")).cast("long")
    aggs = []
    for i, lvl in enumerate(_NEYMAN_LEVELS, 1):
        hit = F.col("o_orderpriority") == lvl
        aggs += [
            F.coalesce(F.sum(F.when(hit, F.lit(1))), F.lit(0))
            .cast("long")
            .alias(f"n{i}"),
            F.coalesce(F.sum(F.when(hit, dollars)), F.lit(0))
            .cast("long")
            .alias(f"s{i}"),
            F.coalesce(F.sum(F.when(hit, dollars * dollars)), F.lit(0))
            .cast("long")
            .alias(f"q{i}"),
        ]
    s = o.agg(*aggs).transform(pin)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sd = {
        i: F.sqrt(
            (d(f"q{i}") - d(f"s{i}") * F.col(f"s{i}") / F.col(f"n{i}"))
            / (F.col(f"n{i}") - 1)
        )
        for i in range(1, 6)
    }
    total = None
    for i in range(1, 6):
        term = F.col(f"n{i}") * sd[i]
        total = term if total is None else total + term
    parts = [
        s.select(
            F.lit(lvl).alias("stratum"),
            F.col(f"n{i}").alias("n_pop"),
            F.round(sd[i], 6).alias("sd_value"),
            F.round((F.col(f"n{i}") * sd[i]) / total, 6).alias(
                "neyman_share"
            ),
            F.floor(
                _NEYMAN_BUDGET * (F.col(f"n{i}") * sd[i]) / total
            )
            .cast("long")
            .alias("n_alloc"),
        )
        for i, lvl in enumerate(_NEYMAN_LEVELS, 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("stratum")


# --- Horvitz-Thompson estimation under stratified Poisson sampling ----

#: per-stratum Poisson inclusion rates (fixed design). The EXACT
#: inclusion probability is floor(rate·2^32)/2^32 — the integer
#: threshold the md5 test actually applies — and the HT weights use
#: THAT value, so the estimator is design-unbiased for the design as
#: implemented, not as approximated.
_HT_RATES = {
    "1-URGENT": 0.5,
    "2-HIGH": 0.3,
    "3-MEDIUM": 0.2,
    "4-NOT SPECIFIED": 0.1,
    "5-LOW": 0.05,
}
_HT_LEVELS = tuple(sorted(_HT_RATES))
_TWO32 = 1 << 32


def _ht_thresholds() -> dict[str, int]:
    return {lvl: int(r * _TWO32) for lvl, r in _HT_RATES.items()}


def _ht_sql() -> str:
    thr = _ht_thresholds()
    per = []
    for i, lvl in enumerate(_HT_LEVELS, 1):
        hit = f"o_orderpriority = '{lvl}'"
        inc = (
            f"CAST('0x' || substr(md5('ht:' "
            f"|| CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)"
            f" < {thr[lvl]}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0)"
            f" AS BIGINT) AS n{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN "
            f"CAST(round(o_totalprice) AS BIGINT) END), 0)"
            f" AS BIGINT) AS y{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} AND {inc} THEN 1 END), 0)"
            f" AS BIGINT) AS sn{i}"
        )
        per.append(
            f"CAST(coalesce(sum(CASE WHEN {hit} AND {inc} THEN "
            f"CAST(round(o_totalprice) AS BIGINT) END), 0)"
            f" AS BIGINT) AS sy{i}"
        )
    cols = ",\n               ".join(per)
    est_y = " + ".join(
        f"(CAST(sy{i} AS DOUBLE) * {_TWO32} / {thr[lvl]})"
        for i, lvl in enumerate(_HT_LEVELS, 1)
    )
    est_n = " + ".join(
        f"(CAST(sn{i} AS DOUBLE) * {_TWO32} / {thr[lvl]})"
        for i, lvl in enumerate(_HT_LEVELS, 1)
    )
    n_pop = " + ".join(f"n{i}" for i in range(1, 6))
    y_tot = " + ".join(f"y{i}" for i in range(1, 6))
    n_smp = " + ".join(f"sn{i}" for i in range(1, 6))
    return f"""
    WITH s AS (
        SELECT {cols}
        FROM orders
    )
    SELECT CAST({n_pop} AS BIGINT) AS n_population,
           CAST({n_smp} AS BIGINT) AS n_sampled,
           CAST({y_tot} AS BIGINT) AS true_total,
           round({est_y}, 2) AS ht_total_estimate,
           round(({est_y}) / ({y_tot}) - 1, 6) AS rel_error_total,
           round({est_n}, 2) AS ht_count_estimate,
           round(({est_n}) / ({n_pop}) - 1, 6) AS rel_error_count
    FROM s
    """


@query("sample_ht_estimator", oracle=_ht_sql())
def sample_ht_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation under STRATIFIED POISSON sampling:
    each priority stratum keeps rows at its own designed rate (50%
    down to 5%), and the HT estimator re-weights stratum sample sums
    by the exact inverse inclusion probability to recover unbiased
    population totals — the estimate-from-a-biased-sample machinery
    that lets a 100 TB pipeline answer full-corpus questions from the
    5% it actually scanned, with the realized error REPORTED beside
    the estimate.

    Exactness chain: membership is the md5 HEX→INT threshold idiom
    (salt 'ht:'), so the sample is deterministic and the TRUE applied
    probability is floor(rate·2³²)/2³² — the weights use that exact
    rational, making the estimator unbiased for the design as
    implemented. Per-stratum sample sums are exact BIGINT pivoted
    into fixed columns (stats_anova_oneway idiom); the two HT sums
    are explicit five-term chains of fixed doubles. ONE orders scan,
    one 1-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    thr = _ht_thresholds()
    dollars = F.round(F.col("o_totalprice")).cast("long")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ht:"), F.col("o_orderkey").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    aggs = []
    for i, lvl in enumerate(_HT_LEVELS, 1):
        hit = F.col("o_orderpriority") == lvl
        inc = hit & (u < thr[lvl])
        aggs += [
            F.coalesce(F.sum(F.when(hit, F.lit(1))), F.lit(0))
            .cast("long")
            .alias(f"n{i}"),
            F.coalesce(F.sum(F.when(hit, dollars)), F.lit(0))
            .cast("long")
            .alias(f"y{i}"),
            F.coalesce(F.sum(F.when(inc, F.lit(1))), F.lit(0))
            .cast("long")
            .alias(f"sn{i}"),
            F.coalesce(F.sum(F.when(inc, dollars)), F.lit(0))
            .cast("long")
            .alias(f"sy{i}"),
        ]
    s = o.agg(*aggs)
    est_y = None
    est_n = None
    n_pop = None
    y_tot = None
    n_smp = None
    for i, lvl in enumerate(_HT_LEVELS, 1):
        ty = F.col(f"sy{i}").cast("double") * _TWO32 / thr[lvl]
        tn = F.col(f"sn{i}").cast("double") * _TWO32 / thr[lvl]
        est_y = ty if est_y is None else est_y + ty
        est_n = tn if est_n is None else est_n + tn
        n_pop = F.col(f"n{i}") if n_pop is None else n_pop + F.col(f"n{i}")
        y_tot = F.col(f"y{i}") if y_tot is None else y_tot + F.col(f"y{i}")
        n_smp = (
            F.col(f"sn{i}") if n_smp is None else n_smp + F.col(f"sn{i}")
        )
    return s.select(
        n_pop.cast("long").alias("n_population"),
        n_smp.cast("long").alias("n_sampled"),
        y_tot.cast("long").alias("true_total"),
        F.round(est_y, 2).alias("ht_total_estimate"),
        F.round(est_y / y_tot - 1, 6).alias("rel_error_total"),
        F.round(est_n, 2).alias("ht_count_estimate"),
        F.round(est_n / n_pop - 1, 6).alias("rel_error_count"),
    )
