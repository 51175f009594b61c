"""Text analysis over the documents corpus (Tier C, SURVEY.md §2.3):
token statistics, quality scoring, language-ID heuristic, document
fingerprinting, n-gram frequencies.

Everything is built-in column expressions (split/explode/higher-order
lambdas/regexp) — the whole module runs inside whole-stage codegen.
At 100 TB these are the narrow, shuffle-light passes a training-data
pipeline runs before dedup: per-doc scores are embarrassingly
parallel; only the tiny per-group aggregates shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

#: tiny per-language marker lexicons for the language-ID heuristic.
#: (This corpus is synthetic word-soup, so the interesting property is
#: determinism of the scoring pipeline, not linguistic accuracy.)
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "fast", "slow", "small"),
    "de": ("table", "window", "row", "group"),
    "es": ("data", "query", "filter", "sort"),
}

_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to")


@query(
    "text_token_stats",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    ws AS (
        SELECT lang,
               count(DISTINCT doc_id)       AS n_docs,
               count(*)                     AS n_tokens,
               count(DISTINCT t)            AS vocab,
               round(avg(length(t)), 6)     AS avg_token_len
        FROM tok
        GROUP BY lang
    ),
    rx AS (
        SELECT lang,
               CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT)
                   AS n_word_tokens,
               CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
                   AS n_num_tokens
        FROM documents
        GROUP BY lang
    )
    SELECT ws.lang, ws.n_docs, ws.n_tokens, ws.vocab, ws.avg_token_len,
           rx.n_word_tokens, rx.n_num_tokens
    FROM ws JOIN rx ON ws.lang = rx.lang
    ORDER BY ws.lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language, both tokenizer tiers in one result:
    whitespace tokens + vocabulary (explode → hash agg; the shuffle
    carries only (lang, token) pairs for the distinct, bounded by
    vocabulary) and regex-class counts (the BPE-ish pre-tokenizer
    shape: runs of letters vs digits — regexp_extract_all stays
    JVM-side, no explode needed). The regex counts aggregate in the
    same per-lang hash agg as the whitespace stats' first pass."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("t"))
    ws = tok.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("vocab"),
        F.round(F.avg(F.length("t")), 6).alias("avg_token_len"),
    )
    rx = d.groupBy("lang").agg(
        F.sum(F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0))))
        .cast("long")
        .alias("n_word_tokens"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))))
        .cast("long")
        .alias("n_num_tokens"),
    )
    return ws.join(rx, "lang").orderBy("lang")


@query(
    "text_quality_score",
    oracle="""
    WITH scored AS (
        SELECT
            source,
            len(string_split(text, ' ')) AS n_words,
            length(text)                 AS n_chars_m,
            len(list_filter(string_split(text, ' '),
                            t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
                / len(string_split(text, ' ')) AS stop_ratio,
            len(list_distinct(string_split(text, ' ')))::DOUBLE
                / len(string_split(text, ' ')) AS ttr,
            list_transform(
                range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                i -> string_split(text, ' ')[i] || ' '
                     || string_split(text, ' ')[i + 1] || ' '
                     || string_split(text, ' ')[i + 2]
            ) AS tg
        FROM documents
    )
    SELECT source,
           count(*)                    AS n_docs,
           round(avg(n_words), 6)      AS avg_words,
           round(avg(n_chars_m), 6)    AS avg_chars,
           round(avg(stop_ratio), 6)   AS avg_stop_ratio,
           round(avg(ttr), 6)          AS avg_ttr,
           round(
               avg(CASE WHEN len(tg) > 0
                        THEN 1 - len(list_distinct(tg))::DOUBLE / len(tg)
                   END),
               6
           ) AS avg_repetition
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals per document, aggregated per source — the
    filter-before-training tier: length, stopword ratio, type-token
    ratio, plus the trigram repetition ratio (fraction of token
    TRIGRAMS that are repeats, 1 − |distinct|/|total| — the classic
    templated/boilerplate signal for training-data curation).

    Trigrams come from zip_with over three shifted slices of the token
    array (never an index sequence — safe for short docs, and the
    lambda touches only its own elements so the expression stays cheap
    even if an optimizer rule inlines it). All per-doc math is narrow
    (no shuffle); only source-level averages aggregate — at 100 TB
    this pass is scan-bound, exactly what a quality filter should be."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    stop_ratio = (
        F.size(F.filter(words, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_words
    )
    ttr = F.size(F.array_distinct(words)).cast("double") / n_words
    n3 = F.greatest(F.size(words) - 2, F.lit(0))
    tg = F.zip_with(
        F.zip_with(
            F.slice(words, 1, n3),
            F.slice(words, 2, n3),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        F.slice(words, 3, n3),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    rep = F.when(
        F.col("tg_total") > 0,
        1 - F.col("tg_distinct").cast("double") / F.col("tg_total"),
    )
    return (
        d.select(
            "source",
            n_words.alias("n_words"),
            F.length("text").alias("n_chars_m"),
            stop_ratio.alias("stop_ratio"),
            ttr.alias("ttr"),
            F.size(tg).alias("tg_total"),
            F.size(F.array_distinct(tg)).alias("tg_distinct"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_words"), 6).alias("avg_words"),
            F.round(F.avg("n_chars_m"), 6).alias("avg_chars"),
            F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
            F.round(F.avg("ttr"), 6).alias("avg_ttr"),
            F.round(F.avg(rep), 6).alias("avg_repetition"),
        )
        .orderBy("source")
    )


@query(
    "text_langid_heuristic",
    oracle="""
    WITH scored AS (
        SELECT
            lang,
            len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'fast', 'slow', 'small'))) AS s_en,
            len(list_filter(string_split(text, ' '),
                t -> t IN ('table', 'window', 'row', 'group'))) AS s_de,
            len(list_filter(string_split(text, ' '),
                t -> t IN ('data', 'query', 'filter', 'sort'))) AS s_es
        FROM documents
    )
    SELECT lang,
           CASE
               WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_es THEN 'de'
               ELSE 'es'
           END AS predicted,
           count(*) AS n
    FROM scored
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language-ID (n-gram-heuristic tier): score each
    doc against per-language marker sets, argmax with a deterministic
    tie order, confusion counts vs the labeled lang."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")

    def score(markers: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(words, lambda t: t.isin(*markers)))

    s_en = score(_LANG_MARKERS["en"])
    s_de = score(_LANG_MARKERS["de"])
    s_es = score(_LANG_MARKERS["es"])
    predicted = (
        F.when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
    )
    return (
        d.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH f AS (
        SELECT lang,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        FROM documents
    )
    SELECT lang,
           count(*)           AS n_docs,
           count(DISTINCT fp) AS n_fingerprints,
           count(*) - count(DISTINCT fp) AS n_collisions
    FROM f
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set
    (an order-insensitive content signature — the cheap cousin of
    MinHash; same canonical-form trick as code-clone detection).
    Collisions = docs with identical vocabularies."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(F.split("text", " ")))))
    return (
        d.select("lang", fp.alias("fp"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_fingerprints"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_collisions"),
        )
        .orderBy("lang")
    )


@query(
    "text_bigram_top20",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM t
    )
    SELECT bigram, count(*) AS n
    FROM b
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams corpus-wide (n-gram frequency tier).
    Bigrams are generated positionally with a higher-order transform
    over index sequences — no UDF, no quadratic blowup (|bigrams| =
    |tokens| - |docs|)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    # zip_with over the token array and its shift-by-one: inherently
    # empty for 1-token docs (an index sequence(1, size-1) would step
    # DOWN to [1, 0] there — Spark's sequence reverses when start >
    # stop — and element_at(w, 0) throws)
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


def winnow_fingerprints(d: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """(doc_id, lang, fps, n_fps) winnowing fingerprint sets for a
    documents-shaped frame (doc_id, lang, text).

    Two hazards shape this formulation, both measured at sf0.1:
    (1) each intermediate array is MATERIALIZED as a column before the
        next lambda references it: an expression argument inside a
        higher-order function is re-evaluated per element (slice(expr,…)
        inside transform recomputed the whole k-gram array per window —
        O(len²) per doc).
    (2) no filter may sit above these projections: predicate pushdown
        substitutes attribute references with their defining
        expressions, recreating (1) inside the scan filter. Callers
        must not filter on n_fps, and must explode fps with
        explode_outer: Spark's InferFiltersFromGenerate synthesizes
        such a filter (size > 0) above every non-outer generator.
    """
    with_toks = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    kgrams = with_toks.select(
        "doc_id",
        "lang",
        # lower bound 1, not 0: sequence(1, 0) steps DOWN to [1, 0] and
        # slice(…, 0, k) throws. Docs shorter than k tokens produce one
        # k-gram over whatever tokens exist (slice truncates at the
        # end) — the whole-short-doc hash, matching MOSS behavior.
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
        ).alias("kh"),
    )
    winnowed = kgrams.select(
        "doc_id",
        "lang",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("kh") - (w - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(F.col("kh"), i, w)),
            )
        ).alias("fps"),
    )
    return winnowed.select("doc_id", "lang", "fps", F.size("fps").alias("n_fps"))


@query("text_winnow_fingerprint")  # xxhash64 isn't SQL-portable → rows-only
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    MOSS-style near-dup/plagiarism detection): hash every k-gram of
    5 consecutive tokens, then keep the MINIMUM hash in each sliding
    window of 4 k-grams — a position-robust fingerprint set whose size
    is ~|tokens|/4, guaranteed to share members for any sufficiently
    long common substring.

    Entirely higher-order Catalyst expressions (sequence → transform →
    array_min) — no Python. Output: per-doc fingerprint-set size plus
    pairs of docs sharing ≥60% of fingerprints (same-lang blocked),
    the practical near-dup report. Deterministic (seeded xxhash64) →
    rows-only check; determinism + overlap bounds in tests.
    """
    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d)
    # inverted index on fingerprints: only docs SHARING a fingerprint
    # ever meet (the all-pairs array_intersect form was O(n²·|fps|)
    # interpreted — 535 s at sf0.1). Rather than a self-join (which
    # would evaluate the fingerprint pipeline twice), group by
    # fingerprint and emit doc pairs with grouped combinations — ONE
    # scan pass, two small shuffles. Pair volume is Σ df(fp)², small
    # because winnowed 64-bit hashes are rare outside genuinely shared
    # content (measured max df = 4 at sf0.1).
    # explode_outer, not explode: Spark's InferFiltersFromGenerate adds
    # a size(fps) > 0 filter above a non-outer generator, which hazard
    # (2) of winnow_fingerprints turns into a per-row re-evaluation of
    # the whole fingerprint pipeline (7.7 s against 0.6 s at sf0.01).
    # The two forms give the same rows: fps is never empty, because
    # both sequence() calls have lower bound 1.
    ex = fps.select(
        "doc_id", "lang", "n_fps", F.explode_outer("fps").alias("fp")
    )
    grouped = (
        ex.groupBy("fp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "lang", "n_fps"))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)  # post-aggregate: cannot push into the scan
    )
    n = F.size("ds")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at("ds", i).alias("a"),
                    F.element_at("ds", j).alias("b"),
                ),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .filter(F.col("p.a.lang") == F.col("p.b.lang"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.n_fps").alias("na"),
            F.col("p.b.n_fps").alias("nb"),
        )
    )
    shared = pairs.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    overlap = F.col("n_shared").cast("double") / F.least("na", "nb")
    return (
        shared.select("doc_a", "doc_b", F.round(overlap, 4).alias("fp_overlap"))
        .filter(F.col("fp_overlap") >= 0.6)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH terms AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term, doc_id
        FROM documents
    ),
    tf AS (
        SELECT lang, term, count(*) AS n_occ,
               count(DISTINCT doc_id) AS n_docs
        FROM terms GROUP BY lang, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS docs_with_term
        FROM terms GROUP BY term
    ),
    n AS (SELECT count(*) AS n_total FROM documents),
    scored AS (
        SELECT tf.lang, tf.term,
               CAST(tf.n_occ AS BIGINT) AS n_occ,
               round(tf.n_occ * ln(n.n_total::DOUBLE / df.docs_with_term), 6)
                   AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, n_occ, tfidf,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY tfidf DESC, term
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    ORDER BY lang, rk
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the 5 most distinctive terms per
    language — term frequency within the language weighted by inverse
    corpus-wide document frequency, the classic discriminative-term
    score for corpus exploration and quality auditing.

    Plan: one explode pass feeds BOTH frequency tables (term×lang and
    term document-frequency); the df table is vocabulary-sized and
    broadcast into the scored join; ranking windows run per-language
    on vocabulary-sized input. At 100 TB the only data-sized cost is
    the token explode + two hash aggregations — no pairwise work."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "lang", "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    df_tbl = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("docs_with_term")
    )
    # corpus size rides in-plan as a broadcast 1-row scalar (the
    # oracle's CROSS JOIN n shape) instead of a driver-blocking
    # count() job — it only feeds the output expression
    n_row = d.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "lang",
            "term",
            F.col("n_occ"),
            F.round(
                F.col("n_occ")
                * F.log(
                    F.col("n_total").cast("double")
                    / F.col("docs_with_term")
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("lang", "term", "n_occ", "tfidf", "rk")
        .orderBy("lang", "rk")
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ),
    p AS (
        SELECT shard, toks,
               sum(toks) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        FROM t
    ),
    c AS (
        SELECT shard, (cum - toks) // 2048 AS chunk,
               sum(toks) AS chunk_tokens, count(*) AS docs_in_chunk
        FROM p GROUP BY shard, chunk
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(docs_in_chunk) AS BIGINT) AS n_docs,
           round(avg(chunk_tokens / 2048.0), 6) AS avg_fill
    FROM c GROUP BY shard ORDER BY shard
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents in
    deterministic order and cut the token stream at context-window
    (2048-token) boundaries; a document belongs to the chunk where it
    starts, so chunks may overflow by at most one document (the
    standard pack-then-truncate tradeoff). Emitted as a per-shard
    packing summary (chunk count, docs packed, mean fill factor).

    Scale plan: packing has NO cross-shard constraint, so the stream is
    hash-sharded first (doc_id % 8 here; any width in production) and
    each shard packs independently under
    Window.partitionBy(shard).orderBy(doc_id) — one shuffle, no global
    sort, executor-parallel. The global-window variant would serialize
    the whole corpus through one task; per-shard is the 100 TB form."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    packed = t.withColumn("cum", F.sum("toks").over(w)).withColumn(
        "chunk", F.expr("CAST((cum - toks) DIV 2048 AS BIGINT)")
    )
    per_chunk = packed.groupBy("shard", "chunk").agg(
        F.sum("toks").alias("chunk_tokens"),
        F.count(F.lit(1)).alias("docs_in_chunk"),
    )
    return (
        per_chunk.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("docs_in_chunk").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("chunk_tokens") / F.lit(2048.0)), 6).alias(
                "avg_fill"
            ),
        )
        .orderBy("shard")
    )


@query(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (
        SELECT t, count(*) AS f FROM tok GROUP BY t
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(ln(f), ln(r)), 6) AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 6) AS fit_r2
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: regress
    ln(frequency) on ln(rank) and report the slope and R² — natural
    text sits near slope −1, so the fit is a one-number corpus-health
    diagnostic (boilerplate floods and synthetic word soup both show
    up as flat or kinked fits; this fixture's shared-vocab soup reads
    ≈−0.18, which is the point).

    Scale note: token counting is a map-side-partial hash aggregate
    over the corpus; everything after operates on the VOCABULARY
    (orders of magnitude smaller than the corpus), so the ranking
    sort and the regression aggregate are cheap at any corpus size."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), "t")
    ranked = freq.select("f", F.row_number().over(w).alias("r"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.round(F.expr("regr_slope(ln(f), ln(r))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(f), ln(r))"), 6).alias("fit_r2"),
    )


@query(
    "text_chunk_documents",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 40
    ),
    par AS (
        SELECT doc_id, toks,
               greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT))
                   AS n_chunks
        FROM tok
    ),
    ch AS (
        SELECT doc_id,
               unnest(range(0, n_chunks)) AS chunk_id,
               toks, n_chunks
        FROM par
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)],
                               ' ')) AS chunk_md5
    FROM ch
    ORDER BY doc_id, chunk_id
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap — the pretraining step
    between cleaning and packing: every document becomes ceil((n-o)/s)
    chunks of ≤32 tokens with an 8-token overlap (stride 24), so no
    span longer than the window is ever lost at a boundary.

    One narrow pass: split → sequence(0, n_chunks-1) → explode →
    slice — no shuffle at all until the display sort; at 100 TB the
    chunker is embarrassingly parallel and the output feeds
    text_pack_sequences. Chunk CONTENT (not just counts) is pinned by
    md5 per chunk against the oracle's identical slicing; the trailing
    chunk is naturally shorter (slice clamps on both engines). Display
    bounded to doc_id < 40 per the registry's no-row-dump convention;
    the chunker itself has no such limit."""
    chunk, overlap = 32, 8
    stride = chunk - overlap
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = F.split("text", " ")
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((F.size(toks) - overlap) / F.lit(float(stride))),
    )
    exploded = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    piece = F.slice(
        F.col("toks"), F.col("chunk_id").cast("int") * stride + 1, chunk
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


#: GPT-2-family pretokenizer shape: contraction suffixes, space-prefixed
#: word / number / punctuation runs. Char-class only (no backrefs, no
#: lookaround) so Java regex (Spark) and RE2 (DuckDB) agree exactly.
_BPE_PRETOKEN_RE = r"'(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+"


@query(
    "text_bpe_pretokenize",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(text,
                   '''(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9'']+'))
                   AS t
        FROM documents
    )
    SELECT lang,
           count(DISTINCT doc_id)               AS n_docs,
           count(*)                             AS n_pretokens,
           count(DISTINCT t)                    AS vocab,
           round(count(*) * 1.0
                 / count(DISTINCT doc_id), 6)   AS avg_per_doc
    FROM tok
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenization (the GPT-2 regex family) — the token
    COUNTING a training-data pipeline budgets with, as a pure codegen
    regexp_extract_all: contraction suffixes, space-prefixed word /
    number / punctuation runs. The pattern is deliberately char-class
    only so Spark's Java regex and the oracle's RE2 produce the same
    pretokens (pinned by the hash match), and the space-prefix
    convention means token counts here track what a real BPE encoder
    would see. One narrow pass + a lang-sized aggregate shuffle."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(f'regexp_extract_all(text, "{_BPE_PRETOKEN_RE}", 0)')
        ).alias("t"),
    )
    return (
        tok.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_pretokens"),
            F.countDistinct("t").alias("vocab"),
            F.round(
                F.count(F.lit(1)) / F.countDistinct("doc_id"), 6
            ).alias("avg_per_doc"),
        )
        .orderBy("lang")
    )


#: PII patterns — char-class only so Spark's Java regex and DuckDB's
#: RE2 match identically (no lookaround, no \d shorthand).
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
_PHONE_RE = r"\+1-555-[0-9][0-9][0-9][0-9]"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text || ' contact user' || doc_id ||
               '@example.com or +1-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
    ),
    red AS (
        SELECT doc_id, source, raw,
               regexp_replace(
                   regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
               len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones
        FROM seeded
    )
    SELECT source,
           count(*)                          AS n_docs,
           CAST(sum(n_emails) AS BIGINT)     AS emails_found,
           CAST(sum(n_phones) AS BIGINT)     AS phones_found,
           CAST(sum(CASE WHEN redacted <> raw THEN 1 ELSE 0 END) AS BIGINT)
                                             AS docs_changed,
           min(md5(redacted))                AS content_pin
    FROM red
    GROUP BY source
    ORDER BY source
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training-data
    pipeline runs before anything else: find + replace email/phone
    spans, count what was hit, and keep an md5 pin of the redacted
    content so the oracle proves the REPLACEMENT text (not just the
    counts) is byte-identical across engines.

    The corpus is synthetic word-soup with no real PII, so each doc is
    deterministically seeded with one email + one phone derived from
    doc_id — the redactor must then find exactly one of each (the
    oracle pins emails_found == n_docs per source). Patterns are
    char-class-only so Java regex (Spark) and RE2 (DuckDB) agree.

    Scale shape: one narrow regexp pass per doc (whole-stage codegen,
    no Python), then a source-sized aggregate — scan-bound at 100 TB,
    exactly like the quality filters it precedes."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = d.select(
        "source",
        raw.alias("raw"),
        F.regexp_replace(
            F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )
    # patterns go through F.lit (never an F.expr SQL string literal:
    # the SQL parser would eat the \+ escape before the regex engine)
    red = red.withColumn(
        "n_emails",
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), F.lit(0))),
    ).withColumn(
        "n_phones",
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), F.lit(0))),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("emails_found"),
            F.sum("n_phones").alias("phones_found"),
            F.sum(
                (F.col("redacted") != F.col("raw")).cast("long")
            ).alias("docs_changed"),
            F.min(F.md5("redacted")).alias("content_pin"),
        )
        .orderBy("source")
    )


@query(
    "text_gopher_filters",
    oracle="""
    WITH s AS (
        SELECT lang,
               len(string_split(text, ' ')) AS nw,
               (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
                   / len(string_split(text, ' ')) AS mwl,
               len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')) AS ttr,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the','a','of','and','to'))) AS stops
        FROM documents
    ),
    g AS (
        SELECT lang,
               (nw BETWEEN 30 AND 80)        AS ok_len,
               (mwl BETWEEN 3.0 AND 10.0)    AS ok_mwl,
               (ttr >= 0.35)                 AS ok_ttr,
               (stops >= 1)                  AS ok_stop
        FROM s
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN NOT ok_len  THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_len,
           CAST(sum(CASE WHEN NOT ok_mwl  THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_mean_wlen,
           CAST(sum(CASE WHEN NOT ok_ttr  THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_ttr,
           CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_stopword,
           CAST(sum(CASE WHEN ok_len AND ok_mwl AND ok_ttr AND ok_stop
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(sum(CASE WHEN ok_len AND ok_mwl AND ok_ttr AND ok_stop
                     THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS pass_rate
    FROM g
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality GATE — the per-rule reject funnel
    (Rae et al. 2021 §A1.1 'quality filtering' heuristics, re-derived
    for this corpus): word-count band, mean-word-length band,
    type-token ratio floor, and a stopword-presence floor. Where
    text_quality_score reports continuous signals, this query makes
    the keep/drop DECISION and accounts per-rule rejects per language
    — what a curation run actually reports to its operator.

    Thresholds are corpus-calibrated to discriminate (30≤nw≤80 keeps
    ~59%, ttr≥0.35 ~80%, stops≥1 ~95%; mean-word-length is non-binding
    on this synthetic corpus but kept because real corpora bind on it).
    Mean word length is computed arithmetically ((chars−spaces)/words)
    rather than via a HOF so both engines share exact float inputs.

    Scale shape: narrow per-doc booleans (codegen, no shuffle) into a
    lang-sized aggregate; the gate adds nothing beyond the scan the
    quality scorer already pays."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    nw = F.size(words)
    mwl = (F.length("text") - (nw - 1)).cast("double") / nw
    ttr = F.size(F.array_distinct(words)).cast("double") / nw
    stops = F.size(F.filter(words, lambda t: t.isin(*_STOPWORDS)))
    g = d.select(
        "lang",
        nw.between(30, 80).alias("ok_len"),
        mwl.between(3.0, 10.0).alias("ok_mwl"),
        (ttr >= 0.35).alias("ok_ttr"),
        (stops >= 1).alias("ok_stop"),
    )
    all_ok = (
        F.col("ok_len") & F.col("ok_mwl") & F.col("ok_ttr") & F.col("ok_stop")
    )
    return (
        g.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("ok_len")).cast("long")).alias("fail_len"),
            F.sum((~F.col("ok_mwl")).cast("long")).alias("fail_mean_wlen"),
            F.sum((~F.col("ok_ttr")).cast("long")).alias("fail_ttr"),
            F.sum((~F.col("ok_stop")).cast("long")).alias("fail_stopword"),
            F.sum(all_ok.cast("long")).alias("n_pass"),
            F.round(
                F.sum(all_ok.cast("long")) / F.count(F.lit(1)), 6
            ).alias("pass_rate"),
        )
        .orderBy("lang")
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id, lang,
               md5(array_to_string(w[pos:pos+7], ' ')) AS h
        FROM toks, unnest(range(1, len(w) - 6)) AS t(pos)
        WHERE len(w) >= 8
    ),
    eval_h AS (
        SELECT DISTINCT h FROM sh WHERE doc_id % 17 = 0
    ),
    train AS (
        SELECT DISTINCT doc_id, lang FROM sh WHERE doc_id % 17 <> 0
    ),
    hits AS (
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN eval_h e ON s.h = e.h
        WHERE s.doc_id % 17 <> 0
    )
    SELECT t.lang,
           count(*) AS n_train,
           CAST(sum(CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(sum(CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 ::DOUBLE / count(*), 6) AS contamination_rate
    FROM train t LEFT JOIN hits ON t.doc_id = hits.doc_id
    GROUP BY t.lang
    ORDER BY t.lang
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the n-gram overlap check every
    serious training run does before touching eval numbers (GPT-3
    appendix C / PaLM-style 8-gram collision test): a train document
    is contaminated if ANY of its 8-grams appears in the held-out
    set. The held-out set here is the deterministic doc_id%17 slice
    so the oracle can replay the identical split.

    Distinct from dedup: the comparison is CROSS-corpus (train vs
    eval), the decision is one-sided (drop/flag train docs, never
    eval), and the right plan is a SEMI-join against the eval gram
    set — no pair enumeration at all.

    At 100 TB: shingle both sides (narrow), distinct the eval grams
    (eval sets are benchmark-sized — thousands of docs — so this side
    stays small; Spark broadcasts it when it fits, and the left-semi
    join never materializes matches), then per-doc any-hit and a
    lang-sized rollup. Runtime is dominated by the train-side scan,
    which is the floor for any decontamination pass.

    r13 (guide §2.4, one fewer shingle pass): the train-doc roster
    needs no shingles at all — a document contributes to n_train iff
    it has ≥ k tokens and is on the train side of the id split, and
    doc_id is the table key, so `distinct (doc_id, lang) over train
    shingles` ≡ a narrow filter of the base table. The r12 form
    re-ran the explode+md5 shingle pass a third time just to recover
    that roster (the doc_id%17 filters already push below the explode
    on the other two passes, so eval-side shingling only ever touches
    the 1/17 eval slice — the roster pass was the only redundant
    full-width one)."""
    k = 8
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    sh = (
        d.select("doc_id", "lang", w.alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.size("w") - (k - 1))).alias(
                "pos"
            ),
            "w",
        )
        .select(
            "doc_id",
            "lang",
            F.md5(F.concat_ws(" ", F.slice("w", F.col("pos"), k))).alias("h"),
        )
    )
    eval_h = sh.filter(F.col("doc_id") % 17 == 0).select("h").distinct()
    train = sh.filter(F.col("doc_id") % 17 != 0)
    hits = (
        train.join(eval_h, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train_docs = d.filter(
        (F.size(w) >= k) & (F.col("doc_id") % 17 != 0)
    ).select("doc_id", "lang")
    return (
        train_docs.join(hits, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 6
            ).alias("contamination_rate"),
        )
        .orderBy("lang")
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    tok_f AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    lm AS (
        SELECT t, count(*)::DOUBLE AS c FROM tok_f GROUP BY t
    ),
    tot AS (SELECT sum(c) AS n FROM lm),
    scored AS (
        SELECT tok_f.doc_id,
               count(*) AS n_tokens,
               avg(ln(lm.c / tot.n)) AS alp_raw
        FROM tok_f JOIN lm ON tok_f.t = lm.t CROSS JOIN tot
        GROUP BY tok_f.doc_id
    )
    SELECT doc_id,
           n_tokens,
           round(alp_raw, 5) AS avg_logprob,
           round(exp(-round(alp_raw, 5)), 2) AS ppl
    FROM scored
    ORDER BY avg_logprob ASC, doc_id
    LIMIT 15
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, CCNet-style (Wenzek et al.
    2020 train a KenLM and drop high-perplexity documents): score every
    document by its mean token log-probability under a unigram LM
    fitted on the corpus itself, and surface the 15 most surprising
    (lowest mean log-prob = highest perplexity) documents — the ones a
    perplexity gate would cut first. The unigram LM is the
    SQL-expressible core of the technique; the filtering contract
    (fit corpus LM → score docs → threshold) is identical for any
    higher-order model.

    Plan shape at 100 TB: tokenize is a narrow explode; the LM fit is
    one vocabulary-bounded hash aggregate; scoring re-keys the token
    stream by word to pick up counts (AQE broadcasts the LM side when
    the vocabulary is small, falls back to a shuffle join when it
    isn't — both are word-keyed, never doc-quadratic), then one
    doc-keyed aggregate; top-15 compiles to TakeOrderedAndProject.
    No Python anywhere. MLE probabilities need no smoothing here
    because the LM is fit on the very corpus being scored (every
    token has a nonzero count by construction).

    r13 note: a ROLLUP fold of lm+total into one pinned pass (the
    text_bigram_lm_ppl recipe) was implemented, proven identical, and
    REVERTED — paired 1.28/1.38/1.33 over three runs; on this query
    the pin's extra materialization job outweighs the one saved
    explode+aggregate (the bigram variant saves three).

    ppl is derived from the ALREADY-ROUNDED mean log-prob so both
    engines exponentiate bit-identical inputs.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    lm = tok.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("c"))
    total = lm.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(lm, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("c") / F.col("n"))).alias("alp_raw"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            F.round("alp_raw", 5).alias("avg_logprob"),
            F.round(F.exp(-F.round("alp_raw", 5)), 2).alias("ppl"),
        )
        .orderBy(F.col("avg_logprob").asc(), "doc_id")
        .limit(15)
    )


@query(
    "text_collapse_repeats",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sq AS (
        SELECT doc_id,
               len(w) AS n_before,
               list_filter(w, (x, i) -> i = 1 OR x <> w[i - 1]) AS kept
        FROM toks
    )
    SELECT doc_id,
           n_before,
           len(kept)             AS n_after,
           n_before - len(kept)  AS n_removed,
           md5(array_to_string(kept, ' ')) AS cleaned_pin
    FROM sq
    WHERE n_before > len(kept)
    ORDER BY n_removed DESC, doc_id
    LIMIT 20
    """,
)
def text_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate-token squeeze — the normalization pass
    that collapses stutter runs ('batch batch batch' → 'batch') before
    token budgeting, a standard cleanup for OCR/boilerplate/SEO spam.
    One indexed higher-order filter per document (keep token i iff
    i = 0 or it differs from token i−1) — order-preserving, purely
    narrow, no shuffle until the final top-20. The md5 pin over the
    CLEANED text proves the surviving token sequence, not just counts,
    is identical across engines (both lambdas index the same array;
    Spark's is 0-based, the oracle's 1-based).
    """
    d = load_table(spark, sf_dir, "documents")
    sq = d.select(
        "doc_id",
        F.expr("split(text, ' ')").alias("w"),
    ).select(
        "doc_id",
        F.size("w").alias("n_before"),
        F.expr("filter(w, (x, i) -> i = 0 OR x <> w[i - 1])").alias("kept"),
    )
    return (
        sq.select(
            "doc_id",
            "n_before",
            F.size("kept").alias("n_after"),
            (F.col("n_before") - F.size("kept")).alias("n_removed"),
            F.md5(F.concat_ws(" ", F.col("kept"))).alias("cleaned_pin"),
        )
        .filter(F.col("n_removed") > 0)
        .orderBy(F.col("n_removed").desc(), "doc_id")
        .limit(20)
    )


@query(
    "text_pmi_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(w[1:len(w) - 1],
                                     (x, i) -> {'w1': x, 'w2': w[i + 1]})) AS b
        FROM toks
    ),
    bgc AS (
        SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_ab FROM bg GROUP BY 1, 2
    ),
    unic AS (
        SELECT t, count(*) AS c
        FROM (SELECT unnest(w) AS t FROM toks)
        GROUP BY t
    ),
    nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bgc),
    nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM unic)
    SELECT w1, w2, c_ab,
           round(ln((c_ab / n_bi) / ((u1.c / n_uni) * (u2.c / n_uni))), 5)
               AS pmi
    FROM bgc
    JOIN unic u1 ON bgc.w1 = u1.t
    JOIN unic u2 ON bgc.w2 = u2.t
    CROSS JOIN nb CROSS JOIN nu
    WHERE c_ab >= 10
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations — the statistical
    phrase-mining step (Mikolov et al. 2013's word2phrase scoring):
    PMI(a,b) = ln(p(ab) / (p(a)·p(b))) over corpus bigram and unigram
    frequencies, min-count 10, top-20 strongest collocations. High-PMI
    pairs are the multiword units a tokenizer or phrase-joiner should
    treat as one symbol; complements text_bigram_top20 (raw frequency)
    with the association-strength ranking that frequency alone gets
    wrong for common-word pairs.

    Plan (r13 single-pass restructure, guide §2.3/§2.4 — the r12 form
    tokenized the corpus FIVE times: the bigram counts, the unigram
    counts twice for the two endpoint lookups, and both totals
    re-deriving those aggregates): ONE explode carries each token with
    its successor (null past the end), and one plain (tok, nxt)
    count — pinned, pair-vocabulary-bounded — is the sole corpus
    aggregate; every statistic the query needs is a filter or a cheap
    re-aggregation of that pin (bigram counts = non-null-successor
    groups; unigram counts = Σ over successors; both corpus totals =
    1-row sums). All exact integers, identical to the separate
    aggregates. The probability joins and the 1-row broadcasts are
    unchanged; top-20 is TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    tn = F.zip_with(
        w,
        F.slice(w, 2, F.size(w)),
        lambda a, b: F.struct(a.alias("tok"), b.alias("nxt")),
    )
    ev = d.select(F.explode(tn).alias("p")).select("p.tok", "p.nxt")
    # one plain (tok, nxt) count — no grouping sets: an Expand copies
    # every exploded token once per grouping set through the partial
    # aggregate (measured a paired loss on the sibling bigram query),
    # while every statistic here is a cheap re-aggregation of this
    # pair-vocabulary pin.
    lm = (
        ev.groupBy("tok", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(pin)
    )
    bgc = lm.filter(F.col("nxt").isNotNull()).select(
        F.col("tok").alias("w1"),
        F.col("nxt").alias("w2"),
        F.col("cnt").alias("c_ab"),
    )
    unic = lm.groupBy("tok").agg(F.sum("cnt").alias("cl")).select(
        F.col("tok").alias("t"), F.col("cl").alias("c")
    )
    tot = lm.agg(
        F.sum("cnt").alias("tc"),
        F.sum(F.when(F.col("nxt").isNotNull(), F.col("cnt"))).alias("tv"),
    )
    nb = tot.select(F.col("tv").cast("double").alias("n_bi"))
    nu = tot.select(F.col("tc").cast("double").alias("n_uni"))
    u1 = unic.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    u2 = unic.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    return (
        bgc.filter(F.col("c_ab") >= 10)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_bi"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                ),
                5,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "text_entropy_kl",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tok_f AS (SELECT source, t FROM tok WHERE t <> ''),
    sc AS (
        SELECT source, t, count(*)::DOUBLE AS c FROM tok_f GROUP BY source, t
    ),
    stot AS (
        SELECT source, sum(c) AS n FROM sc GROUP BY source
    ),
    cc AS (
        SELECT t, sum(c) AS cc FROM sc GROUP BY t
    ),
    ctot AS (SELECT sum(cc) AS nn FROM cc)
    SELECT sc.source,
           CAST(min(stot.n) AS BIGINT)  AS n_tokens,
           CAST(count(*) AS BIGINT)     AS vocab,
           round(-sum((sc.c / stot.n) * ln(sc.c / stot.n)), 6)  AS entropy,
           round(sum((sc.c / stot.n)
                     * ln((sc.c / stot.n) / (cc.cc / ctot.nn))), 6) AS kl_vs_corpus
    FROM sc
    JOIN stot USING (source)
    JOIN cc USING (t)
    CROSS JOIN ctot
    GROUP BY sc.source
    ORDER BY sc.source
    """,
)
def text_entropy_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution diagnostics: Shannon entropy (how
    diverse a source's vocabulary usage is) and KL(source ‖ corpus)
    (how far the source drifts from the corpus-wide distribution) —
    the domain-shift measurement behind mixture design: a source with
    high KL contributes distribution mass the others don't, which is
    what sample_mixture_weights' quotas trade off.

    Everything reduces to (source, token) counts: one
    vocabulary-bounded hash aggregate, a token-keyed join against the
    corpus marginals (vocabulary-sized build side), and per-source
    sums of p·ln(p) terms. KL is finite by construction — every
    source token exists in the corpus marginal, so the support
    condition KL requires holds automatically.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("source", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    sc = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    cc = sc.groupBy("t").agg(F.sum("c").alias("cc"))
    ctot = cc.agg(F.sum("cc").alias("nn"))
    p_s = F.col("c") / F.col("n")
    p_c = F.col("cc") / F.col("nn")
    return (
        sc.join(F.broadcast(stot), "source")
        .join(cc, "t")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.min("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.round(-F.sum(p_s * F.log(p_s)), 6).alias("entropy"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


@query(
    "text_source_vocab_overlap",
    oracle="""
    WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT source,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS bg
        FROM t
    ),
    v AS (SELECT DISTINCT source, bg FROM b),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY source),
    p AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM v a JOIN v b ON a.bg = b.bg AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, x.n AS v_a, y.n AS v_b, n_shared,
           round(n_shared * 1.0 / (x.n + y.n - n_shared), 6)   AS jaccard,
           round(n_shared * 1.0 / least(x.n, y.n), 6)          AS containment
    FROM p
    JOIN sz x ON p.source_a = x.source
    JOIN sz y ON p.source_b = y.source
    ORDER BY jaccard DESC, source_a, source_b
    LIMIT 20
    """,
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus similarity: pairwise Jaccard/containment of
    per-source bigram VOCABULARIES — the redundancy screen a mixture
    designer runs before weighting domains (two sources with ~1.0
    containment contribute one domain's worth of diversity, not two;
    complements ``text_entropy_kl``, which compares sources to the
    corpus, by comparing sources to EACH OTHER). Scale shape: documents
    reduce to distinct (source, bigram) rows first — vocabulary-sized,
    like every text-stats operator here — and the pair join is an
    inverted-index equi join ON THE BIGRAM (candidates only where a
    bigram is shared; never a source×source cross join), followed by
    bounded source-level arithmetic. Unigrams are deliberately not
    used: this fixture's word vocabulary saturates every source
    (Jaccard ≡ 1.0, no signal); bigram space is sparse enough to
    discriminate — the same reason shingle dedup shingles above the
    unigram level."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    # vocabulary-sized and consumed THREE times (sizes + both join
    # sides) — checkpoint so the corpus bigram pass runs once.
    v = (
        d.select("source", F.explode(bigrams).alias("bg"))
        .distinct()
        .transform(pin)
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = v.select(F.col("source").alias("source_a"), "bg")
    b = v.select(F.col("source").alias("source_b"), "bg")
    pairs = (
        a.join(b, "bg")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sz_a = sz.select(
        F.col("source").alias("source_a"), F.col("n").alias("v_a")
    )
    sz_b = sz.select(
        F.col("source").alias("source_b"), F.col("n").alias("v_b")
    )
    return (
        pairs.join(F.broadcast(sz_a), "source_a")
        .join(F.broadcast(sz_b), "source_b")
        .select(
            "source_a",
            "source_b",
            "v_a",
            "v_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("v_a") + F.col("v_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_shared") / F.least("v_a", "v_b"), 6
            ).alias("containment"),
        )
        .orderBy(F.col("jaccard").desc(), "source_a", "source_b")
        .limit(20)
    )


#: BM25 constants (Robertson; Lucene idf form) and the demo query terms.
BM25_K1, BM25_B = 1.2, 0.75
BM25_TERMS = ("spark", "window", "join")


@query(
    "text_bm25_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               avg(dl) AS avgdl
        FROM (SELECT doc_id, min(dl) AS dl FROM toks GROUP BY doc_id)
    ),
    tf AS (
        SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
        FROM toks WHERE t IN ('spark', 'window', 'join')
        GROUP BY doc_id, t
    ),
    df AS (
        SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM toks
        WHERE t IN ('spark', 'window', 'join') GROUP BY t
    ),
    contrib AS (
        SELECT tf.doc_id, tf.t,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / avgdl)) AS c
        FROM tf JOIN df ON tf.t = df.t, stats
    ),
    pivoted AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN t = 'spark'  THEN c END), 0.0) AS c1,
               coalesce(max(CASE WHEN t = 'window' THEN c END), 0.0) AS c2,
               coalesce(max(CASE WHEN t = 'join'   THEN c END), 0.0) AS c3
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, round(c1 + c2 + c3, 6) AS bm25
    FROM pivoted
    ORDER BY round(c1 + c2 + c3, 6) DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval with BM25 ranking (Robertson k1=1.2 b=0.75,
    Lucene's idf form) for a 3-term query — the lexical-search half of
    a retrieval stack (the embedding half lives in similarity.py; real
    RAG serving runs both and fuses). Plan shape is the inverted-index
    one: tokenize once, keep ONLY postings of the query terms (the
    filter lands before any shuffle, so the heavy corpus reduces to
    |postings(q)| rows immediately), aggregate tf per (doc, term),
    broadcast the term df table and the 2-value corpus stats, and
    TakeOrderedAndProject the top-10. Per-term contributions are
    pivoted into FIXED-ORDER columns before summing so both engines
    add the same doubles in the same order (3-way float addition is
    not associative; a groupBy-sum would be accumulation-order-
    dependent) — that, plus integer-valued dl sums being exact in
    doubles, is what lets an ln()-heavy ranking function hash-match
    across engines. At 100 TB the pre-built inverted index replaces
    the tokenize step; everything downstream is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = d.select(
        "doc_id", F.size(w).alias("dl"), F.explode(w).alias("t")
    )
    stats = F.broadcast(
        d.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg(F.size(w)).alias("avgdl"),
        )
    )
    q = list(BM25_TERMS)
    # |postings(q)| rows only — consumed by both tf and df; checkpoint
    # so the corpus tokenize+filter runs once, not per consumer.
    postings = toks.filter(F.col("t").isin(*q)).transform(pin)
    tf = postings.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.min("dl").alias("dl"),
    )
    df_t = F.broadcast(
        postings.groupBy("t").agg(
            F.countDistinct("doc_id").cast("double").alias("df")
        )
    )
    k1, b = BM25_K1, BM25_B
    c = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        )
        * F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    contrib = tf.join(df_t, "t").crossJoin(stats).select(
        "doc_id", "t", c.alias("c")
    )
    pivoted = contrib.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("t") == term, F.col("c"))), F.lit(0.0)
            ).alias(f"c{i + 1}")
            for i, term in enumerate(q)
        ]
    )
    score = F.col("c1") + F.col("c2") + F.col("c3")
    return (
        pivoted.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@query(
    "text_hashed_linear_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    w AS (
        SELECT doc_id, lang, n,
               ((instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096
                + (instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256
                + (instr('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(md5(t), 4, 1)) - 1))
               % 2001 - 1000 AS wi
        FROM toks
    ),
    scored AS (
        SELECT doc_id, lang,
               round(1.0 / (1.0 + exp(-(0.1 + sum(wi)
                     / (1000.0 * min(n))))), 6) AS score
        FROM w GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           round(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS keep_rate,
           round(avg(score), 6) AS avg_score
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def text_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-gate INFERENCE over the corpus — the FineWeb-edu /
    fastText-style pattern where a trained linear model scores every
    document and a threshold decides keep/drop. The model here is a
    hashed-bag-of-words linear scorer with deterministic weights (so
    the oracle can run it too): token → 4 md5 hex chars → integer
    weight in [-1000, 1000], doc score = sigmoid(bias + mean weight).
    The shape IS production classifier inference on Spark: weights
    resolve per token with no lookup table to ship (feature hashing —
    Weinberger et al. 2009), per-doc sums are INTEGER (exact in
    doubles, hence engine-portable — same trick as
    agg_higher_moments), one shuffle on doc_id, and only the
    per-language keep-rate rollup leaves the executors. Swapping real
    fastText weights in means broadcasting an array literal the same
    way the k-means codebook ships; nothing else changes."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = d.select(
        "doc_id", "lang", F.size(w).alias("n"), F.explode(w).alias("t")
    )
    hexv = lambda i: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("t"), i, 1)) - 1
    )
    wi = (
        hexv(1) * 4096 + hexv(2) * 256 + hexv(3) * 16 + hexv(4)
    ) % 2001 - 1000
    scored = (
        toks.withColumn("wi", wi)
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                1.0
                / (
                    1.0
                    + F.exp(
                        -(0.1 + F.sum("wi") / (1000.0 * F.min("n")))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("score") >= 0.5).cast("long")).alias("n_keep"),
            F.round(
                F.sum((F.col("score") >= 0.5).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("keep_rate"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
        .orderBy("lang")
    )


#: interpolation weight for the bigram LM: λ·P(w|prev) + (1-λ)·P(w)
BIGRAM_LM_LAMBDA = 0.8


@query(
    "text_bigram_lm_ppl",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    idx AS (
        SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t
    ),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM idx
        WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    big AS (
        SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bg GROUP BY w1, w2
    ),
    pre AS (
        SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1
    ),
    tok AS (
        SELECT unnest(string_split(text, ' ')) AS u FROM documents
    ),
    uni AS (
        SELECT u, count(*)::DOUBLE AS cu FROM tok WHERE u <> '' GROUP BY u
    ),
    tot AS (SELECT sum(cu) AS n FROM uni),
    scored AS (
        SELECT bg.doc_id,
               count(*) AS n_bigrams,
               avg(ln({BIGRAM_LM_LAMBDA} * big.c12 / pre.c1
                      + {1 - BIGRAM_LM_LAMBDA} * uni.cu / tot.n))
                   AS alp_raw
        FROM bg
        JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
        JOIN pre ON bg.w1 = pre.w1
        JOIN uni ON bg.w2 = uni.u
        CROSS JOIN tot
        GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams,
           round(alp_raw, 5) AS avg_logprob,
           round(exp(-round(alp_raw, 5)), 2) AS ppl
    FROM scored
    ORDER BY avg_logprob ASC, doc_id
    LIMIT 15
    """,
)
def text_bigram_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model perplexity gate — the
    higher-order upgrade of text_unigram_logprob's CCNet-style filter:
    each adjacent word pair is scored by
    ln(λ·P(w|prev) + (1−λ)·P(w)) with λ=0.8 (Jelinek-Mercer
    interpolation, the standard guard against sparse bigram
    estimates), averaged per document, and the 15 most surprising
    documents surface. Context-aware scoring separates "rare words"
    from "rare SEQUENCES" — boilerplate made of common words in
    unusual order (shuffled spam, template glitches) scores normal
    under a unigram LM but high-perplexity here.

    Plan shape at 100 TB, all JVM expressions: ONE token-successor
    explode feeds everything (r13 single-pass restructure, guide
    §2.3/§2.4 — the r12 form tokenized the corpus FIVE times: the
    scoring stream, the bigram counts, the prefix totals re-deriving
    them, the unigram counts, and the total re-deriving those). Each
    token rides with its successor (null past the end), so one plain
    (tok, nxt) count — pinned, pair-vocabulary-bounded — is the sole
    corpus aggregate, and all three LM tables are filters or cheap
    re-aggregations of the pin: bigram counts = valid-successor
    groups; unigram counts = Σ over a token's successor groups (every
    occurrence has exactly one successor row); prefix totals = the
    same sum over valid successors only (≡ Σc12 over that w1); the
    token total = a 1-row sum. Every statistic is the identical exact
    integer the separate aggregates produced (cast to double below
    2^53). Scoring re-keys the
    bigram stream (the second and only other corpus pass) three times
    on word-shaped keys (AQE broadcasts small LM sides), then one
    doc-keyed aggregate; TakeOrderedAndProject for the top-15.
    Perplexity exponentiates the ALREADY-ROUNDED mean so both engines
    see bit-identical inputs."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    # (tok_i, tok_{i+1}) for every position; the last token pairs with
    # null (zip_with pads the shorter side), so unigram statistics fall
    # out of the same explode that carries the bigram stream.
    tn = F.zip_with(
        w,
        F.slice(w, 2, F.size(w)),
        lambda a, b: F.struct(a.alias("tok"), b.alias("nxt")),
    )
    ev = (
        d.select("doc_id", F.explode(tn).alias("p"))
        .select("doc_id", F.col("p.tok").alias("tok"), F.col("p.nxt").alias("nxt"))
        .filter(F.col("tok") != "")
    )
    valid = F.col("nxt").isNotNull() & (F.col("nxt") != "")
    # one plain (tok, nxt) count — no grouping sets: an Expand would
    # copy every exploded token once per grouping set through the
    # partial aggregate (a measured 1.07–1.27 paired loss in both the
    # 3-set and 2-set variants tried first this round), while every LM
    # table is a cheap re-aggregation of this pair-vocabulary pin.
    lm = (
        ev.groupBy("tok", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(pin)
    )
    big = lm.filter(valid).select(
        F.col("tok").alias("w1"),
        F.col("nxt").alias("w2"),
        F.col("cnt").cast("double").alias("c12"),
    )
    pre = (
        lm.filter(valid)
        .groupBy("tok")
        .agg(F.sum("cnt").alias("c1l"))
        .select(F.col("tok").alias("w1"), F.col("c1l").cast("double").alias("c1"))
    )
    uni = (
        lm.groupBy("tok")
        .agg(F.sum("cnt").alias("cul"))
        .select(F.col("tok").alias("u"), F.col("cul").cast("double").alias("cu"))
    )
    tot = lm.agg(F.sum("cnt").alias("t")).select(
        F.col("t").cast("double").alias("n")
    )
    bg = ev.filter(valid).select(
        "doc_id", F.col("tok").alias("w1"), F.col("nxt").alias("w2")
    )
    lam = F.lit(BIGRAM_LM_LAMBDA)
    scored = (
        bg.join(big, ["w1", "w2"])
        .join(pre, "w1")
        .join(uni, bg["w2"] == uni["u"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log(
                    lam * F.col("c12") / F.col("c1")
                    + (F.lit(1.0) - lam) * F.col("cu") / F.col("n")
                )
            ).alias("alp_raw"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            F.round("alp_raw", 5).alias("avg_logprob"),
            F.round(F.exp(-F.round("alp_raw", 5)), 2).alias("ppl"),
        )
        .orderBy(F.col("avg_logprob").asc(), "doc_id")
        .limit(15)
    )


@query(
    "text_url_canonicalize",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'https://'
               || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
               || source || '.example.com'
               || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
               || '/' || lang || '/page-' || CAST(doc_id % 40 AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, url,
               'https://'
               || lower(regexp_extract(url,
                      '^https://([^/:?#]+)', 1))
               || rtrim(regexp_extract(url,
                      '^https://[^/]+(/[^?#]*)', 1), '/') AS canonical_url
        FROM u
    )
    SELECT CAST(count(*) AS BIGINT)                        AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT)             AS n_raw_distinct,
           CAST(count(DISTINCT canonical_url) AS BIGINT)   AS n_canonical,
           CAST(count(*) - count(DISTINCT canonical_url) AS BIGINT)
               AS n_alias_dups,
           CAST(min(doc_id) AS BIGINT)                     AS first_doc
    FROM canon
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the web-corpus curation step that
    runs BEFORE any content hashing (CommonCrawl-style pipelines drop
    the bulk of their duplicates on canonical URL alone, at string
    cost instead of content cost): case-fold the host, strip the
    default port, drop tracking query params and fragments, and
    normalize the trailing slash, then count how many raw URLs
    collapse into each canonical form. Since the fixtures carry no
    URL column, the raw URLs are SYNTHESIZED deterministically from
    (source, lang, doc_id) with the messiness injected by residue
    classes — upper-case WWW, :443, utm params, fragments, trailing
    slashes — so both engines canonicalize an identical byte stream
    and the hash match pins every rule.

    The canonical form here keeps scheme+host+path and drops the
    whole query/fragment (the synthesized queries are all tracking
    params); a production variant whitelists semantic params the same
    way. Spark side extracts with parse_url(HOST/PATH) — the
    JVM-codegen URL splitter — while the oracle spells the identical
    extraction as regexes; agreement of the two parsers on every row
    is part of what the hash proves. Plan: narrow string expressions
    + one partial-aggregated distinct-count pass, no shuffle beyond
    the count-distinct expand — at 100 TB this runs at scan speed,
    which is exactly why URL dedup goes first."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, "WWW.").otherwise("www."),
        F.col("source"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 5 == 0, ":443").otherwise(""),
        F.lit("/"),
        F.col("lang"),
        F.lit("/page-"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, "/").otherwise(""),
        F.when(F.col("doc_id") % 3 == 0, "?utm_source=feed").otherwise(""),
        F.when(F.col("doc_id") % 7 == 0, "#frag").otherwise(""),
    )
    u = d.select("doc_id", url.alias("url"))
    host = F.lower(F.regexp_replace(F.parse_url("url", F.lit("HOST")), ":443$", ""))
    path = F.regexp_replace(F.parse_url("url", F.lit("PATH")), "/$", "")
    canon = u.select(
        "doc_id",
        "url",
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
    )
    return canon.agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("url").cast("long").alias("n_raw_distinct"),
        F.countDistinct("canonical_url").cast("long").alias("n_canonical"),
        (F.count(F.lit(1)) - F.countDistinct("canonical_url"))
        .cast("long")
        .alias("n_alias_dups"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


# --- DSIR-style importance resampling ---------------------------------

#: hashed-feature vocabulary size for the importance model (Xie et
#: al., "Data Selection for Language Models via Importance Resampling",
#: NeurIPS'23 — unigrams hashed into a fixed bucket space so the model
#: state is B counts per distribution, never a vocabulary).
_DSIR_BUCKETS = 1024
#: fixed-point scale for per-bucket log-ratios: floor(lr*1e6 + 0.5)
#: turns identical doubles into identical int64s, making the per-doc
#: score an EXACT integer sum (no float-accumulation-order hazard).
_DSIR_SCALE = 1_000_000


@query(
    "text_dsir_importance",
    oracle=f"""
    WITH d2 AS (
        SELECT doc_id, source, text,
               CASE WHEN list_contains(string_split(text, ' '), 'spark')
                    THEN 1 ELSE 0 END AS is_t
        FROM documents
    ),
    tok AS (
        SELECT d.doc_id, d.source, d.is_t,
               CAST('0x' || substr(md5(t.w), 1, 4) AS BIGINT)
                   % {_DSIR_BUCKETS} AS b
        FROM d2 d, unnest(string_split(d.text, ' ')) AS t(w)
        WHERE t.w <> ''
    ),
    bs AS (
        SELECT b,
               CAST(count(*) AS BIGINT) AS g,
               CAST(coalesce(sum(CASE WHEN is_t = 1 THEN 1 END), 0)
                    AS BIGINT) AS t
        FROM tok GROUP BY b
    ),
    tot AS (
        SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(t) AS BIGINT) AS tt
        FROM bs
    ),
    lr AS (
        SELECT b,
               CAST(floor((ln((t + 1.0) / (tt + {_DSIR_BUCKETS}))
                           - ln((g + 1.0) / (gt + {_DSIR_BUCKETS})))
                          * {_DSIR_SCALE} + 0.5) AS BIGINT) AS lrs
        FROM bs CROSS JOIN tot
    ),
    score AS (
        SELECT tok.doc_id, min(tok.source) AS source,
               min(tok.is_t) AS is_t,
               CAST(sum(lr.lrs) AS BIGINT) AS s
        FROM tok JOIN lr ON lr.b = tok.b
        GROUP BY tok.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN s > 0 THEN 1 END), 0) AS BIGINT)
               AS n_selected,
           CAST(coalesce(sum(CASE WHEN is_t = 1 THEN 1 END), 0)
                AS BIGINT) AS n_target,
           CAST(coalesce(sum(CASE WHEN is_t = 1 AND s > 0 THEN 1 END),
                         0) AS BIGINT) AS n_target_selected,
           round(coalesce(sum(CASE WHEN s > 0 THEN 1 END), 0) * 1.0
                 / count(*), 6) AS sel_rate,
           round(CAST(sum(s) AS BIGINT) * 1.0
                 / ({_DSIR_SCALE}.0 * count(*)), 6) AS avg_logweight
    FROM score
    GROUP BY source
    ORDER BY source
    """,
)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring for pretraining-data selection
    (Xie et al. NeurIPS'23): estimate hashed-unigram distributions
    for a TARGET domain and the raw pool, score every document by its
    log importance weight
    sum_w [ln p_target(bucket(w)) - ln p_pool(bucket(w))]
    (add-one smoothing over 1024 hashed buckets), and report
    per-source selection stats for the keep-if-weight>1 rule.

    The target here is KEYWORD-DEFINED (docs containing the token
    'spark') rather than the fixture's language labels, deliberately:
    this corpus draws every language from ONE shared 31-word
    vocabulary, so lang carries zero distributional signal and any
    label-based target would be noise-only — a content-defined
    target has signal by construction, which is what lets the
    contract test assert the estimator's defining behavior (selected
    docs are enriched in the target distribution) instead of
    asserting on noise.

    Engine-portability: the per-BUCKET log-ratio is fixed-pointed
    once (floor(lr*1e6+0.5) of bit-identical doubles), so each
    document's score is an EXACT integer sum of bucket constants —
    per-doc float accumulation (whose grouping order differs between
    engines) never happens. At 100 TB: model state is two
    1024-bucket count vectors (broadcast), scoring is one explode +
    one broadcast join + one doc-keyed aggregate; the token table is
    localCheckpointed so the explode runs ONCE for both the
    distribution build and the scoring pass."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.array_contains(F.split(F.col("text"), " "), "spark")
        .cast("long")
        .alias("is_t"),
    )
    tok = (
        d.select(
            "doc_id",
            "source",
            "is_t",
            F.explode(F.split(F.col("text"), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .withColumn(
            "b",
            F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast(
                "long"
            )
            % _DSIR_BUCKETS,
        )
        .transform(pin)
    )
    bs = tok.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.coalesce(F.sum(F.when(F.col("is_t") == 1, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("t"),
    )
    tot = bs.agg(
        F.sum("g").cast("long").alias("gt"),
        F.sum("t").cast("long").alias("tt"),
    )
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log((F.col("t") + 1.0) / (F.col("tt") + _DSIR_BUCKETS))
                - F.log((F.col("g") + 1.0) / (F.col("gt") + _DSIR_BUCKETS))
            )
            * _DSIR_SCALE
            + 0.5
        )
        .cast("long")
        .alias("lrs"),
    )
    score = (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.min("is_t").alias("is_t"),
            F.sum("lrs").cast("long").alias("s"),
        )
    )
    sel = F.col("s") > 0
    tgt = F.col("is_t") == 1
    return (
        score.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.when(sel, F.lit(1))), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(F.sum(F.when(tgt, F.lit(1))), F.lit(0))
            .cast("long")
            .alias("n_target"),
            F.coalesce(F.sum(F.when(tgt & sel, F.lit(1))), F.lit(0))
            .cast("long")
            .alias("n_target_selected"),
            F.round(
                F.coalesce(F.sum(F.when(sel, F.lit(1))), F.lit(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("sel_rate"),
            F.round(
                F.sum("s") * F.lit(1.0)
                / (F.lit(float(_DSIR_SCALE)) * F.count(F.lit(1))),
                6,
            ).alias("avg_logweight"),
        )
        .orderBy("source")
    )


# --- quality-threshold calibration sweep ------------------------------


@query(
    "text_quality_threshold_sweep",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS nw,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS ns,
               len(list_distinct(string_split(text, ' '))) AS nd
        FROM documents
    ),
    sc AS (
        SELECT doc_id, nw,
               CAST(CASE WHEN nw >= 50 THEN 1 ELSE 0 END
                    + CASE WHEN 5 * ns >= nw THEN 1 ELSE 0 END
                    + CASE WHEN 2 * nd >= nw THEN 1 ELSE 0 END
                    + CASE WHEN 20 * ns <= 9 * nw THEN 1 ELSE 0 END
                    AS BIGINT) AS score
        FROM f
    ),
    by_score AS (
        SELECT score, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(nw) AS BIGINT) AS toks
        FROM sc GROUP BY score
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(toks) AS BIGINT) AS tt
        FROM by_score
    )
    SELECT t.thr AS threshold,
           CAST(coalesce(sum(b.n), 0) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(b.toks), 0) AS BIGINT) AS kept_tokens,
           round(coalesce(sum(b.n), 0) * 1.0 / tot.nt, 6) AS kept_frac,
           round(coalesce(sum(b.toks), 0) * 1.0 / tot.tt, 6)
               AS token_frac
    FROM range(5) t(thr)
    LEFT JOIN by_score b ON b.score >= t.thr
    CROSS JOIN tot
    GROUP BY t.thr, tot.nt, tot.tt
    ORDER BY threshold
    """,
)
def text_quality_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-gate CALIBRATION table: score every document against
    four integer-cleared curation rules (length >= 50 words; stopword
    ratio >= 0.2 via 5*ns >= nw; type-token ratio >= 0.5 via
    2*nd >= nw; stopword ratio <= 0.45 via 20*ns <= 9*nw — the
    too-high side of Gopher's stopword band) and report, for every
    keep-if-score>=t threshold, the surviving document count and
    token mass, absolute and as fractions. This is the table a
    curation run reads to pick its operating point — "how many
    training tokens does each notch of strictness cost?" — the
    cumulative complement of text_gopher_filters' per-rule reject
    funnel.

    Every rule is an integer inequality (no float thresholds to
    diverge across engines), the per-score rollup is at most 5 rows,
    and the sweep joins the 5-row threshold spine against that tiny
    table — one documents scan total, then kilobytes."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nw = F.size(toks)
    ns = F.size(
        F.filter(
            toks, lambda t: t.isin("the", "a", "of", "and", "to")
        )
    )
    nd = F.size(F.array_distinct(toks))
    score = (
        (nw >= 50).cast("long")
        + (5 * ns >= nw).cast("long")
        + (2 * nd >= nw).cast("long")
        + (20 * ns <= 9 * nw).cast("long")
    )
    by_score = (
        d.select(score.alias("score"), nw.alias("nw"))
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("nw").cast("long").alias("toks"),
        )
        .transform(pin)
    )
    tot = by_score.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("toks").cast("long").alias("tt"),
    )
    spine = spark.range(5).select(F.col("id").cast("long").alias("thr"))
    return (
        spine.join(
            F.broadcast(by_score), F.col("score") >= F.col("thr"), "left"
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("thr", "nt", "tt")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.sum("toks"), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .select(
            F.col("thr").alias("threshold"),
            "n_kept",
            "kept_tokens",
            F.round(F.col("n_kept") * F.lit(1.0) / F.col("nt"), 6).alias(
                "kept_frac"
            ),
            F.round(
                F.col("kept_tokens") * F.lit(1.0) / F.col("tt"), 6
            ).alias("token_frac"),
        )
        .orderBy("threshold")
    )


@query(
    "text_readability",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
                   AS words,
               CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
                   AS syll
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)   AS n_docs,
           CAST(sum(words) AS BIGINT) AS n_words,
           CAST(sum(syll) AS BIGINT)  AS n_syllables,
           round(CAST(sum(syll) AS DOUBLE) / sum(words), 6)
               AS syll_per_word,
           round(206.835
                 - 1.015 * (CAST(sum(words) AS DOUBLE) / count(*))
                 - 84.6 * (CAST(sum(syll) AS DOUBLE) / sum(words)), 6)
               AS flesch_ease,
           round(0.39 * (CAST(sum(words) AS DOUBLE) / count(*))
                 + 11.8 * (CAST(sum(syll) AS DOUBLE) / sum(words))
                 - 15.59, 6) AS fk_grade
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / Flesch-Kincaid grade per source — the
    classic readability screens a pretraining-quality pipeline runs
    beside text_quality_score (too-hard and too-easy tails both
    correlate with boilerplate and OCR noise).

    Syllables use the standard vowel-group heuristic (maximal
    [aeiou]+ runs — no dictionary, pure regexp) and the fixture's
    corpus is single-sentence documents (measured: no sentence
    punctuation), so the sentence unit is the document; on punctuated
    text the denominator swaps to a [.!?]+ count, same plan. Both
    regexes are lookahead-free, so Java (Spark codegen) and RE2
    (DuckDB) agree symbol-for-symbol. Counts are exact integers;
    the two Flesch formulas are single fixed double expressions over
    those sums — identical both engines, rounded 6dp. One documents
    scan, two codegen regexp passes, one source-keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0))
    ).cast("long")
    syll = F.size(
        F.regexp_extract_all("text", F.lit("[aeiou]+"), F.lit(0))
    ).cast("long")
    per = d.select("source", words.alias("words"), syll.alias("syll"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("syll").cast("long").alias("n_syllables"),
    )
    wps = dd("n_words") / F.col("n_docs")
    spw = dd("n_syllables") / F.col("n_words")
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_syllables",
        F.round(spw, 6).alias("syll_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 6).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 6).alias("fk_grade"),
    ).orderBy("source")


@query(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source, unnest(
                   CASE WHEN length(text) >= 8
                        THEN list_distinct(list_transform(
                                 range(1, length(text) - 6),
                                 i -> substr(text, i, 8)))
                        ELSE [text] END) AS g
        FROM documents
    ),
    owner AS (
        SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g
    ),
    first_src AS (
        SELECT o.g, d.source AS owner_source
        FROM owner o JOIN documents d ON d.doc_id = o.first_doc
    ),
    per_source AS (
        SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS n_grams
        FROM sh GROUP BY source
    ),
    owned AS (
        SELECT owner_source AS source,
               CAST(count(*) AS BIGINT) AS n_first_owned
        FROM first_src GROUP BY owner_source
    )
    SELECT p.source,
           p.n_grams,
           CAST(coalesce(o.n_first_owned, 0) AS BIGINT) AS n_first_owned,
           round(CAST(coalesce(o.n_first_owned, 0) AS DOUBLE)
                 / p.n_grams, 6) AS novelty_rate
    FROM per_source p LEFT JOIN owned o ON o.source = p.source
    ORDER BY p.source
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram NOVELTY: of the distinct character 8-grams a
    source contributes, what share is it the corpus-wide FIRST owner
    of (owner = minimum doc_id over every document containing the
    gram)? Low novelty = the source mostly re-ships text other
    sources already provided — the signal a pretraining mixture uses
    to down-weight scraped mirrors and aggregators before paying
    dedup cost on them (dedup asks "is this pair duplicated?"; this
    asks "does this SOURCE add anything?").

    Plan shape is the scalable one: distinct grams per doc explode to
    (gram, doc, source) rows, ownership is ONE gram-keyed min — never
    a doc-pair join — and the owner's source is recovered through a
    tiny doc_id-keyed join back to documents (the oracle's spelling;
    Spark carries source through a min(struct(doc_id, source)) which
    is identical because doc_id is unique). All counts exact
    integers; rates 6dp. Two gram-keyed shuffles at 100 TB, both
    combiner-friendly."""
    d = load_table(spark, sf_dir, "documents")
    grams = F.when(
        F.length("text") >= 8,
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(text) - 7),"
                " i -> substring(text, i, 8))"
            )
        ),
    ).otherwise(F.array(F.col("text")))
    sh = d.select(
        "doc_id", "source", F.explode(grams).alias("g")
    ).transform(pin)
    per_source = sh.groupBy("source").agg(
        F.countDistinct("g").cast("long").alias("n_grams")
    )
    owned = (
        sh.groupBy("g")
        .agg(F.min(F.struct("doc_id", "source")).alias("first"))
        .select(F.col("first.source").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_first_owned"))
    )
    return (
        per_source.join(owned, "source", "left")
        .select(
            "source",
            "n_grams",
            F.coalesce(F.col("n_first_owned"), F.lit(0))
            .cast("long")
            .alias("n_first_owned"),
            F.round(
                F.coalesce(F.col("n_first_owned"), F.lit(0))
                / F.col("n_grams"),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


@query(
    "text_source_similarity",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT source, unnest(
                   CASE WHEN length(text) >= 8
                        THEN list_distinct(list_transform(
                                 range(1, length(text) - 6),
                                 i -> substr(text, i, 8)))
                        ELSE [text] END) AS g
        FROM documents
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b
          ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY jaccard DESC, src_a, src_b
    LIMIT 10
    """,
)
def text_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-level near-duplication: Jaccard similarity between the
    distinct 8-gram vocabularies of every source pair, top-10 — the
    corpus-curation view that finds mirror/aggregator SOURCES (where
    the dedup family finds duplicate DOCUMENTS and text_ngram_novelty
    scores sources in isolation).

    Scale shape: the candidate join is keyed on the GRAM, and each
    gram appears in at most |sources| vocabularies, so the pair
    blow-up per gram is bounded by sources² — a fixed catalog
    constant, NOT corpus size; intersections then aggregate on the
    (src_a, src_b) pair key. Distinct-gram sets are one
    explode + distinct; counts exact BIGINT; Jaccard 6dp with the
    deterministic (jaccard, src_a, src_b) order. At 100 TB the gram
    join inherits the dedup family's df-filter option (drop grams in
    ALL sources — they contribute equally to every pair)."""
    d = load_table(spark, sf_dir, "documents")
    grams = F.when(
        F.length("text") >= 8,
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(text) - 7),"
                " i -> substring(text, i, 8))"
            )
        ),
    ).otherwise(F.array(F.col("text")))
    sh = (
        d.select("source", F.explode(grams).alias("g"))
        .distinct()
        .transform(pin)
    )
    sizes = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # r13 rejection log: a collect_set(source)-per-gram + in-place
    # ordered-pair expansion (one gram-keyed exchange, no join) was
    # implemented, proven row-identical at sf0.01, and REVERTED on the
    # paired control — 1.26/1.38/1.37 over three runs: the object
    # aggregate (collect_set falls out of whole-stage codegen into
    # ObjectHashAggregate) costs more per row than the second
    # page-cached exchange + codegen'd SMJ it saves locally.
    a = sh.select(F.col("source").alias("src_a"), "g")
    b = sh.select(F.col("source").alias("src_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_a"), F.col("n").alias("na")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"), F.col("n").alias("nb")
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "src_a", "src_b")
        .limit(10)
    )


@query("text_compression_quality")  # zlib isn't SQL-portable → rows-only
def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality screen: deflate each document
    (stdlib zlib, level 6) and report per-source byte ratios — the
    classic repetition detector (boilerplate, template spam, and
    looped generations compress far below natural prose; the signal
    Gopher-style pipelines pair with text_collapse_repeats'
    explicit-repeat counters).

    zlib has no SQL twin, so this is a declared rows-only operator:
    the per-doc computation is pinned instead by a pytest contract
    that recomputes ratios with the same stdlib call, and by the
    determinism of level-6 deflate (pure function of the bytes).
    Plan shape: one mapInPandas pass (bytes cross into Python once,
    two small numeric columns come back), one source-keyed JVM
    aggregate. Ratios are deterministic doubles; 6dp."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")

    def run(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "n_raw": raw.map(len),
                    "n_comp": comp,
                }
            )

    per = d.select("source", "text").mapInPandas(
        run, "source STRING, n_raw BIGINT, n_comp BIGINT"
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_raw").cast("long").alias("raw_bytes"),
            F.sum("n_comp").cast("long").alias("compressed_bytes"),
            F.round(F.sum("n_comp") / F.sum("n_raw"), 6).alias(
                "compression_ratio"
            ),
            F.round(F.min(F.col("n_comp") / F.col("n_raw")), 6).alias(
                "min_doc_ratio"
            ),
        )
        .orderBy("source")
    )


@query(
    "ml_calibration_error",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n,
               unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    weighted AS (
        SELECT doc_id, lang, n,
               (CAST('0x' || substr(md5('cal:' || t), 1, 4) AS BIGINT)
                % 2001 - 1000) AS wi
        FROM toks
    ),
    scored AS (
        SELECT doc_id,
               CASE WHEN min(lang) = 'en' THEN 1 ELSE 0 END AS y,
               CAST(round(1.0 / (1.0 + exp(-(0.1 + CAST(sum(wi) AS DOUBLE)
                    / (1000.0 * min(n))))) * 1000000) AS BIGINT) AS c6
        FROM weighted GROUP BY doc_id
    ),
    binned AS (
        SELECT CASE WHEN c6 >= 1000000 THEN 9
                    ELSE CAST(floor(c6 / 100000) AS BIGINT) END AS bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(c6) AS BIGINT) AS conf6,
               CAST(sum(y) AS BIGINT) AS pos
        FROM scored GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(abs(pos * 1000000 - conf6)) AS BIGINT) AS num,
               CAST(sum(n_docs) AS BIGINT) AS n
        FROM binned
    )
    SELECT b.bin,
           b.n_docs,
           round(CAST(b.conf6 AS DOUBLE) / b.n_docs / 1000000, 6)
               AS avg_confidence,
           round(CAST(b.pos AS DOUBLE) / b.n_docs, 6) AS frac_positive,
           round(CAST(t.num AS DOUBLE) / t.n / 1000000, 6) AS ece
    FROM binned b CROSS JOIN tot t
    ORDER BY b.bin
    """,
)
def ml_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + Expected Calibration Error for a
    classifier score over the corpus: confidence-decile bins with
    average confidence vs realized positive rate (label: document is
    English), and ECE = Σ (n_b/N)·|acc_b − conf_b| — the standard
    "can you trust the probabilities" readout an ML-data pipeline
    runs before using classifier scores as sampling weights
    (text_dsir_importance) or filter gates (text_quality_threshold
    _sweep). The scorer is the text_hashed_linear_score construction
    under a fresh hash salt ('cal:'), i.e. a deliberately untrained
    model — the table shows exactly how overconfident it is.

    Exactness: confidence is quantized to integer MICRO-units at the
    same 6dp grain the score is rounded to, so per-bin confidence
    sums are BIGINT, and the ECE numerator Σ|pos_b·1e6 − conf6_b| is
    an exact integer — no cross-bin float accumulation anywhere.
    One explode + doc-keyed aggregate, one 10-row bin aggregate, one
    broadcast scalar join."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = d.select(
        "doc_id", "lang", F.size(w).alias("n"), F.explode(w).alias("t")
    )
    hexv = lambda i: (  # noqa: E731
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.concat(F.lit("cal:"), F.col("t"))), i, 1),
        )
        - 1
    )
    wi = (
        hexv(1) * 4096 + hexv(2) * 256 + hexv(3) * 16 + hexv(4)
    ) % 2001 - 1000
    scored = (
        toks.withColumn("wi", wi)
        .groupBy("doc_id")
        .agg(
            F.when(F.min("lang") == "en", F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
            F.round(
                1.0
                / (
                    1.0
                    + F.exp(-(0.1 + F.sum("wi") / (1000.0 * F.min("n"))))
                )
                * 1000000
            )
            .cast("long")
            .alias("c6"),
        )
    )
    binned = (
        scored.groupBy(
            F.when(F.col("c6") >= 1000000, F.lit(9))
            .otherwise(F.floor(F.col("c6") / 100000))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("c6").cast("long").alias("conf6"),
            F.sum("y").cast("long").alias("pos"),
        )
        .transform(pin)
    )
    tot = binned.agg(
        F.sum(F.abs(F.col("pos") * 1000000 - F.col("conf6")))
        .cast("long")
        .alias("num"),
        F.sum("n_docs").cast("long").alias("n"),
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            F.round(
                F.col("conf6").cast("double") / F.col("n_docs") / 1000000, 6
            ).alias("avg_confidence"),
            F.round(F.col("pos").cast("double") / F.col("n_docs"), 6).alias(
                "frac_positive"
            ),
            F.round(
                F.col("num").cast("double") / F.col("n") / 1000000, 6
            ).alias("ece"),
        )
        .orderBy("bin")
    )


@query(
    "text_vocab_growth",
    oracle="""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    toks AS (
        SELECT doc_id,
               CAST(floor(doc_id * 10.0 / (mx.m + 1)) AS BIGINT)
                   AS bucket,
               unnest(string_split(text, ' ')) AS t
        FROM documents CROSS JOIN mx
    ),
    first_seen AS (
        SELECT t, CAST(min(bucket) AS BIGINT) AS b
        FROM toks GROUP BY t
    ),
    new_types AS (
        SELECT b AS bucket, CAST(count(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY b
    ),
    occ AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY bucket
    )
    SELECT o.bucket,
           o.n_tokens,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(n.n_new, 0)) OVER (
                ORDER BY o.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_vocab,
           CAST(sum(o.n_tokens) OVER (
                ORDER BY o.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM occ o LEFT JOIN new_types n ON n.bucket = o.bucket
    ORDER BY o.bucket
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law table): split the corpus
    into ten ingestion buckets (by doc_id — the arrival order) and
    report, per bucket, token volume, NEW word types first seen
    there, and the cumulative vocabulary — the saturation curve that
    tells a pretraining pipeline when additional data stops buying
    lexical coverage (types grow ~ tokens^β, β<1; a flattening curve
    is the data-mixture signal to diversify sources rather than
    scale the same one).

    First-occurrence attribution is ONE token-keyed min (the
    text_ngram_novelty shape — no prefix re-scans: cumulative counts
    come from a 10-row window, not from re-reading the corpus per
    prefix). All counts exact BIGINT; the 10-row cumulative window is
    trivially bounded. One explode, two token-keyed aggregates, one
    broadcast max."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("m"))
    toks = (
        d.crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col("doc_id") * 10.0 / (F.col("m") + 1))
            .cast("long")
            .alias("bucket"),
            F.explode(F.split("text", " ")).alias("t"),
        )
        .transform(pin)
    )
    first_seen = toks.groupBy("t").agg(
        F.min("bucket").cast("long").alias("b")
    )
    new_types = first_seen.groupBy(F.col("b").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    occ = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        occ.join(new_types, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce(F.col("n_new"), F.lit(0))
            .cast("long")
            .alias("new_types"),
        )
        .select(
            "bucket",
            "n_tokens",
            "new_types",
            F.sum("new_types").over(w).cast("long").alias("cum_vocab"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        )
        .orderBy("bucket")
    )
