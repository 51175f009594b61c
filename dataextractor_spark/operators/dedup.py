"""Deduplication over the documents corpus (Tier C, SURVEY.md §2.3):
exact, token-set Jaccard, MinHash-LSH, and SimHash.

Scale design: exact dedup is a hash groupBy (one shuffle on the
content hash). Near-dup is where naive plans die at 100 TB — the
oracled Jaccard query uses the inverted-index (explode + token join)
shape with language blocking, and the MinHash/SimHash variants show
the sketch+banding path where candidate generation is O(n) + bucket
joins instead of O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.functions.graph import connected_components
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

_N_PERM = 32  # MinHash permutations
_BANDS = 8  # → 4 rows per band; P(candidate) = 1-(1-j^4)^8


def _tokens(col: str = "text") -> F.Column:
    """Distinct word tokens (the shingle unit for this corpus)."""
    return F.array_distinct(F.split(F.col(col), " "))


@query(
    "dedup_exact",
    oracle="""
    SELECT
        count(*)                            AS n_docs,
        count(DISTINCT md5(text))           AS n_unique,
        count(*) - count(DISTINCT md5(text)) AS n_exact_dups
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection by content hash — a partial-agg
    distinct on md5(text), ONE shuffle of 128-bit digests (never the
    documents themselves). This is the 100 TB-safe shape: bytes moved
    scale with |corpus| × 16B, not document size."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )


@query(
    "dedup_canonical_pick",
    oracle="""
    SELECT lang, source,
           min(doc_id)  AS canonical_doc,
           count(*)     AS n_members,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative pick per duplicate group (keep lowest
    doc_id) — the keep-first half of dedup, as a deterministic
    aggregate rather than a dropDuplicates whose survivor is
    partition-order dependent."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "dedup_jaccard_pairs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(
               len(list_intersect(a.toks, b.toks))::DOUBLE
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
               6
           ) AS jaccard
    FROM tok a
    JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE round(
              len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
              6
          ) >= 0.95
    ORDER BY doc_a, doc_b
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-duplicates (threshold 0.95), language-
    blocked, EXACT, with an adaptive physical strategy (see
    _jaccard_pairs):

    - Deletion-neighborhood join (chosen here: short token sets ×
      high threshold ⟹ qualifying pairs differ by ≤1 token): join on
      exact serialized set signatures; zero candidate inflation, no
      verification pass. ~2.1 s at sf0.1.
    - PREFIX FILTERING (Bayardo et al. "Scaling Up All Pairs
      Similarity Search", WWW'07 / PPJoin) for the general case:
      order tokens by ascending document frequency; Jaccard ≥ t pairs
      must share a token among their rarest |toks| - ⌈t·|toks|⌉ + 1,
      within the pair-tight position bound α = ⌈t/(1+t)·(|A|+|B|)⌉;
      survivors of the positional filter are verified exactly with
      one array_intersect per pair. ~4.3 s at sf0.1 — the cost is
      array_intersect over the 455k candidates this adversarially
      shared-vocabulary corpus leaves after every filter.

    Reference points, same output on all: plain inverted index on ALL
    tokens 28 s (Σ df² ≈ all pairs); prefix filtering 4.3 s; deletion
    neighborhood 2.1 s. The oracle stays the direct all-pairs
    definition, proving both rewrites exact; a test asserts the two
    strategies emit identical pairs.
    """
    return _jaccard_pairs(spark, sf_dir, 0.95).orderBy("doc_a", "doc_b")


def _jaccard_pairs(
    spark: SparkSession, sf_dir: str, t: float, strategy: str = "auto"
) -> DataFrame:
    """Exact language-blocked Jaccard ≥ t pairs (doc_a, doc_b, jaccard)
    — shared by the pair report and the connected-components
    clustering. Two exact physical strategies, picked by a data
    statistic (strategy="auto"):

    - "deletion": when ⌊n_max·(1−t)/t⌋ ≤ 1 (high threshold × short
      token sets), any qualifying pair has token-set symmetric
      difference ≤ 1 — identical sets, or one set = the other plus a
      single token. Candidates are then exact hash-signature matches
      (full-set hash ∪ delete-one-token hashes, the deletion
      neighborhood of Ed-Join/SSJoin lineage): O(Σ n) signatures, and
      the candidate set ≈ the true pairs, not the 10× superset prefix
      filtering yields on a shared-vocabulary corpus.
    - "prefix": AllPairs/PPJoin prefix filtering (general case; see
      dedup_jaccard_pairs docstring).

    Both verify candidates with an exact array_intersect, so the
    result is identical either way (a test asserts it)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", _tokens().alias("toks")).withColumn(
        "n_toks", F.size("toks")
    )
    return jaccard_pairs_from_tokens(tok, t, strategy)


def jaccard_pairs_from_tokens(
    tok: DataFrame, t: float, strategy: str = "auto"
) -> DataFrame:
    """Strategy dispatch for any (doc_id, lang, toks, n_toks) input —
    word tokens, character shingles, n-grams alike.

    The tokenized table is pinned (lazy localCheckpoint) before
    anything consumes it: the auto-dispatch statistic plus the 2-3
    consumers inside either strategy (full+deletion signatures, or
    postings+verify sides) would otherwise each re-scan and
    re-tokenize the corpus — compute the token arrays once, decide on
    them (guide §1.2 / the minhash signature-pin lesson)."""
    tok = pin(tok)
    if strategy == "auto":
        n_max = tok.agg(F.max("n_toks")).collect()[0][0] or 0
        # max symmetric difference a Jaccard ≥ t pair can have:
        # J = O/(O+d) ≥ t ⟹ d ≤ O·(1−t)/t ≤ n_max·(1−t)/t
        strategy = "deletion" if int(n_max * (1.0 - t) / t) <= 1 else "prefix"
    if strategy == "deletion":
        return _jaccard_pairs_deletion(tok, t)
    return _jaccard_pairs_prefix(tok, t)


def _verify_pairs(tok: DataFrame, cand: DataFrame, t: float) -> DataFrame:
    """Exact verification: join candidate (doc_a, doc_b) id pairs back
    to token arrays (broadcast-able doc side) and compute true Jaccard."""
    ta = tok.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("na"),
    )
    tb = tok.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("nb"),
    )
    verified = cand.join(ta, "doc_a").join(tb, "doc_b")
    shared = F.size(F.array_intersect("toks_a", "toks_b"))
    jaccard = F.round(
        shared.cast("double") / (F.col("na") + F.col("nb") - shared), 6
    )
    return verified.select("doc_a", "doc_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= t
    )


def _jaccard_pairs_deletion(tok: DataFrame, t: float) -> DataFrame:
    """Deletion-neighborhood exact join (valid when sym-diff ≤ 1).

    Each doc emits its SORTED token set serialized as a string
    (length-prefixed per token — '5:hello' — so the encoding is
    injective for ANY token alphabet, including character shingles
    that contain spaces) plus one serialization per delete-one-token
    subset. A qualifying
    pair either shares the full-set string — identical sets, Jaccard
    exactly 1 — or the larger doc's deletion equals the smaller doc's
    full set — superset-by-one, Jaccard exactly |A|/|B| = na/(na+1).
    Because the keys are the exact serialized sets (not hashes), NO
    verification pass is needed: the join output IS the answer, with
    the similarity computed arithmetically. Each direction of the
    superset join matches at most once (tokens are distinct, so
    delete-one strings are pairwise distinct), so no dedup shuffle
    either. Σ (n+1) signature rows, one shuffle join each.

    100 TB shape: this path is only chosen when tokens-per-doc is
    bounded by ~2t/(1−t) (≈38 at t=0.95), so signature keys stay
    small; linear in corpus tokens, and the join output is exactly
    the true duplicate pairs — no candidate inflation at all."""
    enc = F.transform(
        F.array_sort("toks"),
        lambda s: F.concat(F.length(s).cast("string"), F.lit(":"), s),
    )
    sorted_tok = tok.select("doc_id", "lang", "n_toks", enc.alias("st"))
    full = sorted_tok.select(
        "doc_id",
        "lang",
        "n_toks",
        F.concat_ws("", "st").alias("sig"),
    )
    dels = sorted_tok.select(
        "doc_id",
        "lang",
        "n_toks",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_toks")),
                lambda i: F.concat_ws(
                    "",
                    F.concat(
                        F.slice("st", F.lit(1), i - 1),
                        F.slice("st", i + 1, F.col("n_toks") - i),
                    ),
                ),
            )
        ).alias("sig"),
    )
    fa = full.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("n_toks").alias("na"), "sig"
    )
    fb = full.select(
        F.col("doc_id").alias("doc_b"), "lang", F.col("n_toks").alias("nb"), "sig"
    )
    identical = (
        fa.join(fb, ["lang", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    db = dels.select(
        F.col("doc_id").alias("doc_b"), "lang", F.col("n_toks").alias("nb"), "sig"
    )
    superset = (
        fa.join(db, ["lang", "sig"])
        .filter(F.col("nb") == F.col("na") + 1)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.round(F.col("na").cast("double") / F.col("nb"), 6).alias("jaccard"),
        )
    )
    return identical.union(superset).filter(F.col("jaccard") >= t)


def _jaccard_pairs_prefix(tok: DataFrame, t: float) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered exact join (general case)."""
    ex = tok.select("doc_id", "lang", "n_toks", F.explode("toks").alias("t"))
    dfreq = ex.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("df"))
    # per-doc prefix: rarest L tokens under the global (df, token) order
    prefix_len = (F.col("n_toks") - F.ceil(F.lit(t) * F.col("n_toks")) + 1).cast(
        "int"
    )
    # dfreq is vocabulary-sized (distinct tokens per language), orders of
    # magnitude smaller than the exploded token table — broadcast it so the
    # big side never shuffles. Measured 4.5s -> 2.9s at sf0.1; at shingle-
    # scale vocabularies (millions of entries, tens of MB) this still fits
    # the default 10 MB..8 GB broadcast range or falls back via AQE.
    pref = (
        ex.join(F.broadcast(dfreq), ["lang", "t"])
        .groupBy("doc_id", "lang", "n_toks")
        .agg(F.sort_array(F.collect_list(F.struct("df", "t"))).alias("ordered"))
        .select(
            "doc_id",
            "lang",
            "n_toks",
            F.slice("ordered", F.lit(1), prefix_len).alias("prefix"),
        )
    )
    # posexplode keeps each prefix token's 1-based rank in the df-ordered
    # token list, enabling PPJoin's positional filter below.
    exp = pref.select(
        "doc_id", "lang", "n_toks", F.posexplode("prefix.t").alias("p", "pt")
    ).withColumn("p", F.col("p") + 1)
    a = exp.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("n_toks").alias("na"),
        F.col("p").alias("pa"),
        "pt",
    )
    b = exp.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_toks").alias("nb"),
        F.col("p").alias("pb"),
        "pt",
    )
    # Pair-tight prefix (the big pruner on short documents): Jaccard ≥ t
    # needs overlap α = ⌈t/(1+t)·(|A|+|B|)⌉, and the RAREST common token
    # then sits within the first |X| - α + 1 tokens of BOTH docs — a far
    # shorter effective prefix than the per-doc |X| - ⌈t·|X|⌉ + 1 used to
    # build `exp` (which can't know the partner's size). At t=0.95 on
    # ~23-token docs this is position ≤ 1–2, i.e. candidates must share
    # their globally-rarest tokens. Subsumes the length filter (|A| <
    # t·|B| makes the position bound infeasible), which stays as a cheap
    # pre-cut.
    pair_alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
    raw = a.join(
        b,
        (a.pt == b.pt)
        & (F.col("lang_a") == F.col("lang_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        # length filter: Jaccard ≥ t forces t·|B| ≤ |A| ≤ |B|/t
        & (F.col("na") >= F.lit(t) * F.col("nb"))
        & (F.col("nb") >= F.lit(t) * F.col("na"))
        & (F.col("pa") <= F.col("na") - pair_alpha + 1)
        & (F.col("pb") <= F.col("nb") - pair_alpha + 1),
    )
    # Positional filter (PPJoin): a common token at ranks (pa, pb) bounds
    # the overlap by 1 + min(|A|-pa, |B|-pb); Jaccard ≥ t needs overlap
    # ≥ ceil(t/(1+t)·(|A|+|B|)). The max bound over a pair's matched
    # prefix tokens is still a valid upper bound, so pairs whose best
    # bound misses the requirement are pruned BEFORE the expensive
    # array_intersect verification (the dominant cost). The groupBy
    # doubles as the candidate dedup the plain version did via distinct.
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
    cand = (
        raw.groupBy("doc_a", "doc_b")
        .agg(F.max(ubound).alias("ub"), F.max(alpha).alias("alpha"))
        .filter(F.col("ub") >= F.col("alpha"))
        .select("doc_a", "doc_b")
    )
    # exact verification of the (few) candidates
    return _verify_pairs(tok, cand, t)


@query(
    "dedup_shingle_jaccard",
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               CASE WHEN length(text) >= 5
                    THEN list_distinct(list_transform(
                             range(1, length(text) - 3),
                             i -> substr(text, i, 5)))
                    ELSE [text] END AS toks
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(
               len(list_intersect(a.toks, b.toks))::DOUBLE
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
               6
           ) AS jaccard
    FROM sh a
    JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE round(
              len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
              6
          ) >= 0.9
    ORDER BY doc_a, doc_b
    """,
)
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram (shingle) Jaccard near-duplicates at t=0.9 —
    the ORDER-SENSITIVE complement to the token-set query: word-soup
    docs that share a vocabulary but scramble the word order collapse
    under token Jaccard yet stay distinct under shingles, so this
    operator finds true copy-edits, not bag-of-words collisions
    (6 pairs here vs 467 token-level pairs at sf0.01).

    Shingle sets run ~200 distinct 5-grams per doc over a much larger
    vocabulary, so auto strategy routes to the PPJoin prefix path —
    exactly the regime where rare-shingle prefixes prune hard. Docs
    shorter than the shingle width degrade to one whole-text shingle
    (the sequence(1, len-4) guard; sequence would otherwise step
    DOWNWARD and emit phantom positions)."""
    d = load_table(spark, sf_dir, "documents")
    k = 5
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (k - 1)),
            lambda i: F.col("text").substr(i, F.lit(k)),
        )
    )
    toks = F.when(F.length("text") >= k, shingles).otherwise(
        F.array(F.col("text"))
    )
    tok = d.select("doc_id", "lang", toks.alias("toks")).withColumn(
        "n_toks", F.size("toks")
    )
    return jaccard_pairs_from_tokens(tok, 0.9).orderBy("doc_a", "doc_b")


@query(
    "dedup_components",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT doc_id, lang,
               list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM tok a
        JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE round(
                  len(list_intersect(a.toks, b.toks))::DOUBLE
                  / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
                  6
              ) >= 0.95
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, min(dst) AS component
    FROM reach
    GROUP BY src
    ORDER BY doc_id
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER formation: connected components over the
    exact Jaccard ≥ 0.95 near-dup graph, labeling every document with
    the smallest doc_id reachable through duplicate pairs (singletons
    label themselves). Pairs alone don't dedup a corpus — transitive
    groups do (A≈B, B≈C ⇒ {A,B,C} is one cluster with one survivor).

    Algorithm: large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) via
    functions/graph.py — O(log² n) rounds worst-case regardless of
    graph shape, vs. O(diameter) for naive min-label propagation (an
    adversarial 10k-node chain converges in a handful of rounds, not
    10k; asserted in tests/test_scale_paths.py). Each round is two
    groupBy-min + join phases over the shrinking edge set, lineage
    truncated per round. Singletons (documents with no duplicate
    edges) label themselves via a left join on the star labels.

    Oracle: DuckDB recursive-CTE transitive closure + min over the
    reachable set — exact same clustering, declaratively.
    """
    d = load_table(spark, sf_dir, "documents")
    edges = (
        _jaccard_pairs(spark, sf_dir, 0.95)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    labels, _rounds = connected_components(edges)
    return (
        d.select("doc_id")
        .join(labels, d.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
        .orderBy("doc_id")
    )


#: LSH band buckets larger than this are excluded from the candidate
#: self-join and reported as skipped mass instead. A bucket of k docs
#: yields C(k,2) pairs, so one degenerate bucket (empty-text docs, a
#: boilerplate flood) turns the O(n) banding plan quadratic; above the
#: cap the bucket is (by construction) near-identical content better
#: handled by exact dedup on the full text hash.
LSH_BUCKET_CAP = 256


def minhash_lsh_pairs(d: DataFrame, *, bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """MinHash+LSH candidate pairs for a documents-shaped frame
    (doc_id, lang, text) — the engine behind ``dedup_minhash_lsh``;
    see its docstring for the algorithm and scale notes. The skip
    audit travels OUT-OF-BAND as exactly one sentinel row (null doc
    ids; skipped_buckets = over-cap bucket count, skipped_docs =
    DISTINCT docs those buckets held), so the audit survives even the
    degenerate case the cap exists for — every bucket over cap and
    zero surviving pairs. Pair rows carry nulls in the audit columns."""
    # signatures via explode + 32 codegen'd min-aggregates: nested
    # higher-order lambdas (transform-of-transform) execute INTERPRETED
    # per element in Spark, so sig-as-HOF dominated runtime; exploding
    # tokens and computing each permutation as min(xxhash64(t, i)) in a
    # single whole-stage-codegen'd aggregate is the fast shape (and the
    # shuffle is pre-aggregated per doc by the partial agg).
    tok = d.select("doc_id", "lang", F.explode(_tokens()).alias("t"))
    sig_aggs = [
        F.min(F.xxhash64("t", F.lit(i))).alias(f"h{i}") for i in range(_N_PERM)
    ]
    # One materialization for FOUR consumers (banded→sizes, banded→
    # gated, sig_a, sig_b). Without the pin, column pruning gives each
    # consumer a slightly different partial-aggregate subtree, the
    # exchanges stop being identical, exchange reuse never fires, and
    # the token-explode + 32-min signature aggregate — the most
    # expensive stage of the query — executes four times (measured:
    # four ~0.6 s scan+agg jobs in the r12 profile, ~1.9 s of the
    # 5.3 s total). This is the guide §8 "fingerprints only" step:
    # compute the sketch once, decide on the sketch.
    docs = (
        tok.groupBy("doc_id", "lang")
        .agg(*sig_aggs)
        .select(
            "doc_id",
            "lang",
            F.array(*[F.col(f"h{i}") for i in range(_N_PERM)]).alias("sig"),
        )
        .transform(pin)
    )
    rows_per_band = _N_PERM // _BANDS
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(_BANDS - 1)),
        lambda bi: F.struct(
            bi.alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bhash"),
        ),
    )
    banded = docs.withColumn("b", F.explode(bands)).select(
        "doc_id", "lang", F.col("b.band").alias("band"), F.col("b.bhash").alias("bhash")
    )
    # bucket-size gate BEFORE the self-join: count each (band, bhash,
    # lang) bucket, drop over-cap buckets from pairing (same shuffle
    # key as the join, so the count reuses the exchange), and fold the
    # skipped mass into an audit both as output columns and via the
    # collected metric-free path (no collect — a 1-row agg broadcast).
    sizes = banded.groupBy("band", "bhash", "lang").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    ok = sizes.filter(F.col("bucket_n") <= bucket_cap).select("band", "bhash", "lang")
    over = sizes.filter(F.col("bucket_n") > bucket_cap).select("band", "bhash", "lang")
    # skipped_buckets is a plain count over `over` (already one row per
    # over-cap bucket — it comes from a groupBy on the bucket key), NOT
    # a second countDistinct group in the docs aggregate: two distinct
    # groups in one agg go through RewriteDistinctAggregates, whose
    # Expand projection order follows an expression-id-dependent hash —
    # a session-history-dependent physical plan (caught by the golden
    # gate under full-suite order, r12). Single distinct group → no
    # Expand, one less 5-key row expansion, deterministic plan.
    audit = (
        banded.join(over, ["band", "bhash", "lang"])
        .agg(F.countDistinct("doc_id").alias("skipped_docs"))
        .crossJoin(
            F.broadcast(
                over.agg(F.count(F.lit(1)).alias("skipped_buckets"))
            )
        )
        .select(
            F.lit(None).cast("long").alias("doc_a"),
            F.lit(None).cast("long").alias("doc_b"),
            F.lit(None).cast("double").alias("est_jaccard"),
            "skipped_buckets",
            "skipped_docs",
        )
    )
    gated = banded.join(ok, ["band", "bhash", "lang"])
    # candidate pairs carry ONLY ids through the bucket join + distinct
    # (a near-dup-rich corpus makes buckets large; hauling the 32-long
    # signatures through every duplicate banded pair dominated runtime
    # — ids-first then two hash joins back to signatures is ~3× faster
    # at sf0.1 and shuffles 16 bytes/pair instead of ~540). The sides
    # are aliased because both project one frame: `lhs.band ==
    # rhs.band` would name a single attribute twice.
    lhs = gated.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), "band", "bhash"
    ).alias("l")
    rhs = gated.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), "band", "bhash"
    ).alias("r")
    cand_ids = (
        lhs.join(
            rhs,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("lang_a") == F.col("lang_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    cand = cand_ids.join(sig_a, "doc_a").join(sig_b, "doc_b")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / _N_PERM
    )
    pairs = (
        cand.select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.7)
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.lit(None).cast("long").alias("skipped_buckets"),
            F.lit(None).cast("long").alias("skipped_docs"),
        )
    )
    return pairs.unionByName(audit).orderBy(
        F.col("doc_a").asc_nulls_last(), "doc_b"
    )


@query("dedup_minhash_lsh")  # sketch-based → rows-only; validated in tests
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates (shingle → minhash →
    band → bucket-join), entirely in Catalyst expressions.

    Signature: for permutation i, sig_i = min over tokens of
    xxhash64(token, i) — 32 perms via a higher-order transform (no
    Python, no UDF). Banding: 8 bands × 4 rows; docs sharing any
    band hash become candidates (≈ Jaccard ≥ 0.8 sweet spot for this
    b/r). Candidates are verified with the estimated signature
    agreement. At 100 TB: candidate generation is a bucket groupBy —
    O(n) shuffle of (band, hash) keys, never pairwise — and buckets
    over LSH_BUCKET_CAP are excluded from pairing (with the skipped
    mass reported in a single out-of-band audit row — null doc ids,
    distinct-doc counts — that survives a zero-pair result), so one
    degenerate bucket can't turn the plan quadratic (VERDICT.md
    round-1 item 6).

    tests/test_scale_paths.py checks candidates ⊇ true pairs found by the
    exact dedup_jaccard_pairs at its threshold (recall) — the
    sketch-vs-exact contract; tests/test_scale_paths.py pins the
    degenerate-corpus behavior (1.5k identical docs → 0 pairs, all
    mass reported skipped).
    """
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def simhash_pairs(d: DataFrame) -> DataFrame:
    """SimHash near-dup candidate pairs for any (doc_id, lang, text)
    DataFrame — the kernel behind dedup_simhash (which supplies the
    documents fixture), factored out so the randomized oracle in
    tests/test_properties.py can drive it with arbitrary corpora.
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, same-lang
    pairs only, Hamming ≤ 6. Identical token SETS (the fingerprint
    unit is array_distinct'd) always produce identical fingerprints,
    identical chunks, and therefore a Hamming-0 pair — the
    deterministic completeness guarantee the property test pins."""
    tok = d.select("doc_id", "lang", F.explode(_tokens()).alias("t")).withColumn(
        "h", F.xxhash64("t")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = tok.groupBy("doc_id", "lang").agg(*bit_sums)
    sim = agg.select(
        "doc_id",
        "lang",
        sum(
            [
                F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(0)
                * F.lit(2**b).cast("long")
                for b in range(63)  # bit 63 kept 0 to stay in signed range
            ]
        ).alias("simhash"),
    )
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("cval"),
            )
            for c in range(4)
        ]
    )
    banded = sim.withColumn("c", F.explode(chunks)).select(
        "doc_id", "lang", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cval").alias("cval")
    )
    lhs = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("simhash").alias("sh_a"),
        "chunk",
        "cval",
    )
    rhs = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("simhash").alias("sh_b"),
        "chunk",
        "cval",
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        lhs.join(
            rhs,
            (lhs.chunk == rhs.chunk)
            & (lhs.cval == rhs.cval)
            & (F.col("lang_a") == F.col("lang_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    )


@query("dedup_simhash")  # bit-sketch → rows-only; hamming checked in tests
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (64-bit) fingerprints + near-dup candidates by Hamming
    distance ≤ 6, banded on 4×16-bit chunks.

    Fingerprint: per token h = xxhash64(token); bit b of the simhash is
    the sign of Σ_tokens (±1 by bit b of h) — computed as 64 vectorized
    conditional sums in ONE aggregate pass (no per-row Python).
    Candidate pairing joins on any equal 16-bit chunk (pigeonhole: a
    pair within Hamming 3 shares ≥1 exact chunk; ≤6 needs 2-chunk OR
    which this approximates), then exact Hamming via bit_count(xor).
    The census itself lives in simhash_pairs (kernel, above)."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_incremental_ingest",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               md5(list_aggregate(
                   list_sort(list_distinct(string_split(lower(text), ' '))),
                   'string_agg', '|')) AS k
        FROM documents
    ),
    corpus AS (SELECT DISTINCT k FROM keyed WHERE doc_id % 2 = 0),
    marked AS (
        SELECT corpus.k IS NOT NULL AS is_dup
        FROM keyed LEFT JOIN corpus ON keyed.k = corpus.k
        WHERE keyed.doc_id % 2 = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM marked
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (odd doc_ids) is checked
    against the existing corpus (even doc_ids) on a bag-of-words
    content key — md5 of the sorted distinct token set — so reordered
    or token-repeated rewrites of an already-held document are caught,
    not just byte-identical ones. This is the admission-control step of
    a continuously-fed training corpus: only `n_new` documents proceed
    to the expensive near-dup/quality stages.

    Scale plan: corpus side reduces to DISTINCT 32-char keys before
    the join (one narrow column, not documents); the join shuffles on
    the key hash — uniformly distributed by construction, so no skew
    — and the batch side streams through it. The '|' joiner is safe
    here (tokens are \\w+); the length-prefixed injective encoding
    used by dedup_jaccard_pairs is the general-alphabet form."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat_ws(
            "|", F.array_sort(F.array_distinct(F.split(F.lower("text"), " ")))
        )
    )
    corpus = d.filter(F.col("doc_id") % 2 == 0).select(key.alias("k")).distinct()
    batch = d.filter(F.col("doc_id") % 2 == 1).select(key.alias("k"))
    marked = batch.join(
        corpus.withColumn("is_dup", F.lit(1)), "k", "left"
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dup"),
        F.sum(1 - F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_new"),
        F.round(
            F.sum(F.coalesce("is_dup", F.lit(0)))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


@query(
    "dedup_span_extract",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id, pos,
               md5(array_to_string(w[pos:pos+7], ' ')) AS h
        FROM toks, unnest(range(1, len(w) - 6)) AS t(pos)
        WHERE len(w) >= 8
    ),
    rare AS (
        SELECT * FROM (
            SELECT sh.*, count(*) OVER (PARTITION BY h) AS freq FROM sh
        ) q WHERE freq <= 50
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b
        FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
               pos_a - row_number() OVER (
                   PARTITION BY doc_a, doc_b, pos_a - pos_b
                   ORDER BY pos_a) AS grp
        FROM pairs
    ),
    spans AS (
        SELECT doc_a, doc_b,
               min(pos_a) AS start_a, min(pos_b) AS start_b,
               count(*) + 7 AS span_tokens
        FROM runs GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b, start_a, start_b, span_tokens
    FROM spans
    ORDER BY span_tokens DESC, doc_a, doc_b, start_a, start_b
    LIMIT 20
    """,
)
def dedup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-SPAN extraction — exact substring dedup in
    the sense of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): find the longest runs of tokens shared
    verbatim between document pairs, not just which pairs are similar.
    Where dedup_jaccard_pairs answers "are these near-duplicates",
    this answers "WHICH 93-token block do they share" — the operator
    that drives span-level cutting rather than whole-doc dropping.

    Shape: 8-gram shingles (doc, pos, md5) → frequency cap (shingles
    seen >50× are boilerplate; joining them explodes quadratically —
    same degenerate-bucket discipline as the LSH cap) → equi-join on
    the 32-char digest (never the raw text) → gaps-and-islands per
    (pair, diagonal): consecutive matching positions on one diagonal
    collapse to a maximal span of count+k-1 tokens.

    At 100 TB: one narrow shingling pass, one shuffle on the digest
    (the frequency window shares it), a window partitioned by
    (pair, diagonal) — high-cardinality keys, bounded partitions —
    and the span aggregate. The frequency cap bounds the join fanout
    by 50²/shingle worst-case; everything downstream of the join is
    sized by true duplication, not corpus size."""
    from pyspark.sql import Window

    k = 8
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = d.select("doc_id", w.alias("w")).filter(F.size("w") >= k)
    sh = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("w") - (k - 1))).alias("pos"),
        "w",
    ).select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", F.slice("w", F.col("pos"), k))).alias("h"),
    )
    rare = (
        sh.withColumn("freq", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("freq") <= 50)
    )
    a = rare.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = rare.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    pairs = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    iw = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = pairs.select("doc_a", "doc_b", "pos_a", "pos_b", diag).withColumn(
        "grp", F.col("pos_a") - F.row_number().over(iw)
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.count(F.lit(1)) + (k - 1)).alias("span_tokens"),
    )
    return (
        spans.select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
        .orderBy(
            F.desc("span_tokens"), "doc_a", "doc_b", "start_a", "start_b"
        )
        .limit(20)
    )


@query(
    "dedup_fuzzy_names",
    oracle="""
    WITH names AS (
        SELECT p_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               length(p_name)           AS len
        FROM part GROUP BY p_name
    )
    SELECT a.p_name                                 AS name_a,
           b.p_name                                 AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n_rows                                 AS n_rows_a,
           b.n_rows                                 AS n_rows_b
    FROM names a
    JOIN names b
      ON a.p_name < b.p_name
     AND b.len BETWEEN a.len - 2 AND a.len + 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY dist, name_a, name_b
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching (edit distance ≤ 2) over the
    part-name DICTIONARY — the canonical-name/brand-variant dedup a
    catalog or metadata pipeline runs. The scale design is the order
    of operations: reduce the fact rows to distinct values + support
    counts FIRST (names dedupe 2000→64 here; real entity dictionaries
    are ~10⁶ regardless of corpus size, because dictionaries grow with
    the domain, not the data), then pair only within exact-match
    LENGTH-BAND blocks — side A explodes each name to probe lengths
    {len-2..len+2}, so the candidate join is a plain equi join on the
    probe length (no theta/nested-loop node; |len(a)-len(b)| ≤ 2 is a
    NECESSARY condition for edit distance ≤ 2, making the block cover
    exact, same argument as the deletion-neighborhood blocking in
    ``dedup_jaccard_pairs``). Candidates then pay one levenshtein
    each. The oracle is the direct theta-join spelling — the hash
    match IS the proof that blocking lost no pair."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    ).withColumn("len", F.length("p_name"))
    probes = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("n_rows_a"),
        F.explode(
            F.sequence(F.col("len") - F.lit(2), F.col("len") + F.lit(2))
        ).alias("probe_len"),
    )
    cands = probes.join(
        names.select(
            F.col("p_name").alias("name_b"),
            F.col("n_rows").alias("n_rows_b"),
            F.col("len").alias("probe_len"),
        ),
        "probe_len",
    ).filter(F.col("name_a") < F.col("name_b"))
    # Each a<b pair matches at most once: a's five probe values are
    # distinct and the join requires probe_len == len(b). No dedup
    # needed.
    return (
        cands.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("dist") <= 2)
        .select("name_a", "name_b", "dist", "n_rows_a", "n_rows_b")
        .orderBy("dist", "name_a", "name_b")
    )


#: containment threshold for dedup_shingle_containment: directional
#: |A∩B|/|A| ≥ 0.7 — deliberately far below the Jaccard queries' 0.9+
#: so one-sided overlaps qualify even when the symmetric score fails.
CONTAIN_T = 0.7


@query(
    "dedup_shingle_containment",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ),
    sh AS (
        SELECT doc_id, lang,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(
                             range(1, len(w) - 1),
                             i -> list_aggregate(w[i:i+2], 'string_agg', ' ')))
                    ELSE [list_aggregate(w, 'string_agg', ' ')] END AS toks
        FROM t
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(a.toks), 6) AS containment,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / (len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
    FROM sh a
    JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks)
          >= {CONTAIN_T}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-duplicate detection: word-trigram (w-shingle)
    containment |A∩B|/|A| ≥ 0.7 flags documents mostly CONTAINED in
    another — quote-inclusion / excerpt-expansion duplicates that
    symmetric Jaccard structurally under-scores (a short doc pasted
    into a long one has containment ≈ 1 but Jaccard ≈ |A|/|B|).
    Output pairs are ordered (a→b and b→a are different claims); the
    jaccard column sits alongside to make the asymmetry visible.

    Candidate generation is the ONE-SIDED prefix filter (the
    asymmetric analogue of dedup_jaccard_pairs' PPJoin path): if
    containment(a→b) ≥ t, then a misses at most (1−t)·|A| of its own
    shingles, so among any ⌊(1−t)·|A|⌋+1 of them at least one is in
    B. Taking that prefix from a's globally RAREST shingles (ranked
    by document frequency) makes the candidate join prefix-postings
    vs postings; candidates are verified exactly on the full arrays,
    and the oracle is the unfiltered all-pairs-in-language join — the
    hash match is a machine-checked proof the filter loses nothing.

    The shingle UNIT is a measured choice, not a default: on this
    corpus char-5-grams have median df 291 (the whole corpus shares a
    small character vocabulary), which makes ANY prefix filter
    toothless — 5.1M of ~6M possible pairs survived as candidates and
    the query ran 74 s at sf0.1. Word trigrams have median df 1 on
    the same corpus; the identical plan runs in seconds because
    rare-prefix postings lists actually are short. At 100 TB the same
    diagnostic applies: pick the shingle granularity at which the df
    distribution has a tail, or the filter (and every LSH scheme
    built on it) degenerates to all-pairs."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    # Zero-word docs are excluded on BOTH sides: Spark's fallback
    # shingle for an empty word list is [''] (concat_ws of an empty
    # array) while DuckDB's list_aggregate([]) is [NULL] — two such
    # docs would "contain" each other here but not in the oracle
    # (latent divergence flagged in round-3 advice). A no-word doc has
    # no shingles to contain anyway, so dropping it is the semantics.
    d = d.filter(F.size(w) > 0)
    tri = F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    sh = d.select("doc_id", "lang", tri.alias("toks")).transform(pin)
    # lazy checkpoint: three consumers (df table, prefix ranking, the
    # b-side postings) each re-ran the shingle explode from the pinned
    # sh — three ~1.4 s single-stage jobs in the r12 profile, the
    # query's dominant cost; pinned, the postings explode runs once
    post = sh.select(
        "doc_id", "lang", F.size("toks").alias("sz"),
        F.explode("toks").alias("tok"),
    ).transform(pin)
    df_tab = post.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    rn = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix = (
        post.join(df_tab, "tok")
        .withColumn("rn", F.row_number().over(rn))
        .filter(
            F.col("rn")
            <= F.floor((1.0 - CONTAIN_T) * F.col("sz")).cast("int") + 1
        )
        .select("doc_id", "lang", "sz", "tok")
    )
    # size filter: containment(a→b) ≥ t forces |B| ≥ |A∩B| ≥ t·|A|,
    # so small b-docs can be rejected before the verify join
    cand = (
        prefix.alias("a")
        .join(
            post.select("doc_id", "lang", "sz", "tok").alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.sz") >= CONTAIN_T * F.col("a.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    va = sh.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    vb = sh.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("containment_raw", inter / F.size("ta"))
        .filter(F.col("containment_raw") >= CONTAIN_T)
        .select(
            "doc_a",
            "doc_b",
            F.round("containment_raw", 6).alias("containment"),
            F.round(
                inter / (F.size("ta") + F.size("tb") - inter), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
