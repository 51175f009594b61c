"""Vector similarity search over the embeddings table (Tier C,
SURVEY.md §2.3; top-k literature in PAPERS.md).

Three tiers, mirroring how a 100 TB vector corpus is actually served:
1. exact brute-force top-k — the correctness baseline (oracled);
2. multi-query batched top-k — broadcast the query set, one pass over
   the corpus, per-query heaps via window ranking (oracled);
3. LSH-bucketed ANN — random-hyperplane signatures prune the corpus to
   one bucket per query; recall measured against tier 1 in tests
   (approximate → rows-only check).

All distance math is Catalyst expressions (functions.vector) — no
Python in the scan loop.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.functions.vector import cosine_similarity
from dataextractor_spark.pins import pin
from dataextractor_spark.registry import query

#: fixed random hyperplanes for sign-LSH (seeded — deterministic across
#: runs and engines). The pool holds the MAX usable planes; callers
#: slice the first k, so a given plane's hash bit is stable as the
#: corpus (and therefore k) grows.
_MAX_PLANES = 24
_N_PLANES = 8  # default for callers without a corpus count
_DIM = 64
_PLANES: list[list[float]] = (
    np.random.RandomState(42).normal(size=(_MAX_PLANES, _DIM)).round(6).tolist()
)

#: target vectors per LSH bucket: small enough that a probe's
#: candidate scan is trivial, large enough that buckets stay occupied.
LSH_TARGET_BUCKET_ROWS = 32


def lsh_plane_count(
    n_vectors: int, target_rows: int = LSH_TARGET_BUCKET_ROWS
) -> int:
    """Plane count k for sign-LSH, derived from the corpus size so the
    EXPECTED bucket occupancy n/2^k stays near ``target_rows`` at any
    scale (fixture or 100 TB) instead of hard-coding a fixtures-scale
    constant: k = ceil(log2(n / target)), clamped to [4, _MAX_PLANES].
    100× more vectors ⇒ ~6.6 more planes — bucket size is flat while
    Σ|bucket|² stays bounded."""
    import math

    ratio = max(n_vectors, 1) / target_rows
    return max(4, min(_MAX_PLANES, math.ceil(math.log2(max(ratio, 2.0)))))


def _planes_literal(n_planes: int = _N_PLANES) -> F.Column:
    return F.array(
        *[F.array(*[F.lit(float(v)) for v in plane]) for plane in _PLANES[:n_planes]]
    )


#: rows-per-block bound for the exact block-matrix near-dup plan. Each
#: block row carries ≤ this many vectors (collect_list), so its size is
#: ≤ NEARDUP_BLOCK_ROWS · d · 8 bytes (~5 MB at d=64) no matter how big
#: the corpus — B grows with n instead of row width.
NEARDUP_BLOCK_ROWS = 10_000


def neardup_bucket_count(n_vectors: int, target_rows: int = NEARDUP_BLOCK_ROWS) -> int:
    """Bucket count B for the block-matrix plan: smallest B with
    ceil(n/B) ≤ target_rows, floored at 8 so small corpora still
    parallelize across B(B+1)/2 = 36 block-pair tasks."""
    import math

    return max(8, math.ceil(max(n_vectors, 1) / target_rows))


def lsh_bucket(emb_col: str = "embedding", n_planes: int = _N_PLANES) -> F.Column:
    """Sign-LSH bucket id: bit b = [embedding · plane_b > 0], packed to
    a long. Pure zip_with/aggregate expressions — executes in codegen.
    Pass ``n_planes=lsh_plane_count(corpus_count)`` to size buckets for
    the corpus at hand."""
    emb_d = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    bits = F.transform(
        _planes_literal(n_planes),
        lambda plane: F.when(
            F.aggregate(
                F.zip_with(emb_d, plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    ).alias("bucket")


@query(
    "sim_topk_cosine",
    oracle="""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 5) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for one query vector.

    The query vector is broadcast (1-row cross join); the corpus is
    scanned once; orderBy+limit compiles to TakeOrderedAndProject
    (per-partition top-k heaps + driver merge — no global sort). This
    exact scan is the baseline ANN variants are measured against.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "sim_knn_batch",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 5) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def sim_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN: 5 query vectors × corpus in ONE corpus scan —
    broadcast the query set, score every (query, vector) pair, then a
    per-query window top-k. This is the distributed shape for serving
    a query batch over a sharded 100 TB corpus: corpus-partition-local
    scoring, then a tiny shuffle of per-partition survivors."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@query(
    "sim_neardup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 5) >= 0.45
    ORDER BY cos_sim DESC, vec_a, vec_b
    LIMIT 50
    """,
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.45 — chosen
    above this corpus's noise floor, max pair ≈ 0.51), exact over all
    pairs but computed as a BLOCK-MATRIX product.

    The naive pair join evaluates an interpreted higher-order-function
    cosine per pair (O(n²·d) lambda dispatches — 115 s at sf0.1).
    Instead: hash vectors into B buckets, build one (ids, matrix) row
    per bucket, join the B(B+1)/2 bucket pairs, and compute each
    block's full cosine matrix with ONE numpy matmul inside
    applyInPandas (~2 s at sf0.1, same results). Each vector ships
    B+1 times instead of n times — this is the standard distributed
    exact-similarity layout; LSH/IVF (sim_ann_*) prune blocks when
    even that is too much. Oracle unchanged: the direct all-pairs
    definition.

    B is DERIVED from a cheap count so rows-per-block stays bounded
    (≤ NEARDUP_BLOCK_ROWS vectors per collect_list row) — a fixed B
    would make each block row Θ(n/B) vectors and OOM an executor at
    corpus scale.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    n_buckets = neardup_bucket_count(e.count())
    blocks = (
        e.withColumn(
            # hash-based assignment: balanced even when ids are sparse
            "bucket",
            F.pmod(F.xxhash64("vec_id"), F.lit(n_buckets)).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    ba = blocks.select(
        F.col("bucket").alias("bucket_a"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    bb = blocks.select(
        F.col("bucket").alias("bucket_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    block_pairs = ba.join(bb, F.col("bucket_a") <= F.col("bucket_b"))

    def cross_block(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a, out_b, out_c = [], [], []
        for _, row in pdf.iterrows():
            ids_a = np.asarray(row["ids_a"], dtype=np.int64)
            ids_b = np.asarray(row["ids_b"], dtype=np.int64)
            ma = np.asarray([np.asarray(v) for v in row["vecs_a"]], dtype=np.float64)
            mb = np.asarray([np.asarray(v) for v in row["vecs_b"]], dtype=np.float64)
            na = np.linalg.norm(ma, axis=1)
            nb = np.linalg.norm(mb, axis=1)
            cos = (ma @ mb.T) / np.outer(na, nb)
            # raw pre-filter slightly below threshold; the exact
            # rounded filter is applied in Spark afterwards
            ia, ib = np.nonzero(cos >= 0.4495)
            if row["bucket_a"] == row["bucket_b"]:
                # same block sees both (i,j) and (j,i) + the diagonal:
                # keep strictly-ordered entries only
                keep = ids_a[ia] < ids_b[ib]
                lo, hi, cv = ids_a[ia][keep], ids_b[ib][keep], cos[ia, ib][keep]
            else:
                # distinct blocks meet exactly once (bucket_a < bucket_b),
                # but id order is arbitrary across buckets — normalize
                lo = np.minimum(ids_a[ia], ids_b[ib])
                hi = np.maximum(ids_a[ia], ids_b[ib])
                cv = cos[ia, ib]
            out_a.extend(lo)
            out_b.extend(hi)
            out_c.extend(cv)
        return pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "raw_cos": out_c})

    pairs = block_pairs.groupBy("bucket_a", "bucket_b").applyInPandas(
        lambda key, pdf: cross_block(pdf),
        "vec_a BIGINT, vec_b BIGINT, raw_cos DOUBLE",
    )
    return (
        pairs.select(
            "vec_a", "vec_b", F.round(F.col("raw_cos"), 5).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= 0.45)
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(50)
    )


@query("sim_ann_ivf")  # approximate → rows-only; cell contract in tests
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF-style coarse quantization: per-label centroids act
    as the cell codebook; every vector is assigned to its nearest
    centroid; a query probes ONLY its own cell.

    This is the inverted-file layout at corpus scale: vectors stored
    partitioned by cell id, a probe = partition-pruned scan of
    |corpus|/|cells| vectors. Centroid computation itself is the
    distributed pattern — posexplode to (label, dim, value), hash agg
    per dimension, re-assembled with collect_list — no driver-side
    vectors. tests/test_scale_paths.py checks every candidate shares
    the query's cell.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    centroids = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
            ).alias("centroid")
        )
        .select(F.col("label").alias("cell"), "centroid")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cos_c").desc(), F.col("cell")
    )
    assigned = (
        e.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "embedding",
            "cell",
            cosine_similarity("embedding", "centroid").alias("cos_c"),
        )
        .withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .select("vec_id", "embedding", "cell")
    )
    q = F.broadcast(
        assigned.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cell").alias("qcell"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        assigned.join(
            q,
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@query("sim_ann_ivf_kmeans")  # approximate → rows-only; contracts in tests
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF with a LEARNED k-means codebook (functions/kmeans) —
    the unsupervised sibling of ``sim_ann_ivf``'s label-derived cells,
    i.e. what a real vector store does when no labels exist.

    k = ivf_cell_count(n) is derived from a corpus COUNT (same
    count-then-size discipline as the LSH plane pool); ``kmeans_fit``
    runs Lloyd sweeps whose only driver-side state is the k×d codebook
    (broadcast-dim-sized), assignment is one narrow codegen pass with
    the codebook inlined as a literal, and a probe scans ONLY its own
    cell. tests/test_scale_paths.py pins determinism, non-increasing
    inertia across sweeps, the codebook-size contract, and the
    candidate⊆query-cell invariant.
    """
    from pyspark.sql import Window

    from dataextractor_spark.functions.kmeans import (
        assign_cells,
        count_and_seeds,
        ivf_cell_count,
        kmeans_fit,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r12: count + seed-prefix collect as two concurrent jobs
    # (count_and_seeds docstring); seeds sliced to k are identical
    n, seed_rows = count_and_seeds(e)
    k = ivf_cell_count(n)
    codebook = kmeans_fit(
        e, k, max_iter=4, id_col="vec_id", vec_col="embedding",
        seed_rows=seed_rows,
    )
    assigned = assign_cells(e, codebook)
    q = F.broadcast(
        assigned.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cell").alias("qcell"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        assigned.join(
            q,
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@query("sim_ann_lsh")  # approximate → rows-only check; recall tested vs exact
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane (sign) LSH.

    Every vector gets a k-bit bucket signature (seeded hyperplanes →
    deterministic), with k DERIVED from a corpus count so expected
    bucket occupancy n/2^k sits near LSH_TARGET_BUCKET_ROWS at any
    scale — the same count-then-size discipline as the block-matrix
    near-dup plan, not a fixtures-scale constant. A query probes ONLY
    its own bucket — at scale the corpus is written bucket-partitioned,
    so a probe is a partition-pruned scan of ~n/2^k vectors instead of
    n. Here: bucket the corpus, then exact-rank candidates sharing the
    bucket of each of the first 5 query vectors.
    tests/test_scale_paths.py measures recall vs the exact
    sim_knn_batch baseline.
    """
    corpus = load_table(spark, sf_dir, "embeddings")
    e = corpus.withColumn(
        "bucket", lsh_bucket("embedding", n_planes=lsh_plane_count(corpus.count()))
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("bucket").alias("qbucket"),
        )
    )
    return (
        e.join(q, (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
        .orderBy("query_id", F.col("cos_sim").desc(), "vec_id")
    )


@query(
    "sim_label_centroids",
    oracle="""
    WITH flat AS (
        SELECT label,
               unnest(embedding) AS v,
               unnest(range(1, len(embedding) + 1)) AS pos,
               vec_id
        FROM embeddings
    ),
    centroid AS (
        SELECT label, pos, avg(v) AS c
        FROM flat GROUP BY label, pos
    )
    SELECT c.label,
           n_vecs,
           round(sqrt(sum(c * c)), 5) AS centroid_norm
    FROM centroid c
    JOIN (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label) s
      ON c.label = s.label
    GROUP BY c.label, n_vecs
    ORDER BY c.label
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means/IVF building block
    and the class-prototype report): element-wise mean per dimension,
    reported as the centroid's L2 norm plus member count.

    Plan: posexplode flattens (vector, dim) pairs — 64 rows per vector
    — then ONE hash aggregate per (label, dim) computes the mean and a
    label-level aggregate folds the norm. The shuffle carries
    (label, dim) partial sums only: at 100 TB the exchange is
    |labels|×|dims| rows regardless of corpus size, the canonical
    aggregate-don't-collect vector reduction."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", "vec_id", (F.col("pos0") + 1).alias("pos"), "v")
    centroid = flat.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    sizes = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        centroid.join(F.broadcast(sizes), "label")
        .groupBy("label", "n_vecs")
        .agg(F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 5).alias("centroid_norm"))
        .orderBy("label")
    )


@query("sim_pq_compress")  # learned codebooks → rows-only check
def sim_pq_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression audit (functions/pq.py —
    Jégou et al. 2011): 4 subspaces × 16 learned centroids encode each
    64-dim float vector as 4 bytes (64× smaller), and this query
    reports what that costs per label: mean/max reconstruction error
    and how many distinct codes the label's vectors occupy.

    Everything after the fit is ONE narrow pass — the m sub-codebooks
    are SQL literals, codes and reconstruction error come from the
    same transform/aggregate expressions, and only the label-sized
    rollup shuffles. Fit cost is m small k-means runs whose driver
    state is ksub·d floats total. At 10⁹ vectors the encode pass is
    scan-bound and the code column is what an IVF+PQ index would
    actually store. Contract tests (tests/test_curation_ops.py) pin
    determinism, code ranges, the recon_err ≡ Σ sub-inertia identity,
    and that learned codebooks beat seed-only ones."""
    from dataextractor_spark.functions.pq import pq_encode, pq_fit

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(e, m=4, ksub=16, dim=64, max_iter=4)
    enc = pq_encode(e, books)
    return (
        enc.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("recon_err"), 6).alias("avg_recon_err"),
            F.round(F.max("recon_err"), 6).alias("max_recon_err"),
            F.countDistinct(
                F.concat_ws("-", F.col("code").cast("array<string>"))
            ).alias("codes_used"),
        )
        .orderBy("label")
    )


@query("sim_pq_adc_search")  # learned codebooks → rows-only check
def sim_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the query path
    of an IVF+PQ index (Jégou et al. 2011 §IV): each query precomputes
    a 16-entry distance table per subspace against the sub-centroids,
    and a candidate's distance is just m table lookups summed — the
    corpus side touches only its 4-byte codes, never the raw vectors.
    ADC returns EXACTLY the L2² between the query and the candidate's
    PQ reconstruction (pinned in tests against a plain-Python
    reconstruction), which is why recall follows compression quality.

    Plan shape: the per-query tables are expressions over the
    broadcast query rows (codebook literals again — no Python), the
    corpus scan reads codes only, and per-query top-5 is a window over
    the broadcast-joined candidates. At 10⁹ vectors this is the scan
    an IVF cell probe would run inside its cell: code-width I/O,
    lookup-add arithmetic, no vector math on the corpus side."""
    from pyspark.sql import Window

    from dataextractor_spark.functions.kmeans import _d2_sql
    from dataextractor_spark.functions.pq import pq_encode, pq_fit

    m, ksub, dim = 4, 16, 64
    ds = dim // m
    e = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(e, m=m, ksub=ksub, dim=dim, max_iter=4)
    enc = pq_encode(e, books).select("vec_id", "code")

    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    for j, book in enumerate(books):
        q = q.withColumn(
            f"qtab{j}", F.expr(_d2_sql(book, f"slice(qv, {j * ds + 1}, {ds})"))
        )
    q = F.broadcast(q.drop("qv"))

    adc = None
    for j in range(m):
        term = F.get(f"qtab{j}", F.col("code")[j])  # 0-based lookup
        adc = term if adc is None else adc + term
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id")
    )
    return (
        enc.join(q, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(adc, 6).alias("adc_dist"))
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


#: cosine threshold for semantic dedup — matches sim_neardup_pairs'
#: calibration (above this corpus's noise floor; max observed pair
#: cosine ~0.51 at fixture scale).
SEMDEDUP_TAU = 0.45


@query("sim_semantic_dedup")  # learned clustering → rows-only; contracts in tests
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication in the SemDeDup sense (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then prune
    near-duplicate pairs WITHIN each cluster only — the clustering
    turns an O(n²) all-pairs problem into Σ|cell|² work where |cell|
    is held near a constant by the codebook sizing.

    Rule (deterministic exemplar choice): a vector is PRUNED iff some
    lower-id vector in the same cell has cosine ≥ SEMDEDUP_TAU with it;
    each pruned row reports its strongest witness (highest cosine,
    ties to the lowest keeper id). The kept set therefore contains no
    within-cell pair at or above the threshold — pinned against a
    brute-force numpy reimplementation in tests/test_scale_paths.py,
    along with determinism and the witness-in-same-cell invariant.

    Scale shape: codebook fit = functions/kmeans (k·d-wide shuffles,
    O(k·d) driver state); assignment = one pass (literal expression or
    Arrow-batched numpy, auto-selected by codebook size); the pruning
    itself reuses the block-matrix layout of sim_neardup_pairs — ONE
    cell-keyed shuffle gathers each cell's vectors into a single row,
    and one numpy pass per cell computes its full cosine matrix, so
    the work is Σ|cell|² ≈ n·IVF_TARGET_CELL_ROWS — linear in the
    corpus, never quadratic, and the corpus is shuffled once (a
    self-join would scan and shuffle it twice). Cell rows are bounded
    by the codebook sizing (n/k ≈ 64 target vectors); a degenerate hot
    cell would need the same cap-and-audit gate dedup_minhash_lsh
    applies to hot LSH buckets.
    """
    import numpy as np
    import pandas as pd

    from dataextractor_spark.functions.kmeans import (
        assign_cells,
        count_and_seeds,
        ivf_cell_count,
        kmeans_fit,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r12: count + seed-prefix collect as two concurrent jobs
    # (count_and_seeds docstring); seeds sliced to k are identical
    n, seed_rows = count_and_seeds(e)
    k = ivf_cell_count(n)
    codebook = kmeans_fit(
        e, k, max_iter=4, id_col="vec_id", vec_col="embedding",
        seed_rows=seed_rows,
    )
    assigned = assign_cells(e, codebook).select("vec_id", "embedding", "cell")
    cells = assigned.groupBy("cell").agg(
        F.collect_list("vec_id").alias("ids"),
        F.collect_list("embedding").alias("vecs"),
    )

    def prune_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        out_v, out_c, out_d, out_s = [], [], [], []
        for _, row in pdf.iterrows():
            ids = np.asarray(row["ids"], dtype=np.int64)
            if len(ids) < 2:
                continue
            order = np.argsort(ids)  # collect_list order is arbitrary
            ids = ids[order]
            m = np.asarray(
                [np.asarray(v) for v in row["vecs"]], dtype=np.float64
            )[order]
            norm = np.linalg.norm(m, axis=1)
            cos = np.round((m @ m.T) / np.outer(norm, norm), 5)
            for j in range(1, len(ids)):
                cands = np.nonzero(cos[:j, j] >= SEMDEDUP_TAU)[0]
                if len(cands) == 0:
                    continue
                # strongest witness: highest cosine, ties to lowest id
                best = cands[np.argmax(cos[cands, j])]
                out_v.append(ids[j])
                out_c.append(int(row["cell"]))
                out_d.append(ids[best])
                out_s.append(float(cos[best, j]))
        return pd.DataFrame(
            {"vec_id": out_v, "cell": out_c, "dup_of": out_d, "cos_sim": out_s}
        )

    return (
        cells.groupBy("cell")
        .applyInPandas(
            lambda key, pdf: prune_cell(pdf),
            "vec_id BIGINT, cell BIGINT, dup_of BIGINT, cos_sim DOUBLE",
        )
        .orderBy("vec_id")
    )


@query("sim_ivfpq_search")  # learned index → rows-only; contracts in tests
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF+PQ index (Jégou et al. 2011 — the structure FAISS
    serves billion-vector corpora with), composing the engine's coarse
    quantizer and PQ layers end-to-end: a k-means coarse codebook
    partitions the corpus into cells, each vector's RESIDUAL from its
    cell centroid is product-quantized to m=4 codes, and a probe
    scans only its own cell computing asymmetric distances — m table
    lookups per candidate over 4-byte codes; the corpus's raw floats
    are never touched at query time.

    Residuals (not raw vectors) feed PQ because their spread within a
    cell is a fraction of the corpus spread — the same sub-codebook
    budget buys a much finer quantization (the core IVF+PQ insight).
    The residual table is lazily localCheckpointed: m sub-fits × 4
    sweeps each replay it instead of re-deriving vector − centroid
    per sweep (at index-build scale this materialization IS the
    inverted-list build every ANN system performs).

    tests/test_scale_paths.py pins: every candidate shares its query's
    coarse cell; each reported adc_dist equals the plain-Python
    L2²(query residual, PQ reconstruction of candidate residual); and
    the whole index build is deterministic.
    """
    from pyspark.sql import Window

    from dataextractor_spark.functions.kmeans import (
        _centroid_sql,
        _d2_sql,
        assign_cells,
        count_and_seeds,
        ivf_cell_count,
        kmeans_fit,
    )
    from dataextractor_spark.functions.pq import pq_encode, pq_fit

    m, ksub, dim = 4, 16, 64
    ds = dim // m
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r12: count + seed-prefix collect as two concurrent jobs
    # (count_and_seeds docstring); seeds sliced to k are identical
    n, seed_rows = count_and_seeds(e)
    k = ivf_cell_count(n)
    coarse = kmeans_fit(
        e, k, max_iter=4, id_col="vec_id", vec_col="embedding",
        seed_rows=seed_rows,
    )
    assigned = assign_cells(e, coarse)
    resid = assigned.withColumn(
        "residual",
        F.expr(
            "zip_with(transform(embedding, x -> cast(x as double)), "
            f"element_at({_centroid_sql(coarse)}, cell + 1), "
            "(x, c) -> x - c)"
        ),
    ).transform(pin)
    # 2 sweeps per sub-fit: PQ sub-codebooks over residuals converge
    # fast (each is a 16-dim, 16-cell problem), and each extra sweep
    # is m more driver-scheduled jobs — measured 7.2 s -> ~5 s at
    # sf0.1 with no contract change.
    books = pq_fit(
        resid.select("vec_id", "residual"),
        m=m,
        ksub=ksub,
        dim=dim,
        max_iter=2,
        vec_col="residual",
    )
    enc = pq_encode(resid, books, vec_col="residual").select(
        "vec_id", "cell", "code"
    )

    q = resid.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("qcell"),
        F.col("residual").alias("qr"),
    )
    for j, book in enumerate(books):
        q = q.withColumn(
            f"qtab{j}", F.expr(_d2_sql(book, f"slice(qr, {j * ds + 1}, {ds})"))
        )
    q = F.broadcast(q.drop("qr"))

    adc = None
    for j in range(m):
        term = F.get(f"qtab{j}", F.col("code")[j])
        adc = term if adc is None else adc + term
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id")
    )
    return (
        enc.join(
            q,
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.round(adc, 6).alias("adc_dist"),
        )
        .withColumn("rk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@query("sim_recall_eval")  # evaluates an approximate index → rows-only
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 / scan-cost evaluation of the sign-LSH index at two
    probe levels — the acceptance gate an ANN deployment runs before
    trusting an index, expressed as a first-class query (evaluation is
    engine surface, not a notebook afterthought). Probe level 0 scans
    only the query's own bucket; level 1 adds multi-probe (Lv et al.
    2007): the k buckets at Hamming distance 1 in sign space — the
    standard recall knob that costs k more bucket scans, NOT more
    index. Output per (query, level): candidates scanned, exact-top-5
    hits, recall — the cost/recall curve an index sweep tunes (plane
    count itself is corpus-derived via lsh_plane_count). Exact
    baseline: one corpus scan + per-query heap (sim_knn_batch's
    shape). Everything is deterministic (seeded planes, vec_id
    tiebreaks); tests/test_scale_paths.py pins recall ≡ |ANN∩exact|/5
    recomputed from the composed pieces, and monotonicity: level-1
    candidates/recall ≥ level-0's."""
    from pyspark.sql import Window

    corpus = load_table(spark, sf_dir, "embeddings")
    k = 5
    n_planes = lsh_plane_count(corpus.count())
    e = corpus.withColumn(
        "bucket", lsh_bucket("embedding", n_planes=n_planes)
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("bucket").alias("qbucket"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = (
        e.crossJoin(q.drop("qbucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id")
    )
    # probe fan-out: own bucket (level 0) + Hamming-1 buckets (level 1)
    probes = q.select(
        "query_id",
        "qv",
        F.explode(
            F.array(
                F.struct(F.col("qbucket").alias("pb"), F.lit(0).alias("lvl")),
                *[
                    F.struct(
                        F.col("qbucket")
                        .bitwiseXOR(F.lit(1 << i))
                        .alias("pb"),
                        F.lit(1).alias("lvl"),
                    )
                    for i in range(n_planes)
                ],
            )
        ).alias("p"),
    ).select("query_id", "qv", F.col("p.pb").alias("pb"), F.col("p.lvl").alias("lvl"))
    cands = (
        e.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pb"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            "lvl",
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cos_sim"),
        )
    )

    # Both probe levels evaluate in ONE plan (r12): the former
    # per-level helper re-derived the candidate join and the exact
    # baseline once per level — the profiled 19-job / 1.6 s
    # orchestration gap was mostly duplicated broadcast builds. A
    # level-0 candidate participates in both evaluations, a level-1
    # candidate only in the cumulative one, so exploding each row into
    # its evaluation levels and re-keying every window/aggregate/join
    # by (query_id, probe_level) computes identical per-level rows
    # from single subtrees.
    # A level-l candidate participates in every cumulative evaluation
    # from its own level up to the deepest probe level, so the levels
    # derive from lvl itself (r12 ADVICE: a hand-enumerated when/
    # otherwise would silently fold any future lvl > 1 fan-out into
    # level 1 instead of extending the curve).
    max_probe_lvl = 1  # deepest probe level built above (Hamming-1)
    ev = cands.withColumn(
        "probe_level",
        F.explode(F.sequence(F.col("lvl"), F.lit(max_probe_lvl))),
    )
    wl = Window.partitionBy("query_id", "probe_level").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    top = (
        ev.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= k)
        .select("query_id", "probe_level", F.col("vec_id").alias("ann_vec_id"))
    )
    n_c = ev.groupBy("query_id", "probe_level").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    exact_lv = exact.withColumn(
        "probe_level",
        F.explode(F.sequence(F.lit(0), F.lit(max_probe_lvl))),
    )
    hits = (
        exact_lv.join(
            top,
            (exact_lv.query_id == top.query_id)
            & (exact_lv.probe_level == top.probe_level)
            & (exact_lv.vec_id == top.ann_vec_id),
            "left",
        )
        .groupBy(exact_lv.query_id, exact_lv.probe_level)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("ann_vec_id").cast("long").alias("n_hits"),
        )
    )
    return (
        hits.join(n_c, ["query_id", "probe_level"], "left")
        .select(
            "query_id",
            F.col("probe_level").cast("long").alias("probe_level"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact"), 6).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id", "probe_level")
    )


#: MMR re-ranking: trade-off λ between query relevance and novelty
#: vs the already-selected set (Carbonell & Goldstein, SIGIR'98).
MMR_LAMBDA = 0.7
MMR_CANDIDATES = 20
MMR_K = 5


@query("sim_mmr_diversify")  # iterative greedy → rows-only; contract in tests
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: for each of 5 query
    vectors, the exact top-20 cosine candidates (sim_knn_batch's
    one-scan shape) are greedily re-ranked so each pick maximizes
    λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s) — the standard
    redundancy-suppressing selection for retrieval-augmented data
    (picking 5 NEAR-IDENTICAL passages wastes 4 context slots; MMR
    buys coverage with a bounded relevance loss).

    Two-phase plan, each phase the right tool: candidate generation
    is pure DataFrame algebra (broadcast query set → one corpus scan
    → per-query window top-20), so the corpus-sized work never leaves
    the JVM. The greedy loop — genuinely sequential, O(k²·|C|) on
    ≤20 rows — runs per-query in ONE applyInPandas stage over
    (query_id) groups with the candidate embeddings carried along:
    Arrow-batched, k×d floats of state, thousands of groups run in
    parallel, nothing iterative touches the driver. The selection is
    deterministic (ties break on vec_id), pinned by a pytest contract
    against an independent numpy reference plus a diversity assertion
    (mean pairwise sim of the MMR set < that of the plain top-k
    set). Rows-only for the driver: greedy argmax chains have no
    SQL-expressible oracle."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    cand = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity("embedding", "qv").alias("cos_sim"),
            "embedding",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MMR_CANDIDATES)
        .drop("rk")
    )

    out_schema = (
        "query_id long, mmr_rank int, vec_id long, "
        "mmr_score double, cos_sim double"
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf["cos_sim"].to_numpy().astype("float64")
        ids = pdf["vec_id"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        while remaining and len(selected) < MMR_K:
            if selected:
                red = (unit[remaining] @ unit[selected].T).max(axis=1)
            else:
                red = np.zeros(len(remaining))
            mmr_s = MMR_LAMBDA * rel[remaining] - (1 - MMR_LAMBDA) * red
            # deterministic: max score, then smallest vec_id
            order = sorted(
                range(len(remaining)),
                key=lambda j: (-mmr_s[j], ids[remaining[j]]),
            )
            pick = remaining[order[0]]
            scores.append(float(mmr_s[order[0]]))
            selected.append(pick)
            remaining.remove(pick)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
                "vec_id": ids[selected],
                "mmr_score": np.round(scores, 6),
                "cos_sim": np.round(rel[selected], 6),
            }
        )

    return (
        cand.groupBy("query_id")
        .applyInPandas(mmr, out_schema)
        .orderBy("query_id", "mmr_rank")
    )


# --- embedding drift monitor ------------------------------------------

#: two-proportion shift threshold for a "drifted" dimension: the
#: positive-sign rates of snapshots A and B differ by more than 5%,
#: tested with the integer-cleared inequality 20*|ka*nb - kb*na| >
#: na*nb (never a float compare).
_DRIFT_NUM, _DRIFT_DEN = 20, 1

#: label space of the embeddings table (0..9) — pivoted to FIXED
#: columns so the PSI sum over labels has one accumulation order.
_DRIFT_LABELS = tuple(range(10))


@query(
    "sim_embedding_drift",
    oracle=f"""
    WITH snap AS (
        SELECT vec_id, label, embedding,
               CAST(vec_id % 2 AS BIGINT) AS b_side
        FROM embeddings
    ),
    dims AS (
        SELECT dim, b_side, CASE WHEN v > 0 THEN 1 ELSE 0 END AS pos
        FROM (
            SELECT b_side,
                   unnest(embedding) AS v,
                   unnest(range(len(embedding))) AS dim
            FROM snap
        )
    ),
    pd AS (
        SELECT dim,
               CAST(coalesce(sum(CASE WHEN b_side = 0 THEN pos END), 0)
                    AS BIGINT) AS ka,
               CAST(coalesce(sum(CASE WHEN b_side = 1 THEN pos END), 0)
                    AS BIGINT) AS kb
        FROM dims GROUP BY dim
    ),
    ns AS (
        SELECT CAST(coalesce(sum(CASE WHEN b_side = 0 THEN 1 END), 0)
                    AS BIGINT) AS na,
               CAST(coalesce(sum(CASE WHEN b_side = 1 THEN 1 END), 0)
                    AS BIGINT) AS nb
        FROM snap
    ),
    dimstat AS (
        SELECT CAST(count(*) AS BIGINT) AS n_dims,
               CAST(coalesce(sum(CASE WHEN {_DRIFT_NUM}
                        * abs(ka * ns.nb - kb * ns.na)
                        > ns.na * ns.nb THEN 1 END), 0) AS BIGINT)
                   AS n_dims_shifted,
               CAST(sum(abs(ka * ns.nb - kb * ns.na)) AS BIGINT)
                   AS shift_mass,
               max(lpad(CAST(abs(ka * ns.nb - kb * ns.na) AS VARCHAR),
                        18, '0')
                   || lpad(CAST(999 - dim AS VARCHAR), 3, '0')) AS argmax
        FROM pd CROSS JOIN ns
    ),
    lbl AS (
        SELECT
        {",".join(
            f"CAST(coalesce(sum(CASE WHEN b_side = 0 AND label = {l} "
            f"THEN 1 END), 0) AS BIGINT) AS a{l}, "
            f"CAST(coalesce(sum(CASE WHEN b_side = 1 AND label = {l} "
            f"THEN 1 END), 0) AS BIGINT) AS b{l}"
            for l in _DRIFT_LABELS
        )}
        FROM snap
    )
    SELECT ns.na AS n_a, ns.nb AS n_b,
           d.n_dims, d.n_dims_shifted,
           round(CAST(d.shift_mass AS DOUBLE)
                 / (d.n_dims * ns.na * ns.nb), 6) AS mean_abs_rate_shift,
           CAST(999 - CAST(substr(d.argmax, 19, 3) AS BIGINT) AS BIGINT)
               AS max_shift_dim,
           round(CAST(CAST(substr(d.argmax, 1, 18) AS BIGINT) AS DOUBLE)
                 / (ns.na * ns.nb), 6) AS max_shift_rate,
           round({" + ".join(
               f"((a{l} + 1.0) / (ns.na + 10.0)"
               f" - (b{l} + 1.0) / (ns.nb + 10.0))"
               f" * ln(((a{l} + 1.0) / (ns.na + 10.0))"
               f" / ((b{l} + 1.0) / (ns.nb + 10.0)))"
               for l in _DRIFT_LABELS
           )}, 6) AS psi_label
    FROM ns CROSS JOIN dimstat d CROSS JOIN lbl
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor between two snapshots
    (vec_id parity stands in for yesterday/today ingestion batches):
    per-DIMENSION positive-sign rates — the integer-exact sufficient
    statistic for direction drift on unit vectors — compared with a
    5% two-proportion threshold per dim, plus a label-mix PSI. This
    is the ML-ops gate that catches a silently retrained or
    re-normalized encoder before it poisons an ANN index built on
    yesterday's geometry.

    Why sign rates and not centroid cosine: a centroid is a float sum
    ACROSS rows, whose accumulation order differs between engines and
    runs — unusable under an exact value-hash contract (and subtly
    nondeterministic on a real cluster too). Sign counts are
    integers; every shift statistic here is a ratio of exact int64
    products (the drifted-dim test is the integer-cleared
    20*|ka*nb - kb*na| > na*nb), the argmax dimension uses the
    fixed-width lpad encoding, and the label PSI is an explicit
    fixed-order chain over the 10 pivoted label columns — no grouped
    float accumulation anywhere.

    At 100 TB: one embeddings scan fans into the per-dim explode
    (64 rows per vector, integer flags only) and the one-row label
    pivot; everything downstream is bounded (64-row dim table, one
    summary row)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", (F.col("vec_id") % 2).alias("b_side")
    )
    dims = e.select(
        "b_side",
        F.posexplode("embedding").alias("dim", "v"),
    ).select("b_side", "dim", (F.col("v") > 0).cast("long").alias("pos"))
    pd_ = dims.groupBy("dim").agg(
        F.coalesce(
            F.sum(F.when(F.col("b_side") == 0, F.col("pos"))), F.lit(0)
        )
        .cast("long")
        .alias("ka"),
        F.coalesce(
            F.sum(F.when(F.col("b_side") == 1, F.col("pos"))), F.lit(0)
        )
        .cast("long")
        .alias("kb"),
    )
    # r12: the 22 pivot aggregates and the PSI chain below are SQL
    # strings parsed by F.expr (one parse apiece) instead of
    # operator-by-operator Column trees — ~1 s of measured driver
    # time per invocation was plan CONSTRUCTION (guide §5; the
    # sample_bootstrap_ci pattern). Spelling matches the former
    # Column form literal-for-literal; the oracle hash pins it.
    lbl_aggs = [
        f"CAST(coalesce(sum(CASE WHEN b_side = {side} AND label = {l}"
        f" THEN 1 END), 0) AS BIGINT) AS {tag}{l}"
        for side, tag in ((0, "a"), (1, "b"))
        for l in _DRIFT_LABELS
    ]
    ns_lbl = e.agg(
        F.expr(
            "CAST(coalesce(sum(CASE WHEN b_side = 0 THEN 1 END), 0)"
            " AS BIGINT) AS na"
        ),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN b_side = 1 THEN 1 END), 0)"
            " AS BIGINT) AS nb"
        ),
        *[F.expr(a) for a in lbl_aggs],
    )
    shift = F.abs(F.col("ka") * F.col("nb") - F.col("kb") * F.col("na"))
    dimstat = (
        pd_.crossJoin(F.broadcast(ns_lbl.select("na", "nb")))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.coalesce(
                F.sum(
                    F.when(
                        _DRIFT_NUM * shift > F.col("na") * F.col("nb"), 1
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_dims_shifted"),
            F.sum(shift).cast("long").alias("shift_mass"),
            F.max(
                F.concat(
                    F.lpad(shift.cast("string"), 18, "0"),
                    F.lpad((F.lit(999) - F.col("dim")).cast("string"), 3, "0"),
                )
            ).alias("argmax"),
        )
    )
    na, nb = F.col("na"), F.col("nb")
    # population-stability index as one SQL string: an explicit
    # left-to-right chain over the fixed label order (never a grouped
    # float sum — accumulation order must match the oracle), add-one
    # smoothing keeps every log finite; 1.0D / 10.0D double literals
    # match the former Python-float lits
    k = float(len(_DRIFT_LABELS))
    pa = lambda l: f"(a{l} + 1.0D) / (na + {k}D)"  # noqa: E731
    pb = lambda l: f"(b{l} + 1.0D) / (nb + {k}D)"  # noqa: E731
    psi_sql = " + ".join(
        f"(({pa(l)}) - ({pb(l)})) * ln(({pa(l)}) / ({pb(l)}))"
        for l in _DRIFT_LABELS
    )
    psi = F.expr(psi_sql)
    return (
        ns_lbl.crossJoin(F.broadcast(dimstat))
        .select(
            na.alias("n_a"),
            nb.alias("n_b"),
            "n_dims",
            "n_dims_shifted",
            F.round(
                F.col("shift_mass").cast("double")
                / (F.col("n_dims") * na * nb),
                6,
            ).alias("mean_abs_rate_shift"),
            (
                F.lit(999)
                - F.substring(F.col("argmax"), 19, 3).cast("long")
            ).cast("long").alias("max_shift_dim"),
            F.round(
                F.substring(F.col("argmax"), 1, 18)
                .cast("long")
                .cast("double")
                / (na * nb),
                6,
            ).alias("max_shift_rate"),
            F.round(psi, 6).alias("psi_label"),
        )
    )


@query(
    "sim_matryoshka_recall",
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.qid, c.vec_id,
               round(list_cosine_similarity(c.embedding::DOUBLE[], q.qv),
                     5) AS cf,
               round(list_cosine_similarity(
                         (c.embedding::DOUBLE[])[1:16], q.qv[1:16]), 5)
                   AS ct
        FROM q JOIN embeddings c ON c.vec_id <> q.qid
    ),
    rf AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (
                PARTITION BY qid ORDER BY cf DESC, vec_id) AS r
            FROM scored) WHERE r <= 10
    ),
    rt AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (
                PARTITION BY qid ORDER BY ct DESC, vec_id) AS r
            FROM scored) WHERE r <= 10
    )
    SELECT rf.qid AS query_id,
           CAST(count(rt.vec_id) AS BIGINT) AS n_overlap,
           round(count(rt.vec_id) / 10.0, 6) AS recall_at_10
    FROM rf LEFT JOIN rt
      ON rt.qid = rf.qid AND rt.vec_id = rf.vec_id
    GROUP BY rf.qid
    ORDER BY query_id
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: for ten query vectors,
    how much of the exact full-dimension (64-d) cosine top-10 does a
    16-d PREFIX of the same embedding recover? This is the
    decision-table for nested-representation serving (coarse search
    on the cheap prefix, rerank on full dims): recall@10 per query is
    the number that says whether the 4× memory/compute cut is free or
    costly for this corpus.

    Both rankings use the established deterministic rule (cosine
    rounded 5dp, vec_id tiebreak — sim_topk_cosine's r2-proven
    portable ordering), so the two top-10 SETS are identical objects
    on both engines and the overlap count is exact. Plan: 10
    broadcast query rows × one corpus scan (both similarities
    computed in the same projection — the prefix slice costs nothing
    extra), ONE (qid, metric)-keyed row_number window over bounded
    (20-key) partitions, and a join-free overlap count (inline
    comment below). Scales as queries × corpus, the same envelope as
    sim_knn_batch."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    scored = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 5).alias("cf"),
            F.round(
                cosine_similarity(
                    F.slice("embedding", 1, 16), F.slice("qv", 1, 16)
                ),
                5,
            ).alias("ct"),
        )
    )
    from pyspark.sql import Window

    # r13 (guide §2.4, the sim_recall_eval explode-fanout recipe): the
    # r12 form ranked the pinned score table TWICE (two full
    # exchange+sort windows) and joined the two top-10 sets. Both
    # rankings share one sort domain: explode each scored row into
    # (metric, score) and run ONE window over (qid, metric) — same
    # per-partition order and tiebreak, so the two top-10 SETS are
    # identical objects — then count the overlap without a join: each
    # qid contributes exactly 20 ranked rows (10 per metric; the
    # corpus exceeds 10 candidates per query by contract), a vec_id
    # appears once or twice, and |rf ∩ rt| = 20 − #distinct vec_ids =
    # Σcnt − #groups of the (qid, vec_id) rollup. Exact integers
    # end-to-end; ordering/rounding unchanged.
    wr = Window.partitionBy("qid", "m").orderBy(
        F.col("s").desc(), F.col("vec_id")
    )
    ranked = (
        scored.select(
            "qid",
            "vec_id",
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("m"), F.col("cf").alias("s")),
                    F.struct(F.lit(1).alias("m"), F.col("ct").alias("s")),
                )
            ).alias("e"),
        )
        .select("qid", "vec_id", F.col("e.m").alias("m"), F.col("e.s").alias("s"))
        .select("qid", "vec_id", "m", F.row_number().over(wr).alias("r"))
        .where("r <= 10")
    )
    per_pair = ranked.groupBy("qid", "vec_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        per_pair.groupBy(F.col("qid").alias("query_id"))
        .agg(
            (F.sum("k") - F.count(F.lit(1))).cast("long").alias("n_overlap"),
            F.round(
                (F.sum("k") - F.count(F.lit(1))) / 10.0, 6
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


@query(
    "sim_centroid_classify_eval",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              v -> CAST(round(v * 1000000) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    flat AS (
        SELECT label, t.i AS pos, qv[t.i] AS val
        FROM q CROSS JOIN range(1, 65) t(i)
    ),
    cent AS (
        SELECT label AS clabel,
               list(csum ORDER BY pos) AS cv
        FROM (
            SELECT label, pos, CAST(sum(val) AS BIGINT) AS csum
            FROM flat GROUP BY label, pos
        ) GROUP BY label
    ),
    scored AS (
        SELECT q.vec_id, q.label, c.clabel,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> q.qv[i] * c.cv[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> q.qv[i] * q.qv[i])) AS BIGINT) AS qq,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> c.cv[i] * c.cv[i])) AS BIGINT) AS cc
        FROM q CROSS JOIN cent c
    ),
    keyed AS (
        SELECT vec_id, label,
               lpad(CAST(CAST(round((CAST(dot AS DOUBLE)
                        / sqrt(CAST(qq AS DOUBLE) * cc) + 1.0)
                        * 1000000000) AS BIGINT) AS VARCHAR), 12, '0')
               || CAST(9 - clabel AS VARCHAR) AS k
        FROM scored
    ),
    pred AS (
        SELECT vec_id, label,
               9 - CAST(substr(max(k), 13, 1) AS BIGINT) AS plabel
        FROM keyed GROUP BY vec_id, label
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN plabel = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN plabel = label THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS recall
    FROM pred
    GROUP BY label
    ORDER BY label
    """,
)
def sim_centroid_classify_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification eval over the
    embedding corpus: build one centroid per label, assign every
    vector to its max-cosine centroid, and report per-label
    resubstitution recall — the cheapest supervised probe of whether
    an embedding space separates its labels (the companion readout to
    sim_label_centroids' geometry table, and the baseline an ANN
    serving tier is judged against).

    Portability is the design: cosine is SCALE-INVARIANT, so
    centroids are exact integer SUM vectors (elements quantized to
    1e-6 — round(v·1e6) of identical doubles) and never divided by
    class counts; dot products and norms accumulate BIGINT through
    sequential array folds (no group-order float sums anywhere — the
    only doubles are one final fixed expression per (vec, label)
    pair); argmax uses the lpad key with the 9−label digit so ties
    break toward the smaller label identically in both engines.
    Plan: one posexplode + (label, dim)-keyed aggregate builds the
    10-row centroid table, which BROADCASTS into a single corpus
    scan — vectors never shuffle. Sum magnitudes peak ~6e16 over 64
    dims (int64 headroom per agg_hhi_concentration)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding,"
            " v -> cast(round(cast(v as double) * 1000000) as bigint))"
        ).alias("qv"),
    ).transform(pin)
    cent = (
        q.select("label", F.posexplode("qv").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").cast("long").alias("csum"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, csum))),"
                " x -> x.csum)"
            ).alias("cv")
        )
    )
    scored = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(
            "aggregate(zip_with(qv, cv, (a, b) -> a * b),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(qv, a -> a * a),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("qq"),
        F.expr(
            "aggregate(transform(cv, a -> a * a),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("cc"),
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("qq").cast("double") * F.col("cc")
    )
    keyed = scored.select(
        "vec_id",
        "label",
        F.concat(
            F.lpad(
                F.round((cos + 1.0) * 1000000000)
                .cast("long")
                .cast("string"),
                12,
                "0",
            ),
            (9 - F.col("clabel")).cast("string"),
        ).alias("k"),
    )
    pred = keyed.groupBy("vec_id", "label").agg(
        (9 - F.substring(F.max("k"), 13, 1).cast("long"))
        .cast("long")
        .alias("plabel")
    )
    return (
        pred.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(
                F.when(F.col("plabel") == F.col("label"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(
                        F.col("plabel") == F.col("label"), F.lit(1)
                    ).otherwise(F.lit(0))
                )
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
        .orderBy("label")
    )
