"""Distributed k-means (Lloyd's algorithm) for IVF-style vector
indexing — the unsupervised codebook behind `sim_ann_ivf_kmeans`.

Spark-first formulation (no MLlib dependency, no driver-side vectors
beyond the k×d codebook itself):

- INIT: deterministic — the k seed vectors are the rows whose
  ``xxhash64(id)`` ranks smallest (a reproducible uniform sample; no
  rand(), so the fit is identical across runs, partitionings, and
  cluster sizes).
- ASSIGN: the codebook is k×d doubles (a few KB even at k=256, d=64) —
  small enough to inline as a LITERAL array-of-arrays column, so
  nearest-centroid assignment is ONE narrow codegen pass over the
  corpus: transform over the centroid array computing squared L2, then
  array_position of the min. No crossJoin, no shuffle, no UDF.
- UPDATE: posexplode to (cell, pos, value) and hash-aggregate the per-
  dimension means — one shuffle whose width is k·d regardless of
  corpus size, re-assembled with sort+collect_list per cell.
- Convergence: fixed ``max_iter`` sweeps (IVF codebooks don't need
  exact convergence; each sweep is provably non-increasing in inertia,
  asserted in tests).

At 100 TB the per-iteration cost is one corpus scan + one k·d-wide
shuffle — the textbook map-side-combine shape. The only driver-side
state is the codebook collect between iterations, which is O(k·d) and
independent of corpus size (same contract as a broadcast dim).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


#: target vectors per IVF cell: a probe scans ~this many candidates.
IVF_TARGET_CELL_ROWS = 64


#: upper clamp of ivf_cell_count — also the seed-prefetch width of
#: count_and_seeds (the first K_MAX hash-ranked rows always contain
#: the first k for any k ≤ K_MAX).
IVF_K_MAX = 256


def ivf_cell_count(n_vectors: int, target_rows: int = IVF_TARGET_CELL_ROWS) -> int:
    """Cell count k derived from the corpus size: k = n/target clamped
    to [4, 256] and to n (can't have more cells than vectors). The
    classic IVF sizing k ≈ √n also works; n/target keeps probe cost
    flat, which is the property the tests pin."""
    k = math.ceil(max(n_vectors, 1) / target_rows)
    return max(4, min(IVF_K_MAX, k, max(n_vectors, 1)))


def count_and_seeds(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[int, list]:
    """Corpus count + the first ``IVF_K_MAX`` hash-ranked seed rows,
    computed as TWO CONCURRENT driver-submitted jobs (guide §2.6
    "overlap independent jobs": an IVF build opens with a count —
    which sizes k — followed by the seed collect; the jobs are
    independent because the seed ORDER does not depend on k, so
    prefetching the clamp-maximum prefix and slicing to k afterwards
    yields byte-identical seeds while halving the serialized
    open-of-build wall time). Returns ``(n, seed_rows)``; callers
    slice ``seed_rows[:k]``. The pull is bounded O(K_MAX·d) — the
    same broadcast-dim contract as the codebook pulls below."""
    from concurrent.futures import ThreadPoolExecutor

    sel = vectors.select(id_col, vec_col)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_n = pool.submit(sel.count)
        fut_seeds = pool.submit(
            lambda: sel.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(IVF_K_MAX)
            .collect()
        )
        return fut_n.result(), fut_seeds.result()


def _centroid_sql(centroids: list[list[float]]) -> str:
    """The k×d codebook as a SQL array-of-arrays literal. Built as
    TEXT, not nested Column objects: constructing the k·d-node Column
    tree through py4j cost ~0.9 s of driver time PER SWEEP (the
    dominant cost of a fixture-scale fit); one expression string
    parses JVM-side in milliseconds and produces the identical plan."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")"
            for c in centroids
        )
        + ")"
    )


def _d2_sql(centroids: list[list[float]], vec_col: str) -> str:
    """Squared-L2 distances to every centroid, as one SQL expression
    (transform over the codebook literal; aggregate+zip_with inside —
    all Catalyst, no Python in the scan)."""
    return (
        f"transform({_centroid_sql(centroids)}, c -> aggregate("
        f"zip_with(transform({vec_col}, x -> cast(x as double)), c, "
        f"(x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x))"
    )


#: k·d above which assignment switches from the literal-expression
#: path to the Arrow-batched numpy path. The literal path's cost is
#: dominated by per-JOB analysis of a k·d-literal expression tree
#: (measured ~0.8 s per sweep at k·d=2048 on a 2k-row corpus — plan
#: overhead, not compute), so past ~1k literals the vectorized batch
#: path wins regardless of corpus size.
ASSIGN_LITERAL_MAX_KD = 1024


def assign_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Append a ``cell`` column: index (0-based) of the nearest
    centroid by L2 distance, ties to the lowest index.

    Two physical forms, selected by codebook size (``method='auto'``;
    equivalence on the fixture corpus pinned in test_scale_paths):

    - ``literal``: the codebook rides along as a SQL literal and the
      distances evaluate as one narrow expression pass — zero Python,
      ideal while k·d is small. The d2 array is materialized ONCE in
      a temp column (array_position + array_min share it) so the
      k·d-literal tree appears a single time in the plan.
    - ``pandas``: Arrow-batched numpy — d2 via the expansion
      |x|² + |c|² − 2·x·cᵀ (one matmul per batch, O(batch·k) memory),
      argmin for the first-min index. Same low-index tiebreak:
      duplicate centroids produce bitwise-identical d2 columns, and
      argmin returns the first. This path's plan is tiny however big
      the codebook gets, and the per-batch matmul replaces k·d
      interpreted higher-order-function evaluations per row.
    """
    clash = {"cell", "_d2"} & set(vectors.columns)
    if clash:
        raise ValueError(
            f"assign_cells appends a 'cell' column (via a '_d2' temp); "
            f"input already has {sorted(clash)}, which withColumn would "
            "silently replace — rename or drop first"
        )
    if method == "auto":
        kd = len(centroids) * (len(centroids[0]) if centroids else 0)
        method = "pandas" if kd > ASSIGN_LITERAL_MAX_KD else "literal"
    if method == "literal":
        d2 = _d2_sql(centroids, vec_col)
        return (
            vectors.withColumn("_d2", F.expr(d2))
            .withColumn(
                "cell",
                F.expr("cast(array_position(_d2, array_min(_d2)) - 1 as int)"),
            )
            .drop("_d2")
        )

    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cb = np.asarray(centroids, dtype=np.float64)
    cb_norm2 = (cb**2).sum(axis=1)
    out_schema = StructType(
        list(vectors.schema.fields) + [StructField("cell", IntegerType(), False)]
    )

    def assign(batches):
        for pdf in batches:
            out = pdf.copy()
            if len(pdf) == 0:
                out["cell"] = np.empty(0, dtype=np.int32)
                yield out
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            d2 = (x**2).sum(axis=1)[:, None] + cb_norm2[None, :] - 2.0 * (x @ cb.T)
            out["cell"] = d2.argmin(axis=1).astype(np.int32)
            yield out

    return vectors.mapInPandas(assign, out_schema)


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    *,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    wide_agg_max_dim: int = 128,
    seed_rows: list | None = None,
) -> list[list[float]]:
    """Fit k centroids over an array-typed vector column; returns the
    codebook as a plain k×d list (driver-side O(k·d), like any
    broadcast dim). Deterministic: hash-ranked seeding + mean updates.
    Empty cells (possible when k is near n) keep their previous
    centroid rather than being dropped, so the codebook size is stable.

    Mean update has two physical forms, same result (equivalence
    pinned in tests/test_scale_paths.py):
    - d ≤ ``wide_agg_max_dim``: ONE groupBy(cell) with d avg(vec[i])
      aggregate expressions — single shuffle of k×d partials, no row
      explosion (the posexplode form multiplies scan rows ×d before
      the partial agg collapses them);
    - larger d: posexplode to (cell, pos, v) + per-(cell,pos) avg —
      expression count stays O(1) however wide the vectors get.

    Operational note for real-scale index builds: each sweep is one
    driver-scheduled action over the corpus (an IVF+PQ build composes
    ~a dozen such sweeps). That shape is correct for OFFLINE builds,
    but at 100 TB the input lineage should be pinned before the loop
    (localCheckpoint/persist of the projected vector column — the
    sim_ivfpq_search residual table does exactly this) and, on a real
    cluster, `spark.cleaner.referenceTracking` plus a checkpoint
    every few sweeps keeps the lineage and shuffle files from either
    growing unboundedly or being re-derived after executor loss.
    """
    # seed_rows: callers that already hold the hash-ranked seed prefix
    # (count_and_seeds) pass it in, skipping this job; the slice to k
    # is identical to a limit(k) collect because the ranking is a
    # total order independent of k.
    seeds = (
        seed_rows[:k]
        if seed_rows is not None
        else (
            vectors.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(k)
            .collect()
        )
    )
    centroids = [[float(v) for v in r[vec_col]] for r in seeds]
    d_dim = len(centroids[0]) if centroids else 0
    # constant across sweeps — build the wide agg expressions once
    wide_aggs = [
        F.avg(F.col(vec_col)[i].cast("double")).alias(f"m{i}")
        for i in range(d_dim if d_dim <= wide_agg_max_dim else 0)
    ]
    for _ in range(max_iter):
        centroids = _one_sweep(
            vectors, centroids, id_col, vec_col, wide_aggs, d_dim
        )
    return centroids


def _one_sweep(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    wide_aggs: list,
    d_dim: int,
) -> list[list[float]]:
    """One Lloyd sweep: assign, mean-update, collect the new codebook
    (empty cells keep their previous centroid)."""
    assigned = assign_cells(vectors.select(id_col, vec_col), centroids, vec_col)
    new = list(centroids)  # empty cells keep previous centroid
    if wide_aggs:
        for r in assigned.groupBy("cell").agg(*wide_aggs).collect():
            new[r["cell"]] = [float(r[f"m{i}"]) for i in range(d_dim)]
    else:
        flat = assigned.select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "v")
        )
        means = (
            flat.groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
            .collect()
        )
        for r in means:
            new[r["cell"]] = [float(v) for v in r["centroid"]]
    return new


def inertia(
    vectors: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> float:
    """Σ over vectors of squared L2 distance to the assigned centroid
    (the quantity Lloyd's sweeps never increase)."""
    d2 = _d2_sql(centroids, vec_col)
    return float(
        vectors.select(F.expr(f"array_min({d2})").alias("d2"))
        .agg(F.sum("d2"))
        .first()[0]
    )
