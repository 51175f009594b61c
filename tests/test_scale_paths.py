"""Accuracy contracts for the sketch/approximate scale paths against
their exact counterparts (the 100 TB operators must be provably close
to the exact definitions they replace)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.registry import load_all
from tests.conftest import SF_SMALL


def test_approx_distinct_error_bound(spark):
    """HLL++ with rsd=1% must land within 2% of exact distinct."""
    li = load_table(spark, SF_SMALL, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.02


def test_approx_percentile_error_bound(spark):
    """approx_percentile(accuracy=10000) vs exact percentile: within
    0.5% relative on this distribution."""
    o = load_table(spark, SF_SMALL, "orders")
    row = o.agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.005


def test_minhash_candidates_cover_true_pairs(spark):
    """Sketch recall contract: every exact-Jaccard≥0.95 pair must be
    among the MinHash-LSH candidates (8 bands × 4 rows ⇒ P(miss at
    j=0.95) = (1-0.95⁴)^8 ≈ 3e-6)."""
    specs = load_all()
    exact = {
        (r.doc_a, r.doc_b)
        for r in specs["dedup_jaccard_pairs"].fn(spark, SF_SMALL).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in specs["dedup_minhash_lsh"].fn(spark, SF_SMALL).collect()
    }
    assert exact, "corpus should contain near-dup pairs"
    missed = exact - cand
    assert not missed, f"LSH missed {len(missed)} true near-dup pairs"


def test_ann_lsh_candidates_share_bucket(spark):
    """ANN contract: every candidate really shares the query's LSH
    bucket and its cosine equals the exact computation (the pruning is
    approximate; the scoring must not be)."""
    from dataextractor_spark.operators.similarity import (
        lsh_bucket,
        lsh_plane_count,
    )

    specs = load_all()
    ann = specs["sim_ann_lsh"].fn(spark, SF_SMALL)
    corpus = load_table(spark, SF_SMALL, "embeddings")
    e = corpus.withColumn(
        "bucket",
        lsh_bucket("embedding", n_planes=lsh_plane_count(corpus.count())),
    )
    buckets = {r.vec_id: r.bucket for r in e.select("vec_id", "bucket").collect()}
    rows = ann.collect()
    assert rows, "ANN should return candidates at this bucket width"
    for r in rows:
        assert buckets[r.vec_id] == buckets[r.query_id]


def test_ann_lsh_recall_floor_vs_exact_topk(spark):
    """Recall contract vs the exact top-k, mirroring sim_recall_eval
    (r11 verdict item 5 — the bucket-membership test above pins the
    pruning, not the quality). Three claims:

    1. SCORING IS EXACT: every emitted cos_sim equals the brute-force
       cosine (to the query's 5-dp rounding) — the approximation is
       the pruning, never the ranking.
    2. BUCKET-COMPLETENESS: every exact top-5 neighbor that shares the
       query's bucket MUST appear among the candidates — single-probe
       LSH's whole guarantee is "what survives the prune is ranked
       exactly", so a missing in-bucket true neighbor is a bug, not
       approximation.
    3. MEAN RECALL FLOOR: deterministic seeded hyperplanes + fixed
       fixture ⇒ recall@5 is a constant; it measures 0.12 at sf0.001
       (the fixture embeddings are near-orthogonal random vectors, so
       single-probe recall sits near bucket occupancy — the honest
       small-corpus number; multi-probe/IVF carry the high-recall
       path, see sim_recall_eval). Floor at 0.1: a scoring or
       bucketing regression collapses it toward 0.
    """
    import math

    specs = load_all()
    embs = {
        r.vec_id: r.embedding
        for r in load_table(spark, SF_SMALL, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    exact_top5 = {
        qid: {
            v
            for _, v in sorted(
                ((-cos(embs[qid], embs[v]), v) for v in embs if v != qid)
            )[:5]
        }
        for qid in range(5)
    }

    from collections import defaultdict

    cand = defaultdict(list)
    for r in specs["sim_ann_lsh"].fn(spark, SF_SMALL).collect():
        assert abs(r.cos_sim - cos(embs[r.query_id], embs[r.vec_id])) <= 5e-6, (
            r.query_id, r.vec_id,
        )
        cand[r.query_id].append((r.cos_sim, r.vec_id))

    recalls = []
    for qid in range(5):
        members = {v for _, v in cand[qid]}
        in_bucket_true = exact_top5[qid] & members
        # claim 2: candidates are ALL bucket-mates, so any true
        # neighbor in the bucket is necessarily emitted; spelled as an
        # explicit subset so a future candidate-cap can't silently
        # drop true neighbors
        assert in_bucket_true <= members
        top5 = {v for _, v in sorted(((-c, v) for c, v in cand[qid]))[:5]}
        # exact scoring ⇒ every in-bucket true neighbor must ALSO
        # out-rank non-neighbors up to ties at 5-dp rounding; allow
        # rank displacement only by candidates with cos >= its own
        for v in in_bucket_true:
            if v not in top5:
                cv = cos(embs[qid], embs[v])
                better = sum(1 for c, u in cand[qid] if c > cv + 5e-6)
                assert better >= 5, (qid, v)
        recalls.append(len(top5 & exact_top5[qid]) / 5)
    assert sum(recalls) / len(recalls) >= 0.1, recalls


def test_simhash_near_duplicates_have_close_fingerprints(spark):
    """SimHash contract: returned pairs are within the Hamming radius;
    spot-check symmetry/determinism across two runs."""
    specs = load_all()
    r1 = specs["dedup_simhash"].fn(spark, SF_SMALL).collect()
    r2 = specs["dedup_simhash"].fn(spark, SF_SMALL).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    assert all(0 <= r.hamming <= 6 for r in r1)


def test_ivf_candidates_share_cell(spark):
    """IVF contract: results exist, are deterministic, and every
    candidate belongs to the probing query's cell."""
    specs = load_all()
    r1 = specs["sim_ann_ivf"].fn(spark, SF_SMALL).collect()
    r2 = specs["sim_ann_ivf"].fn(spark, SF_SMALL).collect()
    assert r1 and [tuple(r) for r in r1] == [tuple(r) for r in r2]
    by_query = {}
    for r in r1:
        by_query.setdefault(r.query_id, set()).add(r.cell)
    for q, cells in by_query.items():
        assert len(cells) == 1, f"query {q} drew candidates from {cells}"


def test_winnow_fingerprint_deterministic_and_bounded(spark):
    specs = load_all()
    r1 = specs["text_winnow_fingerprint"].fn(spark, SF_SMALL).collect()
    r2 = specs["text_winnow_fingerprint"].fn(spark, SF_SMALL).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    assert all(0.6 <= r.fp_overlap <= 1.0 for r in r1)


def test_components_match_union_find(spark):
    """Label-propagation clustering must equal a driver-side union-find
    over the same exact Jaccard pair set (transitive-closure ground
    truth), including singleton self-labels."""
    from dataextractor_spark.operators.dedup import _jaccard_pairs

    specs = load_all()
    got = {
        r.doc_id: r.component
        for r in specs["dedup_components"].fn(spark, SF_SMALL).collect()
    }
    docs = [r.doc_id for r in load_table(spark, SF_SMALL, "documents").select("doc_id").collect()]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in _jaccard_pairs(spark, SF_SMALL, 0.95).collect():
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in docs}
    assert got == want


def test_jaccard_strategies_identical(spark):
    """The adaptive exact-join strategies (deletion-neighborhood vs
    PPJoin prefix filtering) must emit the SAME pair set with the same
    similarities — they are physical plans for one logical operator.
    At t=0.95 on this corpus auto picks deletion; force both."""
    from dataextractor_spark.operators.dedup import _jaccard_pairs

    dele = {
        tuple(r) for r in _jaccard_pairs(spark, SF_SMALL, 0.95, "deletion").collect()
    }
    pref = {
        tuple(r) for r in _jaccard_pairs(spark, SF_SMALL, 0.95, "prefix").collect()
    }
    assert dele, "corpus should contain near-dup pairs"
    assert dele == pref


def test_jaccard_auto_strategy_picks_prefix_at_low_threshold(spark):
    """At t=0.5 the sym-diff bound exceeds 1, so auto must route to the
    prefix path (deletion enumeration would be incomplete there)."""
    from dataextractor_spark.operators import dedup as D

    tok_max = 31  # corpus max distinct tokens (FIXTURES.md)
    assert int(tok_max * (1 - 0.5) / 0.5) > 1  # deletion ineligible
    df = D._jaccard_pairs(spark, SF_SMALL, 0.9, "auto")
    # t=0.9: d_max = int(31*0.111) = 3 > 1 → prefix path; result must
    # still be a superset of the t=0.95 pairs and internally consistent
    pairs95 = {
        (r.doc_a, r.doc_b)
        for r in D._jaccard_pairs(spark, SF_SMALL, 0.95, "auto").collect()
    }
    pairs90 = {(r.doc_a, r.doc_b) for r in df.collect()}
    assert pairs95 <= pairs90


def test_winnow_and_bigrams_handle_short_docs(spark):
    """Docs with fewer tokens than the k-gram/window sizes must not
    crash (sequence(1, 0) steps DOWN and slice/element_at(…, 0) throw)
    and must produce sensible output: one whole-doc fingerprint, zero
    bigrams for a 1-token doc."""
    from dataextractor_spark.operators.text import winnow_fingerprints

    d = spark.createDataFrame(
        [(1, "en", "one"), (2, "en", "two words"), (3, "en", "a b c d e f g h")],
        "doc_id long, lang string, text string",
    )
    rows = {r.doc_id: r for r in winnow_fingerprints(d).collect()}
    assert rows[1].n_fps == 1  # whole-short-doc hash
    assert rows[2].n_fps == 1
    assert rows[3].n_fps >= 1

    w = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    got = {r.doc_id: r.bg for r in d.select("doc_id", bigrams.alias("bg")).collect()}
    assert got[1] == []
    assert got[2] == ["two words"]
    assert got[3][:2] == ["a b", "b c"]


def test_neardup_bucket_count_bounds_block_rows(spark):
    """Block-matrix sizing contract: for any corpus size, the derived
    bucket count keeps every block row at ≤ NEARDUP_BLOCK_ROWS vectors
    (expected ceil(n/B)), so block-pair tasks have bounded memory."""
    import math

    from dataextractor_spark.operators.similarity import (
        NEARDUP_BLOCK_ROWS,
        neardup_bucket_count,
    )

    for n in (0, 1, 600, 6_000, 80_001, 10_000_000, 10**9):
        b = neardup_bucket_count(n)
        assert b >= 8
        assert math.ceil(max(n, 1) / b) <= NEARDUP_BLOCK_ROWS, (n, b)
    # B scales linearly with n past the floor — 100× data ⇒ ~100× B,
    # not 100× row width
    assert neardup_bucket_count(10_000_000) == 1000


def test_lsh_degenerate_bucket_capped(spark):
    """A boilerplate flood (1.5k identical docs) must NOT produce a
    quadratic bucket self-join: every band bucket exceeds
    LSH_BUCKET_CAP, so the pair join sees zero rows and the skipped
    mass is reported instead of silently dropped."""
    from dataextractor_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        minhash_lsh_pairs,
    )

    n = 1500
    assert n > LSH_BUCKET_CAP
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("the same boilerplate text repeated verbatim").alias("text"),
    )
    from dataextractor_spark.operators.dedup import _BANDS

    out = minhash_lsh_pairs(docs).collect()
    # zero pairs survive, but the out-of-band audit row does — and it
    # reports the actual skipped mass (one over-cap bucket per band,
    # each holding all n DISTINCT docs).
    assert len(out) == 1
    audit = out[0]
    assert audit.doc_a is None and audit.doc_b is None
    assert audit.skipped_buckets == _BANDS
    assert audit.skipped_docs == n


def test_lsh_cap_does_not_cost_recall_on_fixtures(spark):
    """On the real fixture corpus no bucket is near the cap, so the
    gate is a no-op there: pair sets with and without the cap match."""
    from dataextractor_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, SF_SMALL, "documents")
    capped = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(d).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(d, bucket_cap=10**9).collect()
    }
    assert capped == uncapped


def test_lsh_plane_count_tracks_corpus_size(spark):
    """Plane count k keeps expected bucket occupancy n/2^k near the
    target at every scale — the constant-bucket-size contract."""
    from dataextractor_spark.operators.similarity import (
        LSH_TARGET_BUCKET_ROWS,
        _MAX_PLANES,
        lsh_plane_count,
    )

    prev = 0
    for n in (0, 100, 1000, 10**5, 10**7, 10**9, 10**12):
        k = lsh_plane_count(n)
        assert 4 <= k <= _MAX_PLANES
        assert k >= prev  # monotone in corpus size
        prev = k
        if 2**4 < n / LSH_TARGET_BUCKET_ROWS and k < _MAX_PLANES:
            # expected occupancy within [target/2, target] when unclamped
            assert n / 2**k <= LSH_TARGET_BUCKET_ROWS
            assert n / 2 ** (k - 1) > LSH_TARGET_BUCKET_ROWS


def test_kmeans_inertia_monotone_and_deterministic(spark):
    """Lloyd's sweeps never increase inertia (each assignment and each
    mean update is individually optimal), and the whole fit — hash-
    ranked seeding, literal-codebook assignment, mean updates — is a
    pure function of the input: two fits agree bit-for-bit."""
    from dataextractor_spark.functions.kmeans import inertia, kmeans_fit

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    k = 8
    prev = float("inf")
    for sweeps in (0, 1, 2, 4):
        cb = kmeans_fit(e, k, max_iter=sweeps, id_col="vec_id")
        assert len(cb) == k  # codebook size stable (empty cells kept)
        cur = inertia(e, cb)
        assert cur <= prev + 1e-9
        prev = cur
    again = kmeans_fit(e, k, max_iter=4, id_col="vec_id")
    assert again == kmeans_fit(e, k, max_iter=4, id_col="vec_id")


def test_kmeans_ivf_candidates_share_cell(spark):
    """sim_ann_ivf_kmeans probe invariant: every candidate sits in its
    query's k-means cell (the partition-pruning contract), and cell
    count tracks the corpus size via ivf_cell_count."""
    from dataextractor_spark.functions.kmeans import (
        IVF_TARGET_CELL_ROWS,
        assign_cells,
        ivf_cell_count,
        kmeans_fit,
    )

    for n, lo, hi in ((1, 4, 4), (1000, 4, 16), (10**9, 256, 256)):
        assert lo <= ivf_cell_count(n) <= hi
        assert ivf_cell_count(n) >= min(
            4, max(n, 1)
        )  # never more cells than clamp allows

    specs = load_all()
    out = specs["sim_ann_ivf_kmeans"].fn(spark, SF_SMALL)
    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    k = ivf_cell_count(e.count(), IVF_TARGET_CELL_ROWS)
    cells = {
        r.vec_id: r.cell
        for r in assign_cells(
            e, kmeans_fit(e, k, max_iter=4, id_col="vec_id")
        ).collect()
    }
    rows = out.collect()
    assert rows, "probe returned no candidates"
    for r in rows:
        assert r.cell == cells[r.query_id]
        assert r.cell == cells[r.vec_id]


def test_two_pass_deciles_equal_global_ntile(spark):
    """The distributed two-pass ranked ntile (range partition → local
    row_number → offset) must equal the naive single-partition
    ``ntile(10) OVER (ORDER BY …)`` exactly — same tiles, same bucket
    stats — including on sizes not divisible by 10 (the ceil/floor
    tile-size split) and sub-10-row inputs (q = 0)."""
    from pyspark.sql import Window

    from dataextractor_spark.operators.windows import window_deciles

    got = [tuple(r) for r in window_deciles(spark, SF_SMALL).collect()]
    o = load_table(spark, SF_SMALL, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    want = [
        tuple(r)
        for r in (
            o.select(
                "o_totalprice", F.ntile(10).over(w).cast("long").alias("decile")
            )
            .groupBy("decile")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.min("o_totalprice"), 2).alias("lo"),
                F.round(F.max("o_totalprice"), 2).alias("hi"),
            )
            .orderBy("decile")
            .collect()
        )
    ]
    assert got == want
    assert sum(r[1] for r in got) == o.count()  # every row landed in a tile


def test_hll_sketch_union_equals_direct_sketch(spark):
    """The sketch-table contract: union of per-month sketches must give
    the SAME estimate as one sketch built directly over all rows (union
    of sketches ≡ sketch of union — what makes pre-aggregated sketch
    tables answer coarser rollups without rescanning), and the estimate
    must sit within HLL error of the exact distinct."""
    o = load_table(spark, SF_SMALL, "orders")
    merged = {
        r.o_orderstatus: r.approx_customers
        for r in load_all()["agg_hll_sketch_merge"].fn(spark, SF_SMALL).collect()
    }
    direct = {
        r.o_orderstatus: r.est
        for r in o.groupBy("o_orderstatus")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", 14)).alias("est"))
        .collect()
    }
    assert merged == direct
    exact = {
        r.o_orderstatus: r.n
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for s, est in merged.items():
        assert abs(est - exact[s]) / exact[s] < 0.02


def test_frequent_items_superset_of_exact_hitters(spark):
    """Misra–Gries guarantee: every value above the 1/k frequency
    threshold appears in the sketch output (no false negatives), AND
    the emitted counts/flags agree with the exact per-value counts —
    containment vs exact counts, not just set membership (r11 verdict
    item 5: a sketch output whose `n` column drifted from the true
    count would previously have passed)."""
    e = load_table(spark, SF_SMALL, "events")
    k = 20
    n_total = e.count()
    exact_counts = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    exact_hot = {v for v, n in exact_counts.items() if n * k > n_total}
    assert exact_hot, "fixture must contain at least one >1/k hitter"
    got = load_all()["agg_frequent_items"].fn(spark, SF_SMALL).collect()
    sketch_set = {r.event_type for r in got}
    assert exact_hot <= sketch_set
    flagged = {r.event_type for r in got if r.above_threshold}
    assert flagged == exact_hot
    for r in got:
        # the query joins the sketch items back to exact counts; each
        # emitted count must BE the exact count and each flag must be
        # exactly the n·k > n_total predicate on it
        assert r.n == exact_counts[r.event_type], r.event_type
        assert r.above_threshold == (r.n * k > n_total), r.event_type


def test_kmeans_mean_update_paths_agree(spark):
    """The wide-agg and posexplode mean updates are two physical plans
    for one logical operator: identical codebooks (up to float-merge
    noise) from the same input."""
    from dataextractor_spark.functions.kmeans import kmeans_fit

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    wide = kmeans_fit(e, 8, max_iter=2, id_col="vec_id")
    narrow = kmeans_fit(e, 8, max_iter=2, id_col="vec_id", wide_agg_max_dim=0)
    assert len(wide) == len(narrow) == 8
    for cw, cn in zip(wide, narrow):
        assert max(abs(a - b) for a, b in zip(cw, cn)) < 1e-9


def test_semantic_dedup_matches_bruteforce(spark):
    """sim_semantic_dedup ≡ the brute-force definition: recompute the
    k-means assignment, then in plain numpy prune every vector with a
    lower-id same-cell neighbor at cosine ≥ SEMDEDUP_TAU (rounded to
    5 dp like the plan does) and pick the same strongest witness.
    Also pins determinism and the kept-set-has-no-dup-pair property."""
    import numpy as np

    from dataextractor_spark.functions.kmeans import (
        assign_cells,
        ivf_cell_count,
        kmeans_fit,
    )
    from dataextractor_spark.operators.similarity import SEMDEDUP_TAU

    specs = load_all()
    out = specs["sim_semantic_dedup"].fn(spark, SF_SMALL).collect()
    out_again = specs["sim_semantic_dedup"].fn(spark, SF_SMALL).collect()
    assert out == out_again  # learned codebook is deterministic

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    k = ivf_cell_count(e.count())
    cb = kmeans_fit(e, k, max_iter=4, id_col="vec_id")
    rows = assign_cells(e, cb).collect()
    ids = np.array([r.vec_id for r in rows])
    cells = np.array([r.cell for r in rows])
    vecs = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, cells, vecs = ids[order], cells[order], vecs[order]

    expected = {}  # vec_id -> (cell, dup_of, cos_sim)
    for c in np.unique(cells):
        m = cells == c
        cid, cv = ids[m], vecs[m]
        norm = np.linalg.norm(cv, axis=1)
        cos = np.round((cv @ cv.T) / np.outer(norm, norm), 5)
        for j in range(len(cid)):
            best = None
            for i in range(j):  # lower-id candidates only (ids sorted)
                if cos[i, j] >= SEMDEDUP_TAU:
                    key = (-cos[i, j], cid[i])
                    if best is None or key < best[0]:
                        best = (key, (int(c), int(cid[i]), float(cos[i, j])))
            if best is not None:
                expected[int(cid[j])] = best[1]

    got = {r.vec_id: (r.cell, r.dup_of, r.cos_sim) for r in out}
    assert got == expected
    assert expected, "fixture corpus should contain semantic duplicates"

    # kept set contains no within-cell pair at/above the threshold
    pruned = set(got)
    for c in np.unique(cells):
        m = cells == c
        cid, cv = ids[m], vecs[m]
        keep = np.array([i not in pruned for i in cid])
        if keep.sum() < 2:
            continue
        kv, kn = cv[keep], np.linalg.norm(cv[keep], axis=1)
        cos = np.round((kv @ kv.T) / np.outer(kn, kn), 5)
        np.fill_diagonal(cos, 0.0)
        assert cos.max() < SEMDEDUP_TAU


def test_assign_cells_paths_agree(spark):
    """The literal-expression and Arrow-batched numpy assignment paths
    produce the identical cell for every fixture vector (same distance
    minimizer, same low-index tiebreak), and 'auto' picks the literal
    path below ASSIGN_LITERAL_MAX_KD and the pandas path above it."""
    from dataextractor_spark.functions.kmeans import (
        ASSIGN_LITERAL_MAX_KD,
        assign_cells,
        ivf_cell_count,
        kmeans_fit,
    )

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    k = ivf_cell_count(e.count())
    cb = kmeans_fit(e, k, max_iter=2, id_col="vec_id")
    lit = {
        r.vec_id: r.cell
        for r in assign_cells(e, cb, method="literal").collect()
    }
    pan = {
        r.vec_id: r.cell
        for r in assign_cells(e, cb, method="pandas").collect()
    }
    assert lit == pan
    kd = len(cb) * len(cb[0])
    auto_is_literal = kd <= ASSIGN_LITERAL_MAX_KD
    # auto must agree with whichever path it selects (and both agree)
    auto = {r.vec_id: r.cell for r in assign_cells(e, cb).collect()}
    assert auto == (lit if auto_is_literal else pan)


def test_zorder_buckets_narrow_on_both_dims(spark):
    """The data-skipping property z-order exists for: with 16 buckets
    (2 z-bits per dimension) every bucket's min/max span is ~¼ of the
    domain on BOTH keys simultaneously — so footer-range pruning works
    for predicates on either key. A single-key sort gives this on one
    key and full-domain spans on the other."""
    specs = load_all()
    out = specs["etl_zorder_layout"].fn(spark, SF_SMALL).collect()
    assert len(out) == 16
    li = load_table(spark, SF_SMALL, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).first()
    for r in out:
        assert (r.p_max - r.p_min) <= 0.30 * mx.p
        assert (r.s_max - r.s_min) <= 0.30 * mx.s


def test_ivfpq_adc_matches_reconstruction(spark):
    """sim_ivfpq_search contracts: every candidate shares its query's
    coarse cell; each reported adc_dist equals the plain-Python
    L2²(query residual, PQ reconstruction of the candidate residual);
    and the index build is deterministic end-to-end."""
    import numpy as np

    from dataextractor_spark.functions.kmeans import (
        assign_cells,
        ivf_cell_count,
        kmeans_fit,
    )
    from dataextractor_spark.functions.pq import pq_fit

    specs = load_all()
    out = specs["sim_ivfpq_search"].fn(spark, SF_SMALL).collect()
    assert out and out == specs["sim_ivfpq_search"].fn(spark, SF_SMALL).collect()

    e = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    k = ivf_cell_count(e.count())
    coarse = kmeans_fit(e, k, max_iter=4, id_col="vec_id")
    cb = np.asarray(coarse)
    rows = assign_cells(e, coarse).collect()
    cells = {r.vec_id: r.cell for r in rows}
    resid = {
        r.vec_id: np.asarray(list(r.embedding), dtype=np.float64) - cb[r.cell]
        for r in rows
    }
    resid_df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in sorted(resid.items())],
        "vec_id BIGINT, residual ARRAY<DOUBLE>",
    )
    books = pq_fit(resid_df, m=4, ksub=16, dim=64, max_iter=2, vec_col="residual")
    bks = [np.asarray(b) for b in books]
    ds = 64 // 4

    def recon(v):
        r = resid[v]
        parts = []
        for j, bk in enumerate(bks):
            sub = r[j * ds : (j + 1) * ds]
            code = int(np.argmin(((bk - sub) ** 2).sum(axis=1)))
            parts.append(bk[code])
        return np.concatenate(parts)

    for r in out:
        assert cells[r.vec_id] == cells[r.query_id] == r.cell
        expect = float(((resid[r.query_id] - recon(r.vec_id)) ** 2).sum())
        assert abs(r.adc_dist - expect) < 1e-4, (r, expect)


def test_recall_eval_identity_and_monotonicity(spark):
    """sim_recall_eval contract: every reported (n_candidates, n_hits,
    recall) equals a plain-Python recomputation from the corpus
    (buckets + Hamming-1 probes + cosine ranking), and multi-probe
    dominates single-probe on candidates and hits."""
    import math
    from collections import defaultdict

    from dataextractor_spark.operators.similarity import (
        lsh_bucket,
        lsh_plane_count,
    )

    specs = load_all()
    out = {
        (r.query_id, r.probe_level): r
        for r in specs["sim_recall_eval"].fn(spark, SF_SMALL).collect()
    }
    exact = defaultdict(set)
    for r in specs["sim_knn_batch"].fn(spark, SF_SMALL).collect():
        exact[r.query_id].add(r.vec_id)
    corpus = load_table(spark, SF_SMALL, "embeddings")
    n_planes = lsh_plane_count(corpus.count())
    e = corpus.withColumn(
        "bucket", lsh_bucket("embedding", n_planes=n_planes)
    )
    rows = e.select("vec_id", "bucket", "embedding").collect()
    buckets = {r.vec_id: r.bucket for r in rows}
    embs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def cos(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(y * y for y in b))
        return round(num / (da * db), 5)

    for qid in exact:
        for lvl in (0, 1):
            probe = {buckets[qid]}
            if lvl:
                probe |= {buckets[qid] ^ (1 << i) for i in range(n_planes)}
            cands = [
                v for v, b in buckets.items() if b in probe and v != qid
            ]
            r = out[(qid, lvl)]
            assert r.n_candidates == len(cands)
            top = sorted(
                cands, key=lambda v: (-cos(embs[qid], embs[v]), v)
            )[:5]
            hits = len(set(top) & exact[qid])
            assert r.n_hits == hits, (qid, lvl)
            assert abs(r.recall_at_5 - hits / 5) < 1e-9
        assert out[(qid, 1)].n_candidates >= out[(qid, 0)].n_candidates
        assert out[(qid, 1)].n_hits >= out[(qid, 0)].n_hits


def test_hll_intersection_error_bounded(spark):
    """Sketch set-algebra contract: the inclusion-exclusion overlap
    estimate stays within 5% relative of the exact distinct-key
    intersection (compounded error of three HLL estimates), the
    per-set estimates est_a/est_b stay within 2% of the exact per-year
    distinct counts (raw HLL-at-lgK=14 accuracy, recomputed here —
    the query drops its internal exact_n columns), and the overlap
    check is provably non-vacuous (r11 verdict item 5: previously an
    all-zero exact_intersection column would have passed)."""
    specs = load_all()
    rows = specs["agg_hll_intersection"].fn(spark, SF_SMALL).collect()
    assert rows
    o = load_table(spark, SF_SMALL, "orders")
    exact_by_year = {
        r.yr: r.n
        for r in o.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    # r12: the exact branch was rewritten onto one distinct
    # (yr, custkey) pass — pin its integers against a direct
    # set-intersection recomputation, not just the ≥0 contract
    year_sets: dict[int, set] = {}
    for r in o.select(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    ).collect():
        year_sets.setdefault(r.yr, set()).add(r.o_custkey)
    nonzero = 0
    for r in rows:
        assert abs(r.est_a - exact_by_year[r.yr_a]) <= 0.02 * exact_by_year[r.yr_a]
        assert abs(r.est_b - exact_by_year[r.yr_b]) <= 0.02 * exact_by_year[r.yr_b]
        want = len(
            year_sets.get(r.yr_a, set()) & year_sets.get(r.yr_b, set())
        )
        assert r.exact_intersection == want, (r.yr_a, r.exact_intersection, want)
        if r.exact_intersection == 0:
            continue
        nonzero += 1
        rel = abs(r.est_intersection - r.exact_intersection) / max(
            r.exact_intersection, 1
        )
        assert rel <= 0.05, (r.yr_a, rel)
    assert nonzero > 0, "fixture must exercise a non-empty intersection"


def test_builtin_moments_match_power_sum_formula(spark):
    """Spark's streaming skewness()/kurtosis() equal the power-sum
    formulation agg_higher_moments oracles, to 1e-9 — certifying the
    builtins by proxy on well-conditioned integer data."""
    from pyspark.sql import functions as F

    p = load_table(spark, SF_SMALL, "part")
    builtin = {
        r.p_type: (r.sk, r.ku)
        for r in p.groupBy("p_type")
        .agg(
            F.skewness(F.col("p_size").cast("double")).alias("sk"),
            F.kurtosis(F.col("p_size").cast("double")).alias("ku"),
        )
        .collect()
    }
    ours = {
        r.p_type: (r.skewness, r.kurtosis_excess)
        for r in load_all()["agg_higher_moments"].fn(spark, SF_SMALL).collect()
    }
    assert set(builtin) == set(ours)
    for t in ours:
        assert abs(builtin[t][0] - ours[t][0]) < 1e-6
        assert abs(builtin[t][1] - ours[t][1]) < 1e-6


def test_mmr_matches_reference_greedy_and_diversifies(spark):
    """sim_mmr_diversify == an independent driver-side numpy greedy
    on the same candidates, and the MMR set is no more redundant than
    the plain top-k set (that's the operator's reason to exist)."""
    import numpy as np

    from dataextractor_spark.operators.similarity import (
        MMR_CANDIDATES,
        MMR_K,
        MMR_LAMBDA,
    )

    specs = load_all()
    got = {
        (r.query_id, r.mmr_rank): r.vec_id
        for r in specs["sim_mmr_diversify"].fn(spark, SF_SMALL).collect()
    }

    e = load_table(spark, SF_SMALL, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in e}

    def unit(v):
        n = np.linalg.norm(v)
        return v / n if n else v

    mean_pair_sims = []
    for qid in range(5):
        qv = unit(vecs[qid])
        sims = sorted(
            ((float(unit(v) @ qv), vid) for vid, v in vecs.items()
             if vid != qid),
            key=lambda t: (-round(t[0], 12), t[1]),
        )
        # reference candidates: same top-N, same (sim desc, id) order
        cand = sims[:MMR_CANDIDATES]
        remaining = list(cand)
        selected = []
        while remaining and len(selected) < MMR_K:
            best = None
            for s, vid in remaining:
                red = max(
                    (float(unit(vecs[vid]) @ unit(vecs[svid]))
                     for _, svid in selected),
                    default=0.0,
                )
                score = MMR_LAMBDA * s - (1 - MMR_LAMBDA) * red
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, (s, vid))
            selected.append(best[1])
            remaining.remove(best[1])
        for rk, (_, vid) in enumerate(selected, start=1):
            assert got[(qid, rk)] == vid, (qid, rk, got[(qid, rk)], vid)

        def mean_pairwise(idset):
            us = [unit(vecs[v]) for v in idset]
            ps = [us[i] @ us[j] for i in range(len(us))
                  for j in range(i + 1, len(us))]
            return float(np.mean(ps))

        topk_ids = [vid for _, vid in cand[:MMR_K]]
        mmr_ids = [vid for _, vid in selected]
        mean_pair_sims.append(
            (mean_pairwise(mmr_ids), mean_pairwise(topk_ids))
        )
    # across the query batch, MMR strictly reduces (or at worst ties)
    # average within-set redundancy
    assert all(m <= t + 1e-9 for m, t in mean_pair_sims)
    assert any(m < t - 1e-9 for m, t in mean_pair_sims)


def test_sliding_distinct_hll_tracks_exact(spark):
    """time_sliding_distinct_hll (per-day sketches unioned over the
    window) must stay within 3% of time_sliding_distinct_users'
    exact counts on every window day — the accuracy contract that
    licenses swapping the exact plan for the sketch plan at scale."""
    specs = load_all()
    exact = {
        r.day: r.active_users_7d
        for r in specs["time_sliding_distinct_users"].fn(spark, SF_SMALL).collect()
    }
    est = {
        r.day: r.active_users_7d_est
        for r in specs["time_sliding_distinct_hll"].fn(spark, SF_SMALL).collect()
    }
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(1, 0.03 * n), (day, n, est[day])


def test_gini_bounds_and_degenerate_equality(spark):
    """Gini contract: 0 ≤ G < 1 on real data, and an equal-revenue
    synthetic distribution scores EXACTLY 0 (the rank identity's
    closed-form check); top-decile share is always ≥ 0.1·n/n ≈ its
    uniform floor and ≤ 1."""
    specs = load_all()
    rows = specs["agg_gini_concentration"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0, r
        assert 0.0 < r.top_decile_share <= 1.0, r
        # top decile of customers must hold at least its uniform share
        assert r.top_decile_share >= 0.1 - 1.0 / r.n_customers, r
    # degenerate: every "customer" equal revenue → Gini exactly 0
    df = spark.range(100).select(
        F.lit("S").alias("segment"),
        F.lit(500).alias("rev_cents"),
        F.col("id").alias("o_custkey"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("segment").orderBy("rev_cents", "o_custkey")
    ranked = df.select(
        "segment",
        "rev_cents",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("segment")).cast("long").alias("n"),
    )
    g = ranked.groupBy("segment").agg(
        (
            (
                F.lit(2.0) * F.sum(F.col("i") * F.col("rev_cents"))
                - (F.max("n") + F.lit(1.0)) * F.sum("rev_cents")
            )
            / (F.max("n").cast("double") * F.sum("rev_cents"))
        ).alias("gini")
    ).first()
    assert abs(g.gini) < 1e-12


def test_km_survival_is_monotone_decreasing(spark):
    """Kaplan-Meier contract: within a segment, survival is
    non-increasing in duration and confined to [0, 1]; the risk set
    shrinks monotonically."""
    rows = load_all()["agg_survival_km"].fn(spark, SF_SMALL).collect()
    assert rows
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r.segment, []).append(r)
    for seg, rs in by_seg.items():
        rs.sort(key=lambda r: r.duration_days)
        last_s, last_n = 1.0 + 1e-9, None
        for r in rs:
            assert 0.0 <= r.survival <= last_s + 1e-9, (seg, r)
            if last_n is not None:
                assert r.n_at_risk <= last_n, (seg, r)
            last_s, last_n = r.survival, r.n_at_risk


def test_funnel_counts_are_monotone(spark):
    """Funnel contract: each ordered step can only lose users, and
    rates sit in (0, 1]."""
    r = load_all()["funnel_conversion"].fn(spark, SF_SMALL).first()
    assert r.n_view >= r.n_click >= r.n_purchase >= 0
    assert 0.0 <= r.rate_click <= 1.0 and 0.0 <= r.rate_purchase <= 1.0


def test_hhi_bounds_and_top_share_consistency(spark):
    """HHI contract: 10000/n ≤ HHI ≤ 10000 (uniform floor, monopoly
    ceiling), and HHI ≥ 10000·top_share² (the largest share alone
    contributes that much)."""
    rows = load_all()["agg_hhi_concentration"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 10000.0 / r.n_suppliers - 1e-6 <= r.hhi <= 10000.0 + 1e-6, r
        assert r.hhi >= 10000.0 * r.top_share**2 - 1e-4, r


def test_markov_rows_sum_to_one(spark):
    """Transition-matrix contract: outgoing probabilities per prev
    state sum to 1 (up to the 6-dp rounding of each term)."""
    rows = load_all()["time_markov_transitions"].fn(spark, SF_SMALL).collect()
    assert rows
    sums: dict = {}
    for r in rows:
        sums[r.prev_type] = sums.get(r.prev_type, 0.0) + r.p_trans
    for prev, s in sums.items():
        assert abs(s - 1.0) < 1e-4, (prev, s)


def test_bootstrap_ci_brackets_mean(spark):
    """Bootstrap contract: ci_lo ≤ mean ≤ ci_hi and se > 0 (the mean
    of the full sample sits inside its own percentile CI on any
    non-degenerate fixture)."""
    r = load_all()["sample_bootstrap_ci"].fn(spark, SF_SMALL).first()
    assert r.ci_lo <= r.mean <= r.ci_hi, r
    assert r.boot_se > 0


def test_interval_coverage_invariants(spark):
    """Islands contract: covered_days ≤ span_days, n_islands ≤
    n_intervals, and coverage(single-island supplier) == span."""
    rows = load_all()["time_interval_coverage"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.covered_days <= r.span_days, r
        assert 1 <= r.n_islands <= r.n_intervals, r
        if r.n_islands == 1:
            assert r.covered_days == r.span_days, r


def test_vacuum_plan_partitions_full_and_anchored(spark):
    """Retention contract: fates partition the listing exactly, and
    every partition with any pre-horizon file keeps EXACTLY ONE
    anchor (the horizon-read guarantee)."""
    rows = load_all()["etl_vacuum_retention_plan"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_retained + r.n_anchor + r.n_expired == r.n_files, r
        assert r.n_anchor in (0, 1), r
        if r.n_expired > 0:
            assert r.n_anchor == 1, r


def test_basket_affinity_metrics_consistent(spark):
    """Association-rule contracts: support ≤ confidence ≤ 1, lift > 0,
    co-occurrence count respects the min-support prune, and lift is
    internally consistent with support/confidence up to rounding."""
    rows = load_all()["join_basket_affinity"].fn(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r.n_cooccur >= 3, r
        assert 0.0 < r.support <= r.confidence_a_b <= 1.0, r
        assert r.lift > 0, r
        assert r.pa < r.pb, r


def test_forecast_backtest_metrics_bounded(spark):
    """Backtest contracts: WAPE ≥ |bias| (triangle inequality on the
    same denominator), MAE ≥ 0, and every series evaluates ≥1 day."""
    rows = load_all()["time_forecast_backtest"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_eval >= 1, r
        assert r.wape >= abs(r.bias) - 1e-9, r
        assert r.mae >= 0, r


def test_new_vs_returning_accounting_identity(spark):
    """Growth-accounting identities: active = new + returning on every
    day, cum_unique is non-decreasing, and its final value equals the
    total distinct user count."""
    rows = (
        load_all()["time_new_vs_returning"].fn(spark, SF_SMALL).collect()
    )
    assert rows
    prev = 0
    for r in rows:  # already day-ordered
        assert r.n_active == r.n_new + r.n_returning, r
        assert r.cum_unique_users >= prev, r
        prev = r.cum_unique_users
    from dataextractor_spark.catalog import load_table as _lt

    n_users = _lt(spark, SF_SMALL, "events").select("user_id").distinct().count()
    assert prev == n_users


def test_cdc_apply_state_consistent(spark):
    """CDC contracts: every key appears once, deletes ≤ changes, and
    is_live agrees with last_op."""
    rows = load_all()["join_cdc_apply"].fn(spark, SF_SMALL).collect()
    keys = [r.user_id for r in rows]
    assert len(keys) == len(set(keys)) > 0
    for r in rows:
        assert 0 <= r.n_deletes <= r.n_changes, r
        assert r.is_live == (r.last_op != "D"), r


def test_skyline_is_mutually_nondominated(spark):
    """Skyline contract: within a brand, no returned point dominates
    another (price ≤ AND size ≥ with strictness in one)."""
    rows = load_all()["agg_skyline_pareto"].fn(spark, SF_SMALL).collect()
    assert rows
    by_brand: dict = {}
    for r in rows:
        by_brand.setdefault(r.p_brand, []).append(r)
    for brand, rs in by_brand.items():
        for a in rs:
            for b in rs:
                if a.p_partkey == b.p_partkey:
                    continue
                dominates = (
                    a.retailprice <= b.retailprice
                    and a.p_size >= b.p_size
                    and (a.retailprice < b.retailprice or a.p_size > b.p_size)
                )
                assert not dominates, (brand, a, b)


def test_inherent_cost_leaders_scale_slope(spark):
    """Pin the SCALING SLOPE of the two inherent-cost bench leaders so
    a plan regression (a lost broadcast, an accidental all-pairs join)
    surfaces as a slope break instead of an opinion: wall-clock each at
    sf0.01 and sf0.1 (10x the data) and assert the ratio stays inside
    the plan's predicted envelope — triangle counting's wedge volume
    grows ~ m^1.5 (10x data -> <= ~31.6x work), IVF+PQ search grows
    ~ linearly in n (<= 10x). Fixed per-query overhead (planning,
    k-means codebook sweeps, shuffle setup) only SHRINKS the measured
    ratio as data grows, so the one-sided envelope (slope bound x2
    noise headroom, denominator floored at 0.75 s so a fast small run
    can't inflate the ratio) is safe for a correct plan and broken by
    any super-slope one: an O(m^2) triangle plan or an all-pairs ADC
    scan lands 1-2 orders of magnitude outside it."""
    import os
    import time

    import pytest as _pytest

    sf_mid, sf_big = "/root/testdata/sf0.01", "/root/testdata/sf0.1"
    if not (os.path.isdir(sf_mid) and os.path.isdir(sf_big)):
        _pytest.skip("sf0.01/sf0.1 fixtures not present")

    def wall(name: str, sf: str) -> float:
        fn = load_all()[name].fn
        t0 = time.monotonic()
        fn(spark, sf).count()
        return time.monotonic() - t0

    for name, slope_bound in [
        ("graph_triangle_count", 10.0**1.5),
        ("sim_ivfpq_search", 10.0),
    ]:
        wall(name, sf_mid)  # warm: caches the mid-scale scan + plans
        t_mid = min(wall(name, sf_mid), wall(name, sf_mid))
        t_big = wall(name, sf_big)
        ratio = t_big / max(t_mid, 0.75)
        assert ratio <= 2.0 * slope_bound, (
            f"{name}: sf0.1/sf0.01 wall-clock ratio {ratio:.1f} "
            f"exceeds 2x the plan's predicted slope {slope_bound:.1f} "
            f"(t_mid={t_mid:.2f}s, t_big={t_big:.2f}s) — the physical "
            "plan has likely regressed to a super-slope strategy"
        )


def test_label_propagation_is_valid_partition(spark):
    """LPA contract: the reported communities are disjoint, node
    counts sum to supplier+part membership, every community label is
    one of its member node ids (labels only ever copy existing ids),
    and intra_edges never exceeds what its degree mass allows."""
    rows = load_all()["graph_label_propagation"].fn(spark, SF_SMALL).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.community not in seen
        seen.add(r.community)
        assert r.n_nodes == r.n_suppliers + r.n_parts, r
        assert 0 <= r.intra_edges <= r.degree_sum // 2, r
        assert -1.0 <= r.modularity_term <= 1.0, r
    sizes = [r.n_nodes for r in rows]
    assert sizes == sorted(sizes, reverse=True)


def test_link_prediction_candidates_verified(spark):
    """Link-prediction contract: every returned pair is cross-brand,
    counts/Jaccard are consistent (0 < jaccard <= 1, cn >= 1), and
    the common-supplier count is EXACT for the truncated index —
    re-verified against an independent recount for the top pair."""
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.graph_ops import _LP_R

    rows = load_all()["graph_link_prediction"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.brand_a != r.brand_b, r
        assert r.n_common_suppliers >= 1, r
        assert 0.0 < r.jaccard <= 1.0, r
    top = rows[0]
    li = load_table(spark, SF_SMALL, "lineitem")
    pairs = li.select("l_suppkey", "l_partkey").distinct()
    pdeg = pairs.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("pd"))
    from pyspark.sql import Window as W

    kept = (
        pairs.join(pdeg, "l_partkey")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("l_suppkey").orderBy("pd", "l_partkey")
            ),
        )
        .filter(F.col("rn") <= _LP_R)
    )
    sa = {
        r.l_suppkey
        for r in kept.filter(F.col("l_partkey") == top.part_a).collect()
    }
    sb = {
        r.l_suppkey
        for r in kept.filter(F.col("l_partkey") == top.part_b).collect()
    }
    assert len(sa & sb) == top.n_common_suppliers


def test_cuped_reduces_or_keeps_variance(spark):
    """CUPED contracts: rho2 in [0,1]; arm sizes positive; the
    adjustment identity adjusted = raw - theta*(x_t - x_c) holds when
    recomputed from an independent pass."""
    r = load_all()["ab_cuped_adjustment"].fn(spark, SF_SMALL).first()
    assert r.n_treat > 0 and r.n_ctrl > 0
    assert 0.0 <= r.rho2 <= 1.0
    # independent recomputation of the adjustment identity
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.statistics import _CUPED_CUT

    o = load_table(spark, SF_SMALL, "orders")
    t = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("t:"), F.col("o_custkey").cast("string"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    dollars = F.round(F.col("o_totalprice")).cast("long")
    pre = F.col("o_orderdate") < F.lit(_CUPED_CUT).cast("date")
    cust = o.groupBy("o_custkey").agg(
        F.max(t).alias("t"),
        F.sum(F.when(pre, dollars).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(~pre, dollars).otherwise(F.lit(0))).alias("y"),
    )
    import math

    rows = cust.collect()
    yt = [r2.y for r2 in rows if r2.t == 1]
    yc = [r2.y for r2 in rows if r2.t == 0]
    xt = [r2.x for r2 in rows if r2.t == 1]
    xc = [r2.x for r2 in rows if r2.t == 0]
    raw = sum(yt) / len(yt) - sum(yc) / len(yc)
    dx = sum(xt) / len(xt) - sum(xc) / len(xc)
    assert math.isclose(r.raw_diff, raw, rel_tol=0, abs_tol=5e-7)
    # theta/adjusted use the parity-safe single-pass moments whose
    # sx*sy product exceeds 2^53 -> ~1e-5 relative double rounding vs
    # this exact-integer recomputation (documented in the docstring);
    # the tolerance covers that, not a logic difference
    assert math.isclose(
        r.adjusted_diff, raw - r.theta * dx, rel_tol=1e-4
    )


def test_anova_sums_of_squares_decompose(spark):
    """ANOVA contracts: SSB + SSW = SST (within rounding), F >= 0,
    eta^2 in [0,1], per-level means bracket the grand mean."""
    r = load_all()["stats_anova_oneway"].fn(spark, SF_SMALL).first()
    assert r.f_stat >= 0.0
    assert 0.0 <= r.eta_squared <= 1.0
    means = [r.mean_p1, r.mean_p2, r.mean_p3, r.mean_p4, r.mean_p5]
    assert min(means) <= r.ss_between / max(r.ss_between, 1) * min(means) + max(
        means
    )  # trivial sanity on presence
    assert r.ss_between >= 0 and r.ss_within >= 0
    # eta^2 == SSB / (SSB + SSW) re-derived from the reported pieces
    import math

    assert math.isclose(
        r.eta_squared,
        r.ss_between / (r.ss_between + r.ss_within),
        rel_tol=1e-4,
    )


def test_partition_skew_audit_invariants(spark):
    """Skew-audit contracts: max >= median >= min, skew factor >= 1,
    small-partition count < n_partitions, recommended files >=
    n_partitions (every partition needs at least one file)."""
    r = load_all()["etl_partition_skew_audit"].fn(spark, SF_SMALL).first()
    assert r.max_rows >= r.median_rows >= r.min_rows > 0
    assert r.skew_factor >= 1.0
    assert 0 <= r.n_small_partitions < r.n_partitions
    assert r.recommended_files >= r.n_partitions
    assert r.est_bytes == r.total_rows * 112


def test_dsir_selects_target_domain(spark):
    """DSIR contract: the keep-if-weight>1 rule must ENRICH the target
    distribution — the target-doc share among selected docs exceeds
    the target share of the raw pool (that enrichment is the method's
    whole point), and rates/averages are internally consistent."""
    rows = load_all()["text_dsir_importance"].fn(spark, SF_SMALL).collect()
    assert rows
    n = sum(r.n_docs for r in rows)
    n_sel = sum(r.n_selected for r in rows)
    n_t = sum(r.n_target for r in rows)
    n_t_sel = sum(r.n_target_selected for r in rows)
    assert 0 < n_sel < n
    assert n_t_sel / n_sel > n_t / n, (n_t_sel, n_sel, n_t, n)
    for r in rows:
        assert 0 <= r.n_target_selected <= min(r.n_target, r.n_selected), r
        assert abs(r.sel_rate - r.n_selected / r.n_docs) < 1e-6, r


def test_warc_parser_roundtrip_and_corruption(spark):
    """WARC codec contracts: a hand-built multi-record archive parses
    back byte-exactly (including payloads containing CRLF and WARC-
    lookalike bytes — Content-Length framing, not delimiters), and
    corruption raises instead of under-counting."""
    import hashlib

    import pytest as _pytest

    from dataextractor_spark.operators.multimodal import (
        _parse_warc,
        _warc_record,
    )

    payloads = {
        7: b"plain text",
        8: b"tricky\r\n\r\nWARC/1.0\r\nnested lookalike",
        9: bytes(range(256)),
    }
    blob = b"".join(_warc_record(k, v) for k, v in payloads.items())
    got = _parse_warc(blob)
    assert [(d, n) for d, n, _ in got] == [
        (k, len(v)) for k, v in payloads.items()
    ]
    for (d, _, md5hex), (k, v) in zip(got, payloads.items()):
        assert md5hex == hashlib.md5(v).hexdigest()
    with _pytest.raises(ValueError):
        _parse_warc(blob[:-2])  # truncated terminator
    with _pytest.raises(ValueError):
        _parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")  # not a WARC record


def test_embedding_drift_null_case_behaves(spark):
    """Drift-monitor contracts: with both snapshots drawn from the
    SAME distribution (vec_id parity split), few dims should cross
    the 5% shift bar and PSI stays near 0 — plus internal
    consistency (mean shift <= max shift, dim index in range)."""
    r = load_all()["sim_embedding_drift"].fn(spark, SF_SMALL).first()
    assert r.n_a > 0 and r.n_b > 0
    assert r.n_dims == 64
    assert 0 <= r.n_dims_shifted <= r.n_dims
    # same-distribution split: no more than half the dims "drift"
    assert r.n_dims_shifted <= r.n_dims // 2, r
    assert 0.0 <= r.mean_abs_rate_shift <= r.max_shift_rate <= 1.0
    assert 0 <= r.max_shift_dim < r.n_dims
    assert 0.0 <= r.psi_label < 0.5, r


def test_quality_threshold_sweep_is_monotone(spark):
    """Calibration-table contracts: keep counts and token mass are
    non-increasing in the threshold, threshold 0 keeps everything,
    and fractions are consistent with counts."""
    rows = (
        load_all()["text_quality_threshold_sweep"].fn(spark, SF_SMALL).collect()
    )
    assert [r.threshold for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0].kept_frac == 1.0 and rows[0].token_frac == 1.0
    for a, b in zip(rows, rows[1:]):
        assert a.n_kept >= b.n_kept
        assert a.kept_tokens >= b.kept_tokens
    assert rows[-1].n_kept < rows[0].n_kept  # the gate actually bites


def test_kcore_peeling_shrinks_and_bounds_degrees(spark):
    """k-core contracts: node/edge counts shrink monotonically per
    sweep, and after the final sweep every surviving node's degree in
    the surviving subgraph meets the bound ONLY once peeling has
    converged — so instead assert the recomputed degree bound holds
    for the fixpoint-check: no node removed in a hypothetical 4th
    peel would violate monotonicity (i.e. sweep-3 stats equal the
    stats of one more peel, or shrink further)."""
    from dataextractor_spark.operators.graph_ops import _KCORE_K

    rows = load_all()["graph_kcore_decomposition"].fn(spark, SF_SMALL).collect()
    assert [r.sweep for r in rows] == [0, 1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert a.n_edges >= b.n_edges
        assert a.n_suppliers >= b.n_suppliers
        assert a.n_parts >= b.n_parts
    assert rows[1].n_edges < rows[0].n_edges  # K actually bites
    # rebuild the sweep-3 subgraph independently and check the bound
    from dataextractor_spark.catalog import load_table

    edges = (
        load_table(spark, SF_SMALL, "lineitem")
        .select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    cur = edges
    for _ in range(3):
        ds = (
            cur.groupBy("src").count().filter(F.col("count") >= _KCORE_K).select("src")
        )
        dd = (
            cur.groupBy("dst").count().filter(F.col("count") >= _KCORE_K).select("dst")
        )
        cur = cur.join(ds, "src").join(dd, "dst")
    assert cur.count() == rows[3].n_edges


def test_funnel_latency_reconciles_with_funnel(spark):
    """Latency contracts: step counts equal funnel_conversion's
    (same gating), percentiles are ordered p50 <= p90, and every
    latency stat is positive (strictly-after gating)."""
    lat = load_all()["funnel_step_latency"].fn(spark, SF_SMALL).first()
    fun = load_all()["funnel_conversion"].fn(spark, SF_SMALL).first()
    assert lat.n_vc == fun.n_click and lat.n_cp == fun.n_purchase
    assert 0 < lat.p50_view_to_click_s <= lat.p90_view_to_click_s
    assert 0 < lat.p50_click_to_buy_s <= lat.p90_click_to_buy_s
    assert lat.avg_view_to_click_s > 0 and lat.avg_click_to_buy_s > 0


def test_position_weighted_credit_conserves_value(spark):
    """Attribution contracts: credit shares sum to 1, every channel's
    credit is positive, and total credited units equal total purchase
    cents*1000 within the documented <=0.5 milli-cent/touch floor
    loss."""
    from dataextractor_spark.catalog import load_table

    rows = load_all()["attr_position_weighted"].fn(spark, SF_SMALL).collect()
    assert rows
    assert abs(sum(r.credit_share for r in rows) - 1.0) < 1e-4
    total_u = sum(r.credit_units for r in rows)
    n_touches = sum(r.n_credited_touches for r in rows)
    e = load_table(spark, SF_SMALL, "events")
    cents = (
        e.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")))
        .first()[0]
    )
    assert abs(total_u - cents * 1000) <= n_touches, (total_u, cents)


def test_concurrency_peak_matches_bruteforce(spark):
    """Interval-stabbing contract: the running-sum concurrency at the
    reported global peak day equals a brute-force recount of spans
    open at that day's end (t0 <= d < t1 on day granularity)."""
    from dataextractor_spark.catalog import load_table

    rows = load_all()["time_concurrency_peak"].fn(spark, SF_SMALL).collect()
    assert rows
    best = max(rows, key=lambda r: r.peak_open)
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    d = F.lit(best.peak_day).cast("timestamp")
    n = (
        li.join(o, "l_orderkey")
        .filter(
            (F.date_trunc("day", "o_orderdate") <= d)
            & (F.date_trunc("day", "l_shipdate") > d)
            & (
                F.date_trunc("day", "l_shipdate")
                > F.date_trunc("day", "o_orderdate")
            )
        )
        .count()
    )
    assert n == best.peak_open, (n, best)


def test_welch_ttest_matches_bruteforce(spark):
    """Welch contracts re-derived from raw rows: exact means, t and
    Satterthwaite df recomputed with naive Python sums."""
    import math

    r = load_all()["stats_ttest_welch"].fn(spark, SF_SMALL).first()
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_orderpriority AS p",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .collect()
    )
    a = [x.v for x in rows if x.p == "1-URGENT"]
    b = [x.v for x in rows if x.p == "5-LOW"]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
    se2 = va / len(a) + vb / len(b)
    t = (ma - mb) / math.sqrt(se2)
    df = se2 * se2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert r.n_urgent == len(a) and r.n_low == len(b)
    assert math.isclose(r.mean_diff, ma - mb, rel_tol=0, abs_tol=5e-6)
    assert math.isclose(r.t_stat, t, rel_tol=1e-6)
    assert math.isclose(r.df_welch, df, rel_tol=1e-6)
    # Satterthwaite df is bracketed by min(n)-1 and n1+n2-2
    assert min(len(a), len(b)) - 1 <= r.df_welch <= len(a) + len(b) - 2


def test_mann_whitney_matches_bruteforce(spark):
    """U and tie-corrected z recomputed from a naive average-rank
    assignment over the raw rows."""
    import math
    from collections import Counter

    r = load_all()["stats_mann_whitney_u"].fn(spark, SF_SMALL).first()
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_orderpriority AS p",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .where("o_orderpriority IN ('1-URGENT', '5-LOW')")
        .collect()
    )
    freq = Counter(x.v for x in rows)
    avg_rank, cum = {}, 0
    for v in sorted(freq):
        avg_rank[v] = cum + (freq[v] + 1) / 2
        cum += freq[v]
    g1 = [x.v for x in rows if x.p == "1-URGENT"]
    n1, n2 = len(g1), len(rows) - len(g1)
    r1 = sum(avg_rank[v] for v in g1)
    u = r1 - n1 * (n1 + 1) / 2
    tie = sum(c**3 - c for c in freq.values())
    n = n1 + n2
    sigma = math.sqrt(n1 * n2 / 12 * ((n + 1) - tie / (n * (n - 1))))
    assert r.n_urgent == n1 and r.n_low == n2
    assert 0 <= r.u_stat <= n1 * n2
    assert math.isclose(r.u_stat, u, rel_tol=0, abs_tol=0.01)
    assert math.isclose(r.z_stat, (u - n1 * n2 / 2) / sigma, rel_tol=1e-5)
    assert r.tie_values == sum(1 for c in freq.values() if c > 1)


def test_spearman_matches_pandas_rank(spark):
    """rho recomputed via pandas average ranks + numpy Pearson; must
    be positive (price scales with quantity) and within [-1, 1]."""
    import math

    import numpy as np

    r = load_all()["stats_spearman_corr"].fn(spark, SF_SMALL).first()
    pdf = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .selectExpr(
            "CAST(l_quantity AS LONG) AS x",
            "CAST(round(l_extendedprice * 100) AS LONG) AS y",
        )
        .toPandas()
    )
    rx = pdf.x.rank(method="average")
    ry = pdf.y.rank(method="average")
    rho = np.corrcoef(rx, ry)[0, 1]
    assert -1.0 <= r.spearman_rho <= 1.0
    # the synthetic generator draws price independent of quantity, so
    # rho is near zero — exactness, not direction, is the contract
    assert math.isclose(r.spearman_rho, rho, rel_tol=0, abs_tol=5e-6)
    assert r.n_rows == len(pdf)


def test_local_clustering_matches_bruteforce(spark):
    """Per-node coefficients recomputed from an adjacency-set brute
    force at sf0.001; the decile histogram must match exactly."""
    from collections import defaultdict

    rows = (
        load_all()["graph_local_clustering"].fn(spark, SF_SMALL).collect()
    )
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .selectExpr("l_orderkey AS o", "l_partkey AS p")
        .collect()
    )
    by_order = defaultdict(set)
    for r in li:
        by_order[r.o].add(r.p)
    adj = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                adj[u].add(v)
                adj[v].add(u)
    hist = defaultdict(int)
    for node, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        nbl = sorted(nb)
        t = sum(
            1
            for i, u in enumerate(nbl)
            for v in nbl[i + 1 :]
            if v in adj[u]
        )
        # exact integral decile — the query's spec (c >= 1 caps at 9)
        hist[min(9, (20 * t) // (d * (d - 1)))] += 1
    got = {r.cc_decile: r.n_nodes for r in rows}
    assert got == dict(hist)


def test_zonemap_prune_clustering_wins(spark):
    """Layout contracts: both layouts match the same exact row count;
    the shipdate-clustered layout never scans more rows than the
    insertion layout and its efficiency is at least as good."""
    rows = {
        r.layout: r
        for r in load_all()["etl_zonemap_prune_audit"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    ins, srt = rows["insertion"], rows["shipdate"]
    assert ins.rows_matching == srt.rows_matching
    exact = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .where("CAST(l_shipdate AS DATE) BETWEEN '1998-01-01' AND '1998-03-31'")
        .count()
    )
    assert ins.rows_matching == exact
    assert srt.rows_scanned <= ins.rows_scanned
    assert srt.scan_efficiency >= ins.scan_efficiency
    assert ins.rows_scanned >= ins.rows_matching


def test_ngram_novelty_conserves_ownership(spark):
    """Every distinct gram has exactly one first owner, so the owned
    counts must sum to the corpus-wide distinct-gram count and every
    rate must be a valid share."""
    rows = load_all()["text_ngram_novelty"].fn(spark, SF_SMALL).collect()
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    total = (
        d.select(
            F.explode(
                F.when(
                    F.length("text") >= 8,
                    F.array_distinct(
                        F.expr(
                            "transform(sequence(1, length(text) - 7),"
                            " i -> substring(text, i, 8))"
                        )
                    ),
                ).otherwise(F.array(F.col("text")))
            ).alias("g")
        )
        .agg(F.countDistinct("g"))
        .first()[0]
    )
    assert sum(r.n_first_owned for r in rows) == total
    for r in rows:
        assert 0.0 <= r.novelty_rate <= 1.0
        assert r.n_first_owned <= r.n_grams


def test_readability_matches_bruteforce(spark):
    """Flesch pieces recomputed with Python regexes for one source."""
    import math
    import re

    rows = load_all()["text_readability"].fn(spark, SF_SMALL).collect()
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .where("source = 'src0'")
        .select("text")
        .collect()
    )
    words = sum(len(re.findall(r"[a-z]+", r.text)) for r in docs)
    syll = sum(len(re.findall(r"[aeiou]+", r.text)) for r in docs)
    r0 = next(r for r in rows if r.source == "src0")
    assert r0.n_docs == len(docs)
    assert r0.n_words == words and r0.n_syllables == syll
    ease = 206.835 - 1.015 * (words / len(docs)) - 84.6 * (syll / words)
    assert math.isclose(r0.flesch_ease, ease, rel_tol=0, abs_tol=5e-6)


def test_assortativity_matches_bruteforce(spark):
    """Newman r recomputed from the explicit doubled edge list."""
    import math
    from collections import defaultdict

    r = load_all()["graph_assortativity"].fn(spark, SF_SMALL).first()
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .selectExpr("l_orderkey AS o", "l_partkey AS p")
        .collect()
    )
    by_order = defaultdict(set)
    for x in li:
        by_order[x.o].add(x.p)
    edges = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                edges.add((u, v))
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    dj = [deg[u] for u, v in edges] + [deg[v] for u, v in edges]
    dk = [deg[v] for u, v in edges] + [deg[u] for u, v in edges]
    m2 = len(dj)
    sj, sjj = sum(dj), sum(x * x for x in dj)
    sjk = sum(a * b for a, b in zip(dj, dk))
    rho = (sjk - sj * sj / m2) / (sjj - sj * sj / m2)
    assert r.n_edges == len(edges)
    assert -1.0 <= r.assortativity <= 1.0
    assert math.isclose(r.assortativity, rho, rel_tol=0, abs_tol=5e-6)


def test_ols_two_features_matches_numpy(spark):
    """Coefficients and R² cross-checked against numpy lstsq."""
    import math

    import numpy as np

    r = load_all()["agg_ols_two_features"].fn(spark, SF_SMALL).first()
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg({"*": "count", "l_quantity": "sum"})
        .withColumnRenamed("count(1)", "x1")
        .withColumnRenamed("sum(l_quantity)", "x2")
        .collect()
    )
    orders = {
        x.o_orderkey: round(x.o_totalprice)
        for x in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    }
    rows = [(x.x1, int(x.x2), orders[x.l_orderkey]) for x in li]
    A = np.array([[1.0, x1, x2] for x1, x2, _ in rows])
    y = np.array([float(v) for _, _, v in rows])
    beta, *_ = np.linalg.lstsq(A, y, rcond=None)
    pred = A @ beta
    ss_res = float(((y - pred) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    assert r.n_orders == len(rows)
    assert math.isclose(r.intercept, beta[0], rel_tol=1e-5)
    assert math.isclose(r.beta_lines, beta[1], rel_tol=1e-5)
    assert math.isclose(r.beta_qty, beta[2], rel_tol=1e-5)
    # r_squared is near zero here, so compare at the 6dp rounding
    # grain rather than relative tolerance
    assert math.isclose(
        r.r_squared, 1 - ss_res / ss_tot, rel_tol=0, abs_tol=5e-7
    )


def test_proportion_ztest_matches_bruteforce(spark):
    """Cell counts and pooled z recomputed in Python; rates must be
    interior (the scale-robust conversion definition's whole point)."""
    import hashlib
    import math
    from collections import Counter

    r = load_all()["stats_proportion_ztest"].fn(spark, SF_SMALL).first()
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .selectExpr("user_id", "event_type")
        .collect()
    )
    per = Counter()
    for x in ev:
        per[(x.user_id, x.event_type)] += 1
    users = {x.user_id for x in ev}
    cells = Counter()
    for u in users:
        t = int(hashlib.md5(f"pz:{u}".encode()).hexdigest()[:4], 16) % 2
        conv = per[(u, "purchase")] > per[(u, "error")]
        cells[(t, conv)] += 1
    n_t = cells[(1, True)] + cells[(1, False)]
    n_c = cells[(0, True)] + cells[(0, False)]
    x_t, x_c = cells[(1, True)], cells[(0, True)]
    assert (r.n_treat, r.n_ctrl, r.conv_treat, r.conv_ctrl) == (
        n_t,
        n_c,
        x_t,
        x_c,
    )
    assert 0.0 < r.rate_treat < 1.0 and 0.0 < r.rate_ctrl < 1.0
    pooled = (x_t + x_c) / (n_t + n_c)
    z = (x_t / n_t - x_c / n_c) / math.sqrt(
        pooled * (1 - pooled) * (1 / n_t + 1 / n_c)
    )
    assert math.isclose(r.z_stat, z, rel_tol=1e-5)


def test_theil_sen_matches_bruteforce(spark):
    """Median pairwise slope recomputed with Python statistics.median
    over all day pairs; OLS slope via exact sums."""
    import math
    import statistics as pystats

    r = load_all()["agg_theil_sen_trend"].fn(spark, SF_SMALL).first()
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS d",
            "CAST(round(o_totalprice * 100) AS LONG) AS cents",
        )
        .groupBy("d")
        .sum("cents")
        .withColumnRenamed("sum(cents)", "cents")
        .collect()
    )
    pts = sorted((x.d, x.cents) for x in daily)
    slopes = [
        (y2 - y1) / (d2 - d1)
        for i, (d1, y1) in enumerate(pts)
        for d2, y2 in pts[i + 1 :]
    ]
    assert r.n_days == len(pts)
    assert r.n_pairs == len(slopes)
    assert math.isclose(
        r.theil_sen_slope, pystats.median(slopes), rel_tol=1e-9, abs_tol=5e-7
    )
    n = len(pts)
    sx = sum(d for d, _ in pts)
    sy = sum(c for _, c in pts)
    sxx = sum(d * d for d, _ in pts)
    sxy = sum(d * c for d, c in pts)
    ols = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert math.isclose(r.ols_slope, ols, rel_tol=1e-6)


def test_delta_method_ratio_matches_bruteforce(spark):
    """Linearized ratio variance recomputed per arm in Python."""
    import hashlib
    import math
    from collections import defaultdict

    r = load_all()["ab_delta_method_ratio"].fn(spark, SF_SMALL).first()
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .selectExpr("user_id", "CAST(round(value * 100) AS LONG) AS c")
        .collect()
    )
    per = defaultdict(lambda: [0, 0])
    for x in ev:
        per[x.user_id][0] += x.c
        per[x.user_id][1] += 1

    def arm(t_want):
        xs, ys = [], []
        for u, (x, y) in per.items():
            t = int(hashlib.md5(f"dr:{u}".encode()).hexdigest()[:4], 16) % 2
            if t == t_want:
                xs.append(x)
                ys.append(y)
        n = len(xs)
        rr = sum(xs) / sum(ys)
        mx, my = sum(xs) / n, sum(ys) / n
        vx = sum((a - mx) ** 2 for a in xs) / (n - 1)
        vy = sum((b - my) ** 2 for b in ys) / (n - 1)
        cxy = sum(
            (a - mx) * (b - my) for a, b in zip(xs, ys)
        ) / (n - 1)
        var = (vx - 2 * rr * cxy + rr * rr * vy) / (n * my * my)
        return n, rr, var

    n1, r1, v1 = arm(1)
    n0, r0, v0 = arm(0)
    assert (r.n_treat, r.n_ctrl) == (n1, n0)
    assert math.isclose(r.ratio_treat, r1, rel_tol=1e-6)
    assert math.isclose(r.ratio_ctrl, r0, rel_tol=1e-6)
    assert math.isclose(
        r.z_stat, (r1 - r0) / math.sqrt(v1 + v0), rel_tol=1e-4
    )


def test_max_drawdown_matches_bruteforce(spark):
    """Drawdown ledger recomputed with a sequential Python fold."""
    import math

    r = load_all()["time_max_drawdown"].fn(spark, SF_SMALL).first()
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "CAST(o_orderdate AS DATE) AS day",
            "CAST(round(o_totalprice * 100) AS LONG) AS cents",
        )
        .groupBy("day")
        .sum("cents")
        .collect()
    )
    pts = sorted((x.day, x["sum(cents)"]) for x in daily)
    idx = peak = 0
    best = best_frac = 0
    worst_day = None
    for day, c in pts:
        idx += c
        peak = max(peak, idx)
        dd = peak - idx
        if dd >= best:  # latest day wins ties, matching lpad-argmax
            best, worst_day = dd, day
        best_frac = max(best_frac, dd / peak)
    assert r.n_days == len(pts)
    assert r.max_drawdown_cents == best
    assert str(r.worst_day) == worst_day.isoformat()
    assert math.isclose(
        r.max_drawdown_frac, best_frac, rel_tol=0, abs_tol=5e-7
    )


def test_funnel_lift_arms_reconcile_with_funnel(spark):
    """The two arms must partition funnel_conversion's totals exactly
    (same strictly-after step semantics, same corpus)."""
    lift = load_all()["ab_funnel_lift"].fn(spark, SF_SMALL).first()
    total = load_all()["funnel_conversion"].fn(spark, SF_SMALL).first()
    assert lift.views_treat + lift.views_ctrl == total.n_view
    assert lift.conv_treat + lift.conv_ctrl == total.n_purchase
    assert 0.0 <= lift.rate_treat <= 1.0
    assert 0.0 <= lift.rate_ctrl <= 1.0


def test_matryoshka_recall_matches_numpy(spark):
    """Recall@10 recomputed with numpy: exact cosine top-10 at full
    64 dims vs the 16-dim prefix, same 5dp-round + vec_id tiebreak."""
    import numpy as np

    rows = load_all()["sim_matryoshka_recall"].fn(spark, SF_SMALL).collect()
    emb = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r.vec_id for r in emb])
    M = np.array([r.embedding for r in emb], dtype=np.float64)

    def top10(qi, dims):
        q = M[qi, :dims]
        C = M[:, :dims]
        cos = C @ q / (
            np.linalg.norm(C, axis=1) * np.linalg.norm(q) + 1e-300
        )
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != ids[qi]),
            key=lambda i: (-round(cos[i], 5), ids[i]),
        )
        return {ids[i] for i in order[:10]}

    got = {r.query_id: r.n_overlap for r in rows}
    for qi in range(10):
        want = len(top10(qi, 64) & top10(qi, 16))
        assert got[ids[qi]] == want, (ids[qi], got[ids[qi]], want)


def test_neyman_allocation_invariants(spark):
    """Shares sum to 1, floor allocations sum to ≤ budget, and the
    allocation recomputes from exact per-stratum moments."""
    import math
    from collections import defaultdict

    rows = load_all()["sample_neyman_allocation"].fn(spark, SF_SMALL).collect()
    data = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_orderpriority AS p",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .collect()
    )
    groups = defaultdict(list)
    for x in data:
        groups[x.p].append(x.v)
    sds = {}
    for p, vs in groups.items():
        m = sum(vs) / len(vs)
        sds[p] = math.sqrt(sum((v - m) ** 2 for v in vs) / (len(vs) - 1))
    total = sum(len(vs) * sds[p] for p, vs in groups.items())
    assert math.isclose(sum(r.neyman_share for r in rows), 1.0, abs_tol=5e-6)
    assert sum(r.n_alloc for r in rows) <= 1000
    for r in rows:
        want = len(groups[r.stratum]) * sds[r.stratum] / total
        assert math.isclose(r.neyman_share, want, rel_tol=0, abs_tol=5e-7)
        assert r.n_alloc == math.floor(1000 * want)


def test_interrupted_series_matches_segment_ols(spark):
    """Both segment slopes recomputed with exact Python sums; the
    level change equals the intercept gap at the centered cut."""
    import math

    r = load_all()["time_interrupted_series"].fn(spark, SF_SMALL).first()
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1998-01-01') AS d",
            "CAST(round(o_totalprice * 100) AS LONG) AS cents",
        )
        .groupBy("d")
        .sum("cents")
        .withColumnRenamed("sum(cents)", "cents")
        .collect()
    )

    def ols(pts):
        n = len(pts)
        sx = sum(d for d, _ in pts)
        sy = sum(c for _, c in pts)
        sxx = sum(d * d for d, _ in pts)
        sxy = sum(d * c for d, c in pts)
        b = (sxy - sx * sy / n) / (sxx - sx * sx / n)
        return b, sy / n - b * sx / n

    pre = [(x.d, x.cents) for x in daily if x.d < 0]
    post = [(x.d, x.cents) for x in daily if x.d >= 0]
    b0, a0 = ols(pre)
    b1, a1 = ols(post)
    assert (r.n_days_pre, r.n_days_post) == (len(pre), len(post))
    assert math.isclose(r.slope_pre, b0, rel_tol=1e-6)
    assert math.isclose(r.slope_post, b1, rel_tol=1e-6)
    assert math.isclose(r.level_change, a1 - a0, rel_tol=1e-6)


def test_source_similarity_matches_setops(spark):
    """Top pair's Jaccard recomputed with Python set algebra."""
    import math
    from collections import defaultdict

    rows = load_all()["text_source_similarity"].fn(spark, SF_SMALL).collect()
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    vocab = defaultdict(set)
    for x in docs:
        t = x.text
        gs = (
            {t[i : i + 8] for i in range(len(t) - 7)}
            if len(t) >= 8
            else {t}
        )
        vocab[x.source] |= gs
    for r in rows[:3]:
        inter = len(vocab[r.src_a] & vocab[r.src_b])
        union = len(vocab[r.src_a] | vocab[r.src_b])
        assert r.n_common == inter
        assert math.isclose(
            r.jaccard, inter / union, rel_tol=0, abs_tol=5e-7
        )


def test_compression_quality_matches_zlib(spark):
    """Rows-only contract: per-source byte totals recomputed with the
    same stdlib call; repetitive synthetic text must compress well."""
    import math
    import zlib
    from collections import defaultdict

    rows = load_all()["text_compression_quality"].fn(spark, SF_SMALL).collect()
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    agg = defaultdict(lambda: [0, 0, 0])
    for x in docs:
        raw = x.text.encode()
        a = agg[x.source]
        a[0] += 1
        a[1] += len(raw)
        a[2] += len(zlib.compress(raw, 6))
    for r in rows:
        n, raw, comp = agg[r.source]
        assert (r.n_docs, r.raw_bytes, r.compressed_bytes) == (n, raw, comp)
        assert math.isclose(
            r.compression_ratio, comp / raw, rel_tol=0, abs_tol=5e-7
        )
        assert r.compression_ratio < 0.9  # word-salad text compresses


def test_autocorrelation_matches_numpy(spark):
    """ACF at each lag recomputed with numpy over the aligned pairs;
    lag-7 must exist with full pair support (weekly alignment)."""
    import math

    import numpy as np

    rows = load_all()["time_autocorrelation"].fn(spark, SF_SMALL).collect()
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS d",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .groupBy("d")
        .sum("v")
        .collect()
    )
    series = {x.d: x["sum(v)"] for x in daily}
    assert len(rows) == 14
    for r in rows:
        xs, ys = [], []
        for d, v in series.items():
            if d + r.lag in series:
                xs.append(v)
                ys.append(series[d + r.lag])
        assert r.n_pairs == len(xs)
        want = np.corrcoef(xs, ys)[0, 1]
        assert math.isclose(r.acf, want, rel_tol=0, abs_tol=5e-6)


def test_ht_estimator_matches_bruteforce(spark):
    """Sample membership and both HT estimates recomputed with the
    same md5 thresholds; the estimator must hit the truth within the
    stratified-Poisson error envelope at this n."""
    import hashlib
    import math

    from dataextractor_spark.operators.sampling import (
        _HT_LEVELS,
        _TWO32,
        _ht_thresholds,
    )

    r = load_all()["sample_ht_estimator"].fn(spark, SF_SMALL).first()
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_orderkey AS k",
            "o_orderpriority AS p",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .collect()
    )
    thr = _ht_thresholds()
    est_y = est_n = 0.0
    n_smp = 0
    for lvl in _HT_LEVELS:
        sy = sn = 0
        for x in rows:
            if x.p != lvl:
                continue
            u = int(hashlib.md5(f"ht:{x.k}".encode()).hexdigest()[:8], 16)
            if u < thr[lvl]:
                sy += x.v
                sn += 1
        est_y += sy * _TWO32 / thr[lvl]
        est_n += sn * _TWO32 / thr[lvl]
        n_smp += sn
    assert r.n_population == len(rows)
    assert r.n_sampled == n_smp
    assert math.isclose(r.ht_total_estimate, est_y, rel_tol=1e-9, abs_tol=0.01)
    assert math.isclose(r.ht_count_estimate, est_n, rel_tol=1e-9, abs_tol=0.01)
    # estimate quality: within 25% at the sf0.001 sample size
    assert abs(r.rel_error_total) < 0.25
    assert abs(r.rel_error_count) < 0.25


def test_centroid_classify_matches_numpy(spark):
    """Per-label recall recomputed with numpy nearest-centroid on the
    same 1e-6-quantized vectors and tie rule."""
    import numpy as np

    rows = load_all()["sim_centroid_classify_eval"].fn(spark, SF_SMALL).collect()
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    Q = np.array(
        [[round(float(v) * 1e6) for v in x.embedding] for x in emb],
        dtype=np.int64,
    )
    labels = np.array([x.label for x in emb])
    cents = np.stack(
        [Q[labels == lab].sum(axis=0) for lab in range(10)]
    )
    correct = {lab: 0 for lab in range(10)}
    totals = {lab: 0 for lab in range(10)}
    for i in range(len(emb)):
        dots = cents @ Q[i]
        cos = dots / (
            np.sqrt(float(Q[i] @ Q[i])) * np.sqrt((cents * cents).sum(axis=1))
        )
        enc = np.round((cos + 1.0) * 1e9).astype(np.int64)
        best = min(
            range(10), key=lambda lab: (-enc[lab], lab)
        )  # smallest label on ties
        totals[labels[i]] += 1
        correct[labels[i]] += int(best == labels[i])
    got = {r.label: (r.n_true, r.n_correct) for r in rows}
    for lab in range(10):
        if totals[lab]:
            assert got[lab] == (totals[lab], correct[lab])


def test_kendall_tau_matches_bruteforce(spark):
    """tau-b recomputed with the O(n²) definition over raw rows at
    sf0.001 (6k rows → 18M comparisons via numpy broadcasting)."""
    import math

    import numpy as np

    r = load_all()["stats_kendall_tau"].fn(spark, SF_SMALL).first()
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .selectExpr(
            "CAST(l_quantity AS LONG) AS x",
            "CAST(round(l_discount * 100) AS LONG) AS y",
        )
        .collect()
    )
    x = np.array([a.x for a in li])
    y = np.array([a.y for a in li])
    n = len(x)
    dx = np.sign(x[:, None] - x[None, :])
    dy = np.sign(y[:, None] - y[None, :])
    prod = dx * dy
    conc = int((prod > 0).sum() // 2)
    disc = int((prod < 0).sum() // 2)
    n0 = n * (n - 1) / 2
    tx = sum(
        c * (c - 1) / 2 for c in np.bincount(x - x.min()) if c > 1
    )
    ty = sum(
        c * (c - 1) / 2 for c in np.bincount(y - y.min()) if c > 1
    )
    tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    assert (r.concordant, r.discordant) == (conc, disc)
    assert math.isclose(r.kendall_tau_b, tau, rel_tol=0, abs_tol=5e-7)


def test_runs_test_matches_bruteforce(spark):
    """Run count and z recomputed with a sequential Python fold."""
    import math
    import statistics as pystats

    r = load_all()["stats_runs_test"].fn(spark, SF_SMALL).first()
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "CAST(o_orderdate AS DATE) AS day",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .groupBy("day")
        .sum("v")
        .collect()
    )
    pts = sorted((x.day, x["sum(v)"]) for x in daily)
    med = pystats.median(v for _, v in pts)
    signs = [1 if v > med else 0 for _, v in pts if v != med]
    runs = 1 + sum(
        1 for i in range(1, len(signs)) if signs[i] != signs[i - 1]
    )
    n1, n2 = sum(signs), len(signs) - sum(signs)
    assert (r.n_above, r.n_below, r.n_runs) == (n1, n2, runs)
    mu = 1 + 2 * n1 * n2 / (n1 + n2)
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    )
    assert math.isclose(r.z_stat, (runs - mu) / math.sqrt(var), rel_tol=1e-5)


def test_chi2_residuals_reconcile_with_chi2(spark):
    """Σ std_residual² over cells must equal the chi-square statistic
    reported by agg_chi_square_independence."""
    import math

    cells = load_all()["agg_chi2_cell_residuals"].fn(spark, SF_SMALL).collect()
    chi = load_all()["agg_chi_square_independence"].fn(spark, SF_SMALL).first()
    total = sum(c.std_residual**2 for c in cells)
    assert math.isclose(total, chi.chi2, rel_tol=1e-4)
    # adjusted residuals are strictly larger in magnitude than raw ones
    for c in cells:
        if c.std_residual != 0:
            assert abs(c.adj_residual) > abs(c.std_residual)


def test_delete_rewrite_plan_matches_bruteforce(spark):
    """Partition ledger recomputed in Python with the same md5 rule."""
    import hashlib
    from collections import defaultdict

    r = load_all()["etl_delete_rewrite_plan"].fn(spark, SF_SMALL).first()
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    dels = {
        x.c_custkey
        for x in cust
        if int(hashlib.md5(f"del:{x.c_custkey}".encode()).hexdigest()[:8], 16)
        < int(0.02 * (1 << 32))
    }
    orders = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_custkey",
            "date_format(date_trunc('month', o_orderdate), 'yyyy-MM') AS m",
        )
        .collect()
    )
    per = defaultdict(lambda: [0, 0])
    for x in orders:
        per[x.m][0] += 1
        per[x.m][1] += int(x.o_custkey in dels)
    assert r.n_partitions == len(per)
    assert r.partitions_touched == sum(1 for v in per.values() if v[1])
    assert r.rows_deleted == sum(v[1] for v in per.values())
    assert r.rows_rewritten == sum(v[0] for v in per.values() if v[1])


def test_rolling_median_matches_bruteforce(spark):
    """Windows and medians recomputed with a Python dict walk."""
    import statistics as pystats

    rows = load_all()["time_rolling_median"].fn(spark, SF_SMALL).collect()
    daily = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS d",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .groupBy("d")
        .sum("v")
        .collect()
    )
    series = {x.d: x["sum(v)"] for x in daily}
    scored = []
    for d, v in series.items():
        w = [series[k] for k in range(d - 3, d + 4) if k in series]
        med = pystats.median(w)
        scored.append((round(abs(v - med) * 10), d, v, med, len(w)))
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = scored[:10]
    assert len(rows) == 10
    for r, (dev, d, v, med, nw) in zip(rows, want):
        assert (r.day_index, r.dollars, r.n_window, r.abs_dev_x10) == (
            d,
            v,
            nw,
            dev,
        )
        assert float(r.rolling_median) == round(float(med), 1)


def test_calibration_ece_reconciles(spark):
    """ECE recomputed from the emitted reliability table itself."""
    import math

    rows = load_all()["ml_calibration_error"].fn(spark, SF_SMALL).collect()
    n = sum(r.n_docs for r in rows)
    ece = sum(
        r.n_docs / n * abs(r.frac_positive - r.avg_confidence) for r in rows
    )
    # the operator computes the numerator pre-rounding, so allow the
    # per-bin 6dp rounding to accumulate across <=10 bins
    assert math.isclose(rows[0].ece, ece, rel_tol=0, abs_tol=1e-5)
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.avg_confidence <= 1.0
        assert 0.0 <= r.frac_positive <= 1.0


def test_power_mde_consistent_with_ztest(spark):
    """The MDE at the observed arm sizes must exceed the observed
    |rate difference| whenever the z-test is not significant, and the
    required-n formula must recompute."""
    import math

    p_row = load_all()["ab_power_mde"].fn(spark, SF_SMALL).first()
    z_row = load_all()["stats_proportion_ztest"].fn(spark, SF_SMALL).first()
    assert (p_row.n_treat, p_row.n_ctrl) == (z_row.n_treat, z_row.n_ctrl)
    obs_diff = abs(z_row.rate_treat - z_row.rate_ctrl)
    if abs(z_row.z_stat) < 1.96:
        assert p_row.mde_abs > obs_diff
    p = p_row.base_rate
    want_n = math.ceil((1.959964 + 0.841621) ** 2 * 2 * p * (1 - p) / 1e-4)
    assert p_row.n_per_arm_for_1pp == want_n


def test_pixel_histogram_closed_form(spark):
    """Bin counts recomputed from the synthetic pixel formula."""
    from collections import defaultdict

    rows = load_all()["multimodal_pixel_histogram"].fn(spark, SF_SMALL).collect()
    ids = [
        x.doc_id
        for x in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id")
        .collect()
        if x.doc_id % 3 == 0
    ]
    bins = defaultdict(lambda: [0, set()])
    for d in ids:
        for y in range(12):
            b = ((d + y) % 256) // 16
            bins[b][0] += 16 * 3
            bins[b][1].add(d)
    got = {r.bin: (r.n_bytes, r.n_images_hit) for r in rows}
    assert got == {b: (v[0], len(v[1])) for b, v in bins.items()}


def test_hits_matches_bruteforce(spark):
    """Two un-normalized HITS sweeps recomputed with Python dicts;
    top-10 sets and max-normalized scores must agree."""
    import math
    from collections import defaultdict

    rows = load_all()["graph_hits_scores"].fn(spark, SF_SMALL).collect()
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .selectExpr("l_suppkey AS s", "l_partkey AS p")
        .distinct()
        .collect()
    )
    edges = [(x.s, x.p) for x in li]
    a1 = defaultdict(int)
    for s, p in edges:
        a1[p] += 1
    h1 = defaultdict(int)
    for s, p in edges:
        h1[s] += a1[p]
    a2 = defaultdict(int)
    for s, p in edges:
        a2[p] += h1[s]
    h2 = defaultdict(int)
    for s, p in edges:
        h2[s] += a2[p]
    am, hm = max(a2.values()), max(h2.values())
    want_auth = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    want_hub = sorted(h2.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    # the output re-sorts by node STRING for equal scores ('p10' <
    # 'p2'), so compare as (set, score-map) not positionally
    got_auth = {r.node: r.score for r in rows if r.role == "authority"}
    got_hub = {r.node: r.score for r in rows if r.role == "hub"}
    assert set(got_auth) == {f"p{p}" for p, _ in want_auth}
    assert set(got_hub) == {f"s{s}" for s, _ in want_hub}
    for p_, v in want_auth:
        assert math.isclose(
            got_auth[f"p{p_}"], v / am, rel_tol=0, abs_tol=5e-7
        )
    for s_, v in want_hub:
        assert math.isclose(
            got_hub[f"s{s_}"], v / hm, rel_tol=0, abs_tol=5e-7
        )


def test_brown_forsythe_matches_bruteforce(spark):
    """BF statistic recomputed from raw rows with Python medians."""
    import math
    import statistics as pystats
    from collections import defaultdict

    r = load_all()["stats_brown_forsythe"].fn(spark, SF_SMALL).first()
    data = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_orderpriority AS p",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .collect()
    )
    groups = defaultdict(list)
    for x in data:
        groups[x.p].append(x.v)
    devs = defaultdict(list)
    for p, vs in groups.items():
        med = pystats.median(vs)
        devs[p] = [abs(2 * v - int(2 * med)) for v in vs]
    allz = [z for zs in devs.values() for z in zs]
    n, k = len(allz), len(devs)
    gm = sum(allz) / n
    ssb = sum(len(zs) * (sum(zs) / len(zs) - gm) ** 2 for zs in devs.values())
    ssw = sum(
        (z - sum(zs) / len(zs)) ** 2 for zs in devs.values() for z in zs
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r.n_total == n
    assert math.isclose(r.bf_f_stat, f, rel_tol=1e-6)


def test_interevent_gaps_matches_bruteforce(spark):
    """Gap bins recomputed with a per-user Python sort."""
    from collections import defaultdict

    rows = load_all()["time_interevent_gaps"].fn(spark, SF_SMALL).collect()
    from dataextractor_spark.catalog import load_table

    ev = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr(
            "user_id",
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " AS us",
            "event_id",
        )
        .collect()
    )
    per = defaultdict(list)
    for x in ev:
        per[x.user_id].append((x.us, x.event_id))
    bins = defaultdict(lambda: [0, set(), None, None])
    for u, lst in per.items():
        lst.sort()
        for (a, _), (b_, _) in zip(lst, lst[1:]):
            gap = (b_ - a) // 1000000
            b = 0 if gap <= 0 else gap.bit_length()
            e = bins[b]
            e[0] += 1
            e[1].add(u)
            e[2] = gap if e[2] is None else min(e[2], gap)
            e[3] = gap if e[3] is None else max(e[3], gap)
    got = {
        r.gap_log2_bin: (r.n_gaps, r.n_users, r.min_gap_s, r.max_gap_s)
        for r in rows
    }
    want = {b: (v[0], len(v[1]), v[2], v[3]) for b, v in bins.items()}
    assert got == want


def test_vocab_growth_is_saturating_and_conserves(spark):
    """Heaps contracts: cumulative vocab equals the corpus-wide
    distinct token count at the last bucket; new-type counts are
    non-increasing in aggregate trend (first bucket claims the most);
    token totals conserve."""
    rows = load_all()["text_vocab_growth"].fn(spark, SF_SMALL).collect()
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("text")
        .collect()
    )
    vocab = set()
    total = 0
    for x in docs:
        toks = x.text.split(" ")
        total += len(toks)
        vocab |= set(toks)
    assert rows[-1].cum_vocab == len(vocab)
    assert rows[-1].cum_tokens == total
    assert rows[0].new_types == max(r.new_types for r in rows)
    assert sum(r.new_types for r in rows) == len(vocab)


def test_text_lines_scan_matches_documents(spark):
    """Line totals recomputed directly from the parquet table."""
    r = load_all()["source_text_lines_scan"].fn(spark, SF_SMALL).first()
    import hashlib

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("text")
        .collect()
    )
    assert r.n_lines == len(docs)
    assert r.total_chars == sum(len(x.text) for x in docs)
    want = sum(
        int(hashlib.md5(x.text.encode()).hexdigest()[:8], 16) for x in docs
    )
    assert r.line_md5_sum == want


def test_wilcoxon_matches_bruteforce(spark):
    """W+ and tie-corrected z recomputed with naive average ranks."""
    import math
    from collections import Counter, defaultdict

    r = load_all()["stats_wilcoxon_signed_rank"].fn(spark, SF_SMALL).first()
    from dataextractor_spark.operators.statistics import _CUPED_CUT

    data = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_custkey AS k",
            f"CAST(o_orderdate < DATE '{_CUPED_CUT}' AS INT) AS pre",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .collect()
    )
    per = defaultdict(lambda: [0, 0])
    for x in data:
        per[x.k][0 if x.pre else 1] += x.v
    diffs = [y - xv for xv, y in per.values() if y != xv]
    ads = [abs(d) for d in diffs]
    freq = Counter(ads)
    avg_rank, cum = {}, 0
    for v in sorted(freq):
        avg_rank[v] = cum + (freq[v] + 1) / 2
        cum += freq[v]
    w_plus = sum(avg_rank[abs(d)] for d in diffs if d > 0)
    n = len(diffs)
    tie = sum(c**3 - c for c in freq.values())
    mu = n * (n + 1) / 4
    sigma = math.sqrt(n * (n + 1) * (2 * n + 1) / 24 - tie / 48)
    assert r.n_nonzero == n
    assert r.n_pos == sum(1 for d in diffs if d > 0)
    assert math.isclose(r.w_plus, w_plus, rel_tol=0, abs_tol=0.01)
    assert math.isclose(r.z_stat, (w_plus - mu) / sigma, rel_tol=1e-5)


def test_mcnemar_matches_bruteforce(spark):
    """Discordant cells recomputed per user in Python."""
    import math
    from collections import defaultdict

    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.statistics import _MCNEMAR_CUT

    r = load_all()["agg_mcnemar_paired"].fn(spark, SF_SMALL).first()
    ev = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr(
            "user_id",
            f"CAST(ts < TIMESTAMP '{_MCNEMAR_CUT}' AS INT) AS pre",
            "event_type",
        )
        .collect()
    )
    per = defaultdict(lambda: [0, 0, 0, 0])  # pre_p, pre_e, post_p, post_e
    for x in ev:
        if x.event_type == "purchase":
            per[x.user_id][0 if x.pre else 2] += 1
        elif x.event_type == "error":
            per[x.user_id][1 if x.pre else 3] += 1
    b = c = 0
    for pp, pe, qp, qe in per.values():
        pre, post = pp > pe, qp > qe
        b += (not pre) and post
        c += pre and (not post)
    assert (r.n_gained, r.n_lost) == (b, c)
    if b + c:
        assert math.isclose(
            r.mcnemar_chi2, (abs(b - c) - 1) ** 2 / (b + c), rel_tol=1e-6
        )


def test_capture_recapture_matches_bruteforce(spark):
    """Cells and Chapman estimate recomputed with hashlib; the
    estimator must land within the hypergeometric error envelope at
    this sample size."""
    import hashlib
    import math

    r = load_all()["agg_capture_recapture"].fn(spark, SF_SMALL).first()
    keys = [
        x.o_orderkey
        for x in spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    thr = int(0.10 * (1 << 32))
    h = lambda s, k: int(  # noqa: E731
        hashlib.md5(f"{s}:{k}".encode()).hexdigest()[:8], 16
    )
    s1 = {k for k in keys if h("cr1", k) < thr}
    s2 = {k for k in keys if h("cr2", k) < thr}
    m = len(s1 & s2)
    assert (r.n_true, r.n_sample1, r.n_sample2, r.n_overlap) == (
        len(keys),
        len(s1),
        len(s2),
        m,
    )
    est = (len(s1) + 1) * (len(s2) + 1) / (m + 1) - 1
    assert math.isclose(r.chapman_estimate, est, rel_tol=0, abs_tol=0.01)
    assert abs(r.rel_error) < 0.6  # ~1% joint capture at sf0.001


def test_cochran_q_matches_bruteforce(spark):
    """Q recomputed from per-customer period spends in Python."""
    import math
    from collections import defaultdict

    r = load_all()["stats_cochran_q"].fn(spark, SF_SMALL).first()
    rows = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr(
            "o_custkey AS k",
            "CASE WHEN o_orderdate < DATE '1997-01-01' THEN 1 "
            "WHEN o_orderdate < DATE '1999-01-01' THEN 2 ELSE 3 END AS pd",
            "CAST(round(o_totalprice) AS LONG) AS v",
        )
        .collect()
    )
    per = defaultdict(lambda: [0, 0, 0])
    for x in rows:
        per[x.k][x.pd - 1] += x.v
    C = [0, 0, 0]
    rsum = rsq = 0
    for v in per.values():
        t = sum(v)
        xs = [int(3 * vi > t) for vi in v]
        for j in range(3):
            C[j] += xs[j]
        rr = sum(xs)
        rsum += rr
        rsq += rr * rr
    q = (
        6.0 * sum((c - rsum / 3) ** 2 for c in C) / (3.0 * rsum - rsq)
    )
    assert r.n_customers == len(per)
    assert (r.c_early, r.c_mid, r.c_late) == tuple(C)
    assert math.isclose(r.cochran_q, q, rel_tol=1e-6)


def test_calendar_coverage_bounds(spark):
    """Observed days can never exceed the span; yearly spans tile the
    global span; the distinct-day total conserves."""
    rows = load_all()["etl_calendar_coverage_audit"].fn(spark, SF_SMALL).collect()
    total = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .selectExpr("CAST(o_orderdate AS DATE) AS d")
        .distinct()
        .count()
    )
    assert sum(r.observed_days for r in rows) == total
    for r in rows:
        assert 1 <= r.observed_days <= r.span_days
        assert r.missing_days == r.span_days - r.observed_days
        assert str(r.first_day_s)[:4] == str(r.yr)


def test_assign_cells_rejects_cell_collision(spark):
    """assign_cells appends 'cell' (via a '_d2' temp): an input already
    carrying either name would be silently replaced by withColumn, so
    the helper must refuse it."""
    import pytest

    from dataextractor_spark.functions.kmeans import assign_cells

    e = spark.createDataFrame([(1, [0.0, 1.0], 0)], "vec_id long, embedding array<double>, cell int")
    with pytest.raises(ValueError, match="already has"):
        assign_cells(e, [[0.0, 0.0]])
    e2 = spark.createDataFrame([(1, [0.0, 1.0], 0.5)], "vec_id long, embedding array<double>, _d2 double")
    with pytest.raises(ValueError, match="already has"):
        assign_cells(e2, [[0.0, 0.0]])


def test_agg_approx_distinct_query_within_rsd_of_exact(spark):
    """Query-level form of the HLL error contract the agg_approx_distinct
    docstring promises: every per-returnflag approx distinct (parts and
    orders, rsd=1%) lands within 2% of the exact countDistinct."""
    got = {
        r.l_returnflag: (r.approx_parts, r.approx_orders)
        for r in load_all()["agg_approx_distinct"].fn(spark, SF_SMALL).collect()
    }
    li = load_table(spark, SF_SMALL, "lineitem")
    exact = {
        r.l_returnflag: (r.parts, r.orders)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_orderkey").alias("orders"),
        )
        .collect()
    }
    assert set(got) == set(exact) and got
    for flag, (ap, ao) in got.items():
        ep, eo = exact[flag]
        assert abs(ap - ep) / ep < 0.02, (flag, ap, ep)
        assert abs(ao - eo) / eo < 0.02, (flag, ao, eo)


def test_sim_pq_compress_query_contract(spark):
    """Query-level PQ-compression audit contract for sim_pq_compress
    (the kernel identities live in tests/test_curation_ops.py): the
    audit is deterministic across two runs (seeded k-means — learned
    codebooks are a pure function of the corpus), reconstruction
    errors are non-negative with avg ≤ max per label, and each label's
    distinct-code count is positive and can't exceed its vector count
    (4 bytes per vector ⇒ at most one code per vector, at most 16^4
    overall)."""
    fn = load_all()["sim_pq_compress"].fn
    r1 = [r.asDict() for r in fn(spark, SF_SMALL).collect()]
    r2 = [r.asDict() for r in fn(spark, SF_SMALL).collect()]
    assert r1 == r2 and r1
    for row in r1:
        assert row["n_vecs"] > 0
        assert 0.0 <= row["avg_recon_err"] <= row["max_recon_err"]
        assert 1 <= row["codes_used"] <= min(row["n_vecs"], 16**4)


def test_assortativity_single_pass_matches_doubled_list_definition(spark):
    """r12 regrouping proof: graph_assortativity computes the Newman
    sums from ONE pass over the canonical u<v pair list (per-v integer
    partials); this recomputes the textbook DOUBLED-edge-list sums
    (Σdj, Σdj², Σdjdk over both directions) in plain Python sets/dicts
    and checks every output value — the regrouping must be an exact
    integer identity, not an approximation."""
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    rows = li.collect()
    by_order: dict = {}
    for r in rows:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    pairs = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pairs.add((ps[i], ps[j]))
    deg: dict = {}
    for u, v in pairs:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    m2 = sj = sjj = sjk = 0
    for u, v in pairs:
        for dj, dk in ((deg[u], deg[v]), (deg[v], deg[u])):
            m2 += 1
            sj += dj
            sjj += dj * dj
            sjk += dj * dk
    out = load_all()["graph_assortativity"].fn(spark, SF_SMALL).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_edges == m2 // 2 == len(pairs)
    assert abs(r.avg_end_degree - round(sj / m2, 6)) < 1e-9
    want = (sjk - sj * sj / m2) / (sjj - sj * sj / m2)
    assert abs(r.assortativity - round(want, 6)) < 1e-9
