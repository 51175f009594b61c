"""Property-based tests (hypothesis): normalizer round-trips and dedup
idempotence (SURVEY.md §5.5)."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

# Every @settings(...) below inherits unset fields from the loaded
# profile, so print_blob=True applies file-wide: a red run on ANY
# machine prints a @reproduce_failure blob that replays anywhere,
# instead of leaving the reproducer only in that machine's local
# .hypothesis example database (r9 advice).
settings.register_profile("spark_graft", print_blob=True)
settings.load_profile("spark_graft")

from dataextractor_spark.etl.normalize import (
    flatten_array_column,
    normalize_json_records,
    unpivot_dict,
)
from dataextractor_spark.pins import pin

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

record = st.fixed_dictionaries(
    {
        "id": st.integers(min_value=0, max_value=2**40),
        "name": st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
            max_size=12,
        ),
        "score": st.one_of(
            st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)
        ),
    }
)


@settings(**_SETTINGS)
@given(st.lists(record, min_size=1, max_size=20))
def test_normalize_roundtrip(spark, recs):
    """list-of-dicts → typed DataFrame → rows: ids and names survive
    exactly; both payload forms (objects and JSON text) agree."""
    schema = "id BIGINT, name STRING, score DOUBLE"
    out1 = normalize_json_records(spark, recs, schema=schema)
    out2 = normalize_json_records(spark, json.dumps(recs), schema=schema)
    got1 = sorted((r.id, r.name) for r in out1.collect())
    got2 = sorted((r.id, r.name) for r in out2.collect())
    want = sorted((r["id"], r["name"]) for r in recs)
    assert got1 == want and got2 == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(st.none(), st.lists(st.integers(-1000, 1000), max_size=8)),
        min_size=1,
        max_size=15,
    )
)
def test_flatten_matches_python_semantics(spark, arrays):
    """flatten(n=5) ≡ arr[i] if i < len else None, for every input."""
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "id int, arr array<int>"
    )
    out = {r.id: r for r in flatten_array_column(df, "arr", "x", 5).collect()}
    for i, a in enumerate(arrays):
        for k in range(1, 6):
            want = a[k - 1] if a is not None and len(a) >= k else None
            assert out[i][f"x_{k}"] == want


@settings(**_SETTINGS)
@given(
    st.dictionaries(
        st.text(st.characters(whitelist_categories=("Nd", "Ll")), min_size=1, max_size=6),
        st.text(max_size=10),
        min_size=1,
        max_size=12,
    )
)
def test_unpivot_dict_roundtrip(spark, d):
    out = unpivot_dict(spark, d, key_col="k", value_col="v")
    assert {(r.k, r.v) for r in out.collect()} == set(d.items())


@settings(**_SETTINGS)
@given(st.lists(st.text(max_size=30), min_size=1, max_size=30))
def test_dedup_idempotent(spark, texts):
    """dropDuplicates is idempotent and keeps exactly the distinct
    set — applying it twice changes nothing."""
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    once = df.dropDuplicates(["t"])
    twice = once.dropDuplicates(["t"])
    assert once.count() == len(set(texts))
    assert sorted(r.t for r in once.collect()) == sorted(r.t for r in twice.collect())


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_cosine_similarity_bounds(spark, vecs):
    """cosine ∈ [-1, 1] (within fp tolerance) and cos(v, v) = 1 for
    nonzero v — over arbitrary float32 vectors."""
    from dataextractor_spark.functions.vector import cosine_similarity

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, v array<float>"
    )
    pairs = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        cosine_similarity("a.v", "b.v").alias("cos"),
    )
    for r in pairs.collect():
        if r.cos is not None:
            assert -1.0 - 1e-9 <= r.cos <= 1.0 + 1e-9
            if r.ia == r.ib:
                assert abs(r.cos - 1.0) < 1e-9


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6),
        min_size=1,
        max_size=120,
    )
)
def test_chunking_reconstructs_token_stream(spark, tokens):
    """Overlap-chunking invariant: dropping the first `overlap` tokens
    of every chunk after the first and concatenating reproduces the
    original token sequence exactly — no span lost or duplicated at
    any boundary, for any document length (including docs shorter
    than one window)."""
    from pyspark.sql import functions as F

    chunk, overlap = 32, 8
    stride = chunk - overlap
    text = " ".join(tokens)
    d = spark.createDataFrame([(0, text)], "doc_id long, text string")
    toks = F.split("text", " ")
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((F.size(toks) - overlap) / F.lit(float(stride))),
    )
    rows = (
        d.select(
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("i"),
        )
        .select(
            "i",
            F.slice(F.col("toks"), F.col("i").cast("int") * stride + 1, chunk).alias(
                "piece"
            ),
        )
        .orderBy("i")
        .collect()
    )
    rebuilt = []
    for r in rows:
        piece = list(r.piece)
        rebuilt.extend(piece if r.i == 0 else piece[overlap:])
    assert rebuilt == tokens


_SQUEEZE = "filter(w, (x, i) -> i = 0 OR x <> w[i - 1])"


@settings(**_SETTINGS)
@given(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
        min_size=1,
        max_size=30,
    )
)
def test_collapse_repeats_fixed_point(spark, toks):
    """The stutter-squeeze expression behind text_collapse_repeats is
    idempotent (a second application changes nothing), matches the
    obvious sequential Python fold, and preserves first occurrences in
    order."""
    df = spark.createDataFrame([(toks,)], "w ARRAY<STRING>")
    once = df.select(F.expr(_SQUEEZE).alias("w"))
    twice = once.select(F.expr(_SQUEEZE).alias("w"))
    got_once = once.first().w
    got_twice = twice.first().w
    want = [t for i, t in enumerate(toks) if i == 0 or t != toks[i - 1]]
    assert got_once == want
    assert got_twice == got_once


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll",)),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=25,
        unique=True,
    )
)
def test_fuzzy_name_length_blocking_is_exact(spark, names):
    """dedup_fuzzy_names contract, generalized: the ±2 length-band
    equi-block finds EXACTLY the pairs the unblocked all-pairs
    levenshtein ≤ 2 scan finds — the band is a necessary condition, so
    blocking can never lose a pair, on arbitrary dictionaries."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(n,) for n in names], "p_name string"
    ).withColumn("len", F.length("p_name"))
    probes = df.select(
        F.col("p_name").alias("a"),
        F.explode(
            F.sequence(F.col("len") - F.lit(2), F.col("len") + F.lit(2))
        ).alias("probe_len"),
    )
    blocked = (
        probes.join(
            df.select(
                F.col("p_name").alias("b"), F.col("len").alias("probe_len")
            ),
            "probe_len",
        )
        .filter(F.col("a") < F.col("b"))
        .filter(F.levenshtein("a", "b") <= 2)
        .select("a", "b")
        .collect()
    )
    got = {(r.a, r.b) for r in blocked}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (a, b)
        for i, a in enumerate(sorted(names))
        for b in sorted(names)[i + 1 :]
        if lev(a, b) <= 2
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # ts offset seconds
            st.floats(
                min_value=-1e4, max_value=1e4, allow_nan=False, width=32
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_ohlc_candle_invariants(spark, rows):
    """OHLC downsample invariants on arbitrary series: low ≤ open,
    close ≤ high; n_events sums to the input count; open/close equal
    the values at the earliest/latest (ts, idx) order key."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    base = datetime(2024, 1, 1)
    data = [
        (i, base + timedelta(seconds=off), float(v))
        for i, (off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, ts timestamp, value double")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    out = (
        df.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert sum(r.n for r in out) == len(data)
    for r in out:
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
    # spot-check open/close against a python reduction per bucket
    from collections import defaultdict

    buckets = defaultdict(list)
    for i, ts, v in data:
        buckets[ts.replace(minute=0, second=0, microsecond=0)].append(
            (ts, i, v)
        )
    for r in out:
        rows_b = sorted(buckets[r.h])
        assert r.open == rows_b[0][2]
        assert r.close == rows_b[-1][2]


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
def test_phash_banding_pigeonhole(spark, hashes):
    """Hamming-LSH chunk-band contract (shared by dedup_simhash and
    multimodal_phash_neardup): any pair of 64-bit hashes within
    Hamming distance 3 shares at least one exact 16-bit chunk — the
    pigeonhole guarantee the candidate join relies on."""
    for i, a in enumerate(hashes):
        for b in hashes[i + 1 :]:
            d = bin(a ^ b).count("1")
            if d <= 3:
                shared = any(
                    ((a >> (16 * k)) & 0xFFFF) == ((b >> (16 * k)) & 0xFFFF)
                    for k in range(4)
                )
                assert shared, (a, b, d)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32),
        min_size=1,
        max_size=60,
    )
)
def test_ewma_closed_form_equals_sequential_fold(spark, values):
    """time_ewma_smooth's one-aggregate closed form
    Σ x_i·(1-α)^(n-i) / Σ (1-α)^(n-i) must equal the textbook
    sequential recurrence (pandas ewm(adjust=True) semantics) on
    arbitrary series — the algebraic identity that lets the operator
    run as ONE hash aggregate instead of a per-series loop."""
    from datetime import datetime, timedelta

    from dataextractor_spark.operators.windows_time import EWMA_ALPHA

    base = datetime(2024, 1, 1)
    rows = [
        (1, i, base + timedelta(seconds=i), float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    decay = F.lit(1.0 - EWMA_ALPHA)
    r = df.select(
        "value",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    wgt = F.pow(decay, F.col("n") - F.col("i"))
    got = r.agg(
        (F.sum(F.col("value") * wgt) / F.sum(wgt)).alias("ewma")
    ).collect()[0]["ewma"]

    # reference: adjust=True recurrence — numerator/denominator folds
    num = den = 0.0
    for v in values:
        num = num * (1.0 - EWMA_ALPHA) + float(v)
        den = den * (1.0 - EWMA_ALPHA) + 1.0
    want = num / den
    assert abs(got - want) <= 1e-9 * max(1.0, abs(want))


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(list("abcdef")), min_size=1, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=15,
    )
)
def test_containment_prefix_filter_is_lossless(spark, texts):
    """dedup_shingle_containment's one-sided rarest-prefix candidate
    filter must find EVERY directional pair the brute-force
    definition finds, on adversarial word-soup corpora (tiny shared
    vocabulary = worst case for prefix filtering)."""
    import itertools

    from dataextractor_spark.operators.dedup import (
        CONTAIN_T,
        dedup_shingle_containment,
    )

    def tris(text):
        w = [x for x in text.split(" ") if x != ""]
        if len(w) >= 3:
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        return {" ".join(w)}

    want = set()
    for (ia, a), (ib, b) in itertools.permutations(enumerate(texts), 2):
        ta, tb = tris(a), tris(b)
        if len(ta & tb) / len(ta) >= CONTAIN_T:
            want.add((ia, ib))

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup_shingle_containment(spark, tmp).collect()
        }
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=17),
    h=st.integers(min_value=1, max_value=13),
    data=st.data(),
)
def test_png_codec_roundtrips_arbitrary_rasters(w, h, data):
    """Property: the stdlib PNG codec round-trips ANY 8-bit RGB raster
    byte-exactly under arbitrary per-row filter choices — not just the
    structured fixtures the oracle pins."""
    from dataextractor_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    rows = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * 3, max_size=w * 3
                )
            )
        )
        for _ in range(h)
    ]
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    payload = _encode_png(rows, w, h, lambda y: filters[y])
    assert _decode_png(payload) == (w, h, rows)


@settings(max_examples=25, deadline=None)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=300), min_size=1, max_size=8
    )
)
def test_warc_roundtrips_arbitrary_payloads(payloads):
    """Property: the WARC writer/parser pair round-trips ANY byte
    payloads — including empty ones and ones embedding CRLF runs or
    WARC-lookalike headers — because framing is by declared
    Content-Length, never delimiters."""
    import hashlib

    from dataextractor_spark.operators.multimodal import (
        _parse_warc,
        _warc_record,
    )

    blob = b"".join(
        _warc_record(i, p) for i, p in enumerate(payloads)
    )
    got = _parse_warc(blob)
    assert [(d, n) for d, n, _ in got] == [
        (i, len(p)) for i, p in enumerate(payloads)
    ]
    for (_, _, md5hex), p in zip(got, payloads):
        assert md5hex == hashlib.md5(p).hexdigest()


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=20),
    data=st.data(),
)
def test_gif_codec_roundtrips_arbitrary_rasters(w, h, data):
    """Property: the stdlib GIF/LZW codec round-trips ANY 8-bit
    palette raster byte-exactly — including rasters adversarially
    unlike the structured oracle fixture (random bytes maximize
    dictionary churn; constant bytes maximize the KwKwK case)."""
    from dataextractor_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
    )

    rows = [
        bytes(
            data.draw(
                st.lists(st.integers(0, 255), min_size=w, max_size=w)
            )
        )
        for _ in range(h)
    ]
    payload = _encode_gif(rows, w, h)
    assert _decode_gif(payload) == (w, h, rows)


@settings(max_examples=15, deadline=None)
@given(data=st.binary(min_size=0, max_size=30000))
def test_gif_lzw_roundtrips_past_table_freeze(data):
    """Property: the raw LZW pair agrees for streams long enough to
    cross every code-width boundary and freeze the 4096-entry table
    (the deferred-clear mode most hand-rolled LZWs corrupt)."""
    from dataextractor_spark.operators.multimodal import (
        _lzw_decode_gif,
        _lzw_encode_gif,
    )

    assert _lzw_decode_gif(_lzw_encode_gif(data, 8), 8) == data


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    facts=st.lists(
        st.tuples(st.integers(0, 6), st.integers(-5, 5)), min_size=0, max_size=25
    ),
    dims=st.lists(
        st.tuples(st.integers(0, 6), st.integers(100, 105)),
        min_size=0,
        max_size=10,
    ),
    hot=st.lists(st.integers(0, 6), min_size=0, max_size=4),
    how=st.sampled_from(
        ["inner", "left", "left_semi", "left_anti", "right", "full_outer"]
    ),
    n_salts=st.sampled_from([1, 2, 4]),
    hot_as_df=st.booleans(),
)
def test_salted_join_always_matches_plain_join(
    spark, facts, dims, hot, how, n_salts, hot_as_df
):
    """Property: for ANY fact/dim multiset, ANY declared hot set (even
    keys that are cold or absent), ANY supported mode and salt count,
    and BOTH hot-set forms (plain list and the scale path's
    single-column DataFrame, including an empty one), salted_join is
    row-identical (as a multiset) to the plain join — salting is a
    pure physical rewrite."""
    from dataextractor_spark.functions.skew import salted_join

    if hot_as_df:
        hot_df = spark.createDataFrame(
            [(h,) for h in hot] or [(None,)], "hk int"
        )
        if not hot:
            hot_df = hot_df.filter(F.lit(False))
        hot = hot_df

    f = spark.createDataFrame(facts or [(None, None)], "k int, v int")
    d = spark.createDataFrame(dims or [(None, None)], "dk int, name int")
    if not facts:
        f = f.filter(F.lit(False))
    if not dims:
        d = d.filter(F.lit(False))
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    plain = sorted(
        (tuple(r) for r in f.join(d, f.k == d.dk, how).collect()), key=key
    )
    got = sorted(
        (
            tuple(r)
            for r in salted_join(
                f, d, "k", "dk", hot, n_salts=n_salts, how=how
            ).collect()
        ),
        key=key,
    )
    assert got == plain


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5)),
        min_size=0,
        max_size=15,
    ),
    rights=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 5),
            st.integers(0, 3),
            st.integers(0, 3),
        ),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """Property: for ANY left/right multiset over a tie-rich domain
    (3 keys × 6 timestamps × 4×4 values, so equal-timestamp and
    equal-value collisions are the COMMON case, not the edge case),
    asof_join equals the spec evaluated row-at-a-time in Python: the
    latest right row with the same key and right_ts <= left_ts, ties
    on timestamp resolved to the greatest value tuple. Pins the
    (_ts, _side, _rrow) window ordering — dropping _rrow from the
    sort, or letting left rows sort before simultaneous right rows,
    fails within a handful of examples."""
    from dataextractor_spark.functions.asof import asof_join

    lrows = [(k, t, i) for i, (k, t) in enumerate(lefts)]
    left = spark.createDataFrame(
        lrows or [(None, None, None)], "k int, t int, lid int"
    )
    right = spark.createDataFrame(
        rights or [(None, None, None, None)], "rk int, rt int, v1 int, v2 int"
    )
    if not lrows:
        left = left.filter(F.lit(False))
    if not rights:
        right = right.filter(F.lit(False))

    def expected(k, t):
        cands = [(v1, v2, rt) for rk, rt, v1, v2 in rights
                 if rk == k and rt <= t]
        if not cands:
            return (None, None)
        mx = max(rt for _, _, rt in cands)
        v1, v2 = max((v1, v2) for v1, v2, rt in cands if rt == mx)
        return (v1, v2)

    want = sorted((k, t, i) + expected(k, t) for k, t, i in lrows)
    got = sorted(
        tuple(r)
        for r in asof_join(
            left,
            right,
            left_key="k",
            right_key="rk",
            left_ts="t",
            right_ts="rt",
            value_cols=["v1", "v2"],
        )
        .select("k", "t", "lid", "asof_v1", "asof_v2")
        .collect()
    )
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=20,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Property: large-star/small-star labels equal a driver-side
    union-find on ANY small graph — self-loops, duplicate edges, both
    orientations of the same edge, multi-component shapes, and the
    empty graph all land in the strategy. The fixture-based CC test
    exercises one realistic pair set; this pins the algorithm itself
    (canonicalization, both star phases, the fixed-point certificate,
    root self-labeling) across the whole small-graph space."""
    from dataextractor_spark.functions.graph import connected_components

    df = spark.createDataFrame(edges or [(None, None)], "src int, dst int")
    if not edges:
        df = df.filter(F.lit(False))
    labels, rounds = connected_components(df)
    got = {(r.node, r.component) for r in labels.collect()}

    real = [(a, b) for a, b in edges if a != b]
    nodes = {x for e in real for x in e}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {(n, comp_min[find(n)]) for n in nodes}
    assert got == want
    assert rounds <= 10  # O(log^2 n) on <=10 nodes: single digits


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=15,
    ),
    iterations=st.integers(1, 4),
)
def test_pagerank_matches_power_iteration(spark, pairs, iterations):
    """Property: on ANY symmetric edge multiset (the documented
    no-dangling-nodes contract — each drawn pair contributes both
    directions, duplicates kept), pagerank equals a driver-side
    synchronous power iteration from the uniform start, and total
    mass stays 1. Pins the weight-join/contribution-agg/damping
    algebra across random graphs and sweep counts, where the fixture
    tests check one graph."""
    from dataextractor_spark.functions.pagerank import pagerank

    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r.node: r.rank
        for r in pagerank(df, iterations=iterations).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    deg = {u: 0 for u in nodes}
    for u, _ in edges:
        deg[u] += 1
    r = {u: 1.0 / n for u in nodes}
    for _ in range(iterations):
        contrib = {u: 0.0 for u in nodes}
        for u, v in edges:
            contrib[v] += r[u] / deg[u]
        r = {u: 0.15 / n + 0.85 * contrib[u] for u in nodes}

    assert set(got) == set(nodes)
    for u in nodes:
        assert abs(got[u] - r[u]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _lloyd_oracle(vecs, seeds, max_iter):
    """Driver-side Lloyd replica with kmeans_fit's exact contracts:
    first-min assignment, empty cells keep their previous centroid,
    means over the ORIGINAL vectors. Integer inputs keep every sum
    exact, so the replica is bit-identical, not approximately equal."""
    cents = [list(c) for c in seeds]
    for _ in range(max_iter):
        members: dict[int, list] = {}
        for v in vecs:
            best, bd = 0, None
            for i, c in enumerate(cents):
                d = 0.0
                for x, y in zip(v, c):
                    d += (x - y) * (x - y)
                if bd is None or d < bd:
                    best, bd = i, d
            members.setdefault(best, []).append(v)
        for i, mem in members.items():
            cents[i] = [sum(col) / len(mem) for col in zip(*mem)]
    return cents


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=4,
        max_size=15,
    ),
    k=st.integers(2, 4),
    sweeps=st.integers(1, 3),
    wide_max=st.sampled_from([128, 0]),
)
def test_kmeans_fit_matches_lloyd_oracle(spark, vecs, k, sweeps, wide_max):
    """Property: kmeans_fit on ANY small integer corpus is bit-equal
    to a driver-side Lloyd replica started from the same seeds (taken
    from the deterministic max_iter=0 fit), for BOTH mean-update
    paths (wide-agg and posexplode; wide_agg_max_dim=0 forces the
    latter). The bit-equality invariant: integer coordinates make
    every cluster SUM exact (so Spark's partial-sum order cannot
    introduce float noise), and both paths then produce the mean via
    ONE identical IEEE division of that exact sum by the exact count
    — the quotient itself (e.g. 1/3) need not be representable; it
    just rounds identically on both sides. Any assignment,
    empty-cell, or mean bug therefore shows as an exact mismatch."""
    from dataextractor_spark.functions.kmeans import kmeans_fit

    rows = [(i, [float(a), float(b)]) for i, (a, b) in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    seeds = kmeans_fit(df, k, max_iter=0, wide_agg_max_dim=wide_max)
    got = kmeans_fit(df, k, max_iter=sweeps, wide_agg_max_dim=wide_max)
    want = _lloyd_oracle([list(map(float, v)) for v in vecs], seeds, sweeps)
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.tuples(*([st.integers(0, 7)] * 4)),
        min_size=4,
        max_size=12,
    ),
)
def test_pq_encode_matches_bruteforce(spark, vecs):
    """Property: for codebooks learned on ANY small integer corpus,
    pq_encode's code picks the first-min sub-centroid per subspace
    and recon_err is EXACTLY the summed per-subspace minima (= the
    squared L2 to the decoded reconstruction), recomputed row-by-row
    in Python with the same operation order. Pins the SQL literal
    round-trip (repr-exact doubles), the argmin tiebreak, and the
    fused-fit/encode agreement on codebook indexing."""
    from dataextractor_spark.functions.pq import pq_encode, pq_fit

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_fit(df, m=2, ksub=4, dim=4, max_iter=2)
    got = {
        r.vec_id: (list(r.code), r.recon_err)
        for r in pq_encode(df, books).collect()
    }
    for i, v in rows:
        code, err = [], 0.0
        for j, book in enumerate(books):
            sub = v[2 * j : 2 * j + 2]
            best, bd = 0, None
            for ci, c in enumerate(book):
                d = 0.0
                for x, y in zip(sub, c):
                    d += (x - y) * (x - y)
                if bd is None or d < bd:
                    best, bd = ci, d
            code.append(best)
            err += bd
        assert got[i] == (code, err)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pool=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    picks=st.lists(st.integers(0, 2), min_size=2, max_size=12),
)
def test_minhash_lsh_candidates_include_all_exact_duplicates(
    spark, pool, picks
):
    """Property: MinHash banding is probabilistic for NEAR duplicates
    but must be DETERMINISTIC for exact ones — identical token sets
    hash to identical signatures, hence identical band buckets, so
    every same-text pair (same lang, any text including empty) must
    appear among the candidates, for ANY corpus shape. Also pins the
    candidate surface: ordered pairs, no self-pairs, no pairs across
    langs, and the out-of-band audit sentinel stays null-keyed."""
    from dataextractor_spark.operators.dedup import minhash_lsh_pairs

    texts = [" ".join(pool[i % len(pool)]) for i in picks]
    rows = [(i, "en" if i % 2 else "de", t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = minhash_lsh_pairs(d).collect()
    cands = {
        (r.doc_a, r.doc_b) for r in out if r.doc_a is not None
    }
    want = {
        (a, b)
        for a, (la, ta) in enumerate((r[1], r[2]) for r in rows)
        for b, (lb, tb) in enumerate((r[1], r[2]) for r in rows)
        if a < b and la == lb and sorted(set(ta.split(" ")))
        == sorted(set(tb.split(" ")))
    }
    assert want <= cands, (sorted(want - cands), sorted(cands))
    langs = {i: r[1] for i, r in enumerate(rows)}
    for a, b in cands:
        assert a < b
        assert langs[a] == langs[b]


# --- randomized oracles for the two fixture-weakest operator kernels
#     (r9 verdict item 5): median-of-pairwise-slopes and the degree-
#     ordered triangle census ------------------------------------------


def _round6_half_up(x: float) -> float:
    """Replicate Spark's round(col, 6) on doubles: BigDecimal.valueOf
    goes through Double.toString (shortest round-trip decimal — same
    as Python repr), then HALF_UP (ties away from zero) at scale 6."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _theil_sen_bruteforce(series):
    """Driver-side replica of theil_sen_trend_from_daily on a list of
    (d, cents) integer pairs with distinct d, mirroring the kernel's
    IEEE operation order exactly: slope = double(Δcents) / int(Δd);
    median = avg of the value(s) at 1-indexed ranks ⌊(k+1)/2⌋ and
    ⌈(k+1)/2⌉ of the sorted slopes; OLS from exact integer sums with
    the same cast/associativity as the Spark expression."""
    # the kernel's join orients every unordered pair by a.d < b.d —
    # vacuous here because the caller builds d as a strictly
    # increasing cumulative sum, so enumeration order already has
    # da < db for every pair (no orientation branch needed)
    slopes = sorted(
        float(cb - ca) / (db - da)
        for i, (da, ca) in enumerate(series)
        for db, cb in series[i + 1 :]
    )
    k = len(slopes)
    lo = (k + 1) // 2  # floor((k+1)/2), 1-indexed
    hi = -(-(k + 1) // 2)  # ceil((k+1)/2)
    ts = (
        slopes[lo - 1]
        if lo == hi
        else (slopes[lo - 1] + slopes[hi - 1]) / 2.0
    )
    n = len(series)
    sx = sum(d for d, _ in series)
    sy = sum(c for _, c in series)
    sxx = sum(d * d for d, _ in series)
    sxy = sum(d * c for d, c in series)
    num = float(sxy) - float(sx) * float(sy) / float(n)
    den = float(sxx) - float(sx) * float(sx) / float(n)
    return {
        "n_days": n,
        "n_pairs": k,
        "theil_sen_slope": _round6_half_up(ts),
        "ols_slope": _round6_half_up(num / den),
    }


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    cents=st.lists(st.integers(-1000, 1000), min_size=2, max_size=12),
    gaps=st.lists(st.integers(1, 4), min_size=11, max_size=11),
)
def test_theil_sen_matches_pairwise_bruteforce(spark, cents, gaps):
    """Property: theil_sen_trend_from_daily on ANY small integer
    series equals the brute-force pairwise-slope replica bit-for-bit
    — slopes are one IEEE division of exact integers, the median is a
    rank-selected VALUE (avg of the two middle values for even pair
    counts), and the OLS slope reuses exact integer sums, so there is
    no float-noise tolerance to hide behind. Irregular day gaps make
    the slope denominators vary (the d-distinct contract the kernel
    documents); duplicate cents values make slope TIES common, so the
    range-partitioned two-pass ranking must keep equal keys'
    contiguous ranks for the median value to come out right."""
    from dataextractor_spark.operators.statistics import (
        theil_sen_trend_from_daily,
    )

    ds = [0]
    for g in gaps[: len(cents) - 1]:
        ds.append(ds[-1] + g)
    series = list(zip(ds, cents))
    df = spark.createDataFrame(series, "d int, cents long")
    got = theil_sen_trend_from_daily(df).collect()
    assert len(got) == 1
    assert got[0].asDict() == _theil_sen_bruteforce(series)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
)
def test_triangle_stats_matches_bruteforce_enumeration(spark, raw):
    """Property: triangle_stats on ANY small undirected graph equals
    brute-force triple enumeration — the degree-ordered orientation
    (Suri-Vassilvitskii) must count each triangle EXACTLY once for
    every graph shape, including the tie-heavy ones (many equal
    degrees): dropping the degree-tie clause from the wedge filter
    loses every wedge between equal-degree endpoints (mutation-
    checked: an all-equal-degree triangle counts 0). Note the
    orientation makes over-count structurally impossible — the
    closing semi-join only matches the one oriented direction — so
    under-count is the live failure mode. Node/edge/wedge counts are
    exact integers; the clustering coefficient replica mirrors the
    kernel's 3.0*tri/(wedges2/2) float expression and HALF_UP
    rounding."""
    from hypothesis import assume

    from dataextractor_spark.operators.graph_ops import triangle_stats

    edges = sorted(
        {(min(u, v), max(u, v)) for u, v in raw if u != v}
    )
    assume(edges)
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    wedges2 = sum(d * (d - 1) for d in deg.values())
    assume(wedges2 > 0)  # kernel divides by the wedge count
    eset = set(edges)
    nodes = sorted(deg)
    tri = sum(
        1
        for i, a in enumerate(nodes)
        for j in range(i + 1, len(nodes))
        for m in range(j + 1, len(nodes))
        if (a, nodes[j]) in eset
        and (nodes[j], nodes[m]) in eset
        and (a, nodes[m]) in eset
    )
    df = spark.createDataFrame(edges, "u long, v long")
    got = triangle_stats(pin(df)).collect()
    assert len(got) == 1
    assert got[0].asDict() == {
        "n_nodes": len(nodes),
        "n_edges": len(edges),
        "n_wedges": wedges2 // 2,
        "n_triangles": tri,
        "clustering_coeff": _round6_half_up(
            3.0 * tri / (wedges2 / 2)
        ),
    }


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pool=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    picks=st.lists(st.integers(0, 2), min_size=2, max_size=12),
)
def test_simhash_candidates_include_all_exact_duplicates(
    spark, pool, picks
):
    """Property: SimHash banding is probabilistic for NEAR duplicates
    but DETERMINISTIC for exact ones — identical token SETS (the
    fingerprint unit is array_distinct'd) produce identical 64-bit
    fingerprints, identical 16-bit chunks, and therefore a Hamming-0
    candidate pair, for ANY corpus shape including empty and
    whitespace-only texts. Mirrors the MinHash-LSH completeness
    property so both sketch families carry the same guarantee. Also
    pins the pair surface: doc_a < doc_b, no self-pairs, no cross-lang
    pairs, every reported Hamming within the ≤6 radius, and Hamming 0
    exactly for same-set pairs."""
    from dataextractor_spark.operators.dedup import simhash_pairs

    texts = [" ".join(pool[i % len(pool)]) for i in picks]
    rows = [(i, "en" if i % 2 else "de", t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = simhash_pairs(d).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in out}
    keyset = {i: (r[1], frozenset(r[2].split(" "))) for i, r in enumerate(rows)}
    want_exact = {
        (a, b)
        for a in keyset
        for b in keyset
        if a < b and keyset[a] == keyset[b]
    }
    missing = want_exact - set(got)
    assert not missing, sorted(missing)
    for (a, b), ham in got.items():
        assert a < b
        assert keyset[a][0] == keyset[b][0], f"cross-lang pair {(a, b)}"
        assert 0 <= ham <= 6
        if (a, b) in want_exact:
            assert ham == 0, f"exact-dup pair {(a, b)} has hamming {ham}"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.sets(
            st.sampled_from(
                ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=10,
    ),
    t=st.sampled_from([0.5, 0.8, 0.95]),
)
def test_jaccard_pairs_match_bruteforce_all_pairs(spark, docs, t):
    """Property: jaccard_pairs_from_tokens finds EXACTLY the pairs the
    unfiltered all-pairs Jaccard >= t scan finds, with bit-identical
    similarity values (one IEEE division of exact integer counts,
    HALF_UP-rounded to 6 dp on both sides) — for ANY corpus and for
    BOTH physical strategies: "prefix" (AllPairs/PPJoin pruning, the
    general path) and "auto" (which picks the deletion-neighborhood
    join when max|doc|·(1−t)/t ≤ 1, e.g. t=0.95 here). The filters are
    provably-complete PRUNERS, so any lost pair is a filter-arithmetic
    bug (ceil placement, length-filter direction, positional bound) —
    exactly the class a fixture corpus rarely exercises at the
    boundary."""
    from dataextractor_spark.operators.dedup import (
        jaccard_pairs_from_tokens,
    )

    rows = [
        (i, "en" if i % 2 else "de", sorted(s), len(s))
        for i, s in enumerate(docs)
    ]
    tok = spark.createDataFrame(
        rows, "doc_id long, lang string, toks array<string>, n_toks int"
    )
    want = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            if rows[a][1] != rows[b][1]:
                continue
            inter = len(docs[a] & docs[b])
            j = _round6_half_up(
                inter / (len(docs[a]) + len(docs[b]) - inter)
            )
            if j >= t:
                want[(a, b)] = j
    for strategy in ("prefix", "auto"):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs_from_tokens(tok, t, strategy).collect()
        }
        assert got == want, (
            f"strategy={strategy} t={t}: missing={sorted(set(want) - set(got))} "
            f"extra={sorted(set(got) - set(want))} "
            f"value_diffs={[(k, got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]][:3]}"
        )


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["ant", "bee", "cat", "dog", "elk"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_winnow_fingerprints_match_python_replica(spark, docs):
    """Property: winnow_fingerprints equals the textbook winnowing
    spec (Schleimer-Wilkerson-Aiken) evaluated in Python — k-grams of
    k=5 tokens (docs shorter than k hash their whole token list, the
    MOSS convention), minimum hash per sliding window of w=4 k-grams,
    first-occurrence-ordered distinct — for ANY corpus including
    empty/short docs and repeated tokens (which make duplicate k-gram
    hashes and window-min TIES the common case). The replica builds
    the k-gram STRINGS independently in Python and borrows only
    Spark's xxhash64 primitive for the hash values, so the windowing,
    slicing, truncation, and dedup logic under test is reproduced from
    the spec, not from the implementation."""
    from dataextractor_spark.operators.text import winnow_fingerprints

    k, w = 5, 4
    kgram_strings = {}
    for toks in map(tuple, docs):
        n = len(toks)
        grams = (
            [" ".join(toks[i : i + k]) for i in range(n - k + 1)]
            if n >= k
            else [" ".join(toks)]
        )
        kgram_strings[toks] = grams
    uniq = sorted({g for gs in kgram_strings.values() for g in gs})
    hdf = spark.createDataFrame([(g,) for g in uniq], "g string").select(
        "g", F.xxhash64("g").alias("h")
    )
    h = {r.g: r.h for r in hdf.collect()}
    rows = [(i, "en" if i % 2 else "de", " ".join(ts)) for i, ts in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (list(r.fps), r.n_fps)
        for r in winnow_fingerprints(d, k=k, w=w).collect()
    }
    for i, toks in enumerate(map(tuple, docs)):
        kh = [h[g] for g in kgram_strings[toks]]
        m = len(kh)
        mins = [
            min(kh[j : j + w])
            for j in range(max(m - w + 1, 1))
        ]
        fps, seen = [], set()
        for v in mins:
            if v not in seen:
                seen.add(v)
                fps.append(v)
        assert got[i] == (fps, len(fps)), (
            f"doc {i} toks={toks}: got {got[i]}, want {(fps, len(fps))}"
        )


# ---- label propagation (synchronous, self-vote, smallest-label ties) --


def _lpa_bruteforce(edges: list[tuple[int, int]], sweeps: int = 3) -> dict:
    """Literal synchronous-LPA replica of lpa_labels' vote semantics:
    candidate set per node = per-label NEIGHBOR-ARC counts UNION a
    one-vote row for the node's own current label (the kernel unions a
    cnt=1 self row rather than adding 1, so an own label that also got
    k neighbor votes competes with count max(k, 1), never k+1); winner
    = highest count, ties toward the SMALLEST label."""
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {n: n for n in adj}
    for _ in range(sweeps):
        nxt = {}
        for n, nbrs in adj.items():
            votes: dict[int, int] = {}
            for m in nbrs:
                votes[labels[m]] = votes.get(labels[m], 0) + 1
            votes[labels[n]] = max(votes.get(labels[n], 0), 1)
            best = max(votes.values())
            nxt[n] = min(l for l, c in votes.items() if c == best)
        labels = nxt
    return labels


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
)
# pinned discriminator for mutation (3): on this graph the max(k,1)
# and k+1 self-vote semantics assign nodes 1 and 3 different
# communities by sweep 3 (found by seeded sweep — random graphs alone
# discriminate it too rarely, the two semantics only diverge once a
# neighbor SHARES the node's label, i.e. never in sweep 1)
@example(raw=[(0, 2), (0, 4), (1, 2), (1, 3), (2, 4)])
def test_lpa_labels_matches_synchronous_bruteforce(spark, raw):
    """Property: lpa_labels on ANY small undirected graph equals the
    brute-force synchronous-LPA replica node-by-node. The three
    semantics the lpad-encoded argmax must preserve for the DuckDB
    oracle to hash-match are each discriminated by random graphs in
    this size range (mutation-checked): (1) dropping the cnt=1
    self-vote union lets bipartite components oscillate (a 2-path
    relabels wrong by sweep 2); (2) flipping the tie-break to LARGEST
    label diverges on any tied vote (ubiquitous in sweep 1, where
    every label has count 1); (3) summing the self row into the
    neighbor count instead of unioning it (k+1 vs max(k,1)) flips
    winners whenever the own label is one vote behind."""
    from hypothesis import assume

    from dataextractor_spark.operators.graph_ops import lpa_labels

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw if u != v})
    assume(edges)
    sym = [(u, v) for u, v in edges] + [(v, u) for u, v in edges]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r.node: r.lbl
        for r in lpa_labels(pin(df)).collect()
    }
    assert got == _lpa_bruteforce(edges)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
)
# pinned discriminators (random draws at max_examples=8 can miss
# triangles entirely, leaving the apex/tie mutations uncaught): the
# all-equal-degree triangle catches both dropping "src" from the
# explode (every corner loses its apex credit → t=0 everywhere) and
# dropping the degree-tie wedge clause (no wedge survives at all);
# the pendant node 3 (degree 1) catches removing the d>=2 filter.
@example(raw=[(0, 1), (1, 2), (0, 2)])
@example(raw=[(0, 1), (1, 2), (0, 2), (2, 3)])
def test_local_clustering_cc_matches_bruteforce(spark, raw):
    """Property: local_clustering_cc on ANY small undirected graph
    equals brute-force per-node triangle enumeration in the exact
    integer fixed-point form (c8, cc_decile) — no float tolerance.
    Unlike the global triangle census, the APEX-CREDIT explode must
    hand each found triangle to all three corners: dropping "src"
    from the explode array undercounts every wedge apex
    (mutation-checked: a plain triangle's three nodes each lose their
    only credit at the corner where they are the apex); the
    degree-tie clause in the wedge filter is load-bearing exactly as
    in triangle_stats. Degree-<2 nodes must be absent, not zero
    (coefficient undefined)."""
    from hypothesis import assume

    from dataextractor_spark.operators.graph_ops import local_clustering_cc

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw if u != v})
    assume(edges)
    eset = set(edges)
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    nodes = sorted(deg)
    tri = {n: 0 for n in nodes}
    for i, a in enumerate(nodes):
        for j in range(i + 1, len(nodes)):
            for m in range(j + 1, len(nodes)):
                b, c = nodes[j], nodes[m]
                if (a, b) in eset and (b, c) in eset and (a, c) in eset:
                    tri[a] += 1
                    tri[b] += 1
                    tri[c] += 1
    want = {}
    for n in nodes:
        d, t = deg[n], tri[n]
        if d >= 2:
            want[n] = (
                d,
                (4 * t * 10**8 + d * (d - 1)) // (2 * d * (d - 1)),
                min(9, (20 * t) // (d * (d - 1))),
            )
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        r.node: (r.d, r.c8, r.cc_decile)
        for r in local_clustering_cc(pin(df)).collect()
    }
    assert got == want
