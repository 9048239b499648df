import pytest
from pyspark.sql import functions as F

from geoglue_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "completely different text about spark query engines and shuffles ok"),
        (6, "unrelated short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_stats(spark, docs):
    row = D.exact_dedup_stats(docs, "text").collect()[0]
    assert row.n_docs == 6 and row.n_distinct == 5 and row.n_dupes == 1


def test_exact_dedup_keep_first(spark, docs):
    kept = D.exact_dedup_keep_first(docs, "text", "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4, 5, 6]  # doc 2 dropped, smallest id kept


def test_minhash_finds_near_dupes(spark, docs):
    pairs = D.minhash_near_dupes(docs, "text", "doc_id", min_jaccard=0.3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert (1, 2) in got  # exact dup: jaccard 1.0
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert (4, 5) in got
    assert not any(6 in p for p in got)
    exact = pairs[(pairs.id_a == 1) & (pairs.id_b == 2)].jaccard_est.iloc[0]
    assert exact == 1.0


def test_minhash_jaccard_estimate_close_to_exact(spark, docs):
    pairs = D.minhash_near_dupes(docs, "text", "doc_id", min_jaccard=0.2)
    verified = D.ngram_jaccard_pairs(docs, pairs, "text", "doc_id").toPandas()
    for _, r in verified.iterrows():
        assert abs(r.jaccard_est - r.jaccard) < 0.25, (r.id_a, r.id_b)


def test_simhash_near_dupes(spark, docs):
    pairs = D.simhash_near_dupes(docs, "text", "doc_id", max_hamming=10).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert (1, 2) in got
    ham = pairs[(pairs.id_a == 1) & (pairs.id_b == 2)].hamming.iloc[0]
    assert ham == 0


def test_phash_near_dupes_on_images(spark):
    from geoglue_spark.synth import DUP_EVERY, images_table

    imgs = images_table(spark, 400)
    pairs = D.phash_near_dupes(imgs, "phash", "image_id", max_hamming=0).toPandas()
    # injected dups: content of i == content of i-1 for i % 97 == 0 (i>0)
    injected = {
        (f"img{i-1:012d}", f"img{i:012d}") for i in range(DUP_EVERY, 400, DUP_EVERY)
    }
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert injected <= got


def test_embedding_near_dupes(spark):
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(3))
    base = rng.standard_normal((20, 16))
    vecs = list(base)
    vecs.append(base[0] + rng.standard_normal(16) * 0.01)  # near-dup of 0 -> id 20
    vecs.append(base[5])  # exact dup of 5 -> id 21
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = D.embedding_near_dupes(df, min_cosine=0.98).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert (0, 20) in got and (5, 21) in got
    exact = pairs[(pairs.id_a == 5) & (pairs.id_b == 21)].cosine.iloc[0]
    assert exact == 1.0
    # random independent gaussians must not collide at 0.98
    assert all(a in (0, 5) or b in (20, 21) for a, b in got)


def test_embedding_near_dupes_nonexact_cosine(spark):
    """Radius-2 multiprobe must recover a true 0.92-cosine pair at
    min_cosine=0.9 (radius-1 under-recalled: expected signature distance at
    cos 0.9 is ~1.7 bits for 12-bit signatures)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(11))
    found = 0
    n_trials = 8
    for trial in range(n_trials):
        base = rng.standard_normal((30, 16))
        v = base[0] / np.linalg.norm(base[0])
        o = rng.standard_normal(16)
        o -= (o @ v) * v
        o /= np.linalg.norm(o)
        tgt = 0.92 * v + np.sqrt(1 - 0.92**2) * o  # exact cosine 0.92 with v
        vecs = list(base) + [tgt * 3.0]
        rows = [(i, [float(x) for x in w]) for i, w in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # strategy pinned to lsh: auto would pick the exact path at this n
        # and recall 1.0 trivially — this test exists to pin MULTIPROBE
        pairs = D.embedding_near_dupes(df, min_cosine=0.9, strategy="lsh").toPandas()
        if (0, 30) in set(map(tuple, pairs[["id_a", "id_b"]].values)):
            found += 1
    assert found >= 6, f"recall too low: {found}/{n_trials}"


def test_phash_banding_recovers_mid_hamming_pairs(spark):
    """Pigeonhole banding (n_bands = h+1) must find EVERY pair within
    max_hamming — including distances > sig_bits/4 that the old fixed
    4-band layout missed."""
    def as_i64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    base = 0x123456789ABCDEF0
    flipped5 = base ^ ((1 << 3) | (1 << 17) | (1 << 31) | (1 << 45) | (1 << 59))
    flipped8 = as_i64(base ^ sum(1 << b for b in (1, 9, 18, 27, 36, 45, 54, 63)))
    df = spark.createDataFrame(
        [(0, base), (1, flipped5), (2, flipped8)],
        "image_id long, phash long",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.phash_near_dupes(df, "phash", "image_id", max_hamming=8).collect()
    }
    assert got[(0, 1)] == 5 and got[(0, 2)] == 8
    with pytest.raises(ValueError, match="pigeonhole"):
        D.phash_near_dupes(df, "phash", "image_id", max_hamming=8, n_bands=4)


def test_first_band_filter_emits_each_pair_exactly_once(spark):
    """r6: the pair join dedups by emitting only from the FIRST matching
    band (bit filter) instead of a distinct shuffle. A pair matching in
    EVERY band (identical hashes) and pairs matching in several bands
    must still appear exactly once, with the right hamming."""
    base = 0x0123456789ABCDE
    rows = [
        (0, base),
        (1, base),                      # identical: matches all bands
        (2, base ^ (1 << 2)),           # 1 bit off: matches all but one
        (3, base ^ ((1 << 2) | (1 << 40))),  # 2 bits in 2 bands
    ]
    df = spark.createDataFrame(rows, "image_id long, phash long")
    out = D.phash_near_dupes(
        df, "phash", "image_id", max_hamming=4, sig_bits=60
    ).toPandas()
    keys = list(map(tuple, out[["id_a", "id_b"]].values))
    assert sorted(keys) == sorted(set(keys)), "duplicate pair emitted"
    got = {(r.id_a, r.id_b): r.hamming for r in out.itertuples()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 1 and got[(2, 3)] == 1
    assert got[(0, 3)] == 2 and got[(1, 2)] == 1 and got[(1, 3)] == 2


def test_connected_components_assume_unique_pairs_identical(spark):
    """r6: assume_unique_pairs=True skips the edge-dedup shuffle; the
    labeling must be identical to the default path on a unique pair list
    (and on a DUPLICATED pair list the default still dedups)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    a = sorted(map(tuple, D.connected_components(pairs).toPandas().values.tolist()))
    b = sorted(
        map(
            tuple,
            D.connected_components(pairs, assume_unique_pairs=True)
            .toPandas()
            .values.tolist(),
        )
    )
    assert a == b
    assert {c for _, c in a} == {1, 10, 20}


def test_dedup_determinism_across_partitionings(spark, docs):
    a = D.minhash_near_dupes(docs.repartition(1), "text", "doc_id", min_jaccard=0.2)
    b = D.minhash_near_dupes(docs.repartition(7), "text", "doc_id", min_jaccard=0.2)
    pa = sorted(map(tuple, a.toPandas().values.tolist()))
    pb = sorted(map(tuple, b.toPandas().values.tolist()))
    assert pa == pb


def test_signature_paths_agree(spark, docs):
    """The explode+aggregate signature pipelines must equal the Column-
    expression reference implementations exactly."""
    from pyspark.sql import functions as F

    ref = {
        r.doc_id: (r.mh, r.sh)
        for r in docs.select(
            "doc_id",
            D.minhash_sig_col(F.col("text")).alias("mh"),
            D.simhash_col(F.col("text")).alias("sh"),
        ).collect()
    }
    mh = {r._id: r._sig for r in D.minhash_signatures(docs, "text", "doc_id").collect()}
    sh = {r._id: r.phash for r in D.simhash_signatures(docs, "text", "doc_id").collect()}
    for d, (m, s) in ref.items():
        assert mh[d] == m, d
        assert sh[d] == s, d


def test_signature_snapshot_regression(spark):
    """Hard-coded signature values pin the hash family across refactors:
    any change to shingle hashing, the universal-hash params, or the
    simhash bit definition must show up here deliberately."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    r = df.select(
        D.minhash_sig_col(F.col("text")).alias("mh"),
        D.simhash_col(F.col("text")).alias("sh"),
    ).collect()[0]
    assert list(r.mh[:8]) == [
        306199603, 774871266, 23279299, 140497868,
        1351162036, 401762940, 137147622, 290966488,
    ]
    assert r.sh == 411798662883495910


def test_null_text_keeps_documents(spark):
    """NULL text must behave like '' — the doc keeps a signature instead of
    silently vanishing from near-dup pipelines (review regression)."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real text here")], "doc_id long, text string"
    )
    mh = {r._id: r._sig for r in D.minhash_signatures(df, "text", "doc_id").collect()}
    sh = {r._id: r.phash for r in D.simhash_signatures(df, "text", "doc_id").collect()}
    assert set(mh) == {1, 2, 3} and set(sh) == {1, 2, 3}
    assert mh[1] == mh[2]  # NULL == '' signature
    assert sh[1] == sh[2] == 0
    # and the pair pipelines surface the NULL/blank duo as exact dupes
    pairs = D.simhash_near_dupes(df, "text", "doc_id", max_hamming=0).toPandas()
    assert (1, 2) in set(map(tuple, pairs[["id_a", "id_b"]].values))

def test_bucket_guard_raises_on_low_entropy_corpus(spark):
    """Adversarial corpus: many rows share one band bucket. The lazy guard
    must fail the job with the blow-up message instead of silently running
    a quadratic self-join (the 100-TB failure mode, r2 verdict #1)."""
    from py4j.protocol import Py4JJavaError

    rows = [(i, 0x0F0F0F0F0F0F0F0F) for i in range(64)]  # identical hashes
    df = spark.createDataFrame(rows, "image_id long, phash long")
    with pytest.raises(Exception, match="bucket overflow"):
        D.phash_near_dupes(
            df, "phash", "image_id", max_hamming=8, bucket_cap=16
        ).collect()


def test_bucket_guard_salt_mode_identical_output(spark):
    """on_overflow='salt' spreads hot buckets across sub-buckets but must
    emit the IDENTICAL pair set (each pair meets in exactly one slot)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    # low-entropy hashes: only 8 distinct values over 200 rows -> every
    # bucket is hot at cap=5
    vals = rng.integers(0, 8, size=200)
    rows = [(int(i), int(v) * 0x1111) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "image_id long, phash long")
    unguarded = D.phash_near_dupes(
        df, "phash", "image_id", max_hamming=8, bucket_cap=None
    )
    salted = D.phash_near_dupes(
        df, "phash", "image_id", max_hamming=8, bucket_cap=5, on_overflow="salt"
    )
    pa = sorted(map(tuple, unguarded.toPandas().values.tolist()))
    pb = sorted(map(tuple, salted.toPandas().values.tolist()))
    assert pa == pb and len(pa) > 0


def test_guard_default_does_not_change_results(spark, docs):
    """Default guard (cap 100k, raise) on a healthy corpus: same pairs as
    the unguarded path."""
    g = D.simhash_near_dupes(docs, "text", "doc_id", max_hamming=10)
    u = D.simhash_near_dupes(docs, "text", "doc_id", max_hamming=10, bucket_cap=None)
    assert sorted(map(tuple, g.toPandas().values.tolist())) == sorted(
        map(tuple, u.toPandas().values.tolist())
    )


def test_plan_construction_launches_no_jobs(spark, docs):
    """Library construction must stay cheap: knn_join builds with ZERO
    Spark jobs (r2 verdict #7). embedding_near_dupes materializes its
    signature cache ONCE per input (r4 verdict #2 — the count that also
    sizes the broadcast strategy); REPEAT construction over the same
    input must be job-free (weak-keyed count memo)."""
    from geoglue_spark.grids import Grid
    from geoglue_spark.operators.knn import knn_join

    sc = spark.sparkContext
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    pts = spark.createDataFrame([(1, 0.5, 0.5)], "pid long, lon double, lat double")
    cents = spark.createDataFrame(
        [("A", 0.6, 0.6)], "admin_id string, clon double, clat double"
    )
    grid = Grid(x0=0.0, dx=0.1, nx=100, y0=0.0, dy=0.1, ny=100)
    _ = D.embedding_near_dupes(emb, min_cosine=0.9)  # first build: 1 count job
    sc.setJobGroup("plan-construction-probe", "no jobs expected")
    try:
        _ = D.embedding_near_dupes(emb, min_cosine=0.9)
        _ = knn_join(pts, cents, grid, k=1, id_cols=["pid"])
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("plan-construction-probe")) == []


def test_embedding_near_dupes_shuffle_free_plan(spark):
    """r4 verdict #2: below the broadcast threshold the whole plan is
    SHUFFLE-FREE — candidate pairs are provably unique (distinct XOR
    masks), so there is no dedup aggregate, and the candidate join plus
    both vector re-joins are broadcast hash joins.

    Pair uniqueness is also asserted on data: a radius-2 clique (three
    vectors pairwise within 2 signature bits) must yield each pair
    exactly once."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    out = D.embedding_near_dupes(emb, min_cosine=0.9, strategy="lsh")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0
    # r6: the exact-cosine stage scores (id_a, id_b) against a broadcast
    # matrix, so the two vector re-joins are GONE — the candidate join is
    # the plan's only join, and the verify stage is one Arrow eval over
    # 16-byte id pairs instead of two 512-byte vector columns per row
    assert plan.count("BroadcastHashJoin") == 1
    assert "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan
    # identical vectors (equal signatures, pairwise hamming 0) — every
    # pair must appear exactly once despite 79 probes each
    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    pairs = D.embedding_near_dupes(same, min_cosine=0.9, strategy="lsh").collect()
    keys = [(r.id_a, r.id_b) for r in pairs]
    assert sorted(keys) == sorted(set(keys)) and len(keys) == 6


def test_embedding_exact_strategy_plan_and_parity(spark):
    """Auto picks the single-task gram-matrix path below exact_max_n: the
    plan has NO joins and exactly one exchange (the coalescing
    repartition); pair output is value-identical to the LSH strategy on
    the same input (superset recall is impossible to see here — every
    true pair is within multiprobe radius by construction)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(29))
    base = rng.standard_normal((40, 16))
    vecs = list(base) + [base[3], base[7] + rng.standard_normal(16) * 0.005]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = D.embedding_near_dupes(df, min_cosine=0.98)  # auto -> exact
    plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") == 1  # the single-partition coalesce

    got_exact = {
        (r.id_a, r.id_b, r.cosine) for r in exact.collect()
    }
    got_lsh = {
        (r.id_a, r.id_b, r.cosine)
        for r in D.embedding_near_dupes(
            df, min_cosine=0.98, strategy="lsh"
        ).collect()
    }
    assert got_exact == got_lsh
    assert any(a == 3 and c == 1.0 for a, _, c in got_exact)
    # forcing exact above the guard is an explicit choice, never automatic
    forced = D.embedding_near_dupes(
        df, min_cosine=0.98, strategy="exact", exact_max_n=1
    )
    assert {(r.id_a, r.id_b) for r in forced.collect()} == {
        (a, b) for a, b, _ in got_exact
    }


def test_signature_caches_released_across_calls(spark, docs):
    """Repeated dedup invocations must not accumulate pinned storage: at
    most one signature cache per operator stays, and
    release_signature_caches() frees those too (ADVICE r2)."""
    def n_cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    D.release_signature_caches(spark)
    spark.catalog.clearCache()
    base = n_cached()
    for _ in range(3):
        D.minhash_near_dupes(docs, "text", "doc_id", min_jaccard=0.3).count()
    for _ in range(2):
        D.simhash_near_dupes(docs, "text", "doc_id", max_hamming=4).count()
    # one live cache per operator family (minhash sig, simhash sig, band
    # rows), not one per CALL
    assert n_cached() <= base + 3
    D.release_signature_caches(spark)
    assert n_cached() <= base


def test_scoped_cache_interleaved_inputs(spark, docs):
    """r3 verdict defect #2: two DIFFERENT-input dedup plans interleaved on
    one session must both complete correctly AND both keep their signature
    caches (capacity-2 LRU — neither evicts the other mid-plan)."""
    other = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),
         (11, "alpha beta gamma delta epsilon zeta eta theta"),
         (12, "totally disjoint content nine ten eleven twelve")],
        "doc_id long, text string",
    )
    D.release_signature_caches(spark)
    # build BOTH plans before executing either — the r3 single-slot cache
    # would have unpersisted docs' signatures when `other`'s plan was built
    p1 = D.minhash_near_dupes(docs, "text", "doc_id", min_jaccard=0.3)
    p2 = D.minhash_near_dupes(other, "text", "doc_id", min_jaccard=0.3)
    got1 = {(r.id_a, r.id_b) for r in p1.collect()}
    got2 = {(r.id_a, r.id_b) for r in p2.collect()}
    assert (1, 2) in got1 and (10, 11) in got2 and not any(12 in p for p in got2)
    key = (spark.sparkContext.applicationId, "minhash")
    assert len(D._SIG_CACHE.get(key, [])) == 2  # both inputs stayed cached
    # same-input reuse across the interleave: a THIRD call on docs returns
    # the already-cached frame (is-identity, no recompute)
    import geoglue_spark.operators.dedup as dd
    sig_before = dd._SIG_CACHE[key][:]
    D.minhash_near_dupes(docs, "text", "doc_id", min_jaccard=0.3)
    assert any(s is c for s in sig_before for c in dd._SIG_CACHE[key])
    D.release_signature_caches(spark)


def test_connected_components_random_graph(spark):
    """200-node random graph vs a NumPy union-find oracle."""
    import numpy as np

    rng = np.random.default_rng(7)
    edges = rng.integers(0, 200, size=(150, 2))
    edges = edges[edges[:, 0] != edges[:, 1]]

    parent = np.arange(200)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = sorted(set(edges.ravel().tolist()))
    want = {}
    roots = {}
    for n in nodes:
        r = find(n)
        roots.setdefault(r, n)  # min id per root (nodes iterated ascending)
        want[n] = roots[r]

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in D.connected_components(pairs).collect()}
    assert got == want


def test_connected_components_chain_converges(spark):
    """31-node chain (diameter 30): pointer jumping converges well inside
    max_iter where plain propagation would need 30 rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in D.connected_components(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(31)}


def test_near_dedup_keep_first_transitive(spark):
    """A~B, B~C must drop BOTH B and C (transitive group), not just the
    paired loser; untouched rows survive."""
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in D.near_dedup_keep_first(df, pairs, "doc_id").collect()
    )
    assert kept == [0, 3, 4]


def test_elect_cluster_representatives(spark):
    """Highest-score member survives per transitive cluster; ties break to
    the smallest id; NULL scores lose to any non-NULL; an all-NULL cluster
    still elects its min-id member; unpaired rows survive untouched."""
    df = spark.createDataFrame(
        [
            (0, 0.2),   # cluster {0,1,2}: 1 has best score
            (1, 0.9),
            (2, 0.9),   # tie with 1 -> min id 1 wins
            (3, None),  # unpaired, NULL score: survives regardless
            (4, None),  # cluster {4,5}: all-NULL -> min id 4
            (5, None),
            (6, 0.1),   # cluster {6,7}: 7 beats 6 despite larger id
            (7, 0.8),
        ],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id
        for r in D.elect_cluster_representatives(
            df, pairs, "doc_id", "quality"
        ).collect()
    )
    assert kept == [1, 3, 4, 7]


def test_elect_cluster_representatives_matches_python_oracle(spark):
    """Random graph + random scores vs a pure-Python union-find oracle."""
    import numpy as np

    rng = np.random.default_rng(23)
    n = 120
    edges = rng.integers(0, n, size=(80, 2))
    edges = edges[edges[:, 0] != edges[:, 1]]
    scores = np.round(rng.random(n), 3)

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(int(a))] = find(int(b))
    clusters = {}
    for i in range(n):
        clusters.setdefault(find(i), []).append(i)
    paired = set(edges.ravel().tolist())
    want = set()
    for members in clusters.values():
        members = [m for m in members if m in paired]
        if not members:
            continue
        best = max(scores[m] for m in members)
        want.add(min(m for m in members if scores[m] == best))
    want |= set(range(n)) - paired  # unpaired rows always survive

    df = spark.createDataFrame(
        [(i, float(scores[i])) for i in range(n)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r.doc_id
        for r in D.elect_cluster_representatives(
            df, pairs, "doc_id", "quality"
        ).collect()
    }
    assert got == want


def test_exact_dedup_stats_null_text_consistent_with_keep_first(spark):
    """NULL text is ONE distinct cluster in stats, matching keep_first's
    retention of one NULL-text row (count_distinct used to skip it)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x"), (5, "y")],
        "doc_id long, text string",
    )
    row = D.exact_dedup_stats(df, "text").collect()[0]
    assert (row.n_docs, row.n_distinct, row.n_dupes) == (5, 3, 2)
    kept = D.exact_dedup_keep_first(df, "text", "doc_id").count()
    assert kept == row.n_distinct


def test_minhash_rejects_bad_band_count(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bands in (0, 10, 128):  # non-divisor and > n_perm
        with pytest.raises(ValueError, match="bands"):
            D.minhash_near_dupes(df, "text", "doc_id", n_perm=64, bands=bands)


def test_simhash_signatures_rejects_too_many_bits(spark):
    """Beyond 60 bits the (1 << b) vote terms overflow a signed long; the
    frame path must refuse like simhash_col, not fail later in analysis."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"n_bits must be in \[1, 60\]"):
        D.simhash_signatures(df, "text", "doc_id", n_bits=61)
    with pytest.raises(ValueError, match=r"n_bits must be in \[1, 60\]"):
        D.simhash_signatures(df, "text", "doc_id", n_bits=0)


def test_pair_cosine_by_id_rejects_unknown_ids(spark):
    """A candidate id missing from the collected vector snapshot must raise,
    naming the id, instead of scoring against the snapshot's last row."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "_id long, _v array<double>"
    ).cache()
    try:
        cos = D._pair_cosine_by_id_udf(vecs)
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        assert pairs.select(cos("id_a", "id_b").alias("c")).first().c == 0.0
        bad = spark.createDataFrame([(1, 2), (1, 99)], "id_a long, id_b long")
        with pytest.raises(Exception, match=r"not in the collected vector snapshot of 2 ids: \[99\]"):
            bad.select(cos("id_a", "id_b")).collect()
    finally:
        vecs.unpersist()
