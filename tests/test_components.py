"""Connected-components tests: the two-phase (large-star/small-star)
loop against a pure-Python union-find reference on random graphs, and
its O(log n) round count on a path."""

import numpy as np
import pytest

from lightfusion_spark.operators import dedup


def _union_find(n_vertices, pairs):
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id
    roots = {}
    for v in range(n_vertices):
        r = find(v)
        roots.setdefault(r, v if v < r else r)
    return {v: min(find(v), roots[find(v)]) for v in range(n_vertices)}


def _components(spark, n, pairs, max_iterations=25):
    vs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    ps = spark.createDataFrame(pairs or [(0, 0)], "id_a long, id_b long")
    if not pairs:
        ps = ps.limit(0)
    res = dedup.connected_components_detailed(
        ps, vs, "doc_id", max_iterations=max_iterations
    )
    return {r["doc_id"]: r["component"] for r in res.labels.collect()}, res


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_matches_union_find_on_random_graphs(spark, seed):
    rng = np.random.RandomState(seed)
    n = 60
    pairs = [
        (int(a), int(b))
        for a, b in rng.randint(0, n, size=(45, 2))
        if a != b
    ]
    expected = _union_find(n, pairs)
    got, _ = _components(spark, n, pairs)
    assert got == expected


def test_no_edges_all_singletons(spark):
    got, _ = _components(spark, 5, [])
    assert got == {i: i for i in range(5)}


def test_two_phase_path_graph_converges_in_log_rounds(spark):
    """The motivating case: a 64-node chain. Min-label propagation moves
    the min label one hop per round (O(diameter)); two-phase halves the
    distance per round (O(log n))."""
    n = 64
    pairs = [(i, i + 1) for i in range(n - 1)]
    got, res = _components(spark, n, pairs, max_iterations=25)
    assert got == {i: 0 for i in range(n)}
    assert res.converged and res.rounds <= 10, res.rounds

    # a budget too small for the chain must exhaust LOUDLY: it warns and
    # flags converged=False instead of silently returning under-merged
    # labels
    with pytest.warns(RuntimeWarning, match="max_iterations"):
        got_short, res = _components(spark, n, pairs, max_iterations=2)
    assert not res.converged and res.rounds == 2
    assert got_short != {i: 0 for i in range(n)}


def test_detailed_result_reports_rounds_and_convergence(spark):
    vs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    ps = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    res = dedup.connected_components_detailed(ps, vs, "doc_id")
    assert res.converged and res.rounds >= 1
    got = {r["doc_id"]: r["component"] for r in res.labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}


def test_incremental_dedup_nulls_and_membership(spark):
    """NULL contents are equal to each other: they dedupe against NULL
    corpus rows and within the batch, instead of slipping through the
    anti-join under SQL null-equality."""
    new = spark.createDataFrame(
        [(1, "seen"), (2, "fresh"), (3, None), (4, None), (5, "fresh")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(100, "seen"), (101, None)], "doc_id long, text string"
    )
    out = {r["doc_id"] for r in
           dedup.incremental_dedup(new, corpus, "doc_id", "text").collect()}
    # 'seen' and NULLs exist in the corpus -> dropped; 'fresh' kept once
    assert out == {2}

    # without corpus NULLs, batch NULLs collapse to one survivor
    corpus2 = spark.createDataFrame([(100, "seen")], "doc_id long, text string")
    out2 = {r["doc_id"] for r in
            dedup.incremental_dedup(new, corpus2, "doc_id", "text").collect()}
    assert out2 == {2, 3}


def test_exact_dedup_hash_key_rejects_non_string(spark):
    df = spark.createDataFrame([(1, 2.5)], "doc_id long, val double")
    with pytest.raises(ValueError, match="string"):
        dedup.exact_dedup(df, ["val"], "doc_id", hash_shuffle_key=True)


def test_remove_duplicate_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e unique tail one"),
            (2, "x y a b c d e other words here"),
            (3, "totally different content z"),
            (4, "short"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in dedup.remove_duplicate_spans(
            docs, "doc_id", "text", ngram=5
        ).collect()
    }
    # the shared 5-gram "a b c d e" is excised from BOTH docs; everything
    # else (including docs shorter than the n-gram) passes through whole
    assert out[1] == ("unique tail one", 8, 5)
    assert out[2] == ("x y other words here", 10, 5)
    assert out[3] == ("totally different content z", 4, 0)
    assert out[4] == ("short", 1, 0)

    # within-doc repetition counts as duplication too
    rep = spark.createDataFrame(
        [(1, "p q r s t p q r s t mid")], ["doc_id", "text"]
    )
    (row,) = dedup.remove_duplicate_spans(rep, "doc_id", "text", ngram=5).collect()
    assert row["clean_text"] == "mid" and row["n_removed"] == 10

    with pytest.raises(ValueError, match="ngram"):
        dedup.remove_duplicate_spans(docs, "doc_id", "text", ngram=0)


def test_remove_duplicate_spans_null_text(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in dedup.remove_duplicate_spans(
            docs, "doc_id", "text", ngram=2
        ).collect()
    }
    # NULL text -> the empty document, never NULL output
    assert out[1] == ("", 1, 0)
    assert out[2] == ("a b c", 3, 0)


def test_exact_dedup_hash_key_reports_missing_column(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not in the DataFrame"):
        dedup.exact_dedup(df, ["nope"], "doc_id", hash_shuffle_key=True)


def test_exact_dedup_rejects_temp_column_collisions(spark):
    hashed = spark.createDataFrame(
        [(1, "x", "boom")], "doc_id long, text string, _fp_text string"
    )
    with pytest.raises(ValueError, match="_fp_text"):
        dedup.exact_dedup(hashed, ["text"], "doc_id", hash_shuffle_key=True)
    plain = spark.createDataFrame([(1, "x", 9)], "doc_id long, text string, _rn int")
    with pytest.raises(ValueError, match="_rn"):
        dedup.exact_dedup(plain, ["text"], "doc_id")


def test_span_and_minhash_checkpoint_path_parity(spark, tmp_path):
    """checkpoint_path= (bucketed parquet intermediate) must return
    byte-identical results to the default .cache() path — the 100 TB
    spill story with no semantic drift."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e unique tail one"),
            (2, "x y a b c d e other words here"),
            (3, "totally different content z"),
            (4, "a b c d e other words here too"),
        ],
        ["doc_id", "text"],
    )
    base_spans = sorted(
        map(tuple, dedup.remove_duplicate_spans(docs, "doc_id", "text", ngram=5).collect())
    )
    ckpt_spans = sorted(
        map(
            tuple,
            dedup.remove_duplicate_spans(
                docs, "doc_id", "text", ngram=5,
                checkpoint_path=str(tmp_path / "grams"), checkpoint_buckets=4,
            ).collect(),
        )
    )
    assert ckpt_spans == base_spans

    kwargs = dict(n_hashes=8, rows_per_band=2, shingle_n=2, threshold=0.3)
    base_mh = sorted(
        map(tuple, dedup.minhash_near_duplicates(docs, "doc_id", "text", **kwargs).collect())
    )
    ckpt_mh = sorted(
        map(
            tuple,
            dedup.minhash_near_duplicates(
                docs, "doc_id", "text", **kwargs,
                checkpoint_path=str(tmp_path / "shingles"), checkpoint_buckets=4,
            ).collect(),
        )
    )
    assert ckpt_mh == base_mh and len(base_mh) > 0


def test_minhash_incremental_cross_side_pairs(spark):
    """Incremental fuzzy dedup pairs arrivals against the corpus ONLY:
    near-dups inside the batch or inside the corpus must not appear."""
    corpus = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "totally different corpus content here now ok"),
            (102, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 100
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 100
            (2, "alpha beta gamma delta epsilon zeta eta thetaX"),  # near-dup of 1
            (3, "fresh unrelated arrival text with new words"),
        ],
        "doc_id long, text string",
    )
    from lightfusion_spark.operators import dedup

    pairs = dedup.minhash_incremental(
        new, corpus, "doc_id", "text", n_hashes=8, rows_per_band=2,
        shingle_n=2, threshold=0.5,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # id_a always from the batch, id_b always from the corpus
    assert all(a < 100 <= b for a, b in got)
    assert (1, 100) in got and (1, 102) in got
    # the batch-internal near-dup (1,2) and corpus-internal (100,102)
    # never appear — they are the batch/corpus variants' job
    assert (1, 2) not in got and (2, 1) not in got
    assert (100, 102) not in got
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_cluster_report_distribution(spark):
    # components: {0,1,2} (size 3), {3,4} (size 2), {5} and {6} singletons
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5), (6, 6)],
        "doc_id long, component long",
    )
    rows = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dedup.cluster_report(labels, "doc_id").collect()
    }
    assert rows == {3: (1, 3), 2: (1, 2), 1: (2, 2)}
