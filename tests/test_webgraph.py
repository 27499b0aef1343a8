"""operators/webgraph.py: link extraction + PageRank.

The registered queries (pipe_web_links, pipe_web_pagerank) pin the
DuckDB-replayable faces; these tests pin the semantics the oracle can't
express — convergence mode, the exhaustion warning, dangling-mass
conservation, NetworkX-free reference parity, and href resolution rules.
"""

import math
import warnings

import pytest
from pyspark.sql import functions as F

from lightfusion_spark.operators import webgraph


def _reference_pagerank(n, edges, damping=0.85, iters=50):
    """Driver-side dense power iteration — an independent oracle."""
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    ranks = {v: 1.0 / n for v in range(n)}
    for _ in range(iters):
        dm = sum(ranks[v] for v in range(n) if v not in out)
        base = (1.0 - damping) / n
        new = {v: base + damping * dm / n for v in range(n)}
        for s, ds in out.items():
            share = ranks[s] / len(ds)
            for d in ds:
                new[d] += damping * share
        ranks = new
    return ranks


def _pr(spark, n, edges, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    return webgraph.pagerank_detailed(e, **kw)


def test_matches_reference_on_a_cycle_with_chord(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    res = _pr(spark, 4, edges, iterations=None, tol=1e-12, max_iterations=100)
    assert res.converged
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    want = _reference_pagerank(4, edges, iters=200)
    for v in range(4):
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_dangling_mass_conserved(spark):
    # node 2 has no out-edges: its mass must redistribute, and total
    # rank must stay exactly 1 (up to float accumulation).
    edges = [(0, 1), (1, 2), (3, 2)]
    res = _pr(spark, 4, edges, iterations=8)
    total = sum(r["rank"] for r in res.ranks.collect())
    assert total == pytest.approx(1.0, abs=1e-12)


def test_fixed_iterations_runs_exactly_and_reports_converged(spark):
    res = _pr(spark, 3, [(0, 1), (1, 2), (2, 0)], iterations=3)
    assert res.iterations == 3 and res.converged


def test_exhaustion_warns_and_flags(spark):
    # a negative tol can never be reached (the L1 delta is >= 0): the
    # loop must exhaust LOUDLY (the connected-components round-6
    # lesson), not return silently.  (tol=0.0 is reachable: a symmetric
    # cycle sits at its exact fixed point from iteration 1.)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = _pr(
            spark, 3, [(0, 1), (1, 2), (2, 0)],
            iterations=None, tol=-1.0, max_iterations=2,
        )
    assert not res.converged and res.iterations == 2
    assert any("unconverged" in str(x.message) for x in w)


def test_exhaustion_warning_names_the_callers_line(spark):
    # the loops share one exhaustion warning; it must point at the line
    # that called the operator (here, each lambda), not into the
    # package, whether the call goes through a plain operator, its
    # `_detailed` form or PageRank's shared rank walk
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    calls = [
        lambda: webgraph.pagerank(edges, tol=-1.0, max_iterations=1),
        lambda: webgraph.personalized_pagerank_detailed(
            edges, seeds, tol=-1.0, max_iterations=1
        ),
        lambda: webgraph.label_propagation(edges, max_iterations=1),
        lambda: webgraph.k_core_detailed(edges, k=3, max_iterations=1),
    ]
    for call in calls:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            call()
        assert [
            (x.filename, x.lineno) for x in w if x.category is RuntimeWarning
        ] == [(__file__, call.__code__.co_firstlineno)]


def test_every_vertex_ranked_including_sink_only(spark):
    # vertex 5 appears only as a destination; it must still get a rank.
    res = _pr(spark, 6, [(0, 5), (1, 5), (2, 5), (3, 5), (4, 5)], iterations=4)
    rows = {r["node"]: r["rank"] for r in res.ranks.collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5}
    assert rows[5] == max(rows.values())  # everyone links to 5


def test_extract_links_resolution_rules(spark):
    df = spark.createDataFrame(
        [
            (
                "https://ex.com/a/b?q=1",
                '<a href="https://other.org/x">abs</a>'
                '<a href="//cdn.net/lib.js">proto</a>'
                '<a href="/root">rooted</a>'
                '<a href="sibling.html">rel</a>'
                '<a href="mailto:x@y.z">mail</a>'
                '<a href="#frag">frag</a>',
            )
        ],
        "url string, html string",
    )
    links = sorted(
        r["link"] for r in webgraph.extract_links(df, "url", "html").collect()
    )
    # relative path / mailto / fragment dropped; the three resolvable kept
    assert links == [
        "https://cdn.net/lib.js",
        "https://ex.com/root",
        "https://other.org/x",
    ]


def test_host_graph_drops_self_loops_and_lowercases(spark):
    df = spark.createDataFrame(
        [
            ("https://EX.com/a", "https://ex.com/b"),  # self after lowering
            ("https://ex.com/a", "https://Other.ORG/x"),
        ],
        "target_uri string, link string",
    )
    got = [(r["src"], r["dst"]) for r in webgraph.host_graph(df).collect()]
    assert got == [("ex.com", "other.org")]


def test_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    res = webgraph.pagerank_detailed(e, iterations=3)
    assert res.converged and res.ranks.count() == 0


def _reference_ppr(n, edges, seeds, damping=0.85, iters=50):
    """Driver-side dense personalized power iteration — an independent
    oracle (teleport + dangling mass land on seeds only)."""
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    ns = len(seeds)
    ranks = {v: (1.0 / ns if v in seeds else 0.0) for v in range(n)}
    for _ in range(iters):
        dm = sum(ranks[v] for v in range(n) if v not in out)
        new = {
            v: ((1.0 - damping) / ns + damping * dm / ns if v in seeds else 0.0)
            for v in range(n)
        }
        for s, ds in out.items():
            share = ranks[s] / len(ds)
            for d in ds:
                new[d] += damping * share
        ranks = new
    return ranks


def _ppr(spark, edges, seeds, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(v,) for v in seeds], "node long")
    return webgraph.personalized_pagerank_detailed(e, s, **kw)


def test_ppr_matches_reference_on_a_cycle_with_chord(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    res = _ppr(spark, edges, [0], iterations=None, tol=1e-12, max_iterations=200)
    assert res.converged
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    want = _reference_ppr(4, edges, {0}, iters=400)
    for v in range(4):
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_ppr_with_all_nodes_seeded_is_bitwise_pagerank(spark):
    """PPR degenerates to standard PageRank when every vertex is a seed
    — and because the seed branch evaluates the identical IEEE
    expression with ns == n, the doubles must agree BIT FOR BIT."""
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (2, 0)]
    pr = _pr(spark, 4, edges, iterations=6).ranks
    ppr = _ppr(spark, edges, [0, 1, 2, 3], iterations=6).ranks
    a = {r["node"]: r["rank"] for r in pr.collect()}
    b = {r["node"]: r["rank"] for r in ppr.collect()}
    assert a == b  # exact equality, not approx


def test_ppr_unreachable_from_seeds_scores_exactly_zero(spark):
    # two disconnected chains; seeding {0} must leave 2 and 3 at 0.0
    # EXACTLY (no teleport mass ever reaches their component).
    res = _ppr(spark, [(0, 1), (2, 3)], [0], iterations=10)
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    assert got[2] == 0.0 and got[3] == 0.0
    assert got[0] > 0.0 and got[1] > 0.0


def test_ppr_mass_conserved_with_dangling(spark):
    # node 2 dangles; total mass must stay exactly 1 (it re-teleports
    # to the seeds, never leaks).
    res = _ppr(spark, [(0, 1), (1, 2), (3, 2)], [1, 3], iterations=8)
    total = sum(r["rank"] for r in res.ranks.collect())
    assert total == pytest.approx(1.0, abs=1e-12)


def test_ppr_seeds_outside_graph_are_ignored(spark):
    a = _ppr(spark, [(0, 1), (1, 0)], [0, 99], iterations=5).ranks
    b = _ppr(spark, [(0, 1), (1, 0)], [0], iterations=5).ranks
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ppr_no_effective_seed_raises(spark):
    with pytest.raises(ValueError, match="no seed vertex"):
        _ppr(spark, [(0, 1)], [99], iterations=3)


def test_ppr_exhaustion_warns_and_flags(spark):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = _ppr(
            spark, [(0, 1), (1, 2), (2, 0)], [0],
            iterations=None, tol=-1.0, max_iterations=2,
        )
    assert not res.converged and res.iterations == 2
    assert any("unconverged" in str(x.message) for x in w)


def _reference_hits(n, edges, iters=5):
    """Driver-side dense HITS — an independent oracle."""
    h = {v: 1.0 for v in range(n)}
    a = {v: 0.0 for v in range(n)}
    for _ in range(iters):
        a = {v: sum(h[s] for s, d in edges if d == v) for v in range(n)}
        na = math.sqrt(sum(x * x for x in a.values()))
        a = {v: (x / na if na > 0 else 0.0) for v, x in a.items()}
        h = {v: sum(a[d] for s, d in edges if s == v) for v in range(n)}
        nh = math.sqrt(sum(x * x for x in h.values()))
        h = {v: (x / nh if nh > 0 else 0.0) for v, x in h.items()}
    return h, a


def test_hits_star_graph_extremes(spark):
    # 0,1,2 each link to 5: 5 is the only authority (score 1 after
    # normalization), the three spokes are equal hubs (1/sqrt(3)).
    e = spark.createDataFrame([(0, 5), (1, 5), (2, 5)], "src long, dst long")
    got = {r["node"]: (r["hub"], r["authority"]) for r in webgraph.hits(e, iterations=3).collect()}
    assert got[5][1] == pytest.approx(1.0, abs=1e-12)
    assert got[5][0] == 0.0  # 5 links to nothing
    for v in (0, 1, 2):
        assert got[v][0] == pytest.approx(1 / math.sqrt(3), abs=1e-12)
        assert got[v][1] == 0.0  # nothing links to the spokes


def test_hits_matches_reference_on_a_mixed_graph(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 1), (1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub"], r["authority"]) for r in webgraph.hits(e, iterations=5).collect()}
    h, a = _reference_hits(4, edges, iters=5)
    for v in range(4):
        assert got[v][0] == pytest.approx(h[v], abs=1e-12)
        assert got[v][1] == pytest.approx(a[v], abs=1e-12)


def test_hits_scores_are_unit_l2_normalized(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (2, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    rows = webgraph.hits(e, iterations=4).collect()
    assert sum(r["hub"] ** 2 for r in rows) == pytest.approx(1.0, abs=1e-12)
    assert sum(r["authority"] ** 2 for r in rows) == pytest.approx(1.0, abs=1e-12)


def test_hits_partition_count_invariant_bitwise(spark):
    edges = [(s, (s * 7 + k) % 20) for s in range(20) for k in (1, 2, 3) if s % 5]
    e1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    e7 = spark.createDataFrame(edges, "src long, dst long").repartition(7)
    r1 = sorted(map(tuple, webgraph.hits(e1, iterations=5).collect()))
    r7 = sorted(map(tuple, webgraph.hits(e7, iterations=5).collect()))
    assert r1 == r7  # exact-DECIMAL sums: partitioning can't flip a bit


def test_hits_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert webgraph.hits(e, iterations=3).count() == 0


def test_rank_weighted_sample_redistributes_not_inflates(spark):
    """Mean keep rate must stay ~base_rate while hot hosts get more:
    everyone links to host 9, so host 9's keep_rate must be the max
    and a rank-uniform graph would give exactly base_rate."""
    edges = [(s, 9) for s in range(9)] + [(9, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    # converged ranks, not a fixed iteration count: the hub and its sole
    # beneficiary form a near-2-cycle whose iterates alternate which one
    # is ahead until the fixed point (where the hub wins).
    ranks = webgraph.pagerank(e, iterations=None, tol=1e-10, max_iterations=200)
    docs = spark.createDataFrame(
        [(i, i % 10) for i in range(2000)], "doc_id long, host long"
    )
    # base_rate low enough that no host's rate hits the 1.0 cap (the
    # hub's rank is ~0.47, so 0.4 would cap BOTH hub and its beneficiary)
    kept = webgraph.rank_weighted_sample(docs, ranks, "host", "doc_id", base_rate=0.1)
    rates = {
        r["host"]: r["keep_rate"]
        for r in kept.select("host", "keep_rate").distinct().collect()
    }
    assert max(rates, key=rates.get) == 9
    assert all(0.0 < v <= 1.0 for v in rates.values())
    # the hub keeps a larger share of its docs than any spoke
    from collections import Counter

    per_host = Counter(r["host"] for r in kept.collect())
    assert per_host[9] == max(per_host.values())


# ---------------------------------------------------------------- LPA


def test_lpa_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge: each triangle collapses
    to its smallest member's label and the bridge does not merge them
    (each endpoint's two in-triangle neighbors outvote the single
    cross-bridge vote)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "src long, dst long",
    )
    out = {
        r["node"]: r["community"]
        for r in webgraph.label_propagation(edges, iterations=6).collect()
    }
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert out[1] != out[10]


def test_lpa_symmetrized_and_deterministic_tiebreak(spark):
    """A directed edge votes both ways, and a node with equally frequent
    neighbor labels takes the SMALLEST — one round on a path graph
    makes 2's neighbors {1: one vote, 3: one vote} -> label 1."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    one = {
        r["node"]: r["community"]
        for r in webgraph.label_propagation(edges, iterations=1).collect()
    }
    assert one[2] == 1  # tie {1,3} -> smallest
    assert one[1] == 2 and one[3] == 2  # only neighbor's label


def test_lpa_partition_invariant(spark):
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)] + [(5, 11), (2, 9)],
        "src long, dst long",
    )
    a = sorted(
        map(tuple, webgraph.label_propagation(edges, iterations=4).collect())
    )
    b = sorted(
        map(
            tuple,
            webgraph.label_propagation(
                edges.repartition(7), iterations=4
            ).collect(),
        )
    )
    assert a == b


def test_lpa_convergence_mode_and_oscillation_warns(spark):
    """A triangle converges (everyone settles on label 1 by round 3); a
    single symmetric pair — and even a star, hub and leaves swapping —
    oscillates with period 2, so convergence mode must exhaust LOUDLY
    and flag converged=False."""
    import warnings as w

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    res = webgraph.label_propagation_detailed(tri, iterations=None, max_iterations=10)
    assert res.converged
    labels = {r["node"]: r["community"] for r in res.labels.collect()}
    assert len(set(labels.values())) == 1
    pair = spark.createDataFrame([(1, 2)], "src long, dst long")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        res2 = webgraph.label_propagation_detailed(
            pair, iterations=None, max_iterations=4
        )
        assert not res2.converged
        assert any("oscillate" in str(c.message) for c in caught)


# ---------------------------------------------------------------- k-core


def test_kcore_peels_tail_into_clique(spark):
    """A 4-clique with a pendant path: the path peels away round by
    round (cascade), the clique survives as the exact 3-core with
    in-subgraph degree 3."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + path, "src long, dst long")
    res = webgraph.k_core_detailed(edges, k=3, iterations=None)
    assert res.converged
    got = {r["node"]: r["degree"] for r in res.nodes.collect()}
    assert set(got) == {0, 1, 2, 3}
    assert all(d == 3 for d in got.values())
    # the whole sub-k path drops in ONE simultaneous round (every path
    # node is already < 3), + one confirming round
    assert res.iterations == 2


def test_kcore_fixed_rounds_partial_state(spark):
    """Fixed-round mode is the oracle-replayable partial peel: after 1
    round only the leaf is gone; convergence needs more."""
    chain = [(0, 1), (1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    one = webgraph.k_core(edges, k=2, iterations=1)
    assert {r["node"] for r in one.collect()} == {1, 2, 3}
    full = webgraph.k_core_detailed(edges, k=2, iterations=None)
    assert full.converged and full.nodes.count() == 0  # a path has no 2-core


def test_kcore_partition_invariant_and_guard(spark):
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 23) for i in range(23)] + [(2, 9), (5, 17)],
        "src long, dst long",
    )
    a = sorted(map(tuple, webgraph.k_core(edges, 2, iterations=3).collect()))
    b = sorted(map(tuple, webgraph.k_core(
        edges.repartition(7), 2, iterations=3).collect()))
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        webgraph.k_core(edges, 0)


def test_kcore_exhaustion_warns(spark):
    """max_iterations too small for the cascade: loud, not silent."""
    import warnings as w

    chain = [(i, i + 1) for i in range(12)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        res = webgraph.k_core_detailed(edges, k=2, iterations=None, max_iterations=2)
        assert not res.converged
        assert any("partial peel" in str(c.message) for c in caught)


def test_triangles_clique_path_star(spark):
    """4-clique: C(4,3)=4 triangles, every node in 3 of them, cc=1.0.
    A pendant path and a star contribute zero triangles; star center
    cc=0.0 despite high degree (the link-farm signature)."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 10), (10, 11)]
    star = [(20, 21), (20, 22), (20, 23), (20, 24)]
    edges = spark.createDataFrame(clique + path + star, "src long, dst long")
    got = {r["node"]: r for r in webgraph.triangle_stats(edges).collect()}
    for v in (0, 1, 2):
        assert got[v]["triangles"] == 3
        assert got[v]["clustering"] == 1.0
    # node 3 has the pendant edge too: deg 4, still 3 triangles, cc = 6/12
    assert got[3]["degree"] == 4 and got[3]["triangles"] == 3
    assert got[3]["clustering"] == 0.5
    assert got[20]["degree"] == 4 and got[20]["triangles"] == 0
    assert got[20]["clustering"] == 0.0
    assert got[11]["degree"] == 1 and got[11]["clustering"] == 0.0
    # global count: sum of per-node triangles = 3 * number of triangles
    assert sum(r["triangles"] for r in got.values()) == 3 * 4


def test_triangles_direction_and_duplicate_invariant(spark):
    """Symmetrization: reversed/duplicated/self-loop edges change
    nothing — the undirected simple graph is what's counted."""
    base = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)]
    noisy = base + [(b, a) for a, b in base] + [(1, 1), (0, 1), (2, 0)]
    a = sorted(map(tuple, webgraph.triangle_stats(
        spark.createDataFrame(base, "src long, dst long")).collect()))
    b = sorted(map(tuple, webgraph.triangle_stats(
        spark.createDataFrame(noisy, "src long, dst long")).collect()))
    assert a == b
    # the diamond 0-1-2 / 0-2-3: two triangles sharing edge (0,2)
    got = dict((r[0], r[2]) for r in a)
    assert got == {0: 2, 1: 1, 2: 2, 3: 1}


def test_triangles_partition_invariant_vs_reference(spark):
    """Random-ish graph vs an independent driver-side counter, and
    bit-identical under repartitioning."""
    import itertools

    edges = [(i, (i * i + 3) % 29) for i in range(29)] + [
        (i, (i * 7 + 1) % 29) for i in range(0, 29, 2)
    ]
    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for v, ns in adj.items():
        t = sum(1 for x, y in itertools.combinations(sorted(ns), 2)
                if y in adj.get(x, ()))
        expect[v] = (len(ns), t)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["degree"], r["triangles"])
           for r in webgraph.triangle_stats(df).collect()}
    assert got == expect
    again = {r["node"]: (r["degree"], r["triangles"])
             for r in webgraph.triangle_stats(df.repartition(13)).collect()}
    assert again == expect
