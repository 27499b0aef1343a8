"""Web-graph quality signals: link extraction, centrality and grouping.

Pretraining-corpus curation uses the crawl's own link structure as a
document-quality prior (CommonCrawl-derived pipelines rank hosts by
centrality before sampling; the reference repo has no graph surface at
all — this extends SURVEY §2.4's curation family).  The pieces:

* :func:`extract_links` / :func:`host_graph` — pure-JVM href extraction
  from raw HTML (regexp, no Python crossing) and reduction to a
  host-level edge list;
* :func:`pagerank` — power-iteration PageRank as the standard Spark
  iterative shape: one equi-join + one exact-decimal aggregation per
  round, per-call :class:`PRResult` diagnostics with an explicit
  ``converged`` flag (the connected-components round-6 lesson:
  iteration exhaustion must be loud, never silently-wrong labels);
* :func:`personalized_pagerank` — the same rank walk with teleport and
  dangling mass restricted to a SEED set: proximity-to-trusted-sources
  as the rank, the corpus-expansion prior;
* :func:`hits` — Kleinberg hubs/authorities, the complementary signal
  (what to crawl FROM vs what to KEEP), L2-normalized per round with
  hash-exact arithmetic (exact-decimal sums + correctly-rounded IEEE
  sqrt/division);
* :func:`label_propagation`, :func:`k_core`, :func:`triangle_stats` —
  link-neighborhood communities, link-farm pruning and local
  clustering over the undirected graph.

One round loop: PageRank, personalized PageRank, label propagation,
k-core and ``dedup.connected_components`` all run through
``fanout.fixed_point`` — ``iterations=k`` rounds, or rounds until the
operator's probe sees no change within ``max_iterations`` (exhaustion
warns once, in that loop), every round's state pinned lazily through
``fanout.pin`` and, in convergence mode, one probe job per round.
Edges are canonicalized once per direction: :func:`_directed_edges`
(self-loops dropped, distinct) and :func:`_undirected_edges` (also
symmetrized).

100 TB shape: the rank/contribution tables are (node, double) pairs —
a few GB for billions of hosts, partitioned by node; every round
shuffles only (node, contrib) pairs, never page payloads.  Dangling
mass and the convergence delta reach the driver as ONE scalar each per
round.  Skewed in-degree (everyone links to wikipedia.org) is a plain
aggregation hot key: partial (map-side) aggregation absorbs it before
the shuffle, so no salting is needed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fanout import fixed_point, pin

#: Exact accumulator for rank sums: ranks live in [0, 1] so 18 integer
#: digits is vast headroom; 20 fractional digits exceed double precision,
#: making the double->decimal cast value-preserving for every operand the
#: sum sees (partial-aggregation order can never flip a bit).
_PR_DEC = "decimal(38,20)"

#: scheme://host — host stops at /, :, ?, #.
_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"


def host_of(col: F.Column) -> F.Column:
    """Lowercased host of an absolute URL ('' when not absolute)."""
    return F.lower(F.regexp_extract(col, _URL_HOST_RE, 1))


def extract_links(
    df: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """One row per outgoing link: ``(url_col, link)`` with ``link``
    resolved to an absolute URL.

    Pure JVM: ``regexp_extract_all`` over ``href="…"`` attributes +
    ``explode`` — raw HTML never crosses into Python.  Resolution rules
    (the cases that matter for host-graph construction):

    * absolute (``scheme://…``) — kept as-is;
    * protocol-relative (``//host/path``) — page scheme prepended;
    * root-relative (``/path``) — page scheme+host prepended;
    * everything else (relative paths, ``mailto:``, ``javascript:``,
      bare fragments) — dropped.  Path-relative resolution needs the
      page path's dirname; host-level graphs never need it (the host is
      the page's own), so the complexity isn't worth a wrong edge.

    Every non-HTML column of ``df`` is carried through (ids, status).
    """
    page = F.col(url_col)
    scheme = F.regexp_extract(page, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(page, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    href = F.col("_href")
    resolved = (
        F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.lit(None))
    )
    carry = [c for c in df.columns if c != html_col]
    return (
        df.select(
            *carry,
            F.explode(
                F.regexp_extract_all(
                    F.col(html_col), F.lit(r'href\s*=\s*"([^"]*)"'), 1
                )
            ).alias("_href"),
        )
        .select(*carry, resolved.alias("link"))
        .where(F.col("link").isNotNull())
    )


def host_graph(links: DataFrame, src_url: str = "target_uri", dst_url: str = "link") -> DataFrame:
    """Reduce page-level links to a distinct host-level edge list
    ``(src, dst)``, self-loops dropped — the PageRank input."""
    return (
        links.select(
            host_of(F.col(src_url)).alias("src"),
            host_of(F.col(dst_url)).alias("dst"),
        )
        .where((F.col("src") != "") & (F.col("dst") != "") & (F.col("src") != F.col("dst")))
        .distinct()
    )


def _directed_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical directed edge list ``(src, dst)``: self-loops dropped,
    distinct — the PageRank, PPR, HITS and connected-components input."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge list ``(a, b)``: every edge in both
    directions, self-loops dropped, distinct — the label-propagation,
    k-core and triangle input."""
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return (
        fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _vertices(e: DataFrame) -> DataFrame:
    """Distinct ``node`` column of a directed edge list's endpoints."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )


@dataclass
class PRResult:
    """Per-call result of :func:`pagerank_detailed`: the rank DataFrame
    plus the loop diagnostics (mirrors dedup's :class:`CCResult`)."""

    ranks: DataFrame
    iterations: int
    converged: bool


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int | None = None,
    tol: float = 1e-6,
    max_iterations: int = 40,
) -> DataFrame:
    """PageRank over a directed edge list; returns ``(node, rank)`` for
    every vertex appearing as a source or destination.

    Two modes:

    * ``iterations=k`` — exactly ``k`` power iterations, no driver
      round-trips inside the loop (the oracle-replayable mode: every
      aggregation is an exact ``DECIMAL(38,20)`` sum, so the resulting
      doubles are bit-reproducible across engines and partitionings);
    * ``iterations=None`` — iterate until the L1 rank delta falls under
      ``tol`` (one scalar to the driver per round) or ``max_iterations``
      is exhausted, which warns here and is loud in
      :func:`pagerank_detailed`'s ``converged`` flag.

    Dangling nodes (no out-edges) redistribute their mass uniformly —
    the standard correction, computed distributedly and attached as a
    broadcast 1-row relation, never a per-iteration collect.
    """
    return pagerank_detailed(
        edges, src, dst, damping, iterations, tol, max_iterations
    ).ranks


def pagerank_detailed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int | None = None,
    tol: float = 1e-6,
    max_iterations: int = 40,
) -> PRResult:
    """:func:`pagerank` returning :class:`PRResult` with per-call
    ``iterations``/``converged`` diagnostics."""
    # Materialize the loop invariants ONCE: without this every iteration's
    # plan re-derives edges/nodes/degrees all the way from the source scan
    # (5 iterations = 5 re-reads of the upstream relation — at 100 TB, five
    # crawls).  The pin also truncates lineage so the iteration-k plan
    # doesn't nest k copies of the edge derivation.
    e = pin(_directed_edges(edges, src, dst))
    nodes = pin(_vertices(e))
    # ONE bounded driver scalar: the vertex count (like k-means' k x dim
    # and CC's convergence signature — documented driver-side state).
    n = nodes.count()
    if n == 0:
        return PRResult(ranks=nodes.withColumn("rank", F.lit(0.0)), iterations=0, converged=True)
    n_d = float(n)
    base = (1.0 - damping) / n_d  # IEEE double ops, replayed verbatim in oracles
    contrib = F.coalesce(F.col("contrib"), F.lit(0.0))
    return _rank_walk(
        "pagerank",
        e,
        nodes,
        start=F.lit(1.0) / F.lit(n_d),
        update=F.lit(base) + F.lit(damping) * (contrib + F.col("dm") / F.lit(n_d)),
        iterations=iterations,
        tol=tol,
        max_iterations=max_iterations,
    )


def _rank_walk(
    what: str,
    e: DataFrame,
    nodes: DataFrame,
    start: Column,
    update: Column,
    iterations: int | None,
    tol: float,
    max_iterations: int,
) -> PRResult:
    """The power iteration :func:`pagerank_detailed` and
    :func:`personalized_pagerank_detailed` share.  Per round: the
    dangling mass ``dm`` (rank held by nodes without out-edges), each
    destination's ``contrib`` (sum of rank / out-degree over its
    in-edges), and the new rank ``update`` over ``nodes``' columns,
    ``contrib`` and ``dm``; in convergence mode the L1 rank delta is the
    round's probe.  ``start`` and ``update`` are the caller's own rank
    expressions, so standard PageRank's arithmetic carries no seed
    CASE."""
    deg = pin(e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg")))

    def step(ranks: DataFrame) -> DataFrame:
        dangling = (
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.col("rank").cast(_PR_DEC)).cast("double"), F.lit(0.0)
                ).alias("dm")
            )
        )
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("rank") / F.col("deg")).cast(_PR_DEC))
                .cast("double")
                .alias("contrib")
            )
        )
        return (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select("node", update.alias("rank"))
        )

    def moved(old: DataFrame, new: DataFrame) -> bool:
        delta = (
            old.select("node", F.col("rank").alias("_old"))
            .join(new, "node")
            .agg(
                F.sum(F.abs(F.col("rank") - F.col("_old")).cast(_PR_DEC))
                .cast("double")
                .alias("d")
            )
            .collect()[0]["d"]
        )
        return delta is None or delta > tol

    ranks, rounds, converged = fixed_point(
        nodes.select("node", start.alias("rank")),
        step,
        moved,
        iterations,
        max_iterations,
        f"{what} exhausted max_iterations={max_iterations} before the L1 "
        f"delta reached tol={tol} — ranks are unconverged; raise "
        "max_iterations or loosen tol",
    )
    return PRResult(ranks=ranks, iterations=rounds, converged=converged)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int | None = None,
    tol: float = 1e-6,
    max_iterations: int = 40,
) -> DataFrame:
    """Personalized PageRank: random walks restart at a SEED set instead
    of teleporting uniformly — rank becomes proximity to the seeds, the
    curation primitive for expanding a trusted corpus ("find more hosts
    like the ones we already vetted", the CCNet/OpenWebText shape where
    quality flows outward from known-good sources).

    Semantics vs :func:`pagerank` (which this reduces to when ``seeds``
    is every vertex): the teleport mass ``(1-d)`` and the dangling mass
    both land uniformly on the seed set only; non-seed vertices receive
    mass exclusively through in-links, so a vertex with no path from any
    seed scores exactly 0.0.  Seeds not present in the edge list are
    ignored (the walk can't restart at a vertex the graph doesn't have);
    an empty effective seed set raises.

    Same determinism contract as :func:`pagerank`: every aggregation is
    an exact ``DECIMAL(38,20)`` sum and the update is evaluated in a
    fixed IEEE-double operation order, so fixed-``iterations`` runs are
    bit-reproducible across engines and partitionings (the registered
    face replays all iterations as an unrolled DuckDB CTE chain).
    """
    return personalized_pagerank_detailed(
        edges, seeds, src, dst, damping, iterations, tol, max_iterations
    ).ranks


def personalized_pagerank_detailed(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int | None = None,
    tol: float = 1e-6,
    max_iterations: int = 40,
) -> PRResult:
    """:func:`personalized_pagerank` returning :class:`PRResult` with
    per-call ``iterations``/``converged`` diagnostics."""
    e = pin(_directed_edges(edges, src, dst))
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    # nodes carry their seed flag through every iteration; the seed set
    # is curation-sized (a vetted host list), so the flag join broadcasts.
    nodes = pin(
        _vertices(e)
        .join(
            F.broadcast(seed_nodes.withColumn("is_seed", F.lit(True))),
            "node",
            "left",
        )
        .select("node", F.coalesce(F.col("is_seed"), F.lit(False)).alias("is_seed"))
    )
    # TWO bounded driver scalars (vertex + effective-seed counts), the
    # same class as pagerank's n.
    ns = nodes.where(F.col("is_seed")).count()
    if ns == 0:
        if nodes.count() == 0:
            return PRResult(
                ranks=nodes.select("node").withColumn("rank", F.lit(0.0)),
                iterations=0,
                converged=True,
            )
        raise ValueError(
            "personalized_pagerank: no seed vertex appears in the edge "
            "list — the walk has nowhere to restart"
        )
    ns_d = float(ns)
    base_s = (1.0 - damping) / ns_d  # IEEE double ops, replayed in oracles
    contrib = F.coalesce(F.col("contrib"), F.lit(0.0))
    return _rank_walk(
        "personalized_pagerank",
        e,
        nodes,
        start=F.when(F.col("is_seed"), F.lit(1.0) / F.lit(ns_d)).otherwise(F.lit(0.0)),
        update=F.when(
            F.col("is_seed"),
            F.lit(base_s) + F.lit(damping) * (contrib + F.col("dm") / F.lit(ns_d)),
        ).otherwise(F.lit(damping) * contrib),
        iterations=iterations,
        tol=tol,
        max_iterations=max_iterations,
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """HITS hubs-and-authorities over a directed edge list; returns
    ``(node, hub, authority)`` for every vertex.

    The complementary centrality to PageRank for crawl curation:
    authorities are the pages worth KEEPING (many good hubs vouch for
    them), hubs are the pages worth CRAWLING FROM (they point at many
    good authorities) — frontier prioritization reads the hub score,
    corpus sampling reads the authority score.  Classic mutual
    reinforcement (Kleinberg 1999): per round, ``a ← Σ_{j→i} h_j`` then
    L2-normalize, ``h ← Σ_{i←j} a_i`` then L2-normalize.

    Fixed-``iterations`` only — the power iteration converges to the
    principal eigenvectors of AᵀA / AAᵀ, and a fixed count is the
    oracle-replayable mode (the registered face unrolls every round as
    a DuckDB CTE chain).  Hash-exact determinism without rounding: the
    per-node sums and the squared-norm accumulations are exact
    ``DECIMAL(38,20)`` sums (associative — partition order can't flip a
    bit), and ``sqrt``/division are single correctly-rounded IEEE-754
    operations, identical in every engine.

    100 TB shape: per round, two equi-join + exact-aggregation passes
    over (node, double) pairs — the same scale story as
    :func:`pagerank` — plus each norm reaching the plan as a broadcast
    1-row relation, never a driver round-trip.
    """
    e = pin(_directed_edges(edges, src, dst))
    nodes = pin(_vertices(e))
    hubs = nodes.select("node", F.lit(1.0).alias("h"))
    auth = nodes.select("node", F.lit(0.0).alias("a"))

    def _half_step(scores, score_col, edge_from, edge_to, out_col):
        """One reinforcement pass: fold `score_col` across edges from
        `edge_from` onto `edge_to`, then L2-normalize — both reductions
        exact-DECIMAL, the norm attached as a broadcast 1-row relation.

        Scores stay SPARSE between iterations (r17): a node absent from
        the frame has score exactly 0.0, contributes exactly 0 to every
        DECIMAL sum (edge fold and squared-norm alike) and would
        normalize to ``0.0 / n = 0.0`` — so the per-half-step dense-fill
        join against ``nodes`` the sparse form replaces (2 joins per
        half-step -> 1) cannot change a bit.  The dense (node, hub,
        authority) output is restored by ONE fill at the end."""
        # Pinned per half-step (r17): raw has TWO consumers — the
        # squared-norm broadcast and the normalized output — so an
        # unpinned plan doubles per half-step (2^k copies of the first
        # fold by half-step k); the final action materializes each
        # half-step's node-bounded sums exactly once.
        raw = pin(
            e.join(scores, e[edge_from] == scores["node"])
            .groupBy(edge_to)
            .agg(
                F.sum(F.col(score_col).cast(_PR_DEC))
                .cast("double")
                .alias("_raw")
            )
        )
        norm = raw.agg(
            F.sqrt(
                F.sum((F.col("_raw") * F.col("_raw")).cast(_PR_DEC)).cast(
                    "double"
                )
            ).alias("_n")
        )
        return raw.crossJoin(F.broadcast(norm)).select(
            F.col(edge_to).alias("node"),
            F.when(F.col("_n") > 0, F.col("_raw") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias(out_col),
        )

    for i in range(iterations):
        auth = _half_step(hubs, "h", "src", "dst", "a")
        hubs = _half_step(auth, "a", "dst", "src", "h")
    # one dense fill restores the every-vertex contract (absent = 0.0,
    # exactly what the per-step fill produced)
    return (
        nodes.join(hubs, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("a"), F.lit(0.0)).alias("authority"),
        )
    )


def rank_weighted_sample(
    docs: DataFrame,
    ranks: DataFrame,
    host_col: str,
    id_col: str,
    base_rate: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Sample documents with probability proportional to their host's
    PageRank — the step that turns the rank into a curation prior
    (RefinedWeb/CCNet-style: crawl mass follows host quality).

    Per-host keep threshold = ``round(least(1, rank * n_hosts *
    base_rate), 6)`` (mean rank is 1/n, so the MEAN rate is
    ``base_rate`` and rank only redistributes it); a row survives iff
    its deterministic ``u(id, seed)`` (the ``curation.mixture_sample``
    hash-uniform — stable across re-runs and partitionings) falls
    under its host's threshold.  ``n_hosts`` attaches as a broadcast
    1-row relation; the ranks join broadcasts (hosts ≪ docs).

    Returns the kept rows with ``(keep_rate, u)`` attached.
    """
    from .curation import _uniform

    n = ranks.agg(F.count(F.lit(1)).cast("double").alias("_n_hosts"))
    rates = (
        ranks.crossJoin(F.broadcast(n))
        .select(
            F.col("node").alias(host_col),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("rank") * F.col("_n_hosts") * F.lit(base_rate),
                ),
                6,
            ).alias("keep_rate"),
        )
    )
    u = F.round(_uniform(id_col, seed), 6).alias("u")
    return (
        docs.join(F.broadcast(rates), host_col)
        .withColumn("u", u)
        .where(F.col("u") < F.col("keep_rate"))
    )


@dataclass
class LPAResult:
    """Per-call result of :func:`label_propagation_detailed`: the label
    DataFrame plus the loop diagnostics (mirrors :class:`PRResult`)."""

    labels: DataFrame
    iterations: int
    converged: bool


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Synchronous label-propagation community detection over an edge
    list (Raghavan et al. 2007); returns ``(node, community)`` for every
    vertex.  The crawl-curation companion to :func:`pagerank`:
    communities group hosts into link neighborhoods (mirror farms, SEO
    rings, topical clusters), the unit at which curation policies —
    sample caps, blocklists, per-community quotas — apply, where
    connected components (``dedup.connected_components``) are far too
    coarse (one giant component) and PageRank ranks but does not group.

    Deterministic synchronous update: the graph is symmetrized (an edge
    votes in both directions), every node starts as its own label, and
    each round EVERY node simultaneously adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label — no RNG, no
    visit order, so the result is partition-invariant and replayable by
    an unrolled SQL oracle (count → row_number argmax, all integer
    arithmetic; nothing to round).

    Two modes, exactly like :func:`pagerank`:

    * ``iterations=k`` — exactly ``k`` synchronous rounds, no driver
      round-trips inside the loop (the oracle-replayable mode);
    * ``iterations=None`` — iterate until NO label changes (one scalar
      to the driver per round) or ``max_iterations`` is exhausted,
      which warns here and is loud in the ``converged`` flag of
      :func:`label_propagation_detailed`.  Synchronous LPA can
      oscillate with period 2 on bipartite-ish structures (the
      classic two-node swap) — exhaustion is the documented loud
      outcome, never a silently-wrong "converged" claim.

    100 TB shape: per round, ONE equi-join propagating (node, label)
    pairs along edges + ONE count aggregation keyed by (node, label) +
    ONE map-side-combinable ``min_by`` argmax per node — a pure
    aggregation chain with NO per-round sort (a windowed argmax would
    re-sort the whole vote relation every round; the measured curve is
    in SCALE.md).  Label payloads are node ids, so every intermediate
    is two scalar columns regardless of graph size; skewed in-degree
    is absorbed by map-side partial counting like pagerank's hot
    keys.
    """
    return label_propagation_detailed(
        edges, src, dst, iterations, max_iterations
    ).labels


def label_propagation_detailed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int | None = None,
    max_iterations: int = 20,
) -> LPAResult:
    """:func:`label_propagation` returning :class:`LPAResult` with
    per-call ``iterations``/``converged`` diagnostics."""
    e = pin(_undirected_edges(edges, src, dst))
    nodes = pin(e.select(F.col("a").alias("node")).distinct())

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            e.join(labels, e["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"), "community")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (cnt DESC, community ASC) as a map-side-combinable
        # min_by over the lexicographic key (-cnt, community) — community
        # is unique per vote row, so the key is total and the pick
        # deterministic, and the label type stays free (string hosts
        # work).  An equivalent per-node row_number window would SORT
        # the vote relation every round (measured: curve exponent 0.87
        # windowed vs 0.52 aggregated — see SCALE.md).
        return votes.groupBy("node").agg(
            F.min_by(
                "community",
                F.struct((-F.col("cnt")).alias("_negc"), F.col("community")),
            ).alias("community")
        )

    def relabeled(old: DataFrame, new: DataFrame) -> bool:
        return (
            old.select("node", F.col("community").alias("_old"))
            .join(new, "node")
            .where(F.col("community") != F.col("_old"))
            .count()
            > 0
        )

    labels, rounds, converged = fixed_point(
        nodes.select("node", F.col("node").alias("community")),
        step,
        relabeled,
        iterations,
        max_iterations,
        f"label_propagation exhausted max_iterations={max_iterations} "
        "with labels still changing (synchronous LPA can oscillate "
        "with period 2) — labels are the round-"
        f"{max_iterations} snapshot, not a fixed point",
    )
    return LPAResult(labels=labels, iterations=rounds, converged=converged)


@dataclass
class KCoreResult:
    """Per-call result of :func:`k_core_detailed`: the surviving-node
    DataFrame plus the loop diagnostics (mirrors :class:`LPAResult`)."""

    nodes: DataFrame
    iterations: int
    converged: bool


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iterations: int | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """k-core decomposition over an (undirected-ized) edge list: returns
    ``(node, degree)`` for every vertex of the maximal subgraph in which
    EVERY vertex has degree >= ``k`` — the standard link-graph pruning
    step before centrality (PageRank) and grouping (LPA): link farms
    and orphan pages fall out of the 2-/3-core, while genuinely
    embedded hosts survive, so the expensive iterative signals run on a
    cleaned graph.

    Classic peeling, synchronous and deterministic: each round drops
    ALL nodes whose current degree is < ``k`` simultaneously and
    restricts the edge set to survivors; the fixed point is the k-core
    (order-independent — the k-core is unique, and simultaneous
    removal needs no tie-breaking at all).  ``degree`` in the output is
    the node's degree WITHIN the returned subgraph.

    Two modes, exactly like :func:`pagerank` / :func:`label_propagation`:
    ``iterations=r`` runs exactly ``r`` peeling rounds (the
    oracle-replayable mode — the result may still contain sub-``k``
    nodes if peeling hasn't finished, which is the documented partial
    state); ``iterations=None`` peels until no node drops (one scalar
    per round) or exhausts ``max_iterations`` LOUDLY (``converged``
    flag + RuntimeWarning).

    100 TB shape: per round, one map-side-combinable degree count +
    two semi-joins restricting the edge list to survivors — everything
    keyed by node id, no windows, no all-pairs; the per-round pin
    truncates the lineage like every iterative operator here.
    Peeling rounds needed in practice are tiny (a web graph's
    degeneracy ordering collapses in a handful of simultaneous rounds).
    """
    return k_core_detailed(edges, k, src, dst, iterations, max_iterations).nodes


def k_core_detailed(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iterations: int | None = None,
    max_iterations: int = 30,
) -> KCoreResult:
    """:func:`k_core` returning :class:`KCoreResult` with per-call
    ``iterations``/``converged`` diagnostics."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")

    def degrees(e: DataFrame) -> DataFrame:
        return e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))

    def peel(e: DataFrame) -> DataFrame:
        keep = degrees(e).where(F.col("deg") >= k).select("a")
        return e.join(keep, "a", "leftsemi").join(
            keep.select(F.col("a").alias("b")), "b", "leftsemi"
        )

    def peels(old: DataFrame, new: DataFrame) -> bool:
        # the nodes `peel` drops from `old` are exactly those under degree k
        return degrees(old).where(F.col("deg") < k).count() > 0

    e, rounds, converged = fixed_point(
        pin(_undirected_edges(edges, src, dst)),
        peel,
        peels,
        iterations,
        max_iterations,
        f"k_core exhausted max_iterations={max_iterations} with nodes "
        "still peeling — the result may contain sub-k nodes (a partial "
        "peel), not the k-core fixed point",
    )
    out = e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return KCoreResult(nodes=out, iterations=rounds, converged=converged)


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts and local clustering coefficients
    over an (undirected-ized) edge list: returns ``(node, degree,
    triangles, clustering)`` for every vertex with at least one edge.

    Triangles are the web-curation signal k-core can't see: a link farm
    survives the k-core (its members HAVE degree) but its star/bipartite
    wiring closes almost no triangles, while organically embedded hosts
    show high local clustering — so ``clustering`` separates "many
    links" from "links that know each other" (the classic spam-farm
    discriminator alongside PageRank's global rank).

    Algorithm is the standard degree-ordered edge orientation (the
    node-iterator bound): every undirected edge is directed from its
    lower to its higher endpoint in the total order ``(degree, node)``.
    Out-degrees under this orientation are bounded by O(sqrt(2m)) no
    matter how skewed the raw degree distribution is, so the wedge join
    (pairs of out-neighbors of a common tail) generates at most
    O(m^1.5) candidates globally — hub nodes NEVER pair their full
    neighbor lists.  Each triangle {u,v,w} is emitted exactly once, at
    its lowest-order vertex, as the wedge (v,w) closed by the oriented
    edge v->w; a leftsemi equi-join checks closure.

    ``clustering`` = 2*T / (deg*(deg-1)) with a single IEEE double
    division of exact integers (bit-identical across engines; 0.0 when
    degree < 2).  Everything else is integer-exact — no rounding
    anywhere.

    100 TB shape: symmetrize + distinct is one exchange on the edge
    key; the orientation is two broadcast-size degree joins keyed by
    node; the wedge self-join shuffles oriented edges once on their
    tail; the closure check shuffles wedge candidates once on the
    (v,w) pair key.  No windows, no all-pairs, no driver loops; the
    O(m^1.5) wedge bound is the published cost of exact triangle
    counting and is reached only by near-clique graphs.
    """
    und = _undirected_edges(edges, src, dst)
    # (node, degree) — consumed by both orientation joins AND the final
    # output join; one row per node, so materializing it once is cheap
    # and saves two re-executions of the symmetrize+distinct subtree
    deg = pin(und.groupBy("a").agg(F.count(F.lit(1)).alias("deg")))
    # Orient a->b iff (deg_a, a) < (deg_b, b): each undirected edge
    # appears in `und` in both directions, so exactly one survives.
    # consumed THREE times (both wedge sides + the closure probe);
    # without the pin the symmetrize+degree subtree re-executes per
    # consumer — the same reuse fix as pagerank's edges
    o = pin(
        und.join(deg.select(F.col("a"), F.col("deg").alias("da")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("db")), "b"
        )
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b", "db")
    )
    o1 = o.select(F.col("a").alias("u"), F.col("b").alias("v"), F.col("db").alias("dv"))
    o2 = o.select(F.col("a").alias("u"), F.col("b").alias("w"), F.col("db").alias("dw"))
    wedges = o1.join(o2, "u").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = o.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tris = wedges.join(closing, ["v", "w"], "leftsemi").select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.select(F.col("a").alias("node"), F.col("deg").alias("degree"))
        .join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                (F.coalesce(F.col("triangles"), F.lit(0)) * F.lit(2)).cast("double")
                / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double")
            )
            .alias("clustering"),
        )
    )
