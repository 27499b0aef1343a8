"""Retrieval ranking metrics — nDCG@k, MRR, precision/recall@k.

The similarity-search operators (``similarity.py``, ``annindex.py``,
BM25 in ``text.py``) PRODUCE ranked lists; a retrieval pipeline also
has to GRADE them against labeled relevance — the IR-eval step of any
RAG / embedding-training loop (which query set regressed after a
re-index? did the new embedding model lift nDCG or just recall?).
The reference repo has no eval surface; this extends SURVEY §2.4's
eval family sideways from text-pair metrics (BLEU/chrF/WER) to
ranked-list metrics (Järvelin & Kekäläinen 2002 nDCG; classic
MRR/P@k/R@k).

Contract: ``results`` carries 1-based ranks (ties already broken by
the producer — every top-k operator in this repo emits deterministic
ranks); ``(query, item)`` is unique in both inputs (the shape every
top-k/gold join produces).  The query universe is the GOLD queries:
a query with no labeled-relevant items cannot be graded, and results
for unlabeled queries are ignored by construction of the join.

100 TB shape: pure JVM joins + windows keyed on the query column —
the only shuffles are O(|results at k| + |gold|) rows of (query,
item, rank/rel); per-query state is bounded by k on the results side
and by the gold list on the IDCG window.  No Python, no collect, no
cross join; transcendental per-item gains (1/log2) are ROUNDed at 6
and summed as DECIMAL(18,6) so partial-aggregation order can never
change a bit (the registry's exactness convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .storemaint import append_cells, read_cells, sum_cells


def _gain6(rel_col, pos_col):
    """Per-item DCG gain ``round(rel / log2(pos + 1), 6)`` as
    DECIMAL(18,6) — rounded BEFORE summing because log2 is the one
    transcendental in the metric (libm may differ in the last ulp
    across engines) and DECIMAL sums are exact and associative."""
    return F.round(
        rel_col.cast("double") / F.log2(pos_col.cast("double") + F.lit(1.0)),
        6,
    ).cast("decimal(18,6)")


def ranking_report_per_query(
    results: DataFrame,
    gold: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 10,
    rel_col: str | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Per-query ranking metrics at cutoff ``k``: one row per GOLD
    query — ``(query, n_gold, n_hits_k, rr6, precision_k6, recall_k6,
    dcg6, idcg6, ndcg6)``.

    With ``group_col`` — a column of RESULTS naming the retrieval
    policy/system that produced each ranked list (the N-system
    leaderboard generalization of the two-frame bootstrap) — one row
    per (group, GOLD query): every policy is graded on the FULL gold
    query set against the SHARED labels, so a query a policy returned
    nothing for still grades 0 (a full miss, not a missing row).  The
    per-query gold statistics (``n_gold``, ``idcg6``) are group-
    independent and computed once, then crossed with the DISTINCT
    groups via a broadcast (groups are policies — a handful of rows,
    the repo's broadcast-stats idiom).  Output gains the group as its
    first column (aliased back to ``group_col``).

    * ``rr6`` — reciprocal rank of the FIRST relevant result (0.0 when
      nothing relevant lands in the top k: the MRR convention);
    * ``precision_k6 = n_hits_k / k`` (the fixed-denominator P@k,
      stated because the retrieved-count variant also exists);
    * ``recall_k6 = n_hits_k / n_gold``;
    * ``dcg6 / idcg6 / ndcg6`` — graded when ``rel_col`` is given
      (gold items with relevance grades), binary (rel=1) otherwise;
      the ideal ranking sorts gold by relevance descending with the
      item id as the deterministic tie-break.  ``ndcg6`` is NULL when
      ``idcg6`` is 0 (every gold grade 0 — undefined, not 0).

    Relevant-for-RR/hits means rel > 0, so a graded gold row with
    grade 0 ("judged irrelevant") neither counts as a hit nor stops
    the reciprocal-rank scan — the TREC pooling convention.

    Duplicate guard: ``(query, item)`` must be unique in BOTH inputs
    (the shape every top-k producer and gold join in this repo emits;
    trec_eval ERRORS on duplicate docs).  The results side is
    additionally GUARDED, not just documented — duplicate ``(query,
    item)`` rows inside the top k would multiply through the inner
    hit join and silently inflate ``n_hits_k``/``dcg6``, so the top-k
    slice is collapsed to each item's BEST (minimum) rank first: one
    deterministic contribution per item, at its most favorable
    position.  The gold side stays a stated precondition (a duplicate
    gold row is a labeling bug — two grades for one item has no right
    answer to collapse to).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q, i, r = query_col, item_col, rank_col
    rel = (
        F.col(rel_col).cast("double")
        if rel_col is not None
        else F.lit(1.0)
    )
    g = gold.select(F.col(q), F.col(i), rel.alias("_rel"))

    grouped = group_col is not None
    grp_keys = ["_grp"] if grouped else []
    res = results.where(F.col(r) <= F.lit(k)).select(
        *(
            [F.col(group_col).cast("string").alias("_grp")]
            if grouped
            else []
        ),
        F.col(q),
        F.col(i),
        F.col(r).cast("long").alias("_r0"),
    )
    topk = res.groupBy(*grp_keys, q, i).agg(F.min("_r0").alias("_rank"))
    hits = topk.join(g, [q, i], "inner")
    hit_agg = hits.groupBy(*grp_keys, q).agg(
        F.sum(F.when(F.col("_rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_hits_k"),
        F.min(F.when(F.col("_rel") > 0, F.col("_rank"))).alias("_first"),
        F.coalesce(
            F.sum(_gain6(F.col("_rel"), F.col("_rank"))), F.lit(0)
        )
        .cast("decimal(18,6)")
        .alias("_dcg"),
    )

    # ideal ranking: gold sorted by grade desc (item asc tie-break),
    # truncated at k — the same gain expression over ideal positions
    w = Window.partitionBy(q).orderBy(F.col("_rel").desc(), F.col(i).asc())
    ideal = (
        g.withColumn("_pos", F.row_number().over(w))
        .where(F.col("_pos") <= F.lit(k))
        .groupBy(q)
        .agg(
            F.coalesce(
                F.sum(_gain6(F.col("_rel"), F.col("_pos"))), F.lit(0)
            )
            .cast("decimal(18,6)")
            .alias("_idcg")
        )
    )
    n_gold = g.groupBy(q).agg(F.count(F.lit(1)).cast("long").alias("n_gold"))

    universe = n_gold.join(ideal, q, "inner")
    if grouped:
        universe = universe.crossJoin(
            F.broadcast(res.select("_grp").distinct())
        )
    per = (
        universe
        .join(hit_agg, grp_keys + [q], "left")
        .select(
            *([F.col("_grp").alias(group_col)] if grouped else []),
            F.col(q),
            F.col("n_gold"),
            F.coalesce(F.col("n_hits_k"), F.lit(0))
            .cast("long")
            .alias("n_hits_k"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("rr6"),
            F.round(
                F.coalesce(F.col("n_hits_k"), F.lit(0)).cast("double")
                / F.lit(float(k)),
                6,
            ).alias("precision_k6"),
            F.round(
                F.coalesce(F.col("n_hits_k"), F.lit(0)).cast("double")
                / F.col("n_gold").cast("double"),
                6,
            ).alias("recall_k6"),
            F.coalesce(F.col("_dcg"), F.lit(0))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("dcg6"),
            F.col("_idcg").cast("double").alias("idcg6"),
            F.when(
                F.col("_idcg") > 0,
                F.round(
                    F.coalesce(F.col("_dcg"), F.lit(0)).cast("double")
                    / F.col("_idcg").cast("double"),
                    6,
                ),
            ).alias("ndcg6"),
        )
    )
    return per


def ranking_paired_bootstrap(
    results_a: DataFrame,
    results_b: DataFrame,
    gold: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 10,
    rel_col: str | None = None,
    n_boot: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Paired bootstrap significance for nDCG@k between two retrieval
    policies over the SAME gold — the ranking member of the
    significance trio (BLEU and WER carry the sequence- and
    error-metric forms in ``evalmetrics``): resample QUERIES with
    deterministic Poisson(1) weights from ``md5_56("seed:q:b") % 1e6``
    (the shared :data:`evalmetrics.POISSON1_CDF_PPM` thresholds), the
    same weight applied to both policies' per-query nDCG (pairing
    cancels query difficulty), and a nearest-rank 2.5/97.5 interval
    over the per-replicate weighted-mean deltas.

    The query universe is the gold queries whose IDCG is positive
    (zero-grade queries have no defined nDCG for EITHER policy — they
    are excluded from the experiment and counted,
    ``n_queries_ungraded``).  A replicate's score is
    ``round(sum(w * ndcg6) / sum(w), 6)`` with the weighted numerator
    summed as exact DECIMAL — partial-aggregation order can never
    change a bit, and the DuckDB oracle replays weights, replicate
    means and rank selection verbatim.

    Returns ONE row: ``(n_queries, n_queries_ungraded, n_boot,
    ndcg_a6, ndcg_b6, delta6, delta_lo6, delta_hi6, n_delta_pos,
    n_delta_neg, p_a_better6)`` — the full-corpus means use the same
    formula as :func:`ranking_report`'s ``mean_ndcg6`` and equal it
    exactly because both policies share the gold (and therefore the
    zero-IDCG exclusions; test-asserted); delta > 0 means A wins.

    100 TB shape: per-query metrics are the two joins + window of
    :func:`ranking_report_per_query`; the bootstrap adds an
    O(graded-queries * n_boot) explode of (query, ndcg6, ndcg6)
    scalars with one md5 per cell — no result lists, no gold, no text
    in the resampling exchange.
    """
    q = query_col
    # Paired per-query nDCG in ONE pipeline (r18, guide §1.4): the two
    # ranking_report_per_query calls this replaces each re-derived the
    # SHARED gold's ideal-DCG window and n_gold aggregation (gold is
    # common to both policies by definition of the paired experiment),
    # and computed rr/precision/recall columns the bootstrap never
    # reads.  Gold stats are now computed once and each policy
    # contributes only its top-k DCG aggregation; the ndcg6 expression
    # is the per-query report's VERBATIM (same rounding, same NULL-on-
    # zero-IDCG), so every per-query grade is bit-identical and the
    # inner join on the shared query universe is the identity it was.
    rel = (
        F.col(rel_col).cast("double") if rel_col is not None else F.lit(1.0)
    )
    g = gold.select(F.col(q), F.col(item_col), rel.alias("_rel"))

    def side_dcg(results, out):
        res = results.where(F.col(rank_col) <= F.lit(k)).select(
            F.col(q),
            F.col(item_col),
            F.col(rank_col).cast("long").alias("_r0"),
        )
        topk = res.groupBy(q, item_col).agg(F.min("_r0").alias("_rank"))
        return (
            topk.join(g, [q, item_col], "inner")
            .groupBy(q)
            .agg(
                F.coalesce(
                    F.sum(_gain6(F.col("_rel"), F.col("_rank"))), F.lit(0)
                )
                .cast("decimal(18,6)")
                .alias(out)
            )
        )

    w_ideal = Window.partitionBy(q).orderBy(
        F.col("_rel").desc(), F.col(item_col).asc()
    )
    ideal = (
        g.withColumn("_pos", F.row_number().over(w_ideal))
        .where(F.col("_pos") <= F.lit(k))
        .groupBy(q)
        .agg(
            F.coalesce(
                F.sum(_gain6(F.col("_rel"), F.col("_pos"))), F.lit(0)
            )
            .cast("decimal(18,6)")
            .alias("_idcg")
        )
    )

    def ndcg6(dcg_col):
        return F.when(
            F.col("_idcg") > 0,
            F.round(
                F.coalesce(F.col(dcg_col), F.lit(0)).cast("double")
                / F.col("_idcg").cast("double"),
                6,
            ),
        )

    per = (
        ideal.join(side_dcg(results_a, "_dcga"), q, "left")
        .join(side_dcg(results_b, "_dcgb"), q, "left")
        .select(
            F.col(q).alias("_q"),
            ndcg6("_dcga").alias("_na"),
            ndcg6("_dcgb").alias("_nb"),
        )
    )
    # Plan shape (r17): the replicate explode, the full-corpus means
    # AND the graded/ungraded counts all ride ONE aggregation of one
    # explode — ``b = -1`` is the weight-1 full-sample pseudo-replicate
    # and ungraded rows travel with weights masked by ``_g`` (the
    # wer_paired_bootstrap pattern), so the per-query join+window
    # pipelines execute once.  All sums are exact DECIMAL/long cells.
    from .evalmetrics import _boot_replicates, _paired_bootstrap_report
    from .fanout import spread

    graded_flag = F.col("_na").isNotNull() & F.col("_nb").isNotNull()
    # spread() before the n_boot explode: AQE coalesces the small
    # per-query frame to one partition by bytes, which would run the
    # 33x-amplified md5/weight CPU on one core (see fanout.spread)
    reps, w = _boot_replicates(
        spread(per),
        n_boot,
        seed,
        "CAST(_q AS STRING)",
        "_q",
        "_na",
        "_nb",
        graded_flag.alias("_g"),
    )
    per_b = reps.groupBy("b").agg(
        F.sum(F.when(F.col("_g"), F.col("_na").cast("decimal(18,6)") * w))
        .alias("_wa"),
        F.sum(F.when(F.col("_g"), F.col("_nb").cast("decimal(18,6)") * w))
        .alias("_wb"),
        F.sum(F.when(F.col("_g"), w)).cast("long").alias("_ws"),
        F.sum(F.when(F.col("_g"), 1).otherwise(0))
        .cast("long")
        .alias("n_queries"),
        F.sum(F.when(F.col("_g"), 0).otherwise(1))
        .cast("long")
        .alias("n_queries_ungraded"),
    )
    # a replicate (or the b = -1 full corpus) with no graded weight has
    # no mean nDCG: NULL sides, so it drops out of the summary
    score = lambda c: F.when(  # noqa: E731
        F.col("_ws") > 0,
        F.round(F.col(c).cast("double") / F.col("_ws").cast("double"), 6),
    )
    return _paired_bootstrap_report(
        per_b,
        n_boot,
        "ndcg",
        scores=(score("_wa"), score("_wb")),
        full_counts=("n_queries", "n_queries_ungraded"),
    )


def _ranking_cells(per: DataFrame, keys: list[str]) -> DataFrame:
    """Collapse per-query grades to the corpus ranking cell row(s):
    exact integer totals plus exact DECIMAL(18,6) sums of the
    per-query ROUND-6 metrics — ADDITIVE over disjoint query sets
    (every grade is computed WITHIN a query), so the grouped report
    and the maintained store are the same cells under different
    keys."""

    def dec6(col):
        return F.col(col).cast("decimal(18,6)")

    def sum6(col, name):
        return (
            F.coalesce(F.sum(dec6(col)), F.lit(0).cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias(name)
        )

    return (per.groupBy(*keys) if keys else per.groupBy()).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("ndcg6").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_ndcg_ungraded"),
        F.coalesce(F.sum("n_hits_k"), F.lit(0))
        .cast("long")
        .alias("n_hits_total"),
        F.coalesce(F.sum("n_gold"), F.lit(0))
        .cast("long")
        .alias("n_gold_total"),
        sum6("rr6", "rr_sum"),
        sum6("precision_k6", "p_sum"),
        sum6("recall_k6", "r_sum"),
        sum6("ndcg6", "ndcg_sum"),
        F.sum(F.when(F.col("ndcg6").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_graded"),
    )


def _ranking_finisher_cols(k_col):
    """The ranking finisher — shared VERBATIM between
    :func:`ranking_report` (one-shot and grouped) and
    :func:`ranking_from_store`, so grouped == sliced-one-shot and
    streamed == one-shot are identities of the expression tree.
    ``k_col`` is the cutoff column expression (a literal in the
    report forms, the stored cell column in the store form)."""
    return [
        k_col.cast("int").alias("k"),
        "n_queries",
        "n_ndcg_ungraded",
        "n_hits_total",
        "n_gold_total",
        F.when(
            F.col("n_gold_total") > 0,
            F.round(
                F.col("n_hits_total").cast("double")
                / F.col("n_gold_total").cast("double"),
                6,
            ),
        ).alias("micro_recall6"),
        F.round(
            F.col("rr_sum").cast("double")
            / F.col("n_queries").cast("double"),
            6,
        ).alias("mrr6"),
        F.round(
            F.col("p_sum").cast("double")
            / F.col("n_queries").cast("double"),
            6,
        ).alias("mean_precision_k6"),
        F.round(
            F.col("r_sum").cast("double")
            / F.col("n_queries").cast("double"),
            6,
        ).alias("mean_recall_k6"),
        F.when(
            F.col("n_graded") > 0,
            F.round(
                F.col("ndcg_sum").cast("double")
                / F.col("n_graded").cast("double"),
                6,
            ),
        ).alias("mean_ndcg6"),
    ]


def ranking_report(
    results: DataFrame,
    gold: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 10,
    rel_col: str | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Corpus-level ranking report at cutoff ``k`` — ONE row (or one
    per ``group_col`` value): ``(k, n_queries, n_ndcg_ungraded,
    n_hits_total, n_gold_total, micro_recall6, mrr6,
    mean_precision_k6, mean_recall_k6, mean_ndcg6)``.

    Macro means average the per-query ROUND-6 values through exact
    DECIMAL(18,6) sums (the registry recipe, so each mean is
    bit-reproducible under any partitioning); ``micro_recall6`` is the
    pooled ``sum(hits)/sum(gold)``.  Queries whose IDCG is 0 (all
    gold grades 0) are EXCLUDED from the nDCG mean AND COUNTED in
    ``n_ndcg_ungraded`` — the kappa/winrate loudness convention; they
    still contribute to every other mean (their hits are genuinely 0
    or graded-0).

    With ``group_col`` (a RESULTS column naming the retrieval policy —
    the N-system leaderboard, completing the corpus-metric form matrix
    for ranking) each policy is graded on the FULL gold query set (see
    :func:`ranking_report_per_query`), and each group's row equals the
    ungrouped operator over that policy's results bit for bit: the
    SAME cells + finisher under a groupBy.
    """
    per = ranking_report_per_query(
        results,
        gold,
        query_col,
        item_col,
        rank_col,
        k=k,
        rel_col=rel_col,
        group_col=group_col,
    )
    keys = [group_col] if group_col is not None else []
    return _ranking_cells(per, keys).select(
        *keys, *_ranking_finisher_cols(F.lit(int(k)))
    )


def ranking_append_batch(
    results: DataFrame,
    gold: DataFrame,
    state_dir: str,
    batch_id: int,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 10,
    rel_col: str | None = None,
) -> None:
    """One append cycle of the maintained ranking-report store — the
    ranking face of the corpus-metric store family (BLEU/chrF/WER/
    ROUGE/QA).  Cells are the :func:`_ranking_cells` row — exact
    integer totals + DECIMAL(18,6) metric sums, additive over
    DISJOINT query sets; one row per batch, however many queries
    arrived.  Contract: query ids must not repeat across batches (a
    query re-graded in a later batch is counted again), and ``k``
    must be constant for the life of the store (it is stored with
    each cell and the read keys on it — a mixed-k store is a caller
    bug, read as one row per k, never an average that silently means
    nothing).  Replay: the :mod:`.storemaint` cell-store contract."""
    per = ranking_report_per_query(
        results, gold, query_col, item_col, rank_col, k=k, rel_col=rel_col
    )
    cells = _ranking_cells(per, []).withColumn(
        "k", F.lit(int(k)).cast("int")
    )
    append_cells(cells, state_dir, batch_id)


def ranking_from_store(spark, state_dir: str) -> DataFrame:
    """Corpus ranking report over EVERYTHING the store has seen —
    equals :func:`ranking_report` over the union of all appended
    batches' (results, gold) BIT FOR BIT under the disjoint-queries
    contract (additive cells + the shared
    :func:`_ranking_finisher_cols` finisher; asserted by
    ``tests/test_ranking.py``)."""
    keys = ("k",)
    agg = sum_cells(read_cells(spark, state_dir, keys), keys)
    return agg.select(*_ranking_finisher_cols(F.col("k")))
