"""Evaluation metrics over (candidate, reference) text pairs.

A training-data pipeline doesn't just curate — it GRADES: model
outputs against references (eval harnesses), synthetic rewrites
against their sources (distillation QA), translations against gold
(MT corpora filtering).  The reference repo has no eval surface;
this extends SURVEY §2.4's pipeline layer with the classic corpus
metric, computed distributedly and hash-exactly.

* :func:`corpus_bleu` — Papineni et al. 2002 corpus-level BLEU:
  clipped n-gram precision for n=1..max_n aggregated over ALL pairs
  (corpus-level sums, NOT averaged sentence BLEU), geometric mean of
  the precisions, multiplied by the brevity penalty
  ``min(1, exp(1 - ref_len/cand_len))``;
* :func:`annotator_agreement` — Cohen 1960 pairwise kappa over an
  annotation table: grading the graders themselves, the label-quality
  gate of RLHF/SFT data pipelines.

100 TB shape (BLEU): clipping happens WITHIN a pair, so no n-gram
ever needs to leave its row — tokenization stays JVM
(engine-identical lower/split, the oracle's contract), one
Arrow-batched ``mapInPandas`` multiset-min-counts each pair
row-locally and folds every partition to 4 partial rows, and the
metric's ONLY exchange is the 4-row merge.  The corpus-scale
gram-shuffle designs this replaced are recorded, with measurements,
in :func:`_clip_cells` and docs/SCALE.md.  BLEU, chrF and ROUGE cells
(one-shot, per-system and paired) all come from that one fold,
:func:`_clip_fold`.  No windows, no driver
loops, no joins.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .storemaint import append_cells, read_cells, sum_cells


def _tok(col):
    """Whitespace tokens of the lowercased text, empties dropped — the
    repo's shared tokenizer convention (text.token_entropy et al.)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != F.lit(""))


def _lcs_masks(ref) -> dict:
    """Hyyrö's match masks of ``ref``: bit ``i`` of ``masks[t]`` is set
    where ``ref[i] == t``."""
    masks: dict = {}
    for i, t in enumerate(ref):
        masks[t] = masks.get(t, 0) | (1 << i)
    return masks


def _lcs_len(cand, masks: dict, m: int) -> int:
    """LCS length of ``cand`` against the ``m``-long reference whose
    :func:`_lcs_masks` are ``masks``: Hyyrö 2004's bit-parallel scan
    (``u = V & PM[c]; V = (V + u) | (V - u)``, LCS = m - popcount(V))
    over Python bigints, O(|cand| * ceil(m / 64)) word ops and no
    length cap."""
    if m == 0 or not cand:
        return 0
    ones = (1 << m) - 1
    v = ones
    for tok in cand:
        u = v & masks.get(tok, 0)
        v = ((v + u) | (v - u)) & ones
    return m - v.bit_count()


def _clip_fold(batches, orders, lcs, grouped, labels, names):
    """The one reference-clipped cell fold behind every BLEU, chrF and
    ROUGE cell (``mapInPandas`` body; :func:`_clip_cells` binds it with
    ``functools.partial``, so Spark pickles it by reference and the
    worker imports this package).

    Each batch holds ``[_grp,]`` then one or two candidate columns
    (sides), then the reference: token arrays, or strings, whose grams
    are character grams (chrF).  Per row the reference's grams are
    counted once per order in ``orders`` and, with ``lcs``, its Hyyrö
    mask table is built once; then every side is clipped (multiset min
    against the reference's counts) and scanned.  Counters accumulate per ``_grp``
    value (a group or a pair id; NULL is its own key) or one constant
    key when not ``grouped``; a NULL text is empty.  One output row per
    (key, cell) — cells are the orders, then the LCS — with ``names``:
    ``[_grp,]`` the cell's entry of ``labels`` (omitted when None), then
    ``matched``/``cand_total`` per side and the shared ``ref_total``."""
    from collections import Counter

    import pandas as pd

    def grams(s, n):  # n-tuples of tokens or characters
        return Counter(zip(*[s[i:] for i in range(n)]))

    n_cells = len(orders) + lcs
    stats: dict = {}
    for pdf in batches:
        cols = [pdf[c] for c in pdf.columns]
        keys = cols.pop(0) if grouped else [0] * len(pdf)
        for key, *texts in zip(keys, *cols):
            *cands, ref = ([] if t is None else list(t) for t in texts)
            acc = stats.get(key)
            if acc is None:
                acc = stats[key] = [[0] * (2 * len(cands) + 1) for _ in range(n_cells)]
            for cell, n in zip(acc, orders):
                rg = grams(ref, n)
                cell[-1] += max(0, len(ref) - n + 1)
                for s, c in enumerate(cands):
                    cell[2 * s] += sum(
                        min(k, rg[g]) for g, k in grams(c, n).items() if g in rg
                    )
                    cell[2 * s + 1] += max(0, len(c) - n + 1)
            if lcs:
                cell, m = acc[-1], len(ref)
                masks = _lcs_masks(ref)
                cell[-1] += m
                for s, c in enumerate(cands):
                    cell[2 * s] += _lcs_len(c, masks, m)
                    cell[2 * s + 1] += len(c)
    yield pd.DataFrame(
        [
            ([key] if grouped else []) + ([] if labels is None else [label]) + cell
            for key, acc in stats.items()
            for label, cell in zip(labels or [None] * n_cells, acc)
        ],
        columns=names,
    )


def _clip_cells(
    df: DataFrame,
    cand_cols,
    ref_col: str,
    orders=(),
    key: str | None = "n",
    chars: bool = False,
    lcs: bool = False,
    group_col: str | None = None,
    keep_grp: bool = False,
) -> DataFrame:
    """Per-cell sums of :func:`_clip_fold` over ``df``: the cells of
    BLEU (``orders`` 1..max_n, ``key`` ``n``), chrF (the same with
    ``chars``), ROUGE-L (``lcs`` alone, no ``key`` column) and ROUGE
    (orders plus ``lcs``, ``key`` ``metric`` labelled ``rouge<n>`` /
    ``rougeL``), for one candidate column or two (``cand_cols``; two
    sides emit ``matched_a, cand_total_a, matched_b, cand_total_b``
    before ``ref_total``).  With ``group_col`` the cells are keyed on
    its string value, renamed back to ``group_col`` unless
    ``keep_grp`` (the paired bootstraps key replicate weights on
    ``_grp``).  Every cell is an integer sum, additive across disjoint
    pair sets because clipping and the LCS happen within a pair.

    Ungrouped, an empty corpus has no cell rows, except that with
    ``lcs`` a literal all-zero LCS partial is unioned below the
    aggregation: a zero row changes no sum, and on an empty corpus it
    is the one row left (``lcs_cells``' one row, ``_rouge_cells``'
    all-zero ``rougeL`` row)."""
    from .fanout import fan_out

    # Clipping is WITHIN a pair, so no gram ever needs to leave its row:
    # tokenization stays JVM (engine-identical lower/split semantics —
    # the oracle's contract) and the counting crosses once through an
    # Arrow-batched mapInPandas that folds each partition to one row per
    # (key, cell).  The only exchange is that merge.  This replaced two
    # corpus-scale designs pinned by measurement (500k synthetic pairs):
    # (id, n, gram) shuffle + join 114.2 s, the side-tagged single-shuffle
    # rewrite 43.6 s, this row-local counting 2.7 s — and 1.9 s isolated
    # over sf0.1's 50k real documents.  fan_out (r17) spreads a
    # single-split scan so the fold does not run in ONE Python worker;
    # the sums are partition-order-insensitive.
    grouped = group_col is not None
    keep = [*cand_cols, ref_col] + ([group_col] if grouped else [])
    src = fan_out(df.select(*dict.fromkeys(keep)))
    if chars:
        proj = lambda c: F.regexp_replace(F.lower(c), r"\s+", "")  # noqa: E731
    else:
        proj = _tok
    base = src.select(
        *([F.col(group_col).cast("string").alias("_grp")] if grouped else []),
        *(proj(F.col(c)).alias(a) for c, a in zip(cand_cols, ("ca", "cb"))),
        proj(F.col(ref_col)).alias("rf"),
    )
    orders = tuple(orders)
    labels = None
    if key == "n":
        labels = orders
    elif key == "metric":
        labels = tuple(f"rouge{n}" for n in orders) + ("rougeL",)
    suffixes = ("",) if len(cand_cols) == 1 else ("_a", "_b")
    sums = [f"{c}{s}" for s in suffixes for c in ("matched", "cand_total")]
    sums.append("ref_total")
    keys = (["_grp"] if grouped else []) + ([key] if key else [])
    types = {"_grp": "string", "n": "int", "metric": "string"}
    schema = ", ".join(
        [f"{k} {types[k]}" for k in keys] + [f"{c} long" for c in sums]
    )
    fold = functools.partial(
        _clip_fold,
        orders=orders,
        lcs=lcs,
        grouped=grouped,
        labels=labels,
        names=keys + sums,
    )
    partials = base.mapInPandas(fold, schema=schema)
    if lcs and not grouped:
        zero = df.sparkSession.range(1).select(
            *([F.lit(labels[-1]).alias(key)] if key else []),
            *(F.lit(0).cast("long").alias(c) for c in sums),
        )
        partials = partials.unionByName(zero)
    cells = partials.groupBy(*keys).agg(
        *(F.sum(c).cast("long").alias(c) for c in sums)
    )
    if grouped and not keep_grp:
        cells = cells.withColumnRenamed("_grp", group_col)
    return cells


def corpus_bleu(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
) -> DataFrame:
    """Corpus-level BLEU of ``cand_col`` against ``ref_col`` (one
    reference per pair).  Returns ONE row:

    ``cand_len``/``ref_len`` (total unigram counts), per-order
    ``matched_k``/``total_k`` (clipped match / candidate n-gram
    totals, pure integers), ``p_k`` (the exact double division
    matched/total), ``bp6`` (brevity penalty, ROUND 6), and ``bleu6``.

    Exactness contract: every count is an integer sum; each ``p_k``
    is one IEEE division (bit-identical across engines); the log-mean
    folds ``FLOOR(ROUND(LN(p_k),6)*1e6+0.5)`` micro-nats as a BIGINT
    sum (associative — partial-aggregation order can't flip a bit);
    ``bleu6 = ROUND(bp6 * ROUND(EXP(mean),6), 6)``.  If ANY order has
    zero clipped matches, BLEU is exactly 0.0 (the standard
    convention — no smoothing), and orders whose candidate total is
    zero are treated the same way.

    A NULL candidate or reference tokenizes to the empty list (zero
    grams at every order), so NULL-bearing corpora degrade the
    precisions instead of crashing.
    """
    return corpus_bleu_from_cells(
        bleu_cells(df, id_col, cand_col, ref_col, max_n=max_n), max_n=max_n
    )


def corpus_bleu_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
) -> DataFrame:
    """Corpus BLEU PER GROUP — the multi-system eval-harness shape
    (grade N models' outputs against shared references in one pass;
    :func:`corpus_bleu` is the single-system special case).  Returns
    one row per distinct ``group_col`` value with the same columns as
    :func:`corpus_bleu`, prefixed by the group.

    The group key is cast to STRING (the Arrow fold keys a dict on it;
    eval systems are names).  NULL groups form their own group, the
    Spark groupBy convention.

    Exactness and scale are inherited verbatim: the fold still counts
    each pair row-locally and emits ``max_n`` partial rows PER GROUP
    PER PARTITION (systems-under-eval are a handful, so the exchange
    stays O(systems · max_n · partitions) rows whatever the corpus),
    and the finisher is :func:`corpus_bleu_from_cells` with
    ``group_cols`` — the identical fixed-order IEEE expression, now
    under a groupBy.
    """
    cells = bleu_cells(
        df, id_col, cand_col, ref_col, max_n=max_n, group_col=group_col
    )
    return corpus_bleu_from_cells(
        cells, max_n=max_n, group_cols=(group_col,)
    )


def bleu_cells(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
    group_col: str | None = None,
) -> DataFrame:
    """The sufficient statistics of corpus BLEU as per-order cells:
    ``(n, matched, cand_total, ref_total)`` for n=1..max_n — pure
    integer sums, and ADDITIVE across disjoint pair sets (clipping
    happens WITHIN each pair, so a pair contributes the same matched
    count whichever batch carries it).  That additivity is what makes
    the maintained BLEU store (:func:`bleu_append_batch`) exact: cells
    summed over batches equal the cells of the union corpus, so the
    streamed metric IS the batch metric, bit for bit.

    With ``group_col`` the fold keys its counters on the (stringified)
    group value and emits per-group cells ``(group, n, matched,
    cand_total, ref_total)`` — the sufficient statistics of
    :func:`corpus_bleu_by_group`, still additive within each group.
    """
    if max_n < 1:
        raise ValueError(f"corpus_bleu: max_n must be >= 1, got {max_n}")
    return _clip_cells(
        df, [cand_col], ref_col, range(1, max_n + 1), group_col=group_col
    )


def corpus_bleu_from_cells(
    cells: DataFrame, max_n: int = 4, group_cols: tuple = ()
) -> DataFrame:
    """Finish corpus BLEU from :func:`bleu_cells` rows (possibly many
    per ``n`` — e.g. one set per appended batch): cells are summed per
    order first, so the finisher is shared VERBATIM by the one-shot
    :func:`corpus_bleu`, the maintained store's :func:`bleu_from_store`,
    and (under a groupBy on ``group_cols``) the per-system
    :func:`corpus_bleu_by_group` — output-identical by construction."""
    # Columns are built as SQL text and parsed in one expr call each:
    # the Column-API loops issued thousands of py4j round trips
    # (~0.5 s of driver time per call — this finisher runs twice per
    # bootstrap construction).  The parsed expressions are the same
    # arithmetic: D-suffixed double literals (plain 0.0 would parse as
    # DECIMAL), the same zero-order gating, floor/round/ln order, and
    # BIGINT micro sums.
    agg_cols = [
        F.expr(
            f"coalesce(sum(CASE WHEN n = {n} THEN {src} END), 0) AS {dst}"
        )
        for n in range(1, max_n + 1)
        for src, dst in (("matched", f"matched_{n}"), ("cand_total", f"total_{n}"))
    ]
    agg_cols.append(
        F.expr("coalesce(sum(CASE WHEN n = 1 THEN ref_total END), 0) AS ref_len")
    )
    flat = (
        cells.groupBy(*[F.col(c) for c in group_cols]).agg(*agg_cols)
        if group_cols
        else cells.agg(*agg_cols)
    )

    def p(n):
        return f"(CAST(matched_{n} AS DOUBLE) / CAST(total_{n} AS DOUBLE))"

    def zero(n):
        return f"(matched_{n} = 0 OR total_{n} = 0)"

    any_zero = " OR ".join(zero(n) for n in range(1, max_n + 1))
    # LN(NaN/0) would poison the fold (and ANSI mode throws on the
    # NaN->long cast), so a zero order logs 1.0 — the whole row is
    # gated to BLEU 0.0 by any_zero anyway
    micro_sum = "CAST(0 AS BIGINT)" + "".join(
        f" + floor(round(ln(CASE WHEN {zero(n)} THEN 1.0D"
        f" ELSE {p(n)} END), 6) * 1000000 + 0.5D)"
        for n in range(1, max_n + 1)
    )
    ratio = "(1.0D - CAST(ref_len AS DOUBLE) / CAST(total_1 AS DOUBLE))"
    bp6 = (
        f"(CASE WHEN total_1 >= ref_len THEN 1.0D"
        f" ELSE round(exp({ratio}), 6) END)"
    )
    geo6 = (
        f"round(exp(CAST(({micro_sum}) AS DOUBLE)"
        f" / {float(max_n) * 1e6!r}D), 6)"
    )
    gate = f"(({any_zero}) OR total_1 = 0)"
    out_cols = [F.col(c) for c in group_cols] + [
        F.expr("total_1 AS cand_len"),
        F.col("ref_len"),
    ]
    for n in range(1, max_n + 1):
        out_cols.append(F.col(f"matched_{n}"))
        out_cols.append(F.col(f"total_{n}"))
        out_cols.append(
            F.expr(
                f"CASE WHEN total_{n} = 0 THEN 0.0D"
                f" ELSE {p(n)} END AS p_{n}"
            )
        )
    out_cols.append(
        F.expr(f"CASE WHEN {gate} THEN 0.0D ELSE {bp6} END AS bp6")
    )
    out_cols.append(
        F.expr(
            f"CASE WHEN {gate} THEN 0.0D"
            f" ELSE round({bp6} * {geo6}, 6) END AS bleu6"
        )
    )
    return flat.select(*out_cols)


#: Poisson(1) CDF as exact ppm integer thresholds (floor(cdf(k)*1e6)):
#: the bootstrap weight of a pair in replicate b is the number of
#: thresholds at or below its deterministic per-(pair, replicate)
#: uniform h6 = md5_56("seed:id:b") % 1e6 — hardcoded identically in
#: the DuckDB oracles, so resampling itself is engine-replayable.
#: Residual mass past k=8 (~1e-6) caps the weight at 9.
POISSON1_CDF_PPM = (
    367879,
    735758,
    919698,
    981011,
    996340,
    999405,
    999916,
    999989,
    999998,
)


def _grp_key(col):
    """Non-null INTERNAL group key: ``'v:' + str(value)``, NULL ->
    ``'null:'``.  Grouped operators carry the slice key through
    joins, and Spark's column-name joins are NOT null-safe — a NULL
    group value would silently never match (dropped rows, zeroed
    counts; the round-15 review's finding).  The prefix keeps a
    literal user value ``'null:'`` (encoded ``'v:null:'``) from
    colliding with the NULL sentinel.  Decode with :func:`_grp_val`
    at the output boundary."""
    return F.coalesce(
        F.concat(F.lit("v:"), col.cast("string")), F.lit("null:")
    )


def _grp_val(c):
    """Decode a :func:`_grp_key` back to the user-facing value
    (NULL-preserving)."""
    return F.when(c == F.lit("null:"), F.lit(None).cast("string")).otherwise(
        c.substr(F.lit(3), F.length(c))
    )


def _poisson1_weight(h6):
    """Inverse-CDF Poisson(1) draw from an integer ppm uniform."""
    w = F.lit(len(POISSON1_CDF_PPM))
    for k in reversed(range(len(POISSON1_CDF_PPM))):
        w = F.when(h6 < F.lit(POISSON1_CDF_PPM[k]), F.lit(k)).otherwise(w)
    return w


def _boot_weight_expr(grp_sql: str, seed: int, b_sql: str = "b") -> "F.Column":
    """The bootstrap weight column as ONE parsed SQL expression —
    ``1`` for the ``b = -1`` full-sample pseudo-replicate, else the
    Poisson(1) inverse-CDF draw from ``md5_56("seed:grp:b") % 1e6``
    against the ppm thresholds.  The same arithmetic as
    ``_md5_long`` + :func:`_poisson1_weight` (the nested WHEN chain
    and this flat CASE pick the identical smallest matching k —
    thresholds are increasing), built in one ``F.expr`` parse instead
    of ~50 py4j round trips per construction (guide §1.2 step 2 —
    the r17 SQL-text discipline applied to the weight tail).
    ``grp_sql``/``b_sql`` are SQL fragments naming the pair key and
    replicate columns."""
    h6 = (
        f"(CAST(conv(substring(md5(concat_ws(':', '{int(seed)}', "
        f"{grp_sql}, CAST({b_sql} AS STRING))), 1, 14), 16, 10) AS BIGINT)"
        f" % 1000000)"
    )
    whens = " ".join(
        f"WHEN {h6} < {v} THEN {k}"
        for k, v in enumerate(POISSON1_CDF_PPM)
    )
    return F.expr(
        f"CASE WHEN {b_sql} = -1 THEN 1 {whens} "
        f"ELSE {len(POISSON1_CDF_PPM)} END"
    )


def _boot_replicates(
    df: DataFrame, n_boot: int, seed: int, grp_sql: str, *cols
) -> "tuple[DataFrame, F.Column]":
    """The replicate explode every paired bootstrap shares: ``cols``
    of ``df`` (every column when none are named) once per replicate
    ``b = -1 .. n_boot-1``, where ``b = -1`` is the weight-1
    full-sample pseudo-replicate that carries the headline scores
    through the same pipeline as the resampled worlds.  Returns
    ``(reps, w)``: ``w`` is the :func:`_boot_weight_expr` weight of
    pair ``grp_sql`` in replicate ``b``, left as an expression that
    callers fold into their own weighted projection or aggregation."""
    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2, got {n_boot}")
    reps = df.select(
        *(cols or ("*",)),
        F.explode(F.sequence(F.lit(-1), F.lit(int(n_boot) - 1))).alias("b"),
    )
    return reps, _boot_weight_expr(grp_sql, seed)


def _paired_bootstrap_report(
    rows: DataFrame,
    n_boot: int,
    prefix: str,
    scores: "tuple[F.Column, F.Column] | None" = None,
    counts: DataFrame | None = None,
    full_counts: tuple[str, ...] = (),
    keys: list[str] | None = None,
    group_col: str | None = None,
    lower_better: bool = False,
    empty_score: float | None = None,
) -> DataFrame:
    """The one summary every paired bootstrap ends in.  ``rows`` holds
    one row per ([keys,] b) — slice and replicate — with both sides'
    scores (columns ``_sa`` / ``_sb``, or the ``scores`` expressions
    over ``rows``, inlined into the summary's one projection so a
    caller's score arithmetic adds no plan node) plus ``full_counts``
    columns whose ``b = -1`` value is a full-sample count.  ONE
    aggregation per slice reads the headline ``{prefix}_a6`` /
    ``{prefix}_b6`` and the full counts off the ``b = -1`` row and
    summarizes the replicate deltas ``round(a - b, 6)`` — a second
    consumer of ``rows`` would re-run the caller's whole metric
    pipeline (the b-filters push below its aggregation, so exchange
    reuse never fires; measured r17).

    The family contract: a replicate survives when ``b >= 0`` and
    BOTH sides scored (a NULL side drops it from ``_nb``);
    ``delta_lo6`` / ``delta_hi6`` are the nearest-rank bounds at ranks
    ceil(.025/.975 * n_boot) over the sorted surviving deltas, priced
    against the REQUESTED replicate count, so they go NULL when too
    few replicates survive; the win count comes first
    (``n_delta_pos`` — or ``n_delta_neg`` for a ``lower_better``
    error metric, where A wins on a negative delta) and
    ``p_a_better6`` is wins / survivors.  With zero surviving deltas
    the counts read 0 and the interval/probability columns are NULL.

    ``counts`` supplies leading count columns instead of
    ``full_counts``: one row cross-joined onto every slice, or — with
    ``group_col`` — one row per ``_grp`` slice that DRIVES a left join,
    so a slice whose rows were all excluded still emits (zero delta
    counts, NULL values; the round-15 fully-excluded-group shape) with
    ``_grp`` decoded back to ``group_col``.  ``empty_score`` fills the
    headline scores when there is no ``b = -1`` row (an empty corpus).
    """
    keys = keys or []
    sa, sb = scores or (F.col("_sa"), F.col("_sb"))
    pb = rows.select(
        *keys,
        "b",
        *full_counts,
        sa.alias("_sa"),
        sb.alias("_sb"),
        F.round(sa - sb, 6).alias("_d"),
    )
    rep = (
        (F.col("b") >= 0) & F.col("_sa").isNotNull() & F.col("_sb").isNotNull()
    )
    isfull = F.col("b") == -1
    pos, neg = "n_delta_pos", "n_delta_neg"
    win, loss = (neg, pos) if lower_better else (pos, neg)
    sign = {pos: F.col("_d") > 0, neg: F.col("_d") < 0}

    def headline(c):
        v = F.max(F.when(isfull, F.col(c)))
        return v if empty_score is None else F.coalesce(v, F.lit(empty_score))

    summary = pb.groupBy(*keys).agg(
        F.count(F.when(rep, 1)).alias("_nb"),
        F.sort_array(F.collect_list(F.when(rep, F.col("_d")))).alias("_ds"),
        *(F.count(F.when(rep & sign[c], 1)).alias(c) for c in (win, loss)),
        *(
            F.coalesce(F.max(F.when(isfull, F.col(c))), F.lit(0))
            .cast("long")
            .alias(c)
            for c in full_counts
        ),
        headline("_sa").alias(f"{prefix}_a6"),
        headline("_sb").alias(f"{prefix}_b6"),
    )
    lead = [F.col(k) for k in keys]
    if group_col is not None:
        out = counts.join(summary, keys, "left")
        lead = [_grp_val(F.col("_grp")).alias(group_col)]
    elif counts is not None:
        out = summary.crossJoin(F.broadcast(counts))
    else:
        out = summary
    if counts is not None:
        lead += [c for c in counts.columns if c not in keys]
    lo_rank = max(1, -(-int(n_boot) * 25 // 1000))  # ceil(0.025 * B)
    hi_rank = -(-int(n_boot) * 975 // 1000)  # ceil(0.975 * B)
    a6, b6 = f"{prefix}_a6", f"{prefix}_b6"
    return out.select(
        *lead,
        *full_counts,
        F.lit(int(n_boot)).cast("int").alias("n_boot"),
        a6,
        b6,
        F.round(F.col(a6) - F.col(b6), 6).alias("delta6"),
        # F.get (0-based, NULL out of bounds) not element_at: too few
        # survivors must report NULL bounds, not an ANSI
        # INVALID_ARRAY_INDEX
        F.get("_ds", lo_rank - 1).alias("delta_lo6"),
        F.get("_ds", hi_rank - 1).alias("delta_hi6"),
        # coalesce: a left-joined slice with no replicate rows
        *(
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in (win, loss)
        ),
        F.when(
            F.col("_nb") > 0,
            F.round(
                F.col(win).cast("double") / F.col("_nb").cast("double"), 6
            ),
        ).alias("p_a_better6"),
    )


def _seq_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    cand_a_col: str,
    cand_b_col: str,
    ref_col: str,
    max_n: int,
    n_boot: int,
    seed: int,
    chars: bool,
    finish,
    prefix: str,
) -> DataFrame:
    """The BLEU/chrF paired bootstrap body.  Both systems' per-pair
    cells come out of ONE two-sided :func:`_clip_cells` fold keyed on
    the pair id (the reference is tokenized and Counter-ed once, not
    once per side; ``chars`` picks chrF's projection), one explode carries one
    md5/ppm weight per (pair, replicate) for both sides (pairing means
    the weights are shared), and ONE per-(replicate, order)
    aggregation — pinned, (n_boot+1) * max_n rows — feeds each side's
    ``finish`` (the one-shot ``*_from_cells`` finisher under a groupBy
    on ``b``, emitting ``{prefix}6``) VERBATIM.  The ``b = -1``
    weight-1 sums ARE the one-shot corpus cells, so its score is the
    one-shot metric bit for bit; an empty corpus reports the
    finisher's zero-cells 0.0."""
    from .fanout import pin, spread

    cells = _clip_cells(
        df,
        [cand_a_col, cand_b_col],
        ref_col,
        range(1, max_n + 1),
        chars=chars,
        group_col=id_col,
        keep_grp=True,
    )
    reps, w = _boot_replicates(spread(cells), n_boot, seed, "_grp")
    sums = (
        "matched_a", "cand_total_a", "matched_b", "cand_total_b", "ref_total"
    )
    weighted = reps.select(
        "b", "n", *((F.col(c) * w).cast("long").alias(c) for c in sums)
    )
    agg = pin(
        weighted.groupBy("b", "n").agg(
            *(F.sum(c).cast("long").alias(c) for c in sums)
        )
    )

    def side(s):
        cells_s = agg.select(
            "b",
            "n",
            F.col(f"matched_{s}").alias("matched"),
            F.col(f"cand_total_{s}").alias("cand_total"),
            F.col("ref_total"),
        )
        return finish(cells_s).select("b", F.col(f"{prefix}6").alias(f"_s{s}"))

    n_pairs = df.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return _paired_bootstrap_report(
        side("a").join(side("b"), "b"),
        n_boot,
        prefix,
        counts=n_pairs,
        empty_score=0.0,
    )


def bleu_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    cand_a_col: str,
    cand_b_col: str,
    ref_col: str,
    max_n: int = 4,
    n_boot: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Paired bootstrap significance for corpus BLEU (Koehn 2004) —
    the eval-harness question the point metrics cannot answer: is
    system A's BLEU lead over system B REAL, or within resampling
    noise of this test set?  Both systems' outputs are resampled with
    the SAME per-pair weights (pairing is what cancels test-set
    difficulty), the corpus metric is recomputed per replicate, and
    the per-replicate deltas give a confidence interval plus the
    fraction of worlds where A wins.

    Resampling is the distributed-bootstrap standard: independent
    Poisson(1) pair weights (the large-n approximation of Koehn's
    multinomial resample — stated, not hidden), drawn DETERMINISTICALLY
    from ``md5_56("seed:id:b") % 1e6`` against integer ppm thresholds
    (:data:`POISSON1_CDF_PPM`), so the whole experiment — weights,
    replicate scores, interval — is a pure function of (data, seed)
    and replays bit-for-bit in the DuckDB oracle.

    Returns ONE row: ``(n_pairs, n_boot, bleu_a6, bleu_b6, delta6,
    delta_lo6, delta_hi6, n_delta_pos, n_delta_neg, p_a_better6)`` —
    full-corpus scores and their difference, the nearest-rank
    2.5%/97.5% bounds over the per-replicate deltas (rank
    ``ceil(alpha * n_boot)``, the stated small-B convention), the
    replicate win/loss counts, and the win fraction
    (:func:`_paired_bootstrap_report`, the family's one summary).

    100 TB shape: per-pair BLEU cells are keyed on the pair id (the
    group-counter fold — row-local counting, a slim integer shuffle),
    replicates explode those cells by ``n_boot`` (O(pairs * max_n *
    n_boot) integer rows, no text), and each replicate finishes
    through :func:`corpus_bleu_from_cells` VERBATIM under a groupBy —
    the per-replicate score is the one-shot metric's expression tree,
    not a reimplementation.  The final quantile step sorts ``n_boot``
    deltas inside one row (``sort_array`` over a collected 32-element
    array), never a corpus-sized sort.  The pipeline is
    :func:`_seq_paired_bootstrap`, shared with
    :func:`chrf_paired_bootstrap`.
    """
    return _seq_paired_bootstrap(
        df,
        id_col,
        cand_a_col,
        cand_b_col,
        ref_col,
        max_n,
        n_boot,
        seed,
        chars=False,
        finish=lambda c: corpus_bleu_from_cells(
            c, max_n=max_n, group_cols=("b",)
        ),
        prefix="bleu",
    )


def wer_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    cand_a_col: str,
    cand_b_col: str,
    ref_col: str,
    n_boot: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Paired bootstrap significance for corpus WER — the
    :func:`bleu_paired_bootstrap` harness applied to the error metric
    (same deterministic Poisson(1) weights from
    ``md5_56("seed:id:b") % 1e6``, same pairing argument, same
    nearest-rank interval).  WER's per-pair cells are just
    ``(n_edits, ref_len)``, so a replicate's score is one weighted
    integer ratio — no finisher pivot needed.

    Pairs where EITHER side exceeds the relabel alphabet are excluded
    from the whole experiment and counted (``n_pairs_dropped``) — a
    paired test must grade both systems on identical pair sets.
    WER is an error, so A beats B when delta = wer_a - wer_b < 0;
    ``p_a_better6`` counts the NEGATIVE-delta replicates.  A replicate
    whose weights leave no reference words has no WER and drops out.

    Returns ONE row: ``(n_pairs, n_pairs_dropped, n_boot, wer_a6,
    wer_b6, delta6, delta_lo6, delta_hi6, n_delta_neg, n_delta_pos,
    p_a_better6)``.

    Plan shape (r17): ONE pass computes BOTH sides' edit distances in
    the same JVM projection (the two DPs share the reference
    tokenization; the per-side ``wer_pairs`` + id-join this replaces
    ran the corpus scan twice and shuffled the pair cells), and the
    full-corpus sums ride the ``b = -1`` weight-1 pseudo-replicate of
    the same explode — exact long sums, so every output value is
    unchanged bit for bit.
    """
    from .fanout import fan_out

    # both sides in one row-local projection (the wer_pairs expression
    # pair, sharing the reference tokens), fanned out like wer_pairs
    src = fan_out(
        df.select(
            *dict.fromkeys([id_col, cand_a_col, cand_b_col, ref_col])
        )
    )

    def side(cand_col):
        ct = _tok(F.coalesce(F.col(cand_col), F.lit("")))
        rt = _tok(F.coalesce(F.col(ref_col), F.lit("")))
        words = F.array_distinct(F.concat(ct, rt))
        ok = F.size(words) <= WER_ALPHABET

        def enc(toks):
            return F.concat_ws(
                "",
                F.transform(toks, lambda t: F.chr(F.array_position(words, t))),
            )

        return ok, F.when(ok, F.levenshtein(enc(ct), enc(rt))).cast("long")

    ok_a, ea = side(cand_a_col)
    ok_b, eb = side(cand_b_col)
    cells = src.select(
        F.col(id_col).alias("_id"),
        ok_a.alias("_ok_a"),
        ea.alias("_ea"),
        ok_b.alias("_ok_b"),
        eb.alias("_eb"),
        F.size(_tok(F.coalesce(F.col(ref_col), F.lit("")))).cast("long").alias(
            "_rl"
        ),
    )
    kept = F.col("_ok_a") & F.col("_ok_b")
    # dropped rows ride the same explode (weights masked by `kept`) so
    # ONE groupBy aggregation serves replicates, full sums, and the
    # exclusion count
    reps, w = _boot_replicates(
        cells,
        n_boot,
        seed,
        "CAST(_id AS STRING)",
        "_id",
        kept.alias("_k"),
        "_ea",
        "_eb",
        "_rl",
    )
    k = F.col("_k")
    per_b = reps.groupBy("b").agg(
        F.sum(F.when(k, F.col("_ea") * w)).cast("long").alias("_wea"),
        F.sum(F.when(k, F.col("_eb") * w)).cast("long").alias("_web"),
        F.sum(F.when(k, F.col("_rl") * w)).cast("long").alias("_wrl"),
        F.sum(F.when(k, 1).otherwise(0)).cast("long").alias("n_pairs"),
        F.sum(F.when(k, 0).otherwise(1)).cast("long").alias("n_pairs_dropped"),
    )
    wer6 = lambda e: F.when(  # noqa: E731 — tiny local expression
        F.col("_wrl") > 0,
        F.round(F.col(e).cast("double") / F.col("_wrl").cast("double"), 6),
    )
    return _paired_bootstrap_report(
        per_b,
        n_boot,
        "wer",
        scores=(wer6("_wea"), wer6("_web")),
        full_counts=("n_pairs", "n_pairs_dropped"),
        lower_better=True,
    )


def chrf_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    cand_a_col: str,
    cand_b_col: str,
    ref_col: str,
    max_n: int = 6,
    beta: float = 2.0,
    n_boot: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Paired bootstrap significance for corpus chrF — the
    :func:`bleu_paired_bootstrap` harness instantiated on the second
    sequence metric (same deterministic Poisson(1) md5/ppm weights,
    same pairing argument, same nearest-rank interval, the same
    :func:`_seq_paired_bootstrap` body over character grams): per-pair
    additive cells, replicates are an O(pairs * max_n * n_boot)
    integer-cell explode, and each replicate finishes through
    :func:`chrf_from_cells` VERBATIM under a groupBy.

    Returns ONE row: ``(n_pairs, n_boot, chrf_a6, chrf_b6, delta6,
    delta_lo6, delta_hi6, n_delta_pos, n_delta_neg, p_a_better6)``.
    Verified pytest-by-design against a shared-nothing driver
    reference (the established store convention — chrF's oracle-faced
    forms are the one-shot/per-system rows; this composes their
    machinery with the bootstrap's).
    """
    return _seq_paired_bootstrap(
        df,
        id_col,
        cand_a_col,
        cand_b_col,
        ref_col,
        max_n,
        n_boot,
        seed,
        chars=True,
        finish=lambda c: chrf_from_cells(
            c, max_n=max_n, beta=beta, group_cols=("b",)
        ),
        prefix="chrf",
    )


def rouge_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    cand_a_col: str,
    cand_b_col: str,
    ref_col: str,
    max_n: int = 2,
    n_boot: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Paired bootstrap significance for corpus ROUGE — one row PER
    METRIC (``rouge1``/``rouge2``/``rougeL``), because a summarization
    comparison can be significant on unigram overlap and noise on the
    LCS at the same time: same deterministic Poisson(1) md5/ppm
    weights, pairing, and nearest-rank interval as the BLEU/chrF/WER/
    nDCG bootstraps, over the per-metric micro-F1 deltas.

    Returns ``(metric, n_pairs, n_boot, f1_a6, f1_b6, delta6,
    delta_lo6, delta_hi6, n_delta_pos, n_delta_neg, p_a_better6)``.
    Cells are :func:`_rouge_cells`' for both sides, keyed on the pair
    id; each
    replicate finishes through the exact-integer F1 identity
    ``2m/(c+r)`` (the :func:`_rouge_finish` expression).  Verified
    pytest-by-design against a shared-nothing driver reference.
    """
    from .fanout import spread

    # both systems' cells come out of ONE two-sided _clip_cells fold
    # (the reference is tokenized / Hyyrö-masked once, not once per
    # side), the explode carries one shared md5/ppm
    # weight per (pair, replicate), and one per-(metric, replicate)
    # aggregation sums both sides, so both sides' F1 read off the same
    # row.  spread() pins the explode wide (fanout.spread).
    cells = _clip_cells(
        df,
        [cand_a_col, cand_b_col],
        ref_col,
        range(1, max_n + 1),
        key="metric",
        lcs=True,
        group_col=id_col,
        keep_grp=True,
    )
    reps, w = _boot_replicates(spread(cells), n_boot, seed, "_grp")
    agg = reps.groupBy("metric", "b").agg(
        F.sum(F.col("matched_a") * w).cast("long").alias("matched_a"),
        F.sum(F.col("cand_total_a") * w).cast("long").alias("cand_total_a"),
        F.sum(F.col("matched_b") * w).cast("long").alias("matched_b"),
        F.sum(F.col("cand_total_b") * w).cast("long").alias("cand_total_b"),
        F.sum(F.col("ref_total") * w).cast("long").alias("ref_total"),
    )

    def f1(side):
        return F.when(
            (F.col(f"cand_total_{side}") + F.col("ref_total")) > 0,
            F.round(
                F.lit(2.0)
                * F.col(f"matched_{side}").cast("double")
                / (
                    F.col(f"cand_total_{side}") + F.col("ref_total")
                ).cast("double"),
                6,
            ),
        )

    # the b = -1 f1 may be NULL on zero totals (no empty_score)
    pb = agg.select("metric", "b", f1("a").alias("_sa"), f1("b").alias("_sb"))
    n_pairs = df.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return _paired_bootstrap_report(
        pb, n_boot, "f1", counts=n_pairs, keys=["metric"]
    )


#: WER's per-pair word-alphabet capacity: the encoding maps each distinct
#: word of a (cand, ref) pair to ONE single-byte character (chr 1..127,
#: where Spark's codepoint-based and DuckDB's byte-based levenshtein
#: agree), so word-level edit distance rides the ENGINES' native
#: levenshtein — JVM-only on the Spark side, no Python anywhere.
WER_ALPHABET = 127


def wer_pairs(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Per-pair word-level edit distance (the WER numerator): tokenize
    both sides (lowercase whitespace tokens, the shared eval
    convention), map each distinct word of the PAIR to one single-byte
    character, and take the native ``levenshtein`` of the encoded
    strings — edit distance is invariant under relabeling, so any
    per-row bijection works and the two engines may order their
    alphabets differently.  Returns ``(id, ok, n_edits, ref_len)``:
    ``ok`` is False (and ``n_edits`` NULL) when a pair's distinct-word
    count exceeds the 127-character alphabet — counted, never silent
    (callers aggregate it into ``n_pairs_dropped``).  With
    ``group_col`` the (stringified) group rides the SAME projection as
    a ``_grp`` column instead of the join-back it replaced (a
    self-join of the pair relation for a column already in the row;
    measured performance-NEUTRAL at sf0.1 — 6.0 s either way, the cost
    is the encode itself, see below — but one Exchange fewer in the
    plan and the grouped face stays a pure projection + single agg).

    100 TB shape: a PURE ROW-LOCAL JVM PROJECTION — tokenize, distinct,
    position-encode, levenshtein, all inside whole-stage codegen; zero
    shuffles, zero Python (the counterpoint to BLEU/chrF's adjudicated
    Arrow folds: the classic DP metric needs neither).  The per-pair
    cost is the encode's O(len * distinct) string compares plus the
    engine's O(len^2) DP — ~120 us/pair at 40-token pairs (sf0.1
    isolated floor 5.9 s / 50k docs; the 20-token curve in
    docs/SCALE.md reads ~15 us/pair) — quadratic in PAIR length,
    linear in pairs, embarrassingly parallel.
    """
    # NULL text tokenizes to the empty list (the corpus_bleu contract) —
    # coalesced HERE because this tokenization never leaves the JVM
    #
    # Degenerate-parallelism guard (r17): project the three (four) input
    # columns and fan the rows out BEFORE the encode+DP projection — on a
    # single-split scan the whole O(len·distinct + len²) per-pair cost
    # otherwise runs in ONE task (measured 7.1 s → 0.9 s at sf0.1 on 32
    # slots, bit-identical integer cells).  No-op when the scan already
    # has cluster parallelism.
    from .fanout import fan_out

    keep = list(
        dict.fromkeys(
            [id_col, cand_col, ref_col]
            + ([group_col] if group_col is not None else [])
        )
    )
    df = fan_out(df.select(*keep))
    ct = _tok(F.coalesce(F.col(cand_col), F.lit("")))
    rt = _tok(F.coalesce(F.col(ref_col), F.lit("")))
    words = F.array_distinct(F.concat(ct, rt))
    ok = F.size(words) <= WER_ALPHABET

    def enc(toks):
        return F.concat_ws(
            "",
            F.transform(toks, lambda w: F.chr(F.array_position(words, w))),
        )

    cols = [
        F.col(id_col),
        ok.alias("ok"),
        F.when(ok, F.levenshtein(enc(ct), enc(rt)))
        .cast("long")
        .alias("n_edits"),
        F.size(rt).cast("long").alias("ref_len"),
    ]
    if group_col is not None:
        cols.insert(1, F.col(group_col).cast("string").alias("_grp"))
    return df.select(*cols)


def corpus_wer(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Corpus-level word error rate — the edit-distance member of the
    eval family (the ASR/MT standard; BLEU and chrF are overlap-based,
    WER prices the MINIMUM word edits): ``sum(edits) / sum(ref_len)``
    over all in-alphabet pairs, one IEEE division ROUNDed at 6.

    Returns ONE row (or one per ``group_col`` value): ``(n_pairs,
    n_pairs_dropped, total_edits, total_ref_words, wer6)`` — pairs
    whose distinct-word count exceeds the single-byte alphabet are
    EXCLUDED and counted (the kappa/winrate loudness convention);
    ``wer6`` is NULL when the reference side is empty (undefined, not
    0).  Edits and lengths are exact integers, additive across
    disjoint pair sets — the grouped variant is the same aggregation
    under a groupBy, so each group's row equals the ungrouped operator
    over that slice bit for bit.
    """
    pairs = wer_pairs(df, id_col, cand_col, ref_col, group_col=group_col)
    keys = ["_grp"] if group_col is not None else []
    agg = (pairs.groupBy(*keys) if keys else pairs.groupBy()).agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_pairs"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_pairs_dropped"),
        F.coalesce(F.sum(F.when(F.col("ok"), F.col("n_edits"))), F.lit(0))
        .cast("long")
        .alias("total_edits"),
        F.coalesce(F.sum(F.when(F.col("ok"), F.col("ref_len"))), F.lit(0))
        .cast("long")
        .alias("total_ref_words"),
    )
    cols = ([F.col("_grp").alias(group_col)] if group_col else []) + [
        "n_pairs",
        "n_pairs_dropped",
        "total_edits",
        "total_ref_words",
        _wer6_expr().alias("wer6"),
    ]
    return agg.select(*cols)


def _wer6_expr():
    """The WER finisher — shared VERBATIM between :func:`corpus_wer`
    (one-shot and grouped) and :func:`wer_from_store`, so streamed ==
    one-shot is an identity of the expression tree, not a claim."""
    return F.when(
        F.col("total_ref_words") > 0,
        F.round(
            F.col("total_edits").cast("double")
            / F.col("total_ref_words").cast("double"),
            6,
        ),
    )


def wer_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str,
    cand_col: str,
    ref_col: str,
) -> None:
    """One append cycle of the maintained corpus-WER store.  WER's
    cells are the four totals themselves — ``(n_pairs,
    n_pairs_dropped, total_edits, total_ref_words)`` — additive over
    disjoint pair sets because edit distance is computed WITHIN a
    pair; one 4-long row per batch, however many pairs arrived.
    Replay: the :mod:`.storemaint` cell-store contract."""
    cells = corpus_wer(batch_df, id_col, cand_col, ref_col).drop("wer6")
    append_cells(cells, state_dir, batch_id)


def wer_from_store(spark, state_dir: str) -> DataFrame:
    """Corpus WER over EVERYTHING the store has seen — equals
    :func:`corpus_wer` over the concatenation of all appended batches
    BIT FOR BIT (additive integer cells + the shared
    :func:`_wer6_expr` finisher; asserted by
    ``tests/test_evalmetrics.py``)."""
    agg = sum_cells(read_cells(spark, state_dir))
    return agg.select(
        "n_pairs",
        "n_pairs_dropped",
        "total_edits",
        "total_ref_words",
        _wer6_expr().alias("wer6"),
    )


#: SQuAD-style answer normalization drops these as whole tokens.
QA_ARTICLES = ("a", "an", "the")


def qa_normalize(col):
    """SQuAD answer normalization (after Rajpurkar et al. 2016):
    lowercase, DELETE punctuation (no space substituted — ``don't``
    -> ``dont``, the official script's behavior), whitespace-tokenize,
    drop the articles a/an/the, re-join with single spaces.  NULL
    normalizes to the empty string (the corpus_bleu NULL-text
    contract).

    ASCII-ONLY limitation (deliberate, stated): the keep-class is
    ``[a-z0-9\\s]``, so non-ASCII letters are DELETED (``café`` ->
    ``caf``) where the official script — which removes only
    ``string.punctuation`` — would keep them.  On SQuAD-style English
    answers the two agree; on non-English answers EM/F1 diverge from
    the official script.  The ASCII class is kept because the oracle
    replays the identical regex, while a Unicode-preserving class
    would put cross-engine ``lower()``/character-class semantics
    (ICU vs JVM locale edge cases like ``İ``) inside the hash-compare
    path.  Callers grading non-English QA should pre-transliterate or
    supply their own normalizer.

    Implementation note: the article/empty drop is a chain of
    ``array_remove`` calls, not a ``filter`` lambda — higher-order
    functions evaluate interpreted (CodegenFallback) while array_remove
    stays in whole-stage codegen; measured equivalent output on 1M
    rows with the cost dominated by the two regex passes either way
    (docs/SCALE.md), so this keeps the hot path lambda-free for free.
    """
    cleaned = F.regexp_replace(
        F.lower(F.coalesce(col, F.lit(""))), r"[^a-z0-9\s]", ""
    )
    toks = F.split(cleaned, r"\s+")
    for t in ("",) + QA_ARTICLES:
        toks = F.array_remove(toks, t)
    return F.concat_ws(" ", toks)


def qa_em_f1(
    df: DataFrame,
    qid_col: str,
    pred_col: str,
    gold_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Per-question extractive-QA grades — SQuAD exact match and token
    F1 (Rajpurkar et al. 2016), the reading-comprehension member of
    the eval family (BLEU/chrF/WER price whole-sequence fidelity; QA
    pairs are short answers where bag-of-token overlap is the
    standard).  Input: one row per (question, GOLD ALTERNATIVE) with
    the prediction repeated — the multi-reference SQuAD shape.  The
    prediction must be constant per question, but alternatives need
    NOT be unique: rows are deduplicated on their NORMALIZED strings
    first (two raw spellings of one normalized answer are one
    alternative, and a duplicate can never double the token counts
    under the intersection join).  Returns one row per question:
    ``(qid, n_golds, em, f1_6)`` — ``n_golds`` counts DISTINCT
    normalized alternatives, ``em``/``f1_6`` are the MAX over them
    (the official scoring rule).

    With ``group_col`` (the leaderboard slice — system, language,
    dataset split) the stringified group RIDES the row projection as
    a ``_grp`` column and joins the per-question groupBy key — the
    ``wer_pairs`` pattern: no join-back for a column already in the
    row.  The group must be CONSTANT per question (a question belongs
    to one system's eval set — the same contract as the prediction);
    a violating caller gets one row per (question, group), each graded
    deterministically, never a partition-dependent pick.  Output gains
    the group as its first column (aliased back to ``group_col``).

    Grade semantics on :func:`qa_normalize` token bags:

    * ``em`` — 1 when the normalized strings are equal;
    * ``f1`` — ``2*m / (len_pred + len_gold)`` with ``m`` the MULTISET
      unigram intersection; when either side normalizes to empty (the
      no-answer convention), f1 = em — both-empty scores 1, one-empty
      scores 0.  Rounded at 6 (one IEEE division).

    100 TB shape: the multiset intersection is an explode -> count ->
    equi-join — shuffles O(total answer tokens), which for
    answer-length text is a projection-sized exchange, never the
    corpus; no window, no Python, no collect.  Measured shuffle diet
    (50k/500k 20-token curve): the prediction's tokens explode ONCE
    per question (clipping uses min(pred_count, gold_count) and
    pred_count does not depend on the alternative), exploded gold
    tokens key on a 32-hex md5 of the alternative instead of its full
    text, and the final join carries scalars only — together
    10.1 -> 6.8 s at 50k and 117.0 -> 59.5 s at 500k pairs (2x),
    hash parity at all four configs.  The REMAINING cost is
    two-thirds ROW-LOCAL (profiled: the two regex passes of
    qa_normalize read ~19 us/side at 20-token answers; a
    position-keyed post-explode dedupe variant measured WORSE, 91 s —
    it ships 20x the exchange rows), linear in pairs and
    embarrassingly parallel.  The per-row higher-order-lambda fold
    the join replaces is the interpreted-lambda trap docs/PLANS.md
    measured at ~0.5 ms/row.

    Eager-materialization side effect (r17 advice): the deduped
    ``pairs`` frame is pinned (``localCheckpoint(eager=False)``), and
    under AQE the pin executes the upstream shuffle stages at PLAN
    CONSTRUCTION — composing this grader without executing it (plan
    inspection, dry runs) still launches those jobs and stores the
    per-(question, alternative) rows on executors.  The A/B-measured
    trade is documented at :func:`~.fanout.pin`.
    """
    # everything derivable row-locally happens BEFORE any exchange (EM,
    # lengths, token arrays, digests); every shuffle after this line
    # carries scalars or single tokens, never an answer body
    ptoks = F.array_remove(F.split(qa_normalize(F.col(pred_col)), " "), "")
    gtoks = F.array_remove(F.split(qa_normalize(F.col(gold_col)), " "), "")
    grouped = group_col is not None
    grp_cols = (
        [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    )
    rows = df.select(
        *grp_cols,
        F.col(qid_col).alias("_qid"),
        F.md5(qa_normalize(F.col(pred_col))).alias("_pk"),
        F.md5(qa_normalize(F.col(gold_col))).alias("_ak"),
        (qa_normalize(F.col(pred_col)) == qa_normalize(F.col(gold_col)))
        .cast("int")
        .alias("_em"),
        F.size(ptoks).cast("long").alias("_lp"),
        F.size(gtoks).cast("long").alias("_lg"),
        ptoks.alias("_pt"),
        gtoks.alias("_gt"),
    )
    # one row per DISTINCT normalized alternative (digest-keyed; the
    # dedupe row carries the token arrays for the two count branches —
    # measured CHEAPER than post-explode position-keyed dedupes, which
    # ship ~20x the exchange rows)
    # _grp rides every dedupe/count key when grouped: under the
    # documented group-constant-per-question contract the keys are
    # equivalent (qid determines the group), but a violating caller
    # now really does get one row per (question, group), each graded
    # deterministically — without _grp in the dropDuplicates key an
    # arbitrary row would survive and the winning group would be
    # partition-dependent, contradicting the docstring
    grp_keys = ["_grp"] if grouped else []
    # Pin ``pairs``: it has THREE consumers (pred counts, gold counts,
    # the per-alternative join-back), and without the pin each one
    # re-ran the two qa_normalize regex passes AND the dedupe shuffle
    # over the corpus — 3 full passes per qa_em_f1 call (6 in the
    # paired bootstrap, which calls it per side).  One materialization
    # of the per-(question, alternative) rows — answer-sized, never
    # corpus-sized — and every consumer reads stored partitions.
    from .fanout import pin

    pairs = pin(rows.dropDuplicates(grp_keys + ["_qid", "_pk", "_ak"]))
    pc = (
        pairs.select(*grp_keys, "_qid", "_pk", "_pt")
        # keyed on the pred DIGEST, not bare qid: under the documented
        # one-pred-per-question contract this is one row per question
        # either way, but a violating caller gets a DETERMINISTIC
        # result (every distinct pred counted once) instead of an
        # arbitrary partition-dependent pick
        .dropDuplicates(grp_keys + ["_qid", "_pk"])
        .select(*grp_keys, "_qid", F.explode("_pt").alias("_w"))
        .groupBy(*grp_keys, "_qid", "_w")
        .agg(F.count(F.lit(1)).alias("_cp"))
    )
    gc = (
        pairs.select(*grp_keys, "_qid", "_ak", F.explode("_gt").alias("_w"))
        .groupBy(*grp_keys, "_qid", "_ak", "_w")
        .agg(F.count(F.lit(1)).alias("_cg"))
    )
    matched = (
        pc.join(gc, grp_keys + ["_qid", "_w"], "inner")
        .groupBy(*grp_keys, "_qid", "_ak")
        .agg(F.sum(F.least("_cp", "_cg")).cast("long").alias("_m"))
    )
    per_alt = (
        pairs.select(*grp_keys, "_qid", "_ak", "_em", "_lp", "_lg")
        .join(matched, grp_keys + ["_qid", "_ak"], "left")
        .withColumn("_m", F.coalesce(F.col("_m"), F.lit(0)))
        .select(
            *grp_keys,
            "_qid",
            "_em",
            F.when(
                (F.col("_lp") == 0) | (F.col("_lg") == 0),
                F.col("_em").cast("double"),
            )
            .otherwise(
                F.round(
                    F.lit(2.0)
                    * F.col("_m").cast("double")
                    / (F.col("_lp") + F.col("_lg")).cast("double"),
                    6,
                )
            )
            .alias("_f1"),
        )
    )
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    return per_alt.groupBy(*grp_keys, "_qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_golds"),
        F.max("_em").cast("int").alias("em"),
        F.max("_f1").alias("f1_6"),
    ).select(*out_grp, F.col("_qid").alias(qid_col), "n_golds", "em", "f1_6")


def _qa_em_f1_paired(
    df: DataFrame,
    qid_col: str,
    pred_a_col: str,
    pred_b_col: str,
    gold_col: str,
) -> DataFrame:
    """Both systems' QA grades in ONE corpus pass — the WER
    both-sides-in-one-projection pattern applied to :func:`qa_em_f1`
    for :func:`qa_paired_bootstrap`, which previously ran the full
    grading pipeline once per side (two rows projections, two dedupe
    shuffles, two gold-token explodes) and then joined the sides back
    on the question id.  Under the paired contract (one row per
    (question, gold alternative) with BOTH predictions repeated) the
    alternatives are the same relation on both sides, so the rows
    projection, the per-(question, alternative) dedupe, and the gold
    count explode are computed once and SHARED; only the pred-token
    counts and the intersection joins stay per side — the same
    expressions as the one-sided grader, verbatim, per side.

    Returns one row per question:
    ``(_qid, _em_a, _f1_a, _em_b, _f1_b)`` — each side's ``em``/
    ``f1_6`` bit-identical to ``qa_em_f1(df, qid, pred_side, gold)``
    (asserted in tests/test_evalmetrics.py), with the side join
    eliminated by construction.

    Contract caveat (r17 advice): the shared dedupe keys on the JOINT
    ``(_qid, _pka, _pkb, _ak)``.  If a caller VIOLATES the
    one-prediction-per-question contract on either side, duplicate
    ``(_qid, _ak)`` rows survive and inflate the shared gold token
    counts for BOTH sides — where the one-sided ``qa_em_f1`` gives a
    violating caller a deterministic per-side dedupe instead.  Under
    the stated contract (every registered face and test) the key sets
    are identical and the grades match the one-sided operator bit for
    bit.
    """
    # Column objects are reusable: build each normalize chain once and
    # share it (qa_normalize is ~25 py4j round trips per call; this
    # cuts 10 constructions to 3 — same expression tree, Catalyst CSE
    # already collapsed the duplicates at execution)
    gnorm = qa_normalize(F.col(gold_col))
    gtoks = F.array_remove(F.split(gnorm, " "), "")

    def side_cols(pred_col, s):
        pnorm = qa_normalize(F.col(pred_col))
        ptoks = F.array_remove(F.split(pnorm, " "), "")
        return [
            F.md5(pnorm).alias(f"_pk{s}"),
            (pnorm == gnorm).cast("int").alias(f"_em{s}"),
            F.size(ptoks).cast("long").alias(f"_lp{s}"),
            ptoks.alias(f"_pt{s}"),
        ]

    rows = df.select(
        F.col(qid_col).alias("_qid"),
        *side_cols(pred_a_col, "a"),
        *side_cols(pred_b_col, "b"),
        F.md5(gnorm).alias("_ak"),
        F.size(gtoks).cast("long").alias("_lg"),
        gtoks.alias("_gt"),
    )
    from .fanout import pin

    # one dedupe for both sides: under the paired contract _pka/_pkb
    # are constant per question, so the key set equals each side's
    # (qid, pk, ak) dedupe; the pin shares the materialization across
    # the five consumers below
    pairs = pin(rows.dropDuplicates(["_qid", "_pka", "_pkb", "_ak"]))

    def pred_counts(s):
        return (
            pairs.select("_qid", f"_pk{s}", f"_pt{s}")
            .dropDuplicates(["_qid", f"_pk{s}"])
            .select("_qid", F.explode(f"_pt{s}").alias("_w"))
            .groupBy("_qid", "_w")
            .agg(F.count(F.lit(1)).alias("_cp"))
        )

    gc = (
        pairs.select("_qid", "_ak", F.explode("_gt").alias("_w"))
        .groupBy("_qid", "_ak", "_w")
        .agg(F.count(F.lit(1)).alias("_cg"))
    )
    gc = pin(gc)  # consumed by both sides' intersection joins

    def matched(s):
        return (
            pred_counts(s)
            .join(gc, ["_qid", "_w"], "inner")
            .groupBy("_qid", "_ak")
            .agg(F.sum(F.least("_cp", "_cg")).cast("long").alias(f"_m{s}"))
        )

    def f1(s):
        return F.when(
            (F.col(f"_lp{s}") == 0) | (F.col("_lg") == 0),
            F.col(f"_em{s}").cast("double"),
        ).otherwise(
            F.round(
                F.lit(2.0)
                * F.col(f"_m{s}").cast("double")
                / (F.col(f"_lp{s}") + F.col("_lg")).cast("double"),
                6,
            )
        )

    per_alt = (
        pairs.select(
            "_qid", "_ak", "_ema", "_lpa", "_emb", "_lpb", "_lg"
        )
        .join(matched("a"), ["_qid", "_ak"], "left")
        .join(matched("b"), ["_qid", "_ak"], "left")
        .withColumn("_ma", F.coalesce(F.col("_ma"), F.lit(0)))
        .withColumn("_mb", F.coalesce(F.col("_mb"), F.lit(0)))
        .select(
            "_qid",
            "_ema",
            "_emb",
            f1("a").alias("_f1a"),
            f1("b").alias("_f1b"),
        )
    )
    return per_alt.groupBy("_qid").agg(
        F.max("_ema").cast("int").alias("_em_a"),
        F.max("_f1a").alias("_f1_a"),
        F.max("_emb").cast("int").alias("_em_b"),
        F.max("_f1b").alias("_f1_b"),
    )


def _qa_finisher_cols():
    """The QA finisher — shared VERBATIM between :func:`qa_report`
    (one-shot and grouped) and :func:`qa_from_store`, so grouped ==
    sliced-one-shot and streamed == one-shot are identities of the
    expression tree, not claims.  Input columns: ``n_questions``,
    ``n_em``, ``f1_sum`` (DECIMAL(18,6))."""
    return [
        "n_questions",
        "n_em",
        F.when(
            F.col("n_questions") > 0,
            F.round(
                F.col("n_em").cast("double")
                / F.col("n_questions").cast("double"),
                6,
            ),
        ).alias("em_rate6"),
        F.when(
            F.col("n_questions") > 0,
            F.round(
                F.col("f1_sum").cast("double")
                / F.col("n_questions").cast("double"),
                6,
            ),
        ).alias("f1_mean6"),
    ]


def _qa_cells(per: DataFrame, keys: list[str]) -> DataFrame:
    """Collapse per-question grades to the corpus QA cell row(s):
    ``(n_questions, n_em, f1_sum)`` — exact integers plus an exact
    DECIMAL(18,6) sum of the per-question ROUND-6 F1s, so the cells
    are ADDITIVE over disjoint question sets and partial-aggregation
    order can never change a bit (the registry recipe)."""
    return (per.groupBy(*keys) if keys else per.groupBy()).agg(
        F.count(F.lit(1)).cast("long").alias("n_questions"),
        F.sum("em").cast("long").alias("n_em"),
        F.coalesce(
            F.sum(F.col("f1_6").cast("decimal(18,6)")),
            F.lit(0).cast("decimal(18,6)"),
        )
        .cast("decimal(18,6)")
        .alias("f1_sum"),
    )


def qa_report(
    df: DataFrame,
    qid_col: str,
    pred_col: str,
    gold_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Corpus QA report — ONE row (or one per ``group_col`` value):
    ``(n_questions, n_em, em_rate6, f1_mean6)``: the two numbers a
    SQuAD-style leaderboard prints.  ``em_rate6`` is an exact integer
    ratio; ``f1_mean6`` averages the per-question ROUND-6 F1 through
    exact DECIMAL(18,6) sums (the registry recipe — partial-
    aggregation order can never change a bit).  The grouped variant
    (the multi-system leaderboard, completing the corpus-metric form
    matrix for QA) is the SAME cells + finisher under a groupBy over
    the group carried by :func:`qa_em_f1`'s row projection — each
    group's row equals the ungrouped operator over that slice bit for
    bit."""
    per = qa_em_f1(df, qid_col, pred_col, gold_col, group_col=group_col)
    keys = [group_col] if group_col is not None else []
    return _qa_cells(per, keys).select(*keys, *_qa_finisher_cols())


def qa_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    qid_col: str,
    pred_col: str,
    gold_col: str,
) -> None:
    """One append cycle of the maintained corpus-QA store — the QA
    face of :func:`bleu_append_batch` / :func:`wer_append_batch`
    (round-14 symmetry: every corpus metric whose cells are additive
    gets a store).  QA's cells are ``(n_questions, n_em, f1_sum)`` —
    additive over DISJOINT question sets because grades are computed
    WITHIN a question; one 3-long row per batch, however many
    questions arrived.  Contract: question ids must not repeat across
    batches (gold-alternative dedupe happens within a batch; a
    question re-ingested in a later batch is counted again — the
    caller owns batch boundaries, same as the conversation store).
    Replay: the :mod:`.storemaint` cell-store contract."""
    cells = _qa_cells(
        qa_em_f1(batch_df, qid_col, pred_col, gold_col), []
    )
    append_cells(cells, state_dir, batch_id)


def qa_from_store(spark, state_dir: str) -> DataFrame:
    """Corpus QA report over EVERYTHING the store has seen — equals
    :func:`qa_report` over the concatenation of all appended batches
    BIT FOR BIT (additive integer/DECIMAL cells + the shared
    :func:`_qa_finisher_cols` finisher; asserted by
    ``tests/test_evalmetrics.py``)."""
    agg = sum_cells(read_cells(spark, state_dir))
    return agg.select(*_qa_finisher_cols())


def lcs_cells(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Sufficient statistics of corpus ROUGE-L as ONE cell row:
    ``(matched, cand_total, ref_total)`` = (sum of per-pair LCS
    lengths, sum of candidate lengths, sum of reference lengths) over
    whitespace tokens — additive across disjoint pair sets because the
    LCS is computed WITHIN a pair (the bleu_cells additivity argument
    verbatim).

    The per-pair LCS is :func:`_lcs_len`, Hyyrö's bit-parallel scan,
    run inside the one Arrow fold every BLEU/chrF/ROUGE cell comes from
    (:func:`_clip_cells`, here with the LCS cell alone) — O(|cand| *
    ceil(|ref| / 64)) word ops per pair instead of the O(|cand| *
    |ref|) DP table.  The classic DP is kept as the independent
    reference in tests; the DuckDB oracle replays the SAME bit
    recurrence in a recursive CTE over HUGEINT masks — two engines,
    two implementations, one recurrence.

    100 TB shape: tokenization stays JVM; each partition folds to ONE
    3-long row (one per group with ``group_col``, exchange O(groups *
    partitions) rows), and the metric's only exchange is that merge.
    Ungrouped, the result is always exactly one row (zeros on an empty
    corpus).
    """
    return _clip_cells(
        df, [cand_col], ref_col, key=None, lcs=True, group_col=group_col
    )


def _rouge_finish(cells: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """The ROUGE finisher, shared by every metric row (one-shot,
    grouped and store): micro P/R from the integer cells and the
    exact-integer F1 identity ``2PR/(P+R) =
    2*matched/(cand_total+ref_total)`` — one IEEE division each,
    ROUNDed at 6; NULL (undefined, not 0) when a denominator is 0."""
    m = F.col("matched").cast("double")
    c = F.col("cand_total")
    r = F.col("ref_total")
    return cells.select(
        *keys,
        "metric",
        "matched",
        "cand_total",
        "ref_total",
        F.when(c > 0, F.round(m / c.cast("double"), 6)).alias("precision6"),
        F.when(r > 0, F.round(m / r.cast("double"), 6)).alias("recall6"),
        F.when(
            (c + r) > 0,
            F.round(F.lit(2.0) * m / (c + r).cast("double"), 6),
        ).alias("f1_6"),
    )


def corpus_rouge(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 2,
) -> DataFrame:
    """Corpus-level ROUGE (Lin 2004) — the summarization member of the
    eval family: ``rouge1``/``rouge2`` (unigram/bigram overlap) and
    ``rougeL`` (longest common subsequence), one row per metric with
    ``(matched, cand_total, ref_total, precision6, recall6, f1_6)``.

    Convention stated, not hidden: these are MICRO-corpus scores —
    integer match/length cells summed over all pairs, P/R/F taken
    once at the end (the repo's corpus_bleu/chrf convention, exact and
    additive) — not the per-sentence-averaged variant some packages
    default to.  The n-gram rows reuse :func:`bleu_cells` VERBATIM
    (ROUGE-N's clipped multiset intersection is BLEU's, read
    recall-wise, and the LCS row is :func:`lcs_cells`' Hyyrö scan).
    All rows come from ONE row-local Arrow fold over the pairs
    (:func:`_rouge_cells`), exchanges O(partitions) rows; tokenization
    is the shared lower/whitespace contract.
    """
    return _rouge_finish(
        _rouge_cells(df, id_col, cand_col, ref_col, max_n=max_n)
    )


def _rouge_cells(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 2,
    group_col: str | None = None,
) -> DataFrame:
    """ROUGE's sufficient statistics as metric-keyed integer cells
    ``([group,] metric, matched, cand_total, ref_total)`` — the
    ``rouge<n>`` rows carry :func:`bleu_cells`' clipped-multiset
    counting and the ``rougeL`` row :func:`lcs_cells`' Hyyrö
    bit-parallel LCS, emitted from ONE :func:`_clip_cells` fold over
    the pairs (one tokenize+fold pass per call, not one per metric
    family).  Additive
    across disjoint pair sets, which is what the grouped variant and
    the maintained store lean on.  Ungrouped, an empty corpus gives
    one all-zero ``rougeL`` row."""
    return _clip_cells(
        df,
        [cand_col],
        ref_col,
        range(1, max_n + 1),
        key="metric",
        lcs=True,
        group_col=group_col,
    )


def corpus_rouge_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 2,
) -> DataFrame:
    """Corpus ROUGE PER GROUP — the multi-system harness shape for the
    summarization metric, sliced exactly like per-system BLEU/chrF/WER
    (one row per (group, metric)).  The one fold keys its counters on
    the stringified group (the bleu_cells pattern: exchange
    O(groups * metrics * partitions) rows whatever the corpus) and the
    finisher is :func:`_rouge_finish` VERBATIM, so each group's rows
    equal :func:`corpus_rouge` over that slice bit for bit
    (test-asserted).  NULL groups form their own group, the Spark
    groupBy convention."""
    return _rouge_finish(
        _rouge_cells(
            df, id_col, cand_col, ref_col, max_n=max_n, group_col=group_col
        ),
        keys=(group_col,),
    )


def rouge_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 2,
) -> None:
    """One append cycle of the maintained corpus-ROUGE store:
    metric-keyed integer cells per batch (``max_n + 1`` rows, however
    many pairs arrived).  Replay: the :mod:`.storemaint` cell-store
    contract."""
    cells = _rouge_cells(batch_df, id_col, cand_col, ref_col, max_n=max_n)
    append_cells(cells, state_dir, batch_id)


def rouge_from_store(spark, state_dir: str) -> DataFrame:
    """Corpus ROUGE over EVERYTHING the store has seen — equals
    :func:`corpus_rouge` over the concatenation of all appended
    batches BIT FOR BIT (additive integer cells + the shared
    :func:`_rouge_finish`; asserted by ``tests/test_evalmetrics.py``)."""
    keys = ("metric",)
    return _rouge_finish(sum_cells(read_cells(spark, state_dir, keys), keys))


def chrf_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 6,
) -> None:
    """One append cycle of the maintained corpus-chrF store — the
    chrF face of :func:`bleu_append_batch` (the round-13 symmetry:
    :func:`chrf_cells` are additive for exactly the same reason BLEU's
    are — clipping happens WITHIN a pair).  Writes the arriving
    pairs' cells as ``(n, matched, cand_total, ref_total, batch_id)``
    parquet rows.  Replay: the :mod:`.storemaint` cell-store
    contract."""
    cells = chrf_cells(batch_df, id_col, cand_col, ref_col, max_n=max_n)
    append_cells(cells, state_dir, batch_id)


def chrf_from_store(
    spark, state_dir: str, max_n: int = 6, beta: float = 2.0
) -> DataFrame:
    """Corpus chrF over EVERYTHING the store has seen — equals
    :func:`chrf_score` over the concatenation of all appended batches
    BIT FOR BIT (additive cells + the shared :func:`chrf_from_cells`
    finisher; asserted by ``tests/test_evalmetrics.py``)."""
    return chrf_from_cells(
        read_cells(spark, state_dir, ("n",)), max_n=max_n, beta=beta
    )


def annotator_agreement(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
) -> DataFrame:
    """Pairwise inter-annotator agreement (Cohen 1960 kappa) over an
    annotation table ``(item, annotator, label)`` — the label-quality
    gate of RLHF/SFT data pipelines: raw agreement says how often two
    graders match, kappa discounts the agreement their marginal label
    distributions would produce BY CHANCE, so a pair that rubber-stamps
    "good" 95% of the time stops looking reliable.

    Returns one row per unordered annotator pair (a < b):
    ``annotator_a, annotator_b, n_items, n_agree, p_o, p_e, kappa,
    n_rows_dropped``, computed over the items BOTH annotators labeled
    (pairwise-complete, the standard convention for sparse annotation
    matrices).

    Rows with a NULL item, annotator, or label are EXCLUDED and counted
    in the ``n_rows_dropped`` column of every output row (the
    :func:`winrate_report` convention) — before round 12 an
    (item, annotator) cell whose labels were ALL NULL silently became
    its own NULL category, biasing the marginals with no warning.

    Multiple labels by the same annotator on the same item are resolved
    deterministically to the MINIMUM label before pairing (documented
    resolution, replayed identically by the oracle — never
    partition-order-dependent).

    Exactness: with n = co-annotated items, agree = matching items, and
    cross = Σ_labels n_a(label)·n_b(label) (all integers),

    * ``p_o = agree / n``                     (one IEEE division)
    * ``p_e = cross / n²``                    (one IEEE division)
    * ``kappa = (agree·n − cross) / (n² − cross)``

    — the kappa identity keeps numerator and denominator INTEGER, so
    the result is a single exact double division with no rounding
    anywhere.  When the chance-agreement denominator is 0 (both
    annotators constant with the same label: p_e = 1), kappa is
    reported as 0.0 — chance explains everything, no skill is
    demonstrable.  Integer bound: n² must stay under 2^63 (n < 3·10⁹
    co-annotated items per pair — beyond any human annotation set).

    100 TB shape: one map-side-combinable resolve aggregation on
    (item, annotator); the pairing self-join is keyed on the item and
    fans out only k·(k−1)/2 rows per item for k annotators of THAT
    item (annotation matrices are sparse — k is 2-5, never the corpus);
    marginal and agreement counts are map-side-combinable aggs keyed by
    the annotator pair.  No windows, no driver loops, no all-pairs
    blowup.
    """
    src = df.select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("annotator"),
        F.col(label_col).alias("label"),
    )
    valid = (
        F.col("item").isNotNull()
        & F.col("annotator").isNotNull()
        & F.col("label").isNotNull()
    )
    dropped = src.agg(
        F.coalesce(
            F.sum(F.when(~valid, 1).otherwise(0)), F.lit(0)
        ).alias("n_rows_dropped")
    )
    resolved = (
        src.where(valid)
        .groupBy("item", "annotator")
        .agg(F.min("label").alias("label"))
    )
    left = resolved.select(
        "item",
        F.col("annotator").alias("annotator_a"),
        F.col("label").alias("label_a"),
    )
    right = resolved.select(
        "item",
        F.col("annotator").alias("annotator_b"),
        F.col("label").alias("label_b"),
    )
    pairs = left.join(right, "item").where(
        F.col("annotator_a") < F.col("annotator_b")
    )
    base = pairs.groupBy("annotator_a", "annotator_b").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0)
        ).alias("n_agree"),
    )
    marg_a = pairs.groupBy("annotator_a", "annotator_b", "label_a").agg(
        F.count(F.lit(1)).alias("ca")
    )
    marg_b = pairs.groupBy("annotator_a", "annotator_b", "label_b").agg(
        F.count(F.lit(1)).alias("cb")
    )
    cross = (
        marg_a.join(
            marg_b,
            (marg_a["annotator_a"] == marg_b["annotator_a"])
            & (marg_a["annotator_b"] == marg_b["annotator_b"])
            & (marg_a["label_a"] == marg_b["label_b"]),
        )
        .select(
            marg_a["annotator_a"],
            marg_a["annotator_b"],
            (F.col("ca") * F.col("cb")).alias("prod"),
        )
        .groupBy("annotator_a", "annotator_b")
        .agg(F.sum("prod").alias("cross"))
    )
    nn = F.col("n_items") * F.col("n_items")
    num = F.col("n_agree") * F.col("n_items") - F.col("cross")
    den = nn - F.col("cross")
    return (
        base.join(cross, ["annotator_a", "annotator_b"])
        .crossJoin(F.broadcast(dropped))
        .select(
            "annotator_a",
            "annotator_b",
            "n_items",
            "n_agree",
            (F.col("n_agree").cast("double") / F.col("n_items").cast("double")).alias(
                "p_o"
            ),
            (F.col("cross").cast("double") / nn.cast("double")).alias("p_e"),
            F.when(den == 0, F.lit(0.0))
            .otherwise(num.cast("double") / den.cast("double"))
            .alias("kappa"),
            "n_rows_dropped",
        )
    )


def chrf_score(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Corpus-level chrF (Popović 2015) — the character-n-gram F-score
    that complements BLEU: robust to tokenization and morphology
    (inflections share most of their characters), the second standard
    MT/distillation-QA metric.  Texts are lowercased and ALL
    whitespace is removed (the paper's space-free character stream;
    lowercasing is the repo's shared eval convention), then clipped
    character n-gram matches for n=1..max_n are counted WITHIN each
    pair — the same row-local additive-cell architecture as
    :func:`bleu_cells`, with characters for tokens.

    Returns ONE row: per-order ``matched_k``/``cand_k``/``ref_k``
    integer sums, then::

        chrP   = (1/N) Σ_n matched_n / cand_n   (0.0 where cand_n = 0)
        chrR   = (1/N) Σ_n matched_n / ref_n    (0.0 where ref_n = 0)
        chrf6  = ROUND((1+β²)·chrP·chrR / (β²·chrP + chrR), 6)

    (0.0 when the denominator is 0 — both sides empty at every order.)
    FIXED-ORDER convention: the means always divide by ``max_n``, so a
    corpus whose stripped texts are all shorter than ``max_n`` chars
    caps below 1.0 even for identical pairs (empty orders contribute 0
    — property-pinned in ``tests/test_property_round12.py``; use a
    smaller ``max_n`` for micro-text corpora).  Exactness: cells are
    integer sums; each per-order ratio is one IEEE division; the
    order-mean divides by the literal N; the F combination is one
    fixed-order IEEE expression ROUNDed at 6 — hash-exact, no
    transcendentals at all.

    100 TB shape: identical to corpus BLEU — no character ever leaves
    its row; the fold emits max_n partial rows per partition and the
    metric's only exchange is that max_n-row merge.
    """
    return chrf_from_cells(
        chrf_cells(df, id_col, cand_col, ref_col, max_n=max_n),
        max_n=max_n,
        beta=beta,
    )


def chrf_score_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Corpus chrF PER GROUP — the multi-system shape, mirroring
    :func:`corpus_bleu_by_group` for the round's second metric (an
    eval harness comparing N systems wants BOTH metrics sliced the
    same way; :func:`chrf_score` is the single-system special case).
    Returns one row per distinct ``group_col`` value with the same
    columns as :func:`chrf_score`, prefixed by the group.

    The group key is cast to STRING (the Arrow fold keys a dict on
    it); NULL groups form their own group, the Spark groupBy
    convention.  Exactness and scale inherit verbatim: the fold still
    counts each pair row-locally and emits ``max_n`` partial rows PER
    GROUP PER PARTITION (O(systems · max_n · partitions) exchange
    rows whatever the corpus), and the finisher is
    :func:`chrf_from_cells` with ``group_cols`` — the identical
    fixed-order IEEE expression under a groupBy, so every group's row
    is bit-equal to :func:`chrf_score` over that group's slice
    (test-asserted, the grouped-BLEU contract).
    """
    cells = chrf_cells(
        df, id_col, cand_col, ref_col, max_n=max_n, group_col=group_col
    )
    return chrf_from_cells(
        cells, max_n=max_n, beta=beta, group_cols=(group_col,)
    )


def chrf_cells(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 6,
    group_col: str | None = None,
) -> DataFrame:
    """The sufficient statistics of corpus chrF as per-order integer
    cells ``(n, matched, cand_total, ref_total)`` — clipping happens
    WITHIN a pair, so the cells are ADDITIVE across disjoint pair
    sets (the :func:`bleu_cells` property, with characters for
    tokens).  With ``group_col`` the fold keys its counters on the
    stringified group value and emits per-group cells."""
    if max_n < 1:
        raise ValueError(f"chrf_score: max_n must be >= 1, got {max_n}")
    return _clip_cells(
        df,
        [cand_col],
        ref_col,
        range(1, max_n + 1),
        chars=True,
        group_col=group_col,
    )


def chrf_from_cells(
    cells: DataFrame,
    max_n: int = 6,
    beta: float = 2.0,
    group_cols: tuple = (),
) -> DataFrame:
    """Finish corpus chrF from :func:`chrf_cells` rows — shared
    VERBATIM by the one-shot :func:`chrf_score` and (under a groupBy
    on ``group_cols``) the per-system :func:`chrf_score_by_group`, so
    the two are output-identical by construction."""
    if not (beta > 0) or not math.isfinite(beta):
        # isfinite: inf passes beta > 0 but repr(inf*inf)+'D' is
        # unparseable SQL in the text-built finisher (r17 advice)
        raise ValueError(f"chrf_score: beta must be > 0 and finite, got {beta}")
    # Columns are built as SQL text and parsed in one expr call each:
    # the Column-API loops issued ~3000 py4j round trips (~0.9 s of
    # driver time PER CALL — this finisher runs twice per bootstrap
    # construction).  The parsed expressions are the same arithmetic:
    # D-suffixed double literals (plain 0.0 would parse as DECIMAL),
    # the same no-ELSE sums, casts, division order, and round-at-6.
    agg_cols = [
        F.expr(
            f"coalesce(sum(CASE WHEN n = {n} THEN {src} END), 0) AS {dst}"
        )
        for n in range(1, max_n + 1)
        for src, dst in (
            ("matched", f"matched_{n}"),
            ("cand_total", f"cand_{n}"),
            ("ref_total", f"ref_{n}"),
        )
    ]
    if group_cols:
        flat = cells.groupBy(*group_cols).agg(*agg_cols)
    else:
        flat = cells.agg(*agg_cols)
    p_sum = "0.0D" + "".join(
        f" + (CASE WHEN cand_{n} = 0 THEN 0.0D ELSE"
        f" CAST(matched_{n} AS DOUBLE) / CAST(cand_{n} AS DOUBLE) END)"
        for n in range(1, max_n + 1)
    )
    r_sum = "0.0D" + "".join(
        f" + (CASE WHEN ref_{n} = 0 THEN 0.0D ELSE"
        f" CAST(matched_{n} AS DOUBLE) / CAST(ref_{n} AS DOUBLE) END)"
        for n in range(1, max_n + 1)
    )
    mx = repr(float(max_n))
    chr_p = f"(({p_sum}) / {mx}D)"
    chr_r = f"(({r_sum}) / {mx}D)"
    bb = repr(float(beta) * float(beta))
    denom = f"({bb}D * {chr_p} + {chr_r})"
    out_cols = [F.col(c) for c in group_cols]
    out_cols += [
        F.col(c)
        for n in range(1, max_n + 1)
        for c in (f"matched_{n}", f"cand_{n}", f"ref_{n}")
    ]
    out_cols += [
        F.expr(f"{chr_p} AS chr_p"),
        F.expr(f"{chr_r} AS chr_r"),
        F.expr(
            f"CASE WHEN {denom} = 0.0D THEN 0.0D ELSE"
            f" round((1.0D + {bb}D) * {chr_p} * {chr_r} / {denom}, 6)"
            f" END AS chrf6"
        ),
    ]
    return flat.select(*out_cols)


def distinct_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_n: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """Distinct-n generation-diversity report (Li et al. 2016): for
    n=1..max_n, the number of DISTINCT token n-grams over the corpus
    divided by the total n-gram count — the degeneracy dashboard for
    sampled model outputs (mode collapse shows as distinct-2 falling
    off a cliff while BLEU-ish metrics stay flat).

    Returns ``max_n`` rows ``(n, n_distinct, n_total, distinct_ratio)``
    — counts are exact integers (one explode + one distinct-agg per
    relation), the ratio one IEEE division; tokenization is the shared
    whitespace convention (:func:`corpus_bleu`'s ``_tok``).

    ``group_col`` (r16 verdict item 6 — per-MODEL distinct-n is how
    mode collapse is compared across checkpoints) emits one row per
    (group, n) with a leading group column; distinctness is scoped
    WITHIN the slice (two checkpoints emitting the same gram are not
    each other's diversity), each slice equals the ungrouped run over
    that slice alone (test-asserted, the family rule), and the group
    key rides the same (gram-keyed) exchange — NULL groups carried
    null-safely via the shared ``_grp_key`` encoding.

    100 TB shape: PER-ORDER gram projections unioned into (n, gram)
    cells, then a map-side-combinable (n, gram) pre-aggregation + one
    count pass — the shuffle key is the gram, Zipf-bounded for small n
    and self-limiting for large n (most long grams are unique, so the
    pre-agg output approaches the input and the count is one pass
    either way).  No windows, no joins, no Python.  Two measured
    design points (sf0.1, 37M gram cells, best-of-2 — the BLEU-lesson
    A/B, docs/SCALE.md): building ONE concatenated struct array of all
    orders per row and exploding it costs 19.8 s; the per-order union
    (each order a plain string-array explode, no struct allocation)
    is 3.5 s; and because the explode multiplies rows ~tokens·orders×,
    a low-parallelism source (one parquet file) serializes it — the
    guarded pre-explode repartition below takes the measured total to
    1.17 s (17×).  The guard keeps the at-scale path shuffle-free: a
    source already at cluster parallelism is never repartitioned.
    """
    if max_n < 1:
        raise ValueError(f"distinct_ngrams: max_n must be >= 1, got {max_n}")
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    grouped = group_col is not None
    grp_sel = (
        [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    )
    keys = ["_grp"] if grouped else []
    toks = _tok(F.col(text_col))

    def slicer(n: int):
        # single-parameter lambda via factory (the transform()
        # two-parameter index-clobber trap: pyspark would pass
        # (element, index))
        return lambda i: F.concat_ws(" ", F.slice(toks, i, n))

    parts = []
    empty = F.array().cast("array<string>")
    for n in range(1, max_n + 1):
        grams = F.when(
            F.size(toks) >= n,
            F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1), slicer(n)),
        ).otherwise(empty)
        parts.append(
            df.select(
                *grp_sel, F.lit(n).alias("n"), F.explode(grams).alias("gram")
            )
        )
    cells = parts[0]
    for p in parts[1:]:
        cells = cells.unionAll(p)
    per_gram = cells.groupBy(*keys, "n", "gram").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    return (
        per_gram.groupBy(*keys, "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("_cnt").cast("long").alias("n_total"),
        )
        .select(
            *out_grp,
            "n",
            "n_distinct",
            "n_total",
            (
                F.col("n_distinct").cast("double")
                / F.col("n_total").cast("double")
            ).alias("distinct_ratio"),
        )
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
    metric: str = "nominal",
) -> DataFrame:
    """Krippendorff's alpha (nominal) — the MISSING-DATA-TOLERANT
    agreement coefficient that completes the annotator-QA family:
    Cohen's kappa scores one pair, Fleiss' kappa needs a balanced
    panel (its ``n_items_dropped`` rows are exactly what alpha can
    use) — alpha scores ANY sparse annotation matrix, weighting each
    unit by its own rater count.

    Uses the coincidence-matrix formulation (Krippendorff 2011): a
    unit u with ``m_u >= 2`` resolved ratings contributes each
    within-unit value pair at weight ``1/(m_u - 1)``, so with
    per-unit category counts ``c_uc``::

        n    = Σ_u m_u                      (pairable values)
        n_c  = Σ_u c_uc                     (category marginals)
        A    = Σ_u Σ_c c_uc·(c_uc − 1)/(m_u − 1)   (agreement mass)
        α    = 1 − (n − 1)·(n − A) / (n² − Σ_c n_c²)

    Rows with a NULL item/annotator/label are excluded and counted in
    ``n_rows_dropped`` (the family's r12 convention); duplicate
    (item, annotator) votes resolve to the MIN label (the family's
    shared deterministic resolution); units left with fewer than 2
    ratings carry no pair and are excluded into ``n_units_dropped``
    (the Krippendorff convention — his 2011 worked example drops its
    single-rated unit 12).  Returns ONE row::

        (n_values, n_units, n_categories, n_units_dropped,
         n_rows_dropped, coincidence_e6, alpha6)

    Exactness: everything is a BIGINT sum except A, whose per-unit
    term is scaled to micro-units by ROUND-HALF-UP INTEGER DIVISION —
    ``term6 = (pairs_u·10⁶ + (m_u−1) div 2) div (m_u−1)`` — so
    ``coincidence_e6 = Σ term6`` is an associative integer sum both
    engines replay bit-for-bit (Spark ``div`` == DuckDB ``//``), and
    ``alpha6 = ROUND(1 − (n−1)·(n − A6/10⁶)/(n² − Σn_c²), 6)`` is one
    fixed-order IEEE expression.  Bounds: pairs_u·10⁶ < 2⁶³ needs
    m_u < 3·10⁶ ratings per unit, and n² < 2⁶³ needs n < 3·10⁹
    pairable values — beyond any human annotation set.  Degenerate
    inputs (no units, or a single category: n² = Σn_c², chance
    explains everything) gate alpha to 0.0, the family convention.

    100 TB shape: two map-side-combinable aggregations keyed by the
    item (resolve, then per-item sums), one label-keyed marginal agg,
    then three 1-row broadcasts folded into ONE row — no windows, no
    self-join, no driver loops; the annotation stream reduces to
    O(categories) state.

    ``metric`` selects the difference function (Krippendorff 2011 §C):
    ``"nominal"`` (default — this path, byte-identical to the r12
    original), or ``"ordinal"`` / ``"interval"`` which dispatch to
    :func:`_krippendorff_weighted` — Likert-grid judge scores are
    ORDINAL, and the ordinal coincidence weighting is the variant
    annotation papers report for them (r16 verdict item 2).  The
    weighted forms require a NUMERIC label (rank for ordinal, value
    for interval) and return a slightly different diagnostic row —
    see the helper's docstring.
    """
    if metric in ("ordinal", "interval"):
        return _krippendorff_weighted(
            df, item_col, annotator_col, label_col, metric
        )
    if metric != "nominal":
        raise ValueError(
            "krippendorff_alpha: metric must be one of "
            f"'nominal', 'ordinal', 'interval' — got {metric!r}"
        )
    src = df.select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("annotator"),
        F.col(label_col).alias("label"),
    )
    valid = (
        F.col("item").isNotNull()
        & F.col("annotator").isNotNull()
        & F.col("label").isNotNull()
    )
    rows_dropped = src.agg(
        F.coalesce(
            F.sum(F.when(~valid, 1).otherwise(0)), F.lit(0)
        ).alias("n_rows_dropped")
    )
    resolved = (
        src.where(valid)
        .groupBy("item", "annotator")
        .agg(F.min("label").alias("label"))
    )
    cells = resolved.groupBy("item", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_item = cells.groupBy("item").agg(
        F.sum("c").cast("long").alias("m"),
        F.sum(F.col("c") * (F.col("c") - F.lit(1))).cast("long").alias("pairs"),
    )
    kept = per_item.where(F.col("m") >= 2)
    units_dropped = per_item.agg(
        F.coalesce(
            F.sum(F.when(F.col("m") < 2, 1).otherwise(0)), F.lit(0)
        ).alias("n_units_dropped")
    )
    term6 = F.expr(
        "(pairs * 1000000 + ((m - 1) div 2)) div (m - 1)"
    )
    totals = kept.select(F.col("m"), term6.alias("_t6")).agg(
        F.count(F.lit(1)).alias("n_units"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_values"),
        F.coalesce(F.sum("_t6"), F.lit(0)).cast("long").alias("a6"),
    )
    marginals = (
        cells.join(kept.select("item"), "item", "leftsemi")
        .groupBy("label")
        .agg(F.sum("c").cast("long").alias("nc"))
    )
    cats = marginals.agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.coalesce(F.sum(F.col("nc") * F.col("nc")), F.lit(0))
        .cast("long")
        .alias("sc2"),
    )
    n = F.col("n_values")
    de = n * n - F.col("sc2")
    alpha = F.lit(1.0) - (
        (n - F.lit(1)).cast("double")
        * (n.cast("double") - F.col("a6").cast("double") / F.lit(1e6))
    ) / de.cast("double")
    degenerate = (F.col("n_units") == 0) | (de == 0)
    return (
        totals.crossJoin(F.broadcast(cats))
        .crossJoin(F.broadcast(units_dropped))
        .crossJoin(F.broadcast(rows_dropped))
        .select(
            "n_values",
            "n_units",
            "n_categories",
            "n_units_dropped",
            "n_rows_dropped",
            F.col("a6").alias("coincidence_e6"),
            F.when(degenerate, F.lit(0.0))
            .otherwise(F.round(alpha, 6))
            .alias("alpha6"),
        )
    )


def _krippendorff_weighted(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
    metric: str,
) -> DataFrame:
    """Krippendorff's alpha with ORDINAL or INTERVAL difference
    weighting (Krippendorff 2011 §C) — the generalized form::

        α = 1 − (n−1) · D_o_num / D_e_num
        D_o_num = Σ_u Σ_{c<k} 2·c_uc·c_uk·δ²(c,k) / (m_u − 1)
        D_e_num = Σ_{c<k} 2·n_c·n_k·δ²(c,k)

    with ``δ²`` per metric (α is invariant to scaling δ², so each is
    kept in its exact-integer-friendly scaling):

    * ``ordinal``: 4δ²(c,k) = (2·S_ck − n_c − n_k)² where S_ck sums
      the coincidence marginals of every observed category ranked
      between c and k inclusive — the Likert-grid weighting;
    * ``interval``: δ²(c,k) = (v_c − v_k)² on the numeric values.

    The label column must be NUMERIC (a rank for ordinal, a value for
    interval); it is read at 6-decimal precision via a
    ``DECIMAL(18,6)`` cast, and rows whose cast is NULL (non-numeric
    labels) are excluded into ``n_rows_dropped`` alongside NULL rows.
    Resolution/drop conventions match the nominal path: duplicate
    (item, annotator) votes resolve to the MIN value, units with < 2
    ratings are excluded into ``n_units_dropped``, and δ² marginals
    are computed over KEPT units only.

    Exactness: category pair weights, per-unit disagreement masses and
    both numerators are exact ``DECIMAL(38,12)`` sums (associative —
    partition order can never change a bit).  The only rounding is the
    per-rater-count division ``Σ_{m_u=m} X_u / (m−1)``: performed ONCE
    per distinct panel size m (not per unit) as a Spark decimal
    division (deterministic HALF_UP at scale ≥ 6), then summed
    exactly, so the error is < 5e-7 per DISTINCT m — tighter than the
    nominal path's per-unit e6 rounding.  ``alpha6`` is one
    fixed-order IEEE double expression rounded at 6.  Bounds: ordinal
    weights grow as n², so the decimal pipeline holds to n ≈ 10⁷
    pairable values and m_u ≤ 3·10⁶ — beyond any human panel.

    Returns ONE row::

        (metric, n_values, n_units, n_categories, n_units_dropped,
         n_rows_dropped, d_o, d_e, alpha6)

    where ``d_o = D_o_num/n`` and ``d_e = D_e_num/(n·(n−1))`` are the
    textbook observed/expected disagreements (doubles, in squared
    scaled-δ units — their RATIO is the meaningful part).  Degenerate
    inputs (no units, or D_e = 0: a single category) gate alpha to
    0.0, the family convention.

    100 TB shape: the only per-row work is two map-side-combinable
    aggregations keyed by item; category-pair structures are
    |C|²-sized (|C| = distinct scores, e.g. 5 for Likert) and
    broadcast; the per-unit pair join fans each unit into at most
    |C_u|² ≤ |C|² rows — never a rater-pair or unit-pair product.  No
    driver loops; the single tiny window runs over |C| marginal rows.
    """
    src = df.select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("annotator"),
        F.col(label_col).try_cast("decimal(18,6)").alias("v"),
    )
    valid = (
        F.col("item").isNotNull()
        & F.col("annotator").isNotNull()
        & F.col("v").isNotNull()
    )
    rows_dropped = src.agg(
        F.coalesce(
            F.sum(F.when(~valid, 1).otherwise(0)), F.lit(0)
        ).alias("n_rows_dropped")
    )
    resolved = (
        src.where(valid)
        .groupBy("item", "annotator")
        .agg(F.min("v").alias("v"))
    )
    cells = resolved.groupBy("item", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_item = cells.groupBy("item").agg(
        F.sum("c").cast("long").alias("m")
    )
    kept = per_item.where(F.col("m") >= 2)
    units_dropped = per_item.agg(
        F.coalesce(
            F.sum(F.when(F.col("m") < 2, 1).otherwise(0)), F.lit(0)
        ).alias("n_units_dropped")
    )
    totals = kept.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_values"),
    )
    kcells = cells.join(kept.select("item"), "item", "leftsemi")
    marg = kcells.groupBy("v").agg(F.sum("c").cast("long").alias("nc"))
    cats = marg.agg(F.count(F.lit(1)).alias("n_categories"))
    # |C|² category-pair weight matrix (v_a < v_b), broadcast
    if metric == "ordinal":
        # inclusive prefix sums of the marginals in rank order (|C| rows
        # — the one window, over a frame that fits in a cache line)
        cum = marg.withColumn(
            "cum", F.sum("nc").over(Window.orderBy("v"))
        )
        a, b = cum.alias("a"), cum.alias("b")
        span = (
            F.lit(2) * (F.col("b.cum") - F.col("a.cum") + F.col("a.nc"))
            - F.col("a.nc")
            - F.col("b.nc")
        )
        weight = (span * span).cast("decimal(38,12)")
    else:  # interval
        a, b = marg.alias("a"), marg.alias("b")
        d = F.col("b.v") - F.col("a.v")
        weight = (d * d).cast("decimal(38,12)")
    wmat = (
        a.join(b, F.col("a.v") < F.col("b.v"))
        .select(
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
            F.col("a.nc").alias("na"),
            F.col("b.nc").alias("nb"),
            weight.alias("w"),
        )
    )
    de_row = wmat.agg(
        F.coalesce(
            F.sum(
                (F.lit(2) * F.col("na") * F.col("nb")).cast("decimal(20,0)")
                * F.col("w")
            ),
            F.lit(0).cast("decimal(38,12)"),
        ).alias("de_num")
    )
    # per-unit disagreement mass: within-unit category pairs × weights
    ca, cb = kcells.alias("ca"), kcells.alias("cb")
    pairs = (
        ca.join(
            cb,
            (F.col("ca.item") == F.col("cb.item"))
            & (F.col("ca.v") < F.col("cb.v")),
        )
        .join(
            F.broadcast(wmat.select("va", "vb", "w")),
            (F.col("ca.v") == F.col("va")) & (F.col("cb.v") == F.col("vb")),
        )
        .select(
            F.col("ca.item").alias("item"),
            (
                (F.lit(2) * F.col("ca.c") * F.col("cb.c")).cast(
                    "decimal(20,0)"
                )
                * F.col("w")
            ).alias("contrib"),
        )
    )
    x_per_unit = pairs.groupBy("item").agg(
        F.sum("contrib").alias("x")
    )
    # divide ONCE per distinct rater count m, then sum exactly: the
    # decimal division is deterministic HALF_UP, the outer sum exact
    by_m = (
        kept.join(x_per_unit, "item", "left")
        .groupBy("m")
        .agg(
            F.coalesce(
                F.sum("x"), F.lit(0).cast("decimal(38,12)")
            ).alias("sx")
        )
    )
    do_row = by_m.agg(
        F.coalesce(
            F.sum(
                F.col("sx") / (F.col("m") - F.lit(1)).cast("decimal(10,0)")
            ),
            F.lit(0).cast("decimal(38,12)"),
        ).alias("do_num")
    )
    n = F.col("n_values")
    do_d = F.col("do_num").cast("double")
    de_d = F.col("de_num").cast("double")
    alpha = F.lit(1.0) - ((n - F.lit(1)).cast("double") * do_d) / de_d
    degenerate = (
        (F.col("n_units") == 0)
        | F.col("de_num").isNull()
        | (F.col("de_num") == F.lit(0).cast("decimal(38,12)"))
    )
    return (
        totals.crossJoin(F.broadcast(cats))
        .crossJoin(F.broadcast(units_dropped))
        .crossJoin(F.broadcast(rows_dropped))
        .crossJoin(F.broadcast(de_row))
        .crossJoin(F.broadcast(do_row))
        .select(
            F.lit(metric).alias("metric"),
            "n_values",
            "n_units",
            "n_categories",
            "n_units_dropped",
            "n_rows_dropped",
            F.when(degenerate | (n < 1), F.lit(0.0))
            .otherwise(do_d / n.cast("double"))
            .alias("d_o"),
            F.when(degenerate | (n < 2), F.lit(0.0))
            .otherwise(de_d / (n * (n - F.lit(1))).cast("double"))
            .alias("d_e"),
            F.when(degenerate, F.lit(0.0))
            .otherwise(F.round(alpha, 6))
            .alias("alpha6"),
        )
    )


def bleu_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str,
    cand_col: str,
    ref_col: str,
    max_n: int = 4,
) -> None:
    """One append cycle of the maintained corpus-BLEU store — the
    ``foreachBatch`` body of a continuously-graded eval stream (model
    outputs trickle in; the corpus-level score must stay current
    without re-scoring history).  Writes the arriving pairs'
    :func:`bleu_cells` as ``(n, matched, cand_total, ref_total,
    batch_id)`` parquet rows: O(max_n) integers per batch, however
    many pairs arrived.  Replay: the :mod:`.storemaint` cell-store
    contract, so the reported BLEU can never double-count a replay.
    """
    cells = bleu_cells(batch_df, id_col, cand_col, ref_col, max_n=max_n)
    append_cells(cells, state_dir, batch_id)


def bleu_from_store(spark, state_dir: str, max_n: int = 4) -> DataFrame:
    """Corpus BLEU over EVERYTHING the store has seen: because
    :func:`bleu_cells` are additive over disjoint pair sets and the
    finisher is shared verbatim, this equals :func:`corpus_bleu` over
    the concatenation of all appended batches BIT FOR BIT — the
    streamed metric is the batch metric (asserted by
    ``tests/test_evalmetrics.py``)."""
    return corpus_bleu_from_cells(
        read_cells(spark, state_dir, ("n",)), max_n=max_n
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    annotator_col: str,
    label_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa (1971) — chance-corrected agreement for MANY
    raters at once, the panel-level complement of the pairwise
    :func:`annotator_agreement`: one number for "does this labeling
    crew agree beyond chance", where Cohen's kappa scores each pair.

    Fleiss assumes a balanced design (every item rated by exactly
    ``n_raters``), so after the same deterministic MIN-label conflict
    resolution as the pairwise operator, items with any OTHER rater
    count are EXCLUDED and reported in ``n_items_dropped`` — silent
    imbalance would bias P̄ with no warning.  Rows with a NULL item,
    annotator, or label are likewise EXCLUDED first and counted in
    ``n_rows_dropped`` (the :func:`winrate_report` convention; an
    all-NULL rater cell would otherwise become its own NULL category,
    and dropping it may also unbalance the item — which then lands in
    ``n_items_dropped``, both visible).  Returns ONE row::

        (n_items, n_raters, n_categories, n_items_dropped,
         p_bar, p_e_bar, fleiss_kappa, n_rows_dropped)

    With ``N`` kept items, ``n`` raters, ``n_ij`` the per-item
    category counts, ``S1 = Σ n_ij²`` and category totals
    ``c_j`` (``S2 = Σ c_j²``), the fixed-order IEEE arithmetic is::

        p_bar   = (S1 − N·n) / (N·n·(n−1))
        p_e_bar = S2 / ((N·n) · (N·n))
        kappa   = (p_bar − p_e_bar) / (1 − p_e_bar)

    Every input to the three divisions is an exact BIGINT (S1 ≤ N·n²,
    S2 ≤ (N·n)² — headroom to N·n < 3·10⁹), the products and
    divisions are correctly-rounded IEEE doubles evaluated in the
    same order by the oracle, so the face is hash-exact with no
    rounding anywhere.  Degenerate panels (p_e_bar = 1: one category
    everywhere) gate kappa to 0.0, the Cohen convention shared with
    the pairwise operator.

    100 TB shape: the resolve and per-(item,label) counts are
    map-side-combinable aggregations keyed by the item; the balanced
    filter is a semi-join against the (item, rater-count) relation;
    everything after that is one pass of per-item sums reduced to ONE
    row plus a k-row category relation.  No windows, no self-join —
    Fleiss is cheaper than pairwise Cohen by construction.
    """
    if n_raters < 2:
        raise ValueError(f"fleiss_kappa: n_raters must be >= 2, got {n_raters}")
    src = df.select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("annotator"),
        F.col(label_col).alias("label"),
    )
    valid = (
        F.col("item").isNotNull()
        & F.col("annotator").isNotNull()
        & F.col("label").isNotNull()
    )
    rows_dropped = src.agg(
        F.coalesce(
            F.sum(F.when(~valid, 1).otherwise(0)), F.lit(0)
        ).alias("n_rows_dropped")
    )
    resolved = (
        src.where(valid)
        .groupBy("item", "annotator")
        .agg(F.min("label").alias("label"))
    )
    rater_counts = resolved.groupBy("item").agg(
        F.count(F.lit(1)).alias("_nr")
    )
    kept_items = rater_counts.where(F.col("_nr") == n_raters).select("item")
    dropped = rater_counts.where(F.col("_nr") != n_raters).select("item")
    cells = (
        resolved.join(kept_items, "item", "leftsemi")
        .groupBy("item", "label")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    per_item = cells.groupBy("item").agg(
        F.sum(F.col("nij") * F.col("nij")).alias("_sq")
    )
    s1 = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.coalesce(F.sum("_sq"), F.lit(0)).alias("s1"),
    )
    cats = cells.groupBy("label").agg(F.sum("nij").alias("cj"))
    s2 = cats.agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.coalesce(F.sum(F.col("cj") * F.col("cj")), F.lit(0)).alias("s2"),
    )
    nd = dropped.agg(F.count(F.lit(1)).alias("n_items_dropped"))
    n = F.lit(int(n_raters))
    nn = F.col("n_items") * n  # N·n
    p_bar = (F.col("s1") - nn).cast("double") / (
        nn * (n - F.lit(1))
    ).cast("double")
    p_e = F.col("s2").cast("double") / (
        nn.cast("double") * nn.cast("double")
    )
    degenerate = (F.col("n_items") == 0) | (p_e == F.lit(1.0))
    return (
        s1.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(rows_dropped))
        .select(
            "n_items",
            n.alias("n_raters"),
            "n_categories",
            "n_items_dropped",
            F.when(F.col("n_items") == 0, F.lit(0.0)).otherwise(p_bar).alias(
                "p_bar"
            ),
            F.when(F.col("n_items") == 0, F.lit(0.0)).otherwise(p_e).alias(
                "p_e_bar"
            ),
            F.when(degenerate, F.lit(0.0))
            .otherwise((p_bar - p_e) / (F.lit(1.0) - p_e))
            .alias("fleiss_kappa"),
            "n_rows_dropped",
        )
    )


def annotations_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    item_col: str,
    annotator_col: str,
    label_col: str,
) -> None:
    """One append cycle of the maintained ANNOTATION store — the
    ``foreachBatch`` body of a live labeling pipeline (rater verdicts
    trickle in; the agreement dashboards must stay current without
    re-reading history).  Pre-resolves the arriving batch to its
    per-(item, annotator) MIN label and appends those rows as parquet.

    This is the THIRD replay-safety regime in the repo's maintained-
    store taxonomy (docs/SCALE.md): the merge operation — label MIN
    per (item, annotator) — is associative, commutative, and
    IDEMPOTENT, so append can be completely blind: a replayed
    micro-batch duplicates store rows but can never change any
    downstream statistic, because both :func:`annotator_agreement`
    and :func:`fleiss_kappa` BEGIN with exactly that MIN resolve.
    No batch ids, no dedup pass, no compaction fence needed — the
    HLL store's discipline with MIN in place of union.  (A
    housekeeping compaction is just the resolve itself written back;
    it changes nothing downstream.)

    Cross-batch conflicts resolve identically to batch mode:
    ``min(min(A), min(B)) == min(A ∪ B)``, so the store statistics
    equal the one-shot operators over the concatenation of all
    appended batches BIT FOR BIT — asserted by the parity tests.

    NULL discipline (r12): rows with a NULL item/annotator/label are
    dropped AT APPEND — a label store must never hold NULL labels
    (``min`` would skip a mixed cell's NULLs anyway, but an ALL-NULL
    cell would otherwise write a NULL row the readers then have to
    re-drop).  Consequence for accounting: the one-shot operators'
    ``n_rows_dropped`` counts RAW votes, while a from-store read
    reports 0 (the store is clean by construction) — the agreement
    STATISTICS are bit-identical either way, and a caller who needs
    raw dropped-vote telemetry tracks it per batch where the raw rows
    still exist.
    """
    src = batch_df.select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("annotator"),
        F.col(label_col).alias("label"),
    )
    resolved = (
        src.where(
            F.col("item").isNotNull()
            & F.col("annotator").isNotNull()
            & F.col("label").isNotNull()
        )
        .groupBy("item", "annotator")
        .agg(F.min("label").alias("label"))
    )
    resolved.write.mode("append").parquet(state_dir)


def agreement_from_store(spark, state_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa over EVERYTHING the annotation store has
    seen — :func:`annotator_agreement` applied to the store, whose
    leading MIN resolve absorbs replays and cross-batch duplicates by
    idempotence."""
    return annotator_agreement(
        spark.read.parquet(state_dir), "item", "annotator", "label"
    )


def fleiss_from_store(spark, state_dir: str, n_raters: int) -> DataFrame:
    """Fleiss' panel kappa over the annotation store — same idempotent
    MIN-merge guarantee as :func:`agreement_from_store`."""
    return fleiss_kappa(
        spark.read.parquet(state_dir), "item", "annotator", "label", n_raters
    )


def winrate_report(
    df: DataFrame,
    a_col: str,
    b_col: str,
    winner_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Pairwise win-rate report with Wilson score intervals — the
    eval-dashboard statistic beside the Bradley-Terry trainer
    (:mod:`..operators.btrank` fits strengths; this reports each
    matchup's rate WITH its uncertainty, which is what decides
    whether a 55% win rate over 20 games means anything).

    Input rows are matches ``(a, b, winner)`` where ``winner`` equals
    one of the two sides; rows whose winner is neither side (or NULL,
    or a self-match a == b) are EXCLUDED and counted in the
    ``n_dropped`` column of every output row — silent garbage would
    bias rates.  Pairs are canonicalized to (lo, hi) by the natural
    ordering, and the reported rate is LO's.

    Returns one row per unordered pair: ``(side_lo, side_hi,
    n_games, n_wins_lo, win_rate, wilson_lo, wilson_hi, n_dropped)``.

    Exactness: ``n_games``/``n_wins_lo`` are integer sums;
    ``win_rate = w/n`` is one IEEE division; the Wilson bounds::

        denom  = 1 + z²/n
        center = p + z²/(2n)
        rad    = z · sqrt(p(1−p)/n + z²/(4n²))
        lo, hi = (center ∓ rad) / denom

    are a fixed sequence of correctly-rounded IEEE operations (the
    sqrt is correctly rounded by IEEE-754 — the same guarantee the
    HITS normalization relies on), replicated operation-for-operation
    by the SQL oracle — hash-exact with NO rounding step anywhere.
    Bounds are exact at the extremes (p=0 ⇒ wilson_lo=0, p=1 ⇒
    wilson_hi=1 up to the final division) and never leave [0, 1].

    100 TB shape: one row-local canonicalize/validate projection, one
    map-side-combinable (lo, hi) aggregation, a 1-row dropped-count
    broadcast — match logs reduce to one row per matchup however
    many billions of games went in.
    """
    if not (z > 0):
        raise ValueError(f"winrate_report: z must be > 0, got {z}")
    a, b, w = F.col(a_col), F.col(b_col), F.col(winner_col)
    # coalesce: a NULL winner makes the comparison NULL, which `where`
    # would drop but `~NULL` would NOT count as dropped — force boolean
    valid = F.coalesce(
        a.isNotNull() & b.isNotNull() & (a != b) & ((w == a) | (w == b)),
        F.lit(False),
    )
    base = df.select(
        F.least(a, b).alias("side_lo"),
        F.greatest(a, b).alias("side_hi"),
        F.when(w == F.least(a, b), 1).otherwise(0).alias("win_lo"),
        valid.alias("_ok"),
    )
    dropped = base.agg(
        F.sum(F.when(~F.col("_ok"), 1).otherwise(0)).alias("n_dropped")
    )
    agg = (
        base.where("_ok")
        .groupBy("side_lo", "side_hi")
        .agg(
            F.count(F.lit(1)).alias("n_games"),
            F.sum("win_lo").alias("n_wins_lo"),
        )
    )
    return _winrate_finish(agg, dropped, z)


def _winrate_finish(agg: DataFrame, dropped: DataFrame, z: float) -> DataFrame:
    """The Wilson epilogue over per-matchup integer cells ``(side_lo,
    side_hi, n_games, n_wins_lo)`` plus a 1-row dropped count — shared
    VERBATIM by the one-shot :func:`winrate_report` and the maintained
    store's :func:`winrate_from_store`, so the streamed dashboard is
    output-identical to batch by construction."""
    zz = F.lit(float(z)) * F.lit(float(z))
    n = F.col("n_games").cast("double")
    p = F.col("n_wins_lo").cast("double") / n
    denom = F.lit(1.0) + zz / n
    center = p + zz / (F.lit(2.0) * n)
    rad = F.lit(float(z)) * F.sqrt(
        p * (F.lit(1.0) - p) / n + zz / (F.lit(4.0) * n * n)
    )
    return (
        agg.crossJoin(F.broadcast(dropped))
        .select(
            "side_lo",
            "side_hi",
            "n_games",
            "n_wins_lo",
            p.alias("win_rate"),
            # clamp: at p=0/p=1 the center∓rad cancellation leaves a
            # ±1e-17 residue outside [0,1]
            F.greatest(F.lit(0.0), (center - rad) / denom).alias("wilson_lo"),
            F.least(F.lit(1.0), (center + rad) / denom).alias("wilson_hi"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        )
    )


def winrate_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    a_col: str,
    b_col: str,
    winner_col: str,
) -> None:
    """One append cycle of the maintained WIN-RATE store — the
    ``foreachBatch`` body of a live eval arena (match verdicts trickle
    in; the Wilson dashboard must stay current without re-reading
    history).  Writes the batch's per-matchup integer cells
    ``(side_lo, side_hi, n_games, n_wins_lo, n_dropped, batch_id)`` —
    O(matchups) rows per batch however many games arrived.  Replay:
    the :mod:`.storemaint` cell-store contract, so a replay can never
    double-count a game.

    The dropped count is carried per batch on a sentinel-free NULL
    matchup row so raw-vote accounting survives the store (unlike the
    annotation store, where the resolve itself absorbs what was
    dropped).  Sides are stringified BEFORE the
    least/greatest pairing (an arena's systems are names; a stable
    store schema whatever the caller's id type), so matchups pair
    LEXICOGRAPHICALLY even for numeric ids — identical to running the
    one-shot comparison on string sides, which is the documented
    bit-parity recipe.
    """
    a = F.col(a_col).cast("string")
    b = F.col(b_col).cast("string")
    w = F.col(winner_col).cast("string")
    valid = F.coalesce(
        a.isNotNull() & b.isNotNull() & (a != b) & ((w == a) | (w == b)),
        F.lit(False),
    )
    base = batch_df.select(
        F.least(a, b).alias("side_lo"),
        F.greatest(a, b).alias("side_hi"),
        F.when(w == F.least(a, b), 1).otherwise(0).alias("win_lo"),
        valid.alias("_ok"),
    )
    cells = (
        base.where("_ok")
        .groupBy("side_lo", "side_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_games"),
            F.sum("win_lo").cast("long").alias("n_wins_lo"),
        )
        .withColumn("n_dropped", F.lit(0).cast("long"))
    )
    dropped = base.agg(
        F.coalesce(F.sum(F.when(~F.col("_ok"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_dropped")
    ).select(
        F.lit(None).cast("string").alias("side_lo"),
        F.lit(None).cast("string").alias("side_hi"),
        F.lit(0).cast("long").alias("n_games"),
        F.lit(0).cast("long").alias("n_wins_lo"),
        "n_dropped",
    )
    append_cells(cells.unionByName(dropped), state_dir, batch_id)


def winrate_from_store(spark, state_dir: str, z: float = 1.96) -> DataFrame:
    """Wilson win-rate report over EVERYTHING the store has seen:
    clean per-matchup cells are summed and the finisher is
    :func:`_winrate_finish` verbatim, so the result equals
    :func:`winrate_report` over the concatenation of all appended
    batches BIT FOR BIT (asserted by ``tests/test_evalmetrics.py``)."""
    keys = ("side_lo", "side_hi")
    clean = read_cells(spark, state_dir, keys)
    agg = sum_cells(
        clean.where(F.col("side_lo").isNotNull()).drop("n_dropped"), keys
    )
    dropped = sum_cells(clean.select("n_dropped"))
    return _winrate_finish(agg, dropped, z)


def _binary_score_groups(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None,
    score_decimals: int,
    pin: bool = True,
):
    """The shared (rounded score -> class counts) relation behind
    :func:`auc_report` and :func:`pr_report`: one corpus aggregation
    whose output is bounded by the ROUND contract (distinct rounded
    scores + the one excluded group per slice), PINNED so both the
    metric and the exclusion branch read it instead of re-scanning.
    Returns ``(grouped, keys, per_group)`` with ``per_group`` columns
    ``(*keys, _ok, _s, _np, _nn, _cnt)``."""
    grouped = group_col is not None
    grp_sel = (
        [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    )
    keys = ["_grp"] if grouped else []
    valid = (
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    base = df.select(
        *grp_sel,
        valid.alias("_ok"),
        # excluded rows carry a NULL score so they land in one
        # (ok=false, s=NULL) group per slice: ONE aggregation (one
        # corpus scan, one exchange) feeds both the metric and the
        # exclusion count, and the two downstream filters share the
        # exchange (ReusedExchange — plan-test pinned) instead of the
        # two-scan shape the first draft had.
        F.when(
            valid, F.round(F.col(score_col).cast("double"), score_decimals)
        ).alias("_s"),
        F.when(valid, F.col(label_col).cast("int")).alias("_y"),
    )
    per_group = base.groupBy(*keys, "_ok", "_s").agg(
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("_np"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0))
        .cast("long")
        .alias("_nn"),
        F.count(F.lit(1)).cast("long").alias("_cnt"),
    )
    if pin:
        # pinned, not merely shared: Catalyst pushes the _ok filter of
        # the metric branch THROUGH the aggregate (it is a grouping
        # key), so the two branches' exchanges stop being structurally
        # identical and ReuseExchange cannot fire — measured as two
        # full corpus scans.  The checkpoint is safe at any corpus
        # size because this relation is <= ~2e6 narrow rows per slice
        # BY THE ROUND-6 CONTRACT (distinct rounded scores + the one
        # excluded group).  Single-consumer callers (the store writer)
        # pass pin=False and skip the extra materialization job.
        per_group = per_group.localCheckpoint(eager=True)
    return grouped, keys, per_group


def auc_report(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    score_decimals: int = 6,
) -> DataFrame:
    """ROC AUC via the Mann–Whitney rank-sum identity — the
    classifier-quality member of the eval family (the repo's quality
    models — ``quality_model_filter``, ``probe_train``, the fastText-
    style n-gram scorer — emit scores; this grades the scores against
    labels, threshold-free).  One row (or one per ``group_col``)::

        (n_samples, n_excluded, n_pos, n_neg, auc6, gini6)

    AUC with AVERAGE-RANK tie handling, computed entirely in exact
    integers until one final division::

        auc = [ sum_s n_pos(s) * (2*neg_below(s) + n_neg(s)) ]
              / (2 * P * N)

    where the sum runs over DISTINCT scores (each tie group
    contributes its positives paired against strictly-lower negatives
    plus HALF its own negatives — the average-rank convention,
    doubled into integer arithmetic).  ``auc6`` is NULL when either
    class is empty (undefined, not 0.5); ``gini6 = 2*auc - 1``.
    Rows with a NULL score or a NULL label are EXCLUDED AND COUNTED
    (the kappa/winrate loudness convention); labels are cast to int
    and must be 0/1.

    100 TB shape: scores are ROUNDED at ``score_decimals`` first
    (stated contract — at the default 6 the tie-averaging granularity
    is 1e-6, which moves AUC negligibly and is the registry's float
    convention anyway), so the post-groupBy relation is DISTINCT
    ROUNDED SCORES — at most ~2e6 narrow integer rows whatever the
    corpus.  The strictly-below cumulative is one window over that
    BOUNDED relation (partitioned by the group when given); nothing
    corpus-sized sorts in one task, no Python, and the only
    corpus-sized exchange is the map-side-combinable (score ->
    counts) aggregation.

    NOT a pure plan constructor: the bounded per-score relation is
    pinned via ``localCheckpoint(eager=True)``, which runs a Spark
    job at CALL time and truncates lineage to executor-local blocks —
    under dynamic allocation / preemptible executors a lost executor
    makes downstream stages unrecoverable (no lineage to replay).
    Deployments needing fault-tolerant recovery should use reliable
    ``checkpoint()`` with a checkpoint dir at the pin site instead.
    """
    grouped, keys, per_group = _binary_score_groups(
        df, score_col, label_col, group_col, score_decimals
    )
    return _auc_from_groups(grouped, keys, per_group, group_col)


def _auc_from_groups(
    grouped: bool, keys: list[str], per_group: DataFrame, group_col
) -> DataFrame:
    """The AUC finisher over a ``(_ok, _s, _np, _nn, _cnt)`` relation —
    shared VERBATIM between :func:`auc_report` and
    :func:`auc_from_store`, so streamed == one-shot is an identity of
    the expression tree, not a claim."""
    per_score = per_group.where(F.col("_ok")).select(
        *keys, "_s", "_np", "_nn"
    )
    w = (
        Window.partitionBy(*keys).orderBy("_s")
        if grouped
        else Window.orderBy("_s")
    ).rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.withColumn(
        "_below", F.coalesce(F.sum("_nn").over(w), F.lit(0)).cast("long")
    )
    cells = cum.groupBy(*keys).agg(
        F.coalesce(F.sum(F.col("_np") + F.col("_nn")), F.lit(0))
        .cast("long")
        .alias("_n"),
        F.coalesce(F.sum("_np"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("_nn"), F.lit(0)).cast("long").alias("n_neg"),
        # decimal operands, not long: the rank-sum numerator is
        # bounded by 2*P*N, which clears int64 only below ~4.3e9
        # balanced rows — the decimal(19,0) casts make the per-score
        # products and their accumulation exact at any corpus size
        # (the spearman_report convention), at zero cost on the
        # bounded <=2e6-row relation this aggregates
        F.coalesce(
            F.sum(
                F.col("_np").cast("decimal(19,0)")
                * (F.lit(2) * F.col("_below") + F.col("_nn")).cast(
                    "decimal(19,0)"
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("_numer2"),
    )
    excl = (
        per_group.groupBy(*keys)
        .agg(
            F.coalesce(
                F.sum(F.when(~F.col("_ok"), F.col("_cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("n_excluded")
        )
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            F.col("_numer2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ),
    )
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    # excl drives the grouped join: cells is built from _ok rows only,
    # so a group whose rows are ALL excluded has no cells row — an
    # inner join would silently drop its n_excluded row, violating the
    # EXCLUDED AND COUNTED contract (spearman_report, which aggregates
    # over ALL rows, never had the hole).  Left-join from excl and
    # coalesce the counts to 0; auc6/gini6 stay NULL (undefined).
    return (
        excl.join(cells, keys, "left")
        if keys
        else cells.crossJoin(F.broadcast(excl))
    ).select(
        *out_grp,
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_samples"),
        "n_excluded",
        F.coalesce(F.col("n_pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.col("n_neg"), F.lit(0)).cast("long").alias("n_neg"),
        auc.alias("auc6"),
        F.round(F.lit(2.0) * auc - F.lit(1.0), 6).alias("gini6"),
    )


def _paired_binary_replicates(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
    label_col: str,
    n_boot: int,
    seed: int,
    score_decimals: int,
    group_col: str | None = None,
):
    """The shared front half of the paired binary-classifier
    bootstraps (:func:`auc_paired_bootstrap` /
    :func:`pr_paired_bootstrap`): exclusion-count aggregate plus the
    integer-weighted per-(replicate, side, rounded score) class
    counts, with ``b = -1`` the weight-1 full-sample pseudo-replicate
    that carries the headline metrics through the same pipeline.
    Returns ``(keys, counts, per_score)`` where ``per_score`` has
    columns ``([_grp,] b, _side, _v, _np, _nn)`` and is bounded by
    ``2 * (n_boot + 1) * (10^score_decimals + 1)`` rows per slice by
    the ROUND contract — the ONE corpus-sized exchange either metric
    needs.  ``keys`` is ``["_grp"]`` when ``group_col`` is set (the
    NULL-encoded internal slice key — decode at the output boundary),
    else ``[]``.  The Poisson weight of an item in a replicate is a
    pure function of (id, b) — independent of the slicing — so every
    slice of a grouped run is BIT-IDENTICAL to the ungrouped run over
    that slice alone (test-asserted)."""
    keys = ["_grp"] if group_col is not None else []
    grp_sel = (
        [_grp_key(F.col(group_col)).alias("_grp")]
        if group_col is not None
        else []
    )
    ok = (
        F.col(score_a_col).isNotNull()
        & F.col(score_b_col).isNotNull()
        & F.col(label_col).isNotNull()
    )
    base = df.select(
        *grp_sel,
        ok.alias("_ok"),
        F.col(id_col).cast("string").alias("_id"),
        F.when(
            ok, F.round(F.col(score_a_col).cast("double"), score_decimals)
        ).alias("_sa"),
        F.when(
            ok, F.round(F.col(score_b_col).cast("double"), score_decimals)
        ).alias("_sb"),
        F.when(ok, F.col(label_col).cast("int")).alias("_y"),
    )
    count_aggs = [
        F.coalesce(F.sum(F.when(F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_samples"),
        F.coalesce(F.sum(F.when(~F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_excluded"),
    ]
    counts = (
        base.groupBy(*keys).agg(*count_aggs) if keys else base.agg(*count_aggs)
    )
    # the headline metrics ride the SAME single explode/aggregation/
    # window pipeline as the resampled worlds (b = -1) — same
    # rounding, same tie structure, one corpus pass — instead of two
    # extra eager report scans (round-15 review findings 3 and 5).
    # spread() pins the n_boot explode wide (fanout.spread).
    from .fanout import spread

    reps, w = _boot_replicates(
        spread(base.where(F.col("_ok"))),
        n_boot,
        seed,
        "CAST(_id AS STRING)",
        *keys,
        "_id",
        "_sa",
        "_sb",
        "_y",
    )
    sided = reps.select(
        *keys,
        "b",
        w.alias("_w"),
        "_y",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("s"), F.col("_sa").alias("v")),
                F.struct(F.lit("b").alias("s"), F.col("_sb").alias("v")),
            )
        ).alias("_sv"),
    ).select(
        *keys,
        "b",
        F.col("_sv.s").alias("_side"),
        F.col("_sv.v").alias("_v"),
        (F.col("_w") * F.when(F.col("_y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("_wp"),
        (F.col("_w") * F.when(F.col("_y") == 0, 1).otherwise(0))
        .cast("long")
        .alias("_wn"),
    )
    per_score = sided.groupBy(*keys, "b", "_side", "_v").agg(
        F.sum("_wp").cast("long").alias("_np"),
        F.sum("_wn").cast("long").alias("_nn"),
    )
    return keys, counts, per_score


def _pair_sides(rep_metric: DataFrame, keys: list[str]) -> DataFrame:
    """Fold the binary bootstraps' ``([_grp,] b, _side, _m)`` rows to
    the ``([_grp,] b, _sa, _sb)`` shape :func:`_paired_bootstrap_report`
    summarizes — one (keys, b)-level aggregation over ALL replicates
    INCLUDING the ``b = -1`` full-sample row.  A NULL ``_m`` (a
    one-class weighting) leaves that side NULL, dropping the
    replicate."""
    return rep_metric.groupBy(*keys, "b").agg(
        F.max(F.when(F.col("_side") == "a", F.col("_m"))).alias("_sa"),
        F.max(F.when(F.col("_side") == "b", F.col("_m"))).alias("_sb"),
    )


def auc_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
    label_col: str,
    n_boot: int = 32,
    seed: int = 7,
    score_decimals: int = 6,
    group_col: str | None = None,
) -> DataFrame:
    """Paired bootstrap significance for ROC AUC — is model A's AUC
    lead over model B REAL, or resampling noise of this labeled set?
    The :func:`bleu_paired_bootstrap` harness on the classifier-
    quality metric: two models' scores over the SAME labeled items,
    ITEMS resampled with the shared deterministic Poisson(1) md5/ppm
    weights (pairing cancels test-set difficulty), the average-rank
    Mann-Whitney AUC recomputed per replicate IN EXACT INTEGERS
    (integer Poisson weights keep the weighted per-score class counts
    integral, so each replicate's rank-sum numerator is the same
    exact-DECIMAL arithmetic :func:`auc_report` uses), and the
    per-replicate deltas give the nearest-rank 2.5/97.5 interval plus
    the fraction of worlds where A wins.  One row::

        (n_samples, n_excluded, n_boot, auc_a6, auc_b6, delta6,
         delta_lo6, delta_hi6, n_delta_pos, n_delta_neg, p_a_better6)

    Rows with a NULL label or EITHER score NULL are EXCLUDED AND
    COUNTED (a paired resample needs both systems scored).
    Replicates where either class is empty after weighting yield a
    NULL side AUC and drop out of that replicate's delta — loud in
    ``n_delta_pos + n_delta_neg < n_boot``, impossible in practice
    past a few hundred items.  When replicates DO drop, the interval
    columns go NULL rather than silently narrowing: the nearest-rank
    indices are fixed at ceil(.025/.975 * n_boot) for family
    consistency (every bootstrap here prices the interval against the
    REQUESTED replicate count), so ``delta_hi6`` (and for deep drops
    ``delta_lo6``) is NULL whenever the surviving-delta array is too
    short — the honest answer for a degenerate labeled set.  With
    ZERO surviving deltas the counts still read 0, not NULL.  ``auc_a6``/``auc_b6`` are the
    full-sample values over the paired valid set, computed as a
    weight-1 pseudo-replicate riding the same pipeline (same
    ``score_decimals`` rounding and tie structure as every resampled
    world — equal to :func:`auc_report` over the paired rows).

    ``group_col`` (r15 verdict item 6 — family symmetry: every other
    corpus metric has one-shot/by-group variants) emits one row per
    slice with a leading group column.  An item's Poisson weight in
    replicate ``b`` is a pure function of (id, b) — independent of
    the slicing — so every slice is BIT-IDENTICAL to the ungrouped
    run over that slice alone (test-asserted), and a fully-excluded
    slice still emits its row (zero delta counts, NULL values).
    :func:`pr_paired_bootstrap` shares the machinery and the
    contract.

    100 TB shape: the corpus-sized exchange is ONE explode of scalar
    rows — ``rows x (n_boot + 1) x 2 sides`` integer tuples (the +1
    is the full-sample world), no text — into a map-side-combinable
    (replicate, side, score) aggregation whose output is bounded by
    ``2 * (n_boot + 1) * (10^score_decimals + 1)`` narrow rows by the
    ROUND contract; the per-replicate cumulative windows and the
    32-delta quantile run over THAT bounded relation.  Zero Python,
    zero extra corpus scans.
    """
    keys, counts, per_score = _paired_binary_replicates(
        df,
        id_col,
        score_a_col,
        score_b_col,
        label_col,
        n_boot,
        seed,
        score_decimals,
        group_col,
    )
    wv = (
        Window.partitionBy(*keys, "b", "_side")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_score.withColumn(
        "_below", F.coalesce(F.sum("_nn").over(wv), F.lit(0)).cast("long")
    )
    rep_cells = cum.groupBy(*keys, "b", "_side").agg(
        F.coalesce(F.sum("_np"), F.lit(0)).cast("long").alias("_p"),
        F.coalesce(F.sum("_nn"), F.lit(0)).cast("long").alias("_n"),
        F.coalesce(
            F.sum(
                F.col("_np").cast("decimal(19,0)")
                * (F.lit(2) * F.col("_below") + F.col("_nn")).cast(
                    "decimal(19,0)"
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("_numer2"),
    )
    rep_auc = rep_cells.select(
        *keys,
        "b",
        "_side",
        F.when(
            (F.col("_p") > 0) & (F.col("_n") > 0),
            F.round(
                F.col("_numer2").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("_p").cast("double")
                    * F.col("_n").cast("double")
                ),
                6,
            ),
        ).alias("_m"),
    )
    return _paired_bootstrap_report(
        _pair_sides(rep_auc, keys),
        n_boot,
        "auc",
        counts=counts,
        keys=keys,
        group_col=group_col,
    )


def pr_paired_bootstrap(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
    label_col: str,
    n_boot: int = 32,
    seed: int = 7,
    score_decimals: int = 6,
    group_col: str | None = None,
) -> DataFrame:
    """Paired bootstrap significance for AVERAGE PRECISION — is model
    A's AP lead over model B real?  The class-imbalance companion to
    :func:`auc_paired_bootstrap` (r15 verdict item 5): on a rare-
    positive corpus AUC and AP can DISAGREE about the winner (AUC
    prices bulk ranking, AP prices early precision), and this is the
    harness that says which lead survives resampling.  Same shared
    machinery: items resample under the deterministic Poisson(1)
    md5/ppm weights, integer weights keep the weighted per-score
    class counts integral, and each replicate's AP is
    :func:`pr_report`'s exact fold — per-tie-block precision ROUNDED
    at 6 riding a DECIMAL weighted sum over the integer block
    weights, divided by that replicate's weighted positive count.
    One row::

        (n_samples, n_excluded, n_boot, ap_a6, ap_b6, delta6,
         delta_lo6, delta_hi6, n_delta_pos, n_delta_neg, p_a_better6)

    Rows with a NULL label or EITHER score NULL are EXCLUDED AND
    COUNTED.  A replicate whose weighting leaves a side with zero
    positives has an undefined AP on that side and drops out of the
    delta — loud in ``n_delta_pos + n_delta_neg < n_boot``; with zero
    surviving deltas the counts read 0 and the interval/probability
    columns are NULL (the family's degenerate-input contract).
    ``ap_a6``/``ap_b6`` are the full-sample values over the paired
    valid set, computed as the weight-1 pseudo-replicate — equal to
    :func:`pr_report` over the paired rows.

    100 TB shape: identical to the AUC bootstrap — ONE corpus-sized
    explode of scalar rows (``rows x (n_boot + 1) x 2 sides``) into a
    map-side-combinable aggregation bounded by
    ``2 * (n_boot + 1) * (10^score_decimals + 1)`` rows; the
    per-replicate cumulative tp/fp windows, the DECIMAL ap folds and
    the 32-delta quantile all run over that bounded relation.  Zero
    Python, zero extra corpus scans.
    """
    keys, counts, per_score = _paired_binary_replicates(
        df,
        id_col,
        score_a_col,
        score_b_col,
        label_col,
        n_boot,
        seed,
        score_decimals,
        group_col,
    )
    # pr_report's fold per (replicate, side): descending-score
    # cumulative tp/fp, per-block precision rounded at 6, exact
    # DECIMAL sum over integer block weights (same types, same
    # rounding — the shared-definition guarantee the face's oracle
    # replays)
    totals = per_score.groupBy(*keys, "b", "_side").agg(
        F.coalesce(F.sum("_np"), F.lit(0)).cast("long").alias("_p")
    )
    wv = (
        Window.partitionBy(*keys, "b", "_side")
        .orderBy(F.col("_v").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # a resampled world's thresholds are its OCCUPIED scores: a tie
    # block whose items all drew weight 0 is absent from that world
    # (it adds nothing to tp/fp/apsum, and at the very top it would be
    # a 0/0 precision), exactly as if the rows were resampled away
    blocks = per_score.where(
        (F.col("_np") > 0) | (F.col("_nn") > 0)
    ).select(
        *keys,
        "b",
        "_side",
        "_np",
        F.sum("_np").over(wv).cast("long").alias("_tp"),
        F.sum("_nn").over(wv).cast("long").alias("_fp"),
    )
    prec6 = F.round(
        F.col("_tp").cast("double")
        / (F.col("_tp") + F.col("_fp")).cast("double"),
        6,
    )
    ap_cells = blocks.groupBy(*keys, "b", "_side").agg(
        F.coalesce(
            F.sum(
                (
                    F.col("_np").cast("decimal(18,0)")
                    * prec6.cast("decimal(18,6)")
                ).cast("decimal(38,6)")
            ),
            F.lit(0).cast("decimal(38,6)"),
        ).alias("_ap_sum")
    )
    rep_ap = ap_cells.join(totals, [*keys, "b", "_side"]).select(
        *keys,
        "b",
        "_side",
        F.when(
            F.col("_p") > 0,
            F.round(
                F.col("_ap_sum").cast("double") / F.col("_p").cast("double"),
                6,
            ),
        ).alias("_m"),
    )
    return _paired_bootstrap_report(
        _pair_sides(rep_ap, keys),
        n_boot,
        "ap",
        counts=counts,
        keys=keys,
        group_col=group_col,
    )


def pr_report(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    score_decimals: int = 6,
) -> DataFrame:
    """Precision-recall report — average precision (AUPRC) plus the
    best-F1 operating point, the class-imbalance-honest companion to
    :func:`auc_report`: a curation pipeline whose positives are 1% of
    the corpus (toxic pages, contaminated docs, gold-quality samples)
    reads AUC as rosy while AP collapses, and the same pipeline needs
    an actual THRESHOLD to deploy its quality model at — the best-F1
    row is that number.  One row (or one per ``group_col``)::

        (n_samples, n_excluded, n_pos, n_neg, ap6,
         best_f1_6, best_f1_threshold6, best_f1_precision6,
         best_f1_recall6)

    Definitions (stated, order-proof):

    * thresholds are the DISTINCT ROUNDED SCORES, descending; at
      threshold ``t`` everything scoring ``>= t`` is predicted
      positive (each tie block is ONE threshold — the sklearn
      ``average_precision_score`` convention);
    * ``ap = sum_t (delta_recall_t * precision_t)`` with each block's
      precision ROUNDED at 6 first and the weighted sum carried as an
      exact DECIMAL over integer block weights (the calibration ece6
      recipe), so partial-aggregation order can never change a bit;
      the one remaining float step is the final division by n_pos,
      ROUNDed at 6;
    * the best-F1 row maximizes the block F1 (``2tp / (tp + fp +
      n_pos)``, ROUNDED at 6) with the HIGHER threshold winning exact
      ties — a deterministic argmax via one struct max, never a
      partition-dependent pick.

    ``ap6`` and the ``best_f1_*`` columns are NULL when there are no
    positives (undefined, not 0); rows with a NULL score or label are
    EXCLUDED AND COUNTED, and a fully-excluded group still emits its
    row (the exclusion relation drives the join).

    100 TB shape: the ONE corpus-sized exchange is the shared
    map-side-combinable (score -> class counts) aggregation (pinned —
    see :func:`auc_report`); the cumulative tp/fp window, the totals
    join-back, the DECIMAL ap fold and the struct argmax all run over
    that bounded relation (<= ~1e6+1 rows per slice by the ROUND
    contract).  Zero Python.

    NOT a pure plan constructor: the shared pin is
    ``localCheckpoint(eager=True)`` — a Spark job runs at CALL time
    and lineage truncates to executor-local blocks (use reliable
    ``checkpoint()`` where executor loss must be recoverable).
    """
    grouped, keys, per_group = _binary_score_groups(
        df, score_col, label_col, group_col, score_decimals
    )
    return _pr_from_groups(grouped, keys, per_group, group_col)


def _pr_from_groups(
    grouped: bool, keys: list[str], per_group: DataFrame, group_col
) -> DataFrame:
    """The PR finisher over a ``(_ok, _s, _np, _nn, _cnt)`` relation —
    shared VERBATIM between :func:`pr_report` and
    :func:`pr_from_store` (the :func:`_auc_from_groups` regime)."""
    per_score = per_group.where(F.col("_ok")).select(
        *keys, "_s", "_np", "_nn"
    )
    totals = per_score.groupBy(*keys).agg(
        F.coalesce(F.sum("_np"), F.lit(0)).cast("long").alias("_p"),
        F.coalesce(F.sum("_nn"), F.lit(0)).cast("long").alias("_n"),
    )
    w = (
        Window.partitionBy(*keys).orderBy(F.col("_s").desc())
        if grouped
        else Window.orderBy(F.col("_s").desc())
    ).rowsBetween(Window.unboundedPreceding, 0)
    blocks = per_score.select(
        *keys,
        "_s",
        "_np",
        F.sum("_np").over(w).cast("long").alias("_tp"),
        F.sum("_nn").over(w).cast("long").alias("_fp"),
    )
    joined = (
        blocks.join(F.broadcast(totals), keys)
        if keys
        else blocks.crossJoin(F.broadcast(totals))
    )
    prec6 = F.round(
        F.col("_tp").cast("double")
        / (F.col("_tp") + F.col("_fp")).cast("double"),
        6,
    )
    rec6 = F.when(
        F.col("_p") > 0,
        F.round(F.col("_tp").cast("double") / F.col("_p").cast("double"), 6),
    )
    # 2tp + fp + fn = 2tp + fp + (P - tp) = tp + fp + P; the block with
    # zero predictions cannot occur (every threshold is an occupied
    # score), so the denominator is always >= 1
    f16 = F.round(
        (F.lit(2.0) * F.col("_tp").cast("double"))
        / (F.col("_tp") + F.col("_fp") + F.col("_p")).cast("double"),
        6,
    )
    scored = joined.select(
        *keys,
        F.col("_p"),
        F.col("_n"),
        F.col("_np"),
        prec6.alias("_prec6"),
        F.struct(
            f16.alias("f"),
            F.col("_s").alias("t"),
            prec6.alias("p"),
            rec6.alias("r"),
        ).alias("_cand"),
    )
    cells = (scored.groupBy(*keys) if keys else scored.groupBy()).agg(
        F.max("_p").alias("n_pos"),
        F.max("_n").alias("n_neg"),
        F.coalesce(
            F.sum(
                (
                    F.col("_np").cast("decimal(18,0)")
                    * F.col("_prec6").cast("decimal(18,6)")
                ).cast("decimal(38,6)")
            ),
            F.lit(0).cast("decimal(38,6)"),
        ).alias("_ap_sum"),
        F.max("_cand").alias("_best"),
    )
    excl = per_group.groupBy(*keys).agg(
        F.coalesce(
            F.sum(F.when(~F.col("_ok"), F.col("_cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_excluded")
    )
    # the exclusion relation drives the join (the round-15 auc/
    # calibration fix's shape): a fully-excluded group has no cells
    # row but must still emit its n_excluded count
    out = (
        excl.join(cells, keys, "left")
        if keys
        else cells.crossJoin(F.broadcast(excl))
    )
    haspos = F.col("n_pos") > 0
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    return out.select(
        *out_grp,
        (
            F.coalesce(F.col("n_pos"), F.lit(0))
            + F.coalesce(F.col("n_neg"), F.lit(0))
        )
        .cast("long")
        .alias("n_samples"),
        "n_excluded",
        F.coalesce(F.col("n_pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.col("n_neg"), F.lit(0)).cast("long").alias("n_neg"),
        F.when(
            haspos,
            F.round(
                F.col("_ap_sum").cast("double")
                / F.col("n_pos").cast("double"),
                6,
            ),
        ).alias("ap6"),
        F.when(haspos, F.col("_best.f")).alias("best_f1_6"),
        F.when(haspos, F.col("_best.t")).alias("best_f1_threshold6"),
        F.when(haspos, F.col("_best.p")).alias("best_f1_precision6"),
        F.when(haspos, F.col("_best.r")).alias("best_f1_recall6"),
    )


def binary_scores_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str,
    score_col: str,
    label_col: str,
    score_decimals: int = 6,
) -> None:
    """One append cycle of the maintained binary-score store — the
    classifier-metrics face of :func:`qa_append_batch` /
    ``bleu_append_batch`` (the family rule: every corpus metric whose
    cells are additive gets a store).  The cells here are the
    per-ROUNDED-SCORE class counts ``(_ok, _s, _np, _nn, _cnt)`` —
    additive over disjoint item sets, and BOUNDED at ~1e6+1 rows per
    batch by the ROUND contract, so the store grows
    O(batches * distinct scores), never O(items).  ONE store serves
    both :func:`auc_from_store` and :func:`pr_from_store` (and any
    future threshold metric — the counts are the sufficient
    statistic).  Contract: item ids must not repeat across batches (a
    re-ingested item is counted again — the caller owns batch
    boundaries, the qa-store rule).  Replay: the :mod:`.storemaint`
    cell-store contract.

    The first append writes a one-row ``_meta`` manifest
    (score_decimals + the score/label column names) beside the cells
    (``_``-prefixed, so the cell reads never see it); every later
    append validates against it and REFUSES a mismatch — cells rounded
    at different decimals (or scored from different columns) would
    otherwise merge into one store silently, skewing every metric with
    no error (r15 advice; the IVF store's dim guard, applied here)."""
    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    meta_path = f"{state_dir}/_meta"
    try:
        meta = spark.read.parquet(meta_path).first()
    except AnalysisException:  # first batch: no store yet
        meta = None
    if meta is None:
        # r16 advisory: a LEGACY store (cells written before the _meta
        # guard existed) must not be retroactively blessed with this
        # call's arguments — that is exactly the silent-merge skew the
        # manifest exists to prevent.  Missing manifest + existing
        # cells => refuse with the backfill instruction.
        try:
            has_cells = bool(spark.read.parquet(state_dir).head(1))
        except AnalysisException:
            has_cells = False
        if has_cells:
            raise ValueError(
                f"binary_scores_append_batch: {state_dir} holds cells "
                "but no _meta manifest (a pre-manifest legacy store). "
                "Refusing to stamp it with this call's contract — "
                "verify the existing cells' score_decimals/score_col/"
                "label_col and backfill the manifest explicitly: "
                "spark.createDataFrame([(decimals, score_col, "
                "label_col)], 'score_decimals int, score_col string, "
                f"label_col string').write.parquet('{state_dir}/_meta')"
            )
        spark.createDataFrame(
            [(int(score_decimals), score_col, label_col)],
            "score_decimals int, score_col string, label_col string",
        ).write.mode("overwrite").parquet(meta_path)
    elif (
        int(meta["score_decimals"]) != int(score_decimals)
        or meta["score_col"] != score_col
        or meta["label_col"] != label_col
    ):
        raise ValueError(
            "binary_scores_append_batch: batch contract "
            f"(score_decimals={score_decimals}, score_col={score_col!r}, "
            f"label_col={label_col!r}) != store manifest "
            f"(score_decimals={meta['score_decimals']}, "
            f"score_col={meta['score_col']!r}, "
            f"label_col={meta['label_col']!r}) at {state_dir} — cells "
            "rounded or scored differently cannot merge"
        )
    # pin=False: the parquet write is this relation's ONLY consumer,
    # so the shared-branch checkpoint would just double-materialize
    _, _, per_group = _binary_score_groups(
        batch_df, score_col, label_col, None, score_decimals, pin=False
    )
    append_cells(
        per_group.select("_ok", "_s", "_np", "_nn", "_cnt"), state_dir, batch_id
    )


#: the binary-score store's cell keys: the ``(_ok, _s, _np, _nn, _cnt)``
#: relation the one-shot reports build from raw rows, summed per key
_BINARY_KEYS = ("_ok", "_s")


def auc_from_store(spark, state_dir: str) -> DataFrame:
    """ROC AUC over EVERYTHING the store has seen — equals
    :func:`auc_report` over the concatenation of all appended batches
    BIT FOR BIT (additive bounded cells + the shared
    :func:`_auc_from_groups` finisher; asserted by
    ``tests/test_evalmetrics.py``)."""
    cells = read_cells(spark, state_dir, _BINARY_KEYS)
    return _auc_from_groups(False, [], sum_cells(cells, _BINARY_KEYS), None)


def pr_from_store(spark, state_dir: str) -> DataFrame:
    """Average precision + best-F1 over everything the store has seen
    — equals :func:`pr_report` over the concatenation bit for bit
    (the same store serves AUC and PR: the per-score class counts are
    the sufficient statistic for every threshold metric)."""
    cells = read_cells(spark, state_dir, _BINARY_KEYS)
    return _pr_from_groups(False, [], sum_cells(cells, _BINARY_KEYS), None)


def brier_report(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    score_decimals: int = 6,
) -> DataFrame:
    """Proper-scoring-rules report — Brier score AND log loss, the
    two standard strictly-proper rules for probabilistic binary
    classifiers, completing the score-quality family: AUC prices
    RANKING, AP prices early precision, ECE prices calibration in
    bins, while Brier/log-loss price the PROBABILITIES themselves
    (a model that ranks perfectly but says 0.51 for everything has
    great AUC and terrible log loss — the number a distillation or
    reward-model pipeline actually trains against).  One row (or one
    per ``group_col``)::

        (n_samples, n_excluded, n_pos, n_neg, brier6, logloss6)

    Definitions over the SAME pinned (rounded score -> class counts)
    relation as :func:`auc_report`/:func:`pr_report` (the per-score
    class counts are the sufficient statistic for any pointwise score
    functional)::

        brier   = (1/n) * sum_cells [np*(1-s)^2 + nn*s^2]
        logloss = (1/n) * sum_cells [np*r(s) + nn*r(1-s)],
                  r(x) = round(-ln(clip(x)), 6),
                  clip to [10^-score_decimals, 1 - 10^-score_decimals]

    A Brier/log-loss score is only meaningful for PROBABILITIES:
    valid rows whose score falls outside [0, 1] are EXCLUDED AND
    COUNTED alongside the NULL rows (the calibration operator's
    out-of-range rule), and the clip keeps a hard 0/1 probability
    from producing an infinite log loss (stated: sklearn's eps-clip
    convention, at the rounding grid's own resolution).

    Exactness: ``s`` is exact at ``score_decimals`` decimals, so
    ``(1-s)^2`` is an EXACT DECIMAL (scale ``2*score_decimals``) and
    the Brier numerator is one exact DECIMAL(38,*) sum over integer
    cell counts — no float aggregation anywhere; the log terms are
    transcendental, so they ROUND at 6 per distinct score (the
    registry's libm rule) and ride the same exact integer-weighted
    decimal sum.  The single float step per metric is the final
    division by ``n``, ROUNDed at 6.  ``brier6``/``logloss6`` are
    NULL when no graded rows remain; a fully-excluded slice still
    emits its row.

    100 TB shape: the ONE corpus-sized exchange is the shared pinned
    aggregation; both folds run over the bounded (<= ~1e6+1 rows per
    slice) relation.  Zero Python.  NOT a pure plan constructor (the
    shared pin — see :func:`pr_report`).
    """
    grouped, keys, per_group = _binary_score_groups(
        df, score_col, label_col, group_col, score_decimals
    )
    return _brier_from_groups(
        grouped, keys, per_group, group_col, score_decimals
    )


def _brier_from_groups(
    grouped: bool,
    keys: list[str],
    per_group: DataFrame,
    group_col,
    score_decimals: int = 6,
) -> DataFrame:
    """The Brier/log-loss finisher over a ``(_ok, _s, _np, _nn,
    _cnt)`` relation — shared VERBATIM between :func:`brier_report`
    and :func:`brier_from_store` (the family regime)."""
    sd = int(score_decimals)
    in_range = F.col("_ok") & (F.col("_s") >= 0.0) & (F.col("_s") <= 1.0)
    eps = 10.0 ** (-sd)
    s_dec = F.col("_s").cast(f"decimal({2 + sd},{sd})")
    one_m = (F.lit(1).cast(f"decimal({2 + sd},{sd})") - s_dec)
    npd = F.col("_np").cast("decimal(12,0)")
    nnd = F.col("_nn").cast("decimal(12,0)")
    brier_cell = npd * (one_m * one_m) + nnd * (s_dec * s_dec)
    clip = F.greatest(
        F.least(F.col("_s"), F.lit(1.0 - eps)), F.lit(eps)
    )
    r_pos = F.round(-F.log(clip), 6).cast("decimal(18,6)")
    r_neg = F.round(-F.log(F.lit(1.0) - clip), 6).cast("decimal(18,6)")
    ll_cell = npd * r_pos + nnd * r_neg
    cells = (per_group.groupBy(*keys) if keys else per_group.groupBy()).agg(
        F.coalesce(
            F.sum(F.when(in_range, F.col("_np"))), F.lit(0)
        )
        .cast("long")
        .alias("n_pos"),
        F.coalesce(
            F.sum(F.when(in_range, F.col("_nn"))), F.lit(0)
        )
        .cast("long")
        .alias("n_neg"),
        F.coalesce(
            F.sum(
                F.when(~F.col("_ok"), F.col("_cnt")).when(
                    ~in_range, F.col("_np") + F.col("_nn")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_excluded"),
        F.coalesce(
            F.sum(F.when(in_range, brier_cell.cast(f"decimal(38,{2 * sd})"))),
            F.lit(0),
        )
        .cast(f"decimal(38,{2 * sd})")
        .alias("_bsum"),
        F.coalesce(
            F.sum(F.when(in_range, ll_cell.cast("decimal(38,6)"))),
            F.lit(0),
        )
        .cast("decimal(38,6)")
        .alias("_llsum"),
    )
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    n = (F.col("n_pos") + F.col("n_neg")).cast("long")
    has = n > 0
    return cells.select(
        *out_grp,
        n.alias("n_samples"),
        "n_excluded",
        "n_pos",
        "n_neg",
        F.when(
            has,
            F.round(
                F.col("_bsum").cast("double") / n.cast("double"), 6
            ),
        ).alias("brier6"),
        F.when(
            has,
            F.round(
                F.col("_llsum").cast("double") / n.cast("double"), 6
            ),
        ).alias("logloss6"),
    )


def brier_from_store(spark, state_dir: str) -> DataFrame:
    """Brier + log loss over everything the store has seen — equals
    :func:`brier_report` over the concatenation bit for bit (the SAME
    binary-score store now serves AUC, PR and the proper scoring
    rules: the per-rounded-score class counts are the sufficient
    statistic for every pointwise score functional).  The store's
    ``_meta`` score_decimals is honored for the Brier decimal scale
    and the log-loss clip.  A legacy store without a manifest gets a
    clear refusal (with the backfill instruction) instead of a raw
    AnalysisException (r16 advisory)."""
    from pyspark.errors import AnalysisException

    try:
        meta = spark.read.parquet(f"{state_dir}/_meta").first()
    except AnalysisException:
        raise ValueError(
            f"brier_from_store: {state_dir} has no _meta manifest (a "
            "pre-manifest legacy store, or not a binary-score store). "
            "Brier/log-loss need the store's score_decimals — verify "
            "the cells' rounding and backfill _meta as documented in "
            "binary_scores_append_batch, then retry"
        ) from None
    cells = read_cells(spark, state_dir, _BINARY_KEYS)
    return _brier_from_groups(
        False,
        [],
        sum_cells(cells, _BINARY_KEYS),
        None,
        int(meta["score_decimals"]),
    )


def _calibration_groups(
    df: DataFrame,
    conf_col: str,
    correct_col: str,
    n_bins: int,
    group_col: str | None,
) -> DataFrame:
    """ONE aggregation feeding both the reliability bins and the
    exclusion count: rows with a NULL/out-of-[0,1] confidence or a
    NULL correctness flag land in a NULL-``bin`` group per slice (one
    corpus scan, one exchange — the bins/report consumers filter the
    same grouped relation and share the exchange, ReusedExchange by
    construction instead of the two-scan shape the first draft had).
    Returns ``([_grp,] bin, n, n_correct, _conf_sum)`` with ``bin``
    NULL exactly for the excluded group."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    grouped = group_col is not None
    grp_sel = (
        [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    )
    keys = ["_grp"] if grouped else []
    conf = F.col(conf_col).cast("double")
    ok = (
        conf.isNotNull()
        & (conf >= 0.0)
        & (conf <= 1.0)
        & F.col(correct_col).isNotNull()
    )
    base = df.select(
        *grp_sel,
        F.when(
            ok,
            F.least(
                F.floor(conf * F.lit(int(n_bins))).cast("int"),
                F.lit(int(n_bins) - 1),
            ),
        ).alias("bin"),
        F.when(ok, F.round(conf, 6).cast("decimal(18,6)")).alias("_c6"),
        F.when(ok, F.col(correct_col).cast("int")).alias("_y"),
    )
    return base.groupBy(*keys, "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("_y"), F.lit(0)).cast("long").alias("n_correct"),
        F.coalesce(F.sum("_c6"), F.lit(0).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("_conf_sum"),
    )


def calibration_bins(
    df: DataFrame,
    id_col: str,
    conf_col: str,
    correct_col: str,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Reliability-diagram bins — the per-bin relation under
    :func:`calibration_report`: equal-width confidence bins over
    [0, 1], one row per NON-EMPTY bin (and per group)::

        ([group,] bin, n, n_correct, accuracy6, avg_conf6, gap6)

    ``bin = min(floor(conf * n_bins), n_bins - 1)`` (the 1.0 edge
    belongs to the last bin); ``gap6 = round(|accuracy - avg_conf|,
    6)``.  Rows with NULL or out-of-[0,1] confidence, or a NULL
    correctness flag, are EXCLUDED here and COUNTED by the report.
    Per-bin confidence sums ride row-level ROUND 6 values through
    exact DECIMAL(18,6) (the registry recipe).
    """
    groups = _calibration_groups(
        df, conf_col, correct_col, n_bins, group_col
    )
    return _bins_from_groups(groups, group_col)


def _bins_from_groups(
    groups: DataFrame, group_col: str | None, _keep_key: bool = False
) -> DataFrame:
    """Finish reliability bins from a (possibly pinned)
    :func:`_calibration_groups` relation — shared by
    :func:`calibration_bins` and :func:`calibration_report` so the
    report can derive bins and the exclusion count from ONE pinned
    relation instead of re-deriving the corpus aggregation.
    ``_keep_key=True`` emits the raw non-null ``_grp`` join key
    instead of the decoded user-facing value (the report joins on it;
    decoding first would reopen the NULL-group join hole)."""
    agg = groups.where(F.col("bin").isNotNull())
    grouped = group_col is not None
    acc = F.round(
        F.col("n_correct").cast("double") / F.col("n").cast("double"), 6
    )
    avg_c = F.round(
        F.col("_conf_sum").cast("double") / F.col("n").cast("double"), 6
    )
    if grouped:
        out_grp = (
            [F.col("_grp")]
            if _keep_key
            else [_grp_val(F.col("_grp")).alias(group_col)]
        )
    else:
        out_grp = []
    return agg.select(
        *out_grp,
        "bin",
        "n",
        "n_correct",
        acc.alias("accuracy6"),
        avg_c.alias("avg_conf6"),
        F.round(F.abs(acc - avg_c), 6).alias("gap6"),
    )


def calibration_report(
    df: DataFrame,
    id_col: str,
    conf_col: str,
    correct_col: str,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Expected / maximum calibration error (Naeini et al. 2015 ECE;
    Guo et al. 2017's evaluation form) — does the model's stated
    confidence MEAN anything?  The eval-family member every LLM
    leaderboard quotes beside accuracy.  One row (or one per
    ``group_col``)::

        (n_samples, n_excluded, n_bins, n_bins_nonempty, accuracy6,
         avg_conf6, ece6, mce6)

    ``ece6 = round(sum_b n_b * gap_b / N, 6)`` over the
    :func:`calibration_bins` relation, with each per-bin gap ROUNDED
    at 6 first and the weighted sum carried as exact DECIMAL — so the
    bin-summation order can never change a bit; ``mce6`` is the max
    gap (order-proof by construction).  NULL / out-of-[0,1]
    confidences and NULL correctness flags are EXCLUDED AND COUNTED.

    100 TB shape: one map-side-combinable groupBy to ``n_bins`` rows
    per group, then arithmetic over that bounded relation — no
    window, no Python, nothing corpus-sized past the first exchange.

    NOT a pure plan constructor: the bounded per-bin relation is
    pinned via ``localCheckpoint(eager=True)`` (a Spark job runs at
    CALL time; lineage truncates to executor-local blocks, so
    executor loss under preemption/dynamic allocation is
    unrecoverable downstream — swap in reliable ``checkpoint()``
    when that matters).
    """
    grouped = group_col is not None
    keys = ["_grp"] if grouped else []
    # ONE corpus aggregation, pinned (it is <= (n_bins + 1) rows per
    # slice), feeding BOTH the bins and the exclusion count — without
    # the pin the two branches re-derive the corpus scan (the
    # NULL-bin filter pushes through the aggregate and breaks
    # exchange reuse, the auc_report finding).
    groups = _calibration_groups(
        df, conf_col, correct_col, n_bins, group_col
    ).localCheckpoint(eager=True)
    # join on the raw non-null _grp key; decode only at the output
    bins = _bins_from_groups(groups, group_col, _keep_key=True)
    cells = (bins.groupBy(*keys) if keys else bins.groupBy()).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_samples"),
        F.count(F.lit(1)).cast("int").alias("n_bins_nonempty"),
        F.coalesce(F.sum("n_correct"), F.lit(0))
        .cast("long")
        .alias("_correct"),
        F.coalesce(
            F.sum(
                F.col("avg_conf6").cast("decimal(18,6)")
                * F.col("n").cast("decimal(18,0)")
            ),
            F.lit(0),
        )
        .cast("decimal(28,6)")
        .alias("_conf_wsum"),
        F.coalesce(
            F.sum(
                F.col("gap6").cast("decimal(18,6)")
                * F.col("n").cast("decimal(18,0)")
            ),
            F.lit(0),
        )
        .cast("decimal(28,6)")
        .alias("_gap_wsum"),
        F.max("gap6").alias("mce6"),
    )
    excl = (
        groups
        .groupBy(*(["_grp"] if grouped else []))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("bin").isNull(), F.col("n"))), F.lit(0)
            )
            .cast("long")
            .alias("n_excluded")
        )
    )
    if grouped:
        # excl drives the join: bins drops the NULL (excluded) bin, so
        # a fully-excluded group has no cells row — an inner join
        # would silently drop its n_excluded row (the auc_report
        # hole).  Left-join from excl on the raw NON-NULL _grp key
        # (the encoded form — a NULL group value would never match a
        # name-equality join); counts coalesce to 0 and the rate
        # columns stay NULL (undefined over zero samples).
        joined = excl.join(cells, keys, "left")
    else:
        joined = cells.crossJoin(F.broadcast(excl))
    nz = F.coalesce(F.col("n_samples"), F.lit(0)) > 0
    out_grp = (
        [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    )
    return joined.select(
        *out_grp,
        F.coalesce(F.col("n_samples"), F.lit(0))
        .cast("long")
        .alias("n_samples"),
        "n_excluded",
        F.lit(int(n_bins)).cast("int").alias("n_bins"),
        F.coalesce(F.col("n_bins_nonempty"), F.lit(0))
        .cast("int")
        .alias("n_bins_nonempty"),
        F.when(
            nz,
            F.round(
                F.col("_correct").cast("double")
                / F.col("n_samples").cast("double"),
                6,
            ),
        ).alias("accuracy6"),
        F.when(
            nz,
            F.round(
                F.col("_conf_wsum").cast("double")
                / F.col("n_samples").cast("double"),
                6,
            ),
        ).alias("avg_conf6"),
        F.when(
            nz,
            F.round(
                F.col("_gap_wsum").cast("double")
                / F.col("n_samples").cast("double"),
                6,
            ),
        ).alias("ece6"),
        "mce6",
    )


def qa_paired_bootstrap(
    df: DataFrame,
    qid_col: str,
    pred_a_col: str,
    pred_b_col: str,
    gold_col: str,
    n_boot: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Paired bootstrap significance for extractive QA — the
    :func:`bleu_paired_bootstrap` harness on the reading-comprehension
    metric, completing QA's form matrix (one-shot / by-system / store
    / bootstrap).  Two systems' predictions over the SAME questions
    and gold alternatives (one row per (question, gold alternative)
    with both predictions repeated — the paired SQuAD shape); QUESTIONS
    are resampled with the shared deterministic Poisson(1) md5/ppm
    weights, and because EM and F1 can disagree about significance (a
    bag-of-tokens-preserving system loses EM while holding F1), the
    result is one row PER METRIC::

        (metric, n_questions, n_boot, score_a6, score_b6, delta6,
         delta_lo6, delta_hi6, n_delta_pos, n_delta_neg, p_a_better6)

    with ``metric`` in ``('em', 'f1')``.  Per-replicate scores are
    weighted means of the PER-QUESTION grades: the EM numerator is an
    exact integer sum (w * em), the F1 numerator an exact
    DECIMAL(18,6) sum of (w * f1_6), each over the replicate weight
    total — rounded at 6, so the whole experiment is a deterministic
    function of (data, seed) like every bootstrap in the family.
    Verified pytest-by-design against a shared-nothing driver
    reference (the established convention — the five oracle-faced
    bootstraps carry both harness shapes: cell-weighted BLEU/chrF/
    WER/ROUGE and per-item-weighted nDCG, which this instantiates).

    100 TB shape: the expensive part is the grading pass
    (:func:`_qa_em_f1_paired` — ONE shared rows projection / dedupe /
    gold-count explode for both sides, answer-token-sized exchanges);
    the resample explodes O(questions * n_boot) SCALAR grade rows —
    two integers and one decimal each, never text.
    """
    from .fanout import spread

    # both sides graded in ONE shared pass (rows projection, dedupe,
    # gold counts computed once — see _qa_em_f1_paired); the previous
    # shape ran the full qa_em_f1 pipeline per side and joined on the
    # question id
    j = _qa_em_f1_paired(df, qid_col, pred_a_col, pred_b_col, gold_col)
    # the full EM/F1 means are the b = -1 pseudo-replicate's exact
    # integer/DECIMAL sums at weight 1, so no second grading pass.
    # spread() pins the n_boot explode wide (fanout.spread).
    reps, w = _boot_replicates(spread(j), n_boot, seed, "CAST(_qid AS STRING)")
    weighted = reps.select(
        F.col("b"),
        w.alias("_w"),
        (w * F.col("_em_a")).cast("long").alias("_wea"),
        (w * F.col("_em_b")).cast("long").alias("_web"),
        (F.col("_f1_a").cast("decimal(18,6)") * w).alias("_wfa"),
        (F.col("_f1_b").cast("decimal(18,6)") * w).alias("_wfb"),
    )
    per_b_scores = weighted.groupBy("b").agg(
        F.sum("_w").cast("long").alias("_n"),
        F.sum("_wea").cast("long").alias("_ea"),
        F.sum("_web").cast("long").alias("_eb"),
        F.sum("_wfa").cast("decimal(28,6)").alias("_fa"),
        F.sum("_wfb").cast("decimal(28,6)").alias("_fb"),
    )

    def rate(num):
        return F.when(
            F.col("_n") > 0,
            F.round(
                F.col(num).cast("double") / F.col("_n").cast("double"), 6
            ),
        )

    # explode BOTH metrics for every replicate INCLUDING the b = -1
    # full-sample row, so one per-metric summary serves replicates and
    # full scores alike.  At weight 1, _n is the paired question count
    # and the rate() expressions ARE qa_report's em_rate6/f1_mean6
    # finisher over the same exact sums.
    pb = per_b_scores.select(
        F.col("b"),
        F.col("_n"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("em").alias("metric"),
                    rate("_ea").alias("_sa"),
                    rate("_eb").alias("_sb"),
                ),
                F.struct(
                    F.lit("f1").alias("metric"),
                    rate("_fa").alias("_sa"),
                    rate("_fb").alias("_sb"),
                ),
            )
        ).alias("_m"),
    ).select(
        F.col("_m.metric").alias("metric"),
        "b",
        F.col("_m._sa").alias("_sa"),
        F.col("_m._sb").alias("_sb"),
        F.col("_n").alias("n_questions"),
    )
    return _paired_bootstrap_report(
        pb, n_boot, "score", full_counts=("n_questions",), keys=["metric"]
    )


def spearman_report(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
    group_col: str | None = None,
    score_decimals: int = 6,
) -> DataFrame:
    """Spearman rank correlation between two scoring systems — the
    META-EVALUATION member of the eval family: an eval harness that
    grades with an LLM judge has to know whether the judge CORRELATES
    with human scores (Spearman over per-item pairs is the standard
    meta-eval statistic), and a curation pipeline comparing two
    quality models asks the same question.  One row (or one per
    ``group_col``)::

        (n_samples, n_excluded, n_distinct_a, n_distinct_b, rho6)

    Average-rank tie handling, exact until the final combination:
    each side's ranks come from its DISTINCT ROUNDED SCORES as
    DOUBLED average ranks ``r2 = 2*below + n_v + 1`` (twice the
    average rank — an exact INTEGER even for ties), Pearson over the
    doubled ranks equals Pearson over the ranks (shift/scale
    invariance), and the five sufficient sums (sum x, y, xy, x^2,
    y^2) are exact DECIMAL(38,0) integer sums — the one float step is
    the closed-form combination, a fixed expression tree over exact
    integers, identical in both engines, ROUNDed at 6.  ``rho6`` is
    NULL when either side is constant (zero variance — undefined).
    Rows with a NULL on either side are EXCLUDED AND COUNTED.

    100 TB shape: TWO corpus scans and nothing corpus-sized ever
    pins.  Scan 1 is one exploded (side, value) aggregation whose
    output is <= 2 * (10^score_decimals + 1) narrow rows by the
    ROUND contract — THAT bounded relation is pinned and both rank
    tables derive from it (one bounded window each).  Scan 2
    broadcast-joins every row to the two bounded rank tables and
    folds the five sums plus the exclusion count in a single
    aggregation.  (A one-scan variant pinning the grouped (a, b)
    PAIR relation was rejected: distinct pairs are bounded only for
    gridded scores and degenerate to corpus size for independent
    6-decimal scores — this design's pin is bounded unconditionally.)
    Zero Python.

    NOT a pure plan constructor: the pin is
    ``localCheckpoint(eager=True)`` — a Spark job runs at CALL time
    and lineage truncates to executor-local blocks (executor loss
    under preemption/dynamic allocation is unrecoverable downstream;
    use reliable ``checkpoint()`` when that matters).
    """
    grouped = group_col is not None
    grp_sel = (
        [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    )
    keys = ["_grp"] if grouped else []
    ok = F.col(score_a_col).isNotNull() & F.col(score_b_col).isNotNull()
    base = df.select(
        *grp_sel,
        ok.alias("_ok"),
        F.when(
            ok, F.round(F.col(score_a_col).cast("double"), score_decimals)
        ).alias("_a"),
        F.when(
            ok, F.round(F.col(score_b_col).cast("double"), score_decimals)
        ).alias("_b"),
    )
    # scan 1: per-(side, value) counts in ONE exchange; pinned —
    # bounded unconditionally by the round contract
    vals = (
        base.where(F.col("_ok"))
        .select(
            *keys,
            F.explode(
                F.array(
                    F.struct(F.lit("a").alias("s"), F.col("_a").alias("v")),
                    F.struct(F.lit("b").alias("s"), F.col("_b").alias("v")),
                )
            ).alias("_sv"),
        )
        .select(*keys, F.col("_sv.s").alias("_side"), F.col("_sv.v").alias("_v"))
        .groupBy(*keys, "_side", "_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_nv"))
        .localCheckpoint(eager=True)
    )

    def rank2(side, out_v, out_r):
        per_v = vals.where(F.col("_side") == side)
        w = (
            Window.partitionBy(*keys).orderBy("_v")
            if grouped
            else Window.orderBy("_v")
        ).rowsBetween(Window.unboundedPreceding, -1)
        return per_v.select(
            *keys,
            F.col("_v").alias(out_v),
            (
                F.lit(2)
                * F.coalesce(F.sum("_nv").over(w), F.lit(0)).cast("long")
                + F.col("_nv")
                + F.lit(1)
            ).alias(out_r),
        )

    ra = rank2("a", "_a", "_x")
    rb = rank2("b", "_b", "_y")
    # scan 2: one pass over the rows, broadcast-joined to the bounded
    # rank tables; the excluded rows ride the same pass (left joins —
    # their NULL scores match nothing) into the same aggregation
    joined = base.join(F.broadcast(ra), keys + ["_a"], "left").join(
        F.broadcast(rb), keys + ["_b"], "left"
    )

    # the cast rides the SUMMAND (the repo convention — qa_em_f1's
    # f1_sum, the bootstrap weight sums), not the aggregate: doubled
    # ranks scale with the ROW count (mean doubled rank is exactly
    # n+1), so long-typed products would overflow int64 inside the
    # sum at ~1.3e6 valid rows (sum x*y ~ 4n^3) — ARITHMETIC_OVERFLOW
    # under ANSI, silent wrap otherwise.  decimal(19,0) operands keep
    # every product exact and the decimal(38,0) accumulation holds
    # past 10^11 rows (4n^3 < 10^38); regression-pinned by
    # tests/test_evalmetrics.py::test_spearman_sums_exact_past_int64.
    def dsum(expr, name):
        return (
            F.coalesce(
                F.sum(F.when(F.col("_ok"), expr.cast("decimal(38,0)"))),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias(name)
        )

    x = F.col("_x").cast("decimal(19,0)")
    y = F.col("_y").cast("decimal(19,0)")
    cells = (joined.groupBy(*keys) if keys else joined.groupBy()).agg(
        F.coalesce(F.sum(F.when(F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_samples"),
        F.coalesce(F.sum(F.when(~F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_excluded"),
        dsum(x, "_sx"),
        dsum(y, "_sy"),
        dsum(x * y, "_sxy"),
        dsum(x * x, "_sxx"),
        dsum(y * y, "_syy"),
    )
    nd = (vals.groupBy(*keys) if keys else vals.groupBy()).agg(
        F.sum(F.when(F.col("_side") == "a", 1).otherwise(0))
        .cast("long")
        .alias("n_distinct_a"),
        F.sum(F.when(F.col("_side") == "b", 1).otherwise(0))
        .cast("long")
        .alias("n_distinct_b"),
    )
    if keys:
        out = cells.join(nd, keys, "left")
    else:
        out = cells.crossJoin(F.broadcast(nd))
    nn = F.col("n_samples").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    var_x = nn * sxx - sx * sx
    var_y = nn * syy - sy * sy
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    return out.select(
        *out_grp,
        "n_samples",
        "n_excluded",
        F.coalesce("n_distinct_a", F.lit(0)).cast("long").alias(
            "n_distinct_a"
        ),
        F.coalesce("n_distinct_b", F.lit(0)).cast("long").alias(
            "n_distinct_b"
        ),
        F.when(
            (var_x > 0) & (var_y > 0),
            F.round(
                (nn * sxy - sx * sy) / F.sqrt(var_x * var_y), 6
            ),
        ).alias("rho6"),
    )


def kendall_report(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
    group_col: str | None = None,
    score_decimals: int = 6,
    max_cells: int = 8192,
) -> DataFrame:
    """Kendall's tau-b between two scoring systems — the SECOND
    standard judge-validation statistic beside
    :func:`spearman_report` (r15 verdict item 8): Spearman prices
    rank DISTANCE, tau-b prices pairwise ORDER AGREEMENT with the
    tie-correct denominator, and meta-evaluation papers report both.
    One row (or one per ``group_col``)::

        (n_samples, n_excluded, n_distinct_a, n_distinct_b, n_cells,
         n_concordant, n_discordant, tau_b6)

    Exact integer formulation over the JOINT distinct-rounded-score
    relation: group valid rows by ``(a, b)`` into cells; concordant/
    discordant pair counts are one self-join over cells with
    ``a1 < a2`` (each unordered pair once; equal-``a`` pairs are ties,
    never C/D), products and sums carried as DECIMAL(38,0).  The tie
    correction needs no pair terms at all: with ``t_v`` the marginal
    count at value ``v`` and ``n`` the valid rows,
    ``n0 - n1 = (n^2 - sum t_a^2) / 2`` (same for b), so

        tau_b = 2 * (C - D) / sqrt((n^2 - sum_ta^2) * (n^2 - sum_tb^2))

    — every operand an exact integer, ONE float step (the division +
    sqrt), ROUNDed at 6.  NULL when either side is constant.  Rows
    with a NULL on either side are EXCLUDED AND COUNTED; a fully
    excluded slice still emits its row.

    THE STATED BOUND (the honest difference from Spearman, whose pin
    is bounded unconditionally): the joint-cell relation is bounded
    only for GRIDDED scores — the statistic's actual use case (judge
    grades, Likert scales, star ratings); for continuous 6-decimal
    scores it degenerates toward corpus size and the C/D self-join
    toward O(n^2).  The operator REFUSES that regime: after the cell
    aggregation it checks cells-per-slice against ``max_cells``
    (default 8192 -> <= ~33M cell-pair comparisons per slice) and
    raises with advice (coarsen ``score_decimals`` or raise the knob)
    BEFORE constructing the quadratic join.

    100 TB shape: one corpus-sized exchange (the joint-cell
    aggregation, map-side combinable) plus the exclusion scan riding
    the same base; everything after — the guarded O(cells^2)
    broadcast join, two marginal aggs, the final fold — runs over the
    bounded pinned relation.  Zero Python.

    NOT a pure plan constructor: the cell relation is
    ``localCheckpoint(eager=True)`` (shared by four consumers) and
    the ``max_cells`` guard runs AT CALL TIME — a Spark job executes
    before this function returns.
    """
    grouped = group_col is not None
    grp_sel = [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    keys = ["_grp"] if grouped else []
    ok = F.col(score_a_col).isNotNull() & F.col(score_b_col).isNotNull()
    base = df.select(
        *grp_sel,
        ok.alias("_ok"),
        F.when(
            ok, F.round(F.col(score_a_col).cast("double"), score_decimals)
        ).alias("_a"),
        F.when(
            ok, F.round(F.col(score_b_col).cast("double"), score_decimals)
        ).alias("_b"),
    )
    cells = (
        base.where(F.col("_ok"))
        .groupBy(*keys, "_a", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=True)
    )
    worst = (
        (cells.groupBy(*keys).count() if keys else cells.groupBy().count())
        .agg(F.max("count").alias("m"))
        .first()
    )
    n_cells_max = int(worst["m"]) if worst and worst["m"] is not None else 0
    if n_cells_max > max_cells:
        raise ValueError(
            f"kendall_report: {n_cells_max} joint distinct (a, b) cells "
            f"in one slice exceeds max_cells={max_cells} — the C/D "
            "self-join is O(cells^2) and tau-b is meant for GRIDDED "
            "scores (judge grades, ratings).  Coarsen score_decimals "
            "or raise max_cells if the quadratic cost is intended."
        )
    counts = (base.groupBy(*keys) if keys else base.groupBy()).agg(
        F.coalesce(F.sum(F.when(F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_samples"),
        F.coalesce(F.sum(F.when(~F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_excluded"),
    )
    ca = cells.select(
        *keys,
        F.col("_a").alias("_a1"),
        F.col("_b").alias("_b1"),
        F.col("_c").cast("decimal(19,0)").alias("_c1"),
    )
    cb = cells.select(
        *[F.col(k).alias(f"{k}2") for k in keys],
        F.col("_a").alias("_a2"),
        F.col("_b").alias("_b2"),
        F.col("_c").cast("decimal(19,0)").alias("_c2"),
    )
    # ungrouped: no equi key, the nested-loop join needs the (guarded,
    # bounded) broadcast.  Grouped: the slice key IS an equi key — a
    # hash join on _grp scales to any number of slices, where a
    # broadcast of slices x max_cells rows would not.
    if keys:
        cond = (F.col("_grp") == F.col("_grp2")) & (
            F.col("_a1") < F.col("_a2")
        )
        joined_pairs_src = (ca, cb)
    else:
        cond = F.col("_a1") < F.col("_a2")
        joined_pairs_src = (ca, F.broadcast(cb))
    prod = (F.col("_c1") * F.col("_c2")).cast("decimal(38,0)")
    pair_aggs = [
        F.coalesce(
            F.sum(F.when(F.col("_b1") < F.col("_b2"), prod)), F.lit(0)
        )
        .cast("decimal(38,0)")
        .alias("_C"),
        F.coalesce(
            F.sum(F.when(F.col("_b1") > F.col("_b2"), prod)), F.lit(0)
        )
        .cast("decimal(38,0)")
        .alias("_D"),
    ]
    joined_pairs = joined_pairs_src[0].join(joined_pairs_src[1], cond)
    pairs = (
        joined_pairs.groupBy(*keys).agg(*pair_aggs)
        if keys
        else joined_pairs.agg(*pair_aggs)
    )

    def marginal(col, nd_name, st_name):
        t = cells.groupBy(*keys, col).agg(
            F.sum("_c").cast("decimal(19,0)").alias("_t")
        )
        return (t.groupBy(*keys) if keys else t.groupBy()).agg(
            F.count(F.lit(1)).cast("long").alias(nd_name),
            F.sum((F.col("_t") * F.col("_t")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(st_name),
        )

    ma = marginal("_a", "n_distinct_a", "_sta2")
    mb = marginal("_b", "n_distinct_b", "_stb2")
    ncells = (
        cells.groupBy(*keys).count() if keys else cells.groupBy().count()
    ).withColumnRenamed("count", "n_cells")
    if keys:
        out = (
            counts.join(ma, keys, "left")
            .join(mb, keys, "left")
            .join(ncells, keys, "left")
            .join(pairs, keys, "left")
        )
    else:
        out = (
            counts.crossJoin(F.broadcast(ma))
            .crossJoin(F.broadcast(mb))
            .crossJoin(F.broadcast(ncells))
            .crossJoin(F.broadcast(pairs))
        )
    n2 = (
        F.col("n_samples").cast("decimal(19,0)")
        * F.col("n_samples").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    da = (n2 - F.col("_sta2")).cast("double")
    db = (n2 - F.col("_stb2")).cast("double")
    cd = (F.col("_C") - F.col("_D")).cast("double")
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    zero = F.lit(0).cast("long")
    return out.select(
        *out_grp,
        "n_samples",
        "n_excluded",
        F.coalesce("n_distinct_a", zero).cast("long").alias("n_distinct_a"),
        F.coalesce("n_distinct_b", zero).cast("long").alias("n_distinct_b"),
        F.coalesce("n_cells", zero).cast("long").alias("n_cells"),
        # diagnostics exact as BIGINT; past ~4.3e9 valid rows/slice the
        # pair counts exceed int64 and this cast aborts LOUDLY under
        # ANSI (tau_b6 itself rides DECIMAL(38,0), good past 10^18)
        F.coalesce(F.col("_C").cast("long"), zero).alias("n_concordant"),
        F.coalesce(F.col("_D").cast("long"), zero).alias("n_discordant"),
        F.when(
            (da > 0) & (db > 0),
            F.round(F.lit(2.0) * cd / F.sqrt(da * db), 6),
        ).alias("tau_b6"),
    )



def pass_at_k(
    df: DataFrame,
    task_col: str,
    correct_col: str,
    ks: tuple[int, ...] = (1, 5, 10),
    group_col: str | None = None,
) -> DataFrame:
    """pass@k — the standard functional-correctness estimator for
    code/reasoning model evaluation (Chen et al. 2021, the HumanEval
    convention): each task has ``n`` sampled attempts of which ``c``
    passed, and the UNBIASED estimator of "at least one of k random
    samples passes" is ``1 - C(n-c, k) / C(n, k)``, averaged over
    tasks.  The naive ``1 - (1 - c/n)^k`` is biased high; this is the
    combinatorial form every published eval harness uses.  One row
    per requested ``k``::

        (k, n_tasks, n_tasks_excluded, n_rows_dropped, pass_at_k6)

    Per task the ratio is computed as the FIXED-ORDER product
    ``prod_{i=0}^{k-1} (n-c-i)/(n-i)`` — mathematically identical to
    the binomial form but free of the factorial overflow that caps
    exact-integer approaches at n ~ 128 (C(200,100) overflows
    DECIMAL(38)), and, being a left fold of correctly-rounded IEEE
    ops, bit-identical across engines (the oracle replays it with
    DuckDB's ``list_reduce``; the ``c > n-k`` case hits a zero factor
    and yields exactly 1.0, the ``c = 0`` case an empty-win product
    of 1.0 and yields exactly 0.0).  The per-task value ROUNDs at 6
    and the corpus mean rides an exact DECIMAL(18,6) sum — partial
    aggregation order can never change a bit.

    Rows with a NULL task or verdict are EXCLUDED AND COUNTED in
    ``n_rows_dropped``; tasks with fewer than ``k`` samples cannot
    support the estimator and are EXCLUDED AND COUNTED per k in
    ``n_tasks_excluded`` (silently padding them would bias the mean);
    a ``k`` no task supports still emits its row with a NULL mean.
    ``correct_col`` is boolean-like (numeric nonzero = pass).

    ``group_col`` (the leaderboard form — pass@k PER MODEL is how the
    estimator is actually reported) emits one row per (group, k) with
    a leading group column; a task is scoped WITHIN its group (model
    A's and model B's samples for the same task are different
    attempt pools), each slice equals the ungrouped run over that
    slice alone (test-asserted, the family rule), and every requested
    k emits for every group observed IN THE INPUT — a slice whose
    rows are all NULL-verdict emits zero-task rows rather than
    vanishing (r16 advisory), matching what the ungrouped form does
    on an all-invalid input.  ``n_rows_dropped`` stays
    CORPUS-GLOBAL on every row (stated: a dropped row's group may
    itself be the NULL being dropped, so per-slice attribution would
    be partial anyway — the task-eligibility exclusions, which ARE
    attributable, are per slice).

    100 TB shape: ONE map-side-combinable per-(group, task)
    aggregation; the ks explode, the fold and the per-k means all run
    over the per-task relation (|tasks| x |ks| narrow rows).  The
    fold is a JVM higher-order expression — zero Python.
    """
    if not ks or any(int(k) < 1 for k in ks):
        raise ValueError(f"ks must be positive ints, got {ks!r}")
    ks = tuple(int(k) for k in dict.fromkeys(ks))
    grouped = group_col is not None
    grp_sel = (
        [_grp_key(F.col(group_col)).alias("_grp")] if grouped else []
    )
    keys = ["_grp"] if grouped else []
    valid = F.col(task_col).isNotNull() & F.col(correct_col).isNotNull()
    base = df.select(
        *grp_sel,
        valid.alias("_ok"),
        F.when(valid, F.col(task_col).cast("string")).alias("_task"),
        F.when(
            valid, F.col(correct_col).cast("boolean")
        ).alias("_pass"),
    )
    rows_dropped = base.agg(
        F.coalesce(F.sum(F.when(~F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("n_rows_dropped")
    )
    per_task = (
        base.where(F.col("_ok"))
        .groupBy(*keys, "_task")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.coalesce(F.sum(F.when(F.col("_pass"), 1)), F.lit(0))
            .cast("long")
            .alias("_c"),
        )
    )
    return _pass_at_k_finish(
        per_task,
        ks,
        rows_dropped,
        group_col,
        base.select("_grp") if grouped else None,
    )


def _pass_at_k_finish(
    per_task: DataFrame,
    ks: tuple[int, ...],
    rows_dropped: DataFrame,
    group_col: str | None,
    obs_groups: DataFrame | None,
) -> DataFrame:
    """The pass@k finisher over a per-task ``([_grp,] _task, _n, _c)``
    relation — shared VERBATIM between :func:`pass_at_k` (which builds
    it from raw attempt rows) and :func:`pass_at_k_from_store` (which
    builds it by summing the store's additive per-task cells), so
    streamed == one-shot is an expression-tree identity, the store
    family's rule.  ``obs_groups`` is the observed-groups frame for
    the grouped form (derived from the INPUT, invalid rows included —
    r16 advisory); ``rows_dropped`` one row ``(n_rows_dropped)``."""
    grouped = group_col is not None
    keys = ["_grp"] if grouped else []
    ks_df = per_task.sparkSession.createDataFrame(
        [(int(k),) for k in ks], "k int"
    )
    if grouped:
        # every requested k emits for every OBSERVED group — observed
        # in the INPUT, not just in the valid rows (r16 advisory: a
        # slice whose rows are all NULL-verdict must still emit its
        # zero-task rows rather than vanish; its group key is the
        # _grp_key encoding of the raw column, NULL group included)
        ks_df = obs_groups.distinct().crossJoin(F.broadcast(ks_df))
    exploded = per_task.select(
        *keys,
        "_n",
        "_c",
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"),
    )
    prod = F.aggregate(
        F.sequence(F.lit(0), F.col("k") - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (
            (F.col("_n") - F.col("_c") - i).cast("double")
            / (F.col("_n") - i).cast("double")
        ),
    )
    p6 = F.round(F.lit(1.0) - prod, 6).cast("decimal(18,6)")
    per_k = exploded.groupBy(*keys, "k").agg(
        F.coalesce(F.sum(F.when(F.col("_n") >= F.col("k"), 1)), F.lit(0))
        .cast("long")
        .alias("n_tasks"),
        F.coalesce(F.sum(F.when(F.col("_n") < F.col("k"), 1)), F.lit(0))
        .cast("long")
        .alias("n_tasks_excluded"),
        F.coalesce(
            F.sum(F.when(F.col("_n") >= F.col("k"), p6)),
            F.lit(0).cast("decimal(18,6)"),
        )
        .cast("decimal(38,6)")
        .alias("_psum"),
    )
    # the ks dimension drives the join: a k NO task supports (or an
    # empty corpus) still emits its row with a NULL mean
    out = ks_df.join(per_k, [*keys, "k"], "left").crossJoin(
        F.broadcast(rows_dropped)
    )
    n_tasks = F.coalesce(F.col("n_tasks"), F.lit(0)).cast("long")
    out_grp = [_grp_val(F.col("_grp")).alias(group_col)] if grouped else []
    return out.select(
        *out_grp,
        "k",
        n_tasks.alias("n_tasks"),
        F.coalesce(F.col("n_tasks_excluded"), F.lit(0))
        .cast("long")
        .alias("n_tasks_excluded"),
        "n_rows_dropped",
        F.when(
            n_tasks > 0,
            F.round(
                F.col("_psum").cast("double") / n_tasks.cast("double"), 6
            ),
        ).alias("pass_at_k6"),
    ).orderBy(*([group_col] if grouped else []), "k")


def pass_at_k_append_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    task_col: str,
    correct_col: str,
) -> None:
    """One append cycle of the maintained pass@k store (r16 verdict
    item 7) — the functional-correctness face of
    :func:`wer_append_batch` (the family rule: every corpus metric
    with additive cells gets a store).  The cells are per-task
    ``(n, c)`` attempt counts — additive over DISJOINT SAMPLE SETS,
    which inverts the usual store contract: tasks are EXPECTED to
    repeat across batches (today's 5 samples of task X merge with
    yesterday's 15 into one 20-sample pool — that IS the use case:
    sampling runs trickle in, the leaderboard stays current), while
    the SAMPLES themselves must not replay across batch ids (the
    caller owns batch boundaries).  Each batch writes one row per
    observed task plus one NULL-task row carrying the batch's
    ``n_rows_dropped`` (unambiguous: a valid task id is never NULL),
    so exclusions ride the store.  Replay: the :mod:`.storemaint`
    cell-store contract.  O(tasks-in-batch) rows per append; compact
    with :func:`~lightfusion_spark.operators.storemaint.
    compact_cell_store` when the file count warrants it."""
    valid = F.col(task_col).isNotNull() & F.col(correct_col).isNotNull()
    base = batch_df.select(
        valid.alias("_ok"),
        F.when(valid, F.col(task_col).cast("string")).alias("_task"),
        F.when(valid, F.col(correct_col).cast("boolean")).alias("_pass"),
    )
    per_task = (
        base.where(F.col("_ok"))
        .groupBy("_task")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.coalesce(F.sum(F.when(F.col("_pass"), 1)), F.lit(0))
            .cast("long")
            .alias("_c"),
        )
        .select("_task", "_n", "_c", F.lit(0).cast("long").alias("_dropped"))
    )
    dropped_row = base.agg(
        F.lit(None).cast("string").alias("_task"),
        F.lit(0).cast("long").alias("_n"),
        F.lit(0).cast("long").alias("_c"),
        F.coalesce(F.sum(F.when(~F.col("_ok"), 1)), F.lit(0))
        .cast("long")
        .alias("_dropped"),
    )
    append_cells(per_task.unionByName(dropped_row), state_dir, batch_id)


def pass_at_k_from_store(
    spark, state_dir: str, ks: tuple[int, ...] = (1, 5, 10)
) -> DataFrame:
    """pass@k over EVERYTHING the store has seen — equals
    :func:`pass_at_k` over the concatenation of all appended batches
    BIT FOR BIT (per-task ``(n, c)`` cells are additive over disjoint
    sample sets + the :func:`_pass_at_k_finish` finisher is shared
    verbatim; asserted by ``tests/test_evalmetrics.py``).  ``ks`` is a
    READ-time choice — the store holds attempt pools, not estimates,
    so yesterday's store answers today's new k."""
    if not ks or any(int(k) < 1 for k in ks):
        raise ValueError(f"ks must be positive ints, got {ks!r}")
    ks = tuple(int(k) for k in dict.fromkeys(ks))
    # attempt pools summed per task across batches; the NULL-task rows
    # carry the per-batch dropped counts
    cells = read_cells(spark, state_dir, ("_task",))
    task = F.col("_task")
    tasks = sum_cells(
        cells.where(task.isNotNull()).drop("_dropped"), ("_task",)
    )
    dropped = sum_cells(
        cells.where(task.isNull()).select(
            F.col("_dropped").alias("n_rows_dropped")
        )
    )
    return _pass_at_k_finish(tasks, ks, dropped, None, None)
