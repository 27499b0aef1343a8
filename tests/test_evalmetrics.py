"""operators/evalmetrics.py: corpus BLEU.

The registered face (pipe_eval_bleu) pins the DuckDB-replayable
arithmetic; these tests pin the metric semantics against an
independent driver-side implementation and the documented edge cases.
"""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from lightfusion_spark.operators.evalmetrics import corpus_bleu


def _reference_bleu(rows, max_n=4):
    """Independent driver-side corpus BLEU with the same rounding
    contract (micro-nat fold, ROUND 6)."""
    cands = [(r[1] or "").lower().split() for r in rows]
    refs = [(r[2] or "").lower().split() for r in rows]

    def grams(toks, n):
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    micro, any_zero, out = 0, False, {}
    for n in range(1, max_n + 1):
        m = t = 0
        for c, r in zip(cands, refs):
            cc, rc = Counter(grams(c, n)), Counter(grams(r, n))
            m += sum(min(v, rc[g]) for g, v in cc.items())
            t += sum(cc.values())
        out[f"matched_{n}"], out[f"total_{n}"] = m, t
        out[f"p_{n}"] = 0.0 if t == 0 else m / t
        if m == 0 or t == 0:
            any_zero = True
        else:
            micro += math.floor(round(math.log(m / t), 6) * 1e6 + 0.5)
    c_len = sum(map(len, cands))
    r_len = sum(map(len, refs))
    bp = 1.0 if c_len >= r_len else round(math.exp(1 - r_len / c_len), 6)
    geo = round(math.exp(micro / (max_n * 1e6)), 6)
    out["cand_len"], out["ref_len"] = c_len, r_len
    out["bp6"] = 0.0 if any_zero or c_len == 0 else bp
    out["bleu6"] = 0.0 if any_zero or c_len == 0 else round(bp * geo, 6)
    return out


def _run(spark, rows, max_n=4):
    df = spark.createDataFrame(rows, "id long, cand string, ref string")
    return corpus_bleu(df, "id", "cand", "ref", max_n=max_n).collect()[0].asDict()


def test_bleu_matches_independent_reference(spark):
    rows = [
        (1, "the cat is on the mat", "the cat sat on the mat"),
        (2, "quick brown fox jumps", "the quick brown fox jumps over"),
        (3, "a b c d e f g", "a b c d e f g"),
    ]
    got = _run(spark, rows)
    assert got == _reference_bleu(rows)


def test_bleu_perfect_match_is_one(spark):
    rows = [(1, "alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon")]
    got = _run(spark, rows)
    assert got["bleu6"] == 1.0 and got["bp6"] == 1.0
    assert all(got[f"p_{n}"] == 1.0 for n in range(1, 5))


def test_bleu_zero_order_zeroes_the_score(spark):
    # no 2-gram overlap at all -> standard (unsmoothed) BLEU is exactly 0
    rows = [(1, "a x b y c z", "a b c d e f")]
    got = _run(spark, rows)
    assert got["matched_2"] == 0 and got["bleu6"] == 0.0 and got["bp6"] == 0.0
    ref = _reference_bleu(rows)
    assert got == ref


def test_bleu_case_whitespace_and_null_discipline(spark):
    a = _run(spark, [(1, "The  CAT sat", "the cat  SAT")])
    b = _run(spark, [(1, "the cat sat", "the cat sat")])
    assert a == b  # lowercase + empty-token drop
    # NULL candidate tokenizes to the empty list: zero totals everywhere
    got = _run(spark, [(1, None, "some reference text")])
    assert got["cand_len"] == 0 and got["bleu6"] == 0.0 and got["bp6"] == 0.0


def test_bleu_partition_invariant_and_guard(spark):
    rows = [(i, f"tok{i} common words here now", "common words here now then")
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, cand string, ref string")
    a = corpus_bleu(df, "id", "cand", "ref").collect()[0].asDict()
    b = corpus_bleu(df.repartition(11), "id", "cand", "ref").collect()[0].asDict()
    assert a == b
    with pytest.raises(ValueError, match="max_n"):
        corpus_bleu(df, "id", "cand", "ref", max_n=0)


def _kappa_ref(rows):
    """Independent driver-side pairwise Cohen's kappa."""
    from collections import defaultdict

    resolved = {}
    for item, ann, lab in rows:
        key = (item, ann)
        resolved[key] = lab if key not in resolved else min(resolved[key], lab)
    by_item = defaultdict(dict)
    for (item, ann), lab in resolved.items():
        by_item[item][ann] = lab
    stats = defaultdict(lambda: [0, 0, defaultdict(int), defaultdict(int)])
    for labs in by_item.values():
        anns = sorted(labs)
        for i, a in enumerate(anns):
            for b in anns[i + 1:]:
                s = stats[(a, b)]
                s[0] += 1
                s[1] += labs[a] == labs[b]
                s[2][labs[a]] += 1
                s[3][labs[b]] += 1
    out = {}
    for (a, b), (n, agree, ma, mb) in stats.items():
        cross = sum(c * mb[l] for l, c in ma.items())
        den = n * n - cross
        out[(a, b)] = (
            n, agree, agree / n, cross / (n * n),
            0.0 if den == 0 else (agree * n - cross) / den,
        )
    return out


def test_kappa_matches_independent_reference(spark):
    from lightfusion_spark.operators.evalmetrics import annotator_agreement

    rows = []
    for item in range(30):
        for ann in range(3):
            # deterministic, imperfectly-agreeing labels
            rows.append((item, ann, f"l{(item * (ann + 2)) % 3}"))
    rows += [(0, 0, "l0"), (0, 0, "a_conflict")]  # min-resolution exercised
    df = spark.createDataFrame(rows, "item long, annotator long, label string")
    got = {
        (r["annotator_a"], r["annotator_b"]): (
            r["n_items"], r["n_agree"], r["p_o"], r["p_e"], r["kappa"]
        )
        for r in annotator_agreement(df, "item", "annotator", "label").collect()
    }
    assert got == _kappa_ref(rows)
    # and bitwise partition invariance
    again = {
        (r["annotator_a"], r["annotator_b"]): (
            r["n_items"], r["n_agree"], r["p_o"], r["p_e"], r["kappa"]
        )
        for r in annotator_agreement(
            df.repartition(7), "item", "annotator", "label"
        ).collect()
    }
    assert again == got


def test_kappa_extremes(spark):
    from lightfusion_spark.operators.evalmetrics import annotator_agreement

    # perfect agreement over a mixed label set -> kappa exactly 1.0
    rows = [(i, a, f"l{i % 2}") for i in range(10) for a in (0, 1)]
    r = annotator_agreement(
        spark.createDataFrame(rows, "item long, annotator long, label string"),
        "item", "annotator", "label",
    ).collect()[0]
    assert r["p_o"] == 1.0 and r["kappa"] == 1.0
    # both annotators constant and identical -> p_e = 1, kappa gated to 0.0
    rows = [(i, a, "same") for i in range(10) for a in (0, 1)]
    r = annotator_agreement(
        spark.createDataFrame(rows, "item long, annotator long, label string"),
        "item", "annotator", "label",
    ).collect()[0]
    assert r["p_o"] == 1.0 and r["p_e"] == 1.0 and r["kappa"] == 0.0
    # chance-level: independent coin flips across a big item set give
    # kappa near 0 but p_o near 0.5 — sign test only (deterministic rows)
    rows = [(i, 0, f"l{i % 2}") for i in range(100)] + [
        (i, 1, f"l{(i // 2) % 2}") for i in range(100)
    ]
    r = annotator_agreement(
        spark.createDataFrame(rows, "item long, annotator long, label string"),
        "item", "annotator", "label",
    ).collect()[0]
    assert abs(r["kappa"]) < 0.1 < r["p_o"]


def test_bleu_by_group_matches_per_group_single_system(spark):
    """corpus_bleu_by_group == corpus_bleu run per system slice, bit for
    bit (same fold, same finisher under a groupBy), and is partition-
    invariant."""
    from pyspark.sql import functions as F

    from lightfusion_spark.operators import evalmetrics as em

    rows = []
    for i in range(45):
        ref = f"the quick brown fox tok{i} jumps over the lazy dog"
        toks = ref.split()
        step = 3 + (i % 3) * 2  # per-system corruption severity
        cand = " ".join(t for j, t in enumerate(toks) if j % step != 1)
        rows.append((i, f"sys{i % 3}", cand, ref))
    df = spark.createDataFrame(
        rows, "pair_id long, system string, cand string, ref string"
    )
    by = {
        r["system"]: r.asDict()
        for r in em.corpus_bleu_by_group(
            df, "system", "pair_id", "cand", "ref"
        ).collect()
    }
    assert set(by) == {"sys0", "sys1", "sys2"}
    for g in by:
        want = em.corpus_bleu(
            df.where(F.col("system") == g), "pair_id", "cand", "ref"
        ).collect()[0].asDict()
        got = dict(by[g])
        got.pop("system")
        assert got == want
    # milder corruption (bigger step) scores higher
    assert by["sys2"]["bleu6"] > by["sys1"]["bleu6"] > by["sys0"]["bleu6"]
    # partition invariance of the group-keyed fold
    again = {
        r["system"]: r.asDict()
        for r in em.corpus_bleu_by_group(
            df.repartition(7), "system", "pair_id", "cand", "ref"
        ).collect()
    }
    assert again == by
    # NULL system forms its own group, Spark groupBy convention
    with_null = df.union(
        spark.createDataFrame(
            [(99, None, "a b c", "a b c")],
            "pair_id long, system string, cand string, ref string",
        )
    )
    got = em.corpus_bleu_by_group(
        with_null, "system", "pair_id", "cand", "ref"
    ).collect()
    assert sum(1 for r in got if r["system"] is None) == 1


def test_chrf_by_group_matches_per_group_single_system(spark):
    """chrf_score_by_group == chrf_score run per system slice, bit for
    bit (same char-gram fold, same finisher under a groupBy), and is
    partition-invariant — the corpus_bleu_by_group contract for the
    round's second metric."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = []
    for i in range(45):
        ref = f"the quick brown fox tok{i} jumps over the lazy dog"
        toks = ref.split()
        step = 3 + (i % 3) * 2
        cand = " ".join(t for j, t in enumerate(toks) if j % step != 1)
        rows.append((i, f"sys{i % 3}", cand, ref))
    df = spark.createDataFrame(
        rows, "pair_id long, system string, cand string, ref string"
    )
    by = {
        r["system"]: r.asDict()
        for r in em.chrf_score_by_group(
            df, "system", "pair_id", "cand", "ref"
        ).collect()
    }
    assert set(by) == {"sys0", "sys1", "sys2"}
    for g in by:
        want = em.chrf_score(
            df.where(F.col("system") == g), "pair_id", "cand", "ref"
        ).collect()[0].asDict()
        got = dict(by[g])
        got.pop("system")
        assert got == want
    # milder corruption (bigger step) keeps more characters
    assert by["sys2"]["chrf6"] > by["sys1"]["chrf6"] > by["sys0"]["chrf6"]
    # partition invariance of the group-keyed fold
    again = {
        r["system"]: r.asDict()
        for r in em.chrf_score_by_group(
            df.repartition(7), "system", "pair_id", "cand", "ref"
        ).collect()
    }
    assert again == by
    # NULL system forms its own group, Spark groupBy convention
    with_null = df.union(
        spark.createDataFrame(
            [(99, None, "a b c", "a b c")],
            "pair_id long, system string, cand string, ref string",
        )
    )
    got = em.chrf_score_by_group(
        with_null, "system", "pair_id", "cand", "ref"
    ).collect()
    assert sum(1 for r in got if r["system"] is None) == 1


def _ref_word_levenshtein(a, b):
    """Independent word-level edit distance (classic DP)."""
    aw, bw = a.lower().split(), b.lower().split()
    prev = list(range(len(bw) + 1))
    for i, x in enumerate(aw, 1):
        cur = [i]
        for j, y in enumerate(bw, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (x != y))
            )
        prev = cur
    return prev[-1]


def test_wer_matches_reference_dp(spark):
    """corpus_wer's encoded-levenshtein trick == a driver-side word-level
    DP, edit for edit: the per-pair word->char bijection leaves edit
    distance invariant, so the JVM-native levenshtein IS word-level."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (0, "the quick brown fox", "the quick brown fox"),  # 0 edits
        (1, "the slow brown fox", "the quick brown fox"),  # 1 sub
        (2, "quick brown fox", "the quick brown fox"),  # 1 del
        (3, "the very quick brown fox", "the quick brown fox"),  # 1 ins
        (4, "a b c", "x y z w"),  # all different + length change
        (5, "", "nonempty reference here"),  # empty cand = |ref| edits
        (6, "some words", ""),  # empty ref
        (7, None, "null cand tokenizes empty"),  # NULL discipline
    ]
    df = spark.createDataFrame(rows, "pid long, cand string, ref string")
    pp = {r["pid"]: r for r in em.wer_pairs(df, "pid", "cand", "ref").collect()}
    total_e = total_r = 0
    for pid, cand, ref in rows:
        want = _ref_word_levenshtein(cand or "", ref or "")
        assert pp[pid]["n_edits"] == want, (pid, pp[pid]["n_edits"], want)
        assert pp[pid]["ok"]
        total_e += want
        total_r += len((ref or "").split())
    out = em.corpus_wer(df, "pid", "cand", "ref").collect()[0]
    assert out["n_pairs"] == 8 and out["n_pairs_dropped"] == 0
    assert out["total_edits"] == total_e
    assert out["total_ref_words"] == total_r
    assert out["wer6"] == round(total_e / total_r, 6)
    # partition invariance (pure row-local projection + one agg)
    again = em.corpus_wer(df.repartition(5), "pid", "cand", "ref").collect()[0]
    assert again == out


def test_wer_alphabet_guard_counts_dropped(spark):
    """A pair whose distinct-word count exceeds the 127-char alphabet is
    EXCLUDED and counted (never silently mis-scored), and an all-empty
    reference corpus yields wer6 NULL (undefined, not 0)."""
    from lightfusion_spark.operators import evalmetrics as em

    big = " ".join(f"w{i}" for i in range(130))
    df = spark.createDataFrame(
        [(0, big, big), (1, "a b", "a b c")],
        "pid long, cand string, ref string",
    )
    out = em.corpus_wer(df, "pid", "cand", "ref").collect()[0]
    assert out["n_pairs_dropped"] == 1 and out["n_pairs"] == 1
    assert out["total_edits"] == 1 and out["total_ref_words"] == 3
    empty = spark.createDataFrame(
        [(0, "cand words", "")], "pid long, cand string, ref string"
    )
    assert em.corpus_wer(empty, "pid", "cand", "ref").collect()[0]["wer6"] is None


def test_wer_grouped_matches_per_slice_and_is_jvm_only(spark):
    """The grouped variant equals corpus_wer per slice bit for bit
    (integer cells under a groupBy), and the whole plan is JVM-only —
    no Python evaluation node anywhere (the counterpoint to the
    adjudicated BLEU/chrF Arrow folds)."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"sys{i % 3}",
         " ".join(f"t{(i * j) % 11}" for j in range(1, 9) if j % (3 + i % 3)),
         " ".join(f"t{(i * j) % 11}" for j in range(1, 9)))
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "pid long, system string, cand string, ref string"
    )
    by = {
        r["system"]: r.asDict()
        for r in em.corpus_wer(df, "pid", "cand", "ref", group_col="system").collect()
    }
    assert set(by) == {"sys0", "sys1", "sys2"}
    for g in by:
        want = em.corpus_wer(
            df.where(F.col("system") == g), "pid", "cand", "ref"
        ).collect()[0].asDict()
        got = dict(by[g])
        got.pop("system")
        assert got == want
    plan = em.corpus_wer(df, "pid", "cand", "ref")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_chrf_store_stream_matches_batch_exactly(spark, tmp_path):
    """Maintained chrF store (the BLEU store's round-13 symmetry): pairs
    streamed over a two-file source and appended inside foreachBatch;
    the store chrF equals the one-shot chrf_score over the union corpus
    BIT FOR BIT (cells additive because clipping happens within a pair;
    finisher shared verbatim), and a replayed batch is a no-op."""
    import time

    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"cand text variant {i % 7} tail{i}", f"cand text variant {i % 7} gold{i}")
        for i in range(120)
    ]
    schema = "pid long, cand string, ref string"
    df = spark.createDataFrame(rows, schema)
    src = tmp_path / "chrf_src"
    spark.createDataFrame(rows[::2], df.schema).coalesce(1).write.parquet(
        str(src / "f1"))
    time.sleep(1.1)
    spark.createDataFrame(rows[1::2], df.schema).coalesce(1).write.parquet(
        str(src / "f2"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*/"))
    )
    state_dir = str(tmp_path / "chrf_state")

    def process(batch_df, epoch_id):
        em.chrf_append_batch(batch_df, state_dir, epoch_id, "pid", "cand", "ref")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_chrf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = em.chrf_from_store(spark, state_dir).collect()
    want = em.chrf_score(df, "pid", "cand", "ref").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # replaying a batch (same batch_id, same rows) is a no-op
    half = spark.read.parquet(str(src / "f1"))
    em.chrf_append_batch(half, state_dir, 0, "pid", "cand", "ref")
    again = em.chrf_from_store(spark, state_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]


def test_bleu_store_stream_matches_batch_exactly(spark, tmp_path):
    """Maintained BLEU store: pairs streamed over a two-file source and
    appended inside foreachBatch; the store BLEU equals the one-shot
    corpus_bleu over the union corpus BIT FOR BIT (cells are additive
    because clipping happens within a pair)."""
    from lightfusion_spark import operators
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"tok{i} the quick brown fox {'x' * (i % 3 + 1)}",
         f"the quick brown fox jumps tok{i}")
        for i in range(60)
    ]
    pairs = spark.createDataFrame(rows, "id long, cand string, ref string")
    src_dir = tmp_path / "bleu_src"
    pairs.where("id % 2 = 0").coalesce(1).write.parquet(str(src_dir / "f1"))
    import time

    time.sleep(1.1)
    pairs.where("id % 2 = 1").coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema(pairs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*/"))
    )
    state_dir = str(tmp_path / "bleu_state")

    def process(batch_df, epoch_id):
        em.bleu_append_batch(
            batch_df, state_dir, epoch_id, "id", "cand", "ref"
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_bleu"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    store = spark.read.parquet(state_dir)
    # the append really spanned micro-batches
    assert store.select("batch_id").distinct().count() >= 2
    got = em.bleu_from_store(spark, state_dir).collect()[0].asDict()
    want = em.corpus_bleu(pairs, "id", "cand", "ref").collect()[0].asDict()
    assert got == want and want["bleu6"] > 0


def test_fleiss_matches_classic_example_and_drops_unbalanced(spark):
    """Fleiss 1971 textbook table: N=10 items x n=14 raters x 5
    categories -> kappa = 0.2099...; an unbalanced extra item is
    excluded and reported, leaving the statistic untouched."""
    from lightfusion_spark.operators.evalmetrics import fleiss_kappa

    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = []
    for i, cats in enumerate(table):
        r = 0
        for j, c in enumerate(cats):
            for _ in range(c):
                rows.append((i, r, f"cat{j}"))
                r += 1
    df = spark.createDataFrame(rows, "item long, annotator long, label string")
    out = fleiss_kappa(df, "item", "annotator", "label", 14).collect()[0]
    # independent exact arithmetic
    N, n = 10, 14
    S1 = sum(c * c for cats in table for c in cats)
    cj = [sum(cats[j] for cats in table) for j in range(5)]
    S2 = sum(c * c for c in cj)
    p_bar = (S1 - N * n) / (N * n * (n - 1))
    p_e = S2 / ((N * n) * (N * n))
    kappa = (p_bar - p_e) / (1 - p_e)
    assert out["p_bar"] == p_bar and out["p_e_bar"] == p_e
    assert out["fleiss_kappa"] == kappa
    assert abs(kappa - 0.2099307) < 1e-6  # the published value
    assert out["n_items"] == 10 and out["n_items_dropped"] == 0
    # unbalanced item: dropped, counted, statistic unchanged
    df2 = spark.createDataFrame(
        rows + [(99, 0, "cat0")], "item long, annotator long, label string")
    o2 = fleiss_kappa(df2, "item", "annotator", "label", 14).collect()[0]
    assert o2["n_items_dropped"] == 1 and o2["fleiss_kappa"] == kappa
    # bitwise partition invariance
    o3 = fleiss_kappa(
        df.repartition(7), "item", "annotator", "label", 14).collect()[0]
    assert o3.asDict() == out.asDict()


def test_fleiss_extremes_and_guards(spark):
    from lightfusion_spark.operators.evalmetrics import fleiss_kappa

    # perfect agreement over mixed categories -> kappa exactly 1.0
    rows = [(i, a, f"cat{i % 3}") for i in range(30) for a in range(4)]
    out = fleiss_kappa(
        spark.createDataFrame(rows, "item long, annotator long, label string"),
        "item", "annotator", "label", 4,
    ).collect()[0]
    assert out["p_bar"] == 1.0 and out["fleiss_kappa"] == 1.0
    # one category everywhere -> p_e = 1, gated to 0.0 (never NaN)
    rows = [(i, a, "same") for i in range(10) for a in range(4)]
    out = fleiss_kappa(
        spark.createDataFrame(rows, "item long, annotator long, label string"),
        "item", "annotator", "label", 4,
    ).collect()[0]
    assert out["p_e_bar"] == 1.0 and out["fleiss_kappa"] == 0.0
    # everything unbalanced -> empty panel, zeros not NaN
    rows = [(1, 0, "a"), (2, 0, "a"), (2, 1, "b")]
    out = fleiss_kappa(
        spark.createDataFrame(rows, "item long, annotator long, label string"),
        "item", "annotator", "label", 4,
    ).collect()[0]
    assert out["n_items"] == 0 and out["n_items_dropped"] == 2
    assert out["fleiss_kappa"] == 0.0 and out["p_bar"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_raters"):
        fleiss_kappa(
            spark.createDataFrame(rows, "item long, annotator long, label string"),
            "item", "annotator", "label", 1,
        )


def _chrf_ref(pairs, max_n=6, beta=2.0):
    """Independent chrF: per-order corpus sums, order-averaged P/R,
    F-beta — straight from Popovic 2015."""
    from collections import Counter

    m = [0] * (max_n + 1)
    ct = [0] * (max_n + 1)
    rt = [0] * (max_n + 1)
    for cand, ref in pairs:
        c = "".join((cand or "").lower().split())
        r = "".join((ref or "").lower().split())
        for n in range(1, max_n + 1):
            cg = Counter(c[i : i + n] for i in range(len(c) - n + 1))
            rg = Counter(r[i : i + n] for i in range(len(r) - n + 1))
            ct[n] += sum(cg.values())
            rt[n] += sum(rg.values())
            m[n] += sum(min(v, rg[g]) for g, v in cg.items() if g in rg)
    p = sum(
        (m[n] / ct[n] if ct[n] else 0.0) for n in range(1, max_n + 1)
    ) / max_n
    r = sum(
        (m[n] / rt[n] if rt[n] else 0.0) for n in range(1, max_n + 1)
    ) / max_n
    bb = beta * beta
    return 0.0 if bb * p + r == 0 else round((1 + bb) * p * r / (bb * p + r), 6)


def test_chrf_matches_independent_reference(spark):
    from lightfusion_spark.operators.evalmetrics import chrf_score

    pairs = [
        (i, f"the quick brown fox tok{i}", f"the quick brawn fox tok{i}")
        for i in range(20)
    ] + [(99, "completely different", "nothing shared here")]
    df = spark.createDataFrame(pairs, "pid long, cand string, ref string")
    out = chrf_score(df, "pid", "cand", "ref").collect()[0]
    assert out["chrf6"] == _chrf_ref([(c, r) for _, c, r in pairs])
    assert 0.0 < out["chrf6"] < 1.0
    # identical corpus -> exactly 1.0 (P = R = 1 at every order)
    same = spark.createDataFrame(
        [(i, f"alpha beta tok{i}", f"alpha beta tok{i}") for i in range(8)],
        "pid long, cand string, ref string",
    )
    assert chrf_score(same, "pid", "cand", "ref").collect()[0]["chrf6"] == 1.0
    # empty/NULL candidates degrade, never crash; all-empty gates to 0.0
    empty = spark.createDataFrame(
        [(1, None, "some reference"), (2, "", "more text")],
        "pid long, cand string, ref string",
    )
    out = chrf_score(empty, "pid", "cand", "ref").collect()[0]
    assert out["chrf6"] == 0.0 and out["chr_r"] == 0.0
    # partition invariance of the additive cells
    a = chrf_score(df, "pid", "cand", "ref").collect()[0]
    b = chrf_score(df.repartition(7), "pid", "cand", "ref").collect()[0]
    assert a.asDict() == b.asDict()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_n"):
        chrf_score(df, "pid", "cand", "ref", max_n=0)
    with _pytest.raises(ValueError, match="beta"):
        chrf_score(df, "pid", "cand", "ref", beta=0.0)


def test_distinct_ngrams_counts_and_degeneracy_signal(spark):
    from lightfusion_spark.operators.evalmetrics import distinct_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c d")],
        "doc_id long, text string",
    )
    got = {r["n"]: r for r in distinct_ngrams(df, "doc_id", "text", 2).collect()}
    # unigrams: 8 total, {a,b,c,d} distinct
    assert got[1]["n_total"] == 8 and got[1]["n_distinct"] == 4
    assert got[1]["distinct_ratio"] == 0.5
    # bigrams: 6 total, {'a b','b a','b c','c d'} distinct
    assert got[2]["n_total"] == 6 and got[2]["n_distinct"] == 4
    # mode collapse: repeating one doc drops the ratio, diversity raises it
    collapsed = spark.createDataFrame(
        [(i, "a b a b") for i in range(10)], "doc_id long, text string"
    )
    diverse = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i}") for i in range(10)],
        "doc_id long, text string",
    )
    rc = {r["n"]: r["distinct_ratio"]
          for r in distinct_ngrams(collapsed, "doc_id", "text", 2).collect()}
    rd = {r["n"]: r["distinct_ratio"]
          for r in distinct_ngrams(diverse, "doc_id", "text", 2).collect()}
    assert rc[2] < 0.1 < rd[2] == 1.0
    # partition invariance
    a = sorted(map(tuple, distinct_ngrams(df, "doc_id", "text", 2).collect()))
    b = sorted(map(tuple,
                   distinct_ngrams(df.repartition(5), "doc_id", "text", 2)
                   .collect()))
    assert a == b


def test_krippendorff_matches_published_worked_example(spark):
    """Krippendorff (2011) 'Computing Krippendorff's Alpha-Reliability':
    4 observers, 12 units, nominal data with missing cells; unit 12 is
    single-rated and must be dropped (n = 40 pairable values), nominal
    alpha = 0.743."""
    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    grid = {
        "A": [1, 2, 3, 3, 2, 1, 4, 1, 2, None, None, None],
        "B": [1, 2, 3, 3, 2, 2, 4, 1, 2, 5, None, 3],
        "C": [None, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, None],
        "D": [1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, None],
    }
    rows = [
        (u + 1, obs, str(grid[obs][u]))
        for obs in grid
        for u in range(12)
        if grid[obs][u] is not None
    ]
    df = spark.createDataFrame(rows, "item long, annotator string, label string")
    out = krippendorff_alpha(df, "item", "annotator", "label").collect()[0]
    assert out["n_values"] == 40
    assert out["n_units"] == 11 and out["n_units_dropped"] == 1
    assert out["n_categories"] == 5 and out["n_rows_dropped"] == 0
    # exact fraction: 1 - 39*(40-32)/(1600-1296) = 226/304... = 0.7434210...
    assert abs(out["alpha6"] - 0.743421) < 1e-6
    assert round(out["alpha6"], 3) == 0.743
    # partition invariance of the integer-sum pipeline
    again = krippendorff_alpha(
        df.repartition(7), "item", "annotator", "label"
    ).collect()[0]
    assert again.asDict() == out.asDict()


def test_krippendorff_extremes_tolerance_and_null_discipline(spark):
    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    schema = "item long, annotator long, label string"
    # perfect agreement over mixed categories -> alpha exactly 1.0
    rows = [(i, a, f"cat{i % 3}") for i in range(30) for a in range(4)]
    out = krippendorff_alpha(
        spark.createDataFrame(rows, schema), "item", "annotator", "label"
    ).collect()[0]
    assert out["alpha6"] == 1.0
    # one category everywhere -> D_e = 0, gated to 0.0 (never NaN)
    rows = [(i, a, "same") for i in range(10) for a in range(3)]
    out = krippendorff_alpha(
        spark.createDataFrame(rows, schema), "item", "annotator", "label"
    ).collect()[0]
    assert out["alpha6"] == 0.0
    # missing-data tolerance: ragged panel (2-4 raters per unit) KEEPS
    # every unit with >= 2 ratings — the case fleiss_kappa must drop
    rows = [
        (u, a, f"cat{(u + a) % 2}")
        for u in range(20)
        for a in range(2 + u % 3)
    ]
    out = krippendorff_alpha(
        spark.createDataFrame(rows, schema), "item", "annotator", "label"
    ).collect()[0]
    assert out["n_units"] == 20 and out["n_units_dropped"] == 0
    # NULL rows excluded and counted; single-rated unit dropped
    rows = [(1, 0, "a"), (1, 1, "a"), (2, 0, "b"), (3, 0, None), (None, 1, "a")]
    out = krippendorff_alpha(
        spark.createDataFrame(rows, schema), "item", "annotator", "label"
    ).collect()[0]
    assert out["n_rows_dropped"] == 2
    assert out["n_units_dropped"] == 1  # unit 2 (unit 3's only row was NULL)
    assert out["n_values"] == 2 and out["n_units"] == 1


def test_kappa_null_labels_dropped_and_counted(spark):
    """r11 verdict nit: an (item, annotator) cell whose labels are ALL NULL
    must not become its own NULL category — NULL rows are excluded and
    counted in n_rows_dropped (the winrate_report convention)."""
    from lightfusion_spark.operators.evalmetrics import annotator_agreement

    clean = [(i, a, f"l{(i * (a + 2)) % 3}") for i in range(20) for a in (0, 1)]
    # mixed-NULL cell: item 0 / annotator 0 also has a NULL vote (min over
    # non-NULLs is unchanged) + an ALL-NULL cell on a fresh item 99 + a
    # NULL item and a NULL annotator row
    noisy = clean + [
        (0, 0, None),
        (99, 0, None),
        (99, 1, None),
        (None, 0, "l0"),
        (5, None, "l1"),
    ]
    schema = "item long, annotator long, label string"
    want = {
        (r["annotator_a"], r["annotator_b"]): (
            r["n_items"], r["n_agree"], r["p_o"], r["p_e"], r["kappa"]
        )
        for r in annotator_agreement(
            spark.createDataFrame(clean, schema), "item", "annotator", "label"
        ).collect()
    }
    got_rows = annotator_agreement(
        spark.createDataFrame(noisy, schema), "item", "annotator", "label"
    ).collect()
    got = {
        (r["annotator_a"], r["annotator_b"]): (
            r["n_items"], r["n_agree"], r["p_o"], r["p_e"], r["kappa"]
        )
        for r in got_rows
    }
    assert got == want  # statistics identical to the clean table
    assert all(r["n_rows_dropped"] == 5 for r in got_rows)
    # clean table reports zero dropped
    clean_rows = annotator_agreement(
        spark.createDataFrame(clean, schema), "item", "annotator", "label"
    ).collect()
    assert all(r["n_rows_dropped"] == 0 for r in clean_rows)


def test_fleiss_null_labels_dropped_and_counted(spark):
    """NULL rows are excluded BEFORE the balanced-design check: dropping an
    all-NULL rater cell unbalances its item, which then lands in
    n_items_dropped — both counts visible, nothing silent."""
    from lightfusion_spark.operators.evalmetrics import fleiss_kappa

    clean = [(i, a, f"cat{(i + a) % 3}") for i in range(12) for a in range(4)]
    schema = "item long, annotator long, label string"
    want = fleiss_kappa(
        spark.createDataFrame(clean, schema),
        "item", "annotator", "label", 4,
    ).collect()[0]
    assert want["n_rows_dropped"] == 0 and want["n_items_dropped"] == 0
    # item 50: four raters but one votes ALL-NULL -> cell dropped -> item
    # unbalanced (3 raters) -> excluded and counted; plus a NULL-item row
    noisy = clean + [
        (50, 0, "cat0"),
        (50, 1, "cat0"),
        (50, 2, "cat1"),
        (50, 3, None),
        (None, 0, "cat2"),
    ]
    got = fleiss_kappa(
        spark.createDataFrame(noisy, schema),
        "item", "annotator", "label", 4,
    ).collect()[0]
    assert got["n_rows_dropped"] == 2
    assert got["n_items_dropped"] == 1  # item 50, unbalanced after the drop
    for k in ("n_items", "n_categories", "p_bar", "p_e_bar", "fleiss_kappa"):
        assert got[k] == want[k]


def test_winrate_store_stream_matches_batch_exactly(spark, tmp_path):
    """Additive win-rate store: match verdicts streamed over a two-file
    source and appended inside foreachBatch; the Wilson report over the
    store equals the one-shot winrate_report over the full table BIT
    FOR BIT (integer cells are additive over disjoint game sets; the
    finisher is shared verbatim), including the raw dropped count
    carried on per-batch sentinel rows."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = []
    for i in range(400):
        a, b = f"sys{i % 5}", f"sys{(i // 5) % 5}"
        w = a if (i * 7) % 3 else b
        rows.append((i, a, b, w))
    # invalid rows: self-match, foreign winner, NULL winner
    rows += [(900, "sys1", "sys1", "sys1"), (901, "sys0", "sys1", "sysX"),
             (902, "sys2", "sys3", None)]
    schema = "mid long, a string, b string, w string"
    df = spark.createDataFrame(rows, schema)
    src = tmp_path / "wr_src"
    spark.createDataFrame(rows[::2], df.schema).coalesce(1).write.parquet(
        str(src / "f1"))
    import time

    time.sleep(1.1)
    spark.createDataFrame(rows[1::2], df.schema).coalesce(1).write.parquet(
        str(src / "f2"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*/"))
    )
    state_dir = str(tmp_path / "wr_state")

    def process(batch_df, epoch_id):
        em.winrate_append_batch(batch_df, state_dir, epoch_id, "a", "b", "w")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_wr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, em.winrate_from_store(spark, state_dir).collect()))
    want = sorted(map(tuple, em.winrate_report(df, "a", "b", "w").collect()))
    assert got == want
    # dropped accounting survives the store: 80 generated self-matches
    # (i%5 == (i//5)%5) + the 3 explicit invalid rows
    assert got and got[0][-1] == 83
    # replaying a batch (same batch_id, same rows) is a no-op
    half = spark.read.parquet(str(src / "f1"))
    em.winrate_append_batch(half, state_dir, 0, "a", "b", "w")
    again = sorted(map(tuple, em.winrate_from_store(spark, state_dir).collect()))
    assert again == got


def test_winrate_store_numeric_sides_pair_lexicographically(spark, tmp_path):
    """Round-12 advice: sides are stringified BEFORE least/greatest, so
    numeric side ids pair the same way the documented parity recipe
    (one-shot on string sides) pairs them — lexicographically.  Sides
    2 and 10 are the distinguishing case: numeric order pairs (2, 10),
    string order pairs ('10', '2')."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [(i, 2, 10, 2 if i % 3 else 10) for i in range(30)]
    df = spark.createDataFrame(rows, "mid long, a int, b int, w int")
    state_dir = str(tmp_path / "wr_num")
    em.winrate_append_batch(df, state_dir, 0, "a", "b", "w")
    got = em.winrate_from_store(spark, state_dir).collect()
    assert len(got) == 1 and (got[0]["side_lo"], got[0]["side_hi"]) == (
        "10",
        "2",
    )
    # bit-for-bit equal to the one-shot on string sides — the recipe
    one_shot = em.winrate_report(
        df.select(
            F.col("a").cast("string").alias("a"),
            F.col("b").cast("string").alias("b"),
            F.col("w").cast("string").alias("w"),
        ),
        "a",
        "b",
        "w",
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, one_shot))


def test_annotation_store_stream_matches_batch_exactly(spark, tmp_path):
    """Min-merge annotation store: verdicts streamed over a two-file
    source and blindly appended inside foreachBatch; Cohen AND Fleiss
    over the store equal the one-shot operators over the full table
    BIT FOR BIT (min-resolve idempotence — no batch ids needed)."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = []
    for item in range(60):
        for ann in range(4):
            rows.append((item, ann, f"l{(item * (ann + 2)) % 3}"))
    # a cross-batch conflict: the same cell labeled differently in each
    # half — the store must resolve to the GLOBAL min, like batch mode
    rows.append((0, 0, "a_early"))
    rows.append((0, 0, "a_late"))
    # a NULL vote: dropped AT APPEND (the store never holds NULL labels);
    # the agreement statistics stay identical, only the raw-row
    # accounting column differs (store reads report 0, one-shot raw 1)
    rows.append((1, 1, None))
    ann_df = spark.createDataFrame(rows, "item long, annotator long, label string")
    src = tmp_path / "ann_src"
    # split so the conflicting labels land in DIFFERENT files
    spark.createDataFrame(rows[::2], ann_df.schema).coalesce(1).write.parquet(
        str(src / "f1"))
    import time

    time.sleep(1.1)
    spark.createDataFrame(rows[1::2], ann_df.schema).coalesce(1).write.parquet(
        str(src / "f2"))

    stream = (
        spark.readStream.schema(ann_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*/"))
    )
    state_dir = str(tmp_path / "ann_state")

    def process(batch_df, epoch_id):
        em.annotations_append_batch(
            batch_df, state_dir, "item", "annotator", "label")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_ann"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def rows_of(df):
        # statistics columns only: n_rows_dropped counts RAW votes in
        # one-shot mode and is 0 by construction on a (clean) store
        return sorted(
            map(tuple, df.drop("n_rows_dropped").collect())
        )

    store_pair = em.agreement_from_store(spark, state_dir)
    got_pair = rows_of(store_pair)
    want_pair = rows_of(em.annotator_agreement(
        ann_df, "item", "annotator", "label"))
    assert got_pair == want_pair and len(got_pair) == 6
    assert store_pair.select("n_rows_dropped").first()[0] == 0
    one_shot = em.annotator_agreement(ann_df, "item", "annotator", "label")
    assert one_shot.select("n_rows_dropped").first()[0] == 1  # the NULL vote
    got_panel = rows_of(em.fleiss_from_store(spark, state_dir, 4))
    want_panel = rows_of(em.fleiss_kappa(
        ann_df, "item", "annotator", "label", 4))
    assert got_panel == want_panel


def test_annotation_store_replay_is_a_no_op(spark, tmp_path):
    """Blind-append replay safety: re-appending a batch (no batch id
    anywhere) leaves every downstream statistic bit-identical, because
    the operators' leading MIN resolve is idempotent."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [(i, a, f"l{(i * (a + 2)) % 3}") for i in range(30) for a in range(3)]
    df = spark.createDataFrame(rows, "item long, annotator long, label string")
    state_dir = str(tmp_path / "ann_replay")
    b0, b1 = df.where("item < 15"), df.where("item >= 15")
    em.annotations_append_batch(b0, state_dir, "item", "annotator", "label")
    em.annotations_append_batch(b1, state_dir, "item", "annotator", "label")
    before = sorted(map(tuple, em.agreement_from_store(spark, state_dir).collect()))
    em.annotations_append_batch(b1, state_dir, "item", "annotator", "label")  # replay
    em.annotations_append_batch(b0, state_dir, "item", "annotator", "label")  # replay
    after = sorted(map(tuple, em.agreement_from_store(spark, state_dir).collect()))
    assert after == before
    assert before == sorted(map(tuple, em.annotator_agreement(
        df, "item", "annotator", "label").collect()))


def test_winrate_matches_reference_wilson(spark):
    import math

    from lightfusion_spark.operators.evalmetrics import winrate_report

    rows = []
    for i in range(20):
        rows.append(("A", "B", "A" if i < 14 else "B"))
    for i in range(8):
        rows.append(("C", "B", "B" if i < 5 else "C"))
    for i in range(5):
        rows.append(("A", "C", "C"))
    # garbage: self-match, foreign winner, NULL side, NULL winner
    rows += [("A", "A", "A"), ("A", "B", "X"), (None, "B", "B"), ("A", "B", None)]
    df = spark.createDataFrame(rows, "a string, b string, w string")
    out = {(r["side_lo"], r["side_hi"]): r.asDict()
           for r in winrate_report(df, "a", "b", "w").collect()}

    def wilson(w, n, z=1.96):
        p = w / n
        zz = z * z
        denom = 1.0 + zz / n
        center = p + zz / (2.0 * n)
        rad = z * math.sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
        return (max(0.0, (center - rad) / denom),
                min(1.0, (center + rad) / denom))

    for (lo, hi, w, n) in [("A", "B", 14, 20), ("B", "C", 5, 8),
                           ("A", "C", 0, 5)]:
        r = out[(lo, hi)]
        wl, wh = wilson(w, n)
        assert r["n_games"] == n and r["n_wins_lo"] == w
        assert r["n_dropped"] == 4  # every garbage row counted
        assert r["win_rate"] == w / n
        assert r["wilson_lo"] == wl and r["wilson_hi"] == wh
        assert 0.0 <= r["wilson_lo"] <= r["win_rate"] <= r["wilson_hi"] <= 1.0
    # zero-wins pair clamps its lower bound to exactly 0.0
    assert out[("A", "C")]["wilson_lo"] == 0.0
    # the interval SHRINKS with more games at the same rate
    more = [("A", "B", "A" if i < 140 else "B") for i in range(200)]
    big = winrate_report(
        spark.createDataFrame(more, "a string, b string, w string"),
        "a", "b", "w").collect()[0]
    small = out[("A", "B")]
    assert (big["wilson_hi"] - big["wilson_lo"]
            < small["wilson_hi"] - small["wilson_lo"])
    # partition invariance + guard
    again = {(r["side_lo"], r["side_hi"]): r.asDict()
             for r in winrate_report(
                 df.repartition(7), "a", "b", "w").collect()}
    assert again == out
    import pytest as _pytest

    with _pytest.raises(ValueError, match="z must"):
        winrate_report(df, "a", "b", "w", z=0)


def test_wer_store_stream_matches_batch_exactly(spark, tmp_path):
    """Maintained WER store: pairs streamed over a two-file source and
    appended inside foreachBatch; the store WER equals the one-shot
    corpus_wer over the union corpus BIT FOR BIT (the four integer
    cells are additive because edit distance is computed within a
    pair).  One pair per parity class blows the 127-word alphabet so
    the dropped count is exercised ACROSS batches too."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"the quick brown tok{i}", f"the quick brown fox tok{i}")
        for i in range(60)
    ]
    # two out-of-alphabet pairs, one per micro-batch parity class
    wide = " ".join(f"w{j}" for j in range(130))
    rows += [(100, wide, "a b"), (101, wide, "a b")]
    pairs = spark.createDataFrame(rows, "id long, cand string, ref string")
    src_dir = tmp_path / "wer_src"
    pairs.where("id % 2 = 0").coalesce(1).write.parquet(str(src_dir / "f1"))
    import time

    time.sleep(1.1)
    pairs.where("id % 2 = 1").coalesce(1).write.parquet(str(src_dir / "f2"))

    stream = (
        spark.readStream.schema(pairs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*/"))
    )
    state_dir = str(tmp_path / "wer_state")

    def process(batch_df, epoch_id):
        em.wer_append_batch(batch_df, state_dir, epoch_id, "id", "cand", "ref")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_wer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    store = spark.read.parquet(state_dir)
    assert store.select("batch_id").distinct().count() >= 2
    got = em.wer_from_store(spark, state_dir).collect()[0].asDict()
    want = em.corpus_wer(pairs, "id", "cand", "ref").collect()[0].asDict()
    assert got == want
    assert want["n_pairs_dropped"] == 2 and want["wer6"] > 0


def test_qa_em_f1_squad_semantics(spark):
    """SQuAD EM/F1 against hand-computed grades: normalization (punct
    DELETED, articles dropped), multiset clipping, max over
    alternatives, the no-answer rules, and the EM-vs-F1 separation."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        # exact after normalization: "The quick fox!" vs "quick fox"
        (1, "The quick fox!", "quick fox"),
        # reversed bag: EM 0, F1 1
        (2, "fox quick", "quick fox"),
        # partial: pred "e b c" vs gold "b c d" -> m=2, f1 = 4/6
        (3, "e b c", "b c d"),
        # multiset clipping: pred "x x x" vs gold "x" -> m=1, f1 = 2/4
        (4, "x x x", "x"),
        # two alternatives, max wins: second is exact
        (5, "y z", "w v"),
        (5, "y z", "y z"),
        # duplicate alternative rows collapse (totality guard): the
        # doubled row must NOT double token counts
        (6, "p q", "p q"),
        (6, "p q", "p  q"),  # same normalized alternative
        # no-answer rules: both empty -> 1/1; one empty -> 0/0
        (7, "!!!", "???"),
        (8, "ans", "..."),
        # "don't" -> "dont": deletion, not space-substitution
        (9, "dont stop", "don't stop"),
    ]
    df = spark.createDataFrame(rows, "qid long, pred string, gold string")
    per = {
        r["qid"]: r.asDict()
        for r in em.qa_em_f1(df, "qid", "pred", "gold").collect()
    }
    assert per[1]["em"] == 1 and per[1]["f1_6"] == 1.0
    assert per[2]["em"] == 0 and per[2]["f1_6"] == 1.0
    assert per[3]["em"] == 0 and per[3]["f1_6"] == round(4 / 6, 6)
    assert per[4]["f1_6"] == 0.5
    assert per[5]["n_golds"] == 2 and per[5]["em"] == 1 and per[5]["f1_6"] == 1.0
    assert per[6]["n_golds"] == 1 and per[6]["f1_6"] == 1.0
    assert per[7]["em"] == 1 and per[7]["f1_6"] == 1.0
    assert per[8]["em"] == 0 and per[8]["f1_6"] == 0.0
    assert per[9]["em"] == 1 and per[9]["f1_6"] == 1.0

    rep = em.qa_report(df, "qid", "pred", "gold").collect()[0].asDict()
    assert rep["n_questions"] == 9
    assert rep["n_em"] == 5  # qids 1, 5, 6, 7, 9
    assert rep["em_rate6"] == round(5 / 9, 6)
    f1s = [per[q]["f1_6"] for q in sorted(per)]
    assert rep["f1_mean6"] == round(sum(f1s) / 9, 6)
    # partition invariance (DECIMAL mean)
    again = (
        em.qa_report(df.repartition(7), "qid", "pred", "gold")
        .collect()[0]
        .asDict()
    )
    assert again == rep


def test_rouge_matches_hand_computation_and_lin_example(spark):
    """corpus_rouge vs hand-derived cells, including Lin (2004)'s
    worked pair ('police kill the gunman' vs 'police killed the
    gunman': unigram overlap 3, LCS 3) and the reversal case that
    separates ROUGE-L from ROUGE-1."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [(1, "police kill the gunman", "police killed the gunman")]
    out = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(
            spark.createDataFrame(rows, "id long, cand string, ref string"),
            "id", "cand", "ref",
        ).collect()
    }
    r1, rl = out["rouge1"], out["rougeL"]
    assert r1["matched"] == 3 and r1["cand_total"] == 4 and r1["ref_total"] == 4
    assert r1["precision6"] == 0.75 and r1["recall6"] == 0.75
    assert r1["f1_6"] == 0.75
    assert out["rouge2"]["matched"] == 1  # only "the gunman"
    assert rl["matched"] == 3 and rl["f1_6"] == 0.75

    # reversal: bag overlap is total but the LCS collapses
    rows2 = [(1, "d c b a", "a b c d")]
    out2 = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(
            spark.createDataFrame(rows2, "id long, cand string, ref string"),
            "id", "cand", "ref",
        ).collect()
    }
    assert out2["rouge1"]["matched"] == 4
    assert out2["rougeL"]["matched"] == 1  # any single token
    assert out2["rouge2"]["matched"] == 0


def test_rouge_cells_additive_null_and_partition_invariant(spark):
    """Cells are additive across disjoint pair sets (the store
    argument), NULL/empty sides degrade to zero cells with NULL
    ratios, and partitioning can't change a bit."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"tok{i} a b c {'x ' * (i % 4)}".strip(), f"a b c d tok{i}")
        for i in range(30)
    ] + [(90, None, "a b"), (91, "a b", None), (92, None, None)]
    df = spark.createDataFrame(rows, "id long, cand string, ref string")
    whole = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(df, "id", "cand", "ref").collect()
    }
    # split into two disjoint halves: integer cells must add exactly
    h1 = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(
            df.where("id % 2 = 0"), "id", "cand", "ref"
        ).collect()
    }
    h2 = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(
            df.where("id % 2 = 1"), "id", "cand", "ref"
        ).collect()
    }
    for metric in ("rouge1", "rouge2", "rougeL"):
        for cell in ("matched", "cand_total", "ref_total"):
            assert h1[metric][cell] + h2[metric][cell] == whole[metric][cell]
    again = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(
            df.repartition(7), "id", "cand", "ref"
        ).collect()
    }
    assert again == whole
    # all-NULL corpus: zero cells, NULL (undefined) ratios
    empty = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(
            df.where("id >= 90"), "id", "cand", "ref"
        ).collect()
    }
    for metric in ("rouge1", "rouge2", "rougeL"):
        e = empty[metric]
        assert e["matched"] == 0
        assert e["precision6"] is None or e["cand_total"] > 0
    # the fully-empty metric rows keep NULL f1 (0/0 is undefined)
    assert empty["rouge2"]["f1_6"] is None or empty["rouge2"]["cand_total"] > 0


def test_rouge_lcs_vs_reference_dp_on_spark(spark):
    """The Spark-side bit-parallel LCS fold vs the classic DP, over
    structured pairs (subsequence / reversal / block swap) — the same
    trio pipe_eval_rouge grades."""
    from tests.test_property_round13 import _lcs_dp
    from lightfusion_spark.operators import evalmetrics as em

    toks = [f"w{i % 7}" for i in range(24)]  # repeated tokens on purpose
    ref = " ".join(toks)
    cands = {
        1: " ".join(t for i, t in enumerate(toks) if i % 7 != 3),
        2: " ".join(reversed(toks)),
        3: " ".join(toks[12:] + toks[:12]),
    }
    df = spark.createDataFrame(
        [(k, c, ref) for k, c in cands.items()],
        "id long, cand string, ref string",
    )
    got = em.lcs_cells(df, "id", "cand", "ref").collect()[0]
    want = sum(_lcs_dp(c.split(), toks) for c in cands.values())
    assert got["matched"] == want
    assert got["ref_total"] == 3 * 24


def test_rouge_by_group_matches_per_group_single_system(spark):
    """The grouped-metric contract: each group's ROUGE rows equal
    corpus_rouge over that slice BIT FOR BIT (shared _rouge_finish),
    and NULL groups form their own group."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = []
    for i in range(40):
        ref = f"the quick brown fox tok{i} jumps over"
        toks = ref.split()
        sys_id = i % 3
        if sys_id == 0:
            cand = " ".join(t for j, t in enumerate(toks) if j % 3 != 1)
        elif sys_id == 1:
            cand = " ".join(reversed(toks))
        else:
            cand = ref
        rows.append((i, f"s{sys_id}" if i != 39 else None, cand, ref))
    df = spark.createDataFrame(
        rows, "id long, system string, cand string, ref string"
    )
    grouped = {
        (r["system"], r["metric"]): r.asDict()
        for r in em.corpus_rouge_by_group(
            df, "system", "id", "cand", "ref"
        ).collect()
    }
    assert len(grouped) == 4 * 3  # s0/s1/s2/NULL x rouge1/rouge2/rougeL
    for sys_val in ("s0", "s1", "s2", None):
        if sys_val is None:
            sl = df.where("system IS NULL")
        else:
            sl = df.where(f"system = '{sys_val}'")
        single = {
            r["metric"]: r.asDict()
            for r in em.corpus_rouge(sl, "id", "cand", "ref").collect()
        }
        for metric, want in single.items():
            got = dict(grouped[(sys_val, metric)])
            got.pop("system")
            assert got == want, (sys_val, metric)
    # the slices separate the metrics: reversal keeps rouge1, kills rougeL
    assert grouped[("s1", "rouge1")]["recall6"] == 1.0
    assert grouped[("s1", "rougeL")]["recall6"] < 0.5
    assert grouped[("s2", "rougeL")]["f1_6"] == 1.0


def test_rouge_store_stream_matches_batch_exactly(spark, tmp_path):
    """Maintained ROUGE store: streamed two-file appends == one-shot
    corpus_rouge over the union corpus bit for bit; replay no-op."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"tok{i} a b c {'x ' * (i % 3)}".strip(), f"a b c d tok{i}")
        for i in range(40)
    ]
    pairs = spark.createDataFrame(rows, "id long, cand string, ref string")
    src_dir = tmp_path / "rouge_src"
    pairs.where("id % 2 = 0").coalesce(1).write.parquet(str(src_dir / "f1"))
    import time

    time.sleep(1.1)
    pairs.where("id % 2 = 1").coalesce(1).write.parquet(str(src_dir / "f2"))
    stream = (
        spark.readStream.schema(pairs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "*/"))
    )
    state_dir = str(tmp_path / "rouge_state")

    def process(batch_df, epoch_id):
        em.rouge_append_batch(
            batch_df, state_dir, epoch_id, "id", "cand", "ref"
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_rouge"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert (
        spark.read.parquet(state_dir).select("batch_id").distinct().count()
        >= 2
    )
    got = {
        r["metric"]: r.asDict()
        for r in em.rouge_from_store(spark, state_dir).collect()
    }
    want = {
        r["metric"]: r.asDict()
        for r in em.corpus_rouge(pairs, "id", "cand", "ref").collect()
    }
    assert got == want
    # replay no-op
    em.rouge_append_batch(
        pairs.where("id % 2 = 1"), state_dir, 1, "id", "cand", "ref"
    )
    again = {
        r["metric"]: r.asDict()
        for r in em.rouge_from_store(spark, state_dir).collect()
    }
    assert again == want


def _ref_bootstrap(rows, n_boot=32, seed=7, max_n=4):
    """Independent driver-side reference of the paired bootstrap:
    hashlib md5 weights, Counter cells, the micro-nat finisher —
    shares NO code with the operator."""
    import hashlib
    import math
    from collections import Counter

    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    def weight(i, b):
        h6 = (
            int(
                hashlib.md5(f"{seed}:{i}:{b}".encode()).hexdigest()[:14], 16
            )
            % 1_000_000
        )
        for k, t in enumerate(POISSON1_CDF_PPM):
            if h6 < t:
                return k
        return len(POISSON1_CDF_PPM)

    def cells(cand, ref):
        c, r = cand.lower().split(), ref.lower().split()
        out = {}
        for n in range(1, max_n + 1):
            cg = Counter(tuple(c[i:i + n]) for i in range(len(c) - n + 1))
            rg = Counter(tuple(r[i:i + n]) for i in range(len(r) - n + 1))
            m = sum(min(v, rg[g]) for g, v in cg.items() if g in rg)
            out[n] = (m, sum(cg.values()), sum(rg.values()))
        return out

    def finish(agg):
        any_zero = any(
            agg[n][0] == 0 or agg[n][1] == 0 for n in range(1, max_n + 1)
        )
        cand_len, ref_len = agg[1][1], agg[1][2]
        if any_zero or cand_len == 0:
            return 0.0
        micro = sum(
            math.floor(round(math.log(agg[n][0] / agg[n][1]), 6) * 1e6 + 0.5)
            for n in range(1, max_n + 1)
        )
        bp = (
            1.0
            if cand_len >= ref_len
            else round(math.exp(1 - ref_len / cand_len), 6)
        )
        return round(bp * round(math.exp(micro / (max_n * 1e6)), 6), 6)

    def rep(side, b):
        agg = {n: [0, 0, 0] for n in range(1, max_n + 1)}
        for (i, ca, cb, ref) in rows:
            w = weight(i, b)
            cl = cells(ca if side == "a" else cb, ref)
            for n in range(1, max_n + 1):
                for j in range(3):
                    agg[n][j] += cl[n][j] * w
        return finish({n: tuple(v) for n, v in agg.items()})

    return sorted(
        round(rep("a", b) - rep("b", b), 6) for b in range(n_boot)
    )


def _bootstrap_corpus():
    """Heterogeneous pairs (varying lengths AND corruption offsets) —
    a corpus of identical cells would make every replicate's weighted
    precision ratios cancel and the bootstrap degenerate to a point."""
    rows = []
    for i in range(60):
        extra = " ".join(f"x{i}y{k}" for k in range(i % 9))
        ref = (
            f"the quick brown fox tok{i} jumps over the lazy dog near "
            f"bank w{i % 5} again {extra}"
        ).strip()
        toks = ref.split()
        a = " ".join(t for j, t in enumerate(toks) if j % 7 != (i % 6))
        b = " ".join(t for j, t in enumerate(toks) if j % 5 != (i % 4))
        rows.append((i, a, b, ref))
    return rows


def test_bleu_bootstrap_matches_independent_reference(spark):
    """The full experiment — weights, per-replicate scores, nearest-rank
    interval, win counts — equals a shared-nothing driver-side
    reference bit for bit (both corpora keep all four orders positive,
    so the deltas genuinely vary across replicates)."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = _bootstrap_corpus()
    df = spark.createDataFrame(rows, "id long, ca string, cb string, ref string")
    got = (
        em.bleu_paired_bootstrap(df, "id", "ca", "cb", "ref", n_boot=32)
        .collect()[0]
        .asDict()
    )
    deltas = _ref_bootstrap(rows)
    assert len(set(deltas)) > 1, "degenerate fixture: deltas all equal"
    assert got["delta_lo6"] == deltas[0] and got["delta_hi6"] == deltas[31]
    assert got["n_delta_pos"] == sum(1 for d in deltas if d > 0)
    assert got["n_delta_neg"] == sum(1 for d in deltas if d < 0)
    assert got["p_a_better6"] == round(got["n_delta_pos"] / 32, 6)
    # milder corruption must win decisively on this construction
    assert got["delta6"] > 0 and got["bleu_a6"] > got["bleu_b6"] > 0
    assert got["delta_lo6"] <= got["delta6"] <= got["delta_hi6"]


def test_bleu_bootstrap_determinism_and_pairing(spark):
    """Same seed -> bit-identical; different seed -> different interval
    (resampling is a pure function of (data, seed)); identical systems
    -> every delta exactly 0 whatever the weights (pairing cancels the
    resample)."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = _bootstrap_corpus()
    df = spark.createDataFrame(rows, "id long, ca string, cb string, ref string")
    r1 = em.bleu_paired_bootstrap(df, "id", "ca", "cb", "ref").collect()[0]
    r2 = em.bleu_paired_bootstrap(
        df.repartition(7), "id", "ca", "cb", "ref"
    ).collect()[0]
    assert r1.asDict() == r2.asDict()
    r3 = em.bleu_paired_bootstrap(
        df, "id", "ca", "cb", "ref", seed=99
    ).collect()[0]
    assert (r3["delta_lo6"], r3["delta_hi6"]) != (
        r1["delta_lo6"],
        r1["delta_hi6"],
    )
    same = em.bleu_paired_bootstrap(df, "id", "ca", "ca", "ref").collect()[0]
    assert same["delta_lo6"] == 0.0 and same["delta_hi6"] == 0.0
    assert same["n_delta_pos"] == 0 and same["n_delta_neg"] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_boot"):
        em.bleu_paired_bootstrap(df, "id", "ca", "cb", "ref", n_boot=1)


def test_wer_bootstrap_matches_independent_reference(spark):
    """WER paired bootstrap vs a shared-nothing driver reference
    (word-level DP edit distance + hashlib weights): interval, win
    counts and the both-sides-ok exclusion all equal bit for bit."""
    import hashlib

    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    rows = []
    for i in range(50):
        extra = " ".join(f"x{i}y{k}" for k in range(i % 6))
        ref = f"the quick brown fox tok{i} jumps over lazy {extra}".strip()
        toks = ref.split()
        a = " ".join(t for j, t in enumerate(toks) if j % 7 != (i % 5))
        b = " ".join(t for j, t in enumerate(toks) if j % 4 != (i % 3))
        rows.append((i, a, b, ref))
    # one pair whose A side blows the alphabet: excluded AND counted
    wide = " ".join(f"w{j}" for j in range(130))
    rows.append((99, wide, "a b", "a b c"))
    df = spark.createDataFrame(rows, "id long, ca string, cb string, ref string")
    got = (
        em.wer_paired_bootstrap(df, "id", "ca", "cb", "ref", n_boot=32)
        .collect()[0]
        .asDict()
    )

    def weight(i, b, seed=7):
        h6 = (
            int(hashlib.md5(f"{seed}:{i}:{b}".encode()).hexdigest()[:14], 16)
            % 1_000_000
        )
        for k, t in enumerate(POISSON1_CDF_PPM):
            if h6 < t:
                return k
        return len(POISSON1_CDF_PPM)

    kept = [
        (i, _ref_word_levenshtein(a, ref), _ref_word_levenshtein(b, ref),
         len(ref.split()))
        for (i, a, b, ref) in rows
        if len(set(a.lower().split()) | set(ref.lower().split())) <= 127
        and len(set(b.lower().split()) | set(ref.lower().split())) <= 127
    ]
    assert got["n_pairs"] == len(kept) == 50
    assert got["n_pairs_dropped"] == 1
    deltas = []
    for b in range(32):
        wea = sum(e * weight(i, b) for (i, e, _, _) in kept)
        web = sum(e * weight(i, b) for (i, _, e, _) in kept)
        wrl = sum(r * weight(i, b) for (i, _, _, r) in kept)
        deltas.append(
            round(round(wea / wrl, 6) - round(web / wrl, 6), 6)
        )
    deltas.sort()
    assert got["delta_lo6"] == deltas[0] and got["delta_hi6"] == deltas[31]
    assert got["n_delta_neg"] == sum(1 for d in deltas if d < 0)
    assert got["p_a_better6"] == round(got["n_delta_neg"] / 32, 6)
    # milder corruption = fewer edits: A must win decisively here
    assert got["delta6"] < 0 and got["wer_a6"] < got["wer_b6"]


def _empty_bootstrap(spark, metric):
    """Run one of the eight paired bootstraps over empty input."""
    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators import ranking as rk

    def frame(schema):
        return spark.createDataFrame([], schema)

    seq = "id long, ca string, cb string, ref string"
    binary = "id long, sa double, sb double, label int"
    runs = {
        "bleu": lambda: em.bleu_paired_bootstrap(
            frame(seq), "id", "ca", "cb", "ref"
        ),
        "chrf": lambda: em.chrf_paired_bootstrap(
            frame(seq), "id", "ca", "cb", "ref"
        ),
        "wer": lambda: em.wer_paired_bootstrap(
            frame(seq), "id", "ca", "cb", "ref"
        ),
        "rouge": lambda: em.rouge_paired_bootstrap(
            frame(seq), "id", "ca", "cb", "ref"
        ),
        "qa": lambda: em.qa_paired_bootstrap(
            frame("qid long, pa string, pb string, gold string"),
            "qid",
            "pa",
            "pb",
            "gold",
        ),
        "auc": lambda: em.auc_paired_bootstrap(
            frame(binary), "id", "sa", "sb", "label"
        ),
        "pr": lambda: em.pr_paired_bootstrap(
            frame(binary), "id", "sa", "sb", "label"
        ),
        "ndcg": lambda: rk.ranking_paired_bootstrap(
            frame("q long, item string, rank long"),
            frame("q long, item string, rank long"),
            frame("q long, item string"),
            "q",
            "item",
            "rank",
        ),
    }
    return [r.asDict() for r in runs[metric]().collect()]


#: Empty-input rows of the paired-bootstrap family: ROUGE and QA have no
#: metric rows to emit; the others emit one row with zero counts, zero
#: delta counts and NULL interval/probability (BLEU and chrF keep their
#: one-shot finisher's 0.0 score on an empty corpus).
_EMPTY_BOOTSTRAP_ROWS = {
    "bleu": {"n_pairs": 0, "bleu_a6": 0.0, "bleu_b6": 0.0, "delta6": 0.0},
    "chrf": {"n_pairs": 0, "chrf_a6": 0.0, "chrf_b6": 0.0, "delta6": 0.0},
    "wer": {
        "n_pairs": 0,
        "n_pairs_dropped": 0,
        "wer_a6": None,
        "wer_b6": None,
        "delta6": None,
    },
    "rouge": None,
    "qa": None,
    "auc": {
        "n_samples": 0,
        "n_excluded": 0,
        "auc_a6": None,
        "auc_b6": None,
        "delta6": None,
    },
    "pr": {
        "n_samples": 0,
        "n_excluded": 0,
        "ap_a6": None,
        "ap_b6": None,
        "delta6": None,
    },
    "ndcg": {
        "n_queries": 0,
        "n_queries_ungraded": 0,
        "ndcg_a6": None,
        "ndcg_b6": None,
        "delta6": None,
    },
}


@pytest.mark.parametrize("metric", sorted(_EMPTY_BOOTSTRAP_ROWS))
def test_paired_bootstrap_empty_input_contract(spark, metric):
    """One degenerate-replicate contract for all eight bootstraps: with
    zero surviving deltas the delta counts read 0 (never NULL) and the
    interval and win probability are NULL; full-sample counts read 0."""
    rows = _empty_bootstrap(spark, metric)
    want = _EMPTY_BOOTSTRAP_ROWS[metric]
    if want is None:
        assert rows == []
        return
    assert len(rows) == 1
    want = {
        **want,
        "n_boot": 32,
        "delta_lo6": None,
        "delta_hi6": None,
        "n_delta_pos": 0,
        "n_delta_neg": 0,
        "p_a_better6": None,
    }
    assert rows[0] == want


def test_wer_bootstrap_drops_replicates_without_reference_words(spark):
    """One pair, A exact and B one substitution off: every replicate
    that draws the pair at weight >= 1 has A winning, and every
    replicate that draws it at weight 0 has no reference words, so no
    WER — it drops out of the win fraction instead of diluting it."""
    import hashlib

    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    df = spark.createDataFrame(
        [(1, "a b c", "a x c", "a b c")],
        "id long, ca string, cb string, ref string",
    )
    got = em.wer_paired_bootstrap(df, "id", "ca", "cb", "ref").collect()[0]

    def drawn(b, seed=7):
        h6 = (
            int(hashlib.md5(f"{seed}:1:{b}".encode()).hexdigest()[:14], 16)
            % 1_000_000
        )
        return h6 >= POISSON1_CDF_PPM[0]

    survivors = sum(drawn(b) for b in range(32))
    assert 0 < survivors < 32, "degenerate fixture: no zero-weight replicate"
    assert got["n_pairs"] == 1 and got["n_pairs_dropped"] == 0
    assert (got["wer_a6"], got["wer_b6"], got["delta6"]) == (
        0.0,
        0.333333,
        -0.333333,
    )
    assert got["n_delta_neg"] == survivors and got["n_delta_pos"] == 0
    assert got["p_a_better6"] == 1.0
    # the nearest-rank bounds are priced against the requested 32
    # replicates: rank 32 does not exist among the survivors
    assert got["delta_lo6"] == -0.333333 and got["delta_hi6"] is None


def test_chrf_bootstrap_matches_independent_reference(spark):
    """chrF paired bootstrap vs a shared-nothing reference: a
    replicate's weighted cells equal the cells of the pair list with
    each pair REPEATED weight times, so _chrf_ref over the expanded
    list reproduces every replicate score independently."""
    import hashlib

    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    rows = _bootstrap_corpus()
    df = spark.createDataFrame(rows, "id long, ca string, cb string, ref string")
    got = (
        em.chrf_paired_bootstrap(df, "id", "ca", "cb", "ref", n_boot=32)
        .collect()[0]
        .asDict()
    )

    def weight(i, b, seed=7):
        h6 = (
            int(hashlib.md5(f"{seed}:{i}:{b}".encode()).hexdigest()[:14], 16)
            % 1_000_000
        )
        for k, t in enumerate(POISSON1_CDF_PPM):
            if h6 < t:
                return k
        return len(POISSON1_CDF_PPM)

    deltas = []
    for b in range(32):
        ea, eb = [], []
        for (i, ca, cb, ref) in rows:
            w = weight(i, b)
            ea += [(ca, ref)] * w
            eb += [(cb, ref)] * w
        deltas.append(round(_chrf_ref(ea) - _chrf_ref(eb), 6))
    deltas.sort()
    assert got["delta_lo6"] == deltas[0] and got["delta_hi6"] == deltas[31]
    assert got["n_delta_pos"] == sum(1 for d in deltas if d > 0)
    assert got["p_a_better6"] == round(got["n_delta_pos"] / 32, 6)
    # full-corpus scores are the one-shot metric verbatim
    assert (
        got["chrf_a6"]
        == em.chrf_score(df, "id", "ca", "ref").collect()[0]["chrf6"]
    )
    assert got["delta6"] > 0  # milder corruption wins


def test_rouge_bootstrap_matches_independent_reference(spark):
    """ROUGE paired bootstrap (one row per metric) vs a shared-nothing
    reference: Counter cells + classic-DP LCS over weight-expanded
    pair lists reproduce every replicate's per-metric F1."""
    import hashlib
    from collections import Counter

    from tests.test_property_round13 import _lcs_dp
    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    rows = _bootstrap_corpus()
    df = spark.createDataFrame(rows, "id long, ca string, cb string, ref string")
    got = {
        r["metric"]: r.asDict()
        for r in em.rouge_paired_bootstrap(
            df, "id", "ca", "cb", "ref", n_boot=32
        ).collect()
    }
    assert set(got) == {"rouge1", "rouge2", "rougeL"}

    def weight(i, b, seed=7):
        h6 = (
            int(hashlib.md5(f"{seed}:{i}:{b}".encode()).hexdigest()[:14], 16)
            % 1_000_000
        )
        for k, t in enumerate(POISSON1_CDF_PPM):
            if h6 < t:
                return k
        return len(POISSON1_CDF_PPM)

    def cells(cand, ref):
        c, r = cand.lower().split(), ref.lower().split()
        out = {}
        for n in (1, 2):
            cg = Counter(tuple(c[i:i + n]) for i in range(len(c) - n + 1))
            rg = Counter(tuple(r[i:i + n]) for i in range(len(r) - n + 1))
            m = sum(min(v, rg[g]) for g, v in cg.items() if g in rg)
            out[f"rouge{n}"] = (m, sum(cg.values()), sum(rg.values()))
        out["rougeL"] = (_lcs_dp(c, r), len(c), len(r))
        return out

    def rep_f1(side, b, metric):
        m = c = r = 0
        for (i, ca, cb, ref) in rows:
            w = weight(i, b)
            cl = cells(ca if side == "a" else cb, ref)[metric]
            m += cl[0] * w
            c += cl[1] * w
            r += cl[2] * w
        return round(2 * m / (c + r), 6) if c + r else None

    for metric in ("rouge1", "rouge2", "rougeL"):
        deltas = sorted(
            round(rep_f1("a", b, metric) - rep_f1("b", b, metric), 6)
            for b in range(32)
        )
        g = got[metric]
        assert g["delta_lo6"] == deltas[0] and g["delta_hi6"] == deltas[31], metric
        assert g["n_delta_pos"] == sum(1 for d in deltas if d > 0), metric
        assert g["p_a_better6"] == round(g["n_delta_pos"] / 32, 6)
        # the full scores are the one-shot operator verbatim
    one = {
        r["metric"]: r["f1_6"]
        for r in em.corpus_rouge(df, "id", "ca", "ref").collect()
    }
    for metric in got:
        assert got[metric]["f1_a6"] == one[metric]


def test_qa_grouped_matches_per_slice(spark):
    """qa_report(group_col=...) — the multi-system leaderboard slice —
    equals qa_report over each slice bit for bit: the group rides the
    row projection (the wer_pairs pattern, no join-back) into the same
    cells + shared finisher under a groupBy."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (f"sys{i % 3}", i,
         " ".join(f"w{(i * j) % 7}" for j in range(1, 6 - i % 2)),
         " ".join(f"w{(i * j) % 7}" for j in range(1, 6)))
        for i in range(30)
    ] + [("sys0", 100, "", ""), ("sys1", 101, "the a an", "x")]
    df = spark.createDataFrame(
        rows, "system string, qid long, pred string, gold string"
    )
    by = {
        r["system"]: r.asDict()
        for r in em.qa_report(
            df, "qid", "pred", "gold", group_col="system"
        ).collect()
    }
    assert set(by) == {"sys0", "sys1", "sys2"}
    for g in by:
        want = em.qa_report(
            df.where(F.col("system") == g), "qid", "pred", "gold"
        ).collect()[0].asDict()
        got = dict(by[g])
        got.pop("system")
        assert got == want


def test_qa_store_stream_matches_batch_exactly(spark, tmp_path):
    """Maintained QA store: questions streamed over a two-file source
    and appended inside foreachBatch; the store report equals the
    one-shot qa_report over the union BIT FOR BIT (cells are additive
    because grades are computed within a question; question ids are
    disjoint across batches per the store contract)."""
    import time

    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i,
         " ".join(f"w{(i * j) % 7}" for j in range(1, 6 - i % 2)),
         " ".join(f"w{(i * j) % 7}" for j in range(1, 4 + (i % 3))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "qid long, pred string, gold string")
    src = tmp_path / "qa_src"
    df.where("qid % 2 = 0").coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(1.1)
    df.where("qid % 2 = 1").coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*/"))
    )
    state_dir = str(tmp_path / "qa_state")

    def process(batch_df, epoch_id):
        em.qa_append_batch(batch_df, state_dir, epoch_id, "qid", "pred", "gold")

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_qa"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    store = spark.read.parquet(state_dir)
    assert store.select("batch_id").distinct().count() >= 2
    got = em.qa_from_store(spark, state_dir).collect()[0].asDict()
    want = em.qa_report(df, "qid", "pred", "gold").collect()[0].asDict()
    assert got == want and want["f1_mean6"] > 0


def _auc_reference(pairs):
    """Shared-nothing AUC reference: average-rank Mann-Whitney over
    (score, label) tuples."""
    import collections

    by_score = collections.defaultdict(lambda: [0, 0])
    for s, y in pairs:
        by_score[round(s, 6)][y] += 1
    below_neg, numer2 = 0, 0
    for s in sorted(by_score):
        neg, pos = by_score[s][0], by_score[s][1]
        numer2 += pos * (2 * below_neg + neg)
        below_neg += neg
    P = sum(v[1] for v in by_score.values())
    N = sum(v[0] for v in by_score.values())
    return round(numer2 / (2.0 * P * N), 6)


def test_auc_matches_reference_and_handles_ties(spark):
    """auc_report equals the average-rank Mann-Whitney reference on a
    tie-heavy sample; perfect/inverted/random edge shapes pin the
    scale; NULL rows excluded-and-counted; single-class AUC is NULL."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(5)
    pairs = [
        (round(rng.choice([0.1, 0.3, 0.5, 0.7, 0.7, 0.9]), 6),
         1 if rng.random() < 0.5 else 0)
        for _ in range(300)
    ]
    rows = [(i, s, y) for i, (s, y) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    got = em.auc_report(df, "id", "score", "label").collect()[0].asDict()
    assert got["auc6"] == _auc_reference(pairs)
    assert got["n_samples"] == 300 and got["n_excluded"] == 0
    assert got["gini6"] == round(2 * got["auc6"] - 1, 6)

    # perfect separation -> 1.0; inverted -> 0.0; all-tied -> 0.5
    perfect = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.8, 1), (3, 0.2, 0), (4, 0.1, 0)],
        "id long, score double, label int",
    )
    assert em.auc_report(perfect, "id", "score", "label").collect()[0][
        "auc6"
    ] == 1.0
    inv = perfect.withColumn("label", 1 - F.col("label"))
    assert em.auc_report(inv, "id", "score", "label").collect()[0][
        "auc6"
    ] == 0.0
    tied = spark.createDataFrame(
        [(1, 0.5, 1), (2, 0.5, 0), (3, 0.5, 1), (4, 0.5, 0)],
        "id long, score double, label int",
    )
    assert em.auc_report(tied, "id", "score", "label").collect()[0][
        "auc6"
    ] == 0.5

    # NULLs excluded + counted; one-class -> NULL auc
    withnull = spark.createDataFrame(
        [(1, 0.9, 1), (2, None, 1), (3, 0.2, None), (4, 0.1, 1)],
        "id long, score double, label int",
    )
    r = em.auc_report(withnull, "id", "score", "label").collect()[0].asDict()
    assert r["n_excluded"] == 2 and r["n_samples"] == 2
    assert r["auc6"] is None and r["gini6"] is None


def test_auc_grouped_matches_per_slice(spark):
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        (i, f"m{i % 2}", round(((i * 37) % 100) / 100.0, 6),
         1 if ((i * 53) % 100) < ((i * 37) % 100) else 0)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "id long, model string, score double, label int"
    )
    by = {
        r["model"]: r.asDict()
        for r in em.auc_report(
            df, "id", "score", "label", group_col="model"
        ).collect()
    }
    for m in ("m0", "m1"):
        want = em.auc_report(
            df.where(F.col("model") == m), "id", "score", "label"
        ).collect()[0].asDict()
        got = dict(by[m])
        got.pop("model")
        assert got == want


def test_calibration_matches_hand_computation(spark):
    """calibration_report against a hand-built two-bin case, the
    perfectly-calibrated zero-ECE shape, out-of-range exclusion, and
    grouped == sliced."""
    from lightfusion_spark.operators import evalmetrics as em

    # two bins (n_bins=2): bin0 = [0,.5): conf .2/.4 acc 0/2 ;
    # bin1 = [.5,1]: conf .6/1.0 acc 2/2
    rows = [
        (1, 0.2, 0), (2, 0.4, 0), (3, 0.6, 1), (4, 1.0, 1),
    ]
    df = spark.createDataFrame(rows, "id long, conf double, correct int")
    bins = {
        r["bin"]: r.asDict()
        for r in em.calibration_bins(
            df, "id", "conf", "correct", n_bins=2
        ).collect()
    }
    assert bins[0]["n"] == 2 and bins[0]["accuracy6"] == 0.0
    assert bins[0]["avg_conf6"] == 0.3 and bins[0]["gap6"] == 0.3
    assert bins[1]["accuracy6"] == 1.0 and bins[1]["avg_conf6"] == 0.8
    assert bins[1]["gap6"] == round(abs(1.0 - 0.8), 6)
    rep = em.calibration_report(
        df, "id", "conf", "correct", n_bins=2
    ).collect()[0].asDict()
    # ece = (2*0.3 + 2*0.2) / 4
    assert rep["ece6"] == round((2 * 0.3 + 2 * 0.2) / 4, 6)
    assert rep["mce6"] == 0.3
    assert rep["accuracy6"] == 0.5 and rep["n_bins_nonempty"] == 2

    # the 1.0 edge lands in the LAST bin, not a phantom bin n_bins
    assert set(bins) == {0, 1}

    # out-of-range / NULL excluded and counted
    dirty = spark.createDataFrame(
        rows + [(5, 1.5, 1), (6, -0.1, 0), (7, None, 1), (8, 0.5, None)],
        "id long, conf double, correct int",
    )
    rep2 = em.calibration_report(
        dirty, "id", "conf", "correct", n_bins=2
    ).collect()[0].asDict()
    assert rep2["n_excluded"] == 4 and rep2["n_samples"] == 4
    assert rep2["ece6"] == rep["ece6"]

    # grouped == sliced
    g = spark.createDataFrame(
        [(i, f"m{i % 2}", round((i % 10) / 10.0, 6), 1 if i % 3 else 0)
         for i in range(100)],
        "id long, model string, conf double, correct int",
    )
    by = {
        r["model"]: r.asDict()
        for r in em.calibration_report(
            g, "id", "conf", "correct", group_col="model"
        ).collect()
    }
    for m in ("m0", "m1"):
        want = em.calibration_report(
            g.where(F.col("model") == m), "id", "conf", "correct"
        ).collect()[0].asDict()
        got = dict(by[m])
        got.pop("model")
        assert got == want


def test_qa_bootstrap_matches_independent_reference(spark):
    """qa_paired_bootstrap against a shared-nothing driver reference
    (hashlib + Counter over weight-expanded question lists), the
    family convention: every replicate EM/F1 score, the deltas, the
    nearest-rank interval, and the full-score identity with
    qa_report.  Systems are chosen so EM and F1 DISAGREE: system A
    reverses the gold (EM 0, bag-of-token F1 1), system B copies it
    with one token dropped (EM 0... so instead: A = exact copy on
    half the questions, B = reversed copy always — A wins EM
    decisively while F1 is much closer)."""
    import hashlib

    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

    def norm_toks(s):
        import re

        cleaned = re.sub(r"[^a-z0-9\s]", "", s.lower())
        toks = [t for t in cleaned.split() if t and t not in ("a", "an", "the")]
        return toks

    def grade(pred, golds):
        import collections

        best_em, best_f1 = 0, 0.0
        seen = set()
        for g in golds:
            ng = " ".join(norm_toks(g))
            if ng in seen:
                continue
            seen.add(ng)
            np_ = " ".join(norm_toks(pred))
            em_ = 1 if np_ == ng else 0
            pt, gt = norm_toks(pred), norm_toks(g)
            if not pt or not gt:
                f1 = float(em_)
            else:
                cp, cg = collections.Counter(pt), collections.Counter(gt)
                m = sum(min(cp[w], cg[w]) for w in cp)
                f1 = round(2.0 * m / (len(pt) + len(gt)), 6)
            best_em, best_f1 = max(best_em, em_), max(best_f1, f1)
        return best_em, best_f1

    rows, golds_by_q = [], {}
    for q in range(60):
        gold1 = " ".join(f"w{(q * j) % 11}" for j in range(1, 6))
        gold2 = " ".join(f"w{(q * j) % 11}" for j in range(1, 5))
        golds_by_q[q] = [gold1, gold2]
        pa = gold1 if q % 2 == 0 else " ".join(reversed(gold1.split()))
        pb = " ".join(reversed(gold1.split()))
        for g in (gold1, gold2):
            rows.append((q, pa, pb, g))
    df = spark.createDataFrame(
        rows, "qid long, pa string, pb string, gold string"
    )
    n_boot, seed = 16, 7
    got = {
        r["metric"]: r.asDict()
        for r in em.qa_paired_bootstrap(
            df, "qid", "pa", "pb", "gold", n_boot=n_boot, seed=seed
        ).collect()
    }

    # shared-nothing reference
    def md5_56(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    def poisson_w(qid, b):
        h6 = md5_56(f"{seed}:{qid}:{b}") % 1_000_000
        for k, thr in enumerate(POISSON1_CDF_PPM):
            if h6 < thr:
                return k
        return len(POISSON1_CDF_PPM)

    per_q = {}
    for q in golds_by_q:
        pa = golds_by_q[q][0] if q % 2 == 0 else " ".join(
            reversed(golds_by_q[q][0].split())
        )
        pb = " ".join(reversed(golds_by_q[q][0].split()))
        per_q[q] = (grade(pa, golds_by_q[q]), grade(pb, golds_by_q[q]))

    deltas = {"em": [], "f1": []}
    for b in range(n_boot):
        tot = ea = eb = 0
        fa = fb = 0.0
        for q, ((ema, f1a), (emb, f1b)) in per_q.items():
            w = poisson_w(q, b)
            tot += w
            ea += w * ema
            eb += w * emb
            fa += w * f1a
            fb += w * f1b
        deltas["em"].append(
            round(round(ea / tot, 6) - round(eb / tot, 6), 6)
        )
        deltas["f1"].append(
            round(round(fa / tot, 6) - round(fb / tot, 6), 6)
        )
    for metric in ("em", "f1"):
        ds = sorted(deltas[metric])
        g = got[metric]
        assert g["n_boot"] == n_boot and g["n_questions"] == 60
        assert g["delta_lo6"] == ds[0] and g["delta_hi6"] == ds[-1], metric
        assert g["n_delta_pos"] == sum(1 for d in ds if d > 0)
        assert g["n_delta_neg"] == sum(1 for d in ds if d < 0)
    # full-score identity with qa_report
    full_a = em.qa_report(df, "qid", "pa", "gold").collect()[0]
    full_b = em.qa_report(df, "qid", "pb", "gold").collect()[0]
    assert got["em"]["score_a6"] == full_a["em_rate6"]
    assert got["em"]["score_b6"] == full_b["em_rate6"]
    assert got["f1"]["score_a6"] == full_a["f1_mean6"]
    assert got["f1"]["score_b6"] == full_b["f1_mean6"]
    # the designed disagreement: A wins EM decisively; F1 gap smaller
    assert got["em"]["delta6"] > got["f1"]["delta6"] >= 0
    assert got["em"]["p_a_better6"] == 1.0


def _spearman_reference(pairs):
    """Shared-nothing Spearman with average ranks (no scipy)."""
    def avg_ranks(vals):
        s = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(s):
            j = i
            while j + 1 < len(s) and vals[s[j + 1]] == vals[s[i]]:
                j += 1
            r = (i + j) / 2.0 + 1.0
            for k in range(i, j + 1):
                ranks[s[k]] = r
            i = j + 1
        return ranks

    a = avg_ranks([round(p[0], 6) for p in pairs])
    b = avg_ranks([round(p[1], 6) for p in pairs])
    n = len(pairs)
    sx, sy = sum(a), sum(b)
    sxy = sum(x * y for x, y in zip(a, b))
    sxx, syy = sum(x * x for x in a), sum(y * y for y in b)
    num = n * sxy - sx * sy
    den = ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    return round(num / den, 6)


def test_spearman_matches_reference_and_edges(spark):
    """spearman_report equals the average-rank reference on a
    tie-heavy sample; monotonic -> 1, reversed -> -1, constant side
    -> NULL, NULLs excluded-and-counted, grouped == sliced."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(11)
    pairs = [
        (rng.choice([1, 2, 2, 3, 5]) / 10.0,
         (rng.choice([1, 2, 2, 3, 5]) + rng.choice([0, 1])) / 10.0)
        for _ in range(200)
    ]
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, sa double, sb double")
    got = em.spearman_report(df, "id", "sa", "sb").collect()[0].asDict()
    assert got["rho6"] == _spearman_reference(pairs)
    assert got["n_samples"] == 200 and got["n_excluded"] == 0

    mono = spark.createDataFrame(
        [(i, i / 10.0, (i * i) / 100.0) for i in range(20)],
        "id long, sa double, sb double",
    )
    assert em.spearman_report(mono, "id", "sa", "sb").collect()[0][
        "rho6"
    ] == 1.0
    rev = mono.withColumn("sb", -F.col("sb"))
    assert em.spearman_report(rev, "id", "sa", "sb").collect()[0][
        "rho6"
    ] == -1.0
    const = mono.withColumn("sb", F.lit(0.5))
    r = em.spearman_report(const, "id", "sa", "sb").collect()[0]
    assert r["rho6"] is None and r["n_distinct_b"] == 1

    withnull = spark.createDataFrame(
        [(1, 0.1, 0.2), (2, None, 0.3), (3, 0.4, None), (4, 0.5, 0.9)],
        "id long, sa double, sb double",
    )
    r2 = em.spearman_report(withnull, "id", "sa", "sb").collect()[0]
    assert r2["n_excluded"] == 2 and r2["n_samples"] == 2

    g = spark.createDataFrame(
        [(i, f"m{i % 2}", ((i * 37) % 50) / 50.0,
          (((i * 37) % 50) + ((i * 53) % 30)) / 80.0)
         for i in range(120)],
        "id long, model string, sa double, sb double",
    )
    by = {
        r["model"]: r.asDict()
        for r in em.spearman_report(
            g, "id", "sa", "sb", group_col="model"
        ).collect()
    }
    for m in ("m0", "m1"):
        want = em.spearman_report(
            g.where(F.col("model") == m), "id", "sa", "sb"
        ).collect()[0].asDict()
        gotm = dict(by[m])
        gotm.pop("model")
        assert gotm == want


def test_spearman_sums_exact_past_int64(spark):
    """Round-15 regression (the r14 verdict's top item): the five
    sufficient sums must accumulate as DECIMAL(38,0) SUMMANDS, not
    int64.  2M distinct-score rows put sum(x*x) ~ 4n^3/3 ~ 1.1e19
    past 2^63 — the old cast-AFTER-sum shape aborts with
    ARITHMETIC_OVERFLOW under ANSI (silently wraps otherwise); the
    decimal-summand shape returns the exact rho."""
    from lightfusion_spark.operators import evalmetrics as em

    n = 2_000_000
    df = spark.range(n).select(
        F.col("id"),
        F.col("id").cast("double").alias("sa"),
        (F.lit(float(n)) - F.col("id").cast("double")).alias("sb"),
    )
    r = em.spearman_report(df, "id", "sa", "sb").collect()[0].asDict()
    assert r["n_samples"] == n and r["n_excluded"] == 0
    assert r["n_distinct_a"] == n and r["n_distinct_b"] == n
    assert r["rho6"] == -1.0


def test_auc_grouped_fully_excluded_group_emits_row(spark):
    """Round-15 regression (ADVICE): a group whose rows are ALL
    NULL-score/label must still emit a row with its exclusion count —
    the EXCLUDED AND COUNTED contract; the old inner join from cells
    (built from _ok rows only) silently dropped it."""
    from lightfusion_spark.operators import evalmetrics as em

    df = spark.createDataFrame(
        [
            (1, "m0", 0.9, 1),
            (2, "m0", 0.1, 0),
            (3, "m1", None, 1),
            (4, "m1", 0.5, None),
        ],
        "id long, model string, score double, label int",
    )
    by = {
        r["model"]: r.asDict()
        for r in em.auc_report(
            df, "id", "score", "label", group_col="model"
        ).collect()
    }
    assert set(by) == {"m0", "m1"}
    m1 = by["m1"]
    assert m1["n_excluded"] == 2 and m1["n_samples"] == 0
    assert m1["n_pos"] == 0 and m1["n_neg"] == 0
    assert m1["auc6"] is None and m1["gini6"] is None
    m0 = by["m0"]
    assert m0["n_samples"] == 2 and m0["auc6"] == 1.0


def test_calibration_grouped_fully_excluded_group_emits_row(spark):
    """Same contract for calibration_report: NULL / out-of-[0,1]
    confidences exclude every row of group m1 — its row must survive
    the join with n_samples 0 and NULL rates."""
    from lightfusion_spark.operators import evalmetrics as em

    df = spark.createDataFrame(
        [
            (1, "m0", 0.9, 1),
            (2, "m0", 0.2, 0),
            (3, "m1", None, 1),
            (4, "m1", 1.5, 0),
        ],
        "id long, model string, conf double, correct int",
    )
    by = {
        r["model"]: r.asDict()
        for r in em.calibration_report(
            df, "id", "conf", "correct", n_bins=10, group_col="model"
        ).collect()
    }
    assert set(by) == {"m0", "m1"}
    m1 = by["m1"]
    assert m1["n_samples"] == 0 and m1["n_excluded"] == 2
    assert m1["n_bins_nonempty"] == 0
    assert m1["accuracy6"] is None and m1["avg_conf6"] is None
    assert m1["ece6"] is None and m1["mce6"] is None
    assert by["m0"]["n_samples"] == 2 and by["m0"]["n_excluded"] == 0


def test_qa_em_f1_group_violation_is_per_group_deterministic(spark):
    """Round-15 regression (ADVICE): when a caller violates the
    group-constant-per-question contract, the documented behavior —
    one row per (question, group), each graded deterministically — is
    now real: _grp rides the dedupe and count keys, so the same
    (qid, pred, gold) under two groups grades identically in BOTH
    groups instead of a partition-dependent single survivor."""
    from lightfusion_spark.operators import evalmetrics as em

    df = spark.createDataFrame(
        [
            ("q1", "sysA", "paris", "paris"),
            ("q1", "sysB", "paris", "paris"),
            ("q2", "sysA", "london", "london city"),
        ],
        "qid string, sys string, pred string, gold string",
    )
    out = {
        (r["sys"], r["qid"]): r.asDict()
        for r in em.qa_em_f1(
            df, "qid", "pred", "gold", group_col="sys"
        ).collect()
    }
    assert set(out) == {("sysA", "q1"), ("sysB", "q1"), ("sysA", "q2")}
    assert out[("sysA", "q1")]["em"] == 1 and out[("sysA", "q1")]["f1_6"] == 1.0
    assert out[("sysB", "q1")]["em"] == 1 and out[("sysB", "q1")]["f1_6"] == 1.0
    # f1 = 2*1 / (1 + 2) on the multiset unigram overlap
    assert out[("sysA", "q2")]["em"] == 0
    assert out[("sysA", "q2")]["f1_6"] == round(2 * 1 / 3.0, 6)


def _pr_reference(pairs):
    """Shared-nothing PR reference: sklearn-convention AP (each tie
    block one threshold, descending) with block precisions ROUNDED at
    6 and the weighted sum exact (the operator's stated definition),
    plus the best-F1 operating point with higher-threshold tiebreak."""
    import collections
    from decimal import Decimal

    by_score = collections.defaultdict(lambda: [0, 0])
    for s, y in pairs:
        by_score[round(s, 6)][y] += 1
    P = sum(v[1] for v in by_score.values())
    N = sum(v[0] for v in by_score.values())
    if P == 0:
        return {"ap6": None, "best": None, "P": P, "N": N}
    tp = fp = 0
    apsum = Decimal(0)
    best = None
    for s in sorted(by_score, reverse=True):
        neg, pos = by_score[s][0], by_score[s][1]
        tp += pos
        fp += neg
        prec6 = round(tp / (tp + fp), 6)
        f16 = round(2 * tp / (tp + fp + P), 6)
        rec6 = round(tp / P, 6)
        apsum += Decimal(pos) * Decimal(f"{prec6:.6f}")
        cand = (f16, s, prec6, rec6)
        best = cand if best is None else max(best, cand)
    return {
        "ap6": round(float(apsum) / P, 6),
        "best": best,
        "P": P,
        "N": N,
    }


def test_pr_matches_reference_and_edges(spark):
    """pr_report equals the shared-nothing reference on a tie-heavy
    sample; perfect separation gives AP 1.0 / F1 1.0; no-positive
    slices yield NULL metrics; NULLs excluded-and-counted; grouped ==
    sliced; fully-excluded group emits its row."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(23)
    pairs = [
        (round(rng.choice([0.1, 0.3, 0.5, 0.5, 0.7, 0.9]), 6),
         1 if rng.random() < 0.3 else 0)
        for _ in range(400)
    ]
    rows = [(i, s, y) for i, (s, y) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    got = em.pr_report(df, "id", "score", "label").collect()[0].asDict()
    want = _pr_reference(pairs)
    assert got["n_samples"] == 400 and got["n_excluded"] == 0
    assert got["n_pos"] == want["P"] and got["n_neg"] == want["N"]
    assert got["ap6"] == want["ap6"]
    assert (
        got["best_f1_6"],
        got["best_f1_threshold6"],
        got["best_f1_precision6"],
        got["best_f1_recall6"],
    ) == want["best"]

    perfect = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.8, 1), (3, 0.2, 0), (4, 0.1, 0)],
        "id long, score double, label int",
    )
    p = em.pr_report(perfect, "id", "score", "label").collect()[0].asDict()
    assert p["ap6"] == 1.0 and p["best_f1_6"] == 1.0
    assert p["best_f1_threshold6"] == 0.8
    assert p["best_f1_precision6"] == 1.0 and p["best_f1_recall6"] == 1.0

    # no positives -> NULL metrics (undefined, not 0)
    nopos = perfect.withColumn("label", F.lit(0))
    r = em.pr_report(nopos, "id", "score", "label").collect()[0].asDict()
    assert r["n_pos"] == 0 and r["n_neg"] == 4
    assert r["ap6"] is None and r["best_f1_6"] is None

    # all positives -> AP exactly 1 (precision 1 at every block)
    allpos = perfect.withColumn("label", F.lit(1))
    r2 = em.pr_report(allpos, "id", "score", "label").collect()[0].asDict()
    assert r2["ap6"] == 1.0 and r2["best_f1_6"] == 1.0

    # NULLs excluded + counted
    withnull = spark.createDataFrame(
        [(1, 0.9, 1), (2, None, 1), (3, 0.2, None), (4, 0.1, 0)],
        "id long, score double, label int",
    )
    r3 = em.pr_report(withnull, "id", "score", "label").collect()[0].asDict()
    assert r3["n_excluded"] == 2 and r3["n_samples"] == 2

    # grouped == sliced, and a fully-excluded group keeps its row
    grows = [
        (i, f"m{i % 2}", round(((i * 37) % 100) / 100.0, 6),
         1 if ((i * 53) % 100) < ((i * 37) % 100) else 0)
        for i in range(200)
    ] + [(900, "m2", None, 1), (901, "m2", 0.5, None)]
    gdf = spark.createDataFrame(
        grows, "id long, model string, score double, label int"
    )
    by = {
        r["model"]: r.asDict()
        for r in em.pr_report(
            gdf, "id", "score", "label", group_col="model"
        ).collect()
    }
    assert set(by) == {"m0", "m1", "m2"}
    for m in ("m0", "m1"):
        want_m = em.pr_report(
            gdf.where(F.col("model") == m), "id", "score", "label"
        ).collect()[0].asDict()
        got_m = dict(by[m])
        got_m.pop("model")
        assert got_m == want_m
    m2 = by["m2"]
    assert m2["n_excluded"] == 2 and m2["n_samples"] == 0
    assert m2["ap6"] is None and m2["best_f1_6"] is None


def test_pr_best_f1_tiebreak_is_higher_threshold(spark):
    """Two blocks with identical F1 must resolve to the HIGHER
    threshold deterministically (the struct-max contract)."""
    from lightfusion_spark.operators import evalmetrics as em

    # engineered exact tie with P = 2 positives:
    #   block t=0.9: tp=1, fp=1 -> f1 = 2*1/(1+1+2) = 0.5
    #   block t=0.4: tp=2, fp=4 -> f1 = 2*2/(2+4+2) = 0.5
    # identical f1 -> the struct max must pick the HIGHER threshold
    rows = (
        [(1, 0.9, 1), (2, 0.9, 0)]          # hi block: 1 pos, 1 neg
        + [(3, 0.4, 1), (4, 0.4, 0), (5, 0.4, 0), (6, 0.4, 0)]
    )
    df = spark.createDataFrame(rows, "id long, score double, label int")
    r = em.pr_report(df, "id", "score", "label").collect()[0].asDict()
    assert r["best_f1_6"] == 0.5
    assert r["best_f1_threshold6"] == 0.9


def _auc_weighted_reference(items, n_boot=32, seed=7):
    """Shared-nothing paired-AUC bootstrap reference: md5/ppm
    Poisson(1) weights per (id, b), weighted average-rank
    Mann-Whitney per replicate, nearest-rank interval."""
    import collections
    import hashlib

    def h6(i, b):
        s = f"{seed}:{i}:{b}".encode()
        return int(hashlib.md5(s).hexdigest()[:14], 16) % 1_000_000

    def pois(u):
        from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

        for k, thr in enumerate(POISSON1_CDF_PPM):
            if u < thr:
                return k
        return len(POISSON1_CDF_PPM)

    def wauc(pairs):
        by = collections.defaultdict(lambda: [0, 0])
        for s, y, w in pairs:
            by[round(s, 6)][y] += w
        below, numer2 = 0, 0
        for s in sorted(by):
            neg, pos = by[s][0], by[s][1]
            numer2 += pos * (2 * below + neg)
            below += neg
        P = sum(v[1] for v in by.values())
        N = sum(v[0] for v in by.values())
        if P == 0 or N == 0:
            return None
        return round(numer2 / (2.0 * P * N), 6)

    deltas = []
    for b in range(n_boot):
        ws = {i: pois(h6(i, b)) for i, _, _, _ in items}
        sa = wauc([(a, y, ws[i]) for i, a, _, y in items])
        sb = wauc([(bb, y, ws[i]) for i, _, bb, y in items])
        if sa is not None and sb is not None:
            deltas.append(round(sa - sb, 6))
    ds = sorted(deltas)
    full_a = wauc([(a, y, 1) for i, a, _, y in items])
    full_b = wauc([(bb, y, 1) for i, _, bb, y in items])
    return {
        "auc_a6": full_a,
        "auc_b6": full_b,
        "delta6": round(full_a - full_b, 6),
        "delta_lo6": ds[0],
        "delta_hi6": ds[len(ds) - 1],
        "n_delta_pos": sum(1 for d in deltas if d > 0),
        "n_delta_neg": sum(1 for d in deltas if d < 0),
        "p_a_better6": round(
            sum(1 for d in deltas if d > 0) / len(deltas), 6
        ),
    }


def test_auc_paired_bootstrap_matches_reference(spark):
    """auc_paired_bootstrap reproduces every replicate of the
    shared-nothing reference (weights, weighted rank-sums, deltas,
    nearest-rank interval) on systems where A genuinely leads;
    NULL-on-either-side rows excluded-and-counted."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(31)
    items = []
    for i in range(300):
        signal = rng.random()
        y = 1 if rng.random() < signal else 0
        a = round(signal, 6)
        # B sees the signal 60% of the time, noise otherwise
        bscore = round(signal if rng.random() < 0.6 else rng.random(), 6)
        items.append((i, a, bscore, y))
    df = spark.createDataFrame(
        [(i, a, b, y) for i, a, b, y in items],
        "id long, sa double, sb double, label int",
    )
    got = em.auc_paired_bootstrap(df, "id", "sa", "sb", "label").collect()[
        0
    ].asDict()
    want = _auc_weighted_reference(items)
    assert got["n_samples"] == 300 and got["n_excluded"] == 0
    assert got["n_boot"] == 32
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)
    # A's lead is real in (almost) every resampled world
    assert got["delta6"] > 0 and got["p_a_better6"] >= 0.9

    # NULL on either side excludes the pair
    withnull = spark.createDataFrame(
        [
            (1, 0.9, 0.8, 1),
            (2, None, 0.5, 1),
            (3, 0.4, None, 0),
            (4, 0.2, 0.1, None),
            (5, 0.7, 0.6, 0),
        ],
        "id long, sa double, sb double, label int",
    )
    r = em.auc_paired_bootstrap(
        withnull, "id", "sa", "sb", "label"
    ).collect()[0].asDict()
    assert r["n_samples"] == 2 and r["n_excluded"] == 3

    # r15 advice: a one-class corpus drops EVERY replicate — the
    # delta counts must read 0 (not NULL) while the interval and
    # p_a_better columns go NULL (the documented dropped-replicate
    # contract; AUC itself is undefined with one class)
    oneclass = spark.createDataFrame(
        [(i, 0.5 + i / 100.0, 0.4 + i / 100.0, 1) for i in range(8)],
        "id long, sa double, sb double, label int",
    )
    d = em.auc_paired_bootstrap(
        oneclass, "id", "sa", "sb", "label"
    ).collect()[0].asDict()
    assert d["n_samples"] == 8
    assert d["n_delta_pos"] == 0 and d["n_delta_neg"] == 0
    for col in ("auc_a6", "auc_b6", "delta6", "delta_lo6", "delta_hi6",
                "p_a_better6"):
        assert d[col] is None, col


def test_paired_bootstrap_grouped_equals_per_slice(spark):
    """r15 verdict item 6: group_col on the paired bootstraps.  An
    item's Poisson weight is a pure function of (id, b) — independent
    of the slicing — so each grouped slice must equal the ungrouped
    run over that slice alone BIT FOR BIT, for BOTH harnesses; a NULL
    group value is a real slice; a fully-excluded slice still emits
    (zero delta counts, NULL values)."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(59)
    rows = []
    for i in range(240):
        g = [None, "m0", "m1"][i % 3]
        signal = rng.random()
        y = 1 if rng.random() < max(signal, 0.15) else 0
        a = round(signal, 6)
        bscore = round(signal if rng.random() < 0.5 else rng.random(), 6)
        rows.append((i, g, a, bscore, y))
    rows += [(900, "dead", None, 0.5, 1), (901, "dead", 0.4, None, 0)]
    df = spark.createDataFrame(
        rows, "id long, model string, sa double, sb double, label int"
    )
    for fn in (em.auc_paired_bootstrap, em.pr_paired_bootstrap):
        by = {
            r["model"]: r.asDict()
            for r in fn(
                df, "id", "sa", "sb", "label", group_col="model"
            ).collect()
        }
        assert set(by) == {None, "m0", "m1", "dead"}
        for g in (None, "m0", "m1"):
            sliced = (
                df.where(F.col("model").isNull())
                if g is None
                else df.where(F.col("model") == g)
            )
            want = fn(sliced, "id", "sa", "sb", "label").collect()[
                0
            ].asDict()
            got = dict(by[g])
            got.pop("model")
            assert got == want, (fn.__name__, g, got, want)
        dead = by["dead"]
        assert dead["n_samples"] == 0 and dead["n_excluded"] == 2
        assert dead["n_delta_pos"] == 0 and dead["n_delta_neg"] == 0
        assert dead["delta6"] is None and dead["p_a_better6"] is None


def _ap_weighted_reference(items, n_boot=32, seed=7):
    """Shared-nothing paired-AP bootstrap reference: md5/ppm
    Poisson(1) weights per (id, b), pr_report's exact AP fold
    (per-block precision rounded at 6, Decimal weighted sum over
    integer block weights) per replicate, nearest-rank interval."""
    import collections
    import hashlib
    from decimal import Decimal

    def h6(i, b):
        s = f"{seed}:{i}:{b}".encode()
        return int(hashlib.md5(s).hexdigest()[:14], 16) % 1_000_000

    def pois(u):
        from lightfusion_spark.operators.evalmetrics import POISSON1_CDF_PPM

        for k, thr in enumerate(POISSON1_CDF_PPM):
            if u < thr:
                return k
        return len(POISSON1_CDF_PPM)

    def wap(pairs):
        by = collections.defaultdict(lambda: [0, 0])
        for s, y, w in pairs:
            by[round(s, 6)][y] += w
        P = sum(v[1] for v in by.values())
        if P == 0:
            return None
        tp = fp = 0
        apsum = Decimal(0)
        for s in sorted(by, reverse=True):
            neg, pos = by[s][0], by[s][1]
            if neg == 0 and pos == 0:
                continue  # zero-weight block: absent from this world
            tp += pos
            fp += neg
            prec6 = round(tp / (tp + fp), 6)
            apsum += Decimal(pos) * Decimal(f"{prec6:.6f}")
        return round(float(apsum) / P, 6)

    deltas = []
    for b in range(n_boot):
        ws = {i: pois(h6(i, b)) for i, _, _, _ in items}
        sa = wap([(a, y, ws[i]) for i, a, _, y in items])
        sb = wap([(bb, y, ws[i]) for i, _, bb, y in items])
        if sa is not None and sb is not None:
            deltas.append(round(sa - sb, 6))
    ds = sorted(deltas)
    full_a = wap([(a, y, 1) for i, a, _, y in items])
    full_b = wap([(bb, y, 1) for i, _, bb, y in items])
    return {
        "ap_a6": full_a,
        "ap_b6": full_b,
        "delta6": round(full_a - full_b, 6),
        "delta_lo6": ds[0] if len(ds) >= 1 else None,
        "delta_hi6": ds[31] if len(ds) >= 32 else None,
        "n_delta_pos": sum(1 for d in deltas if d > 0),
        "n_delta_neg": sum(1 for d in deltas if d < 0),
        "p_a_better6": round(
            sum(1 for d in deltas if d > 0) / len(deltas), 6
        )
        if deltas
        else None,
    }


def test_pr_paired_bootstrap_matches_reference(spark):
    """pr_paired_bootstrap reproduces every replicate of the
    shared-nothing reference (weights, per-replicate exact AP folds,
    deltas, nearest-rank interval) on the imbalance case the metric
    exists for: model A nails the TOP of the ranking (early
    precision -> AP) while model B wins the bulk ordering (-> AUC) —
    the two harnesses must disagree about the winner."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(47)
    items = []
    for i in range(400):
        y = 1 if rng.random() < 0.08 else 0  # rare positives
        # A: half the positives promoted above everything, rest noise
        a = round(
            0.9 + rng.random() / 10 if y and rng.random() < 0.5
            else rng.random() * 0.9,
            6,
        )
        # B: every positive mildly boosted into the upper bulk
        bscore = round(
            0.55 + rng.random() * 0.45 if y else rng.random(), 6
        )
        items.append((i, a, bscore, y))
    df = spark.createDataFrame(
        items, "id long, sa double, sb double, label int"
    )
    got = em.pr_paired_bootstrap(df, "id", "sa", "sb", "label").collect()[
        0
    ].asDict()
    want = _ap_weighted_reference(items)
    assert got["n_samples"] == 400 and got["n_excluded"] == 0
    assert got["n_boot"] == 32
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)
    # the disagreement the face narrates: A's AP lead is real...
    assert got["delta6"] > 0 and got["p_a_better6"] >= 0.9
    # ...while AUC says B wins the same corpus
    auc = em.auc_paired_bootstrap(df, "id", "sa", "sb", "label").collect()[
        0
    ].asDict()
    assert auc["delta6"] < 0 and auc["p_a_better6"] <= 0.2

    # NULL on either side excludes the pair
    withnull = spark.createDataFrame(
        [
            (1, 0.9, 0.8, 1),
            (2, None, 0.5, 1),
            (3, 0.4, None, 0),
            (4, 0.2, 0.1, None),
            (5, 0.7, 0.6, 0),
        ],
        "id long, sa double, sb double, label int",
    )
    r = em.pr_paired_bootstrap(
        withnull, "id", "sa", "sb", "label"
    ).collect()[0].asDict()
    assert r["n_samples"] == 2 and r["n_excluded"] == 3

    # zero-positive corpus: AP undefined on every replicate AND the
    # full sample — counts 0, value columns NULL (family contract)
    nopos = spark.createDataFrame(
        [(i, 0.5 + i / 100.0, 0.4 + i / 100.0, 0) for i in range(8)],
        "id long, sa double, sb double, label int",
    )
    d = em.pr_paired_bootstrap(
        nopos, "id", "sa", "sb", "label"
    ).collect()[0].asDict()
    assert d["n_samples"] == 8
    assert d["n_delta_pos"] == 0 and d["n_delta_neg"] == 0
    for col in ("ap_a6", "ap_b6", "delta6", "delta_lo6", "delta_hi6",
                "p_a_better6"):
        assert d[col] is None, col


def test_binary_score_store_streamed_equals_one_shot(spark, tmp_path):
    """The binary-score store: three appended batches == the one-shot
    auc_report AND pr_report over the union, bit for bit (shared
    finishers over the summed bounded cells); a batch-id replay is a
    no-op; exclusions ride the store."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(41)
    rows = []
    for i in range(600):
        s = round(rng.choice([0.1, 0.25, 0.5, 0.5, 0.75, 0.9]), 6)
        y = 1 if rng.random() < s else 0
        if i % 97 == 0:
            s = None  # excluded, must be counted through the store
        rows.append((i, s, y))
    df = spark.createDataFrame(rows, "id long, score double, label int")
    state = str(tmp_path / "bin_store")
    for b in range(3):
        em.binary_scores_append_batch(
            df.where(F.col("id") % 3 == b), state, b, "id", "score", "label"
        )

    want_auc = em.auc_report(df, "id", "score", "label").collect()
    got_auc = em.auc_from_store(spark, state).collect()
    assert [r.asDict() for r in got_auc] == [r.asDict() for r in want_auc]

    want_pr = em.pr_report(df, "id", "score", "label").collect()
    got_pr = em.pr_from_store(spark, state).collect()
    assert [r.asDict() for r in got_pr] == [r.asDict() for r in want_pr]
    assert got_auc[0]["n_excluded"] > 0  # the exclusions really rode

    # replay batch 1 under its original id: MAX-collapse makes it a no-op
    em.binary_scores_append_batch(
        df.where(F.col("id") % 3 == 1), state, 1, "id", "score", "label"
    )
    again = em.auc_from_store(spark, state).collect()
    assert [r.asDict() for r in again] == [r.asDict() for r in want_auc]

    # r15 advice: the store manifests its rounding + column contract on
    # first append and REFUSES an incompatible one — cells rounded at
    # different decimals (or scored from a different column) must not
    # merge silently
    with pytest.raises(ValueError, match="score_decimals"):
        em.binary_scores_append_batch(
            df.where(F.col("id") % 3 == 0), state, 7, "id", "score",
            "label", score_decimals=4,
        )
    with pytest.raises(ValueError, match="score_col"):
        em.binary_scores_append_batch(
            df.selectExpr("id", "score AS other", "label").where(
                F.col("id") % 3 == 0
            ), state, 7, "id", "other", "label",
        )
    final = em.auc_from_store(spark, state).collect()  # nothing merged
    assert [r.asDict() for r in final] == [r.asDict() for r in want_auc]


def test_null_group_values_grade_correctly(spark):
    """Round-15 review regression: grouped operators carry the slice
    key through JOINS, and Spark's column-name joins are not
    null-safe — a NULL group value silently never matched (zeroed F1,
    vanished AUC/PR/calibration/Spearman slices).  The internal group
    key is now NULL-encoded, so a NULL slice grades exactly like the
    same data under a non-NULL label, and the output still reports
    the group as NULL."""
    from lightfusion_spark.operators import evalmetrics as em

    # qa_em_f1: NULL-group row must score f1 == em == 1
    qa = spark.createDataFrame(
        [
            ("q1", None, "paris france", "paris france"),
            ("q2", "sysA", "london", "london"),
        ],
        "qid string, sys string, pred string, gold string",
    )
    got = {
        (r["sys"], r["qid"]): r.asDict()
        for r in em.qa_em_f1(qa, "qid", "pred", "gold", group_col="sys").collect()
    }
    assert got[(None, "q1")]["em"] == 1 and got[(None, "q1")]["f1_6"] == 1.0
    assert got[("sysA", "q2")]["f1_6"] == 1.0

    # auc/pr: two valid rows under model=NULL must NOT vanish
    bi = spark.createDataFrame(
        [(1, None, 0.9, 1), (2, None, 0.1, 0), (3, "m0", 0.8, 1), (4, "m0", 0.2, 0)],
        "id long, model string, score double, label int",
    )
    for fn in (em.auc_report, em.pr_report):
        by = {
            r["model"]: r.asDict()
            for r in fn(bi, "id", "score", "label", group_col="model").collect()
        }
        assert set(by) == {None, "m0"}
        assert by[None]["n_samples"] == 2 and by[None]["n_excluded"] == 0
        sliced = fn(
            bi.where(F.col("model").isNull()), "id", "score", "label"
        ).collect()[0].asDict()
        got_null = dict(by[None])
        got_null.pop("model")
        assert got_null == sliced

    # calibration: NULL group slice == ungrouped over the slice
    cal = spark.createDataFrame(
        [(1, None, 0.9, 1), (2, None, 0.2, 0), (3, "m0", 0.7, 1)],
        "id long, model string, conf double, correct int",
    )
    by = {
        r["model"]: r.asDict()
        for r in em.calibration_report(
            cal, "id", "conf", "correct", n_bins=10, group_col="model"
        ).collect()
    }
    assert set(by) == {None, "m0"} and by[None]["n_samples"] == 2
    want = em.calibration_report(
        cal.where(F.col("model").isNull()), "id", "conf", "correct", n_bins=10
    ).collect()[0].asDict()
    got_null = dict(by[None])
    got_null.pop("model")
    assert got_null == want

    # calibration_bins still reports the raw (NULL) group value
    bins = em.calibration_bins(
        cal, "id", "conf", "correct", n_bins=10, group_col="model"
    ).collect()
    assert {r["model"] for r in bins} == {None, "m0"}

    # spearman: NULL-group rows must join their rank tables
    sp = spark.createDataFrame(
        [(i, None if i % 2 == 0 else "j0", i / 10.0, (i * i) / 100.0)
         for i in range(20)],
        "id long, judge string, a double, b double",
    )
    by = {
        r["judge"]: r.asDict()
        for r in em.spearman_report(
            sp, "id", "a", "b", group_col="judge"
        ).collect()
    }
    assert set(by) == {None, "j0"}
    assert by[None]["rho6"] == 1.0 and by[None]["n_samples"] == 10
    assert by["j0"]["rho6"] == 1.0

    # the sentinel cannot collide with a literal 'null:' group value
    tricky = spark.createDataFrame(
        [(1, "null:", 0.9, 1), (2, "null:", 0.1, 0), (3, None, 0.7, 1), (4, None, 0.3, 0)],
        "id long, model string, score double, label int",
    )
    by = {
        r["model"]: r.asDict()
        for r in em.auc_report(
            tricky, "id", "score", "label", group_col="model"
        ).collect()
    }
    assert set(by) == {"null:", None}
    assert by["null:"]["n_samples"] == 2 and by[None]["n_samples"] == 2


def _kendall_reference(pairs):
    """Shared-nothing tau-b reference: joint-cell C/D counting with
    exact integers, the marginal-square tie identity, one float step."""
    import collections
    import math

    by = collections.Counter((round(a, 6), round(b, 6)) for a, b in pairs)
    cells = list(by.items())
    C = D = 0
    for i, ((a1, b1), c1) in enumerate(cells):
        for (a2, b2), c2 in cells[i + 1:]:
            if a1 == a2 or b1 == b2:
                continue
            if (a1 < a2) == (b1 < b2):
                C += c1 * c2
            else:
                D += c1 * c2
    n = sum(by.values())
    ta = collections.Counter()
    tb = collections.Counter()
    for (a, b), c in by.items():
        ta[a] += c
        tb[b] += c
    da = n * n - sum(t * t for t in ta.values())
    db = n * n - sum(t * t for t in tb.values())
    tau = (
        round(2.0 * (C - D) / math.sqrt(float(da) * float(db)), 6)
        if da > 0 and db > 0
        else None
    )
    return {
        "n_samples": n,
        "n_distinct_a": len(ta),
        "n_distinct_b": len(tb),
        "n_cells": len(by),
        "n_concordant": C,
        "n_discordant": D,
        "tau_b6": tau,
    }


def test_kendall_matches_reference_and_edges(spark):
    """kendall_report equals the shared-nothing reference on a
    tie-heavy grid; perfect agreement/reversal hit +/-1; constant
    side -> NULL; NULLs excluded-and-counted; scipy cross-check value
    pinned on a hand sample."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(61)
    pairs = [
        (g, max(0, min(10, g + rng.choice([-2, -1, -1, 0, 0, 0, 1, 1, 2]))))
        for g in (rng.randrange(11) for _ in range(500))
    ]
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, sa double, sb double")
    got = em.kendall_report(df, "id", "sa", "sb").collect()[0].asDict()
    want = _kendall_reference(pairs)
    want["n_excluded"] = 0
    assert got == want

    # hand sample cross-checked against scipy.stats.kendalltau
    # (variant='b'): x=[1,2,2,3], y=[1,2,3,3] -> C=4 ((1,1) beats all
    # three others, (2,2)<(3,3)), D=0, one tied-a pair, one tied-b
    # pair; ta: {1:1,2:2,3:1} sum t^2=6; tb: {1:1,2:1,3:2} sum t^2=6;
    # tau = 2*4/sqrt((16-6)*(16-6)) = 0.8 (scipy agrees)
    hand = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 2.0, 2.0), (2, 2.0, 3.0), (3, 3.0, 3.0)],
        "id long, sa double, sb double",
    )
    h = em.kendall_report(hand, "id", "sa", "sb").collect()[0].asDict()
    assert (h["n_concordant"], h["n_discordant"]) == (4, 0)
    assert h["tau_b6"] == 0.8

    # one discordance breaks it: swap the last y down
    hand2 = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 2.0, 2.0), (2, 2.0, 3.0), (3, 3.0, 1.0)],
        "id long, sa double, sb double",
    )
    h2 = em.kendall_report(hand2, "id", "sa", "sb").collect()[0].asDict()
    # C: (1,1)<(2,2) c, (1,1)<(2,3) c, (2,2)?(3,1) d, (2,3)?(3,1) d,
    # (1,1)?(3,1) tied-b; ta sum t^2 = 6, tb {1:2,2:1,3:1} sum = 6
    assert (h2["n_concordant"], h2["n_discordant"]) == (2, 2)
    assert h2["tau_b6"] == 0.0

    rev = spark.createDataFrame(
        [(i, float(i), float(9 - i)) for i in range(10)],
        "id long, sa double, sb double",
    )
    assert em.kendall_report(rev, "id", "sa", "sb").collect()[0][
        "tau_b6"
    ] == -1.0

    const = spark.createDataFrame(
        [(i, 1.0, float(i)) for i in range(5)],
        "id long, sa double, sb double",
    )
    c = em.kendall_report(const, "id", "sa", "sb").collect()[0].asDict()
    assert c["tau_b6"] is None and c["n_distinct_a"] == 1

    withnull = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, None, 2.0), (3, 2.0, None), (4, 3.0, 2.0)],
        "id long, sa double, sb double",
    )
    w = em.kendall_report(withnull, "id", "sa", "sb").collect()[0].asDict()
    assert w["n_samples"] == 2 and w["n_excluded"] == 2
    assert w["tau_b6"] == 1.0


def test_kendall_grouped_equals_sliced_and_guard(spark):
    """Grouped == per-slice ungrouped (NULL group value included);
    fully-excluded slice emits; the max_cells guard refuses the
    continuous-score regime BEFORE the quadratic join."""
    import random

    import pytest as _pytest

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(67)
    rows = []
    for i in range(300):
        g = [None, "j0", "j1"][i % 3]
        a = rng.randrange(7)
        b = max(0, min(6, a + rng.choice([-1, 0, 0, 1])))
        rows.append((i, g, float(a), float(b)))
    rows += [(900, "dead", None, 1.0), (901, "dead", 2.0, None)]
    df = spark.createDataFrame(
        rows, "id long, judge string, sa double, sb double"
    )
    by = {
        r["judge"]: r.asDict()
        for r in em.kendall_report(
            df, "id", "sa", "sb", group_col="judge"
        ).collect()
    }
    assert set(by) == {None, "j0", "j1", "dead"}
    for g in (None, "j0", "j1"):
        sliced = (
            df.where(F.col("judge").isNull())
            if g is None
            else df.where(F.col("judge") == g)
        )
        want = em.kendall_report(sliced, "id", "sa", "sb").collect()[
            0
        ].asDict()
        got = dict(by[g])
        got.pop("judge")
        assert got == want, (g, got, want)
    dead = by["dead"]
    assert dead["n_samples"] == 0 and dead["n_excluded"] == 2
    assert dead["tau_b6"] is None and dead["n_cells"] == 0

    cont = spark.createDataFrame(
        [(i, i / 1000.0, ((i * 37) % 1000) / 1000.0) for i in range(1000)],
        "id long, sa double, sb double",
    )
    with _pytest.raises(ValueError, match="max_cells"):
        em.kendall_report(cont, "id", "sa", "sb", max_cells=100)



def test_brier_and_logloss_match_reference(spark, tmp_path):
    """brier_report equals the shared-nothing reference (exact decimal
    Brier; per-score rounded -ln terms for log loss); out-of-[0,1]
    scores and NULLs excluded-and-counted; grouped == sliced with a
    fully-excluded slice emitting; the binary-score store serves the
    same numbers bit for bit (its third and fourth metrics)."""
    import math
    import random
    from decimal import Decimal

    from lightfusion_spark.operators import evalmetrics as em

    def reference(pairs, sd=6):
        eps = 10.0 ** (-sd)
        bsum = Decimal(0)
        llsum = Decimal(0)
        n = 0
        for s, y in pairs:
            s = round(s, sd)
            if not (0.0 <= s <= 1.0):
                continue
            n += 1
            sq = Decimal(f"{s:.{sd}f}")
            bsum += (1 - sq) * (1 - sq) if y == 1 else sq * sq
            c = min(max(s, eps), 1.0 - eps)
            r = round(-math.log(c), 6) if y == 1 else round(
                -math.log(1.0 - c), 6
            )
            llsum += Decimal(f"{r:.6f}")
        return (
            round(float(bsum) / n, 6),
            round(float(llsum) / n, 6),
            n,
        )

    rng = random.Random(79)
    pairs = []
    for _ in range(500):
        s = round(rng.choice([0.0, 0.1, 0.25, 0.5, 0.5, 0.75, 0.9, 1.0]), 6)
        y = 1 if rng.random() < s else 0
        pairs.append((s, y))
    rows = [(i, s, y) for i, (s, y) in enumerate(pairs)]
    rows += [(900, None, 1), (901, 0.5, None), (902, 1.7, 1), (903, -0.2, 0)]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    got = em.brier_report(df, "id", "score", "label").collect()[0].asDict()
    want_b, want_ll, want_n = reference(pairs)
    assert got["n_samples"] == want_n == 500
    assert got["n_excluded"] == 4  # two NULLs + two out-of-range
    assert got["brier6"] == want_b
    assert got["logloss6"] == want_ll

    # grouped == sliced; fully-excluded slice emits NULL metrics
    grows = [(i, ["m0", "m1", None][i % 3], s, y)
             for i, (s, y) in enumerate(pairs)]
    grows += [(900, "dead", None, 1), (901, "dead", 3.0, 0)]
    gdf = spark.createDataFrame(
        grows, "id long, model string, score double, label int"
    )
    by = {
        r["model"]: r.asDict()
        for r in em.brier_report(
            gdf, "id", "score", "label", group_col="model"
        ).collect()
    }
    assert set(by) == {"m0", "m1", None, "dead"}
    for g in ("m0", "m1", None):
        sliced = (
            gdf.where(F.col("model").isNull())
            if g is None
            else gdf.where(F.col("model") == g)
        )
        want = em.brier_report(sliced, "id", "score", "label").collect()[
            0
        ].asDict()
        gd = dict(by[g])
        gd.pop("model")
        assert gd == want, (g, gd, want)
    dead = by["dead"]
    assert dead["n_samples"] == 0 and dead["n_excluded"] == 2
    assert dead["brier6"] is None and dead["logloss6"] is None

    # the store's third/fourth metrics: streamed == one-shot
    state = str(tmp_path / "brier_store")
    clean = spark.createDataFrame(
        [(i, s, y) for i, (s, y) in enumerate(pairs)],
        "id long, score double, label int",
    )
    for b in range(3):
        em.binary_scores_append_batch(
            clean.where(F.col("id") % 3 == b), state, b, "id", "score",
            "label",
        )
    want_store = em.brier_report(clean, "id", "score", "label").collect()
    got_store = em.brier_from_store(spark, state).collect()
    assert [r.asDict() for r in got_store] == [
        r.asDict() for r in want_store
    ]


def test_pass_at_k_matches_reference(spark):
    """pass_at_k equals the exact-Fraction unbiased estimator
    (1 - C(n-c,k)/C(n,k) averaged over tasks) on a mixed-difficulty
    panel; the biased naive estimator disagrees (sanity that we
    implement the right formula); c=0 -> exactly 0, c > n-k -> task
    contributes exactly 1; under-sampled tasks excluded per k; a k no
    task supports emits a NULL row; NULL rows dropped-and-counted."""
    import math
    import random
    from fractions import Fraction

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(83)
    rows = []
    per_task = {}
    for t in range(60):
        n = rng.choice([8, 12, 20])
        p = [0.0, 0.1, 0.3, 0.8][t % 4]
        c = sum(1 for _ in range(n) if rng.random() < p)
        per_task[t] = (n, c)
        rows += [(t, 1) for _ in range(c)] + [(t, 0) for _ in range(n - c)]
    rows += [(None, 1), (3, None)]
    df = spark.createDataFrame(rows, "task long, ok int")
    got = {
        r["k"]: r.asDict()
        for r in em.pass_at_k(df, "task", "ok", ks=(1, 5, 10, 64)).collect()
    }

    def ref(k):
        vals = []
        for n, c in per_task.values():
            if n < k:
                continue
            frac = 1 - Fraction(math.comb(n - c, k), math.comb(n, k))
            vals.append(round(float(frac), 6))
        if not vals:
            return None
        from decimal import Decimal

        s = sum(Decimal(f"{v:.6f}") for v in vals)
        return round(float(s) / len(vals), 6)

    for k in (1, 5, 10):
        g = got[k]
        assert g["n_rows_dropped"] == 2
        want = ref(k)
        assert g["pass_at_k6"] == want, (k, g["pass_at_k6"], want)
        n_elig = sum(1 for n, _ in per_task.values() if n >= k)
        assert g["n_tasks"] == n_elig
        assert g["n_tasks_excluded"] == 60 - n_elig
    # the biased naive estimator 1-(1-c/n)^k must NOT match at k=5
    naive = round(
        sum(
            1 - (1 - c / n) ** 5
            for n, c in per_task.values()
            if n >= 5
        )
        / sum(1 for n, _ in per_task.values() if n >= 5),
        6,
    )
    assert got[5]["pass_at_k6"] != naive
    # k=64: no task has 64 samples -> row emits with NULL mean
    g64 = got[64]
    assert g64["n_tasks"] == 0 and g64["n_tasks_excluded"] == 60
    assert g64["pass_at_k6"] is None

    # exact endpoints: all-fail task -> 0; c > n-k forces a hit -> 1
    ends = spark.createDataFrame(
        [("z", 0)] * 10 + [("w", 1)] * 9 + [("w", 0)],
        "task string, ok int",
    )
    e = {
        r["k"]: r.asDict()
        for r in em.pass_at_k(ends, "task", "ok", ks=(2,)).collect()
    }
    # task z: pass@2 = 0; task w: c=9, n=10, k=2 -> 1 - C(1,2)/C(10,2)
    # and C(1,2)=0 -> exactly 1; mean = 0.5
    assert e[2]["pass_at_k6"] == 0.5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ks"):
        em.pass_at_k(ends, "task", "ok", ks=(0,))


def test_pass_at_k_grouped_equals_per_slice(spark):
    """pass@k per MODEL (the leaderboard form): each grouped slice
    equals the ungrouped run over that slice alone, modulo the
    corpus-global n_rows_dropped column (documented); a NULL group
    value is a real slice; every requested k emits for every observed
    group."""
    import random

    from lightfusion_spark.operators import evalmetrics as em

    rng = random.Random(89)
    rows = []
    for model in (None, "m0", "m1"):
        for t in range(25):
            n = rng.choice([6, 12])
            p = 0.15 + (0.3 if model == "m1" else 0.0)
            for _ in range(n):
                rows.append((model, t, 1 if rng.random() < p else 0))
    rows += [("m0", None, 1), (None, 3, None)]
    df = spark.createDataFrame(rows, "model string, task long, ok int")
    by = {
        (r["model"], r["k"]): r.asDict()
        for r in em.pass_at_k(
            df, "task", "ok", ks=(1, 5, 10), group_col="model"
        ).collect()
    }
    assert {m for m, _ in by} == {None, "m0", "m1"}
    assert all((m, k) in by for m in (None, "m0", "m1") for k in (1, 5, 10))
    for m in (None, "m0", "m1"):
        sliced = (
            df.where(F.col("model").isNull())
            if m is None
            else df.where(F.col("model") == m)
        )
        want = {
            r["k"]: r.asDict()
            for r in em.pass_at_k(sliced, "task", "ok", ks=(1, 5, 10)).collect()
        }
        for k in (1, 5, 10):
            got = dict(by[(m, k)])
            got.pop("model")
            got.pop("n_rows_dropped")
            w = dict(want[k])
            w.pop("n_rows_dropped")
            assert got == w, (m, k, got, w)
    assert by[("m0", 1)]["n_rows_dropped"] == 2  # corpus-global


# ---------------------------------------------------------------------------
# Krippendorff's alpha — ordinal / interval weighting (r16 verdict item 2)


def _alpha_ref(rows, metric):
    """Exact-Fraction reference for weighted Krippendorff's alpha,
    straight from the 2011 coincidence-matrix formulation — the
    independent implementation the Spark operator is asserted against.
    Returns a Fraction, or None when degenerate (Spark gates to 0.0).
    """
    from collections import Counter, defaultdict
    from fractions import Fraction

    res = {}
    for it, an, v in rows:
        if it is None or an is None or v is None:
            continue
        key = (it, an)
        vv = Fraction(str(v))
        res[key] = vv if key not in res else min(res[key], vv)
    units = defaultdict(Counter)
    for (it, _), v in res.items():
        units[it][v] += 1
    units = {u: c for u, c in units.items() if sum(c.values()) >= 2}
    n = sum(sum(c.values()) for c in units.values())
    if n < 2:
        return None
    marg = Counter()
    for c in units.values():
        marg.update(c)
    vals = sorted(marg)

    def d2(a, b):  # a < b in rank order
        if metric == "interval":
            return (b - a) ** 2
        if metric == "nominal":
            return Fraction(1)
        s = sum(marg[g] for g in vals if a <= g <= b)
        return Fraction((2 * s - marg[a] - marg[b]) ** 2, 4)

    de = sum(
        2 * marg[a] * marg[b] * d2(a, b)
        for i, a in enumerate(vals)
        for b in vals[i + 1 :]
    )
    if de == 0:
        return None
    do = Fraction(0)
    for c in units.values():
        m = sum(c.values())
        ks = sorted(c)
        x = sum(
            2 * c[a] * c[b] * d2(a, b)
            for i, a in enumerate(ks)
            for b in ks[i + 1 :]
        )
        do += Fraction(x, m - 1)
    return 1 - Fraction(n - 1) * do / de


_K2011_GRID = {
    "A": [1, 2, 3, 3, 2, 1, 4, 1, 2, None, None, None],
    "B": [1, 2, 3, 3, 2, 2, 4, 1, 2, 5, None, 3],
    "C": [None, 3, 3, 3, 2, 3, 4, 2, 2, 5, 1, None],
    "D": [1, 2, 3, 3, 2, 4, 4, 1, 2, 5, 1, None],
}


def _k2011_rows():
    return [
        (u + 1, obs, _K2011_GRID[obs][u])
        for obs in _K2011_GRID
        for u in range(12)
        if _K2011_GRID[obs][u] is not None
    ]


def test_alpha_ref_harness_reproduces_published_nominal():
    """Validates the Fraction harness itself: on the Krippendorff 2011
    worked example its NOMINAL mode must reproduce the paper's
    published 0.743 (the number the r12 operator already pins)."""
    from fractions import Fraction

    a = _alpha_ref(_k2011_rows(), "nominal")
    assert a == Fraction(226, 304)  # 1 - 39*(40-32)/(1600-1296)
    assert round(float(a), 3) == 0.743


def test_krippendorff_ordinal_matches_fraction_reference(spark):
    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    rows = _k2011_rows()
    df = spark.createDataFrame(
        rows, "item long, annotator string, label long"
    )
    out = krippendorff_alpha(
        df, "item", "annotator", "label", metric="ordinal"
    ).collect()[0]
    ref = _alpha_ref(rows, "ordinal")
    assert out["metric"] == "ordinal"
    assert out["n_values"] == 40
    assert out["n_units"] == 11 and out["n_units_dropped"] == 1
    assert out["n_categories"] == 5 and out["n_rows_dropped"] == 0
    assert abs(out["alpha6"] - float(ref)) < 1e-6
    assert out["alpha6"] == round(float(ref), 6)
    # the known qualitative fact for this grid: ordinal credit for
    # near-miss Likert disagreements beats the nominal coefficient
    nom = krippendorff_alpha(df, "item", "annotator", "label").collect()[0]
    assert out["alpha6"] > nom["alpha6"]
    # partition invariance (exact DECIMAL sums + one per-m division)
    again = krippendorff_alpha(
        df.repartition(7), "item", "annotator", "label", metric="ordinal"
    ).collect()[0]
    assert again.asDict() == out.asDict()


def test_krippendorff_interval_matches_fraction_reference(spark):
    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    rows = _k2011_rows()
    df = spark.createDataFrame(
        rows, "item long, annotator string, label long"
    )
    out = krippendorff_alpha(
        df, "item", "annotator", "label", metric="interval"
    ).collect()[0]
    ref = _alpha_ref(rows, "interval")
    assert out["metric"] == "interval"
    assert abs(out["alpha6"] - float(ref)) < 1e-6
    assert out["alpha6"] == round(float(ref), 6)
    # non-integer values exercise the DECIMAL(18,6) read: halve every
    # score — interval alpha is scale-invariant, so it must not move
    half = spark.createDataFrame(
        [(i, a, v / 2.0) for i, a, v in rows],
        "item long, annotator string, label double",
    )
    out2 = krippendorff_alpha(
        half, "item", "annotator", "label", metric="interval"
    ).collect()[0]
    assert out2["alpha6"] == out["alpha6"]


def test_krippendorff_weighted_random_panels_match_reference(spark):
    """Ragged random panels (2-5 raters, missing cells, duplicate votes,
    NULL rows) across three seeds: ordinal AND interval alpha6 must
    equal the exact-Fraction reference rounded at 6."""
    import random

    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    for seed in (7, 21, 1234):
        rng = random.Random(seed)
        rows = []
        for u in range(40):
            for a in range(5):
                if rng.random() < 0.35:
                    continue  # missing cell
                rows.append((u, a, rng.choice([1, 2, 3, 4, 5])))
        rows.append((0, 0, rows[0][2]))  # duplicate vote (min-resolves)
        rows += [(None, 0, 1), (3, None, 2), (5, 1, None)]
        df = spark.createDataFrame(
            rows, "item long, annotator long, label long"
        )
        for metric in ("ordinal", "interval"):
            out = krippendorff_alpha(
                df, "item", "annotator", "label", metric=metric
            ).collect()[0]
            ref = _alpha_ref(rows, metric)
            assert abs(out["alpha6"] - float(ref)) < 1e-6, (seed, metric)
            assert out["n_rows_dropped"] == 3, (seed, metric)


def test_krippendorff_two_categories_all_metrics_agree(spark):
    """With exactly two observed categories every difference function is
    a single scalar, which cancels between D_o and D_e — nominal,
    ordinal and interval alpha must coincide bit-for-bit at round-6."""
    import random

    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    rng = random.Random(99)
    rows = [
        (u, a, rng.choice([0, 1]))
        for u in range(30)
        for a in range(3)
        if rng.random() < 0.8
    ]
    df = spark.createDataFrame(rows, "item long, annotator long, label long")
    nom = krippendorff_alpha(df, "item", "annotator", "label").collect()[0]
    for metric in ("ordinal", "interval"):
        out = krippendorff_alpha(
            df, "item", "annotator", "label", metric=metric
        ).collect()[0]
        assert out["alpha6"] == nom["alpha6"], metric


def test_krippendorff_weighted_degenerate_and_validation(spark):
    import pytest

    from lightfusion_spark.operators.evalmetrics import krippendorff_alpha

    schema = "item long, annotator long, label long"
    # single category -> D_e = 0, gated to 0.0 (never NaN)
    df = spark.createDataFrame(
        [(i, a, 3) for i in range(5) for a in range(3)], schema
    )
    out = krippendorff_alpha(
        df, "item", "annotator", "label", metric="ordinal"
    ).collect()[0]
    assert out["alpha6"] == 0.0 and out["d_o"] == 0.0 and out["d_e"] == 0.0
    # empty input -> zero row, not a crash
    out = krippendorff_alpha(
        spark.createDataFrame([], schema),
        "item",
        "annotator",
        "label",
        metric="interval",
    ).collect()[0]
    assert out["n_values"] == 0 and out["alpha6"] == 0.0
    # non-numeric labels cast to NULL -> counted as dropped rows
    df = spark.createDataFrame(
        [(1, 0, "good"), (1, 1, "bad"), (2, 0, "1"), (2, 1, "2")],
        "item long, annotator long, label string",
    )
    out = krippendorff_alpha(
        df, "item", "annotator", "label", metric="ordinal"
    ).collect()[0]
    assert out["n_rows_dropped"] == 2 and out["n_values"] == 2
    # unknown metric refuses loudly
    with pytest.raises(ValueError, match="metric must be one of"):
        krippendorff_alpha(df, "item", "annotator", "label", metric="ratio")


def test_pass_at_k_all_invalid_group_still_emits(spark):
    """r16 advisory: a slice whose rows are ALL NULL-verdict must emit
    zero-task rows per k rather than vanish from the grouped output —
    matching the ungrouped form's behavior on an all-invalid input."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = [
        ("m0", "t1", True),
        ("m0", "t1", False),
        ("m1", "t1", None),  # m1's only evidence: an invalid row
        ("m1", None, True),
        (None, "t2", None),  # NULL group, invalid row
    ]
    df = spark.createDataFrame(
        rows, "model string, task string, ok boolean"
    )
    by = {
        (r["model"], r["k"]): r.asDict()
        for r in em.pass_at_k(
            df, "task", "ok", ks=(1, 2), group_col="model"
        ).collect()
    }
    assert {m for m, _ in by} == {"m0", "m1", None}
    for m in ("m1", None):
        for k in (1, 2):
            r = by[(m, k)]
            assert r["n_tasks"] == 0 and r["n_tasks_excluded"] == 0
            assert r["pass_at_k6"] is None
    assert by[("m0", 1)]["n_tasks"] == 1
    assert by[("m0", 1)]["n_rows_dropped"] == 3  # corpus-global, unchanged


def test_binary_store_legacy_without_meta_refused(spark, tmp_path):
    """r16 advisory: a pre-manifest legacy store (cells, no _meta) must
    not be retroactively stamped with the next append's contract, and
    brier_from_store must give a clear error instead of a raw
    AnalysisException."""
    import pytest

    from lightfusion_spark.operators import evalmetrics as em

    path = str(tmp_path / "legacy_scores")
    df = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.2, 0), (3, 0.7, 1)],
        "id long, score double, label int",
    )
    em.binary_scores_append_batch(df, path, 0, "id", "score", "label")
    # simulate the legacy store: cells present, manifest gone
    import shutil

    shutil.rmtree(f"{path}/_meta")
    with pytest.raises(ValueError, match="no _meta manifest"):
        em.binary_scores_append_batch(df, path, 1, "id", "score", "label")
    with pytest.raises(ValueError, match="no _meta manifest"):
        em.brier_from_store(spark, path).collect()
    # AUC/PR (which never needed the manifest) still read the cells
    assert em.auc_from_store(spark, path).collect()[0]["n_pos"] == 2
    # backfilling the manifest as instructed re-enables appends
    spark.createDataFrame(
        [(6, "score", "label")],
        "score_decimals int, score_col string, label_col string",
    ).write.parquet(f"{path}/_meta")
    em.binary_scores_append_batch(
        spark.createDataFrame([(4, 0.4, 0)], "id long, score double, label int"),
        path, 1, "id", "score", "label",
    )
    assert em.auc_from_store(spark, path).collect()[0]["n_pos"] == 2


def test_distinct_ngrams_by_system_slices_equal_ungrouped(spark):
    """r16 verdict item 6: per-model distinct-n — each slice must equal
    the ungrouped run over that slice alone (family rule), the NULL
    group carried null-safely, and distinctness scoped WITHIN a slice
    (a gram two models share counts as distinct in each)."""
    from lightfusion_spark.operators.evalmetrics import distinct_ngrams

    rows = [
        ("m0", 1, "the cat sat on the mat"),
        ("m0", 2, "the cat sat again"),
        ("m1", 3, "the cat sat on the mat"),  # same text as m0's first
        ("m1", 4, "entirely different words here"),
        (None, 5, "the cat sat"),
    ]
    df = spark.createDataFrame(rows, "model string, doc_id long, text string")
    by = {
        (r["model"], r["n"]): r.asDict()
        for r in distinct_ngrams(
            df, "doc_id", "text", 2, group_col="model"
        ).collect()
    }
    assert {m for m, _ in by} == {"m0", "m1", None}
    for m in ("m0", "m1", None):
        sliced = (
            df.where(F.col("model").isNull())
            if m is None
            else df.where(F.col("model") == m)
        )
        want = {
            r["n"]: r.asDict()
            for r in distinct_ngrams(sliced, "doc_id", "text", 2).collect()
        }
        for n in (1, 2):
            got = dict(by[(m, n)])
            got.pop("model")
            assert got == want[n], (m, n, got, want[n])
    # shared text counts as distinct within EACH slice
    assert by[("m0", 2)]["n_distinct"] > 0 and by[("m1", 2)]["n_distinct"] > 0
    # partition invariance of the grouped integer pipeline
    a = sorted(
        map(
            tuple,
            distinct_ngrams(df, "doc_id", "text", 2, group_col="model")
            .collect(),
        )
    , key=str)
    b = sorted(
        map(
            tuple,
            distinct_ngrams(
                df.repartition(5), "doc_id", "text", 2, group_col="model"
            ).collect(),
        )
    , key=str)
    assert a == b


def test_pass_at_k_store_stream_matches_one_shot(spark, tmp_path):
    """r16 verdict item 7: the pass@k store — per-task (n, c) attempt
    pools are additive over disjoint sample sets, so batches SPLITTING
    a task's samples must merge back to the one-shot estimate bit for
    bit; replay is MAX-collapsed; exclusions ride the store; ks is a
    read-time choice; compaction preserves the read."""
    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.storemaint import compact_cell_store

    rows = []
    for t in range(8):
        for s in range(12):  # 12 samples per task, passes vary by tier
            rows.append((f"t{t}", s % (t + 2) == 0))
    rows += [(None, True), ("t0", None), (None, None)]  # 3 invalid
    schema = "task string, ok boolean"
    all_df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "passk_cells")
    # split so every task's samples SPAN batches (the use case)
    chunks = [rows[0::3], rows[1::3], rows[2::3]]
    for b, chunk in enumerate(chunks):
        em.pass_at_k_append_batch(
            spark.createDataFrame(chunk, schema), path, b, "task", "ok"
        )
    want = sorted(
        map(tuple, em.pass_at_k(all_df, "task", "ok", ks=(1, 5, 10, 20)).collect())
    )
    got = sorted(
        map(
            tuple,
            em.pass_at_k_from_store(spark, path, ks=(1, 5, 10, 20)).collect(),
        )
    )
    assert got == want
    # replay batch 1: bit-identical rows, MAX-collapse -> no-op
    em.pass_at_k_append_batch(
        spark.createDataFrame(chunks[1], schema), path, 1, "task", "ok"
    )
    assert (
        sorted(
            map(
                tuple,
                em.pass_at_k_from_store(
                    spark, path, ks=(1, 5, 10, 20)
                ).collect(),
            )
        )
        == want
    )
    # a different read-time k works off the same pools
    assert em.pass_at_k_from_store(spark, path, ks=(12,)).collect()[0][
        "n_tasks"
    ] == 8
    # exclusions rode the store
    assert got[0][-2] == 3 or want[0][-2] == 3  # n_rows_dropped column
    # generic compaction preserves the read bit for bit
    r = compact_cell_store(spark, path)
    assert r["files_after"] == 1 and r["rows_collapsed"] > 0
    assert (
        sorted(
            map(
                tuple,
                em.pass_at_k_from_store(
                    spark, path, ks=(1, 5, 10, 20)
                ).collect(),
            )
        )
        == want
    )
    with pytest.raises(ValueError, match="positive ints"):
        em.pass_at_k_from_store(spark, path, ks=(0,))


def test_qa_em_f1_paired_matches_per_side_graders(spark):
    """_qa_em_f1_paired (the shared-pass grader qa_paired_bootstrap
    uses) is bit-identical per side to two independent qa_em_f1 runs,
    across multi-alternative, duplicate-alternative, empty-normalize,
    and clipped-multiset edge cases."""
    from lightfusion_spark.operators import evalmetrics as em

    rows = spark.createDataFrame(
        [
            (1, "the cat sat", "sat cat the", "a cat sat"),
            (1, "the cat sat", "sat cat the", "the dog ran"),
            (1, "the cat sat", "sat cat the", "A Cat Sat!"),
            (2, "", "no answer", "no answer"),
            (2, "", "no answer", ""),
            (3, "alpha beta beta", "alpha", "beta alpha"),
            (4, "x y z", "q r s", "x q z"),
        ],
        "qid long, pa string, pb string, gold string",
    )
    paired = {
        r["_qid"]: r.asDict()
        for r in em._qa_em_f1_paired(rows, "qid", "pa", "pb", "gold").collect()
    }
    for side, col in (("a", "pa"), ("b", "pb")):
        solo = {
            r["qid"]: r.asDict()
            for r in em.qa_em_f1(rows, "qid", col, "gold").collect()
        }
        assert set(solo) == set(paired)
        for qid, want in solo.items():
            assert paired[qid][f"_em_{side}"] == want["em"], (side, qid)
            assert paired[qid][f"_f1_{side}"] == want["f1_6"], (side, qid)


def _keyed_cells(df, keys, vals):
    """``{(key values): (cell values)}`` of a cells DataFrame."""
    return {
        tuple(r[k] for k in keys): tuple(r[v] for v in vals) for r in df.collect()
    }


def _ref_keyed_cells(rows, labels, orders=(), chars=False, lcs=False):
    """The driver reference (tests/test_property_round13.py: Counter
    clipping + the textbook LCS DP) over ``(key, cand texts, ref text)``
    rows of raw strings, keyed like :func:`_keyed_cells`."""
    from tests.test_property_round13 import _project, _ref_corpus_cells

    proj = [
        (k, [_project(c, chars) for c in cands], _project(r, chars))
        for k, cands, r in rows
    ]
    return {
        (k, label): tuple(cell)
        for k, cells in _ref_corpus_cells(proj, orders, chars, lcs).items()
        for label, cell in zip(labels, cells)
    }


def test_paired_seq_and_lcs_cells_match_per_side_folds(spark):
    """The two-sided cells the BLEU/chrF bootstraps read (one
    _clip_cells fold over both candidates, keyed on the pair id) and the
    two-sided LCS cells equal, per side, a shared-nothing driver
    reference — Counter clipping and the textbook LCS DP, since the
    one-sided folds are now the same code — across empty,
    whitespace-only, and repeated-gram edge cases."""
    from lightfusion_spark.operators import evalmetrics as em

    data = [
        (1, "the cat sat on the mat", "cat the sat", "the cat sat"),
        (2, "", "x", "a b c"),
        (3, "a a a b", "b a", "a a b"),
        (4, "q w e", "", ""),
    ]
    rows = spark.createDataFrame(data, "pid long, a string, b string, ref string")
    raw = [(str(pid), [a, b], ref) for pid, a, b, ref in data]
    sides = ["matched_a", "cand_total_a", "matched_b", "cand_total_b", "ref_total"]
    for chars in (False, True):
        orders = range(1, (6 if chars else 4) + 1)
        got = em._clip_cells(
            rows,
            ["a", "b"],
            "ref",
            orders,
            chars=chars,
            group_col="pid",
            keep_grp=True,
        )
        want = _ref_keyed_cells(raw, labels=orders, orders=orders, chars=chars)
        assert _keyed_cells(got, ["_grp", "n"], sides) == want, chars
    got = em._clip_cells(
        rows, ["a", "b"], "ref", key=None, lcs=True, group_col="pid", keep_grp=True
    )
    want = {k: v for (k, _), v in _ref_keyed_cells(raw, [None], lcs=True).items()}
    assert {k: v for (k,), v in _keyed_cells(got, ["_grp"], sides).items()} == want


def test_fused_rouge_cells_match_constituent_folds(spark):
    """_rouge_cells (one Arrow fold for the rouge<n> and rougeL cells)
    equals a shared-nothing driver reference — Counter clipping and the
    textbook LCS DP — ungrouped, grouped (with a NULL group), and on the
    empty corpus, where it keeps exactly one all-zero rougeL row."""
    from lightfusion_spark.operators import evalmetrics as em
    from pyspark.sql import functions as F

    data = [
        (1, "s1", "the cat sat on the mat", "the cat sat"),
        (2, "s1", "", "a b c"),
        (3, "s2", "a a a b", "a a b"),
        (4, "s2", "q w e", ""),
        (5, None, "x y", "x y"),
    ]
    rows = spark.createDataFrame(
        data, "pid long, sys string, cand string, ref string"
    )
    labels = ["rouge1", "rouge2", "rougeL"]
    vals = ["matched", "cand_total", "ref_total"]
    for group_col, key in ((None, lambda sys: 0), ("sys", lambda sys: sys)):
        got = em._rouge_cells(
            rows, "pid", "cand", "ref", max_n=2, group_col=group_col
        )
        keys = [group_col] if group_col else []
        got = _keyed_cells(got, keys + ["metric"], vals)
        if not group_col:
            got = {(0, *k): v for k, v in got.items()}
        want = _ref_keyed_cells(
            [(key(sys), [c], r) for _, sys, c, r in data],
            labels,
            lcs=True,
            orders=range(1, 3),
        )
        assert got == want, group_col
    empty = rows.where(F.lit(False))
    got = em._rouge_cells(empty, "pid", "cand", "ref", max_n=2).collect()
    assert [tuple(r) for r in got] == [("rougeL", 0, 0, 0)]


def test_fused_paired_rouge_cells_match_constituent_folds(spark):
    """The two-sided, pair-keyed rouge<n> and rougeL cells that
    rouge_paired_bootstrap reads (one _clip_cells fold) equal a
    shared-nothing driver reference — Counter clipping and the textbook
    LCS DP — for both sides."""
    from lightfusion_spark.operators import evalmetrics as em

    data = [
        (1, "the cat sat on the mat", "cat the sat", "the cat sat"),
        (2, "", "x", "a b c"),
        (3, "a a a b", "b a", "a a b"),
        (4, "q w e", "", ""),
    ]
    rows = spark.createDataFrame(data, "pid long, a string, b string, ref string")
    got = em._clip_cells(
        rows,
        ["a", "b"],
        "ref",
        range(1, 3),
        key="metric",
        lcs=True,
        group_col="pid",
        keep_grp=True,
    )
    sides = ["matched_a", "cand_total_a", "matched_b", "cand_total_b", "ref_total"]
    want = _ref_keyed_cells(
        [(str(pid), [a, b], ref) for pid, a, b, ref in data],
        ["rouge1", "rouge2", "rougeL"],
        lcs=True,
        orders=range(1, 3),
    )
    assert _keyed_cells(got, ["_grp", "metric"], sides) == want


def test_boot_weight_expr_matches_reference_chain(spark):
    """r18: _boot_weight_expr (one parsed SQL CASE) must reproduce the
    _md5_long + _poisson1_weight Column chain bit for bit — including
    the b = -1 full-sample branch, NULL group keys (concat_ws skips
    NULLs identically), and every ppm threshold boundary."""
    from pyspark.sql import functions as F

    from lightfusion_spark.operators import evalmetrics as em
    from lightfusion_spark.operators.dedup import _md5_long

    rows = spark.createDataFrame(
        [(g, b) for g in ["q1", "17", "", None] for b in range(-1, 33)],
        "_grp string, b int",
    )
    h6 = (
        _md5_long(
            F.concat_ws(":", F.col("_grp"), F.col("b").cast("string")),
            seed=7,
        )
        % F.lit(1_000_000)
    )
    ref = F.when(F.col("b") == -1, F.lit(1)).otherwise(
        em._poisson1_weight(h6)
    )
    got = rows.select(
        "_grp",
        "b",
        ref.alias("w_ref"),
        em._boot_weight_expr("_grp", 7).alias("w_new"),
    ).collect()
    assert all(r["w_ref"] == r["w_new"] for r in got), [
        r for r in got if r["w_ref"] != r["w_new"]
    ][:5]
    # at least one weight must exceed 1 across 33 replicates x 4 keys
    assert any(r["w_new"] > 1 for r in got)
