"""Generic cell-store compaction (r16 verdict item 3): the
`tests/test_annindex.py` pin set, ported — streamed == one-shot
bit-parity survives compaction, replay stays addressable afterwards,
files bounded (test-counted), validation and retry guards."""

import glob

import pytest
from pyspark.sql import functions as F

from lightfusion_spark.operators import conversations as conv_ops
from lightfusion_spark.operators import evalmetrics as em
from lightfusion_spark.operators.storemaint import compact_cell_store


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_binary_score_store_compacts_and_reads_bit_identical(
    spark, tmp_path
):
    path = str(tmp_path / "scores")
    schema = "id long, score double, label int"
    for b in range(3):
        df = spark.createDataFrame(
            [
                (b * 100 + i, (i % 10) / 10.0, 1 if i % 3 == 0 else 0)
                for i in range(30)
            ],
            schema,
        )
        em.binary_scores_append_batch(df, path, b, "id", "score", "label")
    # replay batch 1: appends bit-identical rows (residue)
    em.binary_scores_append_batch(
        spark.createDataFrame(
            [
                (100 + i, (i % 10) / 10.0, 1 if i % 3 == 0 else 0)
                for i in range(30)
            ],
            schema,
        ),
        path,
        1,
        "id",
        "score",
        "label",
    )
    before = {
        "auc": _rows(em.auc_from_store(spark, path)),
        "pr": _rows(em.pr_from_store(spark, path)),
        "brier": _rows(em.brier_from_store(spark, path)),
    }
    files_before = len(glob.glob(f"{path}/*.parquet"))
    r = compact_cell_store(spark, path)
    assert r["files_before"] == files_before > 1
    assert r["files_after"] == len(glob.glob(f"{path}/*.parquet")) == 1
    assert r["rows_collapsed"] > 0  # the replayed batch's residue
    assert r["batches"] == 3
    after = {
        "auc": _rows(em.auc_from_store(spark, path)),
        "pr": _rows(em.pr_from_store(spark, path)),
        "brier": _rows(em.brier_from_store(spark, path)),
    }
    assert after == before  # bit-identical, not tolerance-compared
    # the _meta manifest rode along: a conforming append works, a
    # contract mismatch is still refused
    em.binary_scores_append_batch(
        spark.createDataFrame([(900, 0.5, 1)], schema),
        path,
        3,
        "id",
        "score",
        "label",
    )
    with pytest.raises(ValueError, match="batch contract"):
        em.binary_scores_append_batch(
            spark.createDataFrame([(901, 0.5, 1)], schema),
            path,
            4,
            "id",
            "score",
            "label",
            score_decimals=2,
        )
    # a second compaction is a no-op on rows and keeps one file
    r2 = compact_cell_store(spark, path)
    assert r2["rows_collapsed"] == 0 and r2["files_after"] == 1


def test_bleu_store_stream_parity_survives_compaction(spark, tmp_path):
    path = str(tmp_path / "bleu_cells")
    pairs = [
        (i, f"the cat sat on mat {i}", f"the cat sat on the mat {i}")
        for i in range(40)
    ]
    schema = "id long, cand string, ref string"
    all_df = spark.createDataFrame(pairs, schema)
    for b in range(4):
        em.bleu_append_batch(
            spark.createDataFrame(pairs[b * 10 : (b + 1) * 10], schema),
            path,
            b,
            "id",
            "cand",
            "ref",
        )
    one_shot = _rows(em.corpus_bleu(all_df, "id", "cand", "ref"))
    assert _rows(em.bleu_from_store(spark, path)) == one_shot
    r = compact_cell_store(spark, path)
    assert r["files_after"] == 1 and r["batches"] == 4
    assert _rows(em.bleu_from_store(spark, path)) == one_shot
    # post-compaction appends keep working and keep parity
    extra = [(100 + i, f"a b c {i}", f"a b d {i}") for i in range(5)]
    em.bleu_append_batch(
        spark.createDataFrame(extra, schema), path, 9, "id", "cand", "ref"
    )
    assert _rows(em.bleu_from_store(spark, path)) == _rows(
        em.corpus_bleu(
            spark.createDataFrame(pairs + extra, schema), "id", "cand", "ref"
        )
    )


def test_conversation_store_compaction_preserves_gates(spark, tmp_path):
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    other = (
        "zulu yankee xray whiskey victor uniform tide quart plum onyx "
        "noble mango lemon koala jade iris heron gator fig elm"
    )
    schema = "conversation_id long, turn_idx int, role string, content string"
    state = str(tmp_path / "conv_state")
    conv_ops.conversations_dedup_append_batch_fuzzy(
        spark.createDataFrame([(100, 0, "user", base)], schema), state, 0
    )
    conv_ops.conversations_dedup_append_batch_fuzzy(
        spark.createDataFrame([(200, 0, "user", other)], schema), state, 1
    )
    before = _rows(conv_ops.conversations_dedup_from_store_fuzzy(spark, state))
    r = conv_ops.conversations_dedup_compact_store(spark, state)
    assert set(r) == {"admitted", "bands", "sigs"}
    for rel in r.values():
        assert rel["files_after"] == 1
    assert (
        _rows(conv_ops.conversations_dedup_from_store_fuzzy(spark, state))
        == before
    )
    # the fuzzy gate still reads the compacted bands+sigs: a paraphrase
    # of a pre-compaction admission dies, a fresh conversation lands
    conv_ops.conversations_dedup_append_batch_fuzzy(
        spark.createDataFrame(
            [
                (300, 0, "user", base + " hope that helps"),
                (400, 0, "user", "totally new words entirely here now"),
            ],
            schema,
        ),
        state,
        2,
    )
    got = {
        r["conversation_id"]
        for r in conv_ops.conversations_dedup_from_store_fuzzy(
            spark, state
        ).collect()
    }
    assert got == {100, 200, 400}
    # exact-tier store form: state dir IS the admitted relation
    exact_state = str(tmp_path / "conv_exact")
    for b in range(2):
        conv_ops.conversations_dedup_append_batch(
            spark.createDataFrame(
                [(b * 10, 0, "user", f"text {b}")], schema
            ),
            exact_state,
            b,
        )
    before = _rows(conv_ops.conversations_dedup_from_store(spark, exact_state))
    r = conv_ops.conversations_dedup_compact_store(spark, exact_state)
    assert r["admitted"]["files_after"] == 1
    assert (
        _rows(conv_ops.conversations_dedup_from_store(spark, exact_state))
        == before
    )


def test_compact_cell_store_guards(spark, tmp_path):
    # not a batch-addressed store -> refused
    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(plain)
    with pytest.raises(ValueError, match="no batch_id"):
        compact_cell_store(spark, plain)
    # a stale _compacting dir never blocks the retry; a _pre dir does
    path = str(tmp_path / "cells")
    spark.createDataFrame(
        [(1, 0), (2, 1)], "v long, batch_id long"
    ).write.parquet(path)
    (tmp_path / "cells_compacting").mkdir()
    (tmp_path / "cells_compacting" / "junk").write_text("x")
    r = compact_cell_store(spark, path)
    assert r["files_after"] == 1
    (tmp_path / "cells_pre").mkdir()
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        compact_cell_store(spark, path)
    with pytest.raises(ValueError, match="target_files"):
        compact_cell_store(spark, path, target_files=0)


def test_atomic_replace_semantics(spark, tmp_path):
    """atomic_replace (r17): the staging-write + two-rename swap behind
    the HLL/sketch compactions and the CDC snapshot — the plan may
    read the directory it replaces, stale staging never blocks, a
    crashed-swap _pre refuses, and a first write (no prior store)
    works."""
    from lightfusion_spark.operators.storemaint import atomic_replace

    path = str(tmp_path / "store")
    # first write: no prior directory
    atomic_replace(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        path,
    )
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == [
        (1, 10),
        (2, 20),
    ]
    # replacement whose plan READS the store it replaces (the compaction
    # shape) — with a stale staging dir in the way
    (tmp_path / "store_staging").mkdir()
    (tmp_path / "store_staging" / "junk").write_text("x")
    doubled = spark.read.parquet(path).withColumn(
        "v", F.col("v") * 2
    )
    atomic_replace(spark, doubled, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == [
        (1, 20),
        (2, 40),
    ]
    # a crashed-swap _pre refuses until the operator resolves it
    (tmp_path / "store_pre").mkdir()
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        atomic_replace(spark, doubled, path)


# ---------------------------------------------------------------------
# One replay test for every batch-id-addressed metric store.  Each case
# builds a corpus, splits it into three disjoint batches, and names the
# store's append call plus (reader, one-shot operator) pairs that must
# agree bit for bit, column names and types included (nullability is
# plan metadata the one-shot operators do not hold constant either).


def _pairs(spark):
    rows = [
        (
            i,
            f"tok{i} the quick brown fox {'x ' * (i % 3)}".strip(),
            f"the quick brown fox jumps tok{i}" if i % 11 else None,
        )
        for i in range(36)
    ]
    return spark.createDataFrame(rows, "id long, cand string, ref string")


def _thirds(df, col):
    return [(df.where(F.col(col) % 3 == b),) for b in range(3)]


def _pair_store(append, read, one_shot):
    def build(spark):
        df = _pairs(spark)
        return (
            _thirds(df, "id"),
            lambda path, b, batch: append(batch, path, b, "id", "cand", "ref"),
            [(read, one_shot(df, "id", "cand", "ref"))],
        )

    return build


def _qa_case(spark):
    rows = [
        (
            i,
            " ".join(f"w{(i * j) % 7}" for j in range(1, 6 - i % 2)),
            " ".join(f"w{(i * j) % 7}" for j in range(1, 4 + (i % 3))),
        )
        for i in range(36)
    ]
    df = spark.createDataFrame(rows, "qid long, pred string, gold string")
    return (
        _thirds(df, "qid"),
        lambda path, b, batch: em.qa_append_batch(
            batch, path, b, "qid", "pred", "gold"
        ),
        [(em.qa_from_store, em.qa_report(df, "qid", "pred", "gold"))],
    )


def _ranking_case(spark):
    from lightfusion_spark.operators import ranking as rk

    res = spark.createDataFrame(
        [
            (q, f"i{(q * r) % 5}", r)
            for q in range(1, 10)
            for r in range(1, 4 + q % 2)
        ],
        "q long, item string, rank long",
    )
    gold = spark.createDataFrame(
        [(q, f"i{(q + g) % 5}") for q in range(1, 10) for g in range(2)],
        "q long, item string",
    )
    batches = [
        (res.where(F.col("q") % 3 == b), gold.where(F.col("q") % 3 == b))
        for b in range(3)
    ]
    return (
        batches,
        lambda path, b, r, g: rk.ranking_append_batch(
            r, g, path, b, "q", "item", "rank", k=3
        ),
        [
            (
                rk.ranking_from_store,
                rk.ranking_report(res, gold, "q", "item", "rank", k=3),
            )
        ],
    )


def _winrate_case(spark):
    rows = []
    for i in range(60):
        a, b = f"sys{i % 4}", f"sys{(i // 4) % 4}"
        rows.append((i, a, b, a if i % 3 else b))
    # invalid: self-matches above, a foreign winner, a NULL winner
    rows += [(90, "sys1", "sys0", "sysX"), (91, "sys2", "sys3", None)]
    df = spark.createDataFrame(rows, "mid long, a string, b string, w string")
    return (
        _thirds(df, "mid"),
        lambda path, b, batch: em.winrate_append_batch(
            batch, path, b, "a", "b", "w"
        ),
        [(em.winrate_from_store, em.winrate_report(df, "a", "b", "w"))],
    )


def _binary_case(spark):
    rows = [
        (
            i,
            None if i % 17 == 0 else (i * 7 % 10) / 10.0,
            1 if (i * 7 % 10) >= (i % 5) * 2 else 0,
        )
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "id long, score double, label int")
    args = (df, "id", "score", "label")
    return (
        _thirds(df, "id"),
        lambda path, b, batch: em.binary_scores_append_batch(
            batch, path, b, "id", "score", "label"
        ),
        [
            (em.auc_from_store, em.auc_report(*args)),
            (em.pr_from_store, em.pr_report(*args)),
            (em.brier_from_store, em.brier_report(*args)),
        ],
    )


def _pass_at_k_case(spark):
    rows = [
        (
            i,
            f"t{(i // 3) % 6}",
            None if i % 23 == 0 else i % ((i // 3) % 6 + 2) == 0,
        )
        for i in range(72)
    ]
    df = spark.createDataFrame(rows, "i long, task string, ok boolean")
    ks = (1, 5, 10, 20)
    return (
        # every task's samples span all three batches
        _thirds(df, "i"),
        lambda path, b, batch: em.pass_at_k_append_batch(
            batch, path, b, "task", "ok"
        ),
        [
            (
                lambda spark, path: em.pass_at_k_from_store(spark, path, ks=ks),
                em.pass_at_k(df, "task", "ok", ks=ks),
            )
        ],
    )


STORES = {
    "bleu": _pair_store(em.bleu_append_batch, em.bleu_from_store, em.corpus_bleu),
    "chrf": _pair_store(em.chrf_append_batch, em.chrf_from_store, em.chrf_score),
    "wer": _pair_store(em.wer_append_batch, em.wer_from_store, em.corpus_wer),
    "rouge": _pair_store(
        em.rouge_append_batch, em.rouge_from_store, em.corpus_rouge
    ),
    "qa": _qa_case,
    "ranking": _ranking_case,
    "winrate": _winrate_case,
    "binary_score": _binary_case,
    "pass_at_k": _pass_at_k_case,
}


@pytest.mark.parametrize("store", sorted(STORES))
def test_store_replay_and_compaction_match_one_shot(spark, tmp_path, store):
    """Three batches appended, one replayed under its original id: the
    store read equals the one-shot operator over the union bit for bit,
    column names and types included — and again after compact_cell_store, and again
    after a replay into the compacted store."""
    batches, append, reads = STORES[store](spark)
    path = str(tmp_path / store)

    def check():
        for read, one_shot in reads:
            got = read(spark, path)
            assert got.dtypes == one_shot.dtypes
            assert _rows(got) == _rows(one_shot)

    for b, frames in enumerate(batches):
        append(path, b, *frames)
    append(path, 1, *batches[1])
    assert spark.read.parquet(path).select("batch_id").distinct().count() == 3
    check()
    r = compact_cell_store(spark, path)
    assert r["batches"] == 3 and r["rows_collapsed"] > 0
    assert r["files_after"] == 1
    check()
    append(path, 2, *batches[2])
    check()
