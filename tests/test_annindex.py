"""Persisted IVF index: build-once/search-many parity + pruning.

Filesystem-by-nature (the operator's whole point is the storage
boundary), so pytest-verified rather than driver-faced — the parity
pin against ``topk_cosine_ivf_kmeans`` ties it to a driver-green
operator (`pipe_sim_ivf_kmeans`'s machinery) instead.
"""

import os

import pytest
from pyspark.sql import functions as F

from lightfusion_spark.operators import annindex, similarity


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def built_index(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    meta = annindex.build_ivf_index(
        emb, path, "vec_id", "embedding", n_centroids=8, n_iters=2
    )
    return path, emb, meta


def test_search_matches_train_per_call_path(spark, built_index):
    # nprobe=1 search of the persisted index must be BIT-identical to the
    # train-per-call operator at the same knobs: the persisted assignment
    # IS that operator's intermediate state, and parquet round-trips
    # doubles exactly.
    path, emb, meta = built_index
    q = emb.where(F.col("vec_id") < 10)
    got = annindex.search_ivf_index(spark, path, q, "vec_id", "embedding", k=3)
    want = similarity.topk_cosine_ivf_kmeans(
        emb, q, "vec_id", "embedding", n_centroids=8, n_iters=2, k=3
    )
    assert _rows(got) == _rows(want)


def test_meta_manifest(spark, built_index):
    path, emb, meta = built_index
    assert meta["n_rows"] == emb.count()
    assert meta["n_centroids"] == 8
    on_disk = annindex.read_index_meta(spark, path)
    assert on_disk == meta


def test_search_reads_only_probed_cells(spark, built_index):
    # the pruning claim, measured: the files the search actually touched
    # (input_file_name over the joined cells) lie ONLY under the probed
    # cell directories — not all cells that exist on disk.
    path, emb, meta = built_index
    q = emb.where(F.col("vec_id") < 4)
    cents = spark.read.parquet(f"{path}/centroids")
    probed = {
        r["centroid_id"]
        for r in similarity.assign_to_centroids(
            q, cents, "vec_id", "embedding", 6
        ).collect()
    }
    all_cells = {
        int(d.split("=")[1])
        for d in os.listdir(f"{path}/cells")
        if d.startswith("centroid_id=")
    }
    assert probed < all_cells  # a strict subset, or the test proves nothing
    touched = (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("centroid_id").isin(sorted(probed)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    touched_cells = {
        int(part.split("=")[1])
        for r in touched
        for part in r["f"].split("/")
        if part.startswith("centroid_id=")
    }
    assert touched_cells == probed


def test_nprobe_widens_candidates_not_duplicates(spark, built_index):
    path, emb, meta = built_index
    q = emb.where(F.col("vec_id") < 10)
    r1 = annindex.search_ivf_index(spark, path, q, "vec_id", "embedding", k=3, nprobe=1)
    r2 = annindex.search_ivf_index(spark, path, q, "vec_id", "embedding", k=3, nprobe=2)
    # no (query, neighbor) duplicates at nprobe=2
    pairs = [(r["query_id"], r["neighbor_id"]) for r in r2.collect()]
    assert len(pairs) == len(set(pairs))
    # wider probing can only improve (or tie) each query's best cosine
    best1 = {r["query_id"]: r["cos_sim"] for r in r1.where("rank = 1").collect()}
    best2 = {r["query_id"]: r["cos_sim"] for r in r2.where("rank = 1").collect()}
    assert set(best1) <= set(best2)
    assert all(best2[k] >= best1[k] for k in best1)


def test_dim_mismatch_refused(spark, built_index):
    path, emb, meta = built_index
    bad = emb.select(
        "vec_id", F.slice("embedding", 1, meta["dim"] - 1).alias("embedding")
    ).limit(2)
    with pytest.raises(ValueError, match="dim"):
        annindex.search_ivf_index(spark, path, bad, "vec_id", "embedding", k=3)


def test_build_refuses_ragged_or_null_corpus(spark, tmp_path):
    """Build-time geometry guard (round-10 ADVICE): a ragged corpus
    must be refused at build — a first-row-derived dim would persist a
    valid-looking index whose mismatched cells search wrong."""
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        annindex.build_ivf_index(
            ragged, str(tmp_path / "ix1"), "vec_id", "embedding", n_centroids=2
        )
    with_null = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL"):
        annindex.build_ivf_index(
            with_null, str(tmp_path / "ix2"), "vec_id", "embedding", n_centroids=2
        )


def test_append_batch_frozen_codebook_parity_and_replay(
    spark, sf_dir, tmp_path
):
    """r14 verdict item 7: the store regime applied to the index.
    Appended batches assign to the PERSISTED codebook, so the cells
    relation after streaming b1+b2 into a b0-built index equals the
    frozen-codebook one-shot assignment of the union, row for row;
    a batch-id replay is a ledger-addressed no-op; and a full-probe
    search of the appended index is EXACT brute force."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.where(F.col("vec_id") % 3 == 0)
    b1 = emb.where(F.col("vec_id") % 3 == 1)
    b2 = emb.where(F.col("vec_id") % 3 == 2)
    path = str(tmp_path / "idx_inc")
    annindex.build_ivf_index(
        b0, path, "vec_id", "embedding", n_centroids=8, n_iters=2
    )
    r1 = annindex.ivf_append_batch(b1, path, 1)
    r2 = annindex.ivf_append_batch(b2, path, 2)
    assert r1["applied"] and r2["applied"]
    assert r1["n_rows"] == b1.count() and r2["n_rows"] == b2.count()

    cents = spark.read.parquet(f"{path}/centroids")
    want = sorted(
        map(
            tuple,
            similarity.assign_to_centroids(emb, cents, "vec_id", "embedding")
            .select("vec_id", F.col("centroid_id").cast("long"))
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{path}/cells")
            .select("vec_id", F.col("centroid_id").cast("long"))
            .collect(),
        )
    )
    assert got == want

    # replay under the original batch id: NO-OP
    before = spark.read.parquet(f"{path}/cells").count()
    r1b = annindex.ivf_append_batch(b1, path, 1)
    assert r1b == {"applied": False, "batch_id": 1, "n_rows": 0}
    assert spark.read.parquet(f"{path}/cells").count() == before

    # full probe (nprobe = n_centroids) == exact brute force over the
    # union — searches unchanged by ingest, the done-criterion
    q = emb.where(F.col("vec_id") < 5)
    got_s = annindex.search_ivf_index(
        spark, path, q, "vec_id", "embedding", k=3, nprobe=8
    )
    want_s = similarity.topk_cosine(emb, q, "vec_id", "embedding", k=3)
    assert _rows(got_s) == _rows(want_s)


def test_torn_append_duplicates_collapse_on_search(spark, sf_dir, tmp_path):
    """Crash ordering: cells are written BEFORE the ledger row, so a
    crash between the writes + a replay leaves bit-identical duplicate
    cell rows.  The search side must collapse them (a neighbor can
    never occupy two ranks)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.where(F.col("vec_id") % 3 == 0)
    b1 = emb.where(F.col("vec_id") % 3 == 1)
    path = str(tmp_path / "idx_torn")
    annindex.build_ivf_index(
        b0, path, "vec_id", "embedding", n_centroids=8, n_iters=2
    )
    annindex.ivf_append_batch(b1, path, 1)
    q = emb.where(F.col("vec_id") < 5)
    baseline = _rows(
        annindex.search_ivf_index(
            spark, path, q, "vec_id", "embedding", k=3, nprobe=2
        )
    )
    # simulate the torn write: erase batch 1's ledger row (as if the
    # crash hit after the cells append, before the ledger append)
    ledger = [
        (r["batch_id"], r["n_rows"])
        for r in spark.read.parquet(f"{path}/batches").collect()
        if r["batch_id"] != 1
    ]
    spark.createDataFrame(
        ledger, "batch_id bigint, n_rows bigint"
    ).write.mode("overwrite").parquet(f"{path}/batches")
    # replay: ledger says batch 1 never applied -> cells get a second,
    # bit-identical copy of every batch-1 row
    r = annindex.ivf_append_batch(b1, path, 1)
    assert r["applied"]
    n_dupes = (
        spark.read.parquet(f"{path}/cells")
        .groupBy("vec_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert n_dupes == b1.count()
    got = _rows(
        annindex.search_ivf_index(
            spark, path, q, "vec_id", "embedding", k=3, nprobe=2
        )
    )
    assert got == baseline


def test_append_refuses_mismatched_geometry(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx_guard")
    annindex.build_ivf_index(
        emb, path, "vec_id", "embedding", n_centroids=8, n_iters=2
    )
    bad_dim = emb.select(
        "vec_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim"):
        annindex.ivf_append_batch(bad_dim, path, 9)
    with pytest.raises(ValueError, match="id_col"):
        annindex.ivf_append_batch(emb, path, 9, id_col="other")
    null_vec = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, F.col("embedding")).alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="NULL"):
        annindex.ivf_append_batch(null_vec, path, 9)


def test_id_reuse_with_different_vector_surfaces_not_silently_resolved(
    spark, sf_dir, tmp_path
):
    """ivf_append_batch's disjoint-ids contract (r15 advice): search
    dedupes on the FULL (id, cell, vector) row, so bit-identical replay
    duplicates collapse (the torn-append test) but a contract-breaching
    append that reuses an id with a DIFFERENT vector shows up as the id
    occupying multiple candidate rows — visible, never resolved to a
    partition-order-dependent arbitrary vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.where(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx_reuse")
    annindex.build_ivf_index(
        b0, path, "vec_id", "embedding", n_centroids=4, n_iters=2
    )
    # contract breach: id 0 re-appended with id 3's vector
    breach = (
        emb.where(F.col("vec_id") == 3)
        .select(F.lit(0).cast("long").alias("vec_id"), "embedding")
    )
    annindex.ivf_append_batch(breach, path, 1)
    q = emb.where(F.col("vec_id") == 6).select("vec_id", "embedding")
    got = annindex.search_ivf_index(
        spark, path, q, "vec_id", "embedding", k=1000, nprobe=4
    )
    per_neighbor = (
        got.groupBy("neighbor_id").count().where(F.col("count") > 1).collect()
    )
    assert [r["neighbor_id"] for r in per_neighbor] == [0]


def test_ivf_compact_bounds_files_and_preserves_search(spark, sf_dir, tmp_path):
    """r15 verdict item 4: after N appends each touched cell holds up
    to N+1 files; ivf_compact folds the store to ONE file per cell,
    search results are bit-identical pre/post, the row count equals
    the ledger's accounting, and batch-id replay stays a no-op."""
    import glob

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx_compact")
    annindex.build_ivf_index(
        emb.where(F.col("vec_id") % 4 == 0), path, "vec_id", "embedding",
        n_centroids=8, n_iters=2,
    )
    for b in (1, 2, 3):
        annindex.ivf_append_batch(
            emb.where(F.col("vec_id") % 4 == b), path, b
        )
    q = emb.where(F.col("vec_id") < 8)
    before = _rows(
        annindex.search_ivf_index(
            spark, path, q, "vec_id", "embedding", k=5, nprobe=2
        )
    )
    n_cells = spark.read.parquet(f"{path}/centroids").count()
    files_before = len(glob.glob(f"{path}/cells/centroid_id=*/*.parquet"))
    assert files_before > n_cells  # the small-files problem is real

    r = annindex.ivf_compact(spark, path)
    files_after = len(glob.glob(f"{path}/cells/centroid_id=*/*.parquet"))
    assert r["files_after"] == files_after <= n_cells  # ONE file per cell
    assert r["rows"] == emb.count()
    # temp/staging directories are gone
    assert not glob.glob(f"{path}/cells_pre") + glob.glob(
        f"{path}/cells_compacting"
    )

    after = _rows(
        annindex.search_ivf_index(
            spark, path, q, "vec_id", "embedding", k=5, nprobe=2
        )
    )
    assert after == before
    # the ledger fence survives compaction: replay stays a no-op
    rep = annindex.ivf_append_batch(
        emb.where(F.col("vec_id") % 4 == 2), path, 2
    )
    assert not rep["applied"]


def test_ivf_compact_drops_unledgered_and_collapses_replay_residue(
    spark, sf_dir, tmp_path
):
    """The two fence cases: (1) a TORN append (cells written, ledger
    row lost) is dropped by compaction — the batch never happened, and
    its replay afterwards re-applies cleanly, exactly once; (2) replay
    residue (duplicate rows under a LEDGERED batch id) collapses to
    one copy."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.where(F.col("vec_id") % 3 == 0)
    b1 = emb.where(F.col("vec_id") % 3 == 1)
    path = str(tmp_path / "idx_fence")
    annindex.build_ivf_index(
        b0, path, "vec_id", "embedding", n_centroids=4, n_iters=2
    )
    annindex.ivf_append_batch(b1, path, 1)
    # simulate the torn write + replay: erase batch 1's ledger row,
    # then replay it -> cells hold TWO bit-identical copies of batch 1
    ledger = [
        (r["batch_id"], r["n_rows"])
        for r in spark.read.parquet(f"{path}/batches").collect()
        if r["batch_id"] != 1
    ]
    spark.createDataFrame(
        ledger, "batch_id bigint, n_rows bigint"
    ).write.mode("overwrite").parquet(f"{path}/batches")
    annindex.ivf_append_batch(b1, path, 1)  # re-applies (fence case 2 setup)
    # now ALSO write a torn batch 9: cells land, ledger row does not
    from lightfusion_spark.operators.similarity import assign_to_centroids

    cents = spark.read.parquet(f"{path}/centroids")
    b9 = emb.where(F.col("vec_id") % 3 == 2).limit(10)
    assign_to_centroids(b9, cents, "vec_id", "embedding", 6).select(
        F.col("vec_id"),
        F.col("_v"),
        F.lit(9).cast("long").alias("batch_id"),
        F.col("centroid_id"),
    ).repartition("centroid_id").write.partitionBy("centroid_id").mode(
        "append"
    ).parquet(f"{path}/cells")

    r = annindex.ivf_compact(spark, path)
    cells = spark.read.parquet(f"{path}/cells")
    # torn batch 9 gone; batch 1's residue collapsed to one copy
    assert cells.where(F.col("batch_id") == 9).count() == 0
    assert r["rows"] == b0.count() + b1.count()
    assert (
        cells.groupBy("vec_id").count().where(F.col("count") > 1).count()
        == 0
    )
    # the torn batch replays cleanly AFTER compaction — exactly once
    rep = annindex.ivf_append_batch(b9, path, 9)
    assert rep["applied"] and rep["n_rows"] == 10
    assert (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("batch_id") == 9)
        .count()
        == 10
    )


def test_ivf_compact_tolerates_duplicate_input_rows_and_stale_tmp(
    spark, sf_dir, tmp_path
):
    """r16 advisory: (1) a batch that LEGITIMATELY contained
    bit-identical duplicate input rows (ledger counts them, full-row
    collapse merges them) must compact successfully, reporting the
    collapse instead of aborting forever; (2) an aborted run's
    ``cells_compacting`` leftover must not block the retry."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1).limit(20)
    path = str(tmp_path / "idx_dups")
    annindex.build_ivf_index(
        b0, path, "vec_id", "embedding", n_centroids=4, n_iters=2
    )
    # batch 1 arrives with every row doubled — ledger records 40
    r = annindex.ivf_append_batch(b1.unionAll(b1), path, 1)
    assert r["applied"] and r["n_rows"] == 40
    # simulate an aborted prior compaction leaving the temp dir behind
    (tmp_path / "idx_dups" / "cells_compacting").mkdir()
    (tmp_path / "idx_dups" / "cells_compacting" / "junk").write_text("x")

    q = emb.where(F.col("vec_id") < 8)
    before = _rows(
        annindex.search_ivf_index(
            spark, path, q, "vec_id", "embedding", k=5, nprobe=2
        )
    )
    r = annindex.ivf_compact(spark, path)
    assert r["rows"] == b0.count() + 20
    assert r["rows_collapsed"] == 20  # the doubled batch-1 rows
    after = _rows(
        annindex.search_ivf_index(
            spark, path, q, "vec_id", "embedding", k=5, nprobe=2
        )
    )
    assert after == before
    # a second compaction is a no-op that keeps the bounded layout
    r2 = annindex.ivf_compact(spark, path)
    assert r2["rows"] == r["rows"] and r2["rows_collapsed"] == 0
    assert r2["files_after"] <= r2["files_before"]


def test_ivf_compact_file_counts_come_from_the_fs_api(
    spark, sf_dir, tmp_path
):
    """r16 advisory: files_before/files_after must come from the Hadoop
    FileSystem glob (portable to HDFS/S3), and on local disk they must
    agree with what glob.glob sees."""
    import glob

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx_fsapi")
    annindex.build_ivf_index(
        emb.where(F.col("vec_id") % 2 == 0), path, "vec_id", "embedding",
        n_centroids=4, n_iters=2,
    )
    annindex.ivf_append_batch(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    want_before = len(glob.glob(f"{path}/cells/centroid_id=*/*.parquet"))
    r = annindex.ivf_compact(spark, path)
    assert r["files_before"] == want_before > 0
    assert r["files_after"] == len(
        glob.glob(f"{path}/cells/centroid_id=*/*.parquet")
    )


def test_ivf_compact_refuses_stale_pre(spark, sf_dir, tmp_path):
    """A crash between the swap's two renames leaves ``cells_pre``, which
    may be the only copy of the cells: the next compaction refuses and
    keeps it, and the index searches exactly as before."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx_pre")
    annindex.build_ivf_index(
        emb.where(F.col("vec_id") % 2 == 0), path, "vec_id", "embedding",
        n_centroids=4, n_iters=2,
    )
    annindex.ivf_append_batch(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    q = emb.where(F.col("vec_id") < 8)

    def search():
        return _rows(
            annindex.search_ivf_index(
                spark, path, q, "vec_id", "embedding", k=5, nprobe=2
            )
        )

    before = search()
    (tmp_path / "idx_pre" / "cells_pre").mkdir()
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        annindex.ivf_compact(spark, path)
    assert (tmp_path / "idx_pre" / "cells_pre").is_dir()
    assert search() == before
