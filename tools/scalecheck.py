"""Scale smoke: run the heavy operators on inflated copies of the sf0.1
tables to observe scaling behavior beyond the bench scale.

Inflation replicates each row R times with shifted ids (and a per-replica
suffix word on documents so replicas are *near*-duplicates, exercising
the fuzzy-dedup path rather than trivial exact collapse).  Nothing is
written to disk; results print as one JSON line per scenario.

Usage: python tools/scalecheck.py [--sf /root/testdata/sf0.1]
                                  [--only SUBSTR [SUBSTR ...]]

``--only`` runs just the scenarios whose label contains any of the given
substrings (the full sweep takes ~15 min; a single scenario seconds).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def inflate(df, times: int, id_col: str, id_stride: int, text_col: str | None = None):
    from pyspark.sql import functions as F

    rep = df.crossJoin(
        F.broadcast(
            df.sparkSession.range(times).select(F.col("id").alias("_rep"))
        )
    ).withColumn(id_col, F.col(id_col) + F.col("_rep") * id_stride)
    if text_col is not None:
        rep = rep.withColumn(
            text_col, F.concat_ws(" ", F.col(text_col), F.concat(F.lit("rep"), F.col("_rep")))
        )
    return rep.drop("_rep")


ONLY: list[str] = []


def timed(label, fn):
    if ONLY and not any(s in label for s in ONLY):
        return None
    t0 = time.time()
    n = fn()
    dt = round(time.time() - t0, 2)
    print(json.dumps({"scenario": label, "rows_out": n, "sec": dt}))
    return dt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", nargs="*", default=[])
    args = ap.parse_args()
    ONLY[:] = args.only

    from pyspark.sql import functions as F

    from lightfusion_spark.functions.argmax import argmax
    from lightfusion_spark.functions.inference import make_lightgbm_udf
    from lightfusion_spark.operators import asof as asof_mod
    from lightfusion_spark.operators import dedup, similarity, skew
    from lightfusion_spark.session import start_spark

    spark = start_spark(
        **{
            "spark.driver.memory": "24g",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
        }
    )

    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    emb = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    events = spark.read.parquet(f"{args.sf}/events.parquet")
    n_docs, n_emb, n_ev = docs.count(), emb.count(), events.count()

    docs10 = inflate(docs, 10, "doc_id", 1_000_000, "text")          # 50k near-dup docs
    emb100 = inflate(emb, 100, "vec_id", 1_000_000)                  # 200k vectors
    ev20 = inflate(events, 20, "event_id", 100_000_000)              # 2M events

    print(json.dumps({"base": {"docs": n_docs, "emb": n_emb, "events": n_ev}}))

    timed(
        f"minhash_dedup_{10 * n_docs}_docs",
        lambda: dedup.minhash_near_duplicates(docs10, "doc_id", "text").count(),
    )
    timed(
        f"simhash_fingerprints_{10 * n_docs}_docs",
        lambda: dedup.simhash(docs10, "doc_id", "text").count(),
    )
    # fingerprints cached: both chunk sides of the blocked join reuse them.
    # 16-bit vs 60-bit at the same radius measures the pigeonhole
    # candidate-volume reduction (4-bit chunks match ~1/16 of the corpus,
    # 15-bit chunks ~1/32768) — the reason 60-bit is the operator default.
    for bits in (16, 60):
        fp = dedup.simhash(docs10, "doc_id", "text", bits=bits).cache()
        fp.count()
        timed(
            f"simhash{bits}_blocked_pairs_{10 * n_docs}_docs",
            lambda fp=fp, bits=bits: dedup.simhash_near_duplicates(
                fp, "doc_id", max_hamming=3, bits=bits
            ).count(),
        )
        fp.unpersist()

    # deterministic query set: limit() without ordering is not guaranteed
    # to pick the same rows across evaluations, and the recall table
    # compares results of SEPARATE runs over q
    q = emb.select("vec_id", "embedding").orderBy("vec_id").limit(50)
    timed(
        f"topk_cosine_50q_x_{100 * n_emb}_corpus",
        lambda: similarity.topk_cosine(emb100, q, "vec_id", "embedding", k=5).count(),
    )
    planes = similarity.random_hyperplanes(8, 64)
    timed(
        f"topk_lsh_8planes_50q_x_{100 * n_emb}_corpus",
        lambda: similarity.topk_cosine_lsh(emb100, q, planes, "vec_id", "embedding", k=5).count(),
    )

    model = os.path.join(REPO_ROOT, "lightfusion_spark", "fixtures", "models", "embed_cls.lgbm")
    for bs in (1, 64, 4096):
        udf = make_lightgbm_udf(model, batch_size=bs, spark=spark)
        timed(
            f"inference_{100 * n_emb}_rows_batch{bs}",
            lambda: emb100.select(
                argmax(udf(F.col("embedding").cast("array<double>"))).alias("p")
            ).groupBy("p").count().count(),
        )

    timed(
        f"topk_gemm_50q_x_{100 * n_emb}_corpus",
        lambda: similarity.topk_cosine_gemm(emb100, q, "vec_id", "embedding", k=5).count(),
    )

    timed(
        f"salted_agg_{20 * n_ev}_events_5keys",
        lambda: skew.salted_agg(ev20, ["event_type"], "event_id").count(),
    )

    # Connected-components round count on a worst-case path graph
    # (template-spam chains): two-phase contracts in O(log n) rounds.
    # rows_out records the converged ROUNDS.
    def _cc_rounds(n, max_iterations):
        vs = spark.range(n).select(F.col("id").alias("doc_id"))
        ps = spark.range(n - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        res = dedup.connected_components_detailed(
            ps, vs, "doc_id", max_iterations=max_iterations
        )
        assert res.labels.where(F.col("component") != 0).count() == 0
        return res.rounds

    # 64-node chain: ~7 rounds (min-label propagation took 64)
    timed("cc_two_phase_path64_rounds", lambda: _cc_rounds(64, 25))
    # 8x the chain costs two-phase only ~log2(8)=3 more rounds
    timed("cc_two_phase_path512_rounds", lambda: _cc_rounds(512, 25))

    # Semantic dedup: per-cluster GEMM pair scan at 100x vectors (64 cells
    # keep clusters ~n/64; the SQL pair-scan variant at this size would
    # evaluate ~64x(n/64)^2/2 interpreted folds — the reason GEMM is the
    # default; the SQL shape remains the sf0.01 oracle literal).
    timed(
        f"semantic_dedup_gemm_{100 * n_emb}_vectors_64cells",
        lambda: similarity.semantic_dedup(
            emb100, "vec_id", "embedding", n_centroids=64, n_iters=1, threshold=0.35
        ).count(),
    )

    # K-means reduce A/B at 100x vectors: the exact scaled-BIGINT
    # reduction (oracle contract) vs plain double sums (production fast
    # path) — the gap was 14x when the exact path was DECIMAL(28,9).
    for exact in (True, False):
        timed(
            f"kmeans_1iter_{100 * n_emb}_vectors_16cells_exact{exact}",
            lambda exact=exact: similarity.kmeans_centroids(
                emb100, "vec_id", "embedding",
                n_centroids=16, n_iters=1, exact_reduce=exact,
            ).count(),
        )

    # Keyless range join at 2M events x 100 hot windows: bucketed
    # equi-join vs the naive broadcast nested-loop the same predicate
    # plans without bucketing.
    from lightfusion_spark.operators.asof import bucketed_range_join
    from lightfusion_spark.streaming.events import ts_micros_col

    hour_us = 3_600_000_000
    iv = (
        events.withColumn("ts_us", ts_micros_col(events))
        .where(F.col("event_type") == "purchase")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(100)
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts_us").alias("w_start"),
            (F.col("ts_us") + F.lit(hour_us)).alias("w_end"),
        )
        .cache()
    )
    iv.count()
    left = ev20.withColumn("ts_us", ts_micros_col(ev20)).select(
        "ts_us", "event_type", "value"
    )
    timed(
        f"range_join_bucketed_{20 * n_ev}_events_x_100_windows",
        lambda: bucketed_range_join(left, iv, "ts_us", "w_start", "w_end", hour_us).count(),
    )
    timed(
        f"range_join_naive_bnlj_{20 * n_ev}_events_x_100_windows",
        lambda: left.join(
            iv, F.col("ts_us").between(F.col("w_start"), F.col("w_end"))
        ).count(),
    )

    # ------------------------------------------------------------------
    # ANN recall vs knob (round-6 item 5): recall@5 of each approximate
    # search against the exact GEMM ground truth for 50 queries, so the
    # nprobe/bands/quantization trade-off is a measured table, not folklore.
    # rows_out carries micro-recall in millionths (1e6 = perfect recall).
    _exact_memo: dict[str, object] = {}

    def _exact_topk():
        # built lazily (and cached) so --only filters skip the ground-truth
        # pass entirely when no recall scenario is selected
        if "df" not in _exact_memo:
            df = similarity.topk_cosine_gemm(emb, q, "vec_id", "embedding", k=5).cache()
            df.count()
            _exact_memo["df"] = df
        return _exact_memo["df"]

    def _recall(label, approx_fn):
        if ONLY and not any(s in label for s in ONLY):
            return
        exact = _exact_topk()  # built+cached BEFORE the timed section

        def run():
            rep = similarity.recall_report(approx_fn(), exact, k=5).collect()[0]
            return int(round(rep["micro_recall"] * 1_000_000))

        timed(label, run)

    for nprobe in (1, 2, 4):
        _recall(
            f"recall_at5_ivf16_nprobe{nprobe}_x1e6",
            lambda nprobe=nprobe: similarity.topk_cosine_ivf_probe(
                emb, q, "vec_id", "embedding",
                n_centroids=16, nprobe=nprobe, k=5,
            ),
        )
    for n_planes in (4, 8):
        pl = similarity.random_hyperplanes(n_planes, 64)
        _recall(
            f"recall_at5_lsh_{n_planes}planes_x1e6",
            lambda pl=pl: similarity.topk_cosine_lsh(
                emb, q, pl, "vec_id", "embedding", k=5
            ),
        )
    pl8 = similarity.random_hyperplanes(8, 64)
    _recall(
        "recall_at5_lsh_8planes_probe2_x1e6",
        lambda: similarity.topk_cosine_lsh_multiprobe(
            emb, q, pl8, "vec_id", "embedding", k=5, n_probes=2
        ),
    )
    _recall(
        "recall_at5_quantized_int8_x1e6",
        lambda: similarity.topk_cosine_quantized(
            emb, q, "vec_id", "embedding", k=5
        ),
    )
    if "df" in _exact_memo:
        _exact_memo["df"].unpersist()

    # ------------------------------------------------------------------
    # BPE tokenizer throughput at 50k docs: rows_out = total subword
    # tokens; tokens/sec = rows_out / sec.  The per-executor word memo is
    # what makes this scale with distinct-word volume, not token volume.
    from lightfusion_spark.operators import tokenize as tok_mod

    timed(
        f"bpe_tokenize_{10 * n_docs}_docs_total_tokens",
        lambda: tok_mod.tokenize_bpe(
            docs10.repartition(spark.sparkContext.defaultParallelism), "doc_id", "text"
        ).agg(F.sum("n_tokens")).collect()[0][0],
    )

    # ------------------------------------------------------------------
    # MinHash banding recall: fraction of TRUE near-dup pairs (exact
    # shingle-Jaccard >= 0.5, brute-forced driver-side at sf0.01 scale)
    # that each (n_hashes, rows_per_band) banding surfaces as candidates,
    # plus the candidate volume — the P[collide] = 1-(1-j^r)^b trade
    # measured instead of quoted.  rows_out = recall in millionths.
    def _banding_truth():
        if "pairs" not in _banding_memo:
            import re as _re

            import pyarrow.parquet as _pq

            tbl = _pq.read_table(
                "/root/testdata/sf0.01/documents.parquet", columns=["doc_id", "text"]
            )
            shingles = {}
            for i, t in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
                toks = _re.split(r"\s+", (t or "").lower())
                shingles[i] = {
                    " ".join(toks[j : j + 3]) for j in range(max(len(toks) - 2, 0))
                }
            ids = sorted(shingles)
            truth = set()
            for a_i in range(len(ids)):
                sa = shingles[ids[a_i]]
                if not sa:
                    continue
                for b_i in range(a_i + 1, len(ids)):
                    sb = shingles[ids[b_i]]
                    inter = len(sa & sb)
                    if inter and inter / (len(sa) + len(sb) - inter) >= 0.5:
                        truth.add((ids[a_i], ids[b_i]))
            _banding_memo["pairs"] = truth
        return _banding_memo["pairs"]

    _banding_memo: dict[str, object] = {}
    docs001 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for n_hashes, rpb in ((8, 2), (8, 4), (16, 4)):

        def run(n_hashes=n_hashes, rpb=rpb):
            truth = _banding_truth()
            hashes = dedup.doc_shingle_hashes(docs001, "doc_id", "text", 3)
            sig = dedup.minhash_signatures(hashes, "doc_id", n_hashes)
            cand = {
                (r["id_a"], r["id_b"])
                for r in dedup.lsh_candidate_pairs(sig, "doc_id", n_hashes, rpb).collect()
            }
            hit = len(truth & cand)
            print(
                json.dumps(
                    {
                        "scenario_detail": f"banding {n_hashes}h/{rpb}r",
                        "true_pairs": len(truth),
                        "candidates": len(cand),
                        "hits": hit,
                    }
                )
            )
            return int(round(hit / max(len(truth), 1) * 1_000_000))

        timed(f"minhash_banding_recall_{n_hashes}h_{rpb}r_x1e6", run)

    # ------------------------------------------------------------------
    # As-of join skew stress (round-6 item 8): one hot user owns ~50% of
    # 10M events; the plain key-partitioned window serializes those ~5M
    # rows onto a single task's sort, the (key, time-bucket) variant
    # bounds task state at one bucket of one key.
    ev100 = inflate(events, 100, "event_id", 100_000_000)
    hot = ev100.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    ).withColumn("ts_us", ts_micros_col(ev100))
    hot_right = hot.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "value"
    )
    hot_left = hot.select("event_id", "user_id", "ts_us")
    timed(
        f"asof_plain_hotkey50pct_{100 * n_ev}_events",
        lambda: asof_mod.asof_join(
            hot_left, hot_right, "user_id", "ts_us", ["value"],
            tiebreak_col=None,
        ).where(F.col("value_asof").isNotNull()).count(),
    )
    timed(
        f"asof_bucketed_hotkey50pct_{100 * n_ev}_events",
        lambda: asof_mod.asof_join_bucketed(
            hot_left, hot_right, "user_id", "ts_us", ["value"],
            bucket=hour_us,
        ).where(F.col("value_asof").isNotNull()).count(),
    )

    # ------------------------------------------------------------------
    # Cache vs bucketed-checkpoint A/B (round-6 item 4): the two span/
    # minhash spill strategies at 50k docs — parity of counts plus the
    # wall-time cost of trading MEMORY_AND_DISK for a one-time bucketed
    # write (the 100 TB default).
    import shutil
    import tempfile

    ckpt_root = tempfile.mkdtemp(prefix="lf_ckpt_")
    try:
        timed(
            f"span_dedup_cache_{10 * n_docs}_docs",
            lambda: dedup.remove_duplicate_spans(docs10, "doc_id", "text").count(),
        )
        spark.catalog.clearCache()
        timed(
            f"span_dedup_bucketed_ckpt_{10 * n_docs}_docs",
            lambda: dedup.remove_duplicate_spans(
                docs10, "doc_id", "text",
                checkpoint_path=os.path.join(ckpt_root, "grams"),
            ).count(),
        )
        timed(
            f"minhash_cache_{10 * n_docs}_docs",
            lambda: dedup.minhash_near_duplicates(docs10, "doc_id", "text").count(),
        )
        spark.catalog.clearCache()
        timed(
            f"minhash_bucketed_ckpt_{10 * n_docs}_docs",
            lambda: dedup.minhash_near_duplicates(
                docs10, "doc_id", "text",
                checkpoint_path=os.path.join(ckpt_root, "shingles"),
            ).count(),
        )
    finally:
        shutil.rmtree(ckpt_root, ignore_errors=True)

    # ------------------------------------------------------------------
    # round-7 scenarios: the SCALE.md round-7 table, regenerable.
    # ------------------------------------------------------------------
    from lightfusion_spark.operators import webgraph

    emb = spark.read.parquet(os.path.join(args.sf, "embeddings.parquet"))
    eq = emb.where(F.col("vec_id") < 20)
    planes = similarity.random_hyperplanes(n_planes=32, dim=64, seed=11)
    timed(
        "banded_lsh_gemm_8x4",
        lambda: similarity.topk_cosine_lsh_banded(
            emb, eq, planes, n_tables=8, k=3
        ).count(),
    )

    docs_src = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    pr_edges = (
        docs_src.select((F.col("doc_id") % 60).alias("src"))
        .where((F.col("src") % 10) != 0)
        .select("src", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"))
        .select("src", ((F.col("src") * 7 + F.col("k")) % 60).alias("dst"))
        .distinct()
    )
    timed(
        "pagerank_5_iters_60_hosts",
        lambda: webgraph.pagerank(pr_edges, iterations=5).count(),
    )
    timed(
        "pagerank_converged_tol1e-9",
        lambda: webgraph.pagerank(
            pr_edges, iterations=None, tol=1e-9, max_iterations=100
        ).count(),
    )

    # round-9: linear-probe training — per-epoch cost is one cached-scan
    # aggregation (k+1 BIGINT partial sums), so wall time should be
    # ~linear in epochs; the 3ep/6ep pair measures that directly.
    from lightfusion_spark.operators import probe as probe_mod

    docs50k = inflate(docs_src, 10, "doc_id", 1_000_000, "text")
    ptoks = F.split(F.col("text"), r"\s+")
    feats = docs50k.select(
        F.lit(1.0).alias("x0"),
        (F.length("text") / F.lit(1000.0)).alias("x1"),
        (F.size(ptoks) / F.lit(100.0)).alias("x2"),
        (F.size(F.array_distinct(ptoks)) / F.size(ptoks)).alias("x3"),
        F.when(F.length("text") > 300, 1.0).otherwise(0.0).alias("y"),
    ).cache()
    n_feats = feats.count()
    for ep in (3, 6):
        timed(
            f"probe_train_{ep}ep_{n_feats}_rows",
            lambda ep=ep: len(
                probe_mod.train_linear_probe(
                    feats, ["x0", "x1", "x2", "x3"], "y", epochs=ep
                )[1]
            ),
        )
    feats.unpersist()

    # round-9: interval join outer forms — the outer variants must cost
    # ~the inner join (state/geometry identical; only null-extension
    # differs), measured on the 2M-event inflation.
    from lightfusion_spark.streaming import events as ev_mod

    events_src = spark.read.parquet(os.path.join(args.sf, "events.parquet"))
    ev2m = inflate(events_src, 20, "event_id", 100_000_000)
    ip = ev2m.where(F.col("event_type") == "purchase")
    ic = ev2m.where(F.col("event_type") == "click")
    for how in ("inner", "left_outer", "full_outer"):
        timed(
            f"interval_join_{how}_2M_events",
            lambda how=how: ev_mod.interval_join(
                ip, ic, how=how, upper="30 minutes"
            ).count(),
        )

    # round-9: the O(1)-state streaming monitors, drained end-to-end with
    # availableNow over the REAL sf events parquet (read-only source;
    # checkpoints in a temp dir) — measures the full stateful-streaming
    # path, not just the fold.
    import tempfile

    def _drain(make_query, mode):
        with tempfile.TemporaryDirectory() as ck:
            stream = ev_mod.read_events_stream(spark, args.sf)
            q = (
                make_query(stream)
                .writeStream.format("noop")
                .outputMode(mode)  # must match the op's own output mode
                .option("checkpointLocation", f"{ck}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return 1

    timed(
        "stream_drain_ewma_anomalies_100k_events",
        lambda: _drain(lambda s: ev_mod.ewma_anomalies_stream(s), "append"),
    )
    timed(
        "stream_drain_heavy_hitters_cap8_100k_events",
        lambda: _drain(
            lambda s: ev_mod.heavy_hitters_stream(s, capacity=8), "update"
        ),
    )
    timed(
        "stream_drain_reservoir_k5_100k_events",
        lambda: _drain(
            lambda s: ev_mod.reservoir_sample_stream(s, k=5), "update"
        ),
    )

    # round-10 (r9 verdict item 8): measured scaling CURVES for the five
    # most expensive bench queries — each run at 1x and 10x corpus with
    # identical knobs and a FIXED query set, best-of-2 per point, and
    # the observed exponent log10(t10x/t1x) printed (1.0 = linear; <1 =
    # fixed overhead still dominates at this size; >1 = superlinear,
    # the thing the 100 TB claims say must not happen).
    import math

    from lightfusion_spark.operators import pq as pq_mod

    emb10 = inflate(emb, 10, "vec_id", 1_000_000)

    def curve(label, run_1x, run_10x):
        if ONLY and not any(s in label for s in ONLY):
            return

        def best(fn):
            ts = []
            for _ in range(2):
                t0 = time.time()
                fn()
                ts.append(time.time() - t0)
            return min(ts)

        t1, t10 = best(run_1x), best(run_10x)
        print(
            json.dumps(
                {
                    "curve": label,
                    "sec_1x": round(t1, 2),
                    "sec_10x": round(t10, 2),
                    "exponent": round(math.log(t10 / t1) / math.log(10), 2),
                }
            )
        )

    qv = emb.select("vec_id", "embedding").orderBy("vec_id").limit(20)

    # Pinning n_centroids=16 on BOTH sides measured exponent 1.58
    # (6.2 s -> 236 s): fixed codebook => cell size grows with n =>
    # the cell self-join goes quadratic.  The curve below runs the
    # bounded discipline the operator documents (centroids scale with
    # the corpus: auto mode at 10x), which measured 7.6 s -> 27.4 s
    # (exponent 0.55) — the superlinear blowup is the knob misuse the
    # docstring now warns about, not the operator's own scaling.
    curve(
        "curve_cluster_embeddings_knn",
        lambda: similarity.cluster_embeddings_knn(
            emb, "vec_id", "embedding", k=3, n_centroids=16
        ).count(),
        lambda: similarity.cluster_embeddings_knn(
            emb10, "vec_id", "embedding", k=3, n_centroids=None,
            target_cell_rows=125,
        ).count(),
    )
    curve(
        "curve_sim_ivf_pq",
        lambda: pq_mod.topk_cosine_ivf_pq(
            emb, qv, "vec_id", "embedding",
            n_centroids=8, coarse_iters=2, m=4, pq_k=16, pq_iters=2, k=3,
        ).count(),
        lambda: pq_mod.topk_cosine_ivf_pq(
            emb10, qv, "vec_id", "embedding",
            n_centroids=8, coarse_iters=2, m=4, pq_k=16, pq_iters=2, k=3,
        ).count(),
    )
    curve(
        "curve_sim_ivf_pq_rerank",
        lambda: pq_mod.topk_cosine_ivf_pq(
            emb, qv, "vec_id", "embedding",
            n_centroids=8, coarse_iters=2, m=4, pq_k=16, pq_iters=2, k=3,
            rerank_depth=10,
        ).count(),
        lambda: pq_mod.topk_cosine_ivf_pq(
            emb10, qv, "vec_id", "embedding",
            n_centroids=8, coarse_iters=2, m=4, pq_k=16, pq_iters=2, k=3,
            rerank_depth=10,
        ).count(),
    )

    from lightfusion_spark.operators import text as text_mod

    def _embed_ivf(src):
        e = text_mod.embed_text_tfidf(src, "doc_id", "text", dim=64).localCheckpoint(
            eager=True
        )
        q = e.where(F.col("doc_id") < 20)
        return similarity.topk_cosine_ivf_kmeans(
            e, q, "doc_id", "embedding", n_centroids=8, n_iters=2, k=3
        ).count()

    curve(
        "curve_embed_ivf_topk",
        lambda: _embed_ivf(docs),
        lambda: _embed_ivf(docs10),
    )
    curve(
        "curve_lm_score_ngram",
        lambda: text_mod.ngram_lm_score(docs, "doc_id", "text", k=0.5).count(),
        lambda: text_mod.ngram_lm_score(docs10, "doc_id", "text", k=0.5).count(),
    )

    # round-10 late addition: 1x/10x curve for the new heavy operator
    # (fuzzy decontamination = the full cross-corpus MinHash machinery;
    # the corpus side is the 10x-inflated table, the bench side stays
    # fixed — the realistic geometry, and the one that must stay linear).
    from lightfusion_spark.operators import curation as cur_mod

    bench_docs = docs.where(F.col("doc_id") % 10 == 9).localCheckpoint(eager=True)

    def _noop(df):
        # .count() is NOT a valid forcing function here: the verdict's
        # left join has unique right-side keys, so Catalyst eliminates
        # it under count() and skips the entire MinHash pipeline.  The
        # noop sink evaluates every column (same forcing bench.py uses).
        df.write.format("noop").mode("overwrite").save()

    curve(
        "curve_decontaminate_fuzzy",
        lambda: _noop(
            cur_mod.decontaminate_fuzzy(
                docs.where(F.col("doc_id") % 10 != 9), bench_docs, "doc_id", "text"
            )
        ),
        lambda: _noop(
            cur_mod.decontaminate_fuzzy(
                docs10.where(F.col("doc_id") % 10 != 9), bench_docs, "doc_id", "text"
            )
        ),
    )

    # round-10 late additions: curves for the two new trained/selection
    # operators.  NB scales both sides (train + score are corpus passes);
    # DSIR inflates the RAW side against a FIXED target — the realistic
    # geometry (the target is a trusted MB-scale sample), and the one
    # the broadcast-ratio-table design says must stay linear.
    from lightfusion_spark.operators import nbayes as nb_mod

    def _nb(src):
        priors, model = nb_mod.train_naive_bayes(src, "source", "text")
        nb_mod.apply_naive_bayes(src, "doc_id", "text", priors, model).count()

    curve("curve_nb_domain", lambda: _nb(docs), lambda: _nb(docs10))

    tgt_docs = docs.where(F.col("source") == "src0").localCheckpoint(eager=True)
    curve(
        "curve_dsir_select",
        lambda: cur_mod.dsir_select(
            docs, tgt_docs, "doc_id", "text", k=25, n_buckets=1024
        ).count(),
        lambda: cur_mod.dsir_select(
            docs10, tgt_docs, "doc_id", "text", k=25, n_buckets=1024
        ).count(),
    )

    from lightfusion_spark.operators import btrank as bt_mod
    from lightfusion_spark.operators import sketch as sk_mod
    from pyspark.sql.window import Window as _W

    def _bt(src):
        tk = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
        scored = (
            src.select("doc_id", "source", "n_chars", tk.alias("_tk"))
            .where(F.size("_tk") > 0)
            .select(
                "doc_id", "source", "n_chars",
                F.round(
                    F.size(F.array_distinct("_tk")).cast("double")
                    / F.size("_tk").cast("double"), 6,
                ).alias("ttr"),
            )
            .withColumn("ctx", F.ntile(10).over(_W.orderBy("n_chars", "doc_id")))
        )
        pairs = cur_mod.preference_pairs(
            scored, "ctx", "doc_id", "ttr", max_pairs_per_group=5, margin=1e-6
        )
        src_ids = src.select("doc_id", "source")
        wl = (
            pairs.join(
                src_ids.select(F.col("doc_id").alias("chosen_id"),
                               F.col("source").alias("winner")), "chosen_id")
            .join(src_ids.select(F.col("doc_id").alias("rejected_id"),
                                 F.col("source").alias("loser")), "rejected_id")
            .where(F.col("winner") != F.col("loser"))
        )
        bt_mod.bt_strengths(wl, "winner", "loser", epochs=3)

    curve("curve_bt_sources", lambda: _bt(docs), lambda: _bt(docs10))

    # mergeable-sketch build at 1x/10x events: the "one pass, KB
    # output" claim as a measured number (the sketch grid is the
    # groupBy key space, so 10x rows should cost ~the scan).
    ev10b = inflate(events, 10, "event_id", 100_000_000)
    curve(
        "curve_hist_sketch_build",
        lambda: sk_mod.hist_sketch(
            events, "event_type", "value", lo=0.0, hi=512.0, n_bins=64
        ).count(),
        lambda: sk_mod.hist_sketch(
            ev10b, "event_type", "value", lo=0.0, hi=512.0, n_bins=64
        ).count(),
    )

    # round-10 (late): the maintained sketch-store claim as numbers —
    # the store's footprint is O(cells), INDEPENDENT of ingested rows
    # (10x events, identical value distribution => identical occupied
    # bins => identical store rows), and the read side prices in the
    # store size, not the ingested volume.  Append cost follows the
    # one-pass sketch build (the scan dominates); what must NOT grow
    # is the store itself and the estimate reads over it.
    if not ONLY or any(s in "sketch_store_append" for s in ONLY):
        import shutil
        import tempfile

        def _store_roundtrip(src):
            d = tempfile.mkdtemp(prefix="scalecheck_sketch_store_")
            try:
                halves = [
                    src.where(F.col("event_id") % 2 == i) for i in (0, 1)
                ]
                t0 = time.time()
                for i, h in enumerate(halves):
                    sk_mod.sketch_append_batch(
                        sk_mod.hist_sketch(
                            h, "event_type", "value",
                            lo=0.0, hi=512.0, n_bins=64,
                        ),
                        d,
                        batch_id=i,
                    )
                t_append = time.time() - t0
                store_rows = spark.read.parquet(d).count()
                t0 = time.time()
                cells = sk_mod.sketch_state_cells(spark, d)
                n_cells = cells.count()
                sk_mod.hist_quantiles(
                    cells, [0.5, 0.99], lo=0.0, hi=512.0, n_bins=64,
                    group_cols=["event_type"],
                ).count()
                t_read = time.time() - t0
                return t_append, t_read, store_rows, n_cells
            finally:
                shutil.rmtree(d, ignore_errors=True)

        a1, r1, rows1, cells1 = _store_roundtrip(events)
        a10, r10x, rows10, cells10 = _store_roundtrip(ev10b)
        print(
            json.dumps(
                {
                    "check": "sketch_store_append",
                    "append_sec_1x": round(a1, 2),
                    "append_sec_10x": round(a10, 2),
                    "read_sec_1x": round(r1, 2),
                    "read_sec_10x": round(r10x, 2),
                    "store_rows_1x": rows1,
                    "store_rows_10x": rows10,
                    "cells_1x": cells1,
                    "cells_10x": cells10,
                    "store_flat": rows1 == rows10,
                }
            )
        )

    # round-10: build-once/search-many A/B for the persisted IVF index
    # (operators/annindex.py) — the production amortization claim,
    # measured: 1 build + M searches vs M train-per-call searches.
    if not ONLY or any(s in "ann_index_amortization" for s in ONLY):
        import shutil
        import tempfile

        from lightfusion_spark.operators import annindex

        emb10 = inflate(emb, 10, "vec_id", 1_000_000)
        idx_dir = tempfile.mkdtemp(prefix="scalecheck_ivf_")
        try:
            batches = [
                emb10.where((F.col("vec_id") % 1_000_003) % 97 == i).limit(20)
                .localCheckpoint(eager=True)
                for i in range(5)
            ]
            t0 = time.time()
            annindex.build_ivf_index(
                emb10, idx_dir, "vec_id", "embedding", n_centroids=16, n_iters=2
            )
            t_build = time.time() - t0
            t0 = time.time()
            for b in batches:
                annindex.search_ivf_index(
                    spark, idx_dir, b, "vec_id", "embedding", k=3
                ).count()
            t_search5 = time.time() - t0
            t0 = time.time()
            for b in batches:
                similarity.topk_cosine_ivf_kmeans(
                    emb10, b, "vec_id", "embedding",
                    n_centroids=16, n_iters=2, k=3,
                ).count()
            t_retrain5 = time.time() - t0
            print(
                json.dumps(
                    {
                        "scenario": "ann_index_amortization",
                        "corpus": 10 * n_emb,
                        "build_sec": round(t_build, 2),
                        "search_5_batches_sec": round(t_search5, 2),
                        "train_per_call_5_batches_sec": round(t_retrain5, 2),
                    }
                )
            )
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)

    # round-10 (late): build-once/gate-many A/B for the continual-ingest
    # decontamination gate — the same amortization claim as the ANN
    # index, measured: 1 contamination_index build + M batch gates vs
    # M one-shot decontaminate_bloom calls (each of which re-shingles
    # the benchmark suite and re-folds its Bloom array).
    if not ONLY or any(s in "decontamination_gate_amortization" for s in ONLY):
        from lightfusion_spark.operators import curation

        # Two geometries, both recorded in SCALE.md:
        # (a) tiny bench / big batches — the amortized bench work is
        #     noise next to corpus-side shingling (measured first; the
        #     honest negative result), and
        # (b) big bench / small batches — the production continual-
        #     ingest shape (a fixed benchmark suite much larger than
        #     each arriving micro-batch), where the one-shot operator
        #     re-pays the whole bench shingle+Bloom per batch.
        def _amortization(tag, bench, gate_batches):
            t0 = time.time()
            cidx = curation.contamination_index(bench, "doc_id", "text")
            t_build = time.time() - t0
            t0 = time.time()
            for b in gate_batches:
                curation.decontaminate_bloom_indexed(
                    b, cidx, "doc_id", "text"
                ).write.format("noop").mode("overwrite").save()
            t_gate = time.time() - t0
            t0 = time.time()
            for b in gate_batches:
                curation.decontaminate_bloom(
                    b, bench, "doc_id", "text"
                ).write.format("noop").mode("overwrite").save()
            t_oneshot = time.time() - t0
            print(
                json.dumps(
                    {
                        "scenario": f"decontamination_gate_amortization_{tag}",
                        "bench_docs": bench.count(),
                        "batch_docs": gate_batches[0].count(),
                        "index_build_sec": round(t_build, 2),
                        "gate_5_batches_sec": round(t_gate, 2),
                        "oneshot_5_batches_sec": round(t_oneshot, 2),
                    }
                )
            )

        _amortization(
            "tiny_bench",
            docs10.where(F.col("doc_id") % 97 == 0).localCheckpoint(eager=True),
            [
                docs10.where(F.col("doc_id") % 5 == i).localCheckpoint(
                    eager=True
                )
                for i in range(5)
            ],
        )
        _amortization(
            "big_bench",
            docs10.where(F.col("doc_id") % 5 == 0).localCheckpoint(eager=True),
            [
                docs10.where(F.col("doc_id") % 50 == 7 + i).localCheckpoint(
                    eager=True
                )
                for i in range(5)
            ],
        )

    # round-10 (late): scaling curves for the graph-centrality family.
    # The registered faces run a FIXED 60-host formula graph (their cost
    # is iteration machinery, not data), so the curves here scale the
    # graph itself: the same topology at 100k vs 1M hosts (300k vs 3M
    # directed edges) through the identical 5 fixed iterations.  The
    # per-round cost model says join+agg over the edge list => expect
    # ~linear in |E| once past fixed overhead.
    if not ONLY or any(s in "curve_web_centrality" or "curve_web" in s for s in ONLY):
        from lightfusion_spark.operators import webgraph as wg_mod

        def _host_graph(n_hosts):
            return (
                spark.range(n_hosts)
                .select(F.col("id").alias("src"))
                .where((F.col("src") % 10) != 0)
                .select(
                    "src",
                    F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
                )
                .select(
                    "src",
                    ((F.col("src") * 7 + F.col("k")) % n_hosts).alias("dst"),
                )
                .localCheckpoint(eager=True)
            )

        g1, g10 = _host_graph(100_000), _host_graph(1_000_000)
        seeds1 = spark.range(100_000).where(F.col("id") % 12 == 3).select(
            F.col("id").alias("node")
        )
        seeds10 = spark.range(1_000_000).where(F.col("id") % 12 == 3).select(
            F.col("id").alias("node")
        )
        noop = lambda df: df.write.format("noop").mode("overwrite").save()
        curve(
            "curve_web_pagerank",
            lambda: noop(wg_mod.pagerank(g1, iterations=5)),
            lambda: noop(wg_mod.pagerank(g10, iterations=5)),
        )
        curve(
            "curve_web_ppr",
            lambda: noop(wg_mod.personalized_pagerank(g1, seeds1, iterations=5)),
            lambda: noop(wg_mod.personalized_pagerank(g10, seeds10, iterations=5)),
        )
        curve(
            "curve_web_hits",
            lambda: noop(wg_mod.hits(g1, iterations=5)),
            lambda: noop(wg_mod.hits(g10, iterations=5)),
        )
        # round-11: LPA — 4 synchronous rounds, matching the face
        curve(
            "curve_web_lpa",
            lambda: noop(wg_mod.label_propagation(g1, iterations=4)),
            lambda: noop(wg_mod.label_propagation(g10, iterations=4)),
        )
        # round-12: the THIRD decade for LPA — 3M vs 30M directed edges
        # (10M hosts) — pinning the min_by rewrite's 0.52 exponent
        # claim one scale up (r11 verdict item 6).  Gated behind an
        # explicit --only so the default sweep stays fast.
        if ONLY and any(s in "curve_web_lpa_30m" for s in ONLY):
            g100 = _host_graph(10_000_000)
            curve(
                "curve_web_lpa_30m",
                lambda: noop(wg_mod.label_propagation(g10, iterations=4)),
                lambda: noop(wg_mod.label_propagation(g100, iterations=4)),
            )
        # round-11: k-core — 3 peeling rounds at k=4, matching the face
        curve(
            "curve_web_kcore",
            lambda: noop(wg_mod.k_core(g1, k=4, iterations=3)),
            lambda: noop(wg_mod.k_core(g10, k=4, iterations=3)),
        )
        # round-11: exact triangle counting — one-shot (no rounds); the
        # degree-ordered orientation bounds the wedge join, so the
        # formula graph's cost term is linear in |E|
        curve(
            "curve_web_triangles",
            lambda: noop(wg_mod.triangle_stats(g1)),
            lambda: noop(wg_mod.triangle_stats(g10)),
        )

    # round-10 (late): the corpus-drift gate's curve — both snapshot
    # sides scale with the corpus (the worst case; the indexed monitor
    # pins the reference side, so production per-batch cost scales only
    # with the batch).
    if not ONLY or any(s in "curve_corpus_drift" for s in ONLY):
        from lightfusion_spark.operators import curation as cur2_mod

        def _drift(src):
            cur2_mod.corpus_drift(
                src.where(F.col("doc_id") % 7 != 6),
                src.where(F.col("doc_id") % 7 != 0),
                "text",
            ).write.format("noop").mode("overwrite").save()

        curve(
            "curve_corpus_drift",
            lambda: _drift(docs),
            lambda: _drift(docs10),
        )

    # round-12: conversation turn-dedup — synthetic turns with a fixed
    # 20% template mass (every 5th turn draws from a 64-phrase canned
    # pool), 500k vs 5M turns.  The projection-first shape predicts
    # linear-in-rows: only (digest, id, idx, role) shuffles.
    if not ONLY or any(s in "curve_conversations" for s in ONLY):
        from lightfusion_spark.operators import conversations as conv_mod

        def _turns(n_rows):
            return (
                spark.range(n_rows)
                .select(
                    (F.col("id") % 100_000).alias("conversation_id"),
                    (F.col("id") % 17).cast("int").alias("turn_idx"),
                    F.when((F.col("id") % 2) == 0, "user")
                    .otherwise("assistant")
                    .alias("role"),
                    F.when(
                        (F.col("id") % 5) == 0,
                        F.concat(
                            F.lit("canned reply "),
                            (F.col("id") % 64).cast("string"),
                        ),
                    )
                    .otherwise(
                        F.concat(
                            F.lit("unique content "),
                            F.col("id").cast("string"),
                        )
                    )
                    .alias("content"),
                )
                .localCheckpoint(eager=True)
            )

        t1, t10 = _turns(500_000), _turns(5_000_000)
        noop2 = lambda df: df.write.format("noop").mode("overwrite").save()
        curve(
            "curve_conversations_dedup",
            lambda: noop2(conv_mod.dedup_turns_exact(t1)),
            lambda: noop2(conv_mod.dedup_turns_exact(t10)),
        )
        curve(
            "curve_conversations_sig",
            lambda: noop2(conv_mod.dedup_conversations_exact(t1)),
            lambda: noop2(conv_mod.dedup_conversations_exact(t10)),
        )

    # round-13: the conversation dedups' THIRD decade (5M -> 50M turns,
    # the LPA precedent — small decades can hide the asymptote under
    # stage machinery).  Separate label: the 50M build is seconds of
    # generator time and shouldn't tax the default sweep.
    if ONLY and any(s in "curve3_conversations" for s in ONLY):
        from lightfusion_spark.operators import conversations as conv_mod3

        def _turns3(n_rows):
            return (
                spark.range(n_rows)
                .select(
                    (F.col("id") % 100_000).alias("conversation_id"),
                    (F.col("id") % 17).cast("int").alias("turn_idx"),
                    F.when((F.col("id") % 2) == 0, "user")
                    .otherwise("assistant")
                    .alias("role"),
                    F.when(
                        (F.col("id") % 5) == 0,
                        F.concat(
                            F.lit("canned reply "),
                            (F.col("id") % 64).cast("string"),
                        ),
                    )
                    .otherwise(
                        F.concat(
                            F.lit("unique content "),
                            F.col("id").cast("string"),
                        )
                    )
                    .alias("content"),
                )
                .localCheckpoint(eager=True)
            )

        t10b, t100 = _turns3(5_000_000), _turns3(50_000_000)
        noop3 = lambda df: df.write.format("noop").mode("overwrite").save()
        curve(
            "curve3_conversations_dedup",
            lambda: noop3(conv_mod3.dedup_turns_exact(t10b)),
            lambda: noop3(conv_mod3.dedup_turns_exact(t100)),
        )
        curve(
            "curve3_conversations_sig",
            lambda: noop3(conv_mod3.dedup_conversations_exact(t10b)),
            lambda: noop3(conv_mod3.dedup_conversations_exact(t100)),
        )

    # round-11: the curriculum_order rewrite A/B (the round-10 ADVICE
    # finding).  An unpartitioned ntile().over(Window.orderBy()) moves
    # EVERY row into one task (WindowExec "No Partition Defined"); the
    # two-pass global rank (range partition + offset decode) is a real
    # distributed sort.  Same output bit-for-bit (pytest proves it);
    # this measures the cost shape at 500k and 5M rows.
    if not ONLY or any(s in "ab_curriculum_rank" for s in ONLY):
        from pyspark.sql.window import Window as W2

        from lightfusion_spark.operators import curation as cur3_mod

        def _rows(n):
            return spark.range(n).select(
                F.col("id"), ((F.col("id") * 2654435761) % 1000003).alias("score")
            ).localCheckpoint(eager=True)

        def _windowed(src):
            order = (F.col("score").asc(), F.col("id").asc())
            w = W2.orderBy(*order)
            staged = src.select(
                "id", "score", F.ntile(4).over(w).alias("stage")
            )
            ws = W2.partitionBy("stage").orderBy(*order)
            staged.select(
                "id", "score", "stage",
                F.row_number().over(ws).alias("stage_pos"),
            ).write.format("noop").mode("overwrite").save()

        def _twopass(src):
            cur3_mod.curriculum_order(src, "id", "score", n_stages=4).write.format(
                "noop"
            ).mode("overwrite").save()

        for n in (500_000, 5_000_000):
            src = _rows(n)
            for label, fn in (("window", _windowed), ("twopass", _twopass)):
                timed(f"ab_curriculum_rank_{label}_{n}", lambda fn=fn, src=src: fn(src) or 0)

    # round-11: the new heavy faces' cost curves.  Synthetic ~20-token
    # documents/pairs from id arithmetic (deterministic, no RNG), 10x
    # corpus growth each.
    if not ONLY or any("curve_eval" in s or "curve_lm_kn" in s for s in ONLY):
        from lightfusion_spark.operators import evalmetrics as em_mod
        from lightfusion_spark.operators import text as text_mod

        def _pairs(n):
            return spark.range(n).select(
                F.col("id"),
                F.expr(
                    "concat_ws(' ', transform(sequence(1, 20), "
                    "i -> concat('t', (id * i) % 997)))"
                ).alias("ref"),
                F.expr(
                    "concat_ws(' ', filter(transform(sequence(1, 20), "
                    "i -> concat('t', (id * i) % 997)), "
                    "(x, i) -> i % 7 != 3))"
                ).alias("cand"),
            ).localCheckpoint(eager=True)

        noop2 = lambda df: df.write.format("noop").mode("overwrite").save()
        p1, p10 = _pairs(50_000), _pairs(500_000)
        curve(
            "curve_eval_bleu",
            lambda: noop2(em_mod.corpus_bleu(p1, "id", "cand", "ref")),
            lambda: noop2(em_mod.corpus_bleu(p10, "id", "cand", "ref")),
        )
        curve(
            "curve_lm_kn",
            lambda: noop2(text_mod.kn_bigram_lm_score(p1, "id", "ref")),
            lambda: noop2(text_mod.kn_bigram_lm_score(p10, "id", "ref")),
        )
        # round-12: chrF (the BLEU fold with characters — 6 orders over
        # ~6x the gram count per pair) and the grouped BLEU variant
        curve(
            "curve_eval_chrf",
            lambda: noop2(em_mod.chrf_score(p1, "id", "cand", "ref")),
            lambda: noop2(em_mod.chrf_score(p10, "id", "cand", "ref")),
        )
        # round-13: WER — the JVM-only eval metric (row-local encode +
        # native levenshtein, zero Python); expected near-flat at these
        # scales, linear-in-pairs at the asymptote
        curve(
            "curve_eval_wer",
            lambda: noop2(em_mod.corpus_wer(p1, "id", "cand", "ref")),
            lambda: noop2(em_mod.corpus_wer(p10, "id", "cand", "ref")),
        )
        # round-13 continuation: ROUGE (two Arrow folds — n-gram cells
        # + the bit-parallel LCS), QA EM/F1 (explode → count →
        # equi-join on answer tokens), ranking metrics (query-keyed
        # joins + one window, pure JVM)
        curve(
            "curve_eval_rouge",
            lambda: noop2(em_mod.corpus_rouge(p1, "id", "cand", "ref")),
            lambda: noop2(em_mod.corpus_rouge(p10, "id", "cand", "ref")),
        )

        def _qa(p):
            rows = p.select(
                F.col("id").alias("qid"),
                F.col("cand").alias("pred"),
                F.explode(
                    F.array(F.col("ref"), F.col("cand"))
                ).alias("gold"),
            )
            return em_mod.qa_report(rows, "qid", "pred", "gold")

        curve(
            "curve_eval_qa",
            lambda: noop2(_qa(p1)),
            lambda: noop2(_qa(p10)),
        )

        from lightfusion_spark.operators import ranking as rk_mod

        def _rank(n):
            q_count = n // 10
            res = spark.range(n).select(
                (F.col("id") % q_count).alias("q"),
                F.col("id").alias("item"),
                (F.floor(F.col("id") / q_count) + 1)
                .cast("long")
                .alias("rnk"),
            )
            # 5 gold per query at items hitting ranks 1,3,5,7,9
            gold = spark.range(q_count * 5).select(
                (F.col("id") % q_count).alias("q"),
                (
                    (F.col("id") % q_count)
                    + F.floor(F.col("id") / q_count) * 2 * q_count
                )
                .cast("long")
                .alias("item"),
            )
            return rk_mod.ranking_report(res, gold, "q", "item", "rnk", k=10)

        curve(
            "curve_eval_ranking",
            lambda: noop2(_rank(50_000)),
            lambda: noop2(_rank(500_000)),
        )
        curve(
            "curve_eval_bleu_by_group",
            lambda: noop2(
                em_mod.corpus_bleu_by_group(
                    p1.withColumn("sys", F.col("id") % 4), "sys", "id",
                    "cand", "ref",
                )
            ),
            lambda: noop2(
                em_mod.corpus_bleu_by_group(
                    p10.withColumn("sys", F.col("id") % 4), "sys", "id",
                    "cand", "ref",
                )
            ),
        )

    # round-13: chrF's THIRD decade (500k -> 5M pairs — the LPA/
    # conversation-dedup precedent).  Own label so the default sweep
    # stays light; the 5M build reuses the deterministic pair generator.
    if ONLY and any(s in "curve3_eval_chrf" for s in ONLY):
        from lightfusion_spark.operators import evalmetrics as em_mod3

        def _pairs3(n):
            return spark.range(n).select(
                F.col("id"),
                F.expr(
                    "concat_ws(' ', transform(sequence(1, 20), "
                    "i -> concat('t', (id * i) % 997)))"
                ).alias("ref"),
                F.expr(
                    "concat_ws(' ', filter(transform(sequence(1, 20), "
                    "i -> concat('t', (id * i) % 997)), "
                    "(x, i) -> i % 7 != 3))"
                ).alias("cand"),
            ).localCheckpoint(eager=True)

        noop3b = lambda df: df.write.format("noop").mode("overwrite").save()
        q10, q100 = _pairs3(500_000), _pairs3(5_000_000)
        curve(
            "curve3_eval_chrf",
            lambda: noop3b(em_mod3.chrf_score(q10, "id", "cand", "ref")),
            lambda: noop3b(em_mod3.chrf_score(q100, "id", "cand", "ref")),
        )

    # round-13 continuation third decades (500k -> 5M pairs), same
    # pair generator; own labels so the default sweep stays light
    if ONLY and any(
        s in ("curve3_eval_rouge", "curve3_eval_qa", "curve3_eval_ranking")
        for s in ONLY
    ):
        from lightfusion_spark.operators import evalmetrics as em_mod3b
        from lightfusion_spark.operators import ranking as rk_mod3

        def _pairs3b(n):
            return spark.range(n).select(
                F.col("id"),
                F.expr(
                    "concat_ws(' ', transform(sequence(1, 20), "
                    "i -> concat('t', (id * i) % 997)))"
                ).alias("ref"),
                F.expr(
                    "concat_ws(' ', filter(transform(sequence(1, 20), "
                    "i -> concat('t', (id * i) % 997)), "
                    "(x, i) -> i % 7 != 3))"
                ).alias("cand"),
            ).localCheckpoint(eager=True)

        noop3c = lambda df: df.write.format("noop").mode("overwrite").save()
        r10, r100 = _pairs3b(500_000), _pairs3b(5_000_000)
        curve(
            "curve3_eval_rouge",
            lambda: noop3c(em_mod3b.corpus_rouge(r10, "id", "cand", "ref")),
            lambda: noop3c(em_mod3b.corpus_rouge(r100, "id", "cand", "ref")),
        )

        def _qa3(p):
            rows = p.select(
                F.col("id").alias("qid"),
                F.col("cand").alias("pred"),
                F.explode(F.array(F.col("ref"), F.col("cand"))).alias("gold"),
            )
            return em_mod3b.qa_report(rows, "qid", "pred", "gold")

        curve(
            "curve3_eval_qa",
            lambda: noop3c(_qa3(r10)),
            lambda: noop3c(_qa3(r100)),
        )

        def _rank3(n):
            q_count = n // 10
            res = spark.range(n).select(
                (F.col("id") % q_count).alias("q"),
                F.col("id").alias("item"),
                (F.floor(F.col("id") / q_count) + 1)
                .cast("long")
                .alias("rnk"),
            )
            gold = spark.range(q_count * 5).select(
                (F.col("id") % q_count).alias("q"),
                (
                    (F.col("id") % q_count)
                    + F.floor(F.col("id") / q_count) * 2 * q_count
                )
                .cast("long")
                .alias("item"),
            )
            return rk_mod3.ranking_report(res, gold, "q", "item", "rnk", k=10)

        curve(
            "curve3_eval_ranking",
            lambda: noop3c(_rank3(500_000)),
            lambda: noop3c(_rank3(5_000_000)),
        )

    if not ONLY or any("curve_eval" in s or "curve_lm_kn" in s for s in ONLY):
        from lightfusion_spark.operators import evalmetrics as em_mod  # noqa: F811

        noop2b = lambda df: df.write.format("noop").mode("overwrite").save()

        def _ann(n):
            return spark.range(n).select(
                (F.col("id") % (n // 100)).alias("item"),
                ((F.col("id") * 7919) % 4).alias("annotator"),
                F.concat(F.lit("l"), ((F.col("id") * 31) % 3)).alias("label"),
            ).localCheckpoint(eager=True)

        a1, a10 = _ann(300_000), _ann(3_000_000)
        curve(
            "curve_eval_kappa",
            lambda: noop2b(em_mod.annotator_agreement(a1, "item", "annotator", "label")),
            lambda: noop2b(em_mod.annotator_agreement(a10, "item", "annotator", "label")),
        )


if __name__ == "__main__":
    main()
