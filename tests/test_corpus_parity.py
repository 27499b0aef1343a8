"""Corpus smoke: every registered query runs and matches its DuckDB oracle
at sf0.001 (the full-scale gate is tools/parity.py at sf0.01, which the
driver replicates)."""

import os
import sys

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

from parity import compare, duck_connection  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# A fast, representative subset (full corpus takes ~2 min; CI stays snappy).
SUBSET = [
    "rel_filter_project",
    "rel_join_inner_agg",
    "rel_agg_q1",
    "rel_agg_rollup",
    "rel_window_rank",
    "rel_set_except",
    "rel_subquery_in_exists",
    "rel_scalar_string",
    "rel_scalar_json",
    "rel_cast_battery",
    "lgbm_infer_embeddings",
    "argmax_embeddings",
    "lgbm_tsv_flagship",
    "pipe_dedup_exact",
    "pipe_dedup_minhash",
    "pipe_dedup_components",
    "pipe_dedup_survivors",
    "pipe_sim_topk",
    "pipe_sim_topk_gemm",
    "pipe_text_stats",
    "pipe_text_repetition",
    "pipe_text_pii",
    "pipe_text_urls",
    "pipe_multimodal_decode",
    "pipe_decontaminate",
    "pipe_pack_sequences",
    "pipe_mixture_sample",
    "pipe_split_stratified",
    "pipe_shard_assign",
    "events_asof_join",
    "rel_join_full_outer",
    "rel_explode",
    "rel_higher_order",
    "rel_regexp",
    # round-9 additions: the decorrelation trio, the trainer, the
    # full-outer interval join, and the graduated pytest-only faces
    # (all verified non-empty on tools/gen_testdata.py output too)
    "rel_tpch_q2_shape",
    "rel_tpch_q20_shape",
    "rel_tpch_q21_shape",
    "pipe_probe_train",
    "events_stream_join_full",
    "pipe_sentence_chunks",
    "pipe_normalize_unicode",
    "pipe_cluster_embeddings",
    "pipe_file_stats",
    # the one-shot and per-system BLEU/chrF/ROUGE faces: the one
    # reference-clipped cell fold in evalmetrics, against each oracle
    "pipe_eval_bleu",
    "pipe_eval_chrf",
    "pipe_eval_rouge",
    "pipe_eval_bleu_by_system",
    "pipe_eval_chrf_by_system",
    "pipe_eval_rouge_by_system",
    # the eight paired bootstraps: the one replicate explode and summary
    # in evalmetrics, replayed against each face's DuckDB experiment
    "pipe_eval_bleu_bootstrap",
    "pipe_eval_chrf_bootstrap",
    "pipe_eval_wer_bootstrap",
    "pipe_eval_rouge_bootstrap",
    "pipe_eval_ranking_bootstrap",
    "pipe_eval_qa_bootstrap",
    "pipe_eval_auc_bootstrap",
    "pipe_eval_pr_bootstrap",
    # the graph faces: PageRank / PPR / LPA / k-core rounds through the
    # one fanout.fixed_point loop, HITS and triangles through fanout.pin,
    # each against its unrolled DuckDB replay
    "pipe_web_pagerank",
    "pipe_web_ppr",
    "pipe_web_hits",
    "pipe_web_rank_sample",
    "pipe_web_lpa",
    "pipe_web_kcore",
    "pipe_web_triangles",
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(name, spark, duck):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF_DIR).toPandas()
    oracle = e.oracle_sql()[name]
    ddf = duck.execute(oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"
    assert len(sdf) > 0, f"{name}: empty result is a vacuous check"


def test_every_query_face_emits_only_scalar_columns(spark):
    """The driver's canonicalizer pandas-sorts every output column and dies
    on array/struct/map cells ("unhashable type: numpy.ndarray") — exactly
    how pipe_embed_text stayed the one red CORRECTNESS row through round 7
    while being parity-green locally.  Structurally pin the contract: every
    REGISTERED face emits atomic columns only (posexplode / to_json nested
    values at the face; library operators may of course return arrays)."""
    import __spark_entry__ as e

    nested = {}
    for name, fn in e.queries().items():
        df = fn(spark, SF_DIR)
        cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "struct", "map")
        ]
        if cols:
            nested[name] = cols
    assert not nested, (
        f"query faces with driver-unhashable nested columns: {nested}"
    )


def test_all_queries_have_oracles_or_are_flagged():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    missing = set(qs) - set(oracles)
    # Round 8 closed the last rows-only query: pipe_bpe_train's oracle
    # asserts the deterministic trainer's exact expected OUTPUT (the
    # committed independent-trainer merge table, selected by corpus
    # content signature).  Every registered query is oracle-backed.
    assert missing == set(), f"rows-only queries without an oracle: {missing}"
