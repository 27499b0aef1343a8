"""Layer A — the reference-authored ML-UDF surface as driver-checkable
queries.

The LightGBM inference UDF is not directly expressible in DuckDB SQL —
but the fixture models are small tree ensembles, so the oracle *compiles
the model into SQL*: every tree becomes a nested CASE expression, class
scores are leaf-value sums, and argmax/softmax are reproduced with
list/exp functions.  That upgrades inference from a rows-only check to a
full value-hash parity check.

Reference parity targets: inference semantics ``src/udf.rs:114-241``,
argmax ``src/argmax.rs:15-120``, settings ``src/config.rs:45-52``,
the TSV example flow ``examples/lightfusion_tsv.rs``.
"""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import functions as F

from ..functions.argmax import argmax, register_argmax
from ..functions.inference import register_lightgbm_function
from ..ml.lgbm_model import (
    _MISSING_TYPE_NAN,
    _MISSING_TYPE_ZERO,
    _ZERO_THRESHOLD,
    LightGBMModel,
    load_model,
)
from ..fixtures import fixture_path
from .registry import register
from .util import table

EMBED_MODEL = fixture_path("models", "embed_cls.lgbm")
MULTI_MODEL = fixture_path("models", "multiclass.lgbm")
QUALITY_MODEL = fixture_path("models", "quality_cls.lgbm")
QUALITY_CAT_MODEL = fixture_path("models", "quality_cat.lgbm")
TSV_PATH = fixture_path("data", "multiclass.test")


# ---------------------------------------------------------------------------
# model -> SQL compilation (oracle side)
# ---------------------------------------------------------------------------

def _numerical_sql(x: str, threshold: float, decision_type: int) -> str:
    """LightGBM ``NumericalDecision`` as a SQL condition that holds when
    the value goes left: ``x <= threshold``, with missing values routed
    by the node's missing type (``decision_type`` bits 2-3).  Under None a
    NaN is compared as 0.0; under Zero a NaN or ``|x| <= 1e-35``, and under
    NaN a NaN, takes the default direction (bit1 set: left)."""
    missing_type = (decision_type >> 2) & 3
    missing = f"isnan({x})"
    default_left = bool(decision_type & 2)
    if missing_type == _MISSING_TYPE_ZERO:
        missing = f"({missing} OR abs({x}) <= {_ZERO_THRESHOLD!r})"
    elif missing_type != _MISSING_TYPE_NAN:
        default_left = 0.0 <= threshold
    cmp = f"{x} <= {threshold!r}"
    return f"({missing} OR {cmp})" if default_left else f"(NOT {missing} AND {cmp})"


def _node_sql(tree, i: int, feat_ref) -> str:
    """Nested CASE expression for the subtree rooted at internal node i.

    Categorical nodes (``decision_type`` bit0) compile the uint32 bitset
    to an explicit ``IN`` list over ``TRUNC(feature)`` — the
    ``CategoricalDecision`` membership test for non-NaN inputs (negative
    and out-of-range values fall through to the ELSE/right branch, same
    as the scorer; the corpus features are never NaN/NULL).  Numerical
    nodes compile their missing-value routing (:func:`_numerical_sql`)."""

    def child_sql(c: int) -> str:
        if c < 0:  # negative child encodes leaf ~c
            # CAST: a bare numeric literal parses as DECIMAL in DuckDB and
            # decimal leaf sums are exact, diverging from the scorer's
            # float64 addition in the last ulp
            return f"CAST({repr(float(tree.leaf_value[-c - 1]))} AS DOUBLE)"
        return _node_sql(tree, c, feat_ref)

    f = int(tree.split_feature[i])
    if int(tree.decision_type[i]) & 1:  # categorical split
        cat_idx = int(tree.threshold[i])
        start, end = tree.cat_boundaries[cat_idx], tree.cat_boundaries[cat_idx + 1]
        cats = [
            32 * w + b
            for w in range(end - start)
            for b in range(32)
            if (int(tree.cat_threshold[start + w]) >> b) & 1
        ]
        in_list = ", ".join(str(c) for c in cats)
        cond = f"CAST(TRUNC({feat_ref(f)}) AS BIGINT) IN ({in_list})"
    else:
        cond = _numerical_sql(feat_ref(f), float(tree.threshold[i]), int(tree.decision_type[i]))
    return (
        f"(CASE WHEN {cond} THEN {child_sql(int(tree.left_child[i]))} "
        f"ELSE {child_sql(int(tree.right_child[i]))} END)"
    )


def model_class_scores_sql(model: LightGBMModel, feat_ref) -> list[str]:
    """One SQL expression per class: the sum of its trees' outputs.

    Addition order matches the scorer's (tree index order), so the raw
    scores are bit-identical to ``LightGBMModel.predict_raw``.
    """
    k = max(model.num_tree_per_iteration, 1)
    per_class: dict[int, list[str]] = defaultdict(list)
    for t_idx, tree in enumerate(model.trees):
        cls = t_idx % k if model.n_outputs > 1 else 0
        per_class[cls].append(_node_sql(tree, 0, feat_ref))
    return [" + ".join(per_class[c]) for c in sorted(per_class)]


def _infer_embeddings_oracle() -> str:
    model = load_model(EMBED_MODEL)
    feat_ref = lambda f: f"CAST(embedding[{f + 1}] AS DOUBLE)"  # noqa: E731
    scores = model_class_scores_sql(model, feat_ref)
    n = len(scores)
    score_cols = ", ".join(f"{s} AS s{i}" for i, s in enumerate(scores))
    s_list = ", ".join(f"s{i}" for i in range(n))
    exp_sum = " + ".join(f"exp(s{i} - smax)" for i in range(n))
    return f"""
    WITH scored AS (SELECT vec_id, {score_cols} FROM embeddings),
    m AS (SELECT vec_id, [{s_list}] AS s, GREATEST({s_list}) AS smax, {s_list} FROM scored)
    SELECT vec_id,
           CAST(list_position(s, smax) - 1 AS INTEGER) AS predicted,
           ROUND(1.0 / ({exp_sum}), 6) AS p_max
    FROM m
    """


def _tsv_flagship_oracle() -> str:
    model = load_model(MULTI_MODEL)
    feat_ref = lambda f: f"column_{f + 2}"  # noqa: E731  (col 1 is the label)
    scores = model_class_scores_sql(model, feat_ref)
    n = len(scores)
    score_cols = ", ".join(f"{s} AS s{i}" for i, s in enumerate(scores))
    s_list = ", ".join(f"s{i}" for i in range(n))
    columns = ", ".join(
        ["'column_1': 'INTEGER'"] + [f"'column_{i}': 'DOUBLE'" for i in range(2, 30)]
    )
    return f"""
    WITH m AS (SELECT * FROM read_csv('{TSV_PATH}', delim='\t', header=false,
                                      columns={{{columns}}})),
    scored AS (SELECT column_1 AS label, {score_cols} FROM m),
    pred AS (SELECT label,
                    CAST(list_position([{s_list}], GREATEST({s_list})) - 1 AS INTEGER) AS inferred
             FROM scored)
    SELECT label, inferred, COUNT(*) AS n FROM pred GROUP BY label, inferred
    """


# ---------------------------------------------------------------------------
# queries (Spark side)
# ---------------------------------------------------------------------------

@register(
    "lgbm_infer_embeddings",
    oracle=_infer_embeddings_oracle(),
    doc="A2: batched LightGBM inference pandas UDF + A3 argmax over the "
    "embeddings table; oracle is the model compiled to SQL",
)
def lgbm_infer_embeddings(spark, sf_dir):
    register_argmax(spark)
    udf = register_lightgbm_function(
        spark, "f_emb", EMBED_MODEL, input_type="double", batch_size=64
    )
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", udf(F.col("embedding").cast("array<double>")).alias("probs"))
        .select(
            "vec_id",
            argmax(F.col("probs")).alias("predicted"),
            F.round(F.array_max("probs"), 6).alias("p_max"),
        )
    )


@register(
    "argmax_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(list_position(embedding, list_max(embedding)) - 1 AS INTEGER) AS idx
    FROM embeddings
    """,
    doc="A3: argmax as a pure JVM expression over ARRAY<FLOAT> (first-max-wins)",
)
def argmax_embeddings(spark, sf_dir):
    register_argmax(spark)
    table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql("SELECT vec_id, argmax(embedding) AS idx FROM embeddings")


@register(
    "settings_introspection",
    oracle="""
    SELECT 'lightfusion.batch_size' AS name, '7' AS value,
           'Batch size used when predicting model' AS description
    """,
    doc="A4+A5: SET lightfusion.batch_size via front-door + df_settings view "
    "(golden shape README.md:38-46)",
)
def settings_introspection(spark, sf_dir):
    from ..session import configure_session

    eng = configure_session(spark)
    eng.sql("SET lightfusion.batch_size = 7")
    return eng.sql(
        "SELECT name, value, description FROM information_schema.df_settings "
        "WHERE name LIKE 'lightfusion%'"
    )


def quality_gate_ctes(
    source: str,
    text_col: str,
    carry_cols: list[str],
    model_path: str | None = None,
    extra_feature_sql: list[str] | None = None,
) -> str:
    """Shared oracle fragment for the LightGBM quality gate: the CTE
    suffix ``fvals, scored, gated`` over ``source`` (a prior CTE whose
    rows contain ``text_col`` + ``carry_cols``).  ``gated`` emits
    ``(*carry_cols, n_words, p_keep)`` with the committed quality model
    compiled to CASE trees over the ``text_stats`` feature SQL — ONE
    copy of the feature + softmax arithmetic, used by both
    ``pipe_quality_model`` and ``pipe_e2e_model_curation`` so the two
    oracles cannot drift.

    ``model_path`` (default: the 4-feature ``quality_cls`` fixture) and
    ``extra_feature_sql`` (SQL expressions appended as ``f4, f5, ...``,
    mirroring ``quality_model_filter``'s ``extra_features``) let the
    categorical-split variant reuse the same CTE suffix."""
    model = load_model(model_path or QUALITY_MODEL)
    s0, s1 = model_class_scores_sql(model, lambda f: f"f{f}")
    carry = ", ".join(carry_cols)
    extra = "".join(
        f",\n             {sql} AS f{4 + i}"
        for i, sql in enumerate(extra_feature_sql or [])
    )
    return rf"""
    fvals AS (
      SELECT {carry},
             LEN(toks) AS n_words,
             CAST(LEN(toks) AS DOUBLE) AS f0,
             CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE)
               / LEN(toks) AS f1,
             CAST(LEN(regexp_extract_all({text_col}, '[^A-Za-z0-9\s]')) AS DOUBLE)
               / LENGTH({text_col}) AS f2,
             CAST(LEN(list_filter(toks, x ->
               list_contains(['a','and','is','of','the'], x))) AS DOUBLE)
               / LEN(toks) AS f3{extra}
      FROM (SELECT *, string_split_regex(lower({text_col}), '\s+') AS toks
            FROM {source})
    ),
    scored AS (SELECT {carry}, n_words, {s0} AS s0, {s1} AS s1 FROM fvals),
    gated AS (
      SELECT {carry}, n_words,
             ROUND(exp(s1 - GREATEST(s0, s1))
                   / (exp(s0 - GREATEST(s0, s1)) + exp(s1 - GREATEST(s0, s1))), 6)
               AS p_keep
      FROM scored
    )"""


def _quality_model_oracle() -> str:
    return rf"""
    WITH t AS (SELECT doc_id, text FROM documents),
    {quality_gate_ctes('t', 'text', ['doc_id'])}
    SELECT doc_id, n_words, p_keep, p_keep >= 0.5 AS keep FROM gated
    """


@register(
    "pipe_quality_model",
    oracle=_quality_model_oracle(),
    doc="model-based quality filtering flagship (round-6 item 6): JVM "
    "text features (the text_stats signals) -> LightGBM classifier via "
    "the batched inference UDF -> retention gate on softmax p_keep; "
    "oracle compiles the committed quality_cls.lgbm fixture into SQL "
    "CASE trees over the same feature SQL, the lgbm_infer_embeddings "
    "pattern",
)
def pipe_quality_model(spark, sf_dir):
    from ..operators.curation import quality_model_filter

    d = table(spark, sf_dir, "documents")
    return quality_model_filter(spark, d, "doc_id", "text", QUALITY_MODEL)


def _model_calibration_oracle() -> str:
    return rf"""
    WITH t AS (SELECT doc_id, text FROM documents),
    {quality_gate_ctes('t', 'text', ['doc_id'])},
    lab AS (
      SELECT p_keep,
             CASE WHEN n_words >= 30 THEN 1 ELSE 0 END AS label
      FROM gated
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR(p_keep * 10) AS INT), 9) AS bin, p_keep, label
      FROM lab
    ),
    agg AS (
      SELECT bin, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(p_keep AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_score,
             ROUND(CAST(SUM(CAST(label AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS frac_pos
      FROM b GROUP BY bin
    )
    SELECT bin, n, mean_score, frac_pos,
           ROUND(frac_pos - mean_score, 6) AS gap
    FROM agg
    """


@register(
    "pipe_model_calibration",
    oracle=_model_calibration_oracle(),
    doc="model-calibration audit (curation.calibration_report): the "
    "quality gate's softmax p_keep binned into 10 reliability buckets "
    "against a deterministic outcome proxy (n_words >= 30), each bin "
    "reporting count, mean predicted score, observed positive "
    "fraction, and their signed gap — the rows ECE is computed from.  "
    "Composes the A2 inference path into a one-aggregation audit; "
    "DECIMAL-exact sums so partial-agg order cannot move a bin; oracle "
    "recompiles the model via the shared quality_gate_ctes fragment",
)
def pipe_model_calibration(spark, sf_dir):
    from ..operators.curation import calibration_report, quality_model_filter

    d = table(spark, sf_dir, "documents")
    gate = quality_model_filter(spark, d, "doc_id", "text", QUALITY_MODEL)
    labeled = gate.withColumn("label", (F.col("n_words") >= 30).cast("int"))
    return calibration_report(labeled, "p_keep", "label", n_bins=10)


#: SQL for the categorical 5th feature: ``srcN`` -> N, the code the
#: fixture model's bitsets are defined over.  Identical text in Spark
#: SQL and DuckDB (regexp_replace + cast are common-subset).
_SOURCE_CODE_SQL = "CAST(regexp_replace(source, '^src', '') AS DOUBLE)"


def _quality_model_cat_oracle() -> str:
    return rf"""
    WITH t AS (SELECT doc_id, text, source FROM documents),
    {quality_gate_ctes('t', 'text', ['doc_id', 'source'],
                       model_path=QUALITY_CAT_MODEL,
                       extra_feature_sql=[_SOURCE_CODE_SQL])}
    SELECT doc_id, source, n_words, p_keep, p_keep >= 0.5 AS keep FROM gated
    """


@register(
    "pipe_quality_model_categorical",
    oracle=_quality_model_cat_oracle(),
    doc="A2 categorical-split parity: the quality gate scored by a "
    "LightGBM model whose every tree roots at a categorical split "
    "(decision_type bit0, uint32-bitset membership over the document's "
    "source id; one bitset spans two words) — the Booster::predict "
    "path the reference gets from LightGBM C++ for free "
    "(src/udf.rs:92-97) and the round-9 verdict's top capability gap. "
    "Oracle compiles the categorical nodes to TRUNC(f) IN (...) CASE "
    "trees; scorer semantics (NaN/negative/out-of-range -> right) are "
    "unit-tested against a row-wise reference",
)
def pipe_quality_model_categorical(spark, sf_dir):
    from ..operators.curation import quality_model_filter

    d = table(spark, sf_dir, "documents")
    return quality_model_filter(
        spark,
        d,
        "doc_id",
        "text",
        QUALITY_CAT_MODEL,
        passthrough_cols=["source"],
        extra_features=[F.expr(_SOURCE_CODE_SQL)],
    )


@register(
    "lgbm_tsv_flagship",
    oracle=_tsv_flagship_oracle(),
    doc="A1+A2+A3 e2e: the reference TSV example (examples/lightfusion_tsv.rs) "
    "driven through the SQL front-door verbatim, aggregated to (label, "
    "inferred, n); oracle re-reads the TSV and scores the compiled model",
)
def lgbm_tsv_flagship(spark, sf_dir):
    from ..session import configure_session

    eng = configure_session(spark)
    eng.sql("SET lightfusion.batch_size = 64")
    eng.sql(
        f"CREATE FUNCTION f_tsv(DOUBLE[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM AS '{MULTI_MODEL}'"
    )
    eng.sql(
        f"CREATE EXTERNAL TABLE mtsv STORED AS CSV DELIMITER '\t' LOCATION '{TSV_PATH}'"
    )
    cols = ", ".join(f"column_{i}" for i in range(2, 30))
    return eng.sql(
        f"""
        SELECT label, inferred, COUNT(*) AS n FROM (
          SELECT column_1 AS label, argmax(f_tsv([{cols}])) AS inferred FROM mtsv
        ) GROUP BY label, inferred
        """
    )
