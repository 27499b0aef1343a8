"""End-to-end tests replicating the reference's own test surface:

* the e2e golden test (``src/lib.rs:120-168``): CREATE FUNCTION -> literal
  array inference -> argmax;
* the settings surface (``examples/lightfusion.rs:47-50``, ``README.md:36-56``);
* the TSV scan flow (``examples/lightfusion_tsv.rs``).

Goldens are regenerated from this repo's own fixture model (the reference's
``multiclass.lgbm`` blob is unavailable, SURVEY.md §5).
"""

import numpy as np
import pytest

from lightfusion_spark import config as lf_config
from lightfusion_spark.ml import load_model

from lightfusion_spark.fixtures import fixture_path

MODEL_PATH = fixture_path("models", "multiclass.lgbm")
TSV_PATH = fixture_path("data", "multiclass.test")
N_FEATURES = 28


@pytest.fixture(scope="module")
def fixture_model():
    return load_model(MODEL_PATH)


@pytest.fixture(scope="module")
def f0(engine):
    engine.sql(f"CREATE FUNCTION f0(DOUBLE[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    return engine


def _literal_row(seed=7):
    rng = np.random.RandomState(seed)
    return rng.standard_normal(N_FEATURES).round(4)


def test_create_function_and_literal_inference(f0, fixture_model):
    """Mirror of the reference e2e: SELECT f0([...]) AS inferred (src/lib.rs:133-148)."""
    row = _literal_row()
    lits = ", ".join(repr(float(x)) for x in row)
    out = f0.sql(f"SELECT f0([{lits}]) AS inferred").collect()
    assert len(out) == 1
    got = np.array(out[0]["inferred"])
    expected = fixture_model.predict(row.reshape(1, -1))[0]
    np.testing.assert_allclose(got, expected, rtol=1e-12)
    assert got.sum() == pytest.approx(1.0)


def test_argmax_composition(f0, fixture_model):
    """SELECT argmax(f0([...])) AS inferred (src/lib.rs:150-165)."""
    row = _literal_row(seed=11)
    lits = ", ".join(repr(float(x)) for x in row)
    out = f0.sql(f"SELECT argmax(f0([{lits}])) AS inferred").collect()
    expected = int(fixture_model.predict(row.reshape(1, -1))[0].argmax())
    assert out[0]["inferred"] == expected


def test_argmax_builtin_semantics(engine):
    rows = engine.sql(
        "SELECT argmax([1.0, 5.0, 5.0, 2.0]) AS a, argmax([3.0]) AS b, "
        "argmax([1, 7, 2]) AS c, "
        "argmax(CAST(array(1, 5, 3) AS ARRAY<BIGINT>)) AS d"
    ).collect()
    assert rows[0]["a"] == 1  # first-max-wins (src/argmax.rs:115)
    assert rows[0]["b"] == 0
    assert rows[0]["c"] == 1  # int array through implicit cast
    # bigint array through the same coercion (src/argmax.rs:71-93 accepts
    # List<Int64>; Spark reaches parity via implicit ARRAY<DOUBLE> cast)
    assert rows[0]["d"] == 1


def test_batch_size_set_and_introspection(engine):
    engine.sql("SET lightfusion.batch_size = 16")
    assert engine.spark.conf.get("lightfusion.batch_size") == "16"
    rows = engine.sql(
        "SELECT * FROM information_schema.df_settings WHERE name LIKE 'lightfusion%'"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # golden shape from README.md:38-46: name / value / description
    assert r["name"] == "lightfusion.batch_size"
    assert r["value"] == "16"
    assert "batch size" in r["description"].lower()
    engine.sql("SET lightfusion.batch_size = 1")


def test_set_validation_errors(engine):
    with pytest.raises(lf_config.LightFusionConfigError):
        engine.sql("SET lightfusion.unknown_key = 5")  # src/config.rs:37-39
    with pytest.raises(lf_config.LightFusionConfigError):
        engine.sql("SET lightfusion.batch_size = 0")
    with pytest.raises(lf_config.LightFusionConfigError):
        engine.sql("SET lightfusion.batch_size = abc")  # src/config.rs:32-35


def test_create_function_type_gating(engine):
    from lightfusion_spark.functions.inference import UnsupportedTypeError

    with pytest.raises(UnsupportedTypeError):
        engine.sql(
            f"CREATE FUNCTION bad(BIGINT[]) RETURNS BIGINT[] LANGUAGE LIGHTGBM AS '{MODEL_PATH}'"
        )  # src/udf.rs:35-46


def test_create_function_defaults(engine, fixture_model, tmp_path_factory):
    """Missing arg type -> DOUBLE; missing return -> input; missing body ->
    model/{name}.lgbm (src/lib.rs:35-56)."""
    import os
    import shutil

    os.makedirs("model", exist_ok=True)
    shutil.copy(MODEL_PATH, "model/f1.lgbm")
    try:
        engine.sql("CREATE FUNCTION f1() LANGUAGE LIGHTGBM")
        row = _literal_row(seed=3)
        lits = ", ".join(repr(float(x)) for x in row)
        got = np.array(engine.sql(f"SELECT f1([{lits}]) AS p").collect()[0]["p"])
        np.testing.assert_allclose(got, fixture_model.predict(row.reshape(1, -1))[0], rtol=1e-12)
    finally:
        shutil.rmtree("model", ignore_errors=True)


def test_batch_size_affects_chunking_not_results(engine, fixture_model):
    """batch_size=1 vs 7 vs 500 give identical predictions (tail-chunk parity,
    src/udf.rs:209)."""
    rng = np.random.RandomState(0)
    feats = rng.standard_normal((23, N_FEATURES)).round(6)
    expected = fixture_model.predict(feats)
    pdf = engine.spark.createDataFrame(
        [(i, [float(x) for x in feats[i]]) for i in range(len(feats))],
        "id int, v array<double>",
    )
    pdf.createOrReplaceTempView("bs_input")
    for bs in (1, 7, 500):
        engine.sql(f"SET lightfusion.batch_size = {bs}")
        engine.sql(f"CREATE FUNCTION fbs(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
        rows = engine.sql("SELECT id, fbs(v) AS p FROM bs_input ORDER BY id").collect()
        got = np.array([r["p"] for r in rows])
        np.testing.assert_allclose(got, expected, rtol=1e-12)
    engine.sql("SET lightfusion.batch_size = 1")


def test_tsv_scan_flow(engine, fixture_model):
    """Port of examples/lightfusion_tsv.rs over this repo's own eval TSV:
    scan -> 28-col array -> f0 -> argmax == label for all 500 rows."""
    from lightfusion_spark.sources.tsv import read_headerless_tsv

    df = read_headerless_tsv(engine.spark, TSV_PATH)
    assert df.columns[:2] == ["column_1", "column_2"] and len(df.columns) == 29
    df.createOrReplaceTempView("m")
    engine.sql(f"CREATE FUNCTION ftsv(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    cols = ", ".join(f"column_{i}" for i in range(2, 30))
    res = engine.sql(
        f"SELECT column_1 AS label, argmax(ftsv([{cols}])) AS inferred FROM m"
    )
    mismatches = res.where("label <> inferred").count()
    assert mismatches == 0
    assert res.count() == 500


def test_array_literal_rewrite_preserves_subscripts(engine):
    rows = engine.sql("SELECT [1, 2, 3][1] AS x, ['a', 'b'] AS arr").collect()
    # [1,2,3] -> array(1,2,3); trailing [1] stays a subscript (0-based? Spark arrays
    # are 1-based via [] ? no: [] subscript on arrays is 0-based in Spark SQL)
    assert rows[0]["arr"] == ["a", "b"]


def test_null_array_row_errors_clearly(engine):
    """SURVEY §7.6: NULL feature array -> clear error (reference never checks,
    src/udf.rs:70)."""
    engine.sql(f"CREATE FUNCTION fnull(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    df = engine.spark.createDataFrame(
        [(1, [0.0] * N_FEATURES), (2, None)], "id int, v array<double>"
    )
    df.createOrReplaceTempView("null_input")
    with pytest.raises(Exception, match="NULL feature array"):
        engine.sql("SELECT fnull(v) AS p FROM null_input").collect()


def test_null_element_becomes_nan_missing(engine, fixture_model):
    """A NULL *element* arrives as NaN and takes LightGBM missing routing."""
    engine.sql(f"CREATE FUNCTION felem(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    vec = [float(i) / 10 for i in range(N_FEATURES)]
    row = [(1, [None if i == 0 else v for i, v in enumerate(vec)])]
    df = engine.spark.createDataFrame(row, "id int, v array<double>")
    df.createOrReplaceTempView("elem_input")
    got = np.array(engine.sql("SELECT felem(v) AS p FROM elem_input").collect()[0]["p"])
    feats = np.array(vec)
    feats[0] = np.nan
    np.testing.assert_allclose(got, fixture_model.predict(feats.reshape(1, -1))[0], rtol=1e-12)


def test_ragged_vector_errors(engine):
    engine.sql(f"CREATE FUNCTION frag(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    df = engine.spark.createDataFrame([(1, [1.0, 2.0])], "id int, v array<double>")
    df.createOrReplaceTempView("ragged_input")
    with pytest.raises(Exception, match="n_features"):
        engine.sql("SELECT frag(v) AS p FROM ragged_input").collect()


def test_compensating_ragged_vectors_error(engine):
    """Rows one short and one long hold two rows' worth of values; each row's
    length is checked, so no row is scored on its neighbour's features."""
    engine.sql(f"CREATE FUNCTION frag2(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    df = engine.spark.createDataFrame(
        [(1, [1.0] * (N_FEATURES - 1)), (2, [2.0] * (N_FEATURES + 1))],
        "id int, v array<double>",
    ).coalesce(1)
    df.createOrReplaceTempView("ragged_pair_input")
    with pytest.raises(Exception, match="n_features"):
        engine.sql("SELECT frag2(v) AS p FROM ragged_pair_input").collect()


def test_external_table_ddl_verbatim(engine):
    """The reference's exact TSV flow (examples/lightfusion_tsv.rs:20-63)
    runs through the front-door DDL text unchanged."""
    engine.sql("SET lightfusion.batch_size = 1")
    engine.sql(f"CREATE FUNCTION fddl(DOUBLE[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    engine.sql(
        f"CREATE EXTERNAL TABLE m2 STORED AS CSV DELIMITER '\t' LOCATION '{TSV_PATH}'"
    )
    cols = ",\n".join(f"column_{i}" for i in range(2, 30))
    res = engine.sql(
        f"SELECT column_1 as label, argmax(fddl([{cols}])) as inferred FROM m2"
    )
    assert res.where("label <> inferred").count() == 0
    assert res.count() == 500


def test_argmax_float32_arrays(engine):
    """Reference accepts List<F32> (src/argmax.rs:28-41); Spark reaches the
    ARRAY<DOUBLE>-typed SQL UDF through an implicit, exact float->double cast."""
    df = engine.spark.createDataFrame(
        [(1, [1.5, 9.25, 3.0]), (2, [7.0, 2.0, 7.0])], "id int, v array<float>"
    )
    df.createOrReplaceTempView("f32_input")
    rows = engine.sql("SELECT id, argmax(v) AS a FROM f32_input ORDER BY id").collect()
    assert [r["a"] for r in rows] == [1, 0]


def test_create_or_replace_function(engine, fixture_model):
    """CREATE OR REPLACE FUNCTION re-registers under the same name."""
    engine.sql(f"CREATE OR REPLACE FUNCTION frep(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    engine.sql(f"CREATE OR REPLACE FUNCTION frep(DOUBLE[]) LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    row = _literal_row(seed=21)
    lits = ", ".join(repr(float(x)) for x in row)
    got = np.array(engine.sql(f"SELECT frep([{lits}]) AS p").collect()[0]["p"])
    np.testing.assert_allclose(got, fixture_model.predict(row.reshape(1, -1))[0], rtol=1e-12)


def test_float32_input_function(engine, fixture_model):
    """FLOAT[] input arrays score identically (reference (F32,F64) arm,
    src/udf.rs:23-28)."""
    engine.sql(f"CREATE FUNCTION f32fn(FLOAT[]) RETURNS DOUBLE[] LANGUAGE LIGHTGBM AS '{MODEL_PATH}'")
    rng = np.random.RandomState(5)
    feats32 = rng.standard_normal((4, N_FEATURES)).astype(np.float32)
    df = engine.spark.createDataFrame(
        [(i, [float(x) for x in feats32[i]]) for i in range(4)], "id int, v array<float>"
    )
    df.createOrReplaceTempView("f32_feats")
    rows = engine.sql("SELECT id, f32fn(v) AS p FROM f32_feats ORDER BY id").collect()
    got = np.array([r["p"] for r in rows])
    expected = fixture_model.predict(feats32.astype(np.float64))
    np.testing.assert_allclose(got, expected, rtol=1e-12)


def test_missing_model_file_errors_at_create(engine):
    """Model load failure surfaces at CREATE time, like Booster::from_file
    (src/lib.rs:67-71)."""
    with pytest.raises(Exception, match="nonexistent"):
        engine.sql("CREATE FUNCTION fmiss(DOUBLE[]) LANGUAGE LIGHTGBM AS 'models/nonexistent.lgbm'")


def test_set_returns_empty_like_reference(engine):
    out = engine.sql("SET lightfusion.batch_size = 3")
    assert out.count() == 0  # reference SET returns an empty batch
    assert engine.spark.conf.get("lightfusion.batch_size") == "3"
    engine.sql("SET lightfusion.batch_size = 1")


def test_large_model_ships_via_broadcast(engine, fixture_model, monkeypatch):
    """Models past the threshold ship as a SparkContext broadcast (one copy
    per executor) instead of per-task closures."""
    from lightfusion_spark.functions import inference

    monkeypatch.setattr(inference, "BROADCAST_THRESHOLD_BYTES", 64)
    udf = inference.make_lightgbm_udf(
        MODEL_PATH, batch_size=16, spark=engine.spark
    )
    engine.spark.udf.register("fbig", udf)
    row = _literal_row(seed=33)
    lits = ", ".join(repr(float(x)) for x in row)
    got = np.array(engine.sql(f"SELECT fbig([{lits}]) AS p").collect()[0]["p"])
    np.testing.assert_allclose(got, fixture_model.predict(row.reshape(1, -1))[0], rtol=1e-12)


def test_spark_conf_is_the_one_session_shape(monkeypatch):
    """Every session the repo builds starts from ``spark_conf``: ``cores``
    sets both the local master and the shuffle partitions, the builder
    defaults ride along, an override wins, and ``SPARK_GRAFT_CPUS`` (else
    ``min(cpu_count, 32)``) is the default core count."""
    import os

    from lightfusion_spark.session import BUILDER_DEFAULTS, spark_conf

    conf = spark_conf(3)
    assert conf.get("spark.master") == "local[3]"
    assert conf.get("spark.sql.shuffle.partitions") == "3"
    for key, value in BUILDER_DEFAULTS.items():
        assert conf.get(key) == value

    tz = "spark.sql.session.timeZone"
    assert spark_conf(3, **{tz: "Asia/Kolkata"}).get(tz) == "Asia/Kolkata"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    conf = spark_conf()
    assert conf.get("spark.master") == "local[5]"
    assert conf.get("spark.sql.shuffle.partitions") == "5"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    cores = min(os.cpu_count() or 8, 32)
    assert spark_conf().get("spark.master") == f"local[{cores}]"
