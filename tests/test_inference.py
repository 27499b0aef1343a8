"""Contract tests for the inference UDF body (``make_lightgbm_udf(...).func``).

The body is driven in-process with Arrow batches, the way Spark's Python
worker hands them over, and every output is checked against
``LightGBMModel.predict`` on the stacked feature matrix, bit for bit.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, DoubleType

from lightfusion_spark.fixtures import fixture_path
from lightfusion_spark.functions.inference import make_lightgbm_udf
from lightfusion_spark.ml import load_model
from lightfusion_spark.ml.lgbm_model import parse_model_str

MODELS = ["multiclass", "quality_cls", "quality_cat", "embed_cls"]
OUTPUT_TYPE = to_arrow_type(ArrayType(DoubleType()))
ELEMENT = {"float": pa.float32(), "double": pa.float64()}


def _setup(name, batch_size=16, input_type="double"):
    path = fixture_path("models", f"{name}.lgbm")
    return load_model(path), make_lightgbm_udf(path, batch_size=batch_size, input_type=input_type)


def _features(n_rows, n_features, seed=0):
    return np.random.default_rng(seed).standard_normal((n_rows, n_features)).round(4)


def _list_array(x, element_type=pa.float64()):
    return pa.array(list(x), type=pa.list_(element_type))


def _score(udf, *batches):
    outs = list(udf.func(iter(batches)))
    for out in outs:
        assert out.type == OUTPUT_TYPE
    return outs


def _matrix(out):
    return np.array(out.to_pylist(), dtype=np.float64).reshape(len(out), -1)


@pytest.mark.parametrize("name", MODELS)
@pytest.mark.parametrize("input_type", ["float", "double"])
def test_scores_equal_model_predict(name, input_type):
    model, udf = _setup(name, input_type=input_type)
    x = _features(100, model.num_features).astype(ELEMENT[input_type].to_pandas_dtype())
    (out,) = _score(udf, _list_array(x, ELEMENT[input_type]))
    assert np.array_equal(_matrix(out), model.predict(x.astype(np.float64)))


@pytest.mark.parametrize("batch_size", [1, 7, 64, 10_000])
def test_partial_tail_chunk_scores_the_same(batch_size):
    model, udf = _setup("multiclass", batch_size=batch_size)
    x = _features(101, model.num_features, seed=1)
    (out,) = _score(udf, _list_array(x))
    assert np.array_equal(_matrix(out), model.predict(x))


def test_null_element_scores_as_nan_missing():
    model, udf = _setup("multiclass")
    x = _features(3, model.num_features, seed=2)
    rows = [list(r) for r in x]
    rows[1][0] = None
    rows[2][5] = None
    (out,) = _score(udf, pa.array(rows, type=pa.list_(pa.float32())))
    expected = x.astype(np.float32).astype(np.float64)
    expected[1, 0] = expected[2, 5] = np.nan
    assert np.array_equal(_matrix(out), model.predict(expected))


def test_null_array_raises_with_count():
    model, udf = _setup("multiclass")
    row = [0.0] * model.num_features
    batch = pa.array([row, None, row, None], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="2 of 4 input rows have a NULL feature array"):
        _score(udf, batch)


def test_compensating_ragged_rows_raise():
    """Rows one short and one long add up to two full rows; each row's own
    length must still be checked."""
    model, udf = _setup("multiclass")
    n = model.num_features
    batch = pa.array([[1.0] * (n - 1), [2.0] * (n + 1)], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError, match=rf"\[{n - 1}, {n + 1}\] != model n_features {n}"):
        _score(udf, batch)


def test_sliced_input_scores_its_own_rows():
    model, udf = _setup("multiclass")
    x = _features(80, model.num_features, seed=3)
    sliced = _list_array(x).slice(3, 50)
    assert sliced.offset == 3
    (out,) = _score(udf, sliced)
    assert np.array_equal(_matrix(out), model.predict(x[3:53]))


def test_empty_batch_yields_empty_array():
    model, udf = _setup("multiclass")
    x = _features(5, model.num_features, seed=4)
    empty, full = _score(udf, _list_array(x[:0]), _list_array(x))
    assert len(empty) == 0
    assert np.array_equal(_matrix(full), model.predict(x))


def test_pandas_series_batch_matches_arrow_batch():
    model, udf = _setup("multiclass", input_type="float")
    x = _features(40, model.num_features, seed=5).astype(np.float32)
    (from_arrow,) = _score(udf, _list_array(x, pa.float32()))
    (from_pandas,) = _score(udf, pd.Series(list(x)))
    assert from_pandas.equals(from_arrow)


@pytest.mark.parametrize("name", MODELS)
def test_float_and_double_inputs_score_the_same(name):
    """FLOAT[] rows reach the scorer as float32, which upcasts only the
    features it reads: the same values as DOUBLE[] score bit for bit."""
    model = load_model(fixture_path("models", f"{name}.lgbm"))
    rng = np.random.default_rng(6)
    x = (_features(300, model.num_features, seed=6) * 30).astype(np.float32)
    for value, share in ((np.nan, 0.1), (0.0, 0.05), (-0.0, 0.05), (1e-36, 0.05)):
        x[rng.random(x.shape) < share] = value
    outs = [
        _score(_setup(name, batch_size=64, input_type=t)[1], _list_array(x, ELEMENT[t]))[0]
        for t in ("float", "double")
    ]
    assert outs[0].equals(outs[1])


def test_create_function_parses_an_unchanged_model_once(tmp_path, monkeypatch):
    """Functions created over one model file share one parse; a rewritten
    file is parsed again, and a malformed one fails at every creation."""
    from lightfusion_spark.functions import inference

    parses = []

    def counting_parse(text):
        parses.append(text)
        return parse_model_str(text)

    monkeypatch.setattr(inference, "parse_model_str", counting_parse)
    monkeypatch.setattr(inference, "_MODEL_CACHE", {})
    path = tmp_path / "model.lgbm"
    text = open(fixture_path("models", "multiclass.lgbm"), encoding="utf-8").read()
    path.write_text(text)
    make_lightgbm_udf(str(path), batch_size=8)
    make_lightgbm_udf(str(path), batch_size=64, input_type="float")
    assert len(parses) == 1
    path.write_text(text + "\n")
    make_lightgbm_udf(str(path))
    assert len(parses) == 2
    path.write_text("tree\nversion=v4\n")
    for _ in range(2):
        with pytest.raises(ValueError, match="max_feature_idx"):
            make_lightgbm_udf(str(path))
    assert len(parses) == 4
