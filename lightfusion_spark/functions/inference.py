"""LightGBM inference as an Arrow-native Spark UDF.

Reference counterpart: the ``LightfusionUdf`` scalar UDF (``src/udf.rs``):
Arrow ``List<Float>`` column in, micro-batched ``Booster::predict`` calls,
``List<Float64>`` out (n_classes values per input row).

Spark-first design decisions:

* **Iterator Arrow UDF** (``F.arrow_udf`` over ``Iterator[pa.Array]``) —
  Arrow batches stream through one Python worker call per partition, and
  the model is resolved *once per partition* instead of once per batch.
  This is the Spark-idiomatic equivalent of the reference's
  session-lifetime ``Booster`` shared across threads (``src/lib.rs:64``,
  ``src/udf.rs:100-112``).  Features are read straight from the list
  column's offsets and flat values buffer and the ``List<Float64>`` output
  is built in one piece (``src/udf.rs:200-221``); no pandas object or
  per-row Python object is made in either direction.
* **Per-process model cache** — a module-level registry keyed by model
  path and content digest; CREATE FUNCTION parses a model file once
  however many functions are created over it, and each executor process
  parses the shipped model text once, on first use.
* **Micro-batching parity** — rows are scored in chunks of ``batch_size``
  with a partial tail chunk, exactly like the reference's batching loop
  (``src/udf.rs:181-192``, ``end = min(start + batch_size, n_rows)`` at
  ``src/udf.rs:209``).  ``batch_size`` is captured at function-creation
  time from ``lightfusion.batch_size`` (``src/lib.rs:57-66``), not read
  per call.
* **Type gating at registration** — input element type must be FLOAT or
  DOUBLE and return element type DOUBLE, mirroring the reference's
  dispatch arms and explicit rejection (``src/udf.rs:15-47``).

At 100 TB scale: inference is embarrassingly parallel (no shuffle); the
only levers are Arrow batch size (``spark.sql.execution.arrow.
maxRecordsPerBatch``), model-load amortization (handled by the cache),
and keeping the feature-assembly projection JVM-side (``array(...)`` of
columns, pushed-down column pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, DoubleType

from .. import config as lf_config
from ..errors import LightFusionConfigError, UnsupportedTypeError
from ..ml.lgbm_model import LightGBMModel, parse_model_str

SUPPORTED_INPUT_TYPES = {"float", "double"}
SUPPORTED_RETURN_TYPES = {"double"}

#: The Arrow type Spark expects back for ``ARRAY<DOUBLE>``; the output is
#: built as exactly this type so the worker never casts it.
_OUTPUT_TYPE = to_arrow_type(ArrayType(DoubleType()))

# Per-process (executor-side) model cache keyed by (path, content digest), so
# re-creating a function after the model file changed never serves a stale
# parsed model from a warm executor.
_MODEL_CACHE: dict[tuple[str, str], LightGBMModel] = {}


def _get_model(cache_key: tuple[str, str], model_text: str) -> LightGBMModel:
    model = _MODEL_CACHE.get(cache_key)
    if model is None:
        model = parse_model_str(model_text)
        _MODEL_CACHE[cache_key] = model
    return model


def _assemble_features(arr: pa.Array, n_features: int) -> np.ndarray:
    """Arrow ``list<float|double>`` batch -> one (n_rows, n_features)
    float32 or float64 tensor, as the list's element type.

    The reference's slice over the list array's flat values buffer
    (``src/udf.rs:213-217``): the rows' values are the contiguous range
    ``offsets[0]:offsets[-1]`` of the values child (so sliced arrays read
    only their own rows), viewed without a per-row Python object and
    reshaped.  Every row's length is checked from the offsets, so rows of
    compensating wrong lengths cannot shift features across rows.

    Null semantics (SURVEY §7.6 — the reference declares list items
    non-null and never checks, ``src/udf.rs:70``): a NULL *array* is a hard,
    clearly-worded error; a NULL *element* becomes NaN and flows into the
    model's missing-value routing.
    """
    if arr.null_count:
        raise ValueError(
            f"lightfusion inference: {arr.null_count} of {len(arr)} input "
            "rows have a NULL feature array; feature vectors must be non-null "
            f"ARRAY<FLOAT|DOUBLE> of length {n_features}"
        )
    offsets = arr.offsets.to_numpy()
    lengths = np.diff(offsets)
    if (lengths != n_features).any():
        raise ValueError(
            f"lightfusion inference: feature vector length(s) "
            f"{sorted(set(lengths.tolist()))} != model n_features {n_features}"
        )
    start, end = int(offsets[0]), int(offsets[-1])
    flat = arr.values.slice(start, end - start).to_numpy(zero_copy_only=False)
    # FLOAT[] stays float32: the scorer upcasts only the features it reads
    return flat.reshape(len(arr), n_features)


#: Models larger than this ride as a SparkContext broadcast (torrent-style
#: distribution, one copy per executor) instead of being serialized into
#: every task closure.
BROADCAST_THRESHOLD_BYTES = 4 * 1024 * 1024


def make_lightgbm_udf(
    model_path: str,
    batch_size: int = 1,
    input_type: str = "double",
    return_type: str = "double",
    spark: SparkSession | None = None,
):
    """Build the inference Arrow UDF for one registered function.

    The model text ships to executors, so they never need the driver's
    filesystem.  Small models embed in the UDF closure; past
    :data:`BROADCAST_THRESHOLD_BYTES` (and when ``spark`` is provided)
    the text ships as a ``SparkContext.broadcast`` so each executor
    receives one copy via the torrent protocol instead of one copy per
    task.  Either way the parsed model is cached per executor
    process keyed by content digest.
    """
    if input_type not in SUPPORTED_INPUT_TYPES:
        raise UnsupportedTypeError(
            f"unsupported input type ARRAY<{input_type.upper()}>: "
            f"supported inputs are ARRAY<FLOAT> and ARRAY<DOUBLE>"
        )
    if return_type not in SUPPORTED_RETURN_TYPES:
        raise UnsupportedTypeError(
            f"unsupported return type ARRAY<{return_type.upper()}>: "
            f"supported return type is ARRAY<DOUBLE>"
        )
    if batch_size <= 0:
        raise LightFusionConfigError("batch size must be > 0")

    # Validate the model *now* (CREATE FUNCTION time), like Booster::from_file
    # failing at create in the reference (src/lib.rs:67-71); an unchanged
    # file is parsed once per process, a malformed one fails every time.
    with open(model_path, "r", encoding="utf-8") as fh:
        text = fh.read()
    cache_key = (model_path, hashlib.sha256(text.encode("utf-8")).hexdigest()[:16])
    model = _get_model(cache_key, text)
    model_text: str | None = None
    model_broadcast = None
    if spark is not None and len(text) > BROADCAST_THRESHOLD_BYTES:
        model_broadcast = spark.sparkContext.broadcast(text)
    else:
        model_text = text
    n_features = model.num_features
    del model, text

    @F.arrow_udf(ArrayType(DoubleType()))
    def predict(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        shipped = model_broadcast.value if model_broadcast is not None else model_text
        mdl = _get_model(cache_key, shipped)
        k = mdl.n_outputs
        for batch in batches:
            # In-process callers may hand over a pandas Series of row arrays.
            arr = batch if isinstance(batch, pa.Array) else pa.array(batch)
            feats = _assemble_features(arr, n_features)
            n_rows = len(feats)
            out = np.empty((n_rows, k), dtype=np.float64)
            # Micro-batching loop with partial tail chunk (src/udf.rs:181-192,209)
            for start in range(0, n_rows, batch_size):
                end = min(start + batch_size, n_rows)
                out[start:end] = mdl.predict(feats[start:end])
            offsets = np.arange(0, (n_rows + 1) * k, k, dtype=np.int32)
            yield pa.ListArray.from_arrays(offsets, out.ravel(), type=_OUTPUT_TYPE)

    return predict


def register_lightgbm_function(
    spark: SparkSession,
    name: str,
    model_path: str,
    input_type: str = "double",
    return_type: str | None = None,
    batch_size: int | None = None,
):
    """Register ``name`` as a SQL-callable LightGBM inference function.

    Defaulting rules match the reference's ``FunctionFactory::create``
    (``src/lib.rs:35-56``): missing input type -> DOUBLE, missing return
    type -> input type, missing model path handled by the caller
    (``model/{name}.lgbm``).  ``batch_size`` defaults to the session's
    ``lightfusion.batch_size`` at creation time (``src/lib.rs:57-66``).
    """
    if return_type is None:
        return_type = input_type
    if batch_size is None:
        batch_size = lf_config.get_batch_size(spark)
    udf = make_lightgbm_udf(
        model_path,
        batch_size=batch_size,
        input_type=input_type,
        return_type=return_type,
        spark=spark,
    )
    spark.udf.register(name, udf)
    return udf
