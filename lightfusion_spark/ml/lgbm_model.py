"""Pure-NumPy scorer for the public LightGBM *text* model format.

The reference engine (milenkovicm/lightfusion) scores models by FFI into the
LightGBM C++ library (``Booster::from_file`` + ``Booster::predict``,
reference ``src/udf.rs:92-97,187-189``).  This environment has no ``lightgbm``
wheel and the reference's model blob is a missing LFS pointer
(``.MISSING_LARGE_BLOBS:1``), so we re-implement prediction over the
*documented public text format* that ``Booster::save_model`` emits:

    tree
    version=v4
    num_class=5
    num_tree_per_iteration=5
    max_feature_idx=27
    objective=multiclass num_class:5
    ...
    Tree=0
    num_leaves=3
    split_feature=0 1
    threshold=0.5 1.25
    decision_type=2 2
    left_child=1 -1
    right_child=-2 -3
    leaf_value=0.1 0.2 0.3
    ...
    end of trees

Semantics implemented (matching LightGBM's ``Tree::Predict``):

* numerical splits: ``value <= threshold`` goes left, else right;
* categorical splits (``decision_type`` bit0): the node's ``threshold``
  holds the *categorical-split index*; ``cat_boundaries`` maps that index
  to a word range inside ``cat_threshold`` (a uint32 bitset); a row whose
  truncated feature value is a member of the bitset goes left, anything
  else — negative values, NaN, out-of-range categories — goes right
  (LightGBM ``Tree::CategoricalDecision`` / ``Common::FindInBitset``);
* ``decision_type`` bit flags: bit0 = categorical split,
  bit1 = default-left for missing values, bits 2-3 = missing type
  (0 = none, 1 = zero, 2 = NaN);
* child encoding: a negative child ``c`` denotes leaf ``~c`` (= ``-c - 1``);
* multiclass: tree ``t`` contributes to class ``t % num_tree_per_iteration``;
  raw scores go through softmax for ``multiclass``, sigmoid for ``binary``,
  identity otherwise.

Traversal is vectorized over rows with NumPy (no Python-per-row loop): an
integer ``node`` vector descends all rows simultaneously, masking out rows
that already reached a leaf.  Tree depth bounds the loop, so scoring a batch
is O(depth × n_rows) NumPy ops regardless of batch size.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

_CATEGORICAL_MASK = 1
_DEFAULT_LEFT_MASK = 2
_MISSING_TYPE_NONE = 0
_MISSING_TYPE_ZERO = 1
_MISSING_TYPE_NAN = 2


@dataclass
class Tree:
    """One decision tree parsed from a ``Tree=N`` section."""

    num_leaves: int
    split_feature: np.ndarray  # (num_leaves - 1,) int
    threshold: np.ndarray  # (num_leaves - 1,) float64
    decision_type: np.ndarray  # (num_leaves - 1,) int
    left_child: np.ndarray  # (num_leaves - 1,) int  (negative => leaf ~c)
    right_child: np.ndarray  # (num_leaves - 1,) int
    leaf_value: np.ndarray  # (num_leaves,) float64
    shrinkage: float = 1.0
    #: categorical-split bitsets (``num_cat > 0`` trees only):
    #: ``cat_boundaries`` (n_cat_splits + 1,) prefix offsets into
    #: ``cat_threshold`` (uint32 bitset words); a categorical node's
    #: ``threshold`` value is its index into ``cat_boundaries``.
    cat_boundaries: np.ndarray | None = None
    cat_threshold: np.ndarray | None = None

    def _categorical_go_left(self, vals: np.ndarray, thr: np.ndarray) -> np.ndarray:
        """Vectorized ``Tree::CategoricalDecision`` (LightGBM tree.h):
        membership of ``trunc(value)`` in the node's uint32 bitset goes
        left; NaN, negatives and out-of-range categories go right."""
        # NaN -> -1 -> the int_fval < 0 "go right" branch (LightGBM's
        # comment: "NaN is always in the right").
        int_fval = np.trunc(np.where(np.isnan(vals), -1.0, vals)).astype(np.int64)
        cat_idx = thr.astype(np.int64)
        start = self.cat_boundaries[cat_idx]
        n_words = self.cat_boundaries[cat_idx + 1] - start
        word = int_fval >> 5
        in_range = (int_fval >= 0) & (word < n_words)
        safe_word = np.where(in_range, start + word, 0)
        bit = (self.cat_threshold[safe_word] >> (int_fval & 31)) & 1
        return in_range & (bit == 1)

    def predict(self, features: np.ndarray) -> np.ndarray:
        """Score a (n_rows, n_features) float64 matrix -> (n_rows,) raw values."""
        n_rows = features.shape[0]
        if self.num_leaves <= 1:
            return np.full(n_rows, self.leaf_value[0], dtype=np.float64)

        node = np.zeros(n_rows, dtype=np.int64)  # all rows start at the root
        active = np.ones(n_rows, dtype=bool)
        # depth can't exceed num_leaves - 1 for any binary tree
        for _ in range(self.num_leaves):
            if not active.any():
                break
            idx = node[active]
            feat = self.split_feature[idx]
            thr = self.threshold[idx]
            dtyp = self.decision_type[idx]
            vals = features[active, feat]

            is_nan = np.isnan(vals)
            missing_type = (dtyp >> 2) & 3
            default_left = (dtyp & _DEFAULT_LEFT_MASK) != 0
            # LightGBM NumericalDecision semantics:
            #   missing_type != NaN  =>  NaN is converted to 0.0 first;
            #   missing_type == Zero =>  |v| <= kZeroThreshold (1e-35) takes
            #                            the default_left branch;
            #   missing_type == NaN  =>  NaN takes the default_left branch.
            num_vals = np.where(is_nan & (missing_type != _MISSING_TYPE_NAN), 0.0, vals)
            use_default = (is_nan & (missing_type == _MISSING_TYPE_NAN)) | (
                (missing_type == _MISSING_TYPE_ZERO) & (np.abs(num_vals) <= 1e-35)
            )
            go_left = np.where(use_default, default_left, num_vals <= thr)

            is_cat = (dtyp & _CATEGORICAL_MASK) != 0
            if is_cat.any():
                # only categorical rows: a numeric node's threshold is not
                # a categorical-split index
                go_left[is_cat] = self._categorical_go_left(
                    vals[is_cat], thr[is_cat]
                )

            nxt = np.where(go_left, self.left_child[idx], self.right_child[idx])
            node[active] = nxt
            active = node >= 0

        leaf_idx = -node - 1  # ~c for negative child encoding
        return self.leaf_value[leaf_idx]


@dataclass
class LightGBMModel:
    """A parsed LightGBM text-format model (ensemble of :class:`Tree`)."""

    num_class: int
    num_tree_per_iteration: int
    max_feature_idx: int
    objective: str
    trees: list[Tree] = field(default_factory=list)

    @property
    def num_features(self) -> int:
        return self.max_feature_idx + 1

    @property
    def n_outputs(self) -> int:
        """Length of the output vector per input row (n_classes, or 1)."""
        return self.num_class if self.num_class > 1 else 1

    # -- prediction ---------------------------------------------------------
    def predict_raw(self, features: np.ndarray) -> np.ndarray:
        """Sum tree outputs per class.  Returns (n_rows, n_outputs)."""
        features = np.asarray(features, dtype=np.float64)
        if features.ndim == 1:
            features = features.reshape(1, -1)
        if features.shape[1] < self.num_features:
            raise ValueError(
                f"model expects {self.num_features} features, got {features.shape[1]}"
            )
        n_rows = features.shape[0]
        k = max(self.num_tree_per_iteration, 1)
        raw = np.zeros((n_rows, self.n_outputs), dtype=np.float64)
        for t_idx, tree in enumerate(self.trees):
            cls = t_idx % k if self.n_outputs > 1 else 0
            raw[:, cls] += tree.predict(features)
        return raw

    def predict(self, features: np.ndarray) -> np.ndarray:
        """Apply the objective transform.  Returns (n_rows, n_outputs).

        ``multiclass``/``multiclassova`` -> softmax (ova uses per-class
        sigmoid), ``binary`` -> sigmoid, anything else -> raw scores.
        Mirrors what ``Booster::predict`` returns in the reference
        (probability vectors in the golden test, ``src/lib.rs:139-145``).
        """
        raw = self.predict_raw(features)
        obj = self.objective.split(" ")[0] if self.objective else ""
        if obj == "multiclass":
            shifted = raw - raw.max(axis=1, keepdims=True)
            e = np.exp(shifted)
            return e / e.sum(axis=1, keepdims=True)
        if obj in ("binary", "multiclassova", "cross_entropy"):
            return 1.0 / (1.0 + np.exp(-raw))
        return raw


def _parse_kv(line: str) -> tuple[str, str]:
    key, _, value = line.partition("=")
    return key.strip(), value.strip()


def parse_model_str(text: str) -> LightGBMModel:
    """Parse the LightGBM text model format into a :class:`LightGBMModel`."""
    header: dict[str, str] = {}
    trees: list[Tree] = []
    cur: dict[str, str] | None = None

    def flush() -> None:
        nonlocal cur
        if cur is None:
            return
        num_leaves = int(cur["num_leaves"])
        dtyp = (
            np.array([int(x) for x in cur["decision_type"].split()], dtype=np.int64)
            if cur.get("decision_type")
            else np.full(max(num_leaves - 1, 0), 2, dtype=np.int64)
        )
        num_cat = int(cur.get("num_cat", "0"))
        cat_boundaries = cat_threshold = None
        if num_cat > 0:
            cat_boundaries = np.array(
                [int(x) for x in cur["cat_boundaries"].split()], dtype=np.int64
            )
            cat_threshold = np.array(
                [int(x) for x in cur["cat_threshold"].split()], dtype=np.int64
            )
            if len(cat_boundaries) != num_cat + 1:
                raise ValueError(
                    f"cat_boundaries has {len(cat_boundaries)} entries, "
                    f"expected num_cat + 1 = {num_cat + 1}"
                )
            if cat_boundaries[-1] != len(cat_threshold):
                raise ValueError(
                    "cat_boundaries does not cover cat_threshold: "
                    f"last offset {cat_boundaries[-1]} != {len(cat_threshold)} words"
                )
        elif (dtyp & _CATEGORICAL_MASK).any():
            raise ValueError(
                "decision_type marks a categorical split but the tree has no "
                "cat_boundaries/cat_threshold section"
            )
        trees.append(
            Tree(
                num_leaves=num_leaves,
                split_feature=np.array(
                    [int(x) for x in cur.get("split_feature", "").split()], dtype=np.int64
                ),
                threshold=np.array(
                    [float(x) for x in cur.get("threshold", "").split()], dtype=np.float64
                ),
                decision_type=dtyp,
                left_child=np.array(
                    [int(x) for x in cur.get("left_child", "").split()], dtype=np.int64
                ),
                right_child=np.array(
                    [int(x) for x in cur.get("right_child", "").split()], dtype=np.int64
                ),
                leaf_value=np.array(
                    [float(x) for x in cur["leaf_value"].split()], dtype=np.float64
                ),
                shrinkage=float(cur.get("shrinkage", "1")),
                cat_boundaries=cat_boundaries,
                cat_threshold=cat_threshold,
            )
        )
        cur = None

    in_trees = False
    for raw_line in text.splitlines():
        line = raw_line.strip()
        if not line:
            continue
        if line == "end of trees":
            flush()
            break
        if line.startswith("Tree="):
            flush()
            in_trees = True
            cur = {}
            continue
        if "=" not in line:
            continue
        key, value = _parse_kv(line)
        if in_trees and cur is not None:
            cur[key] = value
        else:
            header[key] = value
    flush()

    if "max_feature_idx" not in header:
        raise ValueError("not a LightGBM text model: missing max_feature_idx")
    num_class = int(header.get("num_class", "1"))
    return LightGBMModel(
        num_class=num_class,
        num_tree_per_iteration=int(header.get("num_tree_per_iteration", str(num_class))),
        max_feature_idx=int(header["max_feature_idx"]),
        objective=header.get("objective", ""),
        trees=trees,
    )


def load_model(path: str) -> LightGBMModel:
    """Load a text-format model from disk (``Booster::from_file`` analogue,
    reference ``src/udf.rs:92-97``)."""
    with open(path, "r", encoding="utf-8") as fh:
        return parse_model_str(fh.read())


def sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))
