"""Seeded inputs for the benchmark: forests in LightGBM text format and
parquet feature tables, plus a plain per-row tree walk used as the
reference scorer.

Everything here depends only on NumPy and PyArrow, and on nothing in the
package under test, so the reference walk is independent of the scorer it
checks.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FEATURES = 28
N_CLASSES = 5
N_ITERATIONS = 100
N_LEAVES = 31
#: Feature 0 holds integer category codes 0..N_CATEGORIES-1.  The scoring
#: forest splits on it numerically; :func:`categorical_variant` turns
#: those splits into categorical bitset splits.
CAT_FEATURE = 0
N_CATEGORIES = 40
#: Features whose missing values are NaN / exact zeros, with the share
#: of rows that are missing.
NAN_FEATURES = (3, 7, 11, 19)
ZERO_FEATURES = (5, 13, 23)
MISSING_SHARE = 0.08

_MISSING_NONE, _MISSING_ZERO, _MISSING_NAN = 0, 1, 2


@dataclass
class Node:
    feature: int
    threshold: float  # numeric threshold, or categorical-split index
    decision_type: int
    left: int = 0  # negative => leaf ~left
    right: int = 0
    cats: frozenset[int] = field(default_factory=frozenset)


@dataclass
class Tree:
    nodes: list[Node]
    leaf_values: list[float]


@dataclass
class Forest:
    trees: list[Tree]
    n_classes: int
    n_features: int


def _feature_scales(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    scales = 10.0 ** rng.uniform(-1.0, 2.0, N_FEATURES)
    offsets = rng.uniform(-1.0, 1.0, N_FEATURES) * scales
    return scales, offsets


def deep_features(seed: int, n_rows: int, stream: int) -> np.ndarray:
    """(n_rows, 28) float64 rows for the deep forest.  The feature scales
    come from ``seed`` alone; ``stream`` picks an independent row sample
    from the same distribution."""
    scales, offsets = _feature_scales(np.random.default_rng([seed, 0]))
    rng = np.random.default_rng([seed, 1, stream])
    x = rng.standard_normal((n_rows, N_FEATURES)) * scales + offsets
    x[:, CAT_FEATURE] = rng.integers(0, N_CATEGORIES, n_rows)
    for j in NAN_FEATURES:
        x[rng.random(n_rows) < MISSING_SHARE, j] = np.nan
    for j in ZERO_FEATURES:
        x[rng.random(n_rows) < MISSING_SHARE, j] = 0.0
    return x


def _go_left(node: Node, vals: np.ndarray) -> np.ndarray:
    """Vectorized numerical decision, used only while growing trees."""
    missing_type = (node.decision_type >> 2) & 3
    default_left = bool(node.decision_type & 2)
    is_nan = np.isnan(vals)
    v = np.where(is_nan & (missing_type != _MISSING_NAN), 0.0, vals)
    use_default = (is_nan & (missing_type == _MISSING_NAN)) | (
        (missing_type == _MISSING_ZERO) & (np.abs(v) <= 1e-35)
    )
    return np.where(use_default, default_left, v <= node.threshold)


def _grow_tree(rng: np.random.Generator, sample: np.ndarray) -> Tree:
    """Leaf-wise growth: repeatedly split the leaf with the largest
    randomized gain (its sample row count times an exponential draw) at a
    random quantile, until the tree has ``N_LEAVES`` leaves.  This gives
    the uneven, deep trees leaf-wise boosting produces."""
    nodes: list[Node] = []
    leaves: list[np.ndarray] = [np.arange(len(sample))]
    parent: list[tuple[int, bool] | None] = [None]  # (node, is_left) per leaf
    while len(leaves) < N_LEAVES:
        gain = np.array([len(r) for r in leaves], dtype=float) * rng.exponential(1.0, len(leaves))
        k = int(np.argmax(gain))
        rows = leaves[k]
        f = int(rng.integers(N_FEATURES))
        vals = sample[rows, f]
        finite = vals[np.isfinite(vals)]
        thr = float(np.quantile(finite, rng.uniform(0.1, 0.9))) if len(finite) else 0.0
        missing = (
            _MISSING_NAN if f in NAN_FEATURES
            else _MISSING_ZERO if f in ZERO_FEATURES
            else _MISSING_NONE
        )
        default_left = int(rng.random() < 0.5)
        node = Node(f, thr, (missing << 2) | (default_left << 1))
        left_mask = _go_left(node, vals)
        idx = len(nodes)
        nodes.append(node)
        if parent[k] is not None:
            p, is_left = parent[k]
            if is_left:
                nodes[p].left = idx
            else:
                nodes[p].right = idx
        new_leaf = len(leaves)
        node.left, node.right = ~k, ~new_leaf
        leaves[k] = rows[left_mask]
        leaves.append(rows[~left_mask])
        parent[k] = (idx, True)
        parent.append((idx, False))
    leaf_values = [float(v) for v in rng.normal(0.0, 0.3, N_LEAVES)]
    return Tree(nodes, leaf_values)


def make_forest(seed: int) -> Forest:
    """5 classes x 100 iterations of 31-leaf trees over 28 features, grown
    on a sample of :func:`deep_features` rows."""
    rng = np.random.default_rng([seed, 2])
    sample = deep_features(seed, 512, stream=99)
    trees = [_grow_tree(rng, sample) for _ in range(N_CLASSES * N_ITERATIONS)]
    return Forest(trees, N_CLASSES, N_FEATURES)


def categorical_variant(forest: Forest, seed: int) -> Forest:
    """The same forest with half of its splits on the category-code feature
    turned into categorical bitset splits over half the codes, as a forest
    trained with a declared categorical feature would have."""
    rng = np.random.default_rng([seed, 4])
    trees = []
    for tree in forest.trees:
        nodes, n_cat = [], 0
        for n in tree.nodes:
            if n.feature == CAT_FEATURE and rng.random() < 0.5:
                cats = frozenset(
                    int(c) for c in rng.choice(N_CATEGORIES, N_CATEGORIES // 2, replace=False)
                )
                n = Node(n.feature, float(n_cat), 1 | (_MISSING_NAN << 2), n.left, n.right, cats)
                n_cat += 1
            nodes.append(n)
        trees.append(Tree(nodes, tree.leaf_values))
    return Forest(trees, forest.n_classes, forest.n_features)


def _bitset_words(cats: frozenset[int]) -> list[int]:
    words = [0] * (max(cats) // 32 + 1)
    for c in cats:
        words[c // 32] |= 1 << (c % 32)
    return words


def forest_text(forest: Forest) -> str:
    """The forest in LightGBM's public text model format."""
    k, nf = forest.n_classes, forest.n_features
    out = [
        "tree",
        "version=v4",
        f"num_class={k}",
        f"num_tree_per_iteration={k}",
        "label_index=0",
        f"max_feature_idx={nf - 1}",
        f"objective=multiclass num_class:{k}",
        "feature_names=" + " ".join(f"Column_{i}" for i in range(nf)),
        "",
    ]
    for i, tree in enumerate(forest.trees):
        ns = tree.nodes
        cat_nodes = [n for n in ns if n.decision_type & 1]
        out += [
            f"Tree={i}",
            f"num_leaves={len(tree.leaf_values)}",
            f"num_cat={len(cat_nodes)}",
            "split_feature=" + " ".join(str(n.feature) for n in ns),
            "split_gain=" + " ".join("1" for _ in ns),
            "threshold=" + " ".join(
                str(int(n.threshold)) if n.decision_type & 1 else repr(n.threshold)
                for n in ns
            ),
            "decision_type=" + " ".join(str(n.decision_type) for n in ns),
            "left_child=" + " ".join(str(n.left) for n in ns),
            "right_child=" + " ".join(str(n.right) for n in ns),
            "leaf_value=" + " ".join(repr(v) for v in tree.leaf_values),
        ]
        if cat_nodes:
            words = [_bitset_words(n.cats) for n in cat_nodes]
            bounds = np.cumsum([0] + [len(w) for w in words])
            out += [
                "cat_boundaries=" + " ".join(str(int(b)) for b in bounds),
                "cat_threshold=" + " ".join(str(x) for w in words for x in w),
            ]
        out += ["is_linear=0", "shrinkage=1", ""]
    out.append("end of trees")
    return "\n".join(out) + "\n"


def _walk(tree: Tree, x: np.ndarray) -> float:
    if not tree.nodes:
        return tree.leaf_values[0]
    node = 0
    while node >= 0:
        n = tree.nodes[node]
        v = float(x[n.feature])
        if n.decision_type & 1:
            left = not math.isnan(v) and int(v) >= 0 and int(v) in n.cats
        else:
            missing_type = (n.decision_type >> 2) & 3
            if math.isnan(v) and missing_type != _MISSING_NAN:
                v = 0.0
            if (missing_type == _MISSING_NAN and math.isnan(v)) or (
                missing_type == _MISSING_ZERO and abs(v) <= 1e-35
            ):
                left = bool(n.decision_type & 2)
            else:
                left = v <= n.threshold
        node = n.left if left else n.right
    return tree.leaf_values[~node]


def reference_predict(forest: Forest, x: np.ndarray) -> list[float]:
    """Softmax class probabilities for one row, by walking every tree."""
    raw = [0.0] * forest.n_classes
    for t, tree in enumerate(forest.trees):
        raw[t % forest.n_classes] += _walk(tree, x)
    top = max(raw)
    e = [math.exp(r - top) for r in raw]
    s = sum(e)
    return [v / s for v in e]


def parse_forest_text(text: str) -> Forest:
    """Read a LightGBM text model into a :class:`Forest`.  Only the fields
    the reference walk needs; written apart from the package's parser."""
    header: dict[str, str] = {}
    sections: list[dict[str, str]] = []
    for line in text.splitlines():
        if line.startswith("Tree="):
            sections.append({})
        elif line == "end of trees":
            break
        elif "=" in line:
            key, _, value = line.partition("=")
            (sections[-1] if sections else header)[key] = value
    trees = []
    for sec in sections:
        nums = {k: sec.get(k, "").split() for k in (
            "split_feature", "threshold", "decision_type", "left_child", "right_child",
            "cat_boundaries", "cat_threshold",
        )}
        bounds = [int(b) for b in nums["cat_boundaries"]]
        words = [int(w) for w in nums["cat_threshold"]]
        nodes = []
        for i, f in enumerate(nums["split_feature"]):
            dtype = int(nums["decision_type"][i])
            thr = float(nums["threshold"][i])
            cats: frozenset[int] = frozenset()
            if dtype & 1:
                ws = words[bounds[int(thr)]:bounds[int(thr) + 1]]
                cats = frozenset(32 * w + b for w, word in enumerate(ws) for b in range(32) if word >> b & 1)
            nodes.append(Node(int(f), thr, dtype, int(nums["left_child"][i]), int(nums["right_child"][i]), cats))
        trees.append(Tree(nodes, [float(v) for v in sec["leaf_value"].split()]))
    k = int(header["num_class"])
    return Forest(trees, k, int(header["max_feature_idx"]) + 1)


def write_feature_table(path: str, x: np.ndarray, n_files: int) -> None:
    """``id BIGINT, features ARRAY<DOUBLE or FLOAT>`` (after ``x.dtype``)
    split over ``n_files`` parquet files so that every core gets a split."""
    os.makedirs(path, exist_ok=True)
    n, d = x.shape
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        flat = pa.array(x[lo:hi].ravel())
        feats = pa.FixedSizeListArray.from_arrays(flat, d).cast(pa.list_(flat.type))
        table = pa.table({"id": pa.array(np.arange(lo, hi, dtype=np.int64)), "features": feats})
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def wide_features(seed: int, n_rows: int, stream: int) -> np.ndarray:
    """(n_rows, 64) float32 embeddings for the 64-feature stump model."""
    rng = np.random.default_rng([seed, 3, stream])
    return rng.standard_normal((n_rows, 64), dtype=np.float32) * np.float32(0.6)
