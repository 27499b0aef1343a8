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

All trees are scored by one kernel, not a loop over trees.  On the first
``predict_raw`` the forest is packed into one node table (internal nodes of
every tree, then every leaf, with global child indices; a leaf's children
point to itself, so a finished row stays put).  Each chunk of rows then
advances an (n_rows × n_trees) node matrix one level per step, for the
forest's maximum depth: a gather of each cell's decision input, one
``<=`` against the node threshold and a gather of the child.  The
missing-value and categorical rules never run inside that loop: per
chunk, each (feature, missing rule) pair used by the forest becomes one
input column with its missing values replaced by a value that routes
them the default way, and each categorical node becomes a 0/1 column of
its bitset decisions.  Chunks hold ``_CHUNK_CELLS`` (row × tree) cells,
which keeps the working set small at any batch size.  Per-class sums
add each class's trees in tree order, the order the SQL compiler
(``corpus/mlqueries.py``) uses too, so the two agree bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

_CATEGORICAL_MASK = 1
_DEFAULT_LEFT_MASK = 2
_MISSING_TYPE_ZERO = 1
_MISSING_TYPE_NAN = 2
#: LightGBM's kZeroThreshold: under missing type Zero, |value| <= this is missing.
_ZERO_THRESHOLD = 1e-35

#: (row × tree) cells one traversal chunk holds: rows per chunk is
#: ``max(1, _CHUNK_CELLS // n_trees)``.
_CHUNK_CELLS = 131072

# Missing-value rules of LightGBM NumericalDecision, by rule id: 0 missing
# type None (a NaN is compared as 0.0), 1/2 Zero default left/right (a NaN
# or |v| <= kZeroThreshold takes the default branch), 3/4 NaN default
# left/right (a NaN takes it).  Replacing a missing value by -inf (default
# left: -inf <= any threshold) or NaN (default right: NaN <= x is false)
# turns every rule into the plain ``value <= threshold`` test.
_RULE_FILL = np.array([0.0, -np.inf, np.nan, -np.inf, np.nan])
_RULE_ZERO_IS_MISSING = np.array([False, True, True, False, False])


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


def _concat(trees: list[Tree], name: str) -> np.ndarray:
    return np.concatenate([getattr(t, name) for t in trees])


def _check_trees(trees: list[Tree], num_features: int) -> None:
    """Reject a structurally malformed forest, as ``Booster::from_file``
    does.  The packed kernel gathers from all trees' entries at once, so an
    index past its own tree would read a neighbour's instead of failing."""
    for i, t in enumerate(trees):
        n_nodes = t.num_leaves - 1
        if n_nodes < 0 or any(
            len(a) != n_nodes
            for a in (t.split_feature, t.threshold, t.decision_type, t.left_child, t.right_child)
        ):
            raise ValueError(
                f"tree {i}: split_feature, threshold, decision_type, left_child and "
                f"right_child must have num_leaves - 1 = {n_nodes} entries"
            )
        if len(t.leaf_value) != t.num_leaves:
            raise ValueError(
                f"tree {i}: leaf_value has {len(t.leaf_value)} entries, "
                f"expected num_leaves = {t.num_leaves}"
            )
        bounds = t.cat_boundaries
        if bounds is None:
            continue
        if len(bounds) == 0 or bounds[0] != 0 or (np.diff(bounds) < 0).any():
            raise ValueError(f"tree {i}: cat_boundaries must rise from 0")
        if bounds[-1] != len(t.cat_threshold):
            raise ValueError(
                f"tree {i}: cat_boundaries does not cover cat_threshold: "
                f"last offset {bounds[-1]} != {len(t.cat_threshold)} words"
            )
        cat_idx = t.threshold[(t.decision_type & _CATEGORICAL_MASK) != 0]
        if not ((cat_idx >= 0) & (cat_idx < len(bounds) - 1)).all():
            raise ValueError(
                f"tree {i}: categorical split index outside [0, num_cat = {len(bounds) - 1})"
            )
    if not trees:
        return
    n_nodes = np.array([t.num_leaves - 1 for t in trees])
    owner = np.repeat(np.arange(len(trees)), n_nodes)

    def reject(bad: np.ndarray, tree_of: np.ndarray, what: str) -> None:
        if bad.any():
            raise ValueError(f"tree {tree_of[np.argmax(bad)]}: {what}")

    has_cat_table = np.array([t.cat_boundaries is not None for t in trees])
    is_cat = (_concat(trees, "decision_type") & _CATEGORICAL_MASK) != 0
    reject(is_cat & ~has_cat_table[owner], owner, "decision_type marks a categorical "
           "split but the tree has no cat_boundaries/cat_threshold section")
    feature = _concat(trees, "split_feature")
    reject((feature < 0) | (feature >= num_features), owner,
           f"split_feature outside [0, num_features = {num_features})")
    reject(~is_cat & np.isnan(_concat(trees, "threshold")), owner,
           "numerical threshold is NaN")
    # every node but the root, and every leaf, is the child of exactly one
    # node, so the nodes a root reaches form a tree: no cycle, finite depth
    kids = np.concatenate([_concat(trees, "left_child"), _concat(trees, "right_child")])
    kid_owner = np.tile(owner, 2)
    n_kid_nodes = n_nodes[kid_owner]
    reject((kids >= n_kid_nodes) | (~kids > n_kid_nodes), kid_owner,
           "child index out of range")
    is_node = kids >= 0
    node_base = np.cumsum(n_nodes) - n_nodes
    node_refs = np.bincount(
        node_base[kid_owner[is_node]] + kids[is_node], minlength=len(owner)
    )
    node_refs[node_base[n_nodes > 0]] += 1  # the roots, which no node references
    reject(node_refs != 1, owner, "a node is not referenced exactly once")
    leaf_owner = np.repeat(np.arange(len(trees)), n_nodes + 1)
    leaf_base = np.cumsum(n_nodes + 1) - (n_nodes + 1)
    leaf_refs = np.bincount(
        leaf_base[kid_owner[~is_node]] + ~kids[~is_node], minlength=len(leaf_owner)
    )
    leaf_refs[leaf_base[n_nodes == 0]] += 1  # a one-leaf tree's root
    reject(leaf_refs != 1, leaf_owner, "a leaf is not referenced exactly once")


class _PackedForest:
    """Every tree of a model in one node table, scored level by level.

    Node ids are global: the internal nodes of all trees (tree by tree),
    then all leaves (tree by tree).  Per node: the decision-input column
    it reads, its threshold, its two children (``children[2 * id]`` right,
    ``children[2 * id + 1]`` left; a leaf's both point to itself) and its
    leaf value (0 for internal nodes).
    """

    def __init__(self, trees: list[Tree], per_iteration: int) -> None:
        n_nodes = np.array([t.num_leaves - 1 for t in trees])
        n_leaves = n_nodes + 1
        total_nodes, total_leaves = int(n_nodes.sum()), int(n_leaves.sum())
        node_base = np.cumsum(n_nodes) - n_nodes
        leaf_base = total_nodes + np.cumsum(n_leaves) - n_leaves
        owner = np.repeat(np.arange(len(trees)), n_nodes)

        def global_id(child: np.ndarray) -> np.ndarray:
            return np.where(
                child >= 0, node_base[owner] + child, leaf_base[owner] + ~child
            )

        feature = _concat(trees, "split_feature")
        threshold = _concat(trees, "threshold").astype(np.float64)
        dtype = _concat(trees, "decision_type")
        is_cat = (dtype & _CATEGORICAL_MASK) != 0
        missing = (dtype >> 2) & 3
        default_right = (dtype & _DEFAULT_LEFT_MASK) == 0
        rule = np.select(
            [missing == _MISSING_TYPE_ZERO, missing == _MISSING_TYPE_NAN],
            [1 + default_right, 3 + default_right],
            0,
        )

        # decision inputs: one column per (feature, rule) of a numerical
        # node, then one 0/1 (left/right) column per categorical node
        keys, num_column = np.unique(
            feature[~is_cat] * len(_RULE_FILL) + rule[~is_cat], return_inverse=True
        )
        self.in_feature = keys // len(_RULE_FILL)
        self.in_fill = _RULE_FILL[keys % len(_RULE_FILL)]
        self.in_zero_missing = _RULE_ZERO_IS_MISSING[keys % len(_RULE_FILL)]
        column = np.empty(total_nodes, dtype=np.int64)
        column[~is_cat] = num_column
        column[is_cat] = len(keys) + np.arange(int(is_cat.sum()))
        self.n_inputs = len(keys) + int(is_cat.sum())

        # categorical nodes: their feature and word range in one table of
        # every tree's bitset words (plus a trailing zero word, the target of
        # out-of-range lookups)
        cat_trees = [t for t in trees if t.cat_boundaries is not None]
        has_cat = np.array([t.cat_boundaries is not None for t in trees])
        n_words = np.zeros(len(trees), dtype=np.int64)
        n_words[has_cat] = [len(t.cat_threshold) for t in cat_trees]
        n_bounds = np.zeros(len(trees), dtype=np.int64)
        n_bounds[has_cat] = [len(t.cat_boundaries) for t in cat_trees]
        self.cat_words = np.concatenate(
            [t.cat_threshold for t in cat_trees] + [np.zeros(1)]
        ).astype(np.int64)
        bounds = np.concatenate(
            [t.cat_boundaries for t in cat_trees] + [np.zeros(0)]
        ).astype(np.int64)
        cat_owner = owner[is_cat]
        at = (np.cumsum(n_bounds) - n_bounds)[cat_owner] + threshold[is_cat].astype(np.int64)
        self.cat_feature = feature[is_cat]
        self.cat_start = (np.cumsum(n_words) - n_words)[cat_owner] + bounds[at]
        self.cat_n_words = bounds[at + 1] - bounds[at]

        n_total = total_nodes + total_leaves
        leaf_ids = np.arange(total_nodes, n_total)
        self.column = np.concatenate([column, np.zeros(total_leaves, dtype=np.int64)])
        # a categorical column holds 0.0 for left, 1.0 for right
        self.threshold = np.concatenate(
            [np.where(is_cat, 0.0, threshold), np.zeros(total_leaves)]
        )
        left = np.concatenate([global_id(_concat(trees, "left_child")), leaf_ids])
        right = np.concatenate([global_id(_concat(trees, "right_child")), leaf_ids])
        self.children = np.stack([right, left], axis=1).ravel()
        self.value = np.concatenate(
            [np.zeros(total_nodes), _concat(trees, "leaf_value").astype(np.float64)]
        )
        roots = np.where(n_nodes > 0, node_base, leaf_base)
        # pad to whole iterations with trees that are one 0.0 leaf
        pad = -len(trees) % per_iteration
        if pad:
            self.column = np.append(self.column, 0)
            self.threshold = np.append(self.threshold, 0.0)
            self.children = np.append(self.children, [n_total, n_total])
            self.value = np.append(self.value, 0.0)
            roots = np.append(roots, np.full(pad, n_total))
        self.roots = roots
        self.n_trees = len(roots)

        # the deepest root-to-leaf path bounds the level loop
        self.depth = 0
        frontier = roots[roots < total_nodes]
        while frontier.size:
            self.depth += 1
            kids = np.concatenate([left[frontier], right[frontier]])
            frontier = kids[kids < total_nodes]

    def _decision_inputs(self, x: np.ndarray) -> np.ndarray:
        """(n_rows, n_inputs): each numerical column with its missing values
        replaced by the value that routes them, then each categorical
        node's decision."""
        cols = x[:, self.in_feature]
        missing = np.isnan(cols)
        if self.in_zero_missing.any():
            missing |= self.in_zero_missing & (np.abs(cols) <= _ZERO_THRESHOLD)
        np.copyto(cols, np.broadcast_to(self.in_fill, cols.shape), where=missing)
        if not self.cat_feature.size:
            return cols
        # LightGBM CategoricalDecision: trunc(value) in the node's uint32
        # bitset goes left; NaN (as -1), negatives and categories past the
        # bitset's words go right
        vals = x[:, self.cat_feature]
        int_fval = np.trunc(np.where(np.isnan(vals), -1.0, vals)).astype(np.int64)
        word = int_fval >> 5
        in_range = (int_fval >= 0) & (word < self.cat_n_words)
        bits = self.cat_words[np.where(in_range, self.cat_start + word, -1)]
        go_left = in_range & (((bits >> (int_fval & 31)) & 1) == 1)
        return np.concatenate([cols, (~go_left).astype(np.float64)], axis=1)

    def leaf_values(self, x: np.ndarray) -> np.ndarray:
        """(n_rows, n_trees): the leaf value every row reaches in every tree."""
        inputs = self._decision_inputs(x).ravel()
        row_base = (np.arange(len(x)) * self.n_inputs)[:, None]
        node = np.broadcast_to(self.roots, (len(x), self.n_trees))
        for _ in range(self.depth):
            go_left = inputs[self.column[node] + row_base] <= self.threshold[node]
            node = self.children[2 * node + go_left]
        return self.value[node]


@dataclass
class LightGBMModel:
    """A parsed LightGBM text-format model (ensemble of :class:`Tree`).

    Construction validates the trees' structure (``ValueError``)."""

    num_class: int
    num_tree_per_iteration: int
    max_feature_idx: int
    objective: str
    trees: list[Tree] = field(default_factory=list)
    _forest: _PackedForest | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def __post_init__(self) -> None:
        _check_trees(self.trees, self.num_features)

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
        raw = np.zeros((features.shape[0], self.n_outputs), dtype=np.float64)
        if not self.trees:
            return raw
        # tree t adds to class t % k
        k = max(self.num_tree_per_iteration, 1) if self.n_outputs > 1 else 1
        if self._forest is None:  # packed once per model, on first use
            self._forest = _PackedForest(self.trees, k)
        forest = self._forest
        step = max(1, _CHUNK_CELLS // forest.n_trees)
        for start in range(0, len(features), step):
            leaf = forest.leaf_values(features[start:start + step])
            # a sequential cumsum over iterations adds each class's trees in
            # tree order; sum() would pair them and change the last bit
            raw[start:start + step, :k] += (
                leaf.reshape(len(leaf), -1, k).cumsum(axis=1)[:, -1]
            )
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

