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

All trees are scored by one kernel, not a loop over trees or levels: the
QuickScorer traversal (Lucchese et al., SIGIR 2015).  Each tree's leaves
are numbered left to right, and each internal node holds a bitmask of the
leaves outside its left subtree; a row's exit leaf is the lowest bit that
survives the AND of the masks of the nodes where it goes right.  Each
(feature, missing type) pair of the forest's numerical nodes is one
decision-input column.  A value's *rank* on a column is how many of the
column's m distinct thresholds it is not ``<=`` to (a NaN is ranked as
0.0 under missing type None), or m + 1 for a value that is missing under
type Zero or NaN; per block of trees a table holds, for every rank, the
AND of the masks of the nodes the value goes right at, so a missing
value's row ANDs the default-right nodes' masks.  ``predict_raw`` ranks
every column and takes every categorical node's bitset decision once per
call, upcasting only the features read; then a chunk of rows costs, per
column, one row gather and one ``&=`` into its (row × tree) masks, and
categorical nodes AND their masks in directly.  The tables are built once
per model, on the first ``predict_raw``; see :class:`_PackedForest` for
their layout and size.  Per-class sums add each class's trees in tree
order, the order the SQL compiler (``corpus/mlqueries.py``) uses too, so
the two agree bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np

_CATEGORICAL_MASK = 1
_DEFAULT_LEFT_MASK = 2
_MISSING_TYPE_NONE = 0
_MISSING_TYPE_ZERO = 1
_MISSING_TYPE_NAN = 2
#: LightGBM's kZeroThreshold: under missing type Zero, |value| <= this is missing.
_ZERO_THRESHOLD = 1e-35

#: Bytes of leaf masks in one block-table row: a block holds this many
#: bytes' worth of trees (64 trees of uint32 masks).
_BLOCK_BYTES = 256
#: Mask words one chunk's (row × mask word) matrix holds: rows per chunk
#: is ``max(1, _CHUNK_WORDS // mask words per row)``.
_CHUNK_WORDS = 1 << 16
#: Columns with at most this many thresholds rank a value by counting
#: compares; more, by binary search.
_COUNT_RANK_MAX = 4


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


class _Column(NamedTuple):
    """One numerical decision-input column's share of the forest: its
    nodes' sorted distinct thresholds, and per block of trees a table of
    cumulative-AND leaf masks with a rank -> table-row map."""

    thresholds: np.ndarray  # (m,) float64, sorted, distinct
    #: rank -> table row, per block: (m + 1, n_blocks) uint16/32 under
    #: missing type None, (m + 2, n_blocks) with the missing rank m + 1
    rows: np.ndarray
    table: np.ndarray  # (n_rows, block trees * words); row 0 is all ones
    lo: int  # the mask words the blocks cover: [lo, hi)
    hi: int


def _low_bits(n: np.ndarray) -> np.ndarray:
    """uint64 words with their ``n`` (0..64) lowest bits set."""
    shifted = np.left_shift(np.uint64(1), np.minimum(n, 63).astype(np.uint64))
    return np.where(n >= 64, ~np.uint64(0), shifted - np.uint64(1))


class _PackedForest:
    """Every tree of a model as QuickScorer tables (Lucchese et al., SIGIR
    2015), scored column by column.

    Each tree's leaves are numbered left to right and every internal node
    holds a bitmask of the leaves outside its left subtree, so a row's exit
    leaf is the lowest bit left after ANDing the masks of the nodes where it
    goes right.  A mask is ``words`` words of ``bits``: one uint32 up to 32
    leaves, one uint64 up to 64, more uint64 words past that.

    The trees are cut into blocks of ``_BLOCK_BYTES // mask bytes`` trees
    (64 at uint32; the last block may be partial).  A numerical column is
    one feature under one missing type.  Per column, each block that reads
    it has one table row per distinct threshold of its nodes on the
    column, holding the AND of the masks of the nodes at or below that
    threshold; row 0, all ones, serves values left of every threshold.  A
    value's rank (how many of the column's m thresholds it is not ``<=``
    to) reaches its row in every block through ``rows``.  Under missing
    type Zero or NaN a missing value has rank m + 1, whose row ANDs the
    masks of the block's default-right nodes: row 0 when it has none, its
    last cumulative row when all its nodes are default-right, else a row
    of its own.  Table bytes: (1 + distinct (block, threshold) pairs +
    blocks with both default directions) × ``_BLOCK_BYTES`` per column, at
    most (internal nodes + columns + column blocks) × ``_BLOCK_BYTES``.
    Map bytes: (distinct thresholds + 1, + 1 more under Zero or NaN) ×
    blocks × 2 per column (4 past 65 536 table rows).  Categorical nodes,
    one column each, AND their masks in directly instead.
    """

    def __init__(self, trees: list[Tree], per_iteration: int) -> None:
        # pad to whole iterations with trees that are one 0.0 leaf
        none = np.zeros(0, dtype=np.int64)
        zero_tree = Tree(1, none, none.astype(np.float64), none, none, none, np.zeros(1))
        trees = trees + [zero_tree] * (-len(trees) % per_iteration)
        self.n_trees = len(trees)
        n_nodes = np.array([t.num_leaves - 1 for t in trees])
        total_nodes = int(n_nodes.sum())
        owner = np.repeat(np.arange(self.n_trees), n_nodes)
        node_base = np.cumsum(n_nodes) - n_nodes
        left, right = _concat(trees, "left_child"), _concat(trees, "right_child")
        kid_l = np.where(left >= 0, node_base[owner] + left, -1)
        kid_r = np.where(right >= 0, node_base[owner] + right, -1)

        # in-order leaf numbering: leaves under each node (bottom up), then
        # the position of each node's leftmost leaf (top down)
        levels, frontier = [], node_base[n_nodes > 0]
        while frontier.size:
            levels.append(frontier)
            kids = np.concatenate([kid_l[frontier], kid_r[frontier]])
            frontier = kids[kids >= 0]
        under = np.zeros(total_nodes, dtype=np.int64)

        def leaves_under(kid: np.ndarray) -> np.ndarray:
            return np.where(kid >= 0, under[kid], 1)

        for level in reversed(levels):
            under[level] = leaves_under(kid_l[level]) + leaves_under(kid_r[level])
        n_left = leaves_under(kid_l)
        first = np.zeros(total_nodes, dtype=np.int64)
        for level in levels:
            for kid, at in ((kid_l[level], first[level]),
                            (kid_r[level], first[level] + n_left[level])):
                first[kid[kid >= 0]] = at[kid >= 0]

        # mask geometry and the leaf values by (tree, position)
        self.bits = 32 if n_nodes.max() < 32 else 64
        self.words = -(-(int(n_nodes.max()) + 1) // self.bits)
        self.dtype = np.dtype(np.uint32 if self.bits == 32 else np.uint64)
        self.ones = ~self.dtype.type(0)
        width = self.words * self.bits
        leaf_base = np.cumsum(n_nodes + 1) - (n_nodes + 1)
        value = _concat(trees, "leaf_value").astype(np.float64)
        self.leaf_value = np.zeros(self.n_trees * width)
        one_leaf = n_nodes == 0
        self.leaf_value[np.flatnonzero(one_leaf) * width] = value[leaf_base[one_leaf]]
        for kid, pos in ((left, first), (right, first + n_left)):
            leaf = kid < 0
            self.leaf_value[(owner * width + pos)[leaf]] = value[(leaf_base[owner] + ~kid)[leaf]]
        # the lowest set bit is read from its float exponent: a power of two
        # converts exactly, and its biased exponent is bias + bit
        self.float_type = np.float32 if self.bits == 32 else np.float64
        self.int_type = np.int32 if self.bits == 32 else np.int64
        self.exp_shift = 23 if self.bits == 32 else 52
        bias = 127 if self.bits == 32 else 1023
        self.leaf_at = np.arange(self.n_trees) * width - bias

        # each node's mask: all ones but its left subtree's leaves
        word_start = np.arange(self.words) * self.bits
        lo = np.clip(first[:, None] - word_start, 0, self.bits)
        hi = np.clip((first + n_left)[:, None] - word_start, 0, self.bits)
        masks = (~(_low_bits(hi) ^ _low_bits(lo))).astype(self.dtype)

        feature = _concat(trees, "split_feature")
        threshold = _concat(trees, "threshold").astype(np.float64)
        dtype = _concat(trees, "decision_type")
        is_cat = (dtype & _CATEGORICAL_MASK) != 0
        missing = (dtype >> 2) & 3
        missing[missing == 3] = _MISSING_TYPE_NONE  # as LightGBM reads it
        default_right = (dtype & _DEFAULT_LEFT_MASK) == 0

        # decision inputs: one column per (feature, missing type) of a
        # numerical node, then one left/right decision per categorical node
        keys, num_column = np.unique(
            feature[~is_cat] * 3 + missing[~is_cat], return_inverse=True
        )
        self.in_feature = keys // 3
        self.nan_missing = (keys % 3 == _MISSING_TYPE_NAN)[:, None]
        self.zero_missing = (keys % 3 == _MISSING_TYPE_ZERO)[:, None]
        # categorical nodes: their feature and word range in one table of
        # every tree's bitset words (plus a trailing zero word, the target of
        # out-of-range lookups)
        cat_trees = [t for t in trees if t.cat_boundaries is not None]
        has_cat = np.array([t.cat_boundaries is not None for t in trees])
        n_words = np.zeros(self.n_trees, dtype=np.int64)
        n_words[has_cat] = [len(t.cat_threshold) for t in cat_trees]
        n_bounds = np.zeros(self.n_trees, dtype=np.int64)
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

        block_trees = min(self.n_trees, max(1, _BLOCK_BYTES // (self.words * self.dtype.itemsize)))
        self.columns: list[_Column] = []
        missing_rank = np.zeros(len(keys), dtype=np.intp)
        num_nodes = np.flatnonzero(~is_cat)[np.argsort(num_column, kind="stable")]
        ends = np.cumsum(np.bincount(num_column, minlength=len(keys)))
        for c, key in enumerate(keys):
            nodes = num_nodes[ends[c - 1] if c else 0:ends[c]]
            thresholds, rank = np.unique(threshold[nodes], return_inverse=True)
            m = len(thresholds)
            block, slot = np.divmod(owner[nodes], block_trees)
            start = int(block.min())
            block -= start
            n_blocks = int(block.max()) + 1
            # one row per (block, distinct threshold), in that order, after
            # the all-ones row 0; built as (block, nth threshold in block)
            cells, cell = np.unique(block * m + rank, return_inverse=True)
            cell_block = cells // m
            per_block = np.bincount(cell_block, minlength=n_blocks)
            nth = np.arange(len(cells)) - (np.cumsum(per_block) - per_block)[cell_block]
            grid = np.full((n_blocks, per_block.max(), block_trees, self.words), self.ones)
            np.bitwise_and.at(grid, (block, nth[cell], slot), masks[nodes])
            np.bitwise_and.accumulate(grid, axis=1, out=grid)
            tables = [np.full((1, block_trees, self.words), self.ones), grid[cell_block, nth]]
            # rank r reaches, per block, the row of its highest threshold
            # below rank r, or row 0
            rows = np.zeros((m + 1, n_blocks), dtype=np.int64)
            rows[cells % m + 1, cell_block] = np.arange(1, len(cells) + 1)
            np.maximum.accumulate(rows, axis=0, out=rows)
            if key % 3 != _MISSING_TYPE_NONE:
                # the missing rank m + 1 goes right at the default-right nodes
                missing_rank[c] = m + 1
                right = default_right[nodes]
                n_right = np.bincount(block[right], minlength=n_blocks)
                mixed = (n_right > 0) & (n_right < np.bincount(block, minlength=n_blocks))
                miss = np.where(n_right > 0, rows[m], 0)
                miss[mixed] = len(cells) + 1 + np.arange(mixed.sum())
                grid = np.full((n_blocks, block_trees, self.words), self.ones)
                np.bitwise_and.at(grid, (block[right], slot[right]), masks[nodes[right]])
                tables.append(grid[mixed])
                rows = np.vstack([rows, miss])
            table = np.concatenate(tables)
            self.columns.append(_Column(
                thresholds,
                rows.astype(np.uint16 if len(table) <= 2**16 else np.uint32),
                table.reshape(len(table), -1),
                start * block_trees * self.words, (start + n_blocks) * block_trees * self.words,
            ))
        self.missing_rank = missing_rank[:, None]
        # categorical nodes apply their masks one by one: the masks, the
        # first node of each tree that has any, and those trees' mask words
        self.cat_masks = masks[is_cat]
        self.cat_first = np.flatnonzero(np.diff(cat_owner, prepend=-1))
        self.cat_mask_at = (cat_owner[self.cat_first, None] * self.words
                            + np.arange(self.words)).ravel()
        # a partial last block runs past the last tree, into scratch words
        self.mask_words = -(-self.n_trees // block_trees) * block_trees * self.words
        self.chunk_rows = max(1, _CHUNK_WORDS // self.mask_words)

    def decision_inputs(self, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Every row's rank on every numerical column, (n_columns, n_rows),
        and whether it goes right at every categorical node, (n_rows,
        n_categorical).  Only the features read are upcast to float64."""
        v = np.array(x[:, self.in_feature].T, dtype=np.float64, order="C")
        # a NaN is compared as 0.0 under missing type None; under NaN it is
        # missing, and under Zero it is missing as 0.0 is
        missing = np.isnan(v)
        v[missing] = 0.0
        missing &= self.nan_missing
        if self.zero_missing.any():
            missing |= self.zero_missing & (np.abs(v) <= _ZERO_THRESHOLD)
        # rank: how many thresholds t the value is not <= to, or m + 1 for
        # a missing value
        ranks = np.empty(v.shape, dtype=np.intp)
        for rank, value, col in zip(ranks, v, self.columns):
            if len(col.thresholds) <= _COUNT_RANK_MAX:
                rank[:] = len(col.thresholds)
                for t in col.thresholds:
                    rank -= value <= t
            else:
                rank[:] = col.thresholds.searchsorted(value)
        np.copyto(ranks, self.missing_rank, where=missing)
        # LightGBM CategoricalDecision: trunc(value) in the node's uint32
        # bitset goes left; NaN (as -1), negatives and categories past the
        # bitset's words go right
        vals = x[:, self.cat_feature].astype(np.float64)
        int_fval = np.trunc(np.where(np.isnan(vals), -1.0, vals)).astype(np.int64)
        word = int_fval >> 5
        in_range = (int_fval >= 0) & (word < self.cat_n_words)
        bits = self.cat_words[np.where(in_range, self.cat_start + word, -1)]
        go_left = in_range & (((bits >> (int_fval & 31)) & 1) == 1)
        return ranks, ~go_left

    def leaf_values(self, ranks: np.ndarray, right: np.ndarray) -> np.ndarray:
        """(n_trees, n_rows): the leaf value every row reaches in every
        tree, from a chunk of :meth:`decision_inputs`."""
        n = ranks.shape[1]
        mask = np.full((n, self.mask_words), self.ones)
        for rank, col in zip(ranks, self.columns):
            block_masks = col.table.take(col.rows.take(rank, axis=0), axis=0)
            mask[:, col.lo:col.hi] &= block_masks.reshape(n, -1)
        if self.cat_first.size:
            hit = np.where(right[..., None], self.cat_masks, self.ones)
            per_tree = np.bitwise_and.reduceat(hit, self.cat_first, axis=1)
            mask[:, self.cat_mask_at] &= per_tree.reshape(n, -1)
        word = mask[:, :self.n_trees * self.words]
        at = self.leaf_at
        if self.words > 1:  # the first word with a bit left
            word = word.reshape(n, self.n_trees, self.words)
            w = (word != 0).argmax(axis=2)
            word = np.take_along_axis(word, w[..., None], 2)[..., 0]
            at = at + w * self.bits
        lowest = word & -word
        exponent = lowest.astype(self.float_type).view(self.int_type) >> self.exp_shift
        return self.leaf_value.take((at + exponent).T)


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
        """Sum tree outputs per class.  Returns (n_rows, n_outputs).

        ``features`` may be float32: float32 -> float64 is exact, and only
        the features the trees read are converted."""
        features = np.asarray(features)
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
        ranks, right = forest.decision_inputs(features)
        step = forest.chunk_rows
        for start in range(0, len(features), step):
            leaf = forest.leaf_values(ranks[:, start:start + step], right[start:start + step])
            # numpy reduces a leading axis one (class, row) slab after the
            # next, so each class's trees add in tree order; a lone column
            # it would sum pairwise, which changes the last bit
            leaf = leaf.reshape(-1, k * leaf.shape[1])
            raw[start:start + step, :k] += (
                np.add.reduce(leaf, axis=0) if leaf.shape[1] > 1 else leaf.cumsum(axis=0)[-1]
            ).reshape(k, -1).T
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

