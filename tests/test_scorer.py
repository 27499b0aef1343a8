"""Unit tests for the pure-NumPy LightGBM text-format scorer.

The reference has no unit tests of its batching/inference kernel (SURVEY.md
§5); these cover what ``src/udf.rs``/``lightgbm3`` delegated to the C++ lib:
tree traversal, leaf encoding, missing-value routing, softmax.
"""

import math

import numpy as np
import pytest

from lightfusion_spark.ml.fixture import build_model_text
from lightfusion_spark.ml import lgbm_model
from lightfusion_spark.ml.lgbm_model import LightGBMModel, Tree, parse_model_str

SIMPLE_MODEL = """tree
version=v4
num_class=1
num_tree_per_iteration=1
label_index=0
max_feature_idx=1
objective=regression

Tree=0
num_leaves=3
num_cat=0
split_feature=0 1
split_gain=1 1
threshold=0.5 1.5
decision_type=2 2
left_child=1 -1
right_child=-2 -3
leaf_value=10 20 30
shrinkage=1

end of trees
"""


def one_tree_model(tree: Tree, n_features: int) -> LightGBMModel:
    """A regression model of ``tree`` alone: its ``predict_raw`` column is
    the tree's output."""
    return LightGBMModel(
        num_class=1,
        num_tree_per_iteration=1,
        max_feature_idx=n_features - 1,
        objective="regression",
        trees=[tree],
    )


def test_parse_header_and_tree():
    m = parse_model_str(SIMPLE_MODEL)
    assert m.num_class == 1 and m.max_feature_idx == 1 and len(m.trees) == 1
    t = m.trees[0]
    assert t.num_leaves == 3
    assert list(t.left_child) == [1, -1] and list(t.right_child) == [-2, -3]


def test_tree_traversal_hand_computed():
    m = parse_model_str(SIMPLE_MODEL)
    # root: f0 <= 0.5 -> node 1 (f1 <= 1.5 -> leaf 0 else leaf 2); else leaf 1
    out = m.predict_raw(np.array([
        [0.0, 1.0],   # left, left  -> leaf 0 = 10
        [0.0, 2.0],   # left, right -> leaf 2 = 30
        [1.0, 0.0],   # right       -> leaf 1 = 20
        [0.5, 1.5],   # boundary: <= goes left twice -> leaf 0 = 10
    ]))
    assert out[:, 0].tolist() == [10.0, 30.0, 20.0, 10.0]


def test_missing_value_default_direction():
    # decision_type = 2 (numerical, default-left bit set? bit1=2 -> default left
    # but missing_type bits (>>2)&3 == 0 -> NaN treated as 0.0)
    m = parse_model_str(SIMPLE_MODEL)
    out = m.predict_raw(np.array([[np.nan, np.nan]]))
    # NaN -> 0.0; 0.0 <= 0.5 left; 0.0 <= 1.5 left -> leaf 0 = 10
    assert out[0, 0] == 10.0
    # missing_type=NaN (2<<2=8) + default_left (2) + numerical = 10
    nan_model = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=10 2")
    m2 = parse_model_str(nan_model)
    out2 = m2.predict_raw(np.array([[np.nan, 2.0]]))
    # default-left at root -> node 1; f1=2.0 > 1.5 -> leaf 2 = 30
    assert out2[0, 0] == 30.0
    # default right when bit1 unset: decision_type = 8
    nan_right = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=8 2")
    out3 = parse_model_str(nan_right).predict_raw(np.array([[np.nan, 2.0]]))
    assert out3[0, 0] == 20.0  # root default-right -> leaf 1


def test_single_leaf_tree():
    t = Tree(
        num_leaves=1,
        split_feature=np.empty(0, np.int64),
        threshold=np.empty(0),
        decision_type=np.empty(0, np.int64),
        left_child=np.empty(0, np.int64),
        right_child=np.empty(0, np.int64),
        leaf_value=np.array([7.5]),
    )
    assert one_tree_model(t, 2).predict_raw(np.zeros((3, 2)))[:, 0].tolist() == [7.5, 7.5, 7.5]


def test_multiclass_softmax_hand_computed():
    # 2 classes, 1 iteration, single-split trees we can compute by hand
    text = """tree
num_class=2
num_tree_per_iteration=2
max_feature_idx=0
objective=multiclass num_class:2

Tree=0
num_leaves=2
num_cat=0
split_feature=0
split_gain=1
threshold=0
decision_type=2
left_child=-1
right_child=-2
leaf_value=1.0 2.0
shrinkage=1

Tree=1
num_leaves=2
num_cat=0
split_feature=0
split_gain=1
threshold=0
decision_type=2
left_child=-1
right_child=-2
leaf_value=3.0 0.5
shrinkage=1

end of trees
"""
    m = parse_model_str(text)
    p = m.predict(np.array([[-1.0], [1.0]]))
    # row 0: raw = (1.0, 3.0) -> softmax
    e0, e1 = math.exp(1.0 - 3.0), math.exp(0.0)
    assert p[0, 0] == pytest.approx(e0 / (e0 + e1))
    assert p[0].sum() == pytest.approx(1.0)
    # row 1: raw = (2.0, 0.5)
    f0, f1 = math.exp(0.0), math.exp(0.5 - 2.0)
    assert p[1, 1] == pytest.approx(f1 / (f0 + f1))


def test_fixture_model_roundtrip_and_shape():
    text = build_model_text(num_class=5, num_features=28)
    m = parse_model_str(text)
    assert m.num_class == 5 and m.num_features == 28 and len(m.trees) == 10
    rng = np.random.RandomState(0)
    p = m.predict(rng.standard_normal((17, 28)))
    assert p.shape == (17, 5)
    np.testing.assert_allclose(p.sum(axis=1), 1.0, rtol=1e-12)
    assert (p > 0).all()


def test_fixture_model_hand_computed_row():
    """Walk the fixture trees by hand for the all-zeros row."""
    text = build_model_text(num_class=2, num_features=4, n_iterations=1)
    m = parse_model_str(text)
    # class 0 tree: f0=0, f1=1, thresholds 0.0/0.5; x=0 -> left (0<=0), left (0<=0.5) -> l0
    # class c leaf values: l0=-0.5+0.1c, l1=.2+.05c, l2=.6-.07c (it=0)
    x = np.zeros((1, 4))
    raw = m.predict_raw(x)
    assert raw[0, 0] == pytest.approx(-0.5)
    assert raw[0, 1] == pytest.approx(-0.4)


CAT_MODEL = """tree
version=v4
num_class=1
num_tree_per_iteration=1
label_index=0
max_feature_idx=1
objective=regression

Tree=0
num_leaves=3
num_cat=2
split_feature=0 1
split_gain=1 1
threshold=0 1
decision_type=1 1
left_child=1 -1
right_child=-2 -3
cat_boundaries=0 1 3
cat_threshold=37 2 2
leaf_value=10 20 30
shrinkage=1

end of trees
"""
# node0: categorical split 0 on f0, bitset word 37 = {0, 2, 5}
# node1: categorical split 1 on f1, TWO words [2, 2] = {1, 33}


def test_categorical_decision_bitset_membership():
    m = parse_model_str(CAT_MODEL)
    out = m.predict_raw(np.array([
        [0.0, 1.0],    # f0 in {0,2,5} -> left; f1=1 in {1,33} -> leaf 0
        [2.0, 33.0],   # left; 33 hits the SECOND bitset word -> leaf 0
        [5.0, 2.0],    # left; 2 not in {1,33} -> leaf 2
        [1.0, 0.0],    # f0=1 not in set -> right -> leaf 1
        [6.0, 0.0],    # out of bitset range (still word 0, bit unset) -> leaf 1
        [64.0, 0.0],   # beyond the bitset's words entirely -> right -> leaf 1
    ]))
    assert out[:, 0].tolist() == [10.0, 10.0, 30.0, 20.0, 20.0, 20.0]


def test_categorical_decision_nan_negative_fractional():
    """CategoricalDecision edge routing: NaN -> right, negative int -> right,
    fractional values truncate toward zero (so -0.5 -> category 0)."""
    m = parse_model_str(CAT_MODEL)
    out = m.predict_raw(np.array([
        [np.nan, 1.0],   # NaN -> right -> leaf 1
        [-3.0, 1.0],     # negative -> right -> leaf 1
        [-0.5, 1.0],     # trunc(-0.5) = 0, NOT negative -> in {0,2,5} -> leaf 0
        [2.9, 1.0],      # trunc(2.9) = 2 -> left -> leaf 0
        [0.0, np.nan],   # left, then NaN at node1 -> right -> leaf 2
    ]))
    assert out[:, 0].tolist() == [20.0, 20.0, 10.0, 10.0, 30.0]


def test_categorical_mixed_with_numerical():
    """The committed quality_cat fixture: every tree roots at a categorical
    split with a numerical split below — vectorized scorer vs a hand walk."""
    from lightfusion_spark.ml.fixture import build_quality_cat_model_text

    m = parse_model_str(build_quality_cat_model_text())
    assert len(m.trees) == 4 and m.num_features == 5
    t0 = m.trees[0]  # cats {0,2,5,7,11,13,17,19}; below: n_words <= 20
    assert list(t0.cat_boundaries) == [0, 1]
    m0 = one_tree_model(t0, m.num_features)
    # source 2 (in set), n_words 10 <= 20 -> leaf 0 = -(-0.35) = 0.35
    assert m0.predict_raw(np.array([[10.0, 5.0, 0.01, 0.1, 2.0]]))[0, 0] == 0.35
    # source 2, n_words 30 -> leaf 2 = -(0.45) = -0.45
    assert m0.predict_raw(np.array([[30.0, 5.0, 0.01, 0.1, 2.0]]))[0, 0] == -0.45
    # source 3 (not in set) -> right -> leaf 1 = -(0.12) = -0.12
    assert m0.predict_raw(np.array([[10.0, 5.0, 0.01, 0.1, 3.0]]))[0, 0] == -0.12
    t2 = m.trees[2]  # iteration 1 class 0: cats {1,4,9,16,33}, two words
    assert list(t2.cat_boundaries) == [0, 2]
    m2 = one_tree_model(t2, m.num_features)
    assert m2.predict_raw(np.array([[10.0, 5.0, 0.5, 0.1, 33.0]]))[0, 0] != \
        m2.predict_raw(np.array([[10.0, 5.0, 0.5, 0.1, 32.0]]))[0, 0]


MIXED_CAT_MODEL = """tree
version=v4
num_class=1
num_tree_per_iteration=1
label_index=0
max_feature_idx=1
objective=regression

Tree=0
num_leaves=5
num_cat=2
split_feature=0 1 1 0
split_gain=1 1 1 1
threshold=0 7.5 1 1.5
decision_type=1 2 1 2
left_child=1 -1 -2 -4
right_child=2 3 -3 -5
cat_boundaries=0 1 2
cat_threshold=5 10
leaf_value=10 20 30 40 50
shrinkage=1

end of trees
"""
# node0: categorical on f0, set {0, 2}; left -> node1, right -> node2
# node1: numerical f1 <= 7.5 -> leaf 0, else node3
# node2: categorical on f1, set {1, 3} -> leaf 1, else leaf 2
# node3: numerical f0 <= 1.5 -> leaf 3, else leaf 4


def test_categorical_and_numerical_nodes_at_one_depth():
    """Rows that sit on a numerical node and a categorical node in the
    same descent step: the numerical node's threshold (7.5) must never
    be read as a categorical-split index."""
    m = parse_model_str(MIXED_CAT_MODEL)
    out = m.predict_raw(np.array([
        [0.0, 1.0],   # node1: 1 <= 7.5 -> leaf 0
        [1.0, 2.0],   # node2: 2 not in {1, 3} -> leaf 2
        [5.0, 3.0],   # node2: 3 in {1, 3} -> leaf 1
        [0.0, 9.0],   # node1 -> node3: 0 <= 1.5 -> leaf 3
        [2.0, 9.0],   # node1 -> node3: 2 > 1.5 -> leaf 4
    ]))
    assert out[:, 0].tolist() == [10.0, 30.0, 20.0, 40.0, 50.0]


def test_categorical_malformed_rejected():
    # bit0 set but no cat_boundaries/cat_threshold section
    bad = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=1 2")
    with pytest.raises(ValueError, match="categorical"):
        parse_model_str(bad)
    # cat_boundaries length inconsistent with num_cat
    bad2 = CAT_MODEL.replace("cat_boundaries=0 1 3", "cat_boundaries=0 1")
    with pytest.raises(ValueError, match="cat_boundaries"):
        parse_model_str(bad2)


@pytest.mark.parametrize(
    "field, bad, match",
    [
        ("split_feature=0 1", "split_feature=0", "num_leaves - 1 = 2 entries"),
        ("leaf_value=10 20 30", "leaf_value=10 20", "leaf_value has 2 entries"),
        ("split_feature=0 1", "split_feature=0 2", r"split_feature outside \[0, num_features = 2\)"),
        ("split_feature=0 1", "split_feature=-1 1", "split_feature outside"),
        ("left_child=1 -1", "left_child=2 -1", "child index out of range"),
        ("right_child=-2 -3", "right_child=-2 -4", "child index out of range"),
        # leaf 1 twice, leaf 2 never
        ("right_child=-2 -3", "right_child=-2 -2", "a leaf is not referenced exactly once"),
        # node 1 is its own child: a cycle
        ("left_child=1 -1", "left_child=1 1", "a node is not referenced exactly once"),
        # the root is a child of node 1
        ("right_child=-2 -3", "right_child=-2 0", "a node is not referenced exactly once"),
        ("threshold=0.5 1.5", "threshold=nan 1.5", "numerical threshold is NaN"),
    ],
)
def test_malformed_structure_rejected(field, bad, match):
    """parse_model_str rejects a tree whose indices leave it (the packed
    scorer would read a neighbouring tree's entries instead of failing),
    so CREATE FUNCTION fails as it does on a model Booster::from_file
    cannot load."""
    assert field in SIMPLE_MODEL
    with pytest.raises(ValueError, match=match):
        parse_model_str(SIMPLE_MODEL.replace(field, bad))


@pytest.mark.parametrize(
    "field, bad, match",
    [
        # categorical split index 2 with num_cat = 2
        ("threshold=0 1", "threshold=0 2", r"categorical split index outside \[0, num_cat = 2\)"),
        ("threshold=0 1", "threshold=-1 1", "categorical split index outside"),
        ("cat_boundaries=0 1 3", "cat_boundaries=1 1 3", "cat_boundaries must rise from 0"),
        ("cat_boundaries=0 1 3", "cat_boundaries=0 4 3", "cat_boundaries must rise from 0"),
        ("cat_boundaries=0 1 3", "cat_boundaries=0 1 2", "cat_boundaries does not cover"),
    ],
)
def test_malformed_categorical_rejected(field, bad, match):
    assert field in CAT_MODEL
    with pytest.raises(ValueError, match=match):
        parse_model_str(CAT_MODEL.replace(field, bad))


def test_wider_feature_matrix_scores_like_exact_width():
    """Columns past the model's features are ignored: the row stride is
    the matrix's width, not the model's feature count."""
    for text in (SIMPLE_MODEL, CAT_MODEL, MIXED_CAT_MODEL):
        m = parse_model_str(text)
        x = np.array([[0.0, 1.0], [2.0, 33.0], [np.nan, 9.0], [5.0, 3.0]])
        wide = np.hstack([x, np.full((4, 3), 1e9)])
        assert m.predict_raw(wide).tolist() == m.predict_raw(x).tolist()


def test_feature_count_validation():
    m = parse_model_str(SIMPLE_MODEL)
    with pytest.raises(ValueError):
        m.predict_raw(np.zeros((1, 1)))


def test_zero_missing_type_default_direction():
    """missing_type==Zero (decision_type bits 2-3 == 1): a |v|<=1e-35 value
    takes the default branch, not the threshold comparison (ADVICE r1)."""
    # decision_type=4: numerical, default-RIGHT, missing=Zero
    zero_right = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=4 2")
    m = parse_model_str(zero_right)
    # root f0=0.0 is "missing" -> default right -> leaf 1 = 20 (NOT 0<=0.5 left)
    assert m.predict_raw(np.array([[0.0, 0.0]]))[0, 0] == 20.0
    # non-zero value still routed by threshold: 0.3 <= 0.5 -> left; f1=0 <= 1.5 -> leaf 0
    assert m.predict_raw(np.array([[0.3, 0.3]]))[0, 0] == 10.0
    # decision_type=6: default-LEFT, missing=Zero -> zero goes left
    zero_left = SIMPLE_MODEL.replace("decision_type=2 2", "decision_type=6 6")
    m2 = parse_model_str(zero_left)
    # root: 0.0 missing -> default left -> node1; f1 0.0 missing -> left -> leaf 0
    assert m2.predict_raw(np.array([[0.0, 0.0]]))[0, 0] == 10.0
    # NaN under missing=Zero converts to 0.0 then takes the default branch
    assert m.predict_raw(np.array([[np.nan, 0.0]]))[0, 0] == 20.0


def _left_spine(thresholds: list[float], decision_type: int) -> Tree:
    """Nodes on feature 0, each one's left child the next: a row leaves at
    the first node it goes right at, node i into leaf i (value i), and a
    row left of every node reaches the last leaf."""
    m = len(thresholds)
    return Tree(
        num_leaves=m + 1,
        split_feature=np.zeros(m, dtype=np.int64),
        threshold=np.array(thresholds),
        decision_type=np.full(m, decision_type),
        left_child=np.array(list(range(1, m)) + [~m]),
        right_child=~np.arange(m),
        leaf_value=np.arange(m + 1, dtype=np.float64),
    )


@pytest.mark.parametrize("zero", [0.0, -0.0])
@pytest.mark.parametrize(
    "thresholds",
    [[1.0, 0.0, -2.0], [5.0, 3.0, 1.0, 0.0, -1.0, -2.0, -7.0]],
    ids=["compare-count", "binary-search"],
)
def test_threshold_rank_edges(thresholds, zero):
    """Both rank paths send a value equal to a threshold left, a NaN under
    missing type NaN / default right (decision_type 8) right of every
    threshold, -inf left of every one, and -0.0 / 0.0 left of a 0.0 /
    -0.0 threshold.  With thresholds falling along the spine, a row's
    score is the number of thresholds it is <= to."""
    thresholds = [zero if t == 0.0 else t for t in thresholds]
    m = one_tree_model(_left_spine(thresholds, 8), 1)
    at_zero = thresholds.index(zero)
    cases = {t: i + 1 for i, t in enumerate(thresholds)}  # equal goes left
    cases.update({-zero: at_zero + 1, -np.inf: len(thresholds), np.inf: 0, np.nan: 0})
    values = np.array(list(cases), dtype=np.float64)[:, None]
    assert m.predict_raw(values)[:, 0].tolist() == list(cases.values())
    (column,) = m._forest.columns
    few = len(column.thresholds) <= lgbm_model._COUNT_RANK_MAX
    assert few == (len(thresholds) == 3)


def _random_forest(rng, n_trees: int, n_leaves: int, n_features: int, thresholds,
                   decision_types=(0, 2, 8, 10)) -> LightGBMModel:
    """A regression forest of leaf-wise trees: each grows by splitting a
    random leaf, on a random feature, at ``thresholds(features)``, with a
    decision type drawn from ``decision_types`` (by default missing type
    None or NaN, either default direction)."""
    trees = []
    for _ in range(n_trees):
        left, right = [], []
        parent = [None]  # per leaf: (node, is_left) it hangs from
        for new_leaf, leaf in enumerate(rng.integers(np.arange(1, n_leaves)), start=1):
            node = len(left)
            if parent[leaf] is not None:
                p, is_left = parent[leaf]
                (left if is_left else right)[p] = node
            left.append(~leaf)
            right.append(~new_leaf)
            parent[leaf] = (node, True)
            parent.append((node, False))
        feature = rng.integers(n_features, size=n_leaves - 1)
        trees.append(Tree(
            num_leaves=n_leaves,
            split_feature=feature,
            threshold=thresholds(feature),
            decision_type=rng.choice(decision_types, size=n_leaves - 1),
            left_child=np.array(left),
            right_child=np.array(right),
            leaf_value=rng.normal(size=n_leaves),
        ))
    return LightGBMModel(num_class=1, num_tree_per_iteration=1,
                         max_feature_idx=n_features - 1, objective="", trees=trees)


def test_large_forest_tables_bounded():
    """2 000 trees x 255 leaves x 100 features, with thresholds on 255 bin
    edges per feature (LightGBM's default ``max_bin``): the block tables
    hold at most (internal nodes + columns + column blocks, the missing
    rows) x ``_BLOCK_BYTES`` bytes, tables and rank maps together stay
    under 200 MB, and rows score bit for bit as the scalar walk."""
    from tests.test_property import scalar_tree_walk

    rng = np.random.default_rng(11)
    n_trees, n_leaves, n_features = 2000, 255, 100
    edges = np.sort(rng.normal(size=(n_features, 255)), axis=1)
    model = _random_forest(rng, n_trees, n_leaves, n_features,
                           lambda f: edges[f, rng.integers(255, size=len(f))])
    rows = rng.normal(size=(4, n_features))
    rows[0, ::3] = np.nan
    rows[1] = edges[:, 100]  # on a threshold of every feature
    got = model.predict_raw(rows)[:, 0]
    forest = model._forest
    assert (forest.words, forest.bits) == (4, 64)
    table_bytes = sum(c.table.nbytes for c in forest.columns)
    map_bytes = sum(c.rows.nbytes for c in forest.columns)
    column_rows = sum(1 + c.rows.shape[1] for c in forest.columns)
    assert table_bytes <= (n_trees * (n_leaves - 1) + column_rows) * lgbm_model._BLOCK_BYTES
    assert table_bytes + map_bytes < 200e6, (table_bytes, map_bytes)
    want = [sum(scalar_tree_walk(t, row) for t in model.trees) for row in rows]
    assert got.tolist() == want


def test_column_past_uint16_table_rows():
    """A column whose table has more than 65 535 rows (300 trees x 255
    leaves on one feature and missing rule, every threshold distinct)
    indexes it through a uint32 rank map and still scores bit for bit."""
    from tests.test_property import scalar_tree_walk

    rng = np.random.default_rng(12)
    model = _random_forest(rng, 300, 255, 1, lambda f: rng.normal(size=len(f)), (0, 2))
    rows = np.array([[np.nan], [-np.inf], [0.0], [0.3], [-1.2], [float(model.trees[7].threshold[3])]])
    got = model.predict_raw(rows)[:, 0]
    (column,) = model._forest.columns
    assert len(column.table) > 2**16 and column.rows.dtype == np.uint32
    want = [sum(scalar_tree_walk(t, row) for t in model.trees) for row in rows]
    assert got.tolist() == want


def _tree_order_sum(trees: list[Tree], row: np.ndarray) -> float:
    """The scalar walk's outputs, added in tree order."""
    from tests.test_property import scalar_tree_walk

    total = 0.0
    for tree in trees:
        total += scalar_tree_walk(tree, row)
    return total


def test_one_column_per_feature_and_missing_type():
    """Numerical nodes share a column per (feature, missing type), whatever
    their default direction: 28 on the seed-7 forest of the ``score_deep``
    benchmark workload."""
    from perfbench.inputs import forest_text, make_forest

    model = parse_model_str(forest_text(make_forest(7)))
    model.predict_raw(np.zeros((1, model.num_features)))
    pairs = {
        (int(f), int(d) >> 2 & 3)
        for t in model.trees
        for f, d in zip(t.split_feature, t.decision_type)
        if not d & 1
    }
    assert len(model._forest.columns) == len(pairs) == 28


_EDGE_THRESHOLDS = [-2.0, -1e-35, -0.0, 0.0, 1e-36, 1e-35, 0.5, 3.0]


def test_missing_rank_rows_across_blocks():
    """Feature 0 split under every missing type and default direction over
    three blocks of trees: block 0 mixes default directions (the missing
    rank gets a row of its own), block 1 has only default-left Zero / NaN
    nodes (row 0) and the partial block 2 only default-right ones (the
    block's last cumulative row).  NaN, signed zeros, values at and near
    kZeroThreshold, infinities and on-threshold values score bit for bit
    as the scalar walk, a row at a time and across a chunk boundary."""
    rng = np.random.default_rng(5)

    def thresholds(f):
        return rng.choice(_EDGE_THRESHOLDS, size=len(f))

    trees = []
    for n_trees, types in ((64, (0, 2, 4, 6, 8, 10)), (64, (0, 2, 6, 10)), (22, (0, 4, 8))):
        trees += _random_forest(rng, n_trees, 8, 1, thresholds, types).trees
    model = LightGBMModel(num_class=1, num_tree_per_iteration=1, max_feature_idx=0,
                          objective="", trees=trees)
    values = [np.nan, 0.0, -0.0, 1e-35, -1e-35, 1e-36, np.inf, -np.inf, 0.25, -5.0]
    rows = np.array(values + _EDGE_THRESHOLDS)[:, None]
    want = [_tree_order_sum(trees, row) for row in rows]
    assert [model.predict_raw(row)[0, 0] for row in rows] == want
    forest = model._forest
    assert forest.mask_words // forest.words == 3 * 64
    _, zero, nan = forest.columns  # feature 0 under None, Zero, NaN
    for column in (zero, nan):
        missing, last = column.rows[-1], column.rows[-2]
        assert missing[1] == 0 and missing[2] == last[2] and missing[0] > last.max()
    n = forest.chunk_rows + 5
    got = model.predict_raw(np.resize(rows, (n, 1)))[:, 0]
    assert got.tolist() == np.resize(want, n).tolist()


def test_float32_input_scores_as_float64():
    """float32 features score bit for bit as the same values in float64:
    the scorer upcasts, exactly, only the features it reads."""
    from lightfusion_spark.ml.fixture import build_quality_cat_model_text

    rng = np.random.default_rng(3)
    models = [parse_model_str(MIXED_CAT_MODEL), parse_model_str(build_quality_cat_model_text()),
              _random_forest(rng, 70, 40, 3, lambda f: rng.normal(size=len(f)),
                             (0, 2, 4, 6, 8, 10))]
    for model in models:
        x = (rng.normal(size=(200, model.num_features)) * 10).astype(np.float32)
        for value in (np.nan, 0.0, -0.0, 1e-36, -1e-36):
            x[rng.random(x.shape) < 0.05] = value
        assert np.array_equal(model.predict_raw(x), model.predict_raw(x.astype(np.float64)))
