"""Property-based tests (hypothesis).

The scorer's packed-forest kernel is checked against an independent
scalar walker implementing the LightGBM decision rules directly — any
vectorization/masking bug shows up as a divergence on some random
forest x row combination (NaN, zeros, boundary values and out-of-range
categories included by construction).
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lightfusion_spark.frontdoor import rewrite_array_literals
from lightfusion_spark.ml.lgbm_model import LightGBMModel, Tree
from lightfusion_spark.operators.dedup import _MINHASH_MOD
from tests.test_scorer import one_tree_model


def scalar_tree_walk(tree: Tree, row: np.ndarray) -> float:
    """Reference implementation: LightGBM NumericalDecision and
    CategoricalDecision, one row."""
    if tree.num_leaves == 1:
        return float(tree.leaf_value[0])
    node = 0
    while node >= 0:
        v = float(row[tree.split_feature[node]])
        dtyp = int(tree.decision_type[node])
        if dtyp & 1:
            # trunc(v) in the bitset goes left; NaN and negatives go right
            go_left = False
            if not math.isnan(v) and int(v) >= 0:
                cat = int(tree.threshold[node])
                start = int(tree.cat_boundaries[cat])
                n_words = int(tree.cat_boundaries[cat + 1]) - start
                word, bit = divmod(int(v), 32)
                go_left = word < n_words and (
                    int(tree.cat_threshold[start + word]) >> bit
                ) & 1 == 1
            node = int(tree.left_child[node] if go_left else tree.right_child[node])
            continue
        missing_type = (dtyp >> 2) & 3
        default_left = bool(dtyp & 2)
        if math.isnan(v) and missing_type != 2:
            v = 0.0
        if (missing_type == 2 and math.isnan(v)) or (
            missing_type == 1 and abs(v) <= 1e-35
        ):
            go_left = default_left
        else:
            go_left = v <= float(tree.threshold[node])
        node = int(tree.left_child[node] if go_left else tree.right_child[node])
    return float(tree.leaf_value[-node - 1])


# Fixed 3-leaf topology (the fixture's): node0 -> (node1 | leaf1),
# node1 -> (leaf0 | leaf2).  Randomized: features, thresholds, decision
# types (numerical only: bit0 clear), leaf values.
feature_values = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.just(0.0),
    st.just(float("nan")),
    st.floats(min_value=-1.0, max_value=1.0),
)


@st.composite
def tree_and_rows(draw):
    n_features = draw(st.integers(2, 5))
    thresholds = draw(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=2, max_size=2
        )
    )
    decision_types = draw(
        st.lists(st.sampled_from([0, 2, 4, 6, 8, 10]), min_size=2, max_size=2)
    )
    tree = Tree(
        num_leaves=3,
        split_feature=np.array(
            draw(st.lists(st.integers(0, n_features - 1), min_size=2, max_size=2)),
            dtype=np.int64,
        ),
        threshold=np.array(thresholds, dtype=np.float64),
        decision_type=np.array(decision_types, dtype=np.int64),
        left_child=np.array([1, -1], dtype=np.int64),
        right_child=np.array([-2, -3], dtype=np.int64),
        leaf_value=np.array(
            draw(
                st.lists(
                    st.floats(min_value=-5, max_value=5, allow_nan=False),
                    min_size=3,
                    max_size=3,
                )
            ),
            dtype=np.float64,
        ),
    )
    n_rows = draw(st.integers(1, 8))
    rows = np.array(
        [
            [draw(feature_values) for _ in range(n_features)]
            for _ in range(n_rows)
        ],
        dtype=np.float64,
    )
    return tree, rows


@given(tree_and_rows())
@settings(max_examples=200, deadline=None)
def test_vectorized_traversal_matches_scalar_walk(tr):
    tree, rows = tr
    got = one_tree_model(tree, rows.shape[1]).predict_raw(rows)[:, 0]
    expected = [scalar_tree_walk(tree, row) for row in rows]
    assert got.tolist() == expected


# Leaf-wise forests: each tree grows by splitting a random leaf, up to
# 130 leaves (masks of uint32 up to 32 leaves, uint64 up to 64, several
# uint64 words past that), with numerical nodes under every missing type x
# default direction and categorical nodes with bitsets of one to three
# words.  A tree is built from a drawn seed: hypothesis's buffer cannot
# hold a 130-leaf tree drawn node by node.
_THRESHOLDS = [-1.5, -0.0, 0.0, 1e-36, 0.5, 2.0, 33.0]


@st.composite
def leafwise_trees(draw, n_features):
    n_leaves = draw(st.integers(1, 130))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    feature, threshold, dtype, left, right = [], [], [], [], []
    bounds, words = [0], []
    parent = [None]  # per leaf: (node, is_left) it hangs from
    for new_leaf in range(1, n_leaves):
        leaf = int(rng.integers(new_leaf))
        node = len(feature)
        if parent[leaf] is not None:
            p, is_left = parent[leaf]
            (left if is_left else right)[p] = node
        left.append(~leaf)
        right.append(~new_leaf)
        parent[leaf] = (node, True)
        parent.append((node, False))
        feature.append(int(rng.integers(n_features)))
        # missing type (bits 2-3) and default-left (bit 1) are drawn for
        # categorical nodes too, where the decision must ignore them
        flags = int(rng.integers(3)) << 2 | int(rng.integers(2)) << 1
        if rng.random() < 0.5:
            threshold.append(float(len(bounds) - 1))
            words += rng.integers(0, 2**32, int(rng.integers(1, 4))).tolist()
            bounds.append(len(words))
            dtype.append(flags | 1)
        else:
            threshold.append(
                float(rng.choice(_THRESHOLDS)) if rng.random() < 0.5 else rng.uniform(-10, 10)
            )
            dtype.append(flags)
    has_cat = len(bounds) > 1
    return Tree(
        num_leaves=n_leaves,
        split_feature=np.array(feature, dtype=np.int64),
        threshold=np.array(threshold, dtype=np.float64),
        decision_type=np.array(dtype, dtype=np.int64),
        left_child=np.array(left, dtype=np.int64),
        right_child=np.array(right, dtype=np.int64),
        leaf_value=rng.uniform(-5, 5, n_leaves),
        cat_boundaries=np.array(bounds, dtype=np.int64) if has_cat else None,
        cat_threshold=np.array(words, dtype=np.int64) if has_cat else None,
    )


@st.composite
def forest_and_rows(draw):
    n_features = draw(st.integers(1, 5))
    num_class = draw(st.sampled_from([1, 3]))
    n_iter = draw(st.integers(1, 3))
    trees = [draw(leafwise_trees(n_features)) for _ in range(num_class * n_iter)]
    # 70 copies: more trees than one block (64 at most), and a partial last one
    trees *= draw(st.sampled_from([1, 70]))
    model = LightGBMModel(
        num_class=num_class,
        num_tree_per_iteration=num_class,
        max_feature_idx=n_features - 1,
        objective="",
        trees=trees,
    )
    on_threshold = [float(x) for t in trees for x in t.threshold] or [0.5]
    value = st.one_of(
        st.sampled_from([float("nan"), 0.0, -0.0, 1e-40, 1e-35, -1e-35, -1e-34]),
        st.sampled_from(on_threshold),
        # categories: negative, fractional, past a three-word bitset
        st.sampled_from([-3.0, -0.5, 2.7, 31.0, 32.0, 95.0, 96.0, 1000.0]),
        st.floats(min_value=-50, max_value=50),
    )
    pool = np.array(
        draw(st.lists(
            st.lists(value, min_size=n_features, max_size=n_features),
            min_size=1, max_size=7,
        )),
        dtype=np.float64,
    )
    return model, pool


@given(forest_and_rows())
@settings(max_examples=100, deadline=None)
def test_packed_forest_matches_scalar_walk(mr):
    """``predict_raw`` == the per-class sum, in tree order, of the scalar
    walk, bit for bit; at 1 row, at 64 rows and past a chunk boundary
    (rows tile a small pool, so chunks see rows at every offset)."""
    model, pool = mr
    k = model.n_outputs
    expected = np.zeros((len(pool), k))
    for r, row in enumerate(pool):
        walks = {}  # the copies of a tree are one object
        for t, tree in enumerate(model.trees):
            if id(tree) not in walks:
                walks[id(tree)] = scalar_tree_walk(tree, row)
            expected[r, t % k] += walks[id(tree)]
    model.predict_raw(pool)  # packs the forest, which sets the chunk size
    for n_rows in (1, 64, model._forest.chunk_rows + 3):
        got = model.predict_raw(np.resize(pool, (n_rows, pool.shape[1])))
        want = np.resize(expected, (n_rows, k))
        assert (got == want).all(), (n_rows, np.argwhere(got != want)[:3])


@given(st.integers(0, 2**56 - 1), st.integers(0, 7))
def test_minhash_family_never_overflows_int64(h, k):
    v = (2 * k + 3) * h + k * 1000003
    assert 0 <= v < 2**63  # ANSI-mode bigint arithmetic cannot overflow
    assert 0 <= v % _MINHASH_MOD < _MINHASH_MOD


@given(st.text(alphabet=st.characters(blacklist_characters="[]'\"`"), max_size=80))
def test_rewrite_is_identity_without_brackets(s):
    assert rewrite_array_literals(s) == s


@given(st.lists(st.integers(-99, 99), min_size=1, max_size=5))
def test_rewrite_converts_numeric_literals(xs):
    lit = "[" + ", ".join(map(str, xs)) + "]"
    assert rewrite_array_literals(f"SELECT {lit}") == (
        "SELECT array(" + ", ".join(map(str, xs)) + ")"
    )


@given(st.text(alphabet="abc123,.' ", max_size=40))
def test_rewrite_never_touches_quoted_text(s):
    quoted = "'" + s.replace("'", "") + "'"
    assert rewrite_array_literals(f"SELECT {quoted}") == f"SELECT {quoted}"


@st.composite
def random_model_and_rows(draw):
    from lightfusion_spark.ml.fixture import TREE_TMPL, HEADER_TMPL
    from lightfusion_spark.ml.lgbm_model import parse_model_str

    num_class = draw(st.integers(2, 4))
    n_features = draw(st.integers(2, 6))
    n_iter = draw(st.integers(1, 2))
    parts = [
        HEADER_TMPL.format(
            num_class=num_class,
            max_feature_idx=n_features - 1,
            feature_names=" ".join(f"Column_{i}" for i in range(n_features)),
            feature_infos=" ".join("[-5:5]" for _ in range(n_features)),
        )
    ]
    idx = 0
    finite = st.floats(min_value=-4, max_value=4, allow_nan=False).map(lambda v: round(v, 3))
    # LightGBM's missing values and the values around zero they hinge on
    near_zero = st.sampled_from([0.0, -0.0, 1e-36, -1e-36, 1e-35, -1e-34])
    threshold = st.one_of(finite, near_zero)
    value = st.one_of(finite, near_zero, st.just(float("nan")))
    # numerical, missing type None / Zero / NaN, either default direction
    decision_type = st.sampled_from([0, 2, 4, 6, 8, 10])
    tmpl = TREE_TMPL.replace("decision_type=2 2", "decision_type={d0} {d1}")
    for _ in range(n_iter * num_class):
        parts.append(
            tmpl.format(
                idx=idx,
                f0=draw(st.integers(0, n_features - 1)),
                f1=draw(st.integers(0, n_features - 1)),
                t0=draw(threshold),
                t1=draw(threshold),
                d0=draw(decision_type),
                d1=draw(decision_type),
                l0=draw(finite),
                l1=draw(finite),
                l2=draw(finite),
            )
        )
        idx += 1
    parts.append("end of trees\n")
    model = parse_model_str("\n".join(parts))
    n_rows = draw(st.integers(1, 5))
    rows = np.array(
        [[draw(value) for _ in range(n_features)] for _ in range(n_rows)],
        dtype=np.float64,
    )
    return model, rows


@given(random_model_and_rows())
@settings(max_examples=25, deadline=None)
def test_model_to_sql_compiler_matches_scorer(mr):
    """The oracle generator (model compiled to SQL CASE trees) must agree
    with the NumPy scorer on random models, missing-value routing included
    — executed through DuckDB."""
    import duckdb

    from lightfusion_spark.corpus.mlqueries import model_class_scores_sql

    model, rows = mr
    feat_ref = lambda f: f"f{f}"  # noqa: E731
    score_exprs = model_class_scores_sql(model, feat_ref)
    con = duckdb.connect()
    expected = model.predict_raw(rows)
    # bind features and results as DOUBLE: bare numeric literals parse as
    # DECIMAL in DuckDB (real oracles always mix with DOUBLE columns), and
    # a bound parameter keeps NaN and -0.0
    binds = ", ".join(f"CAST(? AS DOUBLE) AS f{i}" for i in range(rows.shape[1]))
    sql = "SELECT " + ", ".join(
        f"CAST({s} AS DOUBLE) AS s{c}" for c, s in enumerate(score_exprs)
    ) + f" FROM (SELECT {binds})"
    for r_idx, row in enumerate(rows):
        got = con.execute(sql, row.tolist()).fetchone()
        assert list(got) == expected[r_idx].tolist()


# ---------------------------------------------------------------------------
# Byte-level BPE: operator encoder vs the independent rank-order encoder
# ---------------------------------------------------------------------------

_BPE_FIXTURES = {}


def _bpe_fixture():
    """Tokenizer + reference closure over the committed merges (cached —
    hypothesis calls the test body many times)."""
    if not _BPE_FIXTURES:
        import os
        import sys

        from lightfusion_spark.operators.tokenize import (
            BPETokenizer,
            DEFAULT_MERGES_PATH,
            parse_merges,
        )

        sys.path.insert(
            0,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
            ),
        )
        from gen_bpe_fixture import reference_encode

        with open(DEFAULT_MERGES_PATH, "r", encoding="utf-8") as fh:
            merges = parse_merges(fh.read())
        _BPE_FIXTURES["tok"] = BPETokenizer(merges)
        _BPE_FIXTURES["ref"] = lambda t: reference_encode(t, merges)
        _BPE_FIXTURES["inv_vocab"] = {
            i: s for s, i in _BPE_FIXTURES["tok"].vocab.items()
        }
        _BPE_FIXTURES["inv_bytes"] = {
            c: b for b, c in _BPE_FIXTURES["tok"].byte_enc.items()
        }
    return _BPE_FIXTURES


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_bpe_encoders_agree_and_round_trip(text):
    """For ARBITRARY unicode text: (1) the min-rank iterative encoder and
    the independent rank-order encoder agree; (2) decoding the ids through
    the derived vocab reproduces the input bytes exactly (no text is ever
    lost or altered by tokenization — the byte-level BPE contract)."""
    fx = _bpe_fixture()
    ids = fx["tok"].encode(text)
    assert ids == fx["ref"](text)
    decoded = bytes(
        fx["inv_bytes"][ch] for i in ids for ch in fx["inv_vocab"][i]
    ).decode("utf-8")
    assert decoded == text


# ---------------------------------------------------------------------------
# URL canonicalization properties (round 7): idempotence is the defining
# contract of a canonicalizer — canon(canon(u)) == canon(u) for ANY absolute
# URL, else dedup keys depend on how many times a pipeline stage ran.
# ---------------------------------------------------------------------------

_URL_SAFE = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="-._~"
    ),
    min_size=0,
    max_size=8,
)


@st.composite
def absolute_urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTPS", "ftp", "Http"]))
    host = draw(
        st.lists(_URL_SAFE.filter(bool), min_size=1, max_size=3).map(".".join)
    )
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(st.sampled_from(["", "/", "/a", "/A/b.html"]))
    params = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["utm_source", "gclid", "id", "z", "Q"]), _URL_SAFE
            ),
            max_size=3,
        )
    )
    query = "&".join(f"{k}={v}" for k, v in params)
    frag = draw(st.sampled_from(["", "#x", "#frag-1"]))
    return f"{scheme}://{host}{port}{path}" + (f"?{query}" if query else "") + frag


@given(st.lists(absolute_urls(), min_size=1, max_size=8, unique=True))
@settings(max_examples=25, deadline=None)
def test_canonicalize_url_idempotent(spark, urls):
    from pyspark.sql import functions as F

    from lightfusion_spark.operators.urltools import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select(
        canonicalize_url("u").alias("once"),
        canonicalize_url(canonicalize_url("u")).alias("twice"),
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"], r


@given(
    st.lists(
        st.text(alphabet="ab cd.", min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    ),
    st.integers(1, 12),
)
@settings(max_examples=40, deadline=None)
def test_independent_bpe_trainers_agree(texts, n_merges):
    """tools/gen_bpe_fixture.reference_train shares no code with the
    production trainer's _greedy_merges loop — the property the
    pipe_bpe_train oracle rests on is that the two implementations emit
    IDENTICAL ranked merges for any corpus (at min_count=1, where
    train_bpe's counting matches)."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from gen_bpe_fixture import reference_train
    from lightfusion_spark.operators.tokenize import train_bpe

    assert reference_train(texts, n_merges, 1) == train_bpe(texts, n_merges)


@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_round6_matches_duckdb_round(x):
    """operators/pca._round6 claims Spark/DuckDB ROUND semantics
    (half away from zero) — the assumption the PCA power-iteration
    oracle's hash-exactness rests on.  Pin it against DuckDB itself."""
    import duckdb

    from lightfusion_spark.operators.pca import _round6

    got = duckdb.sql(f"SELECT ROUND(CAST({x!r} AS DOUBLE), 6)").fetchone()[0]
    assert _round6(x) == got, (x, _round6(x), got)


@given(st.text(max_size=60).filter(lambda s: "\x00" not in s))
@settings(max_examples=150, deadline=None)
def test_normalize_unicode_core_matches_duckdb(s):
    """The cross-engine assumption pipe_normalize_unicode rests on:
    stdlib unicodedata NFC + C0/C1-control translate == DuckDB
    nfc_normalize + codepoint-class regexp_replace, for arbitrary
    NUL-FREE text (hypothesis found the boundary: DuckDB's
    nfc_normalize truncates at an embedded NUL iff non-ASCII content
    follows it — utf8proc's C-string path — while Python keeps the
    tail; pinned separately below.  The corpus and the face's suffix
    are NUL-free, so the registered oracle sits inside the valid
    region)."""
    import unicodedata

    import duckdb

    ctrl = dict.fromkeys(
        c
        for c in list(range(0x00, 0x20)) + list(range(0x7F, 0xA0))
        if c not in (0x09, 0x0A)
    )
    py = unicodedata.normalize("NFC", s).translate(ctrl)
    got = duckdb.execute(
        r"SELECT regexp_replace(nfc_normalize(?),"
        r" '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g')",
        [s],
    ).fetchone()[0]
    assert py == got, (s, py, got)


@given(
    st.text(
        alphabet="AB ab12.!?\"'()[] \t",
        max_size=80,
    )
)
@settings(max_examples=150, deadline=None)
def test_sentence_boundary_emulation_matches_lookaround_split(s):
    """pipe_sentence_chunks' oracle emulates the Java lookbehind/
    lookahead boundary split in RE2 (no lookarounds) by rewriting each
    boundary's whitespace to a chr(1) sentinel.  Property-pin the
    equivalence on arbitrary text over the full punctuation alphabet
    (the `regex` module supports the variable-length lookbehind Java
    does; stdlib `re` does not)."""
    import duckdb

    regex = pytest.importorskip(
        "regex"
    )  # stdlib re lacks variable-length lookbehind; not a baked-in dep

    java_like = regex.split(
        r"""(?<=[.!?][\)\]"']?)\s+(?=["'\(\[]?[A-Z0-9])""", s
    )
    duck = duckdb.execute(
        r"""SELECT string_split(
              regexp_replace(?,
                '([.!?][\)\]"'']?)\s+(["''\(\[]?[A-Z0-9])',
                '\1' || chr(1) || '\2', 'g'),
              chr(1))""",
        [s],
    ).fetchone()[0]
    assert java_like == duck, (s, java_like, duck)


def test_duckdb_nfc_normalize_truncates_at_nul_before_non_ascii():
    """Pin the engine-difference the property test above excludes, so a
    future DuckDB that fixes it flips THIS test instead of silently
    widening the oracle's valid region: nfc_normalize('\x00' + non-ASCII)
    returns '' (truncation at the NUL), while pure-ASCII tails survive
    and Python's unicodedata keeps everything."""
    import unicodedata

    import duckdb

    assert duckdb.execute(
        "SELECT nfc_normalize(?)", ["\x00\xa0"]
    ).fetchone()[0] == ""
    assert duckdb.execute(
        "SELECT nfc_normalize(?)", ["\x00abc"]
    ).fetchone()[0] == "\x00abc"
    assert unicodedata.normalize("NFC", "\x00\xa0") == "\x00\xa0"
